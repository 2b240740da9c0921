"""Seeded input generators for the lifecycle benchmark.

Every table is built with numpy from one ``numpy.random.Generator`` and
written with pyarrow, so the same seed gives byte-identical inputs and no
Spark job runs during generation. Schemas follow the repository's
TPC-H-shaped test tables (``region`` .. ``lineitem``, ``events``). Keys
the workloads merge on are unique by construction:
``orders.o_orderkey``, ``events.event_id`` and
``(lineitem.l_orderkey, l_linenumber)``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RELATIONAL = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
PART_WORDS = np.array(["small", "red", "large", "blue", "ring", "widget",
                       "bolt", "gear"])
PART_TYPES = np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"])

_US_PER_DAY = 86_400_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def write_table(root: str, name: str, table: pa.Table) -> str:
    """Write ``table`` as ``<root>/<name>.parquet`` (the test-data layout
    ``ParquetSource`` reads) and return the path."""
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"{name}.parquet")
    pq.write_table(table, path)
    return path


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def relational_tables(rng: np.random.Generator, sf: float) -> dict:
    """The eight relational tables at scale factor ``sf`` (sf 0.1 is
    150k orders, 600k lineitems, 100k events)."""
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
    }
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    w = PART_WORDS[rng.integers(0, len(PART_WORDS), (n_part, 2))]
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(w[:, 0], " "), w[:, 1]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, n_part, 900.0, 2100.0),
    })
    out["orders"] = orders_table(rng, n_ord, n_cust)
    # 1..7 lines per order, numbered 1..n within the order: the pair
    # (l_orderkey, l_linenumber) is a real key
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = np.arange(n_li) - starts + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1992 + rng.integers(0, 3650, n_li) * _US_PER_DAY),
    })
    out["events"] = events_table(rng, np.arange(n_ev, dtype=np.int64))
    return out


def orders_table(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n_cust, n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 800.0, 500_000.0),
        "o_orderdate": _ts(_EPOCH_1992 + rng.integers(0, 2400, n) * _US_PER_DAY),
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), n)],
    })


def events_table(rng: np.random.Generator, ids: np.ndarray) -> pa.Table:
    n = len(ids)
    return pa.table({
        "event_id": ids.astype(np.int64),
        "ts": _ts(_EPOCH_2024 + rng.integers(0, 90 * _US_PER_DAY, n)),
        "user_id": rng.integers(0, 5_000, n),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": _money(rng, n, 0.0, 500.0),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
        ),
    })


# --- incremental sync: orders snapshots past a moving watermark -----------


class OrdersHistory:
    """Successive source snapshots of ``orders`` for the watermark sync.

    Each :meth:`advance` updates 1 % of the keys and inserts 0.5 % new
    ones, all stamped one day past the current maximum ``o_orderdate`` —
    always past the target's watermark, so a ``>=``-watermark delta load
    picks up exactly the changed rows (plus the boundary day's rows, which
    the key merge absorbs)."""

    UPDATE_SHARE = 0.01
    INSERT_SHARE = 0.005

    def __init__(self, rng: np.random.Generator, n: int, n_cust: int):
        self.rng = rng
        self.n_cust = n_cust
        self.table = orders_table(rng, n, n_cust)

    def advance(self) -> int:
        """Apply one epoch of changes; returns the number of changed rows."""
        rng, t = self.rng, self.table
        n = t.num_rows
        n_upd = int(n * self.UPDATE_SHARE)
        n_ins = int(n * self.INSERT_SHARE)
        cols = {c: t.column(c).to_numpy(zero_copy_only=False).copy()
                for c in t.column_names}
        dates = cols["o_orderdate"].astype(np.int64)
        day = dates.max() + _US_PER_DAY
        idx = rng.choice(n, n_upd, replace=False)
        cols["o_totalprice"][idx] = _money(rng, n_upd, 800.0, 500_000.0)
        cols["o_orderstatus"][idx] = "F"
        dates[idx] = day
        cols["o_orderdate"] = _ts(dates)
        new = (
            orders_table(rng, n_ins, self.n_cust)
            .set_column(0, "o_orderkey", pa.array(np.arange(n, n + n_ins)))
            .set_column(4, "o_orderdate", _ts(np.full(n_ins, day)))
        )
        self.table = pa.concat_tables([pa.table(cols, schema=t.schema), new])
        return n_upd + n_ins


# --- CDC: op-coded feeds over events.event_id ------------------------------


class EventFeed:
    """Op-coded (I/U/D) change feeds over ``events`` keyed on
    ``event_id``. :meth:`bootstrap` inserts ``n`` keys; each :meth:`next`
    touches 1 % of the live keys: updates (a quarter of them twice in one
    feed, so last-``seq``-wins matters), deletes, and inserts of fresh
    ids. ``seq`` grows across feeds."""

    SHARE = 0.01

    def __init__(self, rng: np.random.Generator, n: int):
        self.rng = rng
        self.live = np.arange(n, dtype=np.int64)
        self.next_id = n
        self.seq = 0

    def _feed(self, ids: np.ndarray, ops: np.ndarray) -> pa.Table:
        t = events_table(self.rng, ids)
        seq = np.arange(self.seq + 1, self.seq + 1 + len(ids), dtype=np.int64)
        self.seq += len(ids)
        return t.append_column("seq", pa.array(seq)).append_column(
            "op", pa.array(ops)
        )

    def bootstrap(self) -> pa.Table:
        return self._feed(self.live, np.full(len(self.live), "I"))

    def next(self) -> pa.Table:
        rng = self.rng
        m = int(len(self.live) * self.SHARE)
        n_upd, n_del = m * 6 // 10, m * 2 // 10
        n_ins = m - n_upd - n_del
        pick = rng.choice(len(self.live), n_upd + n_del, replace=False)
        upd, dele = self.live[pick[:n_upd]], self.live[pick[n_upd:]]
        ins = np.arange(self.next_id, self.next_id + n_ins, dtype=np.int64)
        self.next_id += n_ins
        twice = upd[: n_upd // 4]
        ids = np.concatenate([ins, upd, dele, twice])
        ops = np.concatenate([
            np.full(n_ins, "I"), np.full(n_upd, "U"), np.full(n_del, "D"),
            np.full(len(twice), "U"),
        ])
        # shuffled, with the repeated updates last so they win on seq
        once = len(ids) - len(twice)
        order = np.concatenate([rng.permutation(once),
                                np.arange(once, len(ids))])
        keep = np.ones(len(self.live), bool)
        keep[pick[n_upd:]] = False
        self.live = np.concatenate([self.live[keep], ins])
        return self._feed(ids[order], ops[order])


# --- crawl dedup: a document store and batches with planted copies ---------


class DocStream:
    """A seeded crawl over ``documents`` (``doc_id``, ``text``). The store
    holds ``n`` distinct documents of random words; each :meth:`batch`
    holds fresh documents plus planted exact copies and near copies (one
    word appended) of store documents. Fresh ids continue past every id
    handed out so far."""

    VOCAB = 4096

    def __init__(self, rng: np.random.Generator, n: int):
        self.rng = rng
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = rng.integers(4, 10, self.VOCAB)
        self.words = np.array(
            ["".join(letters[rng.integers(0, 26, k)]) for k in lens]
        )
        self.store_ids = np.arange(n, dtype=np.int64)
        self.store_text = self._texts(n)
        self.next_id = n

    def _texts(self, n: int) -> list:
        lens = self.rng.integers(40, 120, n)
        return [" ".join(self.words[self.rng.integers(0, self.VOCAB, k)])
                for k in lens]

    def store(self) -> pa.Table:
        return pa.table({"doc_id": self.store_ids,
                         "text": pa.array(self.store_text)})

    def batch(self, n_fresh: int, n_exact: int, n_near: int) -> tuple:
        """(table, {batch id: origin store id} of the exact copies)."""
        rng = self.rng
        origin = rng.choice(len(self.store_ids), n_exact + n_near,
                            replace=False)
        ids = np.arange(self.next_id, self.next_id + n_fresh + n_exact + n_near,
                        dtype=np.int64)
        self.next_id += len(ids)
        extra = self.words[rng.integers(0, self.VOCAB, n_near)]
        texts = (
            self._texts(n_fresh)
            + [self.store_text[j] for j in origin[:n_exact]]
            + [f"{self.store_text[j]} {w}"
               for j, w in zip(origin[n_exact:], extra)]
        )
        exact = dict(zip(ids[n_fresh:n_fresh + n_exact].tolist(),
                         self.store_ids[origin[:n_exact]].tolist()))
        order = rng.permutation(len(ids))
        table = pa.table({"doc_id": ids[order],
                          "text": pa.array([texts[j] for j in order])})
        return table, exact
