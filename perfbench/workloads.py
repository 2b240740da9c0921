"""The benchmark's workloads: one closed-loop client driving the CLI routes.

Each workload builds its inputs from the seed before timing, runs one
timed *unit* (a migrate lap, a sync epoch) per call, and checks every
unit's output against a reference that is not the code under test
(DuckDB over the same parquet files, and the unindexed dedup for the
indexed one), outside the timed region.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.parquet as pq

import gen


def _except_all(left: str, right: str) -> int:
    """Rows in either relation that the other lacks, multiplicity-aware."""
    return duckdb.sql(
        f"SELECT (SELECT count(*) FROM ({left} EXCEPT ALL {right})) + "
        f"(SELECT count(*) FROM ({right} EXCEPT ALL {left}))"
    ).fetchone()[0]


def _pq(path: str, cols: str = "*") -> str:
    if os.path.isdir(path):
        path = os.path.join(path, "**", "*.parquet")
    return f"SELECT {cols} FROM read_parquet('{path}', hive_partitioning = false)"


def _link_tree(src: str, dst: str) -> None:
    """Fresh path, same bytes: hard links where the filesystem allows."""
    os.makedirs(dst)
    for f in os.listdir(src):
        try:
            os.link(os.path.join(src, f), os.path.join(dst, f))
        except OSError:
            shutil.copy2(os.path.join(src, f), os.path.join(dst, f))


class Migrate:
    """Each lap runs ``plan`` then ``migrate`` (copy plus the metric check)
    over the eight relational tables, from a fresh source path into a
    fresh target, after ``clearCache`` — so no cached relation and no
    path-keyed memo of an earlier lap can serve it."""

    unit = "lap"
    SF = 0.01

    def __init__(self, ctx):
        self.ctx = ctx
        self.master = os.path.join(ctx.work, "master")
        tables = gen.relational_tables(ctx.rng, self.SF)
        for name in gen.RELATIONAL:
            gen.write_table(self.master, name, tables[name])
        self.rows_per_lap = sum(tables[n].num_rows for n in gen.RELATIONAL)

    def warm_up(self) -> None:
        """JIT warm-up on two tables that between them hold every column
        type of the eight: most of a full lap's benefit at a third of its
        cost."""
        self.prepare("warm")
        src, tables = self._src("warm"), "nation,lineitem"
        rcs = [
            self.ctx.route(["plan", "--source", src, "--tables", tables]),
            self.ctx.route(["migrate", "--source", src, "--tables", tables,
                            "--dest", self._dest("warm")]),
        ]
        self.cleanup("warm")
        if any(rcs):
            raise RuntimeError(f"warm-up lap failed: rc {rcs}")

    def prepare(self, i) -> None:
        _link_tree(self.master, self._src(i))

    def _src(self, i) -> str:
        return os.path.join(self.ctx.work, f"src_{i}")

    def _dest(self, i) -> str:
        return os.path.join(self.ctx.work, f"dest_{i}")

    def run(self, i) -> list:
        self.ctx.spark.catalog.clearCache()
        src = self._src(i)
        return [
            self.ctx.route(["plan", "--source", src]),
            self.ctx.route(["migrate", "--source", src,
                            "--dest", self._dest(i)]),
        ]

    def changes(self, i) -> int:
        return self.rows_per_lap

    def check(self, i) -> list:
        bad = []
        for name in gen.RELATIONAL:
            diff = _except_all(
                _pq(os.path.join(self.master, f"{name}.parquet")),
                _pq(os.path.join(self._dest(i), name)),
            )
            if diff:
                bad.append(f"lap {i}: {name} differs in {diff} rows")
        return bad

    def cleanup(self, i) -> None:
        shutil.rmtree(self._src(i), ignore_errors=True)
        shutil.rmtree(self._dest(i), ignore_errors=True)


class SyncEpochs:
    """Long-lived stores kept fresh from changing sources. Each epoch runs
    ``sync`` of ``orders`` (watermark + merge, validated), ``cdc
    --partitions 16`` of an I/U/D feed over ``events`` and ``dedup probe
    --apply-new`` of a crawl batch against a fingerprint index. Nothing is
    cleared between epochs: a long-lived caller cannot clear either."""

    unit = "epoch"
    ORDERS = 150_000
    EVENTS = 100_000
    PARTITIONS = "16"
    STORE_DOCS = 2_000
    # a crawl batch: fresh documents plus planted exact and near copies;
    # near copies give the probe's LSH join real candidates, but a minhash
    # estimate may miss one, so only the exact copies are checked
    FRESH, EXACT, NEAR = 100, 5, 5

    def __init__(self, ctx):
        self.ctx = ctx
        w = ctx.work
        self.target = os.path.join(w, "target")
        self.cdc_target = os.path.join(w, "cdc_target")
        self.index = os.path.join(w, "index")
        self.store = os.path.join(w, "store")
        self.orders = gen.OrdersHistory(ctx.rng, self.ORDERS, self.ORDERS // 10)
        self.feed = gen.EventFeed(ctx.rng, self.EVENTS)
        self.docs = gen.DocStream(ctx.rng, self.STORE_DOCS)
        self.feeds: list = []
        self.changed: dict = {}
        self.planted: dict = {}
        # (parquet files, bytes) of the index as each epoch's probe finds it
        self.index_at_probe: dict = {}
        # the target starts as a finished bulk copy of the first snapshot
        os.makedirs(os.path.join(self.target, "orders"))
        pq.write_table(self.orders.table,
                       os.path.join(self.target, "orders", "part-0.parquet"))
        boot = os.path.join(w, "feed_boot")
        gen.write_table(boot, "events", self.feed.bootstrap())
        self.feeds.append(os.path.join(boot, "events.parquet"))
        gen.write_table(self.store, "documents", self.docs.store())
        for argv in (
            ["cdc", "--events", boot, "--target", self.cdc_target,
             "--keys", "event_id", "--partitions", self.PARTITIONS],
            ["dedup", "build", "--index", self.index, "--corpus", self.store],
        ):
            rc = ctx.route(argv)
            if rc != 0:
                raise RuntimeError(f"{argv[:2]} set-up failed with rc {rc}")

    def warm_up(self) -> None:
        """Nothing past set-up: the CDC bootstrap warmed ``cdc`` and the
        index build most of ``dedup``; a separate ``sync`` warm-up would
        not fit the run-time budget, so the epoch's ``sync`` runs cold."""

    def prepare(self, i) -> None:
        w = self.ctx.work
        n = self.orders.advance()
        gen.write_table(os.path.join(w, f"source_{i}"), "orders",
                        self.orders.table)
        feed = self.feed.next()
        gen.write_table(os.path.join(w, f"feed_{i}"), "events", feed)
        self.feeds.append(os.path.join(w, f"feed_{i}", "events.parquet"))
        self.changed[i] = n + feed.num_rows
        batch, self.planted[i] = self.docs.batch(self.FRESH, self.EXACT,
                                                 self.NEAR)
        gen.write_table(self._batch(i), "documents", batch)
        self.index_at_probe[i] = _parquet_files(self.index)

    def run(self, i) -> list:
        w = self.ctx.work
        return [
            self.ctx.route(self._sync_argv(os.path.join(w, f"source_{i}"))),
            self.ctx.route(["cdc", "--events", os.path.join(w, f"feed_{i}"),
                            "--target", self.cdc_target, "--keys", "event_id",
                            "--partitions", self.PARTITIONS]),
            self.ctx.route(self._probe_argv(i)),
        ]

    def _sync_argv(self, source: str) -> list:
        return ["sync", "--source", source, "--target", self.target,
                "--table", "orders", "--keys", "o_orderkey",
                "--delta-col", "o_orderdate"]

    def _batch(self, i) -> str:
        return os.path.join(self.ctx.work, f"batch_{i}")

    def _decisions(self, i) -> str:
        return os.path.join(self.ctx.work, f"decisions_{i}")

    def _probe_argv(self, i) -> list:
        return ["dedup", "probe", "--index", self.index,
                "--corpus", self._batch(i), "--apply-new",
                "--out", self._decisions(i)]

    def changes(self, i) -> int:
        """Change events applied plus documents probed."""
        return self.changed[i] + self.FRESH + self.EXACT + self.NEAR

    def io_changes(self, i) -> int:
        """The change events ``functions/io.py`` publishes."""
        return self.changed[i]

    def _orders_diff(self, i) -> int:
        return _except_all(
            _pq(os.path.join(self.ctx.work, f"source_{i}", "orders.parquet")),
            _pq(os.path.join(self.target, "orders")),
        )

    def _probe_check(self, i) -> list:
        """Every planted exact copy is ``exact_dup`` of its origin, and the
        batch has one decision per document."""
        got = {doc: (status, match) for doc, status, match in duckdb.sql(
            f"SELECT id, status, match_id FROM "
            f"read_parquet('{self._decisions(i)}/*.parquet')"
        ).fetchall()}
        bad = []
        n = self.FRESH + self.EXACT + self.NEAR
        if len(got) != n:
            bad.append(f"batch {i}: {len(got)} decisions for {n} documents")
        for doc, origin in self.planted[i].items():
            if got.get(doc) != ("exact_dup", origin):
                bad.append(f"batch {i}: exact copy {doc} of {origin} came "
                           f"back {got.get(doc)}")
        return bad

    def _parity(self, i) -> list:
        """The indexed probe's decisions against the unindexed
        ``incremental_dedup`` of the same batch and store, which promises
        identical output. The store is the built corpus, so this holds for
        the first batch only, before any ``--apply-new``. Nothing is
        persisted, so no cache entry stays."""
        from database_migration_spark.operators.dedup import (
            fingerprint_store,
            incremental_dedup,
        )

        spark = self.ctx.spark

        def fp(root):
            df = spark.read.parquet(os.path.join(root, "documents.parquet"))
            return fingerprint_store(df, persist=False)

        ref = incremental_dedup(fp(self._batch(i)), fp(self.store),
                                persist_inputs=False)
        want = {tuple(r) for r in ref.select("id", "status", "match_id")
                .collect()}
        got = set(duckdb.sql(
            f"SELECT id, status, match_id FROM "
            f"read_parquet('{self._decisions(i)}/*.parquet')"
        ).fetchall())
        if got != want:
            return [f"batch {i}: indexed probe differs from the unindexed "
                    f"dedup in {len(got ^ want)} decisions"]
        return []

    def check(self, i) -> list:
        bad = []
        diff = self._orders_diff(i)
        if diff:
            bad.append(f"epoch {i}: orders target differs from the snapshot "
                       f"in {diff} rows")
        cols = "event_id, ts, user_id, event_type, value, props"
        feeds = ", ".join(f"'{p}'" for p in self.feeds)
        fold = (
            f"SELECT {cols} FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY event_id ORDER BY seq DESC) AS rn "
            f"FROM read_parquet([{feeds}])) WHERE rn = 1 AND op <> 'D'"
        )
        diff = _except_all(fold, _pq(self.cdc_target, cols))
        if diff:
            bad.append(f"epoch {i}: cdc target differs from the fold of "
                       f"{len(self.feeds)} feeds in {diff} rows")
        bad += self._probe_check(i)
        return bad + self._parity(i) if i == 0 else bad

    def cleanup(self, i) -> None:
        for d in (f"source_{i}", f"batch_{i}", f"decisions_{i}"):
            shutil.rmtree(os.path.join(self.ctx.work, d), ignore_errors=True)


def _parquet_files(root: str) -> tuple:
    """(count, bytes) of the parquet files under ``root``."""
    paths = [os.path.join(d, f) for d, _, files in os.walk(root)
             for f in files if f.endswith(".parquet")]
    return len(paths), sum(os.path.getsize(p) for p in paths)


WORKLOADS = {"migrate": Migrate, "sync_epochs": SyncEpochs}
