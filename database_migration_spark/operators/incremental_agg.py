"""Incremental aggregate maintenance: mergeable partial-aggregate states.

The reference's delta workflow (delta_import/delta_import_on_primary_keys.sql
:374-435) keeps base TABLES current with watermark + MERGE; the follow-on
every warehouse needs is keeping derived SUMMARY tables current without
re-scanning history. This module implements the classic incremental
materialized-view pattern: an aggregate is stored as a per-group state of
*mergeable* partials (count / exact-decimal sum / min / max, plus optional
HLL distinct sketches), a delta batch is folded into its own state, and the
two states merge by re-aggregation. avg / approximate-distinct derive from
the partials at read time (:func:`read_summary`).

Scale shape (the part that matters at 100 TB):

- A refresh touches the DELTA (one scan, map-side combined into per-group
  partials) and the STATE (group-count-sized, not history-sized). History
  is never re-read; the merge shuffle is bounded by |groups|, and with the
  state written bucketed on the group keys even that shuffle disappears.
- All partials are algebraic: sums are exact DECIMAL (never float — the
  cross-engine correctness rule), count is BIGINT, min/max are value
  selections. Merging is a plain re-aggregation of the unioned states, so
  states from any number of deltas (or from per-partition computation)
  merge associatively — the same property that makes the rolling-HLL
  sketches in operators/behavior.py scan events once, ever.
- Insert-only deltas are the fast path. With ``signed=True`` a delta may
  carry a ±1 sign column (the retraction stream a CDC feed produces):
  count and sum subtract exactly; min/max are NOT retractable from a
  partial state, so signed states omit them (the standard MV-maintenance
  trade — a deleted minimum forces a per-group rescan, which is exactly
  what refresh-from-base does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# exact accumulation type for double measures (matches queries.DEC scale)
_SUM_TYPE = "decimal(38,6)"


def _stat_cols(
    measures: list[str],
    signed: bool,
    sign_col: str | None,
    distinct_cols: list[str],
):
    sign = F.col(sign_col).cast("long") if signed and sign_col else F.lit(1)
    aggs = [F.sum(sign).alias("n_rows")]
    for m in measures:
        v = F.col(m).cast(_SUM_TYPE)
        aggs.append(F.sum(v * sign.cast(_SUM_TYPE)).cast(_SUM_TYPE).alias(f"sum_{m}"))
        if not signed:
            aggs.append(F.min(F.col(m)).alias(f"min_{m}"))
            aggs.append(F.max(F.col(m)).alias(f"max_{m}"))
    for c in distinct_cols:
        aggs.append(F.hll_sketch_agg(c).alias(f"hll_{c}"))
    return aggs


def build_state(
    df: DataFrame,
    keys: list[str],
    measures: list[str],
    signed: bool = False,
    sign_col: str | None = None,
    distinct_cols: list[str] | None = None,
) -> DataFrame:
    """One scan → per-group mergeable partials.

    Columns out: ``keys…, n_rows, sum_<m>, [min_<m>, max_<m>]…,
    [hll_<c>…]`` with sums accumulated in DECIMAL(38,6) (exact for the
    double measures the testdata carries). ``signed`` folds a ±1
    ``sign_col`` into count/sum and drops min/max (not retractable).

    ``distinct_cols`` adds a mergeable HLL sketch per column (the same
    DataSketches binary the rolling-distinct path in operators/behavior.py
    unions): per-group approximate distinct counts that merge across any
    delta grouping — the only way a 100 TB summary can maintain
    distinct-user/distinct-key columns without re-scanning history (exact
    distinct is not algebraic). Sketches are insert-only, so they are
    incompatible with ``signed`` retraction (a removed value cannot leave
    a sketch) — that combination raises.
    """
    distinct_cols = distinct_cols or []
    if signed and not sign_col:
        raise ValueError(
            "signed=True requires sign_col — without it every retraction "
            "row would silently count as an insert"
        )
    if signed and distinct_cols:
        raise ValueError(
            "distinct sketches are insert-only and cannot honor signed "
            "retractions — maintain them on an append stream, or rebuild"
        )
    return df.groupBy(*keys).agg(
        *_stat_cols(measures, signed, sign_col, distinct_cols)
    )


def merge_states(
    states: list[DataFrame],
    keys: list[str],
    measures: list[str],
    distinct_cols: list[str] | None = None,
) -> DataFrame:
    """Merge partial states by union + re-aggregation.

    Associative and commutative: any grouping of deltas merges to the same
    state — HLL registers are element-wise maxima, so even the sketch
    columns merge to the exact bytes a single-pass build produces. Groups
    whose merged count reaches 0 (signed full retraction) are dropped,
    matching what a from-scratch rebuild would produce.

    min/max presence must be UNIFORM: either every state carries
    ``min_/max_`` for every measure (plain builds) or none does (signed
    builds, where min/max is not retractable). A mixed set raises — the
    union's allowMissingColumns would otherwise NULL-pad the missing side
    and pollute merged min/max with silent NULLs.
    """
    if not states:
        raise ValueError("merge_states needs at least one state")
    distinct_cols = distinct_cols or []
    unioned = states[0]
    for s in states[1:]:
        unioned = unioned.unionByName(s, allowMissingColumns=True)
    presence = {
        (f"min_{m}" in s.columns, f"max_{m}" in s.columns)
        for s in states
        for m in measures
    }
    if len(presence) > 1 or presence == {(True, False)} or presence == {(False, True)}:
        shapes = [
            [c for c in s.columns if c.startswith(("min_", "max_"))]
            for s in states
        ]
        raise ValueError(
            "states disagree on min_/max_ presence across measures "
            f"({shapes}) — merging would NULL-pad the missing side; "
            "rebuild the odd state with a matching build_state config"
        )
    have_minmax = presence == {(True, True)} if measures else False
    aggs = [F.sum("n_rows").alias("n_rows")]
    for m in measures:
        aggs.append(F.sum(f"sum_{m}").cast(_SUM_TYPE).alias(f"sum_{m}"))
        if have_minmax:
            aggs.append(F.min(f"min_{m}").alias(f"min_{m}"))
            aggs.append(F.max(f"max_{m}").alias(f"max_{m}"))
    for c in distinct_cols:
        aggs.append(F.hll_union_agg(f"hll_{c}").alias(f"hll_{c}"))
    return unioned.groupBy(*keys).agg(*aggs).where(F.col("n_rows") != 0)


def incremental_refresh(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    measures: list[str],
    signed: bool = False,
    sign_col: str | None = None,
    distinct_cols: list[str] | None = None,
) -> DataFrame:
    """Fold a delta batch into an existing state: delta-sized work only."""
    delta_state = build_state(
        delta, keys, measures,
        signed=signed, sign_col=sign_col, distinct_cols=distinct_cols,
    )
    return merge_states([state, delta_state], keys, measures, distinct_cols)


def watermark_refresh(
    spark,
    state_path: str,
    base: DataFrame,
    keys: list[str],
    measures: list[str],
    delta_col: str,
    distinct_cols: list[str] | None = None,
) -> dict:
    """Watermark-driven summary refresh against a stored state — the
    reference's DELTA_IMPORT pattern (watermark column + incremental
    apply, delta_import_on_primary_keys.sql:374-435) for DERIVED tables:
    the first run folds the whole base (bootstrap), every later run folds
    only rows with ``delta_col`` strictly greater than the stored
    watermark, then advances it. The watermark travels inside the state
    parquet (``_wm`` column, same publish-step reasoning as the streaming
    fold's ``_epoch``).

    Strictly-greater is deliberate: re-reading ``>=`` rows would
    double-count an additive fold (DELTA_IMPORT can use ``>=`` because
    MERGE-by-PK is idempotent; partials are not). The trade: a row that
    lands later AT an already-seen watermark value is missed — correct it
    with :func:`backfill_groups`, which exists for exactly the
    invalidations a watermark can't see. Rows with NULL ``delta_col``
    fold on bootstrap only (they can never pass a watermark comparison).

    Returns ``{"applied_rows": n, "watermark": new_wm}`` — applied_rows
    is 0 when the delta is empty (state untouched).
    """
    from pyspark import StorageLevel

    from database_migration_spark.functions.io import store_exists

    exists = store_exists(state_path)
    if exists:
        stored = spark.read.parquet(state_path)
        wm = stored.select(F.max("_wm").alias("w")).first()["w"]
        # a NULL stored watermark means the bootstrap saw only NULL
        # delta_col rows (folded once, unreachable by any comparison) —
        # the delta is then every row that HAS a watermark value, not the
        # empty set a NULL > comparison would silently produce
        delta = (
            base.where(F.col(delta_col) > F.lit(wm))
            if wm is not None
            else base.where(F.col(delta_col).isNotNull())
        )
    else:
        stored, wm, delta = None, None, base
    # the delta feeds three actions (count, max, fold) — persist so ONE
    # materialization serves all three: both the 3× I/O and the
    # live-source race (a row landing between the watermark scan and the
    # fold scan would fold now AND re-read as delta next run — the exact
    # double count the strictly-greater design exists to prevent)
    delta = delta.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n = delta.count()
        if n == 0:
            return {"applied_rows": 0, "watermark": wm}
        new_wm = delta.select(F.max(delta_col).alias("w")).first()["w"]
        states = [stored.drop("_wm")] if exists else []
        states.append(
            build_state(delta, keys, measures, distinct_cols=distinct_cols)
        )
        # typed even when new_wm is None (all-NULL bootstrap): a bare
        # F.lit(None) is VOID and the parquet writer rejects it
        merged = merge_states(states, keys, measures, distinct_cols).withColumn(
            "_wm", F.lit(new_wm).cast(base.schema[delta_col].dataType)
        )
        from database_migration_spark.functions.io import publish_parquet

        publish_parquet(merged, state_path, state_path + ".staging")
    finally:
        delta.unpersist(blocking=False)
    return {"applied_rows": n, "watermark": new_wm}


def backfill_groups(
    state: DataFrame,
    base: DataFrame,
    keys: list[str],
    measures: list[str],
    predicate,
    distinct_cols: list[str] | None = None,
    signed: bool = False,
    sign_col: str | None = None,
) -> DataFrame:
    """Targeted correction: rebuild ONLY the groups matching ``predicate``
    from ``base``, keep every other group's partials untouched.

    The signed-delta path handles CDC retractions; this handles the other
    real-world invalidation — a correction that isn't a delta (a bad load
    discovered later, a reprocessed day, a min/max that a retraction
    cannot fix). Work is |affected base rows| + |state| (one anti-join on
    the group keys), never a full-history rescan; invariant:
    ``backfill_groups(state, base, …, p) == build_state(base, …)`` when
    ``state`` was correct outside ``p`` — groups with no surviving base
    rows disappear, exactly as a rebuild would drop them.

    ``predicate`` is a Column over the GROUP KEY columns (it is applied to
    both the state and the base rows; a predicate over non-key columns
    would select half a group and corrupt the rebuild — keep it on keys).
    A predicate that evaluates NULL (a NULL key under ``=``) counts as
    not-matching on BOTH sides — the group stays kept, never silently
    dropped by three-valued logic.

    Pass the SAME ``signed``/``sign_col``/``distinct_cols`` the state was
    built with: rebuilding a signed-CDC base without its sign column
    counts retractions as inserts. The rebuilt partials' shape is checked
    against the state's columns and a mismatch raises rather than
    unioning NULL-padded half-schemas.
    """
    match = F.coalesce(predicate, F.lit(False))
    kept = state.where(~match)
    fresh = build_state(
        base.where(match), keys, measures,
        signed=signed, sign_col=sign_col, distinct_cols=distinct_cols,
    )
    extra = {"_epoch", "_wm"}  # stream/refresh bookkeeping columns
    if set(state.columns) - extra != set(fresh.columns):
        raise ValueError(
            "state and rebuilt partials have different shapes "
            f"({sorted(set(state.columns) - extra)} vs "
            f"{sorted(fresh.columns)}) — pass the same signed/sign_col/"
            "distinct_cols the state was built with"
        )
    return kept.unionByName(fresh, allowMissingColumns=True)


def read_summary(
    state: DataFrame, measures: list[str], distinct_cols: list[str] | None = None
) -> DataFrame:
    """Derive the user-facing summary from a stored state: avg from
    sum/count (exact decimal division at read time — the partials never
    store a lossy mean) and approximate distinct counts from the sketches.
    """
    out = state
    for m in measures:
        if f"sum_{m}" in state.columns:
            out = out.withColumn(
                f"avg_{m}",
                (F.col(f"sum_{m}") / F.col("n_rows")).cast(_SUM_TYPE),
            )
    for c in distinct_cols or []:
        out = out.withColumn(
            f"approx_nd_{c}", F.hll_sketch_estimate(F.col(f"hll_{c}"))
        ).drop(f"hll_{c}")
    return out
