"""Temporal joins — as-of and interval joins over event tables.

The reference has no record-to-record joins at all (SURVEY §2.9); its
only interval algebra is over index postings (core/retrieval/
BlockIndexedFileInputFormat.java:448-640). A training-data pipeline over
event logs needs the record-level analogs, so this module supplies them
Spark-first:

- ``asof_join``: for each left row, the latest right row with
  ``right_ts <= left_ts`` per key — implemented as ONE shuffle via the
  union + last(ignorenulls) window trick, never a per-key loop or an
  O(n*m) theta join. At 100 TB both sides shuffle once on the key and
  the window runs sorted within partitions.
- ``interval_join``: points joined into ``[start, end)`` intervals.
  With equi-keys it is a plain shuffle join + range filter (Catalyst
  sort-merge). Without keys, a naive theta join is a broadcast nested
  loop — quadratic — so ``bucket_width_s`` chops time into coarse
  buckets, explodes each interval onto the buckets it covers, and
  equi-joins on the bucket id first (the postings interval algebra
  applied to rows).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from elephant_twin_spark.operators import lifecycle


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_values: Sequence[str],
    strict: bool = False,
    tiebreak: Optional[str] = None,
) -> DataFrame:
    """Backward as-of join: every left row, annotated with the most
    recent right row's ``right_values`` where ``right_ts <= left_ts``
    (``<`` when ``strict``), matching on ``keys``; nulls when no prior
    right row exists (left-outer semantics). Key matching is JOIN
    semantics, not window-group semantics: a NULL key matches nothing
    (the row is kept, null-annotated), exactly like the SQL equi-join
    restatement of this operator.

    Single shuffle: tag + union both sides, then one
    ``last(struct(right_values), ignorenulls=True)`` over a
    key-partitioned window ordered by (ts, side, tiebreak). On equal
    timestamps the right row sorts before the left row so it is visible
    (inclusive semantics) unless ``strict``, where it sorts after. The
    winning right row is carried as ONE struct, so the annotated values
    always come from the same right row (a per-column fill would mix
    columns across tied or NULL-holed right rows).

    Tie determinism (r10 verdict fix): when two right rows of one key
    share a timestamp, the window's third order key picks the winner —
    by default the full ``struct(right_values)`` ascending, i.e.
    keep-max over the value tuple, which makes the OUTPUT fully
    deterministic (rows that tie on the tuple are output-identical).
    Pass ``tiebreak=<right column>`` to keep-max by that column instead
    (also required when a right_value type is not orderable, e.g. a
    map); a non-unique explicit tiebreak reintroduces the hazard for
    rows that also tie on it.
    """
    keys = list(keys)
    right_values = list(right_values)
    dup = set(right_values) & set(left.columns)
    if dup:
        raise ValueError(f"right_values collide with left columns: {sorted(dup)}")
    rtypes = {f.name: f.dataType for f in right.schema.fields}
    if tiebreak is not None and tiebreak not in rtypes:
        raise ValueError(f"tiebreak {tiebreak!r} is not a right column")

    rv_type = StructType([StructField(c, rtypes[c]) for c in right_values])
    tb_rhs = F.col(tiebreak) if tiebreak is not None else F.struct(
        *[F.col(c) for c in right_values]
    )
    tb_lhs = (
        F.lit(None).cast(rtypes[tiebreak]) if tiebreak is not None
        else F.lit(None).cast(rv_type)
    )
    lhs = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_left"),
        F.lit(None).cast(rv_type).alias("_rv"),
        tb_lhs.alias("_tb"),
    )
    # NULL-key right rows are excluded: the window PARTITION BY groups
    # NULLs together, so without this a NULL-key left row would be
    # annotated from NULL-key right rows — group semantics, where the
    # operator's contract (and any SQL equi-join restatement) is
    # non-null-safe join semantics: a NULL key matches nothing and the
    # left row comes back null-annotated (r11 review, the same class as
    # the funnel NULL-user alignment).
    rhs_nonnull = right
    for k in keys:
        rhs_nonnull = rhs_nonnull.where(F.col(k).isNotNull())
    rhs = rhs_nonnull.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(left.schema).alias("_left"),
        F.struct(*[F.col(c) for c in right_values]).alias("_rv"),
        tb_rhs.alias("_tb"),
    )

    side_order = F.col("_side").desc() if strict else F.col("_side").asc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_ts").asc(), side_order, F.col("_tb").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = lhs.unionByName(rhs).select(
        "_side",
        "_left",
        F.last("_rv", ignorenulls=True).over(w).alias("_rv"),
    )
    return filled.where(F.col("_side") == 1).select(
        *[F.col(f"_left.{c}").alias(c) for c in left.columns],
        *[F.col(f"_rv.{c}").alias(c) for c in right_values],
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start: str,
    end: str,
    keys: Sequence[str] = (),
    bucket_width_s: Optional[int] = None,
) -> DataFrame:
    """Inner-join point rows into ``[start, end)`` interval rows.

    - With ``keys``: equi shuffle join on the keys + range residual
      filter (sort-merge; scales linearly in both inputs).
    - Without keys, with ``bucket_width_s`` (seconds): both sides get a
      coarse time-bucket id — interval rows explode onto every covered
      bucket — and the join becomes an equi join on the bucket id plus
      the exact range check. Pick a width near the typical interval
      length: much smaller multiplies interval rows, much larger
      multiplies false candidate pairs.
    - Without either: plain theta join (broadcast-nested-loop) — only
      acceptable when one side is tiny.

    Non-key column names must not collide (alias before calling).
    """
    dup = (set(points.columns) & set(intervals.columns)) - set(keys)
    if dup:
        raise ValueError(f"ambiguous columns, alias before joining: {sorted(dup)}")

    range_cond = (F.col(point_ts) >= F.col(start)) & (F.col(point_ts) < F.col(end))
    if keys:
        return points.join(intervals, list(keys), "inner").where(range_cond)

    if bucket_width_s is not None:
        w = int(bucket_width_s)
        p = points.withColumn(
            "_bkt", F.floor(F.unix_timestamp(F.col(point_ts)) / w).cast("long")
        )
        b0 = F.floor(F.unix_timestamp(F.col(start)) / w).cast("long")
        # last covered bucket; clamp so sub-second intervals (whose
        # second-truncated end-1 would fall before b0 and make sequence()
        # count DOWN) still cover exactly their start bucket
        b1 = F.greatest(b0, F.floor((F.unix_timestamp(F.col(end)) - 1) / w).cast("long"))
        i = intervals.where(F.col(end) > F.col(start)).withColumn(
            "_bkt", F.explode(F.sequence(b0, b1))
        )
        return p.join(i, "_bkt", "inner").where(range_cond).drop("_bkt")

    return points.join(intervals, range_cond, "inner")


def scd2_intervals(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    state_cols: Sequence[str],
    tiebreak: Sequence[str] = (),
    collapse_consecutive: bool = True,
    carry_last_ts: bool = False,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a changelog: one
    row per (key, state run) with ``effective_from`` / ``effective_to``
    validity bounds and an ``is_current`` flag (open intervals carry a
    NULL ``effective_to``).

    ``carry_last_ts`` adds a ``last_ts`` column — the max raw event
    timestamp the run absorbed (>= ``effective_from``; the two differ
    whenever ``collapse_consecutive`` merged re-emitted rows). It costs
    one more expression in the existing aggregate and is what makes the
    :func:`scd2_merge` watermark precondition CHECKABLE: a history that
    only keeps ``effective_from`` cannot tell whether a late batch event
    lands inside a closed run (round-6 advisor finding).

    The standard snapshot-from-changelog operator a warehouse runs over
    CDC feeds: point-in-time state is then a plain
    ``effective_from <= t AND (t < effective_to OR effective_to IS NULL)``
    filter, and the latest snapshot is ``is_current``.

    Shape (100 TB): every step is keyed by ``keys`` — a change-flag
    window (``lag`` over the key partition, null-safe struct compare),
    a running-sum run id over the same sorted partition (Catalyst
    reuses the sort), one ``(keys, run)`` group aggregate, and a final
    ``lead`` window back on ``keys``. All shuffles hash on the key set;
    per-task state is a single row of lookback. ``collapse_consecutive``
    merges adjacent rows with identical state (CDC feeds that re-emit
    unchanged rows); with it off every changelog row opens an interval.
    Ordering within a key is ``(ts_col, *tiebreak)`` — pass a unique id
    when timestamps can tie, or run order (and thus the history) is
    nondeterministic.

    ``last_ts`` is a RESERVED output name (:func:`scd2_merge` reads it
    as the watermark column): a state/tiebreak/ts column by that name
    would shadow it and mis-trigger the merge's validation path, so it
    is rejected up front (round-7 advisor finding).
    """
    keys, state_cols, tiebreak = list(keys), list(state_cols), list(tiebreak)
    reserved = [c for c in (*keys, *state_cols, *tiebreak, ts_col) if c == "last_ts"]
    if reserved:
        raise ValueError(
            "'last_ts' is reserved for the carried watermark column — "
            "rename the input column before building SCD2 history"
        )
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    state = F.struct(*[F.col(c) for c in state_cols])
    if collapse_consecutive:
        changed = F.when(
            state.eqNullSafe(F.lag(state).over(w)), F.lit(0)
        ).otherwise(F.lit(1))
    else:
        changed = F.lit(1)
    runs = df.withColumn("_chg", changed).withColumn(
        "_run", F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    run_aggs = [
        *[F.first(c).alias(c) for c in state_cols],
        F.min(ts_col).alias("effective_from"),
        F.count(F.lit(1)).alias("n_rows"),
    ]
    if carry_last_ts:
        run_aggs.append(F.max(ts_col).alias("last_ts"))
    grouped = runs.groupBy(*keys, "_run").agg(*run_aggs)
    w2 = Window.partitionBy(*keys).orderBy(F.col("effective_from").asc(), F.col("_run").asc())
    return (
        grouped.withColumn("effective_to", F.lead("effective_from").over(w2))
        .withColumn("is_current", F.col("effective_to").isNull())
        .drop("_run")
    )


def forward_fill(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Last-observation-carried-forward per key: NULLs in each of
    ``value_cols`` are replaced by the most recent non-NULL value
    earlier in the key's ``(ts_col, *tiebreak)`` order (leading NULLs
    stay NULL). The sensor-gap / sparse-changelog densifier — the
    within-series sibling of :func:`asof_join` (which fills from a
    DIFFERENT table).

    One shuffle: a single key-partitioned window sort serves every
    filled column via ``last(ignorenulls)``. Pass a unique ``tiebreak``
    when timestamps can tie, or fill order is nondeterministic.
    """
    keys, value_cols = list(keys), list(value_cols)
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in value_cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def scd2_merge(
    history: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    state_cols: Sequence[str],
    tiebreak: Sequence[str] = (),
    validate: bool = True,
    collapse_consecutive: bool = True,
) -> DataFrame:
    """Incremental SCD2: merge a NEW changelog batch into an existing
    :func:`scd2_intervals` history without recomputing untouched keys —
    the production upsert path for a CDC feed landing every few minutes
    against a history table with billions of keys.

    Pass the SAME ``collapse_consecutive`` the history was built with:
    replayed history runs are always preserved verbatim (they are
    already collapsed — or deliberately not), but the flag governs the
    BATCH events, and merging a ``collapse_consecutive=False`` history
    with the default would collapse new re-emitted rows the history's
    semantics say to keep. The history must carry the full
    :func:`scd2_intervals` output columns (``effective_from``,
    ``effective_to``, ``n_rows``; ``effective_to`` orders ts-tied runs
    during replay).

    Contract (the standard warehouse-MERGE watermark assumption): each
    key's batch events are strictly newer than ALL of that key's RAW
    changelog events — not merely newer than ``max(effective_from)``.
    The distinction matters because ``collapse_consecutive`` runs absorb
    later re-emitted rows: a batch event newer than an open run's
    ``effective_from`` but older than rows that run absorbed satisfies
    the weaker bound yet silently diverges from full recompute (history
    ``a@10, a@20`` + batch ``b@15`` must give three intervals, but the
    replay sees one ``a`` event at ts=10 and produces two — round-6
    advisor finding). Under the strict contract the merge is EXACT:
    ``scd2_merge(scd2_intervals(prefix), suffix) ==
    scd2_intervals(prefix + suffix)`` (property-tested). Late events
    that interleave a key's existing runs need that key recomputed from
    the raw changelog — an open interval cannot tell which historical
    rows it absorbed.

    When the history carries ``last_ts`` (build it with
    ``scd2_intervals(..., carry_last_ts=True)``) the precondition is
    CHECKED per affected key: ``validate=True`` (default) raises
    ``ValueError`` naming sample offenders if any batch event is <= the
    key's recorded max raw-event timestamp. Probe cost (r17): the
    touched slice is pinned (``localCheckpoint``) before the probe, so
    the probe's driver-blocking aggregate and the replay share ONE
    materialization instead of each re-running the history scan + semi
    join (the probe previously re-read the slice as its own pass —
    measured ~1.5x merge wall at sf0.1; SCALE_EXPERIMENTS r8).
    Lifecycle: the validated merge's result is checkpoint-backed —
    consume it inside your ``checkpoint_scope`` (see :mod:`.lifecycle`).
    ``validate=False`` skips the probe and keeps the merge fully lazy
    on feeds whose watermark is enforced upstream. A history
    without ``last_ts`` cannot express the precondition and is
    accepted unchecked — prefer carrying the column. ``last_ts`` is
    maintained through the merge, so merged output remains mergeable.

    Scale shape — cost proportional to the BATCH, not the history
    (the same probe-proportional discipline as
    ``dedup.refresh_clusters``): untouched keys pass through with one
    left-anti join against the batch's distinct key set (broadcast-
    sized: one row per batch key); affected keys replay as one event
    per existing run (weight = its ``n_rows``) unioned with the batch
    rows, and re-run the run-collapse windows over that slice only.
    Re-emitted unchanged states collapse into the old run, preserving
    its original ``effective_from`` and accumulating ``n_rows``."""
    keys, state_cols, tiebreak = list(keys), list(state_cols), list(tiebreak)
    # 'last_ts' in the history is THE watermark column (scd2_intervals
    # rejects user columns by that name, so presence here is unambiguous)
    reserved = [c for c in (*keys, *state_cols, *tiebreak, ts_col) if c == "last_ts"]
    if reserved:
        raise ValueError(
            "'last_ts' is reserved for the carried watermark column — "
            "rename the input column before merging SCD2 history"
        )
    has_lts = "last_ts" in history.columns
    affected = batch.select(*keys).distinct()
    untouched = history.join(affected, keys, "left_anti")
    touched = history.join(affected, keys, "leftsemi")
    if validate and has_lts:
        # Pin the touched slice before the probe (r17): the probe's
        # collect and the replay below otherwise each run the history
        # scan + semi join — with the pin the slice (batch-proportional
        # by the merge's own contract) materializes once and both read
        # it, one fewer full history pass per validated merge. The
        # probe already makes this path driver-blocking at call time.
        # validate=False keeps the merge fully lazy as before.
        touched = lifecycle.pin(touched, eager=False)
        # one batch-proportional probe: per affected key, the earliest
        # batch event must be strictly newer than every raw event the
        # history absorbed (== its max last_ts)
        offenders = (
            batch.groupBy(*keys)
            .agg(F.min(ts_col).alias("_bmin"))
            .join(touched.groupBy(*keys).agg(F.max("last_ts").alias("_hmax")), keys)
            .where(F.col("_bmin") <= F.col("_hmax"))
            .limit(5)
            .collect()
        )
        if offenders:
            # nothing consumes the pin past this raise: free its blocks
            # now (with no enclosing scope, nothing else ever would)
            lifecycle.release(touched)
            examples = [
                {**{k: r[k] for k in keys}, "batch_min_ts": r["_bmin"], "history_max_ts": r["_hmax"]}
                for r in offenders
            ]
            raise ValueError(
                "scd2_merge watermark contract violated: batch events are "
                "not strictly newer than the key's recorded raw events — "
                "recompute these keys from the raw changelog instead "
                f"(sample offenders: {examples})"
            )
    eto_type = history.schema["effective_to"].dataType
    hist_events = touched.select(
        *keys,
        *state_cols,
        F.col("effective_from").alias(ts_col),
        (F.col("last_ts") if has_lts else F.col("effective_from")).alias("_lts"),
        F.col("n_rows").alias("_w"),
        F.lit(0).alias("_src"),
        F.col("effective_to").alias("_eto"),
        *[F.lit(None).cast(batch.schema[c].dataType).alias(c) for c in tiebreak],
    )
    batch_events = batch.select(
        *keys,
        *state_cols,
        F.col(ts_col),
        F.col(ts_col).alias("_lts"),
        F.lit(1).cast("long").alias("_w"),
        F.lit(1).alias("_src"),
        F.lit(None).cast(eto_type).alias("_eto"),
        *tiebreak,
    )
    events = hist_events.unionByName(batch_events)
    # run collapse, scd2_intervals algebra with n_rows carried as _w
    # (history-replay events sort before batch events at equal ts — under
    # the watermark contract ties cannot change the result, the order
    # only keeps the plan deterministic). Replayed history events carry
    # NULL tiebreak columns, so ts-tied runs (zero-width runs produced by
    # tie-broken same-timestamp changelog events) need their own order
    # key or the replay reshuffles them nondeterministically and the
    # merge diverges from full recompute exactly in the case tiebreak
    # exists for (r8 review finding). The chain order IS recoverable
    # from the stored intervals: within equal effective_from, a closed
    # run's effective_to equals its successor's effective_from and the
    # open run sorts last — so _eto asc NULLS LAST reconstructs it.
    # Residual ambiguity only among multiple IDENTICAL zero-width runs
    # (>= 3 state flips at one instant): no stored column distinguishes
    # those orders, but the forced run boundary below makes every order
    # yield the same output MULTISET (each zero-width run keeps its own
    # n_rows/last_ts and all get [t, t) bounds), so the merge stays
    # exact there too.
    order = (
        [F.col(ts_col).asc(), F.col("_src").asc(), F.col("_eto").asc_nulls_last()]
        + [F.col(c).asc() for c in tiebreak]
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    state = F.struct(*[F.col(c) for c in state_cols])
    # a history-replay event IS an already-collapsed run: its
    # predecessor in the replay is always another history run (batch
    # events sort after, per the watermark contract), and consecutive
    # history runs differ in state by construction — so forcing a run
    # boundary is a no-op under correct order and prevents a bogus
    # merge of equal-state runs under the residual ambiguous order
    # (it also preserves collapse_consecutive=False histories verbatim
    # instead of collapsing them). Batch events keep the state compare
    # under the default — a re-emitted unchanged state must extend the
    # open run — and open their own run when the history's semantics
    # are collapse_consecutive=False.
    if collapse_consecutive:
        batch_changed = F.when(
            state.eqNullSafe(F.lag(state).over(w)), F.lit(0)
        ).otherwise(F.lit(1))
    else:
        batch_changed = F.lit(1)
    changed = F.when(F.col("_src") == 0, F.lit(1)).otherwise(batch_changed)
    runs = events.withColumn("_chg", changed).withColumn(
        "_run", F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    merge_aggs = [
        *[F.first(c).alias(c) for c in state_cols],
        F.min(ts_col).alias("effective_from"),
        F.sum("_w").alias("n_rows"),
    ]
    if has_lts:
        # under the strict contract batch events dominate the replayed
        # history event, so max over (stored last_ts, batch ts) is the
        # run's true max raw-event timestamp
        merge_aggs.append(F.max("_lts").alias("last_ts"))
    grouped = runs.groupBy(*keys, "_run").agg(*merge_aggs)
    w2 = Window.partitionBy(*keys).orderBy(
        F.col("effective_from").asc(), F.col("_run").asc()
    )
    merged = (
        grouped.withColumn("effective_to", F.lead("effective_from").over(w2))
        .withColumn("is_current", F.col("effective_to").isNull())
        .drop("_run")
    )
    return untouched.unionByName(merged.select(*untouched.columns))
