"""Sessionization — gap-based event sessions per user.

A standard training-data/analytics operator (no reference analog; the
reference's only time handling is directory-date pruning, S13). Window
functions over (user, ts): a new session starts when the gap from the
previous event exceeds ``gap_seconds``.

Scale shape: ONE shuffle on user_id (both window and the follow-up
groupBy reuse the same partitioning — Catalyst plans a single Exchange),
sort within partitions by ts. Skewed users are bounded by per-user event
counts, not table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from elephant_twin_spark.functions import timeutil


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Assign ``session_id`` (0-based per user, ordered by time)."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    secs = timeutil.epoch_seconds(df, ts_col)
    gap = F.when(
        secs - F.lag(secs).over(w) > gap_seconds,
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn("session_id", F.sum(gap).over(w))


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """``(user, session_id, n_events, sess_start, sess_end)``."""
    s = sessionize(df, user_col, ts_col, gap_seconds)
    return s.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("sess_start"),
        F.max(ts_col).alias("sess_end"),
    )


def session_kpis(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-user session KPI rollup over :func:`session_stats`:
    ``(user, n_sessions, n_bounce, avg_duration_s, avg_events)`` where
    a bounce is a 1-event session. One extra user-keyed aggregate on
    the session_stats output — same single window shuffle, the
    follow-up groupBy reuses the user partitioning (one Exchange in
    the plan). Duration is ``sess_end - sess_start`` in seconds;
    averages rounded to 4 digits so the rollup is
    engine-deterministic."""
    s = session_stats(df, user_col, ts_col, gap_seconds)
    dur = F.col("sess_end").cast("timestamp").cast("double") - F.col(
        "sess_start"
    ).cast("timestamp").cast("double")
    return s.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounce"),
        F.round(F.avg(dur), 4).alias("avg_duration_s"),
        F.round(F.avg(F.col("n_events").cast("double")), 4).alias("avg_events"),
    )


def funnel(
    df,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages,
    prefilter: bool = False,
):
    """Funnel analysis: per user, how far through the ordered ``stages``
    sequence their events progress — ``(user, stage_reached)`` with
    stage_reached in 0..len(stages). An event advances the funnel only
    if it is the next expected stage AND strictly later than the event
    that matched the previous stage (the greedy earliest-chain, i.e.
    min(view) → min(click > that) → …).

    Bounded state (r10 review fix): the greedy chain is computed as
    ``n`` min-aggregation passes — ``t1 = min(t | y=s1)``, ``ti =
    min(t | y=si AND t > t(i-1))`` — which is provably the same chain
    the sequential scan produces (each pass's min IS the fold's match
    for that stage). The previous implementation sorted and folded a
    ``collect_list`` of EVERY event per user; the aggregation buffer
    held a hot user's entire event history in memory (a 10^8-event bot
    key = executor OOM), even though the fold itself only carried
    (stage, last_ts). Now per-group state is one timestamp per pass,
    map-side combined, and every join/agg is keyed on ``user``.

    Scan shape: pass 1 scans the full table (it doubles as the
    all-users spine); with the default ``prefilter=False`` each later
    pass re-reads ``df`` under an ``event_type = stage_i`` pushdown
    filter — on a base-table input those re-reads are pruned column
    scans, near-index reads on a type-clustered layout. With
    ``prefilter=True`` passes 2..n instead run over ONE
    ``lifecycle.pin``'d frame of the later-stage rows
    (``y IN stages[1:] AND user IS NOT NULL``); the pin is a local
    checkpoint behind the returned plan (consume it inside your
    ``checkpoint_scope`` — see :mod:`.lifecycle`).

    The default is the MEASURED winner, not the assumed one
    (SCALE_EXPERIMENTS.md, "r11: funnel scan-shape A/B": 3M-row 10x
    corpus + 2M-event hot key, 13% later-stage selectivity, local[32]):
    re-scan steady 0.78-0.90 s vs pinned steady 1.18-1.38 s on a
    base-table input, and re-scan
    5.5 s vs pinned 10.0-11.1 s even on an EXPENSIVE window-derived
    input — the pin's eager materialization is itself one full
    evaluation of the upstream plan plus block-manager I/O, which
    exceeded the (n-1) re-evaluations it replaces in every shape
    tested. Both shapes bound per-group state identically. Keep
    ``prefilter=True`` for inputs the re-scan CANNOT replay (a
    non-deterministic or already-consumed source) or when your own A/B
    at your selectivity says otherwise; it is a measured knob, not a
    free win.

    NULL users report stage_reached = 0 regardless of their events —
    the exact semantics of the SQL oracle's non-null-safe
    ``LEFT JOIN ... ON u.user_id = s1.user_id`` spine, where a NULL
    user matches no stage CTE (r10 advisor: pass 1's groupBy used to
    keep the NULL group's stage-1 evidence and report 1)."""
    from functools import reduce

    from pyspark.sql import functions as F

    from elephant_twin_spark.operators import lifecycle

    if not stages:
        raise ValueError("stages must name at least one event type")
    n = len(stages)
    ev = df.select(
        F.col(user_col).alias("user"),
        F.col(ts_col).alias("t"),
        F.col(type_col).alias("y"),
    )
    # pass 1 doubles as the all-users spine: every user appears, with
    # NULL _t1 when they never reached stage 1 (stage_reached = 0).
    # NULL users are masked to no-evidence here — oracle spine parity.
    state = ev.groupBy("user").agg(
        F.min(
            F.when(
                (F.col("y") == F.lit(stages[0])) & F.col("user").isNotNull(),
                F.col("t"),
            )
        ).alias("_t1")
    )
    if n > 1:
        later = ev.where(
            F.col("y").isin(list(dict.fromkeys(stages[1:])))
            & F.col("user").isNotNull()
        )
        if prefilter:
            later = lifecycle.pin(later)
    for i in range(2, n + 1):
        prev = f"_t{i - 1}"
        cand = (
            later.where(F.col("y") == F.lit(stages[i - 1]))
            .join(state.select("user", prev), "user")
            .where(F.col("t") > F.col(prev))
            .groupBy("user")
            .agg(F.min("t").alias(f"_t{i}"))
        )
        state = state.join(cand, "user", "left")
    reached = reduce(
        lambda a, b: a + b,
        [
            F.when(F.col(f"_t{i}").isNotNull(), F.lit(1)).otherwise(F.lit(0))
            for i in range(1, n + 1)
        ],
    )
    return state.select("user", reached.alias("stage_reached"))
