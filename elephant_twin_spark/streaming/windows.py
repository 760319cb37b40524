"""Structured Streaming windowed aggregations with late-data handling.

Beyond the reference (its model is batch-index over immutable files;
SURVEY §2.9 notes streaming is absent) — the north-star pipeline needs
stream-shaped ingestion: file streams → watermarked event-time windows →
append-mode sinks. The same expressions as the batch
:mod:`elephant_twin_spark.operators.rollup` run under streaming, which is
exactly why both are plain DataFrame algebra.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elephant_twin_spark.functions.timeutil import ensure_event_time
from elephant_twin_spark.streaming import sinkfmt


def streaming_windowed_counts(
    spark: SparkSession,
    table_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    schema=None,
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """File-source stream → watermarked tumbling-window counts.

    Returns the streaming DataFrame ``(window, key, cnt, sum_value?)``;
    the caller picks the sink (memory for tests, parquet/kafka in prod).
    The watermark bounds state: windows older than (max event time −
    watermark) are finalized and dropped from the state store, so state
    size is O(active windows × keys), independent of stream length.
    """
    if schema is None:
        schema = spark.read.parquet(table_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(table_path)
    )
    stream = ensure_event_time(stream, ts_col)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration).alias("window"), F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def streaming_session_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session aggregation with Spark's NATIVE
    ``session_window`` — the whole-stage-codegen complement to
    :mod:`streaming.stateful`'s ``applyInPandasWithState`` sessionizer:
    same session semantics (merge rows closer than ``gap``), but state
    and merging live entirely in the JVM state store. Use this one when
    per-session logic is expressible as aggregates; use the stateful
    Python path only when it isn't (custom per-event logic). Returns
    ``(key, session_start, session_end, n_events)``; watermark bounds
    state exactly as for tumbling windows."""
    stream = ensure_event_time(stream, ts_col)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"),
            F.col(key_col).alias("key"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "key",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    keys,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (broadcast) dimension snapshot — the standard fact-stream ×
    dimension-table shape. The dimension is re-read per trigger for file
    sources, so slowly-changing dims pick up updates without restarting
    the query; no state store is involved (the join is stateless per
    batch)."""
    if isinstance(keys, str):
        keys = [keys]
    return stream.join(F.broadcast(dim), keys, how)


def streaming_exact_dedup(
    stream: DataFrame,
    key_cols,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose ``key_cols`` were already
    seen within the watermark horizon (``dropDuplicatesWithinWatermark``
    — state is bounded by the horizon, not stream length; the batch twin
    is ``pipeline.dedup.exact_dedup``). Duplicates farther apart than the
    watermark are the layout job's problem (compaction + batch dedup),
    not the ingest stream's."""
    stream = ensure_event_time(stream, ts_col)
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def run_to_memory(
    streaming_df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    timeout_sec: int = 120,
):
    """Drain the stream's backlog into an in-memory table (tests/demos):
    availableNow processes everything present, then stops. Raises if the
    drain does not finish within ``timeout_sec`` — a silently
    partially-populated memory table would poison any determinism
    contract downstream."""
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"stream {query_name!r} did not drain within {timeout_sec}s; "
            "memory table would be partial"
        )
    return q


def _migrate_legacy_batch_partitions(spark, sink_path: str) -> int:
    """Upgrade a pre-r10 rollup sink in place: those were partitioned by
    bare ``batch_id=N``, and the r10 scheme writes ``batch_run=<tok>-<N>``
    — mixed partition-column names in one root fail Spark's partition
    inference ("Conflicting partition column names"), breaking every
    read of the sink after the first post-upgrade batch (r10 review
    finding). Renames ``batch_id=N`` → ``batch_run=legacy-N`` (reserved
    prefix — run tokens are 12 hex chars, so no collision with any
    future run, and a fresh-checkpoint rerun can never clobber the
    migrated partials); the reserved compaction id ``-1`` maps to the
    reserved ``compact--1`` tag. Residual window, documented not fixed:
    a batch that was MID-REPLAY across the upgrade (crashed after its
    pre-upgrade sink write, resumed post-upgrade from the same
    checkpoint) re-lands under its run token next to its ``legacy-N``
    copy and double-counts once — the writer's identity is not
    recoverable from a bare batch id, and preserving every completed
    run's partials outweighs that one-batch crash-spanning-upgrade
    corner. Returns the number of partitions migrated."""
    from elephant_twin_spark.sources import fsio

    fs, jroot, jvm = fsio._fs_and_path(spark, sink_path)
    if not fs.exists(jroot):
        return 0
    jpath = jvm.org.apache.hadoop.fs.Path
    n = 0
    for status in fs.listStatus(jroot):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("batch_id="):
            bid = name[len("batch_id=") :]
            tag = "compact--1" if bid == "-1" else f"legacy-{bid}"
            dest = jpath(f"{sink_path}/batch_run={tag}")
            # dest can already exist: a migration that crashed mid-loop,
            # then a rollback whose replayed batch re-created batch_id=N.
            # Hadoop rename would MOVE the source INSIDE the existing
            # dir (nested partition dirs -> every read fails inference;
            # r10 second-pass review). Both copies hold the same logical
            # batch (the old scheme's replay overwrote whole partitions)
            # — keep the later write.
            if fs.exists(dest):
                fs.delete(dest, True)
            if not fs.rename(status.getPath(), dest):
                raise OSError(
                    f"rollup sink migration: rename {name} -> "
                    f"batch_run={tag} failed under {sink_path}"
                )
            n += 1
    return n


def drop_rollup_run(spark, sink_path: str, checkpoint_path: str) -> int:
    """Checkpoint-loss recovery for the rollup sinks. The batch_run
    scheme deliberately preserves other runs' partials (a fresh
    checkpoint must never clobber a different run's data), which means
    restarting a rollup stream with a NEW checkpoint over the same
    source + sink reprocesses everything and DOUBLES every historical
    count unless the lost run's partials are removed first (r10
    second-pass review: the old bare-batch_id scheme hid this by
    silently overwriting). Call this with the LOST checkpoint's path
    before restarting — it drops exactly that run's partitions — or
    point the restart at a fresh sink. Returns the number of partitions
    dropped."""
    from elephant_twin_spark.sources import fsio
    from elephant_twin_spark.streaming.gate import run_token

    fs, jroot, _ = fsio._fs_and_path(spark, sink_path)
    if not fs.exists(jroot):
        return 0
    prefix = f"batch_run={run_token(checkpoint_path)}-"
    n = 0
    for status in fs.listStatus(jroot):
        if status.isDirectory() and status.getPath().getName().startswith(prefix):
            fs.delete(status.getPath(), True)
            n += 1
    return n


def sketch_rollup_stream(
    stream: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    distinct_col: str = "user_id",
    window_duration: str = "1 hour",
    lg_k: int = 12,
):
    """Streaming mergeable-sketch rollup: each micro-batch appends its
    PARTIAL per-(window, key) HLL sketches to the rollup table; readers
    merge at query time (:func:`read_sketch_rollup`).

    This is the append-only alternative to stateful streaming
    aggregation: no state store at all (sketches are mergeable, so
    partials need no read-modify-write), no watermark needed (late rows
    just append another partial that the merge absorbs). State cost
    moves to merge-on-read, bounded by partials-per-window — compaction
    (re-writing merged sketches) is the same ``hll_union_agg`` applied
    to the table itself. The batch twin is a plain
    ``groupBy(window, key).agg(hll_sketch)`` rollup — identical
    estimates by sketch mergeability.

    Replay safety (r9 review): foreachBatch is at-least-once, and while
    the HLL register-max merge is replay-idempotent, ``n_rows``'s
    SUM-merge is not — a replayed batch's plain append would double the
    count. Each batch therefore writes its own partition with overwrite,
    the same discipline as :func:`cms_rollup_stream` — tagged
    ``batch_run=<run>-<N>`` (:func:`gate.run_token`), not bare
    ``batch_id=N``: batch ids restart at 0 under a fresh checkpoint, so
    a second run over the same sink would silently overwrite the first
    run's partials (r10 advice). Flip side: restarting after checkpoint
    LOSS reprocesses the source and ADDS a second copy of every partial
    — run :func:`drop_rollup_run` with the lost checkpoint's path
    first, or restart into a fresh sink.
    """
    from elephant_twin_spark.functions import sketches
    from elephant_twin_spark.streaming.gate import run_token

    run_tok = run_token(checkpoint_path)
    # unmarked sink => run the legacy batch_id migration once, then
    # stamp the _sink_format marker; marked sinks skip the listing probe
    sinkfmt.ensure_sink_format(
        stream.sparkSession,
        sink_path,
        migrate=lambda: _migrate_legacy_batch_partitions(
            stream.sparkSession, sink_path
        ),
    )

    def append_partials(batch_df: DataFrame, batch_id: int):
        (
            batch_df.groupBy(
                F.window(ts_col, window_duration).alias("window"),
                F.col(key_col).alias("key"),
            )
            .agg(
                sketches.hll_sketch(F.col(distinct_col), lg_k).alias("sketch"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .select(
                F.col("window.start").alias("win_start"),
                F.col("window.end").alias("win_end"),
                "key",
                "sketch",
                "n_rows",
            )
            .write.mode("overwrite")
            .parquet(f"{sink_path}/batch_run={run_tok}-{int(batch_id)}")
        )

    return (
        stream.writeStream.foreachBatch(append_partials)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_sketch_rollup(spark: SparkSession, sink_path: str) -> DataFrame:
    """Merge the partial sketches: ``(win_start, win_end, key,
    distinct_estimate, n_rows)`` — re-aggregation without rescanning
    the stream."""
    from elephant_twin_spark.functions import sketches
    from elephant_twin_spark.sources import fsio

    fsio.require_published(spark, sink_path)
    return (
        spark.read.parquet(sink_path)
        .groupBy("win_start", "win_end", "key")
        .agg(
            sketches.hll_estimate(sketches.hll_merge(F.col("sketch"))).alias(
                "distinct_estimate"
            ),
            F.sum("n_rows").alias("n_rows"),
        )
    )


def compact_sketch_rollup(spark: SparkSession, sink_path: str) -> int:
    """Rewrite the partial-sketch table with one merged sketch per
    (window, key): the same ``hll_union_agg`` that serves reads, applied
    once to the table itself. Bounds merge-on-read cost after many
    micro-batches; correctness unchanged (sketch union is associative).
    Returns the compacted row count.

    SINGLE WRITER: run with the stream STOPPED (the house build/refresh
    contract — fsio.publish_dir's note). The publish replaces the whole
    sink root, so a micro-batch landing between the compaction's read
    and its publish would be deleted with the pre-compaction partials.

    The compaction stages at the one ``.staging`` sibling
    (``fsio.staged_dir``), so a publish crashed between delete and
    rename is DIAGNOSED by name on the next read
    (``fsio.require_published`` in the readers) and healed by the next
    compaction's ``recover_publish``."""
    from elephant_twin_spark.functions import sketches

    from elephant_twin_spark.sources import fsio

    tmp = fsio.staged_dir(sink_path)
    # writer lease: two concurrent compactions share the staged path —
    # same exclusion the index builders/refreshers take. (The
    # stream-stopped contract above still governs compact-vs-batch.)
    with fsio.writer_lease(spark, sink_path) as lease_owner:
        fsio.recover_publish(spark, tmp, sink_path)
        compacted = (
            spark.read.parquet(sink_path)
            .groupBy("win_start", "win_end", "key")
            .agg(
                sketches.hll_merge(F.col("sketch")).alias("sketch"),
                F.sum("n_rows").alias("n_rows"),
            )
        )
        # compacted rows keep the batch_run=<tag> layout (under the reserved
        # tag "compact--1", which no run token can produce — tokens are 12
        # hex chars): the NEXT micro-batch writes another batch_run subdir,
        # and parquet partition discovery cannot mix flat files with
        # partition dirs in one root
        compacted.write.mode("overwrite").parquet(f"{tmp}/batch_run=compact--1")
        fsio.renew_writer_lease(spark, sink_path, lease_owner)
        fsio.publish_dir(spark, tmp, sink_path)
    return spark.read.parquet(sink_path).count()


def cms_rollup_stream(
    stream: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    key_col: str = "event_type",
    depth: int = 3,
    width: int = 1024,
):
    """Streaming mergeable count-min rollup: each micro-batch appends
    its PARTIAL sketch cells ``(row, bucket, cnt)``; merge-on-read is a
    sum per cell (:func:`read_cms_rollup`). Same zero-state discipline
    as :func:`sketch_rollup_stream` — no state store, no watermark —
    but STRONGER equivalence: the md5 bucketing is deterministic and
    the merge is exact addition, so the merged sketch is CELL-IDENTICAL
    to a batch-built sketch over the same rows (the HLL rollup only
    promises matching estimates). Pinned by
    ``test_cms_rollup_stream_equals_batch_sketch``.

    Replay safety: foreachBatch is at-least-once, and unlike the HLL
    register-max merge, SUM-merge is NOT idempotent — so each batch
    writes (overwrite) its own ``batch_run=<run>-<N>`` directory instead
    of appending; a replayed batch rewrites the same partition and the
    read-side sum never double-counts, and a SECOND run over the same
    sink (fresh checkpoint → batch ids restart at 0) gets fresh tags
    instead of clobbering the first run's partials (r10 advice). After
    checkpoint LOSS, drop the lost run's partitions first
    (:func:`drop_rollup_run`) or restart into a fresh sink — a rerun
    over the same source otherwise adds a second copy of every cell."""
    from elephant_twin_spark.functions import sketches
    from elephant_twin_spark.streaming.gate import run_token

    run_tok = run_token(checkpoint_path)
    # unmarked sink => run the legacy batch_id migration once, then
    # stamp the _sink_format marker; marked sinks skip the listing probe
    sinkfmt.ensure_sink_format(
        stream.sparkSession,
        sink_path,
        migrate=lambda: _migrate_legacy_batch_partitions(
            stream.sparkSession, sink_path
        ),
    )

    def append_partials(batch_df: DataFrame, batch_id: int):
        (
            sketches.cms_table(batch_df, key_col, depth=depth, width=width)
            .write.mode("overwrite")
            .parquet(f"{sink_path}/batch_run={run_tok}-{int(batch_id)}")
        )

    return (
        stream.writeStream.foreachBatch(append_partials)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def read_cms_rollup(spark: SparkSession, sink_path: str) -> DataFrame:
    """Merge the partial CMS cells: ``(row, bucket, cnt)`` summed —
    exactly the sketch :func:`~elephant_twin_spark.functions.sketches.cms_table`
    would build over all streamed rows."""
    from elephant_twin_spark.sources import fsio

    fsio.require_published(spark, sink_path)
    return (
        spark.read.parquet(sink_path)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
