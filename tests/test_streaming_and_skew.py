"""Streaming windowed aggregation + skew utility tests."""

import pyspark.sql.functions as F
import pytest

from elephant_twin_spark.operators import skew
from elephant_twin_spark.streaming import windows

from conftest import SF_DIR


def test_streaming_windowed_counts(spark, workdir, events_multifile):
    sdf = windows.streaming_windowed_counts(
        spark,
        events_multifile,
        ts_col="ts",
        key_col="event_type",
        window_duration="1 hour",
        watermark="2 hours",
    )
    assert sdf.isStreaming
    windows.run_to_memory(sdf, "win_counts", output_mode="append")
    got = spark.table("win_counts")
    # append mode emits only watermark-finalized windows; every emitted
    # window must match the batch computation exactly
    batch = (
        spark.read.parquet(events_multifile)
        .groupBy(F.window("ts", "1 hour").alias("window"), F.col("event_type").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    g = {(r["window"]["start"], r["key"]): r["cnt"] for r in got.collect()}
    b = {(r["window"]["start"], r["key"]): r["cnt"] for r in batch.collect()}
    assert len(g) > 0
    for k, v in g.items():
        assert b[k] == v, k
    # all but the last (unfinalized) windows were emitted
    assert len(g) >= len(b) - 10 * 5  # watermark holds back ~2h x keys


def test_salted_aggregate_matches_plain(spark, events_multifile):
    df = spark.read.parquet(events_multifile)
    got = skew.salted_aggregate(
        df,
        ["event_type"],
        [F.count(F.lit(1)).alias("c"), F.collect_set("user_id").alias("us")],
        [
            F.sum("c").alias("cnt"),
            F.array_distinct(F.flatten(F.collect_list("us"))).alias("users"),
        ],
        num_salts=8,
    )
    plain = df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.collect_set("user_id").alias("users")
    )
    g = {r["event_type"]: (r["cnt"], sorted(r["users"])) for r in got.collect()}
    p = {r["event_type"]: (r["cnt"], sorted(r["users"])) for r in plain.collect()}
    assert g == p


def test_salted_join_matches_plain(spark, events_multifile):
    df = spark.read.parquet(events_multifile)
    dim_rows = [(t, f"name_{t}") for t in ["click", "view", "purchase", "signup", "error"]]
    dim = spark.createDataFrame(dim_rows, "event_type string, label string")
    got = skew.salted_join(df, dim, "event_type", num_salts=4)
    plain = df.join(dim, "event_type")
    assert got.count() == plain.count()
    assert sorted(got.columns) == sorted(plain.columns)
    g = got.groupBy("label").count().collect()
    p = plain.groupBy("label").count().collect()
    assert {r["label"]: r["count"] for r in g} == {r["label"]: r["count"] for r in p}


def test_top_frequent_keys(spark, events_multifile):
    df = spark.read.parquet(events_multifile)
    top = skew.top_frequent_keys(df, "event_type", 3).collect()
    assert len(top) == 3
    assert top[0]["cnt"] >= top[1]["cnt"] >= top[2]["cnt"]
    assert 0 < top[0]["share"] < 1


def test_streaming_sessionize_matches_batch(spark, workdir):
    """applyInPandasWithState sessionization: every emitted session must
    equal the batch sessionize answer; sessions still open at the end of
    the backlog are the only permitted difference."""
    from elephant_twin_spark.operators.sessionize import session_stats
    from elephant_twin_spark.streaming import stateful
    from elephant_twin_spark.sources import tables

    src = f"{workdir}/events_time_chunked"
    ev = tables.load_raw(spark, f"{SF_DIR}/events.parquet").select("user_id", "ts")
    # time-ordered chunk files: each micro-batch advances event time, so
    # the watermark moves forward and closes earlier sessions
    ev.repartitionByRange(6, F.col("ts")).sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(src)
    # FileStreamSource batches files in modification-time order, which is
    # identical for one write job — force mod-times ascending with the ts
    # range (part-NNNNN ordering) so the stream replays in event-time order
    import os as _os
    import time as _time

    parts = sorted(p for p in _os.listdir(src) if p.startswith("part-"))
    base = _time.time() - len(parts) * 10
    for i, p in enumerate(parts):
        _os.utime(f"{src}/{p}", (base + i * 10, base + i * 10))

    import shutil

    out, ckpt = f"{workdir}/sessions_out", f"{workdir}/sessions_ckpt"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def drain():
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sdf = stateful.streaming_sessionize(stream, gap_seconds=1800, watermark="1 hour")
        assert sdf.isStreaming
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    batch = session_stats(spark.read.parquet(src), gap_seconds=1800)
    want = {
        (r["user_id"], r["sess_start"], r["sess_end"], r["n_events"])
        for r in batch.collect()
    }

    drain()  # processes the backlog; the watermark lags, tail sessions stay open
    # sentinel event far past everything: the next drain's watermark then
    # closes every real session (only the sentinel's own stays open)
    sentinel = (
        spark.read.parquet(src)
        .agg((F.max("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"))
        .select(F.lit(-1).cast("long").alias("user_id"), "ts")
    )
    sentinel.write.mode("append").parquet(src)
    drain()

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out).where(F.col("user_id") >= 0).collect()
    }
    # exactly-once append: parquet row count == distinct session count
    n_rows = spark.read.parquet(out).where(F.col("user_id") >= 0).count()
    assert n_rows == len(got), "duplicate session emissions"
    assert got == want, (
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )


def test_streaming_exact_dedup(spark, workdir):
    from elephant_twin_spark.sources import tables

    src = f"{workdir}/stream_dedup_src"
    ev = tables.load_raw(spark, f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    # duplicate every row once → stream must emit each key exactly once
    ev.union(ev).coalesce(2).write.mode("overwrite").parquet(src)

    from elephant_twin_spark.streaming.windows import streaming_exact_dedup

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sdf = streaming_exact_dedup(stream, ["event_id"], watermark="48 hours")
    windows.run_to_memory(sdf, "dedup_out", output_mode="append", timeout_sec=180)
    got = spark.table("dedup_out")
    n_unique = spark.read.parquet(src).select("event_id").distinct().count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_stream_stream_interval_join_matches_batch(spark, workdir):
    """Inner stream-stream join with time bounds: an availableNow drain
    must emit exactly the batch join's rows (inner matches emit eagerly;
    the watermark only governs state eviction)."""
    from elephant_twin_spark.streaming import joins
    from elephant_twin_spark.operators import temporal
    from elephant_twin_spark.sources import tables

    src = f"{workdir}/events_join_chunked"
    ev = tables.load_raw(spark, f"{SF_DIR}/events.parquet")
    ev.repartitionByRange(4, F.col("ts")).sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(src)
    import os as _os
    import time as _time

    parts = sorted(p for p in _os.listdir(src) if p.startswith("part-"))
    base = _time.time() - len(parts) * 10
    for i, p in enumerate(parts):
        _os.utime(f"{src}/{p}", (base + i * 10, base + i * 10))

    schema = spark.read.parquet(src).schema

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    purchases = (
        stream()
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"))
    )
    errors = (
        stream()
        .where(F.col("event_type") == "error")
        .select("user_id", F.col("event_id").alias("e_id"), F.col("ts").alias("e_ts"))
    )
    joined = joins.stream_stream_interval_join(
        purchases, errors, ["user_id"], "p_ts", "e_ts",
        lower="30 minutes", upper="30 minutes", watermark="1 hour",
    )
    assert joined.isStreaming

    import shutil

    out, ckpt = f"{workdir}/ssj_out", f"{workdir}/ssj_ckpt"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["p_id"], r["e_id"])
        for r in spark.read.parquet(out).select("p_id", "e_id").collect()
    }
    bev = spark.read.parquet(src)
    bp = bev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    be = bev.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("event_id").alias("e_id"),
        F.col("ts").alias("e_ts"),
    )
    want = {
        (r["p_id"], r["e_id"])
        for r in bp.join(
            be,
            (bp.user_id == be.e_user)
            & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 minutes"))
            & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    assert len(want) > 0
    assert got == want


def test_streaming_sketch_rollup_matches_batch(spark, workdir, events_multifile):
    """Partial HLL sketches appended per micro-batch merge to the same
    estimates as one batch sketch rollup; estimates within HLL error of
    exact distinct counts."""
    from elephant_twin_spark.streaming import windows as w
    from elephant_twin_spark.functions import sketches

    schema = spark.read.parquet(events_multifile).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(events_multifile)
    )
    sink, ckpt = f"{workdir}/sketch_sink", f"{workdir}/sketch_ckpt"
    q = w.sketch_rollup_stream(stream, sink, ckpt, window_duration="6 hours")
    q.awaitTermination(180)

    merged = {
        (r["win_start"], r["key"]): r["distinct_estimate"]
        for r in w.read_sketch_rollup(spark, sink).collect()
    }
    assert len(merged) > 0

    ev = spark.read.parquet(events_multifile)
    batch_sketch = {
        (r["window"]["start"], r["key"]): r["est"]
        for r in ev.groupBy(
            F.window("ts", "6 hours").alias("window"),
            F.col("event_type").alias("key"),
        )
        .agg(
            sketches.hll_estimate(sketches.hll_sketch(F.col("user_id"))).alias("est")
        )
        .collect()
    }
    exact = {
        (r["window"]["start"], r["key"]): r["d"]
        for r in ev.groupBy(
            F.window("ts", "6 hours").alias("window"),
            F.col("event_type").alias("key"),
        )
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(merged) == set(batch_sketch) == set(exact)
    for k, est in merged.items():
        # sketch-of-union == union-of-sketches (mergeability)
        assert est == batch_sketch[k], (k, est, batch_sketch[k])
        assert abs(est - exact[k]) <= max(2, 0.05 * exact[k]), (k, est, exact[k])


def test_compact_sketch_rollup_preserves_estimates(spark, workdir, events_multifile):
    from elephant_twin_spark.streaming import windows as w

    schema = spark.read.parquet(events_multifile).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_multifile)
    )
    sink, ckpt = f"{workdir}/sketch_c_sink", f"{workdir}/sketch_c_ckpt"
    q = w.sketch_rollup_stream(stream, sink, ckpt, window_duration="6 hours")
    q.awaitTermination(180)

    before = {
        (r["win_start"], r["key"]): (r["distinct_estimate"], r["n_rows"])
        for r in w.read_sketch_rollup(spark, sink).collect()
    }
    n_partials = spark.read.parquet(sink).count()
    n_after = w.compact_sketch_rollup(spark, sink)
    assert n_after == len(before) <= n_partials
    spark.catalog.refreshByPath(sink)
    after = {
        (r["win_start"], r["key"]): (r["distinct_estimate"], r["n_rows"])
        for r in w.read_sketch_rollup(spark, sink).collect()
    }
    assert after == before


def test_stream_stream_left_outer_join_emits_nulls(spark, workdir):
    """Left-outer stream-stream join: unmatched left rows emit with NULL
    right side once the watermark passes their bound. availableNow
    drains hold the watermark one batch back, so a far-future sentinel
    file + second drain flushes the tail (see memory: sentinel trick)."""
    import datetime
    import os as _os
    import time as _time

    from elephant_twin_spark.streaming import joins
    from elephant_twin_spark.sources import tables

    src = f"{workdir}/events_louter_chunked"
    ev = tables.load_raw(spark, f"{SF_DIR}/events.parquet")
    ev.repartitionByRange(4, F.col("ts")).sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(src)
    parts = sorted(p for p in _os.listdir(src) if p.startswith("part-"))
    base = _time.time() - (len(parts) + 2) * 10
    for i, p in enumerate(parts):
        _os.utime(f"{src}/{p}", (base + i * 10, base + i * 10))

    schema = spark.read.parquet(src).schema
    far = datetime.datetime(2030, 1, 1)
    sentinel = spark.createDataFrame(
        [
            (10**9, far, 10**6, "purchase", 0.0, "{}"),
            (10**9 + 1, far, 10**6, "error", 0.0, "{}"),
        ],
        schema=schema,
    )

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        purchases = stream.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
        )
        errors = stream.where(F.col("event_type") == "error").select(
            "user_id", F.col("event_id").alias("e_id"), F.col("ts").alias("e_ts")
        )
        joined = joins.stream_stream_interval_join(
            purchases, errors, ["user_id"], "p_ts", "e_ts",
            lower="30 minutes", upper="30 minutes", watermark="1 hour",
            how="left_outer",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", f"{workdir}/lo_out")
            .option("checkpointLocation", f"{workdir}/lo_ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    sentinel.coalesce(1).write.mode("append").parquet(src)
    spark.catalog.refreshByPath(src)
    drain()

    res = spark.read.parquet(f"{workdir}/lo_out").where(F.col("p_id") < 10**9)
    got_matched = {
        (r["p_id"], r["e_id"]) for r in res.where(F.col("e_id").isNotNull()).collect()
    }
    got_null = {r["p_id"] for r in res.where(F.col("e_id").isNull()).collect()}

    b = spark.read.parquet(src).where(F.col("event_id") < 10**9)
    bp = b.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    be = b.where(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("event_id").alias("e_id"),
        F.col("ts").alias("e_ts"),
    )
    matched = bp.join(
        be,
        (bp.user_id == be.e_user)
        & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 minutes"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 minutes")),
    )
    want_matched = {(r["p_id"], r["e_id"]) for r in matched.collect()}
    all_p = {r["p_id"] for r in bp.collect()}
    want_null = all_p - {p for p, _ in want_matched}

    assert got_matched == want_matched
    assert got_null == want_null and len(want_null) > 0


def test_streaming_session_counts_matches_batch(spark, workdir, events_multifile):
    """Native session_window streaming agg: finalized sessions must equal
    the batch session_window computation (complete set: the fixture's
    event times are far in the past, so the watermark closes everything
    once the backlog drains... except possibly each key's last session —
    emitted only when the watermark passes it, which availableNow's final
    batch advances past for this fixture)."""
    stream = (
        spark.readStream.schema(spark.read.parquet(events_multifile).schema)
        .parquet(events_multifile)
    )
    sdf = windows.streaming_session_counts(
        stream, ts_col="ts", key_col="user_id", gap="30 minutes", watermark="1 hour"
    )
    assert sdf.isStreaming
    windows.run_to_memory(sdf, "sess_counts", output_mode="append")
    got = {
        (r["key"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("sess_counts").collect()
    }
    batch = (
        spark.read.parquet(events_multifile)
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
            F.col("user_id").alias("key"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("key", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n_events")
    )
    want = {(r["key"], r["s"], r["e"], r["n_events"]) for r in batch.collect()}
    assert got <= want          # nothing emitted that batch wouldn't produce
    assert len(got) >= len(want) * 0.8 and got  # at most the open tail differs


def test_stream_static_enrich_matches_batch(spark, workdir, events_multifile):
    dim = spark.createDataFrame(
        [("click", "interaction"), ("view", "interaction"), ("purchase", "conversion"),
         ("signup", "conversion"), ("error", "ops")],
        "event_type string, category string",
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(events_multifile).schema)
        .parquet(events_multifile)
    )
    enriched = windows.stream_static_enrich(stream, dim, "event_type")
    assert enriched.isStreaming
    windows.run_to_memory(enriched, "enriched_events", output_mode="append")
    got = spark.table("enriched_events")
    batch = spark.read.parquet(events_multifile).join(dim, "event_type", "left")
    assert got.count() == batch.count()
    g = {r["category"]: 1 for r in got.select("category").distinct().collect()}
    b = {r["category"]: 1 for r in batch.select("category").distinct().collect()}
    assert g == b


def test_streaming_hash_sample_matches_batch(spark, events_multifile):
    """mixture.hash_sample with precomputed rates is a pure per-row
    filter, so the streaming kept-set is IDENTICAL to batch — the
    stateless mixture-resampling path the scale docs promise."""
    from elephant_twin_spark.operators.pipeline import mixture

    batch_df = spark.read.parquet(events_multifile)
    rates = {"click": 0.5, "view": 0.25, "purchase": 1.0, "signup": 0.1, "error": 0.0}
    kept_batch = mixture.hash_sample(
        batch_df, "event_type", None, "event_id", seed=7, rates=rates
    )
    stream = (
        spark.readStream.schema(batch_df.schema).parquet(events_multifile)
    )
    kept_stream = mixture.hash_sample(
        stream, "event_type", None, "event_id", seed=7, rates=rates
    )
    assert kept_stream.isStreaming
    windows.run_to_memory(kept_stream, "hash_sample_out", output_mode="append")
    got = {r["event_id"] for r in spark.table("hash_sample_out").select("event_id").collect()}
    want = {r["event_id"] for r in kept_batch.select("event_id").collect()}
    assert got == want and len(want) > 0
    # rate-0 group fully dropped
    assert spark.table("hash_sample_out").where("event_type = 'error'").count() == 0


def test_cms_rollup_stream_equals_batch_sketch(spark, workdir, events_multifile):
    """The streamed CMS rollup (partial cells per micro-batch, summed on
    read) must be CELL-IDENTICAL to the batch-built sketch — exact-merge
    mergeability, stronger than the HLL rollup's estimate equality."""
    from elephant_twin_spark.functions import sketches

    batch_df = spark.read.parquet(events_multifile)
    sink = f"{workdir}/cms_rollup"
    ckpt = f"{workdir}/cms_rollup_ckpt"
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 3)  # force several micro-batches
        .parquet(events_multifile)
    )
    q = windows.cms_rollup_stream(stream, sink, ckpt, key_col="event_type", depth=2, width=64)
    q.awaitTermination(120)
    merged = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in windows.read_cms_rollup(spark, sink).collect()
    }
    batch = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in sketches.cms_table(batch_df, "event_type", depth=2, width=64).collect()
    }
    assert merged == batch and len(batch) > 0
    # and the estimates drawn from the merged table match the batch ones
    keys = batch_df.select("event_type").distinct()
    merged_df = windows.read_cms_rollup(spark, sink)
    est_m = {
        r["event_type"]: r["est_cnt"]
        for r in sketches.cms_estimate(keys, merged_df, "event_type", 2, 64).collect()
    }
    truth = {
        r["event_type"]: r["n"]
        for r in batch_df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for k, t in truth.items():
        assert est_m[k] >= t  # CMS never undercounts


def test_crashed_compaction_publish_is_diagnosed_and_healed(spark, workdir):
    """The compaction stages at the one staged-sibling name, so a
    publish crashed between delete and rename is DIAGNOSED by name on
    read (require_published — not a bare parquet path-not-found) and
    HEALED by the next compaction's recover_publish."""
    import os

    import pytest

    from elephant_twin_spark.sources import fsio
    from elephant_twin_spark.streaming import windows as w

    sink = f"{workdir}/sketch_crash_sink"
    # hand-built partials (two batch_run dirs), no stream needed
    rows = spark.createDataFrame(
        [(i, f"u{i % 7}") for i in range(200)], "event_id long, user_id string"
    ).withColumn("ts", F.lit("2024-01-01 00:30:00").cast("timestamp")) \
     .withColumn("event_type", F.lit("click"))
    from elephant_twin_spark.functions import sketches

    part = (
        rows.groupBy(F.window("ts", "1 hour").alias("window"), F.col("event_type").alias("key"))
        .agg(sketches.hll_sketch(F.col("user_id"), 12).alias("sketch"),
             F.count(F.lit(1)).alias("n_rows"))
        .select(F.col("window.start").alias("win_start"),
                F.col("window.end").alias("win_end"), "key", "sketch", "n_rows")
    )
    part.write.parquet(f"{sink}/batch_run=aaaaaaaaaaaa-0")
    part.write.parquet(f"{sink}/batch_run=aaaaaaaaaaaa-1")
    truth = {
        (r["win_start"], r["key"]): r["n_rows"]
        for r in w.read_sketch_rollup(spark, sink).collect()
    }

    w.compact_sketch_rollup(spark, sink)
    os.rename(sink, fsio.staged_dir(sink))  # the crashed delete->rename state

    with pytest.raises(FileNotFoundError, match="recover_publish"):
        w.read_sketch_rollup(spark, sink).collect()

    w.compact_sketch_rollup(spark, sink)  # recover_publish heals first
    spark.catalog.refreshByPath(sink)
    healed = {
        (r["win_start"], r["key"]): r["n_rows"]
        for r in w.read_sketch_rollup(spark, sink).collect()
    }
    assert healed == truth
    assert not os.path.exists(fsio.staged_dir(sink))
