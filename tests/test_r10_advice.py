"""Round-10 advice + verdict regression tests.

Covers: run_token checkpoint-path normalization (advice), rollup-stream
batch_run partitioning across fresh-checkpoint reruns (advice, medium),
refresh_lsh_index fold idempotency after a crash between publish and
the bands_grown delete (advice), CacheManager reflection — positive
path on the running Spark AND iteration-shape degrade (verdict item 4 +
advice), reader diagnostics inside publish_dir's delete→rename window
(verdict item 6), and the inputFiles-based fan_out probe (verdict
item 5).
"""

import shutil
import warnings

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from elephant_twin_spark.engine import Engine
from elephant_twin_spark.operators import lifecycle
from elephant_twin_spark.sources import fsio
from elephant_twin_spark.streaming import windows
from elephant_twin_spark.streaming.gate import run_token

LSH_PARAMS = dict(num_perm=8, num_bands=4, shingle_k=2)


# ------------------------------------------------------------ run_token

def test_run_token_normalizes_checkpoint_spellings():
    """The same logical checkpoint spelled differently across restarts
    must yield the SAME token, else a replayed batch writes a NEW
    batch_run partition and duplicate survivors reappear (r10 advice)."""
    base = run_token("/tmp/ck_r10")
    assert run_token("/tmp/ck_r10/") == base
    assert run_token("file:///tmp/ck_r10") == base
    assert run_token("file:///tmp/ck_r10/") == base
    assert run_token("/tmp/other_ck") != base
    assert len(base) == 12 and all(c in "0123456789abcdef" for c in base)


# ------------------------------------- rollup streams: fresh-checkpoint rerun

def test_cms_rollup_second_run_does_not_clobber_first(spark, workdir, events_multifile):
    """Batch ids restart at 0 under a fresh checkpoint: with bare
    batch_id=N partitions a second run over the same sink silently
    overwrote the first run's partials (lost counts). With
    batch_run=<run>-<N> both runs' partials coexist — the merged cells
    are exactly 2× one run's."""
    sink = f"{workdir}/cms_rerun"
    stream_of = lambda: (
        spark.readStream.schema(spark.read.parquet(events_multifile).schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(events_multifile)
    )
    q = windows.cms_rollup_stream(
        stream_of(), sink, f"{workdir}/cms_rerun_ck1", key_col="event_type", depth=2, width=64
    )
    q.awaitTermination(120)
    one_run = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in windows.read_cms_rollup(spark, sink).collect()
    }
    assert len(one_run) > 0
    q2 = windows.cms_rollup_stream(
        stream_of(), sink, f"{workdir}/cms_rerun_ck2", key_col="event_type", depth=2, width=64
    )
    q2.awaitTermination(120)
    two_runs = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in windows.read_cms_rollup(spark, sink).collect()
    }
    assert two_runs == {k: 2 * v for k, v in one_run.items()}
    # both runs' partition tags present, prefixed by distinct run tokens
    runs = {
        r["batch_run"].rsplit("-", 1)[0]
        for r in spark.read.parquet(sink).select("batch_run").distinct().collect()
    }
    assert len(runs) == 2


def test_sketch_rollup_second_run_preserves_partials_and_compacts(
    spark, workdir, events_multifile
):
    """Same rerun safety for the HLL rollup (n_rows' SUM-merge is the
    non-idempotent part), and compaction's reserved batch_run tag
    coexists with later run partitions."""
    sink = f"{workdir}/hll_rerun"
    stream_of = lambda: (
        spark.readStream.schema(spark.read.parquet(events_multifile).schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(events_multifile)
    )
    q = windows.sketch_rollup_stream(
        stream_of(), sink, f"{workdir}/hll_rerun_ck1", window_duration="6 hours"
    )
    q.awaitTermination(120)
    one = {
        (r["win_start"], r["key"]): r["n_rows"]
        for r in windows.read_sketch_rollup(spark, sink).collect()
    }
    assert len(one) > 0
    q2 = windows.sketch_rollup_stream(
        stream_of(), sink, f"{workdir}/hll_rerun_ck2", window_duration="6 hours"
    )
    q2.awaitTermination(120)
    two = {
        (r["win_start"], r["key"]): r["n_rows"]
        for r in windows.read_sketch_rollup(spark, sink).collect()
    }
    assert two == {k: 2 * v for k, v in one.items()}
    # compaction folds everything under the reserved tag; totals survive
    windows.compact_sketch_rollup(spark, sink)
    compacted = {
        (r["win_start"], r["key"]): r["n_rows"]
        for r in windows.read_sketch_rollup(spark, sink).collect()
    }
    assert compacted == two
    tags = {
        r["batch_run"]
        for r in spark.read.parquet(sink).select("batch_run").distinct().collect()
    }
    assert tags == {"compact--1"}
    # a third run appends new partitions next to the reserved one
    q3 = windows.sketch_rollup_stream(
        stream_of(), sink, f"{workdir}/hll_rerun_ck3", window_duration="6 hours"
    )
    q3.awaitTermination(120)
    three = {
        (r["win_start"], r["key"]): r["n_rows"]
        for r in windows.read_sketch_rollup(spark, sink).collect()
    }
    assert three == {k: 3 * v for k, v in one.items()}


def test_drop_rollup_run_recovers_checkpoint_loss(spark, workdir, events_multifile):
    """Checkpoint loss → fresh-checkpoint restart reprocesses the source
    and would double every count; drop_rollup_run removes exactly the
    lost run's partitions so the restart lands clean (r10 second-pass
    review)."""
    sink = f"{workdir}/cms_ckloss"
    batch_df = spark.read.parquet(events_multifile)
    stream_of = lambda: (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(events_multifile)
    )
    lost_ck = f"{workdir}/cms_ckloss_ck1"
    q = windows.cms_rollup_stream(stream_of(), sink, lost_ck, key_col="event_type", depth=2, width=64)
    q.awaitTermination(120)
    one = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in windows.read_cms_rollup(spark, sink).collect()
    }
    # simulate checkpoint loss, then the documented recovery
    shutil.rmtree(lost_ck)
    assert windows.drop_rollup_run(spark, sink, lost_ck) > 0
    q2 = windows.cms_rollup_stream(
        stream_of(), sink, f"{workdir}/cms_ckloss_ck2", key_col="event_type", depth=2, width=64
    )
    q2.awaitTermination(120)
    after = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in windows.read_cms_rollup(spark, sink).collect()
    }
    assert after == one  # clean restart, no doubling


def test_gate_run_token_migration_keeps_replay_domain(spark, workdir):
    """Normalizing the checkpoint path changed every pre-r10 gate
    sink's token; on stream start the old-token partitions are retagged
    so a replayed batch still overwrites its own partition instead of
    duplicating survivors (r10 second-pass review)."""
    from elephant_twin_spark.streaming.gate import (
        _legacy_run_token,
        _retag_run_partitions,
        run_token,
        stream_near_dup_gate,
    )

    corpus = f"{workdir}/tokmig_corpus"
    spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today")]
    ).write.mode("overwrite").parquet(corpus)
    eng = Engine(spark, f"{workdir}/tokmig_root")
    eng.build_lsh_index(corpus, "text", "doc_id", **LSH_PARAMS)
    idx = eng.lsh_index(corpus, "text")

    ck = f"{workdir}/tokmig_ck"
    accepted = f"{workdir}/tokmig_accepted"
    old_tok, new_tok = _legacy_run_token(ck), run_token(ck)
    assert old_tok != new_tok
    # fabricate a pre-r10 sink partition under the un-normalized token
    spark.createDataFrame(
        [Row(doc_id=900, text="a batch committed by the pre-upgrade run")]
    ).write.mode("overwrite").parquet(f"{accepted}/batch_run={old_tok}-0")

    src = f"{workdir}/tokmig_src"
    spark.createDataFrame(
        [Row(doc_id=901, text="novel content about shuffle partition coalescing")]
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    stream_near_dup_gate(stream, idx, "text", "doc_id", accepted, ck, threshold=0.5)

    tags = {
        r["batch_run"]
        for r in spark.read.parquet(accepted).select("batch_run").distinct().collect()
    }
    # the legacy partition now lives under the new token; batch 0 of the
    # resumed checkpoint overwrote it (same replay domain), batch ids
    # continue from there — no old-token partition remains
    assert all(t.startswith(new_tok) for t in tags), tags
    assert not any(t.startswith(old_tok) for t in tags)
    # ...and the replayed batch 0 OVERWROTE its migrated partition (the
    # idempotent-rewrite semantics, not a duplicate next to it)
    docs = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert docs == {901}
    # idempotent: retag again is a no-op
    assert _retag_run_partitions(spark, accepted, old_tok, new_tok) == 0


# ------------------------------------------- LSH refresh fold idempotency

def test_refresh_lsh_fold_idempotent_after_crash(spark, workdir, monkeypatch):
    """A crash between the spine publish and the bands_grown delete
    leaves the folded grown rows in BOTH places; the next refresh must
    not write the duplicates into the spine permanently (r10 advice —
    the bands table grew monotonically with each crashed refresh)."""
    from elephant_twin_spark.streaming.refresh import refresh_lsh_index

    corpus = f"{workdir}/lsh_crash_corpus"
    root = f"{workdir}/lsh_crash_root"
    spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=2, text="spark shuffles data between stages across the cluster"),
        ]
    ).write.mode("overwrite").parquet(corpus)
    eng = Engine(spark, root)
    eng.build_lsh_index(corpus, "text", "doc_id", **LSH_PARAMS)
    idx = eng.lsh_index(corpus, "text")
    # the streaming-gate path: a batch_tag lands the rows in the
    # bands_grown sibling, which the refresh folds into the spine
    idx.append_docs(
        spark.createDataFrame(
            [Row(doc_id=500, text="streaming grown survivor text about broadcast thresholds")]
        ),
        "text",
        "doc_id",
        batch_tag="aaaaaaaaaaaa-0",
    )

    # force refresh 1 and crash it between publish and the grown delete
    spark.createDataFrame(
        [Row(doc_id=3, text="watermark driven state eviction bounds the streaming store")]
    ).write.mode("append").parquet(corpus)
    real_delete = fsio.delete

    def skip_grown_delete(s, path):
        if path.endswith("bands_grown"):
            return  # simulated crash window
        real_delete(s, path)

    monkeypatch.setattr(fsio, "delete", skip_grown_delete)
    assert refresh_lsh_index(spark, corpus, "text", root)["mode"] == "incremental"
    monkeypatch.setattr(fsio, "delete", real_delete)

    # the crash is live: bands() now sees the grown rows twice
    idx = eng.lsh_index(corpus, "text")
    grown = idx.bands().where(F.col("file") == "__grown__")
    assert grown.count() == 2 * LSH_PARAMS["num_bands"]

    # refresh 2 (forced by another new file) folds WITHOUT duplicating
    spark.createDataFrame(
        [Row(doc_id=4, text="completely different content about parquet row groups")]
    ).write.mode("append").parquet(corpus)
    assert refresh_lsh_index(spark, corpus, "text", root)["mode"] == "incremental"
    idx2 = eng.lsh_index(corpus, "text")
    assert idx2.bands().where(F.col("file") == "__grown__").count() == LSH_PARAMS["num_bands"]
    dupes = (
        idx2.bands()
        .groupBy("id", "band", "band_hash", "file")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


# --------------------------------------------- CacheManager reflection

def test_cache_registry_reflection_succeeds_on_this_spark(spark):
    """POSITIVE pin of the reflection path (r9 verdict item 4): on the
    running Spark (pyspark 4.1.2 — CacheManager.cachedData is an
    IndexedSeq of CachedData), _protected_rdd_ids must enumerate a real
    live cache and surface the RDD-backed leaf beneath it WITHOUT the
    degrade warning. A future Spark bump that moves/reshapes the field
    must fail this test loudly instead of silently downgrading the
    global barrier to plan-local in production."""
    from py4j.protocol import Py4JError, Py4JJavaError

    def iter_leaves(nodes, through_caches):
        # minimal RDD-leaf walk, mirroring release()'s probe discipline
        for leaf in nodes:
            try:
                rdd = leaf.rdd()
            except Py4JJavaError:
                raise
            except Py4JError:
                continue
            yield ("rdd", rdd)

    base = spark.range(0, 1000).localCheckpoint()
    cached = base.groupBy((F.col("id") % 5).alias("k")).count().cache()
    cached.count()
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            ids = lifecycle._protected_rdd_ids(spark, [], iter_leaves)
        assert not [
            w for w in caught if "CacheManager registry" in str(w.message)
        ], "reflection degraded on the running Spark"
        # the checkpoint RDD under the live cached plan is protected
        assert len(ids) >= 1
    finally:
        cached.unpersist(True)
        base.unpersist(True)


def test_cache_registry_iteration_shape_degrades_with_warning():
    """On a Spark where cachedData is not an IndexedSeq (older
    java LinkedList shape), entries.apply() raises Py4JError — that must
    degrade to the plan-local barrier with the warning, not hard-fail
    every release() in a cache-holding session (r10 advice)."""
    from py4j.protocol import Py4JError

    class FakeEntries:
        def size(self):
            return 2

        def apply(self, i):  # LinkedList has no Scala apply
            raise Py4JError("Method apply([class java.lang.Integer]) does not exist")

    class FakeField:
        def setAccessible(self, flag):
            pass

        def get(self, cm):
            return FakeEntries()

    class FakeClass:
        def getDeclaredField(self, name):
            assert name == "cachedData"
            return FakeField()

    class FakeCM:
        def isEmpty(self):
            return False

        def getClass(self):
            return FakeClass()

    class FakeShared:
        def cacheManager(self):
            return FakeCM()

    class FakeJSession:
        def sharedState(self):
            return FakeShared()

    class FakeSpark:
        _jsparkSession = FakeJSession()

    def iter_leaves(nodes, through_caches):  # must never be reached
        raise AssertionError("plan walk ran despite shape failure")

    with pytest.warns(RuntimeWarning, match="CacheManager registry"):
        ids = lifecycle._protected_rdd_ids(FakeSpark(), [], iter_leaves)
    assert ids == frozenset()


# ------------------------------------------- publish-window reader diagnosis

def test_reader_in_publish_window_gets_actionable_error(spark, workdir, events_multifile):
    """A reader landing inside publish_dir's delete→rename window (data
    dir missing, staged sibling complete) must get the diagnosis —
    refresh in progress or crashed, data intact, how to recover — not a
    bare parquet path-not-found (r9 verdict item 6)."""
    from elephant_twin_spark import col
    from elephant_twin_spark.sources import catalog

    eng = Engine(spark, f"{workdir}/pubwin_root")
    eng.build_index(events_multifile, "event_type", num_buckets=4)
    idx_dir = catalog.index_dir(f"{workdir}/pubwin_root", events_multifile, "event_type")
    data_dir = idx_dir.replace("file://", "") + "/postings"
    shutil.move(data_dir, fsio.staged_dir(data_dir))
    with pytest.raises(FileNotFoundError, match="staged sibling"):
        eng.query(events_multifile, col("event_type") == "click").count()
    # recover_publish completes the interrupted publish; reads work again
    assert fsio.recover_publish(spark, fsio.staged_dir(data_dir), data_dir)
    assert eng.query(events_multifile, col("event_type") == "click").count() > 0


def test_lsh_bands_reader_publish_window(spark, workdir):
    corpus = f"{workdir}/pubwin_lsh_corpus"
    spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps over the lazy dog")]
    ).write.mode("overwrite").parquet(corpus)
    eng = Engine(spark, f"{workdir}/pubwin_lsh_root")
    eng.build_lsh_index(corpus, "text", "doc_id", **LSH_PARAMS)
    idx = eng.lsh_index(corpus, "text")
    bands_dir = idx.idx_dir.replace("file://", "") + "/bands"
    shutil.move(bands_dir, fsio.staged_dir(bands_dir))
    with pytest.raises(FileNotFoundError, match="staged sibling"):
        idx.bands().count()
    fsio.recover_publish(spark, fsio.staged_dir(bands_dir), bands_dir)
    assert idx.bands().count() == LSH_PARAMS["num_bands"]


# --------------------------------------------------- fan_out probe (item 5)

def test_fan_out_repartitions_single_file_scan(spark, workdir):
    from elephant_twin_spark.operators import layout

    p = f"{workdir}/fanout_single"
    spark.range(0, 10_000).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    assert len(df.inputFiles()) == 1
    out = layout.fan_out(df)
    # the plan now carries the repartition to defaultParallelism
    assert "Exchange" in out._jdf.queryExecution().executedPlan().toString() or (
        out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


def test_fan_out_leaves_parallel_sources_alone(spark, workdir, events_multifile):
    from elephant_twin_spark.operators import layout

    multi = spark.read.parquet(events_multifile)
    assert len(multi.inputFiles()) >= spark.sparkContext.defaultParallelism // 2
    assert layout.fan_out(multi) is multi


def test_fan_out_still_guards_non_file_sources(spark):
    """Non-file relations (foreachBatch frames from Kafka/rate sources)
    report zero input files — they must fall back to the split-aware
    RDD probe, not pass through: a 1-partition batch feeding the ~100×
    shingle expansion serializes the whole map side (r10 review
    finding)."""
    from elephant_twin_spark.operators import layout

    narrow = spark.createDataFrame([Row(a=i) for i in range(100)]).coalesce(1)
    assert len(narrow.inputFiles()) == 0
    out = layout.fan_out(narrow)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_rollup_sink_batch_id_migration(spark, workdir, events_multifile):
    """A pre-r10 sink (bare batch_id=N partitions) resumed under the
    batch_run scheme must be migrated in place: mixed partition-column
    names fail Spark's partition inference, and a replayed batch would
    double-count next to its legacy copy (r10 review finding)."""
    from elephant_twin_spark.functions import sketches

    sink = f"{workdir}/cms_migrate"
    # fabricate the legacy layout: one pre-upgrade micro-batch partial
    batch_df = spark.read.parquet(events_multifile)
    sketches.cms_table(batch_df, "event_type", depth=2, width=64).write.mode(
        "overwrite"
    ).parquet(f"{sink}/batch_id=0")
    legacy = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in windows.read_cms_rollup(spark, sink).collect()
    }
    # post-upgrade run over the same source with a fresh checkpoint
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 3)
        .parquet(events_multifile)
    )
    q = windows.cms_rollup_stream(
        stream, sink, f"{workdir}/cms_migrate_ck", key_col="event_type", depth=2, width=64
    )
    q.awaitTermination(120)
    merged = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in windows.read_cms_rollup(spark, sink).collect()
    }
    assert merged == {k: 2 * v for k, v in legacy.items()}
    # the migrated partition carries the reserved legacy tag, next to
    # the new run's token-tagged partitions
    tags = {
        r["batch_run"]
        for r in spark.read.parquet(sink).select("batch_run").distinct().collect()
    }
    assert "legacy-0" in tags and len(tags) >= 2


def test_cache_registry_jvm_failure_mid_iteration_propagates():
    """A GENUINE JVM failure (Py4JJavaError) during the registry
    enumeration must propagate, not degrade — only the plain
    method-does-not-exist shape signal may fall back (r10 review
    finding: the first fix swallowed both)."""
    from py4j.protocol import Py4JJavaError

    boom = Py4JJavaError.__new__(Py4JJavaError)
    Exception.__init__(boom, "simulated driver JVM failure")

    class FakeEntries:
        def size(self):
            raise boom

        def apply(self, i):
            raise AssertionError("unreachable")

    class FakeField:
        def setAccessible(self, flag):
            pass

        def get(self, cm):
            return FakeEntries()

    class FakeClass:
        def getDeclaredField(self, name):
            return FakeField()

    class FakeCM:
        def isEmpty(self):
            return False

        def getClass(self):
            return FakeClass()

    class FakeShared:
        def cacheManager(self):
            return FakeCM()

    class FakeJSession:
        def sharedState(self):
            return FakeShared()

    class FakeSpark:
        _jsparkSession = FakeJSession()

    with pytest.raises(Py4JJavaError):
        lifecycle._protected_rdd_ids(FakeSpark(), [], lambda n, through_caches: iter(()))


def test_bloom_sketch_reader_publish_window(spark, workdir, events_multifile):
    """read_bloom_sketch reads a publish_dir-managed dir too — it gets
    the same mid-publish diagnosis as postings/zones/bands/vectors
    (r10 review finding: it was the one reader missed)."""
    from elephant_twin_spark.operators import build as build_mod
    from elephant_twin_spark.sources import catalog

    eng = Engine(spark, f"{workdir}/pubwin_bloom_root")
    eng.build_bloom_index(events_multifile, "user_id")
    idx_dir = catalog.index_dir(
        f"{workdir}/pubwin_bloom_root", events_multifile, "user_id", kind="bloom"
    )
    sketch_dir = idx_dir.replace("file://", "") + "/sketch"
    shutil.move(sketch_dir, fsio.staged_dir(sketch_dir))
    with pytest.raises(FileNotFoundError, match="staged sibling"):
        build_mod.read_bloom_sketch(spark, idx_dir).count()
    fsio.recover_publish(spark, fsio.staged_dir(sketch_dir), sketch_dir)
    assert build_mod.read_bloom_sketch(spark, idx_dir).count() > 0


def test_salted_join_rejects_right_preserving_types(spark):
    """salted_join replicates the right side once per salt, so join
    types that preserve unmatched RIGHT rows would emit them num_salts
    times null-extended — silently wrong output. The guard raises."""
    import pytest

    from elephant_twin_spark.operators import skew

    l = spark.range(10).withColumnRenamed("id", "k")
    r = spark.range(20).withColumnRenamed("id", "k")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="unmatched right rows"):
            skew.salted_join(l, r, "k", num_salts=4, how=how)
    # left-preserving types stay accepted and correct on the hot path:
    # every right k in [0,10) matches, none duplicates
    got = skew.salted_join(l, r, "k", num_salts=4, how="left").collect()
    assert len(got) == 10


def test_outlier_audits_keep_null_group(spark):
    """r10 review fix: a NULL group (untagged language/source) is a real
    audit population — iqr_outliers and mad_outliers joined their
    fence/median tables with plain equality and silently dropped it,
    while winsorized_stats (the documented pair) kept it. All three now
    agree."""
    from pyspark.sql import Row

    from elephant_twin_spark.operators.pipeline import stats

    df = spark.createDataFrame(
        [Row(g="a", v=float(i)) for i in range(10)]
        + [Row(g=None, v=float(i)) for i in range(10)],
        "g string, v double",
    )
    for fn in (
        lambda: stats.iqr_outliers(df, "v", "g"),
        lambda: stats.mad_outliers(df, "v", "g"),
        lambda: stats.winsorized_stats(df, "v", "g"),
    ):
        rows = {r["grp"]: r["n"] for r in fn().collect()}
        assert rows == {"a": 10, None: 10}, rows
