"""End-to-end tests for the sparse block index: build → pruned scan →
verify, mirroring the reference's own oracle strategy (SURVEY §5): the
index-accelerated result must equal the naive full-scan result for every
key and AND/OR combination, plus the stale/empty/no-match edge cases
(FIXTURES.md §4)."""

import pyspark.sql.functions as F
import pytest

from elephant_twin_spark import Engine, col
from elephant_twin_spark.plans.expr import And, Eq, Or, Raw, extract_pushable

from conftest import SF_DIR


@pytest.fixture(scope="module")
def engine(spark, workdir, events_multifile):
    eng = Engine(spark, f"{workdir}/index_root")
    eng.build_index(events_multifile, "event_type", num_buckets=4)
    eng.build_index(events_multifile, "user_id", num_buckets=4)
    return eng


def rows(df, order_cols=("event_id",)):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def test_eq_matches_fullscan(engine, spark, events_multifile):
    full = spark.read.parquet(events_multifile).where(F.col("event_type") == "click")
    got = engine.query(events_multifile, col("event_type") == "click")
    assert rows(got) == rows(full)
    assert len(rows(got)) > 0


def test_eq_prunes_files(engine, events_multifile):
    engine.query(events_multifile, col("event_type") == "click").count()
    m = engine.last_metrics
    assert m.total_files == 8
    # 'click' appears in every file at this size; a rare user_id should prune
    engine.query(events_multifile, col("user_id") == 13).count()


def test_and_or_match_fullscan(engine, spark, events_multifile):
    base = spark.read.parquet(events_multifile)
    pred_and = (col("event_type") == "click") & (col("user_id") == 12)
    full_and = base.where((F.col("event_type") == "click") & (F.col("user_id") == 12))
    assert rows(engine.query(events_multifile, pred_and)) == rows(full_and)

    pred_or = (col("event_type") == "signup") | (col("event_type") == "error")
    full_or = base.where((F.col("event_type") == "signup") | (F.col("event_type") == "error"))
    assert rows(engine.query(events_multifile, pred_or)) == rows(full_or)


def test_residual_predicate(engine, spark, events_multifile):
    pred = (col("event_type") == "purchase") & (col("value") > 50.0)
    full = spark.read.parquet(events_multifile).where(
        (F.col("event_type") == "purchase") & (F.col("value") > 50.0)
    )
    assert rows(engine.query(events_multifile, pred)) == rows(full)
    # value is not indexed; pushdown must be the event_type leaf alone
    assert "purchase" in engine.last_metrics.pushed
    assert "value" not in engine.last_metrics.pushed


def test_no_match_key_reads_zero_files(engine, events_multifile):
    got = engine.query(events_multifile, col("event_type") == "zzz_nope")
    assert got.count() == 0
    assert engine.last_metrics.scanned_files == 0
    assert engine.last_metrics.scanned_bytes == 0


def test_unindexed_predicate_full_scans(engine, spark, events_multifile):
    got = engine.query(events_multifile, Raw(F.col("value") < 10.0))
    full = spark.read.parquet(events_multifile).where(F.col("value") < 10.0)
    assert rows(got) == rows(full)
    assert engine.last_metrics.pushed is None
    assert engine.last_metrics.scanned_files == engine.last_metrics.total_files


def test_verify_harness(engine, events_multifile):
    n = engine.assert_index_consistent(events_multifile, "event_type")
    assert n == 5  # signup/click/error/view/purchase


def test_stale_file_falls_back_to_fullscan(spark, workdir, events_multifile):
    """FIXTURES.md §4.4: mutate one source file after indexing → that file
    full-scans; results still exact."""
    import glob
    import shutil

    stale_tbl = f"{workdir}/events_stale"
    shutil.copytree(events_multifile.replace("file:", ""), stale_tbl, dirs_exist_ok=True)
    eng = Engine(spark, f"{workdir}/index_root_stale")
    eng.build_index(stale_tbl, "event_type", num_buckets=4)

    # overwrite one data file with rows whose event_type the index has
    # never seen (simulates an in-place mutation)
    part = sorted(glob.glob(f"{stale_tbl}/part-*.parquet"))[0]
    df = spark.read.parquet(part)
    mutated = df.withColumn("event_type", F.lit("mutant"))
    tmp_out = f"{workdir}/_mutant_out"
    mutated.coalesce(1).write.mode("overwrite").parquet(tmp_out)
    new_part = sorted(glob.glob(f"{tmp_out}/part-*.parquet"))[0]
    shutil.copyfile(new_part, part)
    import os

    for crc in glob.glob(f"{stale_tbl}/.*.crc"):
        os.remove(crc)  # stale Hadoop LocalFS checksum sidecars
    spark.catalog.refreshByPath(stale_tbl)

    full = spark.read.parquet(stale_tbl).where(F.col("event_type") == "mutant")
    got = eng.query(stale_tbl, col("event_type") == "mutant")
    assert rows(got) == rows(full)
    assert got.count() > 0
    assert eng.last_metrics.stale_files == 1


def test_sampled_index_build(spark, workdir, events_multifile):
    """FIXTURES.md §4.7: sampling build (p<1) indexes a Bernoulli subset."""
    eng = Engine(spark, f"{workdir}/index_root_sampled")
    eng.build_index(events_multifile, "event_type", num_buckets=2, sample_fraction=0.5)
    total = (
        eng.postings(events_multifile, "event_type")
        .agg(F.sum("cnt"))
        .collect()[0][0]
    )
    n = spark.read.parquet(events_multifile).count()
    assert 0.3 * n < total < 0.7 * n


def test_empty_string_key(spark, workdir):
    """FIXTURES §1: the excite fixture has empty query strings — the
    empty-string key must index and look up like any other value."""
    rows = [(i, "" if i % 3 == 0 else f"k{i % 5}") for i in range(300)]
    tbl = f"{workdir}/empty_key_tbl"
    spark.createDataFrame(rows, "id long, q string").repartition(4).write.mode(
        "overwrite"
    ).parquet(tbl)
    eng = Engine(spark, f"{workdir}/empty_key_root")
    eng.build_index(tbl, "q", num_buckets=2)
    got = eng.query(tbl, col("q") == "")
    want = spark.read.parquet(tbl).where(F.col("q") == "")
    assert got.count() == want.count() == 100
    eng.assert_index_consistent(tbl, "q")


def test_null_keys_not_indexed_but_residual_works(spark, workdir):
    rows = [(i, None if i % 2 == 0 else "a") for i in range(100)]
    tbl = f"{workdir}/null_key_tbl"
    spark.createDataFrame(rows, "id long, q string").repartition(2).write.mode(
        "overwrite"
    ).parquet(tbl)
    eng = Engine(spark, f"{workdir}/null_key_root")
    eng.build_index(tbl, "q", num_buckets=2)
    # nulls never appear as postings keys
    assert eng.postings(tbl, "q").where(F.col("key").isNull()).count() == 0
    # Eq lookup excludes nulls (SQL semantics) and matches full scan
    assert eng.query(tbl, col("q") == "a").count() == 50
    # isNull residual predicate full-scans correctly
    from elephant_twin_spark.plans.expr import Raw

    assert eng.query(tbl, Raw(F.col("q").isNull())).count() == 50


def test_extract_pushable_rules():
    idx = {"a", "b"}
    assert extract_pushable(Eq("a", "x"), idx) is not None
    assert extract_pushable(Eq("z", "x"), idx) is None
    # AND with one unpushable side → other side survives
    t = extract_pushable(And(Eq("a", "x"), Eq("z", "y")), idx)
    assert isinstance(t, Eq) and t.column == "a"
    # OR with one unpushable side → nothing pushable
    assert extract_pushable(Or(Eq("a", "x"), Eq("z", "y")), idx) is None
    # nested
    t = extract_pushable(Or(And(Eq("a", "1"), Eq("z", "2")), Eq("b", "3")), idx)
    assert isinstance(t, Or)


def test_range_merge_invariants(engine, events_multifile):
    """Postings ranges are sorted and non-overlapping (the
    MapFileIndexingReducer merge invariant)."""
    bad = (
        engine.postings(events_multifile, "event_type")
        .select(
            F.exists(
                F.expr(
                    "transform(ranges, (r, i) -> i > 0 AND r.start < element_at(ranges, i)."
                    "end)"
                ),
                lambda x: x,
            ).alias("overlap")
        )
        .where(F.col("overlap"))
        .count()
    )
    assert bad == 0


def test_multi_column_build_matches_individual(spark, workdir, events_multifile):
    from elephant_twin_spark import Engine

    a = Engine(spark, f"{workdir}/multi_a")
    a.build_index(events_multifile, "event_type", num_buckets=4)
    a.build_index(events_multifile, "user_id", num_buckets=4)

    b = Engine(spark, f"{workdir}/multi_b")
    results = b.build_indexes(
        events_multifile, ["event_type", "user_id"], num_buckets=4
    )
    assert [r.column for r in results] == ["event_type", "user_id"]

    for colname in ("event_type", "user_id"):
        pa = a.postings(events_multifile, colname).orderBy("key", "file")
        pb = b.postings(events_multifile, colname).orderBy("key", "file")
        ra, rb = pa.collect(), pb.collect()
        assert ra == rb and len(ra) > 0

    # queries through the shared-scan indexes stay exact
    got = b.query(events_multifile, col("event_type") == "click").count()
    want = (
        spark.read.parquet(events_multifile)
        .where(F.col("event_type") == "click")
        .count()
    )
    assert got == want


def test_expression_index(spark, workdir):
    """Index an arbitrary SQL expression under a virtual column name —
    the reference's pluggable key-extractor surface (SURVEY §2.9)."""
    from elephant_twin_spark.sources import tables as T

    src = f"{workdir}/events_time_clustered"
    ev = T.load_raw(spark, f"{SF_DIR}/events.parquet")
    ev.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(src)

    eng = Engine(spark, f"{workdir}/expr_idx_root")
    eng.build_index(src, "event_date", key_expr="to_date(ts)", num_buckets=4)

    day = "2024-01-05"
    got = eng.query(src, col("event_date") == day)
    want = spark.read.parquet(src).where(F.to_date("ts") == F.lit(day))
    assert got.count() == want.count() > 0
    m = eng.last_metrics
    assert "event_date" in (m.pushed or "")
    # time-clustered files: one day lives in ~1 of 8 files
    assert m.scanned_files < m.total_files, m.as_dict()

    # composes with plain-column predicates (residual evaluated exactly)
    mixed = eng.query(src, (col("event_date") == day) & (col("event_type") == "click"))
    want2 = spark.read.parquet(src).where(
        (F.to_date("ts") == F.lit(day)) & (F.col("event_type") == "click")
    )
    assert mixed.count() == want2.count() > 0

    # no-match day prunes everything
    assert eng.query(src, col("event_date") == "1999-01-01").count() == 0


def test_and_interval_intersection_excludes_file(spark, workdir):
    """Sub-file interval evidence → whole-file exclusion: two keys whose
    matching blocks inside ONE file don't overlap must prune the file on
    an AND query, and single-key metrics must report block bytes, not the
    whole file size (the reference's totalBytesNewSplits)."""
    src = f"{workdir}/interval_excl_tbl"
    n = 200_000
    df = spark.range(n).selectExpr(
        "id",
        "CASE WHEN id < 90000 THEN 'x' WHEN id >= 110000 THEN 'y' ELSE 'z' END AS a",
        "md5(cast(id as string)) AS pad",
    )
    (
        df.orderBy("id")
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.block.size", 64 * 1024)  # many small row groups
        .parquet(src)
    )

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
    try:
        eng = Engine(spark, f"{workdir}/interval_excl_root")
        eng.build_index(src, "a", num_buckets=2)

        got = eng.query(src, (col("a") == "x") & (col("a") == "y"))
        assert got.count() == 0
        m = eng.last_metrics
        assert m.scanned_files == 0, m.as_dict()  # excluded by range intersection

        n_x = eng.query(src, col("a") == "x").count()
        assert n_x == 90_000
        m2 = eng.last_metrics
        assert 0 < m2.scanned_bytes < m2.total_bytes, m2.as_dict()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


# ---------------------------------------------------------- distributed plan

def test_distributed_planner_matches_driver_path(engine, spark, events_multifile):
    """Above the file-count threshold the predicate→file-set evaluation
    runs cluster-side; results, pruning AND byte-range metrics must match
    the driver path exactly."""
    from elephant_twin_spark.operators import scan
    from elephant_twin_spark.plans import expr as E

    preds = [
        col("event_type") == "click",
        (col("event_type") == "click") & (col("user_id") == 12),
        (col("event_type") == "signup") | (col("event_type") == "error"),
        (col("event_type") == "purchase") & (col("value") > 50.0),
        col("user_id") == 13,
        col("event_type") == "does_not_exist",
    ]
    for pred in preds:
        md = scan.ScanMetrics()
        drv = scan.query(
            spark, events_multifile, pred, engine.index_root, metrics=md,
            distributed_threshold=10**9,
        )
        mc = scan.ScanMetrics()
        dist = scan.query(
            spark, events_multifile, pred, engine.index_root, metrics=mc,
            distributed_threshold=0,
        )
        assert md.planner == "driver" and mc.planner == "distributed"
        assert rows(dist) == rows(drv), repr(pred)
        # identical pruning: same files AND same matched-range bytes
        assert mc.scanned_files == md.scanned_files, repr(pred)
        assert mc.scanned_bytes == md.scanned_bytes, repr(pred)
        assert mc.total_files == md.total_files


def test_distributed_planner_prunes(engine, spark, events_multifile):
    from elephant_twin_spark.operators import scan

    m = scan.ScanMetrics()
    scan.query(
        spark, events_multifile, col("user_id") == 13, engine.index_root,
        metrics=m, distributed_threshold=0,
    ).count()
    assert m.planner == "distributed"
    assert 0 < m.scanned_files <= m.total_files


def test_distributed_planner_random_tree_equivalence(engine, spark, events_multifile):
    """Seeded random AND/OR trees over indexed leaves: the cluster-side
    evaluator must select exactly the files AND the matched byte ranges
    the driver evaluator does (results already proven row-equal; this
    pins the pruning itself, including sub-file AND exclusion)."""
    import random

    from elephant_twin_spark.operators import scan

    rng = random.Random(7)
    types = ["click", "view", "purchase", "signup", "error", "nope"]

    def leaf():
        if rng.random() < 0.5:
            return col("event_type") == rng.choice(types)
        return col("user_id") == rng.randint(0, 60)

    def tree(depth):
        if depth == 0 or rng.random() < 0.3:
            return leaf()
        l, r = tree(depth - 1), tree(depth - 1)
        return (l & r) if rng.random() < 0.5 else (l | r)

    for _ in range(12):
        pred = tree(2)
        md, mc = scan.ScanMetrics(), scan.ScanMetrics()
        a = scan.query(spark, events_multifile, pred, engine.index_root,
                       metrics=md, distributed_threshold=10**9).count()
        b = scan.query(spark, events_multifile, pred, engine.index_root,
                       metrics=mc, distributed_threshold=0).count()
        assert a == b, repr(pred)
        assert mc.scanned_files == md.scanned_files, repr(pred)
        assert mc.scanned_bytes == md.scanned_bytes, repr(pred)


def test_distributed_planner_stale_file_equivalence(spark, workdir, events_multifile):
    """Staleness in DISTRIBUTED mode: the not-covered file rides the
    WHOLE_FILE sentinel range through the cluster-side evaluator —
    results, pruning and bytes must still match the driver path, and the
    mutated file must be scanned (reference case (a))."""
    import glob
    import os
    import shutil

    from elephant_twin_spark.operators import scan

    stale_tbl = f"{workdir}/events_stale_dist"
    shutil.copytree(events_multifile.replace("file:", ""), stale_tbl, dirs_exist_ok=True)
    eng = Engine(spark, f"{workdir}/index_root_stale_dist")
    eng.build_index(stale_tbl, "event_type", num_buckets=4)
    eng.build_index(stale_tbl, "user_id", num_buckets=4)

    part = sorted(glob.glob(f"{stale_tbl}/part-*.parquet"))[0]
    df = spark.read.parquet(part)
    mutated = df.withColumn("event_type", F.lit("mutant"))
    tmp_out = f"{workdir}/_mutant_out_dist"
    mutated.coalesce(1).write.mode("overwrite").parquet(tmp_out)
    new_part = sorted(glob.glob(f"{tmp_out}/part-*.parquet"))[0]
    shutil.copyfile(new_part, part)
    for crc in glob.glob(f"{stale_tbl}/.*.crc"):
        os.remove(crc)
    spark.catalog.refreshByPath(stale_tbl)

    preds = [
        col("event_type") == "mutant",
        (col("event_type") == "mutant") & (col("user_id") == 12),
        (col("event_type") == "click") | (col("event_type") == "mutant"),
    ]
    for pred in preds:
        md, mc = scan.ScanMetrics(), scan.ScanMetrics()
        drv = scan.query(spark, stale_tbl, pred, eng.index_root,
                         metrics=md, distributed_threshold=10**9)
        dist = scan.query(spark, stale_tbl, pred, eng.index_root,
                          metrics=mc, distributed_threshold=0)
        assert rows(dist) == rows(drv), repr(pred)
        assert mc.scanned_files == md.scanned_files, repr(pred)
        assert mc.scanned_bytes == md.scanned_bytes, repr(pred)
        assert mc.stale_files == md.stale_files == 1, repr(pred)


def test_file_landing_mid_build_is_not_claimed_covered(spark, workdir, monkeypatch):
    """r11 review fix: a file appended AFTER the builder's source
    listing (simulating concurrent ingest during the index job) must
    NOT be recorded as covered — it has no postings, so claiming it
    fresh would silently prune it. The pre-listing ordering leaves it
    out of the descriptor → not_covered → always scanned; the query
    still returns the full-scan answer."""
    import shutil

    from elephant_twin_spark.operators import build as build_mod
    from elephant_twin_spark.sources import fsio, tables

    tbl = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/midbuild_tbl", 4
    )
    eng = Engine(spark, f"{workdir}/midbuild_idx")

    late_src = f"{workdir}/_late_rows"
    spark.read.parquet(tbl).limit(5).withColumn(
        "event_type", F.lit("landed_mid_build")
    ).coalesce(1).write.mode("overwrite").parquet(late_src)

    real_write = build_mod.write_range_partitioned
    dropped = {"done": False}

    def write_and_land_file(*args, **kwargs):
        real_write(*args, **kwargs)
        if not dropped["done"]:
            # the "concurrent ingest": a new part lands after the scan
            # but before the descriptor listing would have run post-write
            import glob

            part = sorted(glob.glob(f"{late_src.replace('file://','')}/part-*.parquet"))[0]
            shutil.copy(part, f"{tbl.replace('file://','')}/part-late-landed.parquet")
            spark.catalog.refreshByPath(tbl)
            dropped["done"] = True

    monkeypatch.setattr(build_mod, "write_range_partitioned", write_and_land_file)
    eng.build_index(tbl, "event_type", num_buckets=4)

    late_file = fsio.normalize_path(f"{tbl}/part-late-landed.parquet")
    from elephant_twin_spark.sources import catalog as cat

    desc = cat.read_descriptor(
        spark, cat.index_dir(eng.index_root, tbl, "event_type", "block")
    )
    assert late_file not in set(desc.files)

    got = eng.query(tbl, col("event_type") == "landed_mid_build").count()
    assert got == 5  # not_covered → scanned; nothing silently pruned


def test_multi_column_build_lists_before_its_shared_scan(spark, workdir, monkeypatch):
    """build_block_indexes records the listing its shared scan reads: a
    file landing during that listing is indexed or left not-covered,
    never claimed covered without postings (which would prune it
    silently). The file is written with pyarrow — a same-session Spark
    write would refresh the cached scan and hide the race."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elephant_twin_spark.sources import fsio

    tbl = f"{workdir}/listrace_tbl"
    spark.createDataFrame(
        [(f"k{i % 3}", i) for i in range(30)], "k string, v long"
    ).repartition(3).write.parquet(tbl)
    real_list = fsio.list_data_files
    landed = []

    def land_then_list(spark_, path):
        if not landed:
            pq.write_table(
                pa.table({"k": ["zzz"], "v": pa.array([99], pa.int64())}),
                f"{tbl}/part-late.parquet",
            )
            landed.append(path)
        return real_list(spark_, path)

    monkeypatch.setattr(fsio, "list_data_files", land_then_list)
    eng = Engine(spark, f"{workdir}/listrace_idx")
    eng.build_indexes(tbl, ["k", "v"], num_buckets=2)
    monkeypatch.undo()

    assert landed
    full = spark.read.parquet(tbl).where(F.col("k") == "zzz").count()
    assert full == 1
    assert eng.query(tbl, col("k") == "zzz").count() == full
