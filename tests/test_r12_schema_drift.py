"""Schema-drift soundness (r12 review class): at 100 TB with evolving
producers, files land with EXTRA columns or MISSING the indexed column.
Contract (probed, then pinned here): the index never makes drift
WRONGER than the full scan —

* drifted files land after a build → not covered / stale → scanned in
  full, answers equal the full scan;
* a REBUILD over the mixed table reads the union-by-name semantics of
  the same parquet reader the full scan uses (missing column → NULL →
  the file carries no postings keys → pruned, and its rows can never
  match an equality predicate anyway — sound, selectivity-exact);
* the full row-level predicate ALWAYS re-checks on the same reader, so
  index and full-scan lanes cannot diverge on drifted rows.

A drifted file whose indexed column changed TYPE fails the parquet
read itself — loud on both lanes equally, not an index concern.

The same drift pins :func:`fsio.read_parquet`, which reuses the schema
Spark inferred for a read's smallest data file: every query runs twice,
and the second run — a cache hit — must give the full-scan answer with
the columns ``spark.read.parquet`` reports for the same files.
"""

import glob
import os
import shutil

import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from elephant_twin_spark import Engine, col
from elephant_twin_spark.sources import fsio, tables

from conftest import SF_DIR


@pytest.fixture
def misses(monkeypatch):
    """Counts the reader's plain-inference reads (cache misses)."""
    calls = []
    real = fsio._infer_and_remember

    def counted(*a, **kw):
        calls.append(a[1])
        return real(*a, **kw)

    monkeypatch.setattr(fsio, "_infer_and_remember", counted)
    return calls


def _land(df, tmp_dir, dst):
    df.coalesce(1).write.mode("overwrite").parquet(tmp_dir)
    part = glob.glob(f"{tmp_dir}/part-*.parquet")[0]
    shutil.copy(part, dst)


def test_schema_drift_stays_full_scan_equal(spark, workdir, misses):
    tbl = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/drift_events"
    )
    eng = Engine(spark, f"{workdir}/drift_idx")
    eng.build_index(tbl, "event_type", num_buckets=4)

    base = spark.read.parquet(tbl)
    _land(
        base.limit(50).drop("event_type"),
        f"{workdir}/drift_tmp_a",
        f"{tbl}/drift_missing_col.parquet",
    )
    _land(
        base.limit(30).withColumn("extra_col", F.lit("x")),
        f"{workdir}/drift_tmp_b",
        f"{tbl}/drift_extra_col.parquet",
    )
    spark.catalog.refreshByPath(tbl)

    truth = (
        spark.read.parquet(tbl).where(F.col("event_type") == "click").count()
    )

    def run_twice():
        """The query cold, then warm: the warm run infers nothing and
        still matches the full scan and Spark's own columns."""
        for attempt in ("cold", "warm"):
            del misses[:]
            df = eng.query(tbl, col("event_type") == "click")
            assert df.count() == truth, attempt
            assert df.columns == spark.read.parquet(*df.inputFiles()).columns
        assert misses == [], "the repeated query re-ran schema inference"
        return eng.last_metrics.as_dict()

    # pre-rebuild: drifted files are not covered by the descriptor →
    # scanned, never pruned on stale knowledge
    assert run_twice()["stale_files"] == 2

    # rebuild over the mixed table: missing-column file reads as NULL →
    # zero postings keys → correctly PRUNED (its rows cannot match an
    # equality), extra column invisible to the index — still full-scan
    # equal, now with pruning back
    eng.build_index(tbl, "event_type", num_buckets=4, overwrite=True)
    m = run_twice()
    assert m["stale_files"] == 0
    assert m["scanned_files"] < m["total_files"], (
        "the NULL-keyed drift file should be pruned after rebuild"
    )


def _write(path, **cols):
    pd.DataFrame(cols).to_parquet(path, index=False)


def test_rewritten_smallest_file_is_inferred_again(spark, workdir, misses):
    d = f"{workdir}/reader_rewrite"
    os.makedirs(d)
    _write(f"{d}/a.parquet", k=[1, 2])
    _write(f"{d}/b.parquet", k=[3])
    assert fsio.read_parquet(spark, d).columns == ["k"]
    assert len(misses) == 1
    assert fsio.read_parquet(spark, d).columns == ["k"]
    assert len(misses) == 1, "an unchanged directory was inferred again"
    # same name, new column: a new (size, mtime) identity for the key
    _write(f"{d}/a.parquet", k=[1, 2], extra=["x", "y"])
    got = fsio.read_parquet(spark, d)
    assert len(misses) == 2
    assert got.columns == spark.read.parquet(d).columns == ["k", "extra"]
    assert sorted(r["k"] for r in got.collect()) == [1, 2, 3]


def test_merge_schema_bypasses_the_cache(spark, workdir, misses):
    d = f"{workdir}/reader_merge"
    os.makedirs(d)
    _write(f"{d}/a.parquet", k=[1])
    _write(f"{d}/b.parquet", k=[2], extra=["x"])
    assert fsio.read_parquet(spark, d).columns == ["k"]
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        got = fsio.read_parquet(spark, d)
        assert got.columns == spark.read.parquet(d).columns == ["k", "extra"]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert len(misses) == 1, "the merged read consulted the cache"


def test_partition_columns_come_from_the_layout(spark, workdir, misses):
    """A partitioned read is not remembered: the same smallest file,
    read without its directory layout, has no partition column."""
    d = f"{workdir}/reader_partitioned"
    os.makedirs(f"{d}/p=1")
    _write(f"{d}/p=1/a.parquet", k=[1])
    files = fsio.list_data_files(spark, d)
    assert fsio.read_parquet(spark, d, stats=files).columns == ["k", "p"]
    assert fsio.read_parquet(spark, stats=files).columns == ["k"]
    assert len(misses) == 2
    assert fsio.read_parquet(spark, d, stats=files).columns == ["k", "p"]
    assert fsio.read_parquet(spark, d).columns == ["k", "p"]
    assert len(misses) == 2


def test_zero_files_raise_sparks_error(spark, workdir):
    empty = f"{workdir}/reader_empty"
    os.makedirs(empty)
    for read in (
        lambda: fsio.read_parquet(spark, empty),
        lambda: fsio.read_parquet(spark, empty, stats=[]),
        lambda: fsio.read_parquet(spark, stats=[]),
    ):
        with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
            read()
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        fsio.read_parquet(spark, f"{workdir}/reader_missing")


def test_repeated_query_plans_with_one_job(spark, workdir):
    """A warm ``Engine.query`` launches only its postings probe."""
    tbl = f"{workdir}/reader_jobs"
    spark.range(400).select(
        (F.col("id") % 5).cast("string").alias("k"), "id"
    ).repartition(4).write.parquet(tbl)
    eng = Engine(spark, f"{workdir}/reader_jobs_idx")
    eng.build_index(tbl, "k", num_buckets=2)
    eng.query(tbl, col("k") == "3")
    sc = spark.sparkContext
    sc.setJobGroup("reader-plan", "warm plan")
    try:
        df = eng.query(tbl, col("k") == "3")
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("reader-plan")) == 1
    assert df.count() == 80
