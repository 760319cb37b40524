"""Write-time parquet bloom filters — the measured sub-file pruning
mechanism for unclustered point-lookup keys (r13 verdict item 2).

The r14 A/B (SCALE_EXPERIMENTS.md, "r14: sub-file pruning ACTION A/B")
settled the one open design delta vs the reference's byte-range splits
(core/retrieval/BlockIndexedFileInputFormat.java:189-241):

* ``_metadata.file_block_start`` range filters are evaluated PER ROW
  after the read — 410.7 vs 411.9 MB measured, no IO saving, 3.9x
  slower wall. Range-action stays rejected; the engine keeps file-level
  pruning + range-based AND-exclusion/metrics.
* a write-time parquet bloom on the key gives the reader genuine
  row-group skipping on the pushed Eq filter: 818.9 -> 46.8 MB alone,
  42.1 MB composed with the block index.

This file pins the adoption: ``tables.bloom_filter_options`` /
``materialize(bloom_columns=...)`` / ``layout.cluster_table(
bloom_columns=...)`` produce layouts whose point lookups READ LESS,
asserted via /proc/<jvm>/io rchar (Hadoop's GlobalStorageStatistics
undercounts Spark 4's vectored parquet reads — measured 0.1 MB counted
vs 43.8 MB real — so the OS counter is the only trustworthy one).
"""

import pyspark.sql.functions as F

from elephant_twin_spark.operators import layout
from elephant_twin_spark.sources import tables

from conftest import SF_DIR


def _rchar(spark) -> int:
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/io") as f:
        d = dict(line.split(": ") for line in f.read().strip().splitlines())
    return int(d["rchar"])


def _measure(spark, fn, reps: int = 2) -> int:
    best = None
    for _ in range(reps):
        b0 = _rchar(spark)
        fn()
        delta = _rchar(spark) - b0
        best = delta if best is None else min(best, delta)
    return best


def _write_highcard(spark, path: str, bloom: bool) -> None:
    """~1M rows, key PLAIN-encoded (>128k distinct longs per row group
    busts the 1 MiB dictionary page), 2 files x ~2 row groups — the
    layout where neither min/max nor dictionary filtering can prune."""
    df = spark.range(1_000_000).select(
        (F.xxhash64("id") % 10_000_000).alias("k"), "id"
    )
    w = (
        df.repartition(2)
        .write.mode("overwrite")
        .option("parquet.block.size", str(4 * 1024 * 1024))
    )
    if bloom:
        w = w.options(**tables.bloom_filter_options(["k"], expected_ndv=300_000))
    w.parquet(path)


def test_bloom_layout_reads_less_on_point_lookup(spark, workdir):
    plain, bloomed = f"{workdir}/bl_plain", f"{workdir}/bl_bloom"
    _write_highcard(spark, plain, bloom=False)
    _write_highcard(spark, bloomed, bloom=True)
    # a key ABSENT from the table but INSIDE every row group's
    # [min, max] span — outside it, plain min/max stats would prune too
    # and there'd be nothing to compare (first draft's mistake)
    missing = next(
        c for c in range(5_000_000, 5_000_050)
        if spark.read.parquet(plain).where(F.col("k") == c).count() == 0
    )

    def count(path):
        return spark.read.parquet(path).where(F.col("k") == missing).count()

    assert count(plain) == 0 and count(bloomed) == 0
    plain_bytes = _measure(spark, lambda: count(plain))
    bloom_bytes = _measure(spark, lambda: count(bloomed))
    # plain reads ~8 MB of key pages; bloomed reads footers + blooms
    # (~100s of KB). Generous 2x margin against JVM background noise.
    assert bloom_bytes < plain_bytes / 2, (plain_bytes, bloom_bytes)


def test_bloom_options_round_trip_values(spark, workdir):
    """Bloom filters change IO, never answers: present-key lookups on
    the bloomed layout return exactly the plain layout's rows."""
    plain, bloomed = f"{workdir}/bl_plain", f"{workdir}/bl_bloom"
    # written by the previous test when run as a suite; rewrite if not
    import os

    if not os.path.isdir(plain):
        _write_highcard(spark, plain, bloom=False)
        _write_highcard(spark, bloomed, bloom=True)
    some = [r["k"] for r in spark.read.parquet(plain).limit(3).collect()]
    for k in some:
        a = sorted(
            r["id"] for r in
            spark.read.parquet(plain).where(F.col("k") == k).collect()
        )
        b = sorted(
            r["id"] for r in
            spark.read.parquet(bloomed).where(F.col("k") == k).collect()
        )
        assert a == b and a


def test_cluster_table_bloom_columns(spark, workdir):
    """cluster_table(bloom_columns=...): clustered on ts (min/max
    pruning for time), bloom on the SECONDARY unclustered user_id."""
    src = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/blc_src"
    )
    dst = layout.cluster_table(
        spark, src, f"{workdir}/blc_dst", ["ts"], num_files=4,
        bloom_columns=["user_id"],
    )
    uid = int(spark.read.parquet(src).first()["user_id"])
    want = spark.read.parquet(src).where(F.col("user_id") == uid).count()
    got = spark.read.parquet(dst).where(F.col("user_id") == uid).count()
    assert got == want and want > 0


def test_materialize_bloom_columns(spark, workdir):
    dst = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/blm_dst",
        bloom_columns=["user_id"],
    )
    raw = tables.load_raw(spark, f"{SF_DIR}/events.parquet")
    assert spark.read.parquet(dst).count() == raw.count()


def test_zorder_table_bloom_columns(spark, workdir):
    """zorder_table(bloom_columns=...): curve locality for the listed
    columns, write-time bloom for an off-curve point-lookup key."""
    src = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/blz_src"
    )
    dst = layout.zorder_table(
        spark, src, f"{workdir}/blz_dst", ["ts", "value"], num_files=4,
        bloom_columns=["user_id"],
    )
    uid = int(spark.read.parquet(src).first()["user_id"])
    want = spark.read.parquet(src).where(F.col("user_id") == uid).count()
    got = spark.read.parquet(dst).where(F.col("user_id") == uid).count()
    assert got == want and want > 0
