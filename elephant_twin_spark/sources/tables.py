r"""Table loading helpers, including the TIMESTAMP(NANOS) parquet shim.

The driver's synthetic tables (`/root/testdata/sf*/*.parquet`, written by
pandas/pyarrow) carry INT64 TIMESTAMP(NANOS) columns, which Spark's
vectorized parquet reader rejects by default. We read them with
``spark.sql.legacy.parquet.nanosAsLong`` and convert back to proper
TimestampType (micros) — the same truncation DuckDB applies, so oracle
comparisons stay exact.
"""

from __future__ import annotations

import os
from typing import List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _local(p: str) -> str:
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return p


def _nanos_timestamp_cols(path: str) -> List[str]:
    """Column names stored as parquet TIMESTAMP(NANOS), from the footer."""
    import pyarrow.parquet as pq

    p = _local(path)
    if os.path.isdir(p):
        parts = [f for f in sorted(os.listdir(p)) if f.endswith(".parquet")]
        if not parts:
            return []
        p = os.path.join(p, parts[0])
    schema = pq.read_schema(p)
    out = []
    for field in schema:
        t = field.type
        if str(t).startswith("timestamp[ns"):
            out.append(field.name)
    return out


def load_raw(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table, transparently handling nanos timestamps.

    The legacy conf is session-global and deliberately left set once a
    nanos table has been read (flipping it back would desync the
    already-planned scan). Conversion is therefore keyed on the READ
    type, not the writer: any footer-nanos column that Spark surfaced
    as LONG (under the conf) is converted to micros timestamps, while
    one Spark read natively as a timestamp passes through — so a
    Spark-written nanos table read after the conf leaked gets the SAME
    micros timestamps as a pandas-written one, instead of silently
    surfacing epoch-nanos longs (r9 review finding; the previous
    writer-metadata check skipped exactly those columns)."""
    ns_cols = set(_nanos_timestamp_cols(path))
    if ns_cols:
        spark.conf.set(_NANOS_CONF, "true")
    df = spark.read.parquet(path)
    from pyspark.sql.types import LongType

    for f in df.schema.fields:
        if f.name in ns_cols and isinstance(f.dataType, LongType):
            # integer division: `/` would go through double and lose
            # precision at epoch-nanos magnitude (2^60), shifting some
            # values by 1us
            df = df.withColumn(
                f.name, F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
            )
    return df


def load_sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_raw(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")


LAYOUT_VERSION = "2"  # bump to invalidate previously-materialized copies


def bloom_filter_options(columns, expected_ndv: int = None) -> dict:
    """Writer options enabling a parquet BLOOM FILTER on ``columns`` —
    the measured sub-file pruning mechanism for UNCLUSTERED point-lookup
    keys (SCALE_EXPERIMENTS.md, "r14: sub-file pruning ACTION A/B"):
    row-group min/max can't prune a key that's uniform across the file,
    and ``_metadata.file_block_start`` range filters save NOTHING (they
    run per row, after the read — 410.7 vs 411.9 MB measured), but a
    write-time bloom lets the parquet reader skip whole row groups on
    the pushed Eq filter: 46.8 MB vs 818.9 MB on the same lookup, and
    42.1 MB composed with the block index (file-level pruning first).

    ``expected_ndv`` is PER ROW GROUP (distinct keys in one row group,
    NOT the table-wide domain — parquet allocates the bitset up front
    per open row group, so a domain-sized ndv over many small row
    groups OOMs the writer). Default: parquet's own sizing (bounded by
    ``parquet.bloom.filter.max.bytes``, 1 MiB).

    Use with any DataFrameWriter: ``df.write.options(
    **bloom_filter_options(["user_id"]))`` — or through
    ``materialize`` / ``layout.cluster_table``'s ``bloom_columns``."""
    out = {}
    for c in columns:
        out[f"parquet.bloom.filter.enabled#{c}"] = "true"
        if expected_ndv is not None:
            out[f"parquet.bloom.filter.expected.ndv#{c}"] = str(int(expected_ndv))
    return out


def materialize(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    num_files: int = 8,
    force: bool = False,
    bloom_columns=None,
) -> str:
    """Normalized multi-file copy of a table (proper micros timestamps,
    ``num_files`` parquet parts) — used to make file-level index pruning
    observable on the driver's single-file fixtures, and as the engine's
    canonical on-disk layout for tests/bench.

    ``bloom_columns`` writes parquet bloom filters on those columns —
    the measured row-group pruning mechanism for unclustered point
    lookups (see :func:`bloom_filter_options`)."""
    # Hadoop-FS marker IO, not os.path: a non-local dst (hdfs://, s3a://)
    # would otherwise crash AFTER the expensive write and re-copy on
    # every call because the local-path existence check never matches
    # (r9 review finding)
    from elephant_twin_spark.sources import fsio

    marker = f"{dst_path.rstrip('/')}/_ETS_DONE"
    # the marker value encodes the bloom configuration (r14 review): a
    # plain pre-existing copy must NOT satisfy a bloom_columns request —
    # the caller would silently get a layout without the row-group
    # pruning they asked for. Bare LAYOUT_VERSION == plain layout, so
    # old markers stay valid for plain requests.
    want = LAYOUT_VERSION + (
        "+bloom=" + ",".join(sorted(bloom_columns)) if bloom_columns else ""
    )
    if not force and fsio.exists(spark, marker):
        if fsio.read_text(spark, marker).strip() == want:
            return dst_path
    df = load_raw(spark, src_path)
    w = df.repartition(num_files).write.mode("overwrite")
    if bloom_columns:
        w = w.options(**bloom_filter_options(bloom_columns))
    w.parquet(dst_path)
    fsio.write_text(spark, marker, want)
    return dst_path
