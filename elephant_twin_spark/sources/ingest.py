"""Foreign-format ingestion — the Spark-first answer to the reference's
pluggable "real InputFormat" surface (S1,
`core/retrieval/BlockIndexedFileInputFormat.java:111-187`: any
elephant-bird LZO Thrift/Protobuf/text format behind one wrapper).

The reference wraps arbitrary formats at SCAN time, paying the
row-at-a-time deserialization cost on every query. On Spark the right
boundary is ingest-once: read the foreign format with the matching
DataSource, normalize, and land a columnar parquet table that every
engine path (indexes, pruned scans, text search, pipeline ops) then
serves from with vectorized reads + pushdown. One conversion pays for
all subsequent scans — the inverse of the reference's trade, and the
reason this module is a front door rather than a scan wrapper.

Supported formats map to Spark's built-in sources: ``csv`` ``json``
``text`` ``parquet`` ``orc`` (+ any registered datasource name via
``format=``). Line-oriented text lands as ``(line string)`` plus a
stable ``line_id`` when requested — the shape the reference's
TextIndexingJob consumed (T4).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_KNOWN = {"csv", "json", "text", "parquet", "orc", "avro"}


def avro_available(spark: SparkSession) -> bool:
    """True when the ``spark-avro`` module is on the session's classpath.
    Avro is Spark's external-but-official datasource (shipped separately
    since 2.4); at spark-submit time it arrives via ``--packages
    org.apache.spark:spark-avro_2.13:<spark version>``."""
    try:
        # resolve through Spark's own datasource registry (a bare
        # Class.forName via py4j can "succeed" without a usable source)
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def read_foreign(
    spark: SparkSession,
    src_path: str,
    fmt: str,
    options: Optional[Dict[str, str]] = None,
    schema: Optional[str] = None,
) -> DataFrame:
    """Read a foreign-format source as a DataFrame. ``fmt`` is any
    Spark datasource name; ``options`` pass through (``header``,
    ``delimiter``, ``multiLine``...). ``schema`` (DDL string) skips
    inference — ALWAYS pass it in production: schema inference is an
    extra full read of the source."""
    if fmt == "avro" and not avro_available(spark):
        raise RuntimeError(
            "avro ingestion needs the spark-avro module on the classpath "
            "(submit with --packages org.apache.spark:spark-avro_2.13:"
            f"{spark.version}); it is Spark's official external datasource "
            "and is not bundled in this environment"
        )
    reader = spark.read.format(fmt)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(src_path)


def ingest(
    spark: SparkSession,
    src_path: str,
    fmt: str,
    dst_path: str,
    options: Optional[Dict[str, str]] = None,
    schema: Optional[str] = None,
    num_files: Optional[int] = None,
    line_id: bool = False,
) -> str:
    """Convert a foreign-format source into a normalized parquet table
    at ``dst_path``; returns ``dst_path``.

    ``num_files`` sizes the layout (a table that will be indexed wants
    enough files for file-level pruning to mean something; default
    keeps the source parallelism). ``line_id`` adds a deterministic
    ``line_id`` for ``text`` sources — content-hash based (md5 of the
    line + its duplicate ordinal), NOT a zipWithIndex global sort, so
    it's stable under re-ingest and needs no single-partition pass."""
    # any registered datasource is allowed (the read_foreign contract):
    # third-party connectors register SHORT names too (delta, xml, ...),
    # so an unknown-short-name ValueError here rejected working formats
    # (r9 review finding). Spark itself raises a clear
    # ClassNotFoundException for a genuinely unknown format, naming it.
    df = read_foreign(spark, src_path, fmt, options, schema)
    if fmt == "text" and line_id:
        from pyspark.sql.window import Window

        # ordinal among identical lines makes the id unique while staying
        # partition-independent (same input → same ids, any cluster size)
        w = Window.partitionBy("value").orderBy(F.lit(1))
        df = (
            df.withColumn("_ord", F.row_number().over(w))
            .select(
                F.md5(F.concat_ws("\t", "value", "_ord")).alias("line_id"),
                F.col("value").alias("line"),
            )
        )
    elif fmt == "text":
        df = df.select(F.col("value").alias("line"))
    if num_files is not None:
        df = df.repartition(num_files)
    df.write.mode("overwrite").parquet(dst_path)
    return dst_path


def jsonl_audit(
    spark: SparkSession,
    src_path: str,
    schema: str,
    sample_bad: int = 5,
) -> "tuple[DataFrame, DataFrame]":
    """Schema-enforced JSONL read with a corrupt-record audit — the
    front door for the dominant raw-training-data interchange format
    (one JSON document per line, usually gzipped; Spark reads ``.gz``
    transparently, though each gzip member is one non-splittable task —
    shard the files upstream).

    Returns ``(good, bad)``:

    * ``good`` — rows matching ``schema`` (DDL string; REQUIRED — schema
      inference is an extra full read and silently widens types);
    * ``bad`` — ``(raw)`` corrupt lines, capped at ``sample_bad`` rows
      (a sample for triage; the full parse pass happens once regardless
      — the ``good`` side needs every line anyway).

    Mechanics: PERMISSIVE mode with ``columnNameOfCorruptRecord`` keeps
    malformed lines as a raw-string column instead of dropping them
    (DROPMALFORMED) or failing the job (FAILFAST) — the triage default:
    quantify + sample first, then decide. Spark disallows queries that
    reference ONLY the internal corrupt column
    (``QUERY_ONLY_CORRUPT_RECORD_COLUMN`` — e.g. ``good.count()`` after
    column pruning), so the parsed relation is ``cache()``'d — the
    upstream-recommended workaround: once cache substitution replaces
    the JSON file scan with ``InMemoryRelation`` the corrupt-only-
    projection check no longer applies. Unlike a checkpoint (the
    pre-r8 implementation — r6/r7 advisor finding), the cache is LAZY
    (nothing materializes until the first action), EVICTABLE under
    memory pressure, and RECOMPUTABLE — consuming ``good``/``bad``
    after any enclosing ``checkpoint_scope`` exits re-reads instead of
    hard-failing, and at 100 TB the block manager never holds an
    unevictable corpus copy. When a long-lived session is done with
    this source, :func:`dispose` drops the buffers and unregisters the
    cache entry (each audited path otherwise keeps one CacheManager
    registration for the session's lifetime)."""
    full_schema = schema + ", _corrupt string"
    df = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(src_path)
        .cache()
    )
    good = df.where(F.col("_corrupt").isNull()).drop("_corrupt")
    bad = (
        df.where(F.col("_corrupt").isNotNull())
        .select(F.col("_corrupt").alias("raw"))
        .limit(int(sample_bad))
    )
    # the cached relation is the only handle that can fully UNREGISTER
    # the cache (Dataset.unpersist goes through the CacheManager; a
    # derived plan cannot) — carry it on the results for dispose()
    good._ets_cache_source = df
    bad._ets_cache_source = df
    return good, bad


def dispose(audit_result: DataFrame) -> bool:
    """Fully retire the cached parse relation behind a
    :func:`jsonl_audit` result: drops the buffers AND the CacheManager
    registration (the entry would otherwise accumulate per audited path
    in a long-lived session). Pass either returned DataFrame. Call it when
    DONE with this source: without the registration the
    ``QUERY_ONLY_CORRUPT_RECORD_COLUMN`` guard re-applies, so
    corrupt-only-projection shapes (``good.count()``, ``bad``) raise
    again; re-audit the path for a fresh handle if needed. Returns
    False when the DataFrame does not carry an audit cache handle."""
    src = getattr(audit_result, "_ets_cache_source", None)
    if src is None:
        return False
    src.unpersist(False)
    return True


def write_jsonl(df: DataFrame, dst_path: str, num_files: Optional[int] = None) -> str:
    """Write a DataFrame as JSONL (one JSON object per line) — the
    interchange sink for downstream tokenizer/training jobs. Plain
    ``df.write.json``; ``num_files`` sizes the output layout."""
    if num_files is not None:
        df = df.repartition(num_files)
    df.write.mode("overwrite").json(dst_path)
    return dst_path
