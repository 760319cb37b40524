"""Sparse block-index build — value → (file, byte ranges) postings.

Reference pipeline (one MR job per file, core/indexing/AbstractBlockIndexingJob.java:226-364):
mapper emits ``(value, [start,end))`` per record with secondary sort on
(value, start) (core/io/TextLongPairWritable.java:98-142), the reducer
merges adjacent/overlapping ranges under a size cap
(core/indexing/MapFileIndexingReducer.java:46-114) and writes sorted
MapFiles hash-partitioned by key (hadooppatch/MapFileOutputFormat.java:47-87).

Spark-first rebuild: ONE declarative job for the whole table —

    read parquet with the _metadata hidden column
    → groupBy(key, file) collecting distinct split ranges     (O1 + A1)
    → JVM-side higher-order-function range merge              (I4)
    → repartitionByRange(num_buckets, key) + sortWithinPartitions
      + parquet write with min/max and bloom filters on key   (O2 + O3 + S5)

The write layout is the query-time pruning contract: range partitioning by
key means an equality lookup touches ~1 of N index files via parquet
min/max footer stats (the analog of the reference's hash-partitioned
MapFile probe, core/retrieval/BlockIndexedFileInputFormat.java:419-431).
At 100 TB the postings table is itself large; everything here is a single
shuffle on (key, file) with map-side partial aggregation — no driver-side
data movement.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elephant_twin_spark.operators import lifecycle
from elephant_twin_spark.sources import catalog, fsio

# Reference default: merged posting ranges capped at dfs.block.size (128 MB)
# so one index hit never forces an oversized scan task
# (core/indexing/MapFileIndexingReducer.java:49,82).
DEFAULT_MAX_MERGED_BYTES = 128 * 1024 * 1024
DEFAULT_NUM_BUCKETS = 16

POSTINGS_SCHEMA = "key string, file string, ranges array<struct<start:bigint,end:bigint>>, cnt bigint"


def write_range_partitioned(
    df: DataFrame,
    num_buckets: int,
    range_col: str,
    sort_cols: Sequence[str],
    path: str,
    bloom_col: Optional[str] = None,
    pin_input: bool = True,
) -> None:
    """Range-partition ``df`` on ``range_col`` into ``num_buckets``
    sorted parquet files (the index layout contract: O2 + O3 + S5).

    ``repartitionByRange`` runs a range-boundary SAMPLING job before the
    real pass; the sampling job re-executes ``df``'s plan, and while the
    shuffle MAP stages are reused (skipped stages), the reduce-side
    aggregate above the last shuffle runs twice. For every index build
    that aggregate is the expensive part (tokenize/explode +
    ``collect_list`` postings, the higher-order range merge), so
    ``pin_input=True`` localCheckpoints the input first: sampling and
    write both read the materialized blocks and the aggregate runs
    exactly once (measured 13.6→4.8 s cold / 3.9→3.1 s warm on the
    sf0.1 text build). The pinned relation is the POSTINGS table —
    output of the aggregate, orders of magnitude smaller than the
    corpus — so materializing it is the cheap side of the trade at any
    scale; blocks are released as soon as the write commits.

    Choosing the flag — pin ONLY when the input is the output of an
    expensive shuffle aggregate. Pass ``pin_input=False`` when either:

    * the input plan is NARROW (no shuffle above the scan): the double
      evaluation costs one extra map pass, cheaper than eagerly
      checkpointing a corpus-cardinality relation into the block
      manager — LSH banding is pure hashing, measured cold 4.09 s
      pinned vs 1.97 s unpinned at sf0.1 (SCALE_EXPERIMENTS.md r9);
      ``layout.zorder_table``/``compact_table`` re-scan the raw source
      for the same reason; or
    * the caller already holds a pinned/materialized input and reuses
      it beyond this write (``build_text_index`` pins once via
      :func:`run_pinned_with_retry` and reuses it for doclens).

    Fault tolerance: a local checkpoint TRUNCATES lineage, so on a real
    cluster an executor lost between pin and commit makes the write fail
    with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` where the unpinned plan
    would have recomputed the lost partitions (the standard
    localCheckpoint caveat — dynamic allocation / spot nodes). The
    write is ``mode("overwrite")`` and therefore idempotent, so block
    loss is caught and the write retried ONCE through the original
    recomputable plan: the steady state keeps the one-pass saving, the
    rare lost-block case degrades to the pre-pin cost instead of a
    failed job."""

    def _attempt(src: DataFrame) -> None:
        w = (
            src.repartitionByRange(num_buckets, range_col)
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
        )
        if bloom_col is not None:
            w = w.option(f"parquet.bloom.filter.enabled#{bloom_col}", "true")
        w.parquet(path)

    if not pin_input:
        _attempt(df)
        return
    run_pinned_with_retry(df, _attempt)


def run_pinned_with_retry(df: DataFrame, span) -> None:
    """Run ``span(pinned)`` over a localCheckpoint-pinned copy of
    ``df`` inside its own :func:`.lifecycle.checkpoint_scope`, falling
    back ONCE to ``span(df)`` (the original recomputable plan) on lost
    checkpoint blocks.

    This is the shared fault-tolerance scaffold for every pinned
    write (``write_range_partitioned``'s pin_input=True path,
    ``text.build_text_index``'s write+doclens span — r9 review: two
    hand-rolled copies had already drifted once, the text site
    shipping without the retry): a local checkpoint truncates lineage,
    so an executor lost between pin and commit fails the span with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` where the unpinned plan
    would have recomputed. ``span`` must be overwrite-idempotent (all
    call sites are ``mode("overwrite")`` writes); the steady state
    keeps the evaluate-once saving, the rare lost-block case degrades
    to the pre-pin cost instead of a failed job. The scope frees the
    pin on both paths; its exit never masks the span's own error, and
    a release failure after a healthy span surfaces."""
    try:
        with lifecycle.checkpoint_scope():
            span(lifecycle.pin(df))
    except Exception as exc:  # noqa: BLE001 — classified below
        if not _is_checkpoint_block_loss(exc):
            raise
        span(df)


def _is_checkpoint_block_loss(exc: BaseException) -> bool:
    """True iff the failure is a lost localCheckpoint block (the only
    failure the unpinned retry can actually cure — anything else would
    just fail identically a second time)."""
    return "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in str(exc)


@dataclass
class BuildResult:
    index_dir: str
    column: str
    num_source_files: int
    num_keys: int


def _merge_ranges_expr(sorted_col: str, max_merged_bytes: int) -> F.Column:
    """JVM-side fold merging sorted [start,end) ranges.

    Combine ``<a,b>,<c,d>`` with ``c<=b`` into ``<a,max(b,d)>`` unless the
    merged range would exceed ``max_merged_bytes`` — the exact build-side
    invariant of MapFileIndexingReducer.java:55-101 (dedups the
    block-spanning case while preserving scan parallelism). Higher-order
    function, whole-stage-codegen friendly: no Python in the loop.
    """
    return F.expr(
        f"""
        aggregate(
          {sorted_col},
          cast(array() as array<struct<start:bigint,end:bigint>>),
          (acc, x) -> CASE
            -- contained in the previous range: drop
            WHEN size(acc) > 0 AND x.`end` <= element_at(acc, -1).`end`
            THEN acc
            -- overlapping/adjacent and merged size under the cap: extend
            WHEN size(acc) > 0
                 AND x.start <= element_at(acc, -1).`end`
                 AND x.`end` - element_at(acc, -1).start <= {max_merged_bytes}L
            THEN concat(
                   slice(acc, 1, size(acc) - 1),
                   array(named_struct(
                     'start', element_at(acc, -1).start,
                     'end', x.`end`)))
            -- else append, clamped at the previous end so ranges stay
            -- non-overlapping (the reference splits at the overlap point,
            -- MapFileIndexingReducer.java:84-99)
            ELSE concat(acc, array(named_struct(
                   'start', CASE WHEN size(acc) > 0
                                      AND x.start < element_at(acc, -1).`end`
                                 THEN element_at(acc, -1).`end`
                                 ELSE x.start END,
                   'end', x.`end`)))
          END)
        """
    )


def postings_for(
    df: DataFrame,
    column: str,
    max_merged_bytes: int = DEFAULT_MAX_MERGED_BYTES,
    sample_fraction: Optional[float] = None,
    seed: int = 42,
    key_col: Optional[F.Column] = None,
) -> DataFrame:
    """Compute the postings DataFrame ``(key, file, ranges, cnt)`` for one
    column. ``df`` must be a file-source read that exposes ``_metadata``.

    Keys are the string cast of the column (the reference indexes Text keys
    only, core/indexing/BlockIndexingMapper.java:17-19); nulls are skipped
    (a null can never match an Eq pushdown and the residual filter handles
    null semantics).

    ``key_col`` overrides the indexed key with an arbitrary expression —
    the Spark analog of the reference's pluggable key-extractor mappers
    (BlockIndexingMapper subclasses / Lucene field-extractor classes,
    SURVEY §2.9 UDF surface); ``column`` is then just the index NAME.

    ``sample_fraction`` mirrors AbstractSamplingIndexingMapper.java:27-48
    (Bernoulli sampling of indexed records).

    Precondition: every file has ONE raw ``_metadata.file_path``
    spelling in ``df`` — in practice, ``df`` is a single scan. Rows are
    grouped on the raw path and canonicalized per group, so a union of
    scans that spell one file differently (other path forms or
    percent-encodings) yields one output row per spelling, not one per
    file.
    """
    src = df.select(
        (key_col if key_col is not None else F.col(column)).cast("string").alias("key"),
        # group on the RAW _metadata.file_path and canonicalize AFTER the
        # aggregation (r17, guide §4): file_path_col is two regexes + a
        # URL decode, constant per file — running it per input row put
        # O(rows) interpreted regex work ahead of the shuffle where
        # O(key×file groups) suffices. Raw paths are rendered uniformly
        # within one scan, so the grouping is unchanged.
        F.col("_metadata.file_path").alias("_rawfile"),
        F.col("_metadata.file_block_start").alias("start"),
        (F.col("_metadata.file_block_start") + F.col("_metadata.file_block_length")).alias("end"),
    ).where(F.col("key").isNotNull())
    if sample_fraction is not None and sample_fraction < 1.0:
        src = src.sample(fraction=sample_fraction, seed=seed)
    grouped = src.groupBy("key", "_rawfile").agg(
        F.sort_array(F.collect_set(F.struct("start", "end"))).alias("_sorted"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return grouped.select(
        "key",
        # canonical URI form (local paths render as file:/x here but as
        # file:///x in FS listings; JVM-side regexp, no Python UDF)
        fsio.file_path_col(F.col("_rawfile")).alias("file"),
        _merge_ranges_expr("_sorted", max_merged_bytes).alias("ranges"),
        "cnt",
    )


def build_block_index(
    spark: SparkSession,
    table_path: str,
    column: str,
    index_root: str,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    max_merged_bytes: int = DEFAULT_MAX_MERGED_BYTES,
    sample_fraction: Optional[float] = None,
    seed: int = 42,
    overwrite: bool = True,
    scan: Optional[Tuple[List[fsio.FileStat], DataFrame]] = None,
    key_expr: Optional[str] = None,
) -> BuildResult:
    """Build (or rebuild) the sparse index for (table, column).

    Unlike the reference's per-file job orchestration with a client thread
    pool (M1, AbstractBlockIndexingJob.java:176-312), this is one Spark job;
    incremental refresh of only-new files lives in
    :mod:`elephant_twin_spark.streaming.refresh`.

    ``scan`` lets :func:`build_block_indexes` pass ``(files, df)``: a
    listing of ``table_path`` and a shared (cached) file-source read of
    exactly those files.
    """
    idx_dir = catalog.index_dir(index_root, table_path, column, kind="block")
    data_dir = f"{idx_dir}/postings"
    # one descriptor read, reused after the self-heal (r12 advisor: the
    # recovered postings dir cannot change the descriptor, so a re-read
    # is a redundant driver-side metadata round trip per ensure call)
    desc = None if overwrite else catalog.read_descriptor(spark, idx_dir)
    if desc is not None:
        # Self-heal a build's or refresh's publish crashed between
        # delete and rename: the descriptor survives while the postings
        # dir is absent and its complete staged sibling sits next to it
        # — without this, the early return would pin the broken state
        # and every query on the indexed column would keep raising
        # require_published's FileNotFoundError until a manual
        # overwrite=True rebuild.
        fsio.recover_publish(spark, fsio.staged_dir(data_dir), data_dir)
        return BuildResult(idx_dir, column, len(desc.files), -1)

    # List the source BEFORE the scan (r11 review): a file landing
    # between the indexing scan and a post-write listing would be
    # recorded as covered with a valid checksum while its rows are
    # absent from the postings — queries would silently prune it. The
    # pre-listing errs the safe way in both directions: a file added
    # mid-build is missing from the descriptor (not_covered → always
    # scanned), and a file modified mid-build fails the query-time
    # checksum (stale → full scan). Same ordering in every builder.
    if scan is None:
        files = fsio.list_data_files(spark, table_path)
        df = fsio.read_parquet(spark, table_path, stats=files)
    else:
        files, df = scan
    postings = postings_for(
        df,
        column,
        max_merged_bytes=max_merged_bytes,
        sample_fraction=sample_fraction,
        seed=seed,
        key_col=F.expr(key_expr) if key_expr else None,
    )

    # Stage + publish (r12 review): a REBUILD that overwrites the live
    # postings dir in place hands a concurrent reader — whose old
    # descriptor still claims full coverage with valid checksums — a
    # partially-deleted/partially-committed postings table, and missing
    # postings rows prune files silently. Writing to the staged sibling
    # and publishing via delete+rename shrinks the reader-visible window to
    # two metadata ops that fail LOUDLY (absent dir), never silently
    # wrong; a crash mid-publish is completed by fsio.recover_publish.
    # Build lease: two concurrent builds of one index share the staged
    # path — B's overwrite can gut the dir A is renaming.
    # Create-exclusive marker + ttl takeover; see fsio.
    with fsio.build_lease(spark, idx_dir) as lease_owner:
        write_range_partitioned(
            postings, num_buckets, "key", ("key", "file"), fsio.staged_dir(data_dir),
            bloom_col="key",
        )
        # fence: a build whose lease was TAKEN OVER (paused past the
        # ttl despite the scope's heartbeat — fsio.build_lease) aborts
        # BEFORE the destructive publish
        fsio.fence_and_publish(spark, idx_dir, lease_owner, [data_dir])

        # Descriptor AFTER a successful data write (write-then-publish, so a
        # failed build never yields a descriptor pointing at garbage).
        desc = catalog.make_descriptor(
            source_path=table_path,
            column=column,
            index_type="BLOCK",
            num_buckets=num_buckets,
            files=files,
            options={
                "max_merged_bytes": str(max_merged_bytes),
                **({"sample_fraction": str(sample_fraction)} if sample_fraction else {}),
                **({"key_expr": key_expr} if key_expr else {}),
            },
        )
        catalog.write_descriptor(spark, idx_dir, desc)

    n_keys = -1  # cheap: do not force a count; callers can count the postings table
    return BuildResult(idx_dir, column, len(files), n_keys)


# ---------------------------------------------------------------- zone index
#
# Per-file TYPED min/max of a column — O(files) storage like the bloom
# kind, but serving ORDERED predicates: a range leaf (> >= < <=) keeps
# only files whose [min,max] interval can overlap it. Parquet already
# keeps row-group min/max INSIDE each file; the zone table lifts the same
# statistic to the file level so planning never opens a footer. Pays off
# exactly when the column is clustered (sorted/range-partitioned writes,
# time-ordered ingest). Extends pushdown beyond the reference's EQ-only
# contract (core/retrieval/Expression.java:205-227).


def zones_for(df: DataFrame, column: str, key_expr: Optional[str] = None) -> DataFrame:
    """Per-file zone rows ``(file, min_v, max_v, n_null)`` for ``df`` —
    the ONE definition of the zone aggregation, shared by the full build
    and the incremental refresh (r9 review: the refresh's hand copy had
    already drifted, losing ``key_expr`` support — wrong zones silently
    prune files the expression actually matches).

    Precondition: every file has ONE raw ``_metadata.file_path``
    spelling in ``df`` — in practice, ``df`` is a single scan; a union
    of scans spelling one file two ways yields two zone rows for it
    (see :func:`postings_for`)."""
    key = F.expr(key_expr) if key_expr else F.col(column)
    return (
        df.select(
            # raw path grouped, canonicalized once per output file row
            # (r17): see postings_for — per-row regex+decode work moved
            # to per-group
            F.col("_metadata.file_path").alias("_rawfile"),
            key.alias("v"),
        )
        .groupBy("_rawfile")
        .agg(
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_null"),
        )
        .select(
            fsio.file_path_col(F.col("_rawfile")).alias("file"),
            "min_v",
            "max_v",
            "n_null",
        )
    )


def build_zone_index(
    spark: SparkSession,
    table_path: str,
    column: str,
    index_root: str,
    key_expr: Optional[str] = None,
) -> BuildResult:
    """Zone table ``(file, min_v, max_v, n_null)`` with the column's native
    type preserved (string min/max would order numbers wrong).

    ``key_expr`` zones an arbitrary SQL expression under the virtual name
    ``column`` — same contract as the block-index expression support."""
    idx_dir = catalog.index_dir(index_root, table_path, column, kind="zone")
    # pre-listing: see build_block_index (mid-build file-add race)
    files = fsio.list_data_files(spark, table_path)
    df = fsio.read_parquet(spark, table_path, stats=files)
    zones = zones_for(df, column, key_expr)
    # stage + publish + lease: see build_block_index
    data_dir = f"{idx_dir}/zones"
    with fsio.build_lease(spark, idx_dir) as lease_owner:
        zones.coalesce(1).write.mode("overwrite").parquet(fsio.staged_dir(data_dir))
        fsio.fence_and_publish(spark, idx_dir, lease_owner, [data_dir])
        desc = catalog.make_descriptor(
            source_path=table_path,
            column=column,
            index_type="ZONE",
            num_buckets=1,
            files=files,
            options={"key_expr": key_expr} if key_expr else {},
        )
        catalog.write_descriptor(spark, idx_dir, desc)
    return BuildResult(idx_dir, column, len(files), -1)


def read_zones(spark: SparkSession, idx_dir: str) -> DataFrame:
    return fsio.read_parquet(spark, f"{idx_dir}/zones")


# --------------------------------------------------------------- bloom index
#
# Postings indexes are O(distinct keys × files) — perfect for low/medium
# cardinality, wasteful for high-cardinality columns (a user_id index over
# 100 TB carries billions of postings). The bloom index is the scale
# complement: ONE fixed-size bit array per file (`num_bits` bits as
# num_bits/64 longs), k hash functions. Lookups can false-positive (scan a
# file that has no match — residual filter keeps results exact) but never
# false-negative, so pruning stays safe. Storage is O(files), independent
# of cardinality. The reference has no analog; its MapFile postings hit
# the same cardinality wall (every distinct Text key is materialized).

BLOOM_DEFAULT_BITS = 8192
BLOOM_DEFAULT_HASHES = 3


def _bloom_pos_sql(key, i: int, num_bits: int) -> F.Column:
    """Hash position i for a key column — md5-based so the SAME value is
    computable driver-side in Python (`bloom_positions`) without Spark.
    Delegates to the shared primitive (`scalar.md5_bucket`) so the Bloom
    and count-min hash algebras stay one definition."""
    from elephant_twin_spark.functions.scalar import md5_bucket

    return md5_bucket(key, i, num_bits)


def bloom_positions(value: str, num_bits: int, num_hashes: int):
    """Driver-side twin of :func:`_bloom_pos_sql`."""
    import hashlib

    out = []
    for i in range(num_hashes):
        h = hashlib.md5(f"{i}|{value}".encode()).hexdigest()
        out.append(int(h[:15], 16) % num_bits)
    return out


def build_bloom_index(
    spark: SparkSession,
    table_path: str,
    column: str,
    index_root: str,
    num_bits: int = BLOOM_DEFAULT_BITS,
    num_hashes: int = BLOOM_DEFAULT_HASHES,
) -> BuildResult:
    """Per-file Bloom filter index for ``column``: sketch table
    ``(file, bits array<bigint>)`` with ``num_bits/64`` words per file."""
    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    idx_dir = catalog.index_dir(index_root, table_path, column, kind="bloom")
    # pre-listing: see build_block_index (mid-build file-add race)
    files = fsio.list_data_files(spark, table_path)
    sketch = bloom_sketch_for(
        fsio.read_parquet(spark, table_path, stats=files), column, num_bits, num_hashes
    )
    # stage + publish + lease: see build_block_index
    data_dir = f"{idx_dir}/sketch"
    with fsio.build_lease(spark, idx_dir) as lease_owner:
        sketch.coalesce(1).write.mode("overwrite").parquet(fsio.staged_dir(data_dir))
        fsio.fence_and_publish(spark, idx_dir, lease_owner, [data_dir])
        desc = catalog.make_descriptor(
            source_path=table_path,
            column=column,
            index_type="BLOOM",
            num_buckets=1,
            files=files,
            options={"num_bits": str(num_bits), "num_hashes": str(num_hashes)},
        )
        catalog.write_descriptor(spark, idx_dir, desc)
    return BuildResult(idx_dir, column, len(files), -1)


def bloom_sketch_for(
    df: DataFrame,
    column: str,
    num_bits: int = BLOOM_DEFAULT_BITS,
    num_hashes: int = BLOOM_DEFAULT_HASHES,
) -> DataFrame:
    """Per-file Bloom bit arrays ``(file, bits)`` for a file-source read
    (must expose ``_metadata``); also used by incremental refresh on a
    delta of new files only.

    Precondition: every file has ONE raw ``_metadata.file_path``
    spelling in ``df`` — in practice, ``df`` is a single scan; a union
    of scans spelling one file two ways yields two sketch rows for it
    (see :func:`postings_for`)."""
    n_words = num_bits // 64
    key = F.col(column).cast("string")
    src = df.select(
        key.alias("key"),
        # raw path through both groupings, canonicalized once per output
        # file row (r17): see postings_for — per-row regex+decode work
        # moved to per-group
        F.col("_metadata.file_path").alias("_rawfile"),
    ).where(key.isNotNull())
    pos = src.select(
        "_rawfile",
        F.explode(
            F.array(*[_bloom_pos_sql(F.col("key"), i, num_bits) for i in range(num_hashes)])
        ).alias("pos"),
    )
    words = (
        pos.select(
            "_rawfile",
            (F.col("pos") / 64).cast("int").alias("word"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("mask"),
        )
        .groupBy("_rawfile", "word")
        .agg(F.expr("bit_or(mask)").alias("val"))
    )
    return (
        words.groupBy("_rawfile")
        .agg(F.map_from_entries(F.collect_list(F.struct("word", "val"))).alias("_m"))
        .select(
            fsio.file_path_col(F.col("_rawfile")).alias("file"),
            F.expr(
                f"transform(sequence(0, {n_words - 1}), w -> coalesce(element_at(_m, w), 0L))"
            ).alias("bits"),
        )
    )


def read_bloom_sketch(spark: SparkSession, idx_dir: str) -> DataFrame:
    return fsio.read_parquet(spark, f"{idx_dir}/sketch")


def build_block_indexes(
    spark: SparkSession,
    table_path: str,
    columns,
    index_root: str,
    **kw,
) -> list:
    """Build indexes for several columns with ONE scan of the base table.

    The reference pays a full MR pass per (file, column); here the k
    index builds share a single cached projection of just the k key
    columns + file metadata (column-pruned, spilled to disk if large), so
    at 100 TB the table is read once instead of k times. Each column
    still gets its own shuffle + bucketed write (their partitionings
    differ by definition). The table is listed once, before the scan
    (see :func:`build_block_index`), and every column's descriptor
    records that listing."""
    from pyspark import StorageLevel

    cols = list(columns)
    files = fsio.list_data_files(spark, table_path)
    shared = fsio.read_parquet(spark, table_path, stats=files).select(
        *cols,
        F.col("_metadata.file_path").alias("_mfp"),
        F.col("_metadata.file_block_start").alias("_mbs"),
        F.col("_metadata.file_block_length").alias("_mbl"),
    ).withColumn(
        "_metadata",
        F.struct(
            F.col("_mfp").alias("file_path"),
            F.col("_mbs").alias("file_block_start"),
            F.col("_mbl").alias("file_block_length"),
        ),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return [
            build_block_index(spark, table_path, c, index_root, scan=(files, shared), **kw)
            for c in cols
        ]
    finally:
        shared.unpersist()


def read_postings(spark: SparkSession, idx_dir: str) -> DataFrame:
    """The index as a first-class table (reference S10: index files are
    themselves scannable input, core/retrieval/ScanUsingIndexJob.java:163-240)."""
    return fsio.read_parquet(spark, f"{idx_dir}/postings")
