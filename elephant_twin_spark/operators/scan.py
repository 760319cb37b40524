"""Index-pruned scan — the query-time planner (the reference's "optimizer").

Reference flow (core/retrieval/BlockIndexedFileInputFormat.java:101-187):
per input file — (a) no/stale index → full-scan that file; (b) index hit
with empty postings → skip the file entirely; (c) postings → scan only the
matched byte ranges; then residual-filter every row
(core/retrieval/FilterRecordReader.java:58-106). AND/OR over predicates is
interval intersection/union over postings
(BlockIndexedFileInputFormat.java:448-640).

Spark-first rebuild: the predicate tree is evaluated against the postings
tables to a *file set* (AND = set intersection, OR = set union — the
reference's byte-range guard logic degenerates to set algebra at file
granularity, SURVEY §2.5), the pruned file list — with the stats
the planner's listing already holds — feeds :func:`fsio.read_parquet`,
and the FULL predicate is applied as a Catalyst residual filter.
Parquet min/max + bloom stats then prune row-groups *within* the
surviving files, recovering the reference's sub-file granularity
without custom readers.

Warm planning launches no Spark job besides the index probe: the
index tables and the pruned files are read through
:func:`fsio.read_parquet`, which reuses the schema Spark inferred for
the same smallest file instead of running the inference job again (a
refresh that rewrites an index, or a new smallest file, costs one
inference on the next read), the way the reference
reads its MapFile indexes in the client and launches nothing before
the scan (core/retrieval/BlockIndexedFileInputFormat.java:409-431).

The stored byte ranges ARE used below file granularity — just not as a
scan filter: AND-predicates intersect each file's posting ranges
(:mod:`elephant_twin_spark.plans.intervals`, the reference's I2), so a
file whose matching blocks for the two keys don't overlap is excluded
entirely, and the bytes-ratio metric reports range lengths rather than
whole file sizes (the reference's ``totalBytesNewSplits``). Measured
fact motivating this design: Spark evaluates ``_metadata
.file_block_start`` predicates per row, NOT at split planning (verified:
a block-range filter leaves the scan's partition count unchanged), so a
range-based scan filter would add no IO saving over the pushed residual
filter + parquet row-group stats — exclusion and metrics are where the
ranges genuinely help. Correctness of cross-run range reuse: a row's
split is chosen by its row-group midpoint byte, which both the
build-time and any future split containing it must include, so matching
rows always fall inside the recorded ranges.

Scale notes (100 TB discipline, SURVEY §7.5):
- the only driver-side collect is the matched FILE LIST (+ the requested
  keys' posting ranges) — bounded by file count, never row data;
- each leaf lookup reads ~1 of N range-partitioned index files (footer
  min/max + bloom on ``key``), the analog of the reference's
  hash-partitioned MapFile probe;
- scan task sizing is Spark's own bin-packing
  (``spark.sql.files.maxPartitionBytes`` ≈ ``indexed.filesplit.maxsize``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Set

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elephant_twin_spark.operators import build as build_mod
from elephant_twin_spark.plans import expr as E
from elephant_twin_spark.plans import intervals as iv
from elephant_twin_spark.sources import catalog, fsio


#: Above this many live files the planner evaluates the predicate tree
#: against the index tables CLUSTER-SIDE (set algebra over per-leaf file
#: DataFrames) and collects only the final matched file list, instead of
#: collecting per-leaf posting rows to the driver. Below it, the
#: driver-side evaluator wins (no job-launch overhead, and byte-range
#: granularity for AND-intersection + metrics). 10⁵ is where per-leaf
#: lists × leaves start to threaten driver memory at 100 TB file counts.
DISTRIBUTED_FILE_THRESHOLD = 100_000


@dataclass
class ScanMetrics:
    """The reference's logged planning metrics (M6,
    BlockIndexedFileInputFormat.java:179-185): bytes before/after pruning."""

    total_files: int = 0
    scanned_files: int = 0
    total_bytes: int = 0
    scanned_bytes: int = 0
    pushed: Optional[str] = None
    stale_files: int = 0
    planner: str = "driver"

    @property
    def bytes_ratio(self) -> float:
        return self.total_bytes / max(1, self.scanned_bytes)

    def as_dict(self) -> Dict:
        return {
            "total_files": self.total_files,
            "scanned_files": self.scanned_files,
            "total_bytes": self.total_bytes,
            "scanned_bytes": self.scanned_bytes,
            "bytes_ratio": self.bytes_ratio,
            "pushed": self.pushed,
            "stale_files": self.stale_files,
            "planner": self.planner,
        }


@dataclass
class _Index:
    column: str
    idx_dir: str
    desc: catalog.IndexDescriptor
    kind: str = "block"
    fresh: Set[str] = field(default_factory=set)
    not_covered: Set[str] = field(default_factory=set)


def _load_indexes(
    spark: SparkSession,
    table_path: str,
    index_root: str,
    live: List[fsio.FileStat],
    kind: str = "block",
) -> Dict[str, _Index]:
    """Discover valid indexes of one kind for the table and classify each
    live file as fresh (pruneable) or not-covered (must always scan)."""
    out: Dict[str, _Index] = {}
    tid_dir = f"{index_root.rstrip('/')}/{catalog.table_id(table_path)}/{kind}"
    if not fsio.exists(spark, tid_dir):
        return out
    fs, jpath, _ = fsio._fs_and_path(spark, tid_dir)
    for st in fs.listStatus(jpath):
        if not st.isDirectory():
            continue
        column = st.getPath().getName()
        idx_dir = f"{tid_dir}/{column}"
        desc = catalog.read_descriptor(spark, idx_dir)
        if desc is None or desc.index_version != catalog.INDEX_VERSION:
            continue
        fresh = desc.fresh_files(live)
        all_live = {p for p, _, _ in live}
        out[column] = _Index(
            column=column,
            idx_dir=idx_dir,
            desc=desc,
            kind=kind,
            fresh=fresh,
            not_covered=all_live - fresh,
        )
    return out


def _load_all_indexes(
    spark: SparkSession, table_path: str, index_root: str, live: List[fsio.FileStat]
) -> Dict[str, _Index]:
    """Block + bloom indexes by column; when a column has both, the block
    index wins (exact postings beat a false-positive-prone sketch)."""
    merged = _load_indexes(spark, table_path, index_root, live, kind="bloom")
    merged.update(_load_indexes(spark, table_path, index_root, live, kind="block"))
    return merged


FileRanges = Dict[str, List[iv.Range]]


def _leaf_file_sets(
    spark: SparkSession,
    leaves: List[E.Expr],
    indexes: Dict[str, _Index],
    zones: Optional[Dict[str, _Index]] = None,
) -> Dict[int, FileRanges]:
    """Batch-resolve all leaves against their index tables.

    One index read per distinct column — all requested keys for that column
    are looked up in a single ``key IN (...)`` scan (bucket-pruned by
    parquet min/max + bloom), instead of one job per leaf. Returns, per
    leaf id, ``{file: [byte ranges]}`` over FRESH files; block indexes
    carry their real posting ranges, bloom/zone candidates and files not
    covered by an index map to :data:`intervals.WHOLE_FILE` (they may
    match anywhere — reference case (a), full-scan fallback).
    """
    zones = zones or {}
    by_col: Dict[str, List[E.Eq]] = {}
    zone_by_col: Dict[str, List[E.Expr]] = {}
    for leaf in leaves:
        # point leaves go to block/bloom; Eq on a zone-only column and all
        # ordered Cmp leaves go to the zone table
        if isinstance(leaf, E.Eq) and leaf.column in indexes:
            by_col.setdefault(leaf.column, []).append(leaf)
        else:
            zone_by_col.setdefault(leaf.column, []).append(leaf)

    def finish(matched: FileRanges, idx: _Index) -> FileRanges:
        out = {f: r for f, r in matched.items() if f in idx.fresh}
        for f in idx.not_covered:
            out[f] = list(iv.WHOLE_FILE)
        return out

    result: Dict[int, FileRanges] = {}
    for column, col_leaves in zone_by_col.items():
        idx = zones[column]
        probes = []
        for i, leaf in enumerate(col_leaves):
            v = F.lit(leaf.value)
            if isinstance(leaf, E.Eq):
                cond = (F.col("min_v") <= v) & (F.col("max_v") >= v)
            else:  # ordered Cmp; '!=' never reaches here (not pushable)
                cond = {
                    ">": F.col("max_v") > v,
                    ">=": F.col("max_v") >= v,
                    "<": F.col("min_v") < v,
                    "<=": F.col("min_v") <= v,
                }[leaf.op]
            probes.append(cond.alias(f"_z{i}"))
        rows = build_mod.read_zones(spark, idx.idx_dir).select("file", *probes).collect()
        for i, leaf in enumerate(col_leaves):
            matched = {
                fsio.normalize_path(r["file"]): list(iv.WHOLE_FILE)
                for r in rows
                if r[f"_z{i}"]
            }
            result[id(leaf)] = finish(matched, idx)

    for column, col_leaves in by_col.items():
        idx = indexes[column]
        keys = sorted({l.key for l in col_leaves})
        if idx.kind == "bloom":
            by_key = {
                k: {f: list(iv.WHOLE_FILE) for f in files}
                for k, files in _bloom_candidates(spark, idx, keys).items()
            }
        else:
            rows = (
                build_mod.read_postings(spark, idx.idx_dir)
                .where(F.col("key").isin(keys))
                .select("key", "file", "ranges")
                .collect()
            )
            by_key = {}
            for r in rows:
                # stored "file" values hold the DECODED literal path form
                # (fsio.file_path_col un-URI-encodes _metadata.file_path at
                # build time); only file:/x vs file:///x scheme spelling
                # remains to normalize against FS listings here
                by_key.setdefault(r["key"], {})[fsio.normalize_path(r["file"])] = (
                    iv.normalize([(x["start"], x["end"]) for x in r["ranges"]])
                )
        for leaf in col_leaves:
            result[id(leaf)] = finish(by_key.get(leaf.key, {}), idx)
    return result


def _bloom_candidates(
    spark: SparkSession, idx: "_Index", keys: List[str]
) -> Dict[str, Set[str]]:
    """Per key, the files whose Bloom bit array has ALL the key's bits set
    (candidates; false positives possible, false negatives impossible —
    the residual row filter keeps results exact). One scan of the tiny
    sketch table answers every key."""
    num_bits = int(idx.desc.options["num_bits"])
    num_hashes = int(idx.desc.options["num_hashes"])
    probes = []
    for k in keys:
        cond = F.lit(True)
        for p in build_mod.bloom_positions(k, num_bits, num_hashes):
            word, mask = p // 64, 1 << (p % 64)
            if mask >= 1 << 63:  # two's-complement: bit 63 is the sign bit
                mask -= 1 << 64
            cond = cond & (
                F.expr(f"element_at(bits, {word + 1})").bitwiseAND(F.lit(mask)) != 0
            )
        probes.append(cond.alias(f"_k{len(probes)}"))
    rows = build_mod.read_bloom_sketch(spark, idx.idx_dir).select("file", *probes).collect()
    out: Dict[str, Set[str]] = {k: set() for k in keys}
    for r in rows:
        f = fsio.normalize_path(r["file"])
        for i, k in enumerate(keys):
            if r[f"_k{i}"]:
                out[k].add(f)
    return out


def _norm_file_col() -> F.Column:
    return fsio.normalize_path_col("file").alias("file")


#: matched byte length of a sorted (possibly overlapping) range list —
#: classic sweep carrying (total, current max end); equals the driver
#: path's ``iv.total_length(iv.normalize(...))`` without materializing
#: the merged list. Pure Spark SQL (whole-stage codegen'd).
_MERGED_LEN_EXPR = (
    "aggregate(sort_array(collect_list(struct(s, e))), "
    "named_struct('t', CAST(0 AS BIGINT), 'c', CAST(-1 AS BIGINT)), "
    "(a, x) -> named_struct("
    "'t', a.t + GREATEST(CAST(0 AS BIGINT), x.e - GREATEST(x.s, a.c)), "
    "'c', GREATEST(a.c, x.e)), "
    "a -> a.t)"
)

_WHOLE_FILE_END = iv.WHOLE_FILE[0][1]


def _whole_file_ranges(df: DataFrame) -> DataFrame:
    return df.select(
        "file",
        F.lit(0).cast("long").alias("s"),
        F.lit(_WHOLE_FILE_END).cast("long").alias("e"),
    )


def _leaf_file_df(
    spark: SparkSession,
    leaf: E.Expr,
    idx: _Index,
    fresh_dfs: Optional[Dict[int, DataFrame]] = None,
) -> DataFrame:
    """One leaf's candidate ``(file, s, e)`` byte ranges as a DataFrame —
    the cluster-side twin of one :func:`_leaf_file_sets` entry. Block
    indexes carry their real posting ranges; bloom/zone candidates and
    not-covered files get the WHOLE_FILE sentinel range, exactly like
    the driver path, so AND intersections can exclude files sub-file
    cluster-side too (`core/retrieval/BlockIndexedFileInputFormat.java:189-241`).
    ``fresh_dfs`` caches the per-index fresh/not-covered local relations
    so a multi-leaf predicate ships each index's file list to the
    cluster once, not once per leaf."""
    if isinstance(leaf, E.Eq) and idx.kind == "block":
        df = (
            build_mod.read_postings(spark, idx.idx_dir)
            .where(F.col("key") == leaf.key)
            .select(_norm_file_col(), F.explode("ranges").alias("r"))
            .select(
                "file",
                F.col("r.start").cast("long").alias("s"),
                F.col("r.end").cast("long").alias("e"),
            )
            .where(F.col("e") > F.col("s"))
        )
    elif isinstance(leaf, E.Eq) and idx.kind == "bloom":
        num_bits = int(idx.desc.options["num_bits"])
        num_hashes = int(idx.desc.options["num_hashes"])
        cond = F.lit(True)
        for p in build_mod.bloom_positions(leaf.key, num_bits, num_hashes):
            word, mask = p // 64, 1 << (p % 64)
            if mask >= 1 << 63:
                mask -= 1 << 64
            cond = cond & (
                F.expr(f"element_at(bits, {word + 1})").bitwiseAND(F.lit(mask)) != 0
            )
        df = _whole_file_ranges(
            build_mod.read_bloom_sketch(spark, idx.idx_dir)
            .where(cond)
            .select(_norm_file_col())
        )
    else:  # zone leaf: Eq or ordered Cmp against per-file min/max
        v = F.lit(leaf.value)
        if isinstance(leaf, E.Eq):
            cond = (F.col("min_v") <= v) & (F.col("max_v") >= v)
        else:
            cond = {
                ">": F.col("max_v") > v,
                ">=": F.col("max_v") >= v,
                "<": F.col("min_v") < v,
                "<=": F.col("min_v") <= v,
            }[leaf.op]
        df = _whole_file_ranges(
            build_mod.read_zones(spark, idx.idx_dir)
            .where(cond)
            .select(_norm_file_col())
        )
    if idx.not_covered:
        # fresh-only candidates, plus always-scan rows for stale/new files
        # (reference case (a)). The file *listing* is inherently
        # driver-resident (same contract as the reference's client-side
        # split planning); what the distributed path avoids is per-leaf
        # posting-row materialization, which scales with keys × files.
        cache = fresh_dfs if fresh_dfs is not None else {}
        if id(idx) not in cache:
            cache[id(idx)] = (
                spark.createDataFrame(
                    [(f,) for f in sorted(idx.fresh)], "file string"
                ),
                spark.createDataFrame(
                    [(f,) for f in sorted(idx.not_covered)], "file string"
                ),
            )
        fresh, nc = cache[id(idx)]
        df = df.join(fresh, "file", "leftsemi").unionByName(_whole_file_ranges(nc))
    return df


def _eval_tree_df(
    spark: SparkSession,
    tree: E.Expr,
    indexes: Dict[str, _Index],
    zones: Dict[str, _Index],
    fresh_dfs: Optional[Dict[int, DataFrame]] = None,
) -> DataFrame:
    """I1/I2/I3 as DataFrame interval algebra over ``(file, s, e)`` rows:
    OR = union, AND = per-file range-overlap equi-join emitting
    ``[max(starts), min(ends))`` — the same sub-file exclusion the driver
    path's :func:`_eval_tree` does, but the pruning computation stays in
    the cluster; only the FINAL matched (file, matched-bytes) list is
    collected (bounded by the answer, not by keys × files). Used above
    :data:`DISTRIBUTED_FILE_THRESHOLD`."""
    if fresh_dfs is None:
        fresh_dfs = {}
    if isinstance(tree, (E.Eq, E.Cmp)):
        if isinstance(tree, E.Eq) and tree.column in indexes:
            return _leaf_file_df(spark, tree, indexes[tree.column], fresh_dfs)
        return _leaf_file_df(spark, tree, zones[tree.column], fresh_dfs)
    if isinstance(tree, E.And):
        l = _eval_tree_df(spark, tree.left, indexes, zones, fresh_dfs).alias("l")
        r = _eval_tree_df(spark, tree.right, indexes, zones, fresh_dfs).alias("r")
        # hash equi-join on file + overlap residual; a file whose matched
        # blocks on the two sides don't overlap produces no row at all
        return l.join(
            r,
            (F.col("l.file") == F.col("r.file"))
            & (F.col("l.s") < F.col("r.e"))
            & (F.col("r.s") < F.col("l.e")),
        ).select(
            F.col("l.file").alias("file"),
            F.greatest("l.s", "r.s").alias("s"),
            F.least("l.e", "r.e").alias("e"),
        )
    if isinstance(tree, E.Or):
        return _eval_tree_df(spark, tree.left, indexes, zones, fresh_dfs).unionByName(
            _eval_tree_df(spark, tree.right, indexes, zones, fresh_dfs)
        )
    raise AssertionError(f"non-pushable node in pushed tree: {tree!r}")


def _collect_leaves(tree: E.Expr) -> List[E.Expr]:
    if isinstance(tree, (E.Eq, E.Cmp)):
        return [tree]
    if isinstance(tree, (E.And, E.Or)):
        return _collect_leaves(tree.left) + _collect_leaves(tree.right)
    return []


def _eval_tree(tree: E.Expr, leaf_sets: Dict[int, FileRanges]) -> FileRanges:
    """I1/I2/I3 over per-file byte ranges: OR = per-file range union,
    AND = per-file range intersection — a file whose matched blocks for
    the two sides don't overlap drops out entirely (sub-file evidence,
    file-level action)."""
    if isinstance(tree, (E.Eq, E.Cmp)):
        return leaf_sets[id(tree)]
    if isinstance(tree, E.And):
        l = _eval_tree(tree.left, leaf_sets)
        r = _eval_tree(tree.right, leaf_sets)
        out: FileRanges = {}
        for f in l.keys() & r.keys():
            got = iv.intersect(l[f], r[f])
            if got:
                out[f] = got
        return out
    if isinstance(tree, E.Or):
        l = _eval_tree(tree.left, leaf_sets)
        r = _eval_tree(tree.right, leaf_sets)
        out = dict(l)
        for f, ranges in r.items():
            out[f] = iv.union(out[f], ranges) if f in out else ranges
        return out
    raise AssertionError(f"non-pushable node in pushed tree: {tree!r}")


def read_byte_range(
    spark: SparkSession, file_path: str, start: int, end: int
) -> DataFrame:
    """S4 debug scan: rows of the splits whose block start lies in
    [start, end) of one file — the OneSplitInputFormat analog
    (core/retrieval/OneSplitInputFormat.java:31-54), via the ``_metadata``
    hidden column instead of a custom InputFormat."""
    df = spark.read.parquet(file_path)
    return df.where(
        (F.col("_metadata.file_block_start") >= F.lit(int(start)))
        & (F.col("_metadata.file_block_start") < F.lit(int(end)))
    )


def query(
    spark: SparkSession,
    table_path: str,
    predicate: E.Expr,
    index_root: str,
    metrics: Optional[ScanMetrics] = None,
    distributed_threshold: Optional[int] = None,
) -> DataFrame:
    """Index-accelerated ``SELECT * FROM table WHERE predicate``.

    Always returns exactly the rows a full scan + filter would (the gate
    the reference's verification job enforces, M5) — the index only prunes
    which files are opened.

    Above ``distributed_threshold`` live files (default
    :data:`DISTRIBUTED_FILE_THRESHOLD`), predicate→file-set evaluation
    runs cluster-side (:func:`_eval_tree_df`): only the final matched
    (file, matched-bytes) list reaches the driver, so planning memory is
    bounded by the answer instead of keys × files. Both paths intersect
    per-file byte ranges for AND predicates (sub-file exclusion +
    range-accurate bytes metrics) — the distributed path does it with a
    range-overlap join plus a codegen'd merged-length fold.
    """
    predicate = E._coerce(predicate)
    m = metrics if metrics is not None else ScanMetrics()

    live = fsio.list_data_files(spark, table_path)
    m.total_files = len(live)
    m.total_bytes = sum(s for _, s, _ in live)

    indexes = _load_all_indexes(spark, table_path, index_root, live)
    zones = _load_indexes(spark, table_path, index_root, live, kind="zone")

    def _resolve(name: str) -> F.Column:
        # expression indexes: a virtual index name expands to its defining
        # expression in the residual filter (the reference's pluggable
        # key-extractor contract, SURVEY §2.9)
        idx = indexes.get(name) or zones.get(name)
        if idx is not None and idx.desc.options.get("key_expr"):
            return F.expr(idx.desc.options["key_expr"])
        return F.col(name)

    full_filter = predicate.to_column(_resolve)
    pushed = E.extract_pushable(predicate, set(indexes), set(zones))
    m.pushed = repr(pushed) if pushed is not None else None

    if pushed is None:
        # no servable index — plain full scan + filter (still Catalyst-pushed
        # to parquet stats)
        m.scanned_files = m.total_files
        m.scanned_bytes = m.total_bytes
        return fsio.read_parquet(spark, table_path, stats=live).where(full_filter)

    leaves = _collect_leaves(pushed)
    sizes = {p: s for p, s, _ in live}
    threshold = (
        DISTRIBUTED_FILE_THRESHOLD
        if distributed_threshold is None
        else distributed_threshold
    )
    if len(live) > threshold:
        m.planner = "distributed"
        per_file = (
            _eval_tree_df(spark, pushed, indexes, zones)
            .groupBy("file")
            .agg(F.expr(_MERGED_LEN_EXPR).alias("mb"))
            .collect()
        )
        matched_bytes = {
            fsio.normalize_path(r["file"]): int(r["mb"]) for r in per_file
        }
        files = sorted(set(matched_bytes) & set(sizes))
        m.scanned_files = len(files)
        # same contract as the driver path: matched block bytes, clamped
        # to the real file size (WHOLE_FILE sentinel / merged-range pad)
        m.scanned_bytes = sum(min(sizes[f], matched_bytes[f]) for f in files)
    else:
        leaf_sets = _leaf_file_sets(spark, leaves, indexes, zones)
        matched = _eval_tree(pushed, leaf_sets)
        files = sorted(set(matched) & set(sizes))
        m.scanned_files = len(files)
        # the reference's totalBytesNewSplits: matched block bytes, not
        # whole file sizes (clamped — merged ranges can pad past the end)
        m.scanned_bytes = sum(
            min(sizes[f], iv.total_length(matched[f])) for f in files
        )

    def _serving_index(leaf: E.Expr) -> _Index:
        if isinstance(leaf, E.Eq) and leaf.column in indexes:
            return indexes[leaf.column]
        return zones[leaf.column]

    m.stale_files = len(set().union(*(_serving_index(l).not_covered for l in leaves)))

    if not files:
        # reference case (b): empty postings ⇒ zero files read; literal-false
        # filter collapses to an empty LocalRelation under Catalyst
        return fsio.read_parquet(spark, table_path, stats=live).where(F.lit(False))

    return fsio.read_parquet(spark, stats=fsio.stats_of(live, files)).where(full_filter)


def distinct_keys(
    spark: SparkSession,
    table_path: str,
    column: str,
    index_root: str,
) -> DataFrame:
    """Index-only DISTINCT: the stringified distinct values of a
    block-indexed column, read from the postings table — zero data files
    when the index fully covers the table; stale/new files contribute
    their values via a scan of JUST those files. One column ``key``
    (string — the index key domain, matching the reference's Text keys).
    Raises if no block index exists (a full-scan distinct should be an
    explicit choice, not a silent fallback 100× slower)."""
    live = fsio.list_data_files(spark, table_path)
    idx = _load_indexes(spark, table_path, index_root, live, kind="block").get(column)
    if idx is None:
        raise FileNotFoundError(f"no block index on {column!r}; use df.select(col).distinct()")
    # fresh-file semi-join (r11 review): postings may hold rows for files
    # since DELETED, and a stale (modified) file's OLD values — without
    # the filter those obsolete keys survive into the "distinct values"
    # answer even though no live row carries them (the stale file itself
    # is re-scanned below, so its CURRENT values are never lost).
    fresh_df = spark.createDataFrame([(f,) for f in sorted(idx.fresh)], "file string")
    keys = (
        build_mod.read_postings(spark, idx.idx_dir)
        .select(_norm_file_col(), "key")
        .join(F.broadcast(fresh_df), "file", "leftsemi")
        .select("key")
    )
    if idx.not_covered:
        extra = (
            fsio.read_parquet(spark, stats=fsio.stats_of(live, idx.not_covered))
            .select(F.col(column).cast("string").alias("key"))
            .where(F.col("key").isNotNull())
        )
        keys = keys.unionByName(extra)
    return keys.distinct()


def zone_min_max(
    spark: SparkSession,
    table_path: str,
    column: str,
    index_root: str,
):
    """Index-only MIN/MAX from the zone table's per-file typed bounds —
    the third covering-index aggregate (with COUNT and DISTINCT). Files
    not covered by a fresh zone row are aggregated by reading just them.
    Returns ``(min, max)`` in the column's native type."""
    live = fsio.list_data_files(spark, table_path)
    idx = _load_indexes(spark, table_path, index_root, live, kind="zone").get(column)
    if idx is None:
        raise FileNotFoundError(f"no zone index on {column!r}")
    zones = build_mod.read_zones(spark, idx.idx_dir)
    fresh = [r for r in zones.collect() if fsio.normalize_path(r["file"]) in idx.fresh]
    mins = [r["min_v"] for r in fresh if r["min_v"] is not None]
    maxs = [r["max_v"] for r in fresh if r["max_v"] is not None]
    if idx.not_covered:
        row = (
            fsio.read_parquet(spark, stats=fsio.stats_of(live, idx.not_covered))
            .agg(F.min(column).alias("mn"), F.max(column).alias("mx"))
            .first()
        )
        if row["mn"] is not None:
            mins.append(row["mn"])
            maxs.append(row["mx"])
    return (min(mins) if mins else None, max(maxs) if maxs else None)


def _eq_disjunction(e: E.Expr):
    """``col = v`` / ``col IN (...)`` shape detector: returns
    ``(column, {keys})`` when the tree is an OR-chain of Eq leaves on ONE
    column (disjoint keys → countable by postings sum), else None."""
    if isinstance(e, E.Eq):
        return e.column, {e.key}
    if isinstance(e, E.Or):
        l, r = _eq_disjunction(e.left), _eq_disjunction(e.right)
        if l and r and l[0] == r[0]:
            return l[0], l[1] | r[1]
    return None


def count(
    spark: SparkSession,
    table_path: str,
    predicate: E.Expr,
    index_root: str,
    metrics: Optional[ScanMetrics] = None,
    distributed_threshold: Optional[int] = None,
) -> int:
    """Index-ONLY ``SELECT count(*) WHERE predicate`` when the predicate
    is an equality (or same-column IN/OR-of-equalities) on a block-indexed
    column: the postings table already stores the exact per-(key, file)
    row count (A2), so the answer is a sum over the tiny index — ZERO
    data files opened. A covering-index count, the set-based upgrade of
    the reference's one-scan-per-key verification counts
    (`core/retrieval/ScanUsingIndexJob.java:45-59`).

    Files not covered by a fresh index entry (stale/new — reference case
    (a)) are counted by actually reading just those files with the full
    predicate, so the result always equals ``query(...).count()``. Any
    other predicate shape falls back to exactly that.
    """
    predicate = E._coerce(predicate)
    m = metrics if metrics is not None else ScanMetrics()
    shape = _eq_disjunction(predicate)
    if shape is None:
        return query(spark, table_path, predicate, index_root, metrics=m).count()
    column, keys = shape

    live = fsio.list_data_files(spark, table_path)
    indexes = _load_indexes(spark, table_path, index_root, live, kind="block")
    idx = indexes.get(column)
    if idx is None:  # bloom/zone can't count (false positives / ranges)
        return query(spark, table_path, predicate, index_root, metrics=m).count()

    m.total_files = len(live)
    m.total_bytes = sum(s for _, s, _ in live)
    m.pushed = f"count-only {column} IN {sorted(keys)}"
    threshold = (
        DISTRIBUTED_FILE_THRESHOLD
        if distributed_threshold is None
        else distributed_threshold
    )
    matched = build_mod.read_postings(spark, idx.idx_dir).where(
        F.col("key").isin(sorted(keys))
    )
    if len(live) > threshold:
        # cluster-side covering count: the per-file posting rows never
        # reach the driver. The fresh-file semi-join is unconditional —
        # the index may hold rows for files since deleted (not in `live`
        # at all), which the driver path's `in idx.fresh` check also
        # excludes.
        m.planner = "distributed"
        fresh_df = spark.createDataFrame(
            [(f,) for f in sorted(idx.fresh)], "file string"
        )
        matched = matched.select(_norm_file_col(), "cnt").join(
            fresh_df, "file", "leftsemi"
        )
        total = matched.agg(F.sum("cnt").alias("c")).first()["c"] or 0
    else:
        per_file = matched.groupBy("file").agg(F.sum("cnt").alias("cnt")).collect()
        total = sum(
            r["cnt"] for r in per_file if fsio.normalize_path(r["file"]) in idx.fresh
        )
    m.stale_files = len(idx.not_covered)
    m.scanned_files = 0
    m.scanned_bytes = 0
    if idx.not_covered:
        # reference case (a): stale/new files are counted the honest way
        sizes = {p: s for p, s, _ in live}
        residual_files = sorted(idx.not_covered)
        m.scanned_files = len(residual_files)
        m.scanned_bytes = sum(sizes[f] for f in residual_files)

        def _resolve(name: str) -> F.Column:
            if idx.desc.options.get("key_expr") and name == column:
                return F.expr(idx.desc.options["key_expr"])
            return F.col(name)

        total += (
            fsio.read_parquet(spark, stats=fsio.stats_of(live, residual_files))
            .where(predicate.to_column(_resolve))
            .count()
        )
    return int(total)
