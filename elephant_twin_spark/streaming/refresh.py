"""Incremental index maintenance — the M1 orchestration semantics
(index only not-yet-indexed files; reference
core/indexing/AbstractBlockIndexingJob.java:176-312 runs one MR job per
new file with an overwrite-skip check) re-expressed two ways:

1. ``refresh_block_index`` — batch incremental: diff the live file list
   against the catalog (the anti-join replacing ``hasPreviousIndex``),
   index ONLY new/changed files, and append their postings; changed
   files' stale postings are dropped by rewriting only affected index
   buckets' rows. One Spark job over the delta, not per-file jobs.

2. ``stream_index_updates`` — Structured Streaming: a file-source stream
   over the table directory feeds ``foreachBatch``, each micro-batch
   indexing newly-arrived files (the "new data = new files" model the
   reference handles by re-running the indexer; README.md:10 context).

Scale: the delta job touches only new bytes; the postings append is
partitioned the same as the full build, so query-time bucket pruning is
unaffected. Descriptor updates are last (write-then-publish) — a crashed
refresh leaves the previous descriptor, and un-described files simply
full-scan (never wrong).

Publish mechanics: every refresher runs one sequence (:func:`_refresh`)
and supplies only its kind-specific rewrite. Each rewritten data dir is
staged at its one ``.staging`` sibling (``fsio.staged_dir``, the name
the full builders use too) and goes through ``fsio.publish_dir`` — the
rename's boolean result is CHECKED (Hadoop returns False instead of
raising), so a failed publish can never be followed by a descriptor
pointing at missing or stale data. The delete→rename window is not
atomic on generic filesystems; the sequence first runs
``fsio.recover_publish`` (``fsio.recover_pair`` for the paired text
and IVF dirs), which completes an interrupted publish from the
surviving staged dir or sweeps a stale one. Builds and refreshes share
the staged name, so any build or refresh heals a crashed publish of
either — except a no-op refresh, which returns before the lease.

Delta parameters come from the DESCRIPTOR, not caller defaults: the
block refresh re-applies the recorded ``key_expr`` / ``sample_fraction``
/ ``max_merged_bytes``, the zone refresh the recorded ``key_expr``
(via the shared ``build.zones_for``), the text refresh the recorded
tokenizer — mixing parameterizations within one index table silently
breaks lookups in exactly the refreshed files.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elephant_twin_spark.operators import build as build_mod
from elephant_twin_spark.sources import catalog, fsio


@dataclass
class _Delta:
    """An index's descriptor diffed against a listing of its table.
    ``options`` starts as a copy of the descriptor's and becomes the
    new descriptor's; ``staged`` collects the data dirs the rewrite
    staged (:meth:`stage`)."""

    spark: SparkSession
    idx_dir: str
    desc: catalog.IndexDescriptor
    live: List[fsio.FileStat]
    new_or_changed: List[str]
    removed: List[str]
    options: dict = field(init=False)
    staged: List[str] = field(default_factory=list, init=False)

    def __post_init__(self):
        self.options = dict(self.desc.options)

    def merge(self, old: DataFrame, delta_of: Callable[[DataFrame], DataFrame]) -> DataFrame:
        """``old``'s rows of files still fresh, plus ``delta_of`` of a
        read of the new and changed files (with the stats the listing
        already holds)."""
        kept = old.where(~F.col("file").isin(sorted({*self.new_or_changed, *self.removed})))
        if not self.new_or_changed:
            return kept
        delta = fsio.read_parquet(self.spark, stats=fsio.stats_of(self.live, self.new_or_changed))
        return kept.unionByName(delta_of(delta))

    def stage(self, name: str) -> str:
        """Where to write the new ``name`` data dir; every staged dir
        is published, together, after the rewrite."""
        self.staged.append(f"{self.idx_dir}/{name}")
        return fsio.staged_dir(self.staged[-1])


def _diff(spark: SparkSession, idx_dir: str, table_path: str) -> Optional[_Delta]:
    """The index's descriptor against a listing of ``table_path``; None,
    with nothing listed, when the index has no descriptor."""
    desc = catalog.read_descriptor(spark, idx_dir)
    if desc is None:
        return None
    live = fsio.list_data_files(spark, table_path)
    live_paths = {p for p, _, _ in live}
    return _Delta(
        spark,
        idx_dir,
        desc,
        live,
        sorted(live_paths - desc.fresh_files(live)),
        sorted(set(desc.files) - live_paths),
    )


def _refresh(
    spark: SparkSession,
    kind: str,
    table_path: str,
    column: str,
    index_root: str,
    dirs: Sequence[str],
    rewrite: Callable[[_Delta], None],
    build: Optional[Callable] = None,
    published: Optional[Callable[[_Delta], None]] = None,
) -> dict:
    """The refresh sequence of every index kind; returns the summary
    dict. ``dirs`` names the index's data dirs, recovered as a pair
    when there are several. ``rewrite`` merges the kept rows with the
    delta and writes each new data dir at :meth:`_Delta.stage`.
    ``build`` runs a full build when there is no index yet (None:
    raise). ``published`` runs after the publish, before the new
    descriptor is written."""
    idx_dir = catalog.index_dir(index_root, table_path, column, kind=kind)
    d = _diff(spark, idx_dir, table_path)
    if d is None:
        if build is None:
            raise FileNotFoundError(f"no {kind} index at {idx_dir}; build it first")
        build(spark, table_path, column, index_root)
        return {
            "mode": "full_build",
            "files_indexed": len(catalog.read_descriptor(spark, idx_dir).files),
        }
    if d.new_or_changed or d.removed:
        # The writer lease: builds and refreshes of one index stage at
        # the same paths, so a second writer could gut the staged dir
        # this one is about to rename, or publish a delta of a
        # superseded generation over a rebuild. The lock-free diff above
        # only decides the no-op; a rebuild can finish before the lease
        # is acquired, so the rewrite uses the descriptor and listing
        # re-read under it — a delta computed with the old options
        # (key_expr, tokenizer, sketch width) against the new index
        # would mix keyings within one table and publish a descriptor
        # reverting the rebuild's options.
        with fsio.build_lease(spark, idx_dir) as lease_owner:
            d = _diff(spark, idx_dir, table_path)
            if d is None:
                raise FileNotFoundError(
                    f"index at {idx_dir} disappeared while acquiring its writer "
                    "lease (concurrent teardown?) — rebuild, then re-run the refresh"
                )
            if d.new_or_changed or d.removed:
                finals = [f"{idx_dir}/{name}" for name in dirs]
                if len(finals) > 1:
                    # a per-dir recovery would DELETE a staged dir that is
                    # the only copy of an interrupted paired publish's half
                    fsio.recover_pair(spark, finals)
                else:
                    fsio.recover_publish(spark, fsio.staged_dir(finals[0]), finals[0])
                rewrite(d)
                fsio.fence_and_publish(spark, idx_dir, lease_owner, d.staged)
                if published is not None:
                    published(d)
                new_desc = catalog.make_descriptor(
                    source_path=table_path,
                    column=column,
                    index_type=d.desc.index_type,
                    num_buckets=d.desc.num_buckets,
                    files=d.live,
                    options=d.options,
                )
                catalog.write_descriptor(spark, idx_dir, new_desc)
                return {
                    "mode": "incremental",
                    "files_indexed": len(d.new_or_changed),
                    "files_removed": len(d.removed),
                }
    return {"mode": "noop", "files_indexed": 0}


def refresh_block_index(
    spark: SparkSession,
    table_path: str,
    column: str,
    index_root: str,
    max_merged_bytes: Optional[int] = None,
) -> dict:
    """Incrementally index new/changed files; returns a summary dict.

    - new files → postings appended
    - changed files (size/mtime drift) → old postings rows dropped, fresh
      postings appended
    - deleted files → postings rows dropped, descriptor entry removed

    Delta postings are computed with the parameters THE INDEX WAS BUILT
    WITH (descriptor options ``key_expr`` / ``sample_fraction`` /
    ``max_merged_bytes``), mirroring how the text refresh reuses the
    recorded tokenizer — a raw-column default here would key new files'
    postings on the wrong expression and silently break lookups in
    refreshed files. ``max_merged_bytes`` overrides the recorded value
    when given (and the new descriptor records the override)."""

    def rewrite(d: _Delta) -> None:
        if max_merged_bytes is not None:
            d.options["max_merged_bytes"] = str(max_merged_bytes)
        key_expr = d.options.get("key_expr")
        sample_fraction = d.options.get("sample_fraction")
        postings = d.merge(
            fsio.read_parquet(spark, f"{d.idx_dir}/postings"),
            lambda df: build_mod.postings_for(
                df,
                column,
                max_merged_bytes=int(
                    d.options.get("max_merged_bytes", build_mod.DEFAULT_MAX_MERGED_BYTES)
                ),
                sample_fraction=float(sample_fraction) if sample_fraction else None,
                key_col=F.expr(key_expr) if key_expr else None,
            ),
        )
        # pinned write: the delta's range-merge aggregate runs once
        # instead of twice (range sampling + write; see
        # build.write_range_partitioned)
        build_mod.write_range_partitioned(
            postings, d.desc.num_buckets, "key", ("key", "file"), d.stage("postings"),
            bloom_col="key",
        )

    return _refresh(
        spark, "block", table_path, column, index_root, ["postings"], rewrite,
        build=build_mod.build_block_index,
    )


def refresh_bloom_index(
    spark: SparkSession,
    table_path: str,
    column: str,
    index_root: str,
) -> dict:
    """Incremental bloom-index maintenance. Sketches are strictly
    per-file, so the delta is trivial: drop rows of changed/removed
    files, append sketches computed from ONLY the new/changed files."""

    def rewrite(d: _Delta) -> None:
        # sketch geometry from the under-lease descriptor: a delta
        # sketched at a superseded width while the descriptor claims the
        # new one can FALSE-NEGATIVE, i.e. wrongly skip a file
        num_bits = int(d.options["num_bits"])
        num_hashes = int(d.options["num_hashes"])
        sketch = d.merge(
            fsio.read_parquet(spark, f"{d.idx_dir}/sketch"),
            lambda df: build_mod.bloom_sketch_for(df, column, num_bits, num_hashes),
        )
        sketch.coalesce(1).write.mode("overwrite").parquet(d.stage("sketch"))

    return _refresh(
        spark, "bloom", table_path, column, index_root, ["sketch"], rewrite,
        build=build_mod.build_bloom_index,
    )


def refresh_text_index(
    spark: SparkSession,
    table_path: str,
    text_column: str,
    index_root: str,
) -> dict:
    """Incremental text-index maintenance: postings carry their source
    file, so changed/removed files' rows drop and new files re-tokenize
    alone — M1 semantics for the Lucene-module analog."""
    from elephant_twin_spark.operators import text as text_mod

    def rewrite(d: _Delta) -> None:
        # delta files are analyzed with the tokenizer the index was
        # built with — a whitespace default would silently mix analyzers
        # within one postings table
        tok_name = d.options.get("tokenizer", "whitespace")
        try:
            tokenizer = text_mod._TOKENIZERS[tok_name]
        except KeyError:
            raise ValueError(
                f"index descriptor names unknown tokenizer {tok_name!r}; "
                f"registry has {sorted(text_mod._TOKENIZERS)}"
            ) from None
        doc_id = d.options["doc_id_column"]
        postings = d.merge(
            fsio.read_parquet(spark, f"{d.idx_dir}/postings"),
            lambda df: text_mod.postings_for(df, text_column, doc_id, tokenizer),
        )
        # pinned write: the delta's tokenize/explode postings aggregate
        # runs once instead of twice (see build.write_range_partitioned)
        build_mod.write_range_partitioned(
            postings, d.desc.num_buckets, "term", ("term", "doc_id"), d.stage("postings"),
            bloom_col="term",
        )
        # doclens (BM25 length + lnc cosine norms) keep the same
        # kept/delta split — norms are per-doc only, so other files'
        # rows stay valid. Both staged writes complete before the paired
        # publish, so new postings are never served with old norms.
        lens = d.merge(
            fsio.read_parquet(spark, f"{d.idx_dir}/doclens"),
            lambda df: text_mod.doclens_for(df, text_column, doc_id, tokenizer),
        )
        lens.coalesce(max(1, d.desc.num_buckets // 4)).write.mode("overwrite").parquet(
            d.stage("doclens")
        )

    def published(d: _Delta) -> None:
        # corpus stats re-derive from the merged table, keeping BM25 /
        # more_like_this idf honest
        d.options.update(text_mod.corpus_stats(spark, f"{d.idx_dir}/doclens"))

    return _refresh(
        spark, "text", table_path, text_column, index_root, ["postings", "doclens"],
        rewrite, published=published,
    )


def refresh_zone_index(
    spark: SparkSession,
    table_path: str,
    column: str,
    index_root: str,
) -> dict:
    """Incremental zone-map maintenance — per-file rows, so the delta is
    the same drop-and-append as the bloom refresh."""

    def rewrite(d: _Delta) -> None:
        # the SHARED zone aggregation, with the key_expr the index was
        # built with (a raw-column delta would silently misprune files)
        zones = d.merge(
            fsio.read_parquet(spark, f"{d.idx_dir}/zones"),
            lambda df: build_mod.zones_for(df, column, d.options.get("key_expr")),
        )
        zones.coalesce(1).write.mode("overwrite").parquet(d.stage("zones"))

    return _refresh(
        spark, "zone", table_path, column, index_root, ["zones"], rewrite,
        build=build_mod.build_zone_index,
    )


def refresh_lsh_index(
    spark: SparkSession,
    table_path: str,
    text_column: str,
    index_root: str,
) -> dict:
    """Incremental LSH maintenance: changed/removed source files' band
    rows are dropped, new/changed files' docs re-banded with the
    descriptor's frozen parameters and merged in one rewrite.
    Streaming-grown rows (``file='__grown__'``, appended by the ingest
    gate) are never dropped — they have no source file to go stale."""
    from elephant_twin_spark.operators import lsh as lsh_mod

    def rewrite(d: _Delta) -> None:
        o = d.options
        # read through the index handle, not the bands dir: grown rows live
        # in the sibling bands_grown spine (per-batch idempotent appends from
        # the streaming gate) and must fold into the rewrite. Do NOT run this
        # refresh while a gate stream is mid-batch — the fold clears
        # bands_grown, and an uncommitted batch's partition would be lost.
        bands = lsh_mod.LshIndex(spark, table_path, text_column, index_root).bands()
        # fold idempotency: a crash between the publish and the
        # bands_grown delete leaves the folded rows in BOTH the new
        # spine and bands_grown — bands() then yields each grown row twice,
        # and without this the re-fold would write the duplicates into the
        # spine permanently (monotonic growth per crashed refresh;
        # candidate_pairs' .distinct() hides it from gating). Only GROWN
        # rows can collide (source-file rows exist once in the spine by
        # construction), and duplicates exist only while a bands_grown
        # sibling does — so the guard costs nothing on the no-sibling path,
        # and otherwise splits on the sibling's distinct file_labels (a
        # handful of values — never the O(table files) live-path list,
        # which at 100 TB would put ~10^5 literals into the plan) and
        # dedups just that slice.
        grown_dir = f"{d.idx_dir}/bands_grown"
        if fsio.exists(spark, grown_dir):
            labels = [
                r["file"]
                for r in spark.read.parquet(grown_dir).select("file").distinct().collect()
            ]
            is_grown = F.col("file").isin(labels)
            bands = bands.where(~is_grown).unionByName(
                bands.where(is_grown).dropDuplicates(["id", "band", "band_hash", "file"])
            )
        merged = d.merge(
            bands,
            lambda df: lsh_mod.banded_docs(
                df,
                d.desc.column,
                o["id_column"],
                num_perm=int(o["num_perm"]),
                num_bands=int(o["num_bands"]),
                shingle_k=int(o["shingle_k"]),
                hash_fn=o["hash_fn"],
            ),
        )
        # UNPINNED write: both sides of the merge are cheap to evaluate
        # twice — the kept rows are a parquet re-read of the existing bands
        # table and the delta's banding is shuffle-free narrow hashing —
        # while pinning would eagerly checkpoint the ENTIRE merged bands
        # table (corpus cardinality) to save that; same measured trade as
        # build_lsh_index (SCALE_EXPERIMENTS.md r9). The postings refreshes
        # keep the pin: their deltas are real shuffle aggregates.
        build_mod.write_range_partitioned(
            merged, d.desc.num_buckets, "band_hash", ("band_hash", "id"), d.stage("bands"),
            pin_input=False,
        )

    def published(d: _Delta) -> None:
        # grown rows are folded into the main spine now
        fsio.delete(spark, f"{d.idx_dir}/bands_grown")

    return _refresh(
        spark, "lsh", table_path, text_column, index_root, ["bands"], rewrite,
        published=published,
    )


def refresh_ann_index(
    spark: SparkSession,
    table_path: str,
    vec_column: str,
    index_root: str,
) -> dict:
    """Incremental IVF maintenance: new/changed files' vectors are
    assigned with the EXISTING centroids and appended (changed/removed
    files' rows dropped first). The quantizer is NOT refit — centroids
    drift from the true kmeans optimum as the corpus grows, which costs
    recall, never correctness (assignment stays argmax-consistent, and
    the soundness check verifies exactly that); refit by rebuilding when
    drift matters."""
    from elephant_twin_spark.operators.pipeline import similarity as sim

    def rewrite(d: _Delta) -> None:
        # the pair recovery ran before this centroid collect — healing
        # after it could assign the delta against replaced centroids
        cent_dir = f"{d.idx_dir}/centroids"
        centroids = [
            list(r["centroid"])
            for r in sorted(
                fsio.read_parquet(spark, cent_dir).collect(), key=lambda r: r["cluster"]
            )
        ]
        id_col = d.options["id_column"]
        vectors = d.merge(
            fsio.read_parquet(spark, f"{d.idx_dir}/vectors"),
            lambda df: sim.ivf_assign(df, vec_column, centroids).select(
                F.col(id_col).alias("id"),
                F.transform(F.col(vec_column), lambda x: x.cast("double")).alias("vec"),
                fsio.file_path_col(F.col("_metadata.file_path")).alias("file"),
                "cluster",
            ),
        )
        staged = d.stage("vectors")
        vectors.repartition("cluster").write.mode("overwrite").partitionBy("cluster").parquet(
            staged
        )
        # the refresh assigns against the EXISTING centroids, so the
        # refreshed vectors stay in that generation: carry the centroids'
        # pair epoch into the staged dir (the rename would otherwise drop
        # the marker and read as a crashed-upgrade mismatch)
        epoch = fsio.read_pair_epoch(spark, cent_dir)
        if epoch is not None:
            fsio.stamp_pair_epoch(spark, staged, epoch)

    return _refresh(
        spark, "ivf", table_path, vec_column, index_root, ["centroids", "vectors"], rewrite
    )


_REFRESHERS = {
    "block": refresh_block_index,
    "bloom": refresh_bloom_index,
    "zone": refresh_zone_index,
    "text": refresh_text_index,
    "ivf": refresh_ann_index,
}


def stream_index_updates(
    spark: SparkSession,
    table_path: str,
    column: str,
    index_root: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
    schema=None,
    kind: str = "block",
):
    """Structured-Streaming continuous index maintenance: watch the table
    directory for new parquet files; every micro-batch runs the
    incremental refresh for ``kind`` (block/bloom/zone/text/ivf).
    ``trigger_once=True`` processes the backlog and stops (the batch-cron
    deployment mode); ``False`` runs continuously with the default
    trigger.

    The stream itself is only the *signal* (which files arrived); the
    refresh recomputes index rows from the files directly, so restarts
    and reprocessing are idempotent.

    Each micro-batch's refresh runs under the index's writer lease: a
    second maintenance stream — or a manual build — racing the same
    index raises ``BuildLeaseHeld`` inside ``foreachBatch`` and fails
    the query loudly. Run ONE maintenance stream per index.
    """
    refresher = _REFRESHERS[kind]
    if schema is None:
        schema = spark.read.parquet(table_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(table_path)
    )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        refresher(spark, table_path, column, index_root)

    writer = stream.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
