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

Publish mechanics (r9 review): every rewrite stages into a ``*_tmp``
dir and goes through ``fsio.publish_dir`` — the rename's boolean result
is CHECKED (Hadoop returns False instead of raising), so a failed
publish can never be followed by a descriptor pointing at missing or
stale data. The delete→rename window is not atomic on generic
filesystems; each refresher runs ``fsio.recover_publish`` first, which
completes an interrupted publish from the surviving staged dir (or
sweeps a stale one), so a crashed refresh self-heals on the next run.

Delta parameters come from the DESCRIPTOR, not caller defaults: the
block refresh re-applies the recorded ``key_expr`` / ``sample_fraction``
/ ``max_merged_bytes``, the zone refresh the recorded ``key_expr``
(via the shared ``build.zones_for``), the text refresh the recorded
tokenizer — mixing parameterizations within one index table silently
breaks lookups in exactly the refreshed files (r9 review finding).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elephant_twin_spark.operators import build as build_mod
from elephant_twin_spark.sources import catalog, fsio


def _revalidate_under_lease(spark: SparkSession, idx_dir: str, table_path: str):
    """Re-read the descriptor + re-diff the live files UNDER the writer
    lease (r14 review): the pre-lease read is a lock-free snapshot used
    only for the noop/full-build fast paths, and a full rebuild can
    complete between that read and our acquire — computing the delta
    with the OLD parameters (key_expr / tokenizer / num_buckets)
    against the NEW index data would mix keyings within one table and
    then publish a descriptor reverting the rebuild's options (the r9
    bug class, via a new route). Returns
    ``(desc, live, new_or_changed, removed)`` from the post-acquire
    state; raises loudly if the index vanished while we waited."""
    desc = catalog.read_descriptor(spark, idx_dir)
    if desc is None:
        raise FileNotFoundError(
            f"index at {idx_dir} disappeared while acquiring its writer "
            "lease (concurrent teardown?) — rebuild, then re-run the refresh"
        )
    live = fsio.list_data_files(spark, table_path)
    live_paths = {p for p, _, _ in live}
    fresh = desc.fresh_files(live)
    return (
        desc,
        live,
        sorted(live_paths - fresh),
        sorted(set(desc.files) - live_paths),
    )


def _read_delta(
    spark: SparkSession, live: List[fsio.FileStat], new_or_changed: List[str]
) -> DataFrame:
    """The new/changed files, read with the stats the refresh's listing
    already holds."""
    return fsio.read_parquet(spark, stats=fsio.stats_of(live, new_or_changed))


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
    refreshed files (r9 review finding). ``max_merged_bytes`` overrides
    the recorded value when given (and the new descriptor records the
    override)."""
    idx_dir = catalog.index_dir(index_root, table_path, column, kind="block")
    desc = catalog.read_descriptor(spark, idx_dir)
    if desc is None:
        build_mod.build_block_index(spark, table_path, column, index_root)
        d2 = catalog.read_descriptor(spark, idx_dir)
        return {"mode": "full_build", "files_indexed": len(d2.files)}

    live = fsio.list_data_files(spark, table_path)
    live_paths = {p for p, _, _ in live}
    fresh = desc.fresh_files(live)
    new_or_changed = sorted(live_paths - fresh)
    removed = sorted(set(desc.files) - live_paths)

    if not new_or_changed and not removed:
        return {"mode": "noop", "files_indexed": 0}

    # writer lease: same exclusion as the full builders (r14) —
    # two concurrent refreshes share the *_tmp staged path, and a
    # refresh interleaving a full build could publish over it
    with fsio.build_lease(spark, idx_dir) as lease_owner:
        # re-snapshot under the lease — see _revalidate_under_lease
        desc, live, new_or_changed, removed = _revalidate_under_lease(
            spark, idx_dir, table_path
        )
        if not new_or_changed and not removed:
            return {"mode": "noop", "files_indexed": 0}
        data_dir = f"{idx_dir}/postings"
        tmp_dir = f"{idx_dir}/postings_tmp"
        fsio.recover_publish(spark, tmp_dir, data_dir)
        old = fsio.read_parquet(spark, data_dir)

        # drop postings of changed/removed files (their byte layout is gone)
        obsolete = set(new_or_changed) | set(removed)
        kept = old.where(~F.col("file").isin([p for p in obsolete]))

        options = dict(desc.options)
        if max_merged_bytes is not None:
            options["max_merged_bytes"] = str(max_merged_bytes)
        mmb = int(options.get("max_merged_bytes", build_mod.DEFAULT_MAX_MERGED_BYTES))
        key_expr = options.get("key_expr")
        sample_fraction = options.get("sample_fraction")
        if new_or_changed:
            delta_df = _read_delta(spark, live, new_or_changed)
            delta = build_mod.postings_for(
                delta_df,
                column,
                max_merged_bytes=mmb,
                sample_fraction=float(sample_fraction) if sample_fraction else None,
                key_col=F.expr(key_expr) if key_expr else None,
            )
            merged = kept.unionByName(delta)
        else:
            merged = kept

        # rewrite the postings table preserving the bucket layout
        # pinned write: the delta's range-merge aggregate runs once instead
        # of twice (range sampling + write; see build.write_range_partitioned)
        build_mod.write_range_partitioned(
            merged, desc.num_buckets, "key", ("key", "file"), tmp_dir, bloom_col="key"
        )
        fsio.renew_build_lease(spark, idx_dir, lease_owner)
        fsio.publish_dir(spark, tmp_dir, data_dir)

        new_desc = catalog.make_descriptor(
            source_path=table_path,
            column=column,
            index_type="BLOCK",
            num_buckets=desc.num_buckets,
            files=live,
            options=options,
        )
        catalog.write_descriptor(spark, idx_dir, new_desc)
        return {
            "mode": "incremental",
            "files_indexed": len(new_or_changed),
            "files_removed": len(removed),
        }


def refresh_bloom_index(
    spark: SparkSession,
    table_path: str,
    column: str,
    index_root: str,
) -> dict:
    """Incremental bloom-index maintenance. Sketches are strictly
    per-file, so the delta is trivial: drop rows of changed/removed
    files, append sketches computed from ONLY the new/changed files."""
    idx_dir = catalog.index_dir(index_root, table_path, column, kind="bloom")
    desc = catalog.read_descriptor(spark, idx_dir)
    if desc is None:
        build_mod.build_bloom_index(spark, table_path, column, index_root)
        d2 = catalog.read_descriptor(spark, idx_dir)
        return {"mode": "full_build", "files_indexed": len(d2.files)}

    live = fsio.list_data_files(spark, table_path)
    live_paths = {p for p, _, _ in live}
    fresh = desc.fresh_files(live)
    new_or_changed = sorted(live_paths - fresh)
    removed = sorted(set(desc.files) - live_paths)
    if not new_or_changed and not removed:
        return {"mode": "noop", "files_indexed": 0}

    # writer lease: same exclusion as the full builders (r14) —
    # two concurrent refreshes share the *_tmp staged path, and a
    # refresh interleaving a full build could publish over it
    with fsio.build_lease(spark, idx_dir) as lease_owner:
        # re-snapshot under the lease — see _revalidate_under_lease
        desc, live, new_or_changed, removed = _revalidate_under_lease(
            spark, idx_dir, table_path
        )
        if not new_or_changed and not removed:
            return {"mode": "noop", "files_indexed": 0}
        # sketch geometry from the UNDER-LEASE snapshot (r15, same hole
        # as the text tokenizer): a rebuild changing num_bits/num_hashes
        # between the pre-lease read and the acquire would otherwise
        # leave the delta sketched at the OLD width while the published
        # descriptor claims the new one — and a wrong-width bloom probe
        # can FALSE-NEGATIVE, i.e. wrongly skip a file at query time.
        num_bits = int(desc.options["num_bits"])
        num_hashes = int(desc.options["num_hashes"])
        data_dir = f"{idx_dir}/sketch"
        tmp_dir = f"{idx_dir}/sketch_tmp"
        fsio.recover_publish(spark, tmp_dir, data_dir)
        kept = fsio.read_parquet(spark, data_dir).where(
            ~F.col("file").isin(list(set(new_or_changed) | set(removed)))
        )
        merged = kept
        if new_or_changed:
            delta = build_mod.bloom_sketch_for(
                _read_delta(spark, live, new_or_changed), column, num_bits, num_hashes
            )
            merged = kept.unionByName(delta)

        merged.coalesce(1).write.mode("overwrite").parquet(tmp_dir)
        fsio.renew_build_lease(spark, idx_dir, lease_owner)
        fsio.publish_dir(spark, tmp_dir, data_dir)

        new_desc = catalog.make_descriptor(
            source_path=table_path,
            column=column,
            index_type="BLOOM",
            num_buckets=1,
            files=live,
            options=desc.options,
        )
        catalog.write_descriptor(spark, idx_dir, new_desc)
        return {
            "mode": "incremental",
            "files_indexed": len(new_or_changed),
            "files_removed": len(removed),
        }


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

    idx_dir = catalog.index_dir(index_root, table_path, text_column, kind="text")
    desc = catalog.read_descriptor(spark, idx_dir)
    if desc is None:
        raise FileNotFoundError(f"no text index at {idx_dir}; build_text_index first")

    live = fsio.list_data_files(spark, table_path)
    live_paths = {p for p, _, _ in live}
    fresh = desc.fresh_files(live)
    new_or_changed = sorted(live_paths - fresh)
    removed = sorted(set(desc.files) - live_paths)
    if not new_or_changed and not removed:
        return {"mode": "noop", "files_indexed": 0}

    # writer lease: same exclusion as the full builders (r14) —
    # two concurrent refreshes share the *_tmp staged path, and a
    # refresh interleaving a full build could publish over it
    with fsio.build_lease(spark, idx_dir) as lease_owner:
        # re-snapshot under the lease — see _revalidate_under_lease
        desc, live, new_or_changed, removed = _revalidate_under_lease(
            spark, idx_dir, table_path
        )
        if not new_or_changed and not removed:
            return {"mode": "noop", "files_indexed": 0}
        # delta files must be analyzed with the SAME tokenizer the index
        # was built with (recorded in the descriptor) — a whitespace
        # default here would silently mix analyzers within one postings
        # table. Resolved from the UNDER-LEASE descriptor snapshot (r15
        # advisor): a full rebuild with a different tokenizer completing
        # between the pre-lease read and the lease acquire would
        # otherwise leave the delta tokenized with the superseded
        # analyzer while the published descriptor claims the new one.
        tok_name = desc.options.get("tokenizer", "whitespace")
        try:
            tokenizer = text_mod._TOKENIZERS[tok_name]
        except KeyError:
            raise ValueError(
                f"index descriptor names unknown tokenizer {tok_name!r}; "
                f"registry has {sorted(text_mod._TOKENIZERS)}"
            ) from None
        data_dir = f"{idx_dir}/postings"
        tmp_dir = f"{idx_dir}/postings_tmp"
        lens_dir = f"{idx_dir}/doclens"
        lens_tmp = f"{idx_dir}/doclens_tmp"
        # pair-aware recovery (r12 advisor): per-dir recover_publish would
        # DELETE a doclens_tmp that is the only copy of the missing half of
        # an interrupted paired publish; recover_pair heals that state first
        fsio.recover_pair(spark, [data_dir, lens_dir])
        old = fsio.read_parquet(spark, data_dir)
        kept = old.where(~F.col("file").isin(list(set(new_or_changed) | set(removed))))
        merged = kept
        if new_or_changed:
            delta = text_mod.postings_for(
                _read_delta(spark, live, new_or_changed),
                text_column,
                desc.options["doc_id_column"],
                tokenizer,
            )
            merged = kept.unionByName(delta)

        # pinned write: the delta's tokenize/explode postings aggregate runs
        # once instead of twice (see build.write_range_partitioned)
        build_mod.write_range_partitioned(
            merged, desc.num_buckets, "term", ("term", "doc_id"), tmp_dir,
            bloom_col="term",
        )

        # doclens (BM25 length + lnc cosine norms) maintained with the same
        # kept/delta split — norms are per-doc-only by design, so other
        # files' rows stay valid; corpus stats (n_docs, avgdl) re-derive from
        # the merged table, keeping BM25/more_like_this idf honest. BOTH
        # staged writes complete before the paired publish below — the old
        # postings-then-doclens ordering served new postings with old norms
        # for the whole doclens compute (r12 advisor)
        old_lens = fsio.read_parquet(spark, lens_dir)
        kept_lens = old_lens.where(
            ~F.col("file").isin(list(set(new_or_changed) | set(removed)))
        )
        merged_lens = kept_lens
        if new_or_changed:
            delta_lens = text_mod.doclens_for(
                _read_delta(spark, live, new_or_changed),
                text_column,
                desc.options["doc_id_column"],
                tokenizer,
            )
            merged_lens = kept_lens.unionByName(delta_lens)
        merged_lens.coalesce(max(1, desc.num_buckets // 4)).write.mode(
            "overwrite"
        ).parquet(lens_tmp)
        fsio.renew_build_lease(spark, idx_dir, lease_owner)
        fsio.publish_pair(
            spark, [(tmp_dir, data_dir), (lens_tmp, lens_dir)]
        )
        stats = fsio.read_parquet(spark, lens_dir).agg(
            F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
        ).first()
        options = dict(desc.options)
        options["n_docs"] = str(stats["n"])
        options["avgdl"] = str(float(stats["avgdl"] or 0.0))

        new_desc = catalog.make_descriptor(
            source_path=table_path,
            column=text_column,
            index_type="TEXT",
            num_buckets=desc.num_buckets,
            files=live,
            options=options,
        )
        catalog.write_descriptor(spark, idx_dir, new_desc)
        return {
            "mode": "incremental",
            "files_indexed": len(new_or_changed),
            "files_removed": len(removed),
        }


def refresh_zone_index(
    spark: SparkSession,
    table_path: str,
    column: str,
    index_root: str,
) -> dict:
    """Incremental zone-map maintenance — per-file rows, so the delta is
    the same drop-and-append as the bloom refresh."""
    idx_dir = catalog.index_dir(index_root, table_path, column, kind="zone")
    desc = catalog.read_descriptor(spark, idx_dir)
    if desc is None:
        build_mod.build_zone_index(spark, table_path, column, index_root)
        d2 = catalog.read_descriptor(spark, idx_dir)
        return {"mode": "full_build", "files_indexed": len(d2.files)}

    live = fsio.list_data_files(spark, table_path)
    live_paths = {p for p, _, _ in live}
    fresh = desc.fresh_files(live)
    new_or_changed = sorted(live_paths - fresh)
    removed = sorted(set(desc.files) - live_paths)
    if not new_or_changed and not removed:
        return {"mode": "noop", "files_indexed": 0}

    # writer lease: same exclusion as the full builders (r14) —
    # two concurrent refreshes share the *_tmp staged path, and a
    # refresh interleaving a full build could publish over it
    with fsio.build_lease(spark, idx_dir) as lease_owner:
        # re-snapshot under the lease — see _revalidate_under_lease
        desc, live, new_or_changed, removed = _revalidate_under_lease(
            spark, idx_dir, table_path
        )
        if not new_or_changed and not removed:
            return {"mode": "noop", "files_indexed": 0}
        data_dir = f"{idx_dir}/zones"
        tmp_dir = f"{idx_dir}/zones_tmp"
        fsio.recover_publish(spark, tmp_dir, data_dir)
        kept = fsio.read_parquet(spark, data_dir).where(
            ~F.col("file").isin(list(set(new_or_changed) | set(removed)))
        )
        merged = kept
        if new_or_changed:
            # the SHARED zone aggregation, with the key_expr the index was
            # built with (r9 review: the inline copy here had lost key_expr —
            # new files' zones were computed over the raw column, silently
            # mispruning files at query time)
            delta = build_mod.zones_for(
                _read_delta(spark, live, new_or_changed),
                column,
                desc.options.get("key_expr"),
            )
            merged = kept.unionByName(delta)

        merged.coalesce(1).write.mode("overwrite").parquet(tmp_dir)
        fsio.renew_build_lease(spark, idx_dir, lease_owner)
        fsio.publish_dir(spark, tmp_dir, data_dir)

        new_desc = catalog.make_descriptor(
            source_path=table_path,
            column=column,
            index_type="ZONE",
            num_buckets=1,
            files=live,
            options=desc.options,
        )
        catalog.write_descriptor(spark, idx_dir, new_desc)
        return {
            "mode": "incremental",
            "files_indexed": len(new_or_changed),
            "files_removed": len(removed),
        }


_REFRESHERS = {
    "block": lambda spark, tbl, col_, root: refresh_block_index(spark, tbl, col_, root),
    "bloom": lambda spark, tbl, col_, root: refresh_bloom_index(spark, tbl, col_, root),
    "zone": lambda spark, tbl, col_, root: refresh_zone_index(spark, tbl, col_, root),
    "text": lambda spark, tbl, col_, root: refresh_text_index(spark, tbl, col_, root),
    "ivf": lambda spark, tbl, col_, root: refresh_ann_index(spark, tbl, col_, root),
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
    incremental refresh for ``kind`` (block/bloom/zone/text).
    ``trigger_once=True`` processes the backlog and stops (the batch-cron
    deployment mode); ``False`` runs continuously with the default
    trigger.

    The stream itself is only the *signal* (which files arrived); the
    refresh recomputes index rows from the files directly, so restarts
    and reprocessing are idempotent.

    Each micro-batch's refresh runs under the index's writer lease
    (r14): a second maintenance stream — or a manual build — racing the
    same index raises ``BuildLeaseHeld`` inside ``foreachBatch`` and
    fails the query loudly, instead of the old silent staged-path
    interleaving. Run ONE maintenance stream per index.
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

    idx_dir = catalog.index_dir(index_root, table_path, text_column, kind="lsh")
    desc = catalog.read_descriptor(spark, idx_dir)
    if desc is None:
        raise FileNotFoundError(f"no LSH index at {idx_dir}; build_lsh_index first")

    live = fsio.list_data_files(spark, table_path)
    live_paths = {p for p, _, _ in live}
    fresh = desc.fresh_files(live)
    new_or_changed = sorted(live_paths - fresh)
    removed = sorted(set(desc.files) - live_paths)
    if not new_or_changed and not removed:
        return {"mode": "noop", "files_indexed": 0}

    # writer lease: same exclusion as the full builders (r14) —
    # two concurrent refreshes share the *_tmp staged path, and a
    # refresh interleaving a full build could publish over it
    with fsio.build_lease(spark, idx_dir) as lease_owner:
        # re-snapshot under the lease — see _revalidate_under_lease
        desc, live, new_or_changed, removed = _revalidate_under_lease(
            spark, idx_dir, table_path
        )
        if not new_or_changed and not removed:
            return {"mode": "noop", "files_indexed": 0}
        o = desc.options
        data_dir = f"{idx_dir}/bands"
        tmp_dir = f"{idx_dir}/bands_tmp"
        fsio.recover_publish(spark, tmp_dir, data_dir)
        dropped = list(set(new_or_changed) | set(removed))
        # read through the index handle, not the bands dir: grown rows live
        # in the sibling bands_grown spine (per-batch idempotent appends from
        # the streaming gate) and must fold into the rewrite. Do NOT run this
        # refresh while a gate stream is mid-batch — the fold below clears
        # bands_grown, and an uncommitted batch's partition would be lost.
        from elephant_twin_spark.operators.lsh import LshIndex

        idx = LshIndex(spark, table_path, text_column, index_root)
        kept = idx.bands().where(~F.col("file").isin(dropped))
        # fold idempotency (r10 advice): a crash between the publish below
        # and the bands_grown delete leaves the folded rows in BOTH the new
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
        grown_dir = f"{idx_dir}/bands_grown"
        if fsio.exists(spark, grown_dir):
            labels = [
                r["file"]
                for r in spark.read.parquet(grown_dir).select("file").distinct().collect()
            ]
            is_grown = F.col("file").isin(labels)
            kept = kept.where(~is_grown).unionByName(
                kept.where(is_grown).dropDuplicates(["id", "band", "band_hash", "file"])
            )
        merged = kept
        if new_or_changed:
            delta = lsh_mod.banded_docs(
                _read_delta(spark, live, new_or_changed),
                desc.column,
                o["id_column"],
                num_perm=int(o["num_perm"]),
                num_bands=int(o["num_bands"]),
                shingle_k=int(o["shingle_k"]),
                hash_fn=o["hash_fn"],
            )
            merged = kept.unionByName(delta)

        # UNPINNED write: both sides of the merge are cheap to evaluate
        # twice — `kept` is a parquet re-read of the existing bands table
        # and the delta's banding is shuffle-free narrow hashing — while
        # pinning would eagerly checkpoint the ENTIRE merged bands table
        # (corpus cardinality) to save that; same measured trade as
        # build_lsh_index (SCALE_EXPERIMENTS.md r9). The postings refreshes
        # above keep the pin: their deltas are real shuffle aggregates.
        build_mod.write_range_partitioned(
            merged, desc.num_buckets, "band_hash", ("band_hash", "id"), tmp_dir,
            pin_input=False,
        )
        fsio.renew_build_lease(spark, idx_dir, lease_owner)
        fsio.publish_dir(spark, tmp_dir, data_dir)
        # grown rows are folded into the main spine now
        fsio.delete(spark, f"{idx_dir}/bands_grown")

        new_desc = catalog.make_descriptor(
            source_path=table_path,
            column=text_column,
            index_type="LSH",
            num_buckets=desc.num_buckets,
            files=live,
            options=desc.options,
        )
        catalog.write_descriptor(spark, idx_dir, new_desc)
        return {
            "mode": "incremental",
            "files_indexed": len(new_or_changed),
            "files_removed": len(removed),
        }


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
    from elephant_twin_spark.operators import ann as ann_mod
    from elephant_twin_spark.operators.pipeline import similarity as sim

    idx_dir = catalog.index_dir(index_root, table_path, vec_column, kind="ivf")
    desc = catalog.read_descriptor(spark, idx_dir)
    if desc is None:
        raise FileNotFoundError(f"no IVF index at {idx_dir}; build_ann_index first")

    live = fsio.list_data_files(spark, table_path)
    live_paths = {p for p, _, _ in live}
    fresh = desc.fresh_files(live)
    new_or_changed = sorted(live_paths - fresh)
    removed = sorted(set(desc.files) - live_paths)
    if not new_or_changed and not removed:
        return {"mode": "noop", "files_indexed": 0}

    # writer lease: same exclusion as the full builders (r14) —
    # two concurrent refreshes share the *_tmp staged path, and a
    # refresh interleaving a full build could publish over it
    with fsio.build_lease(spark, idx_dir) as lease_owner:
        # re-snapshot under the lease — see _revalidate_under_lease
        desc, live, new_or_changed, removed = _revalidate_under_lease(
            spark, idx_dir, table_path
        )
        if not new_or_changed and not removed:
            return {"mode": "noop", "files_indexed": 0}
        data_dir = f"{idx_dir}/vectors"
        tmp_dir = f"{idx_dir}/vectors_tmp"
        cent_dir = f"{idx_dir}/centroids"
        # pair-aware recovery BEFORE the centroid collect (see
        # refresh_text_index) — healing after it could assign the delta
        # against centroids a recovery just replaced
        fsio.recover_pair(spark, [cent_dir, data_dir])
        centroids = [
            list(r["centroid"])
            for r in sorted(
                fsio.read_parquet(spark, cent_dir).collect(),
                key=lambda r: r["cluster"],
            )
        ]
        kept = fsio.read_parquet(spark, data_dir).where(
            ~F.col("file").isin(list(set(new_or_changed) | set(removed)))
        )
        merged = kept
        if new_or_changed:
            delta_df = _read_delta(spark, live, new_or_changed)
            id_col = desc.options["id_column"]
            delta = sim.ivf_assign(delta_df, vec_column, centroids).select(
                F.col(id_col).alias("id"),
                F.transform(F.col(vec_column), lambda x: x.cast("double")).alias("vec"),
                fsio.file_path_col(F.col("_metadata.file_path")).alias("file"),
                "cluster",
            )
            merged = kept.unionByName(delta)

        (
            merged.repartition("cluster")
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(tmp_dir)
        )
        # the refresh assigns against the EXISTING centroids, so the
        # refreshed vectors stay in that generation: carry the centroids'
        # pair epoch into the staged dir (the rename would otherwise drop
        # the marker and read as a crashed-upgrade mismatch)
        epoch = fsio.read_pair_epoch(spark, cent_dir)
        if epoch is not None:
            fsio.stamp_pair_epoch(spark, tmp_dir, epoch)
        fsio.renew_build_lease(spark, idx_dir, lease_owner)
        fsio.publish_dir(spark, tmp_dir, data_dir)

        new_desc = catalog.make_descriptor(
            source_path=table_path,
            column=vec_column,
            index_type="IVF",
            num_buckets=desc.num_buckets,
            files=live,
            options=desc.options,
        )
        catalog.write_descriptor(spark, idx_dir, new_desc)
        return {
            "mode": "incremental",
            "files_indexed": len(new_or_changed),
            "files_removed": len(removed),
        }
