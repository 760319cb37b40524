"""Persisted MinHash-LSH bucket index — near-duplicate detection as a
first-class index kind alongside block/bloom/zone/text/ivf.

The ad-hoc :mod:`pipeline.dedup` functions re-shingle and re-hash the
whole corpus per call; at 100 TB the corpus's band buckets are a
build-time artifact, exactly like postings: built once, probed by every
incoming batch (the "is this new document a near-dup of anything we
already have?" gate that every training-data ingest pipeline needs).
Layout:

    {idx_dir}/bands/      — (id, band, band_hash), range-partitioned by
                            band_hash (parquet min/max skips non-matching
                            files at probe time)
    {idx_dir}/index.json  — descriptor (files, checksums, LSH params)

Probing cost is proportional to the *incoming batch*, not the corpus:
the batch's bands shuffle-join against the bucket table on
(band, band_hash); only colliding buckets produce candidate pairs, and
only candidates are verified with exact Jaccard against the corpus text
(a semi-join-shaped read of the source table — the candidates' corpus
ids are a small set, so the verify read is bounded).

Parameters (num_perm/num_bands/shingle_k/hash_fn) are frozen in the
descriptor: a probe MUST hash with the build's parameters or buckets
never collide, so the index handle re-derives them from the descriptor
rather than trusting the caller.

Reference analog: none (north-star extension) — but the shape is the
same as `core/indexing/AbstractBlockIndexingJob.java` postings: a
key→bucket table consulted before touching the base data.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elephant_twin_spark.operators import build as build_mod, lifecycle
from elephant_twin_spark.operators.pipeline import dedup
from elephant_twin_spark.sources import catalog, fsio


#: Bloom prefilter geometry: 2^20 bits (128 KiB) hold ~10^5 distinct
#: probe keys at ~2% false-positive rate with 3 hash lanes
_BLOOM_BITS = 1 << 20
_BLOOM_HASHES = 3


def _bloom_prefilter(probe: DataFrame, corpus: DataFrame, key_col: str) -> DataFrame:
    """Row-prune ``corpus`` to (a superset of) the rows whose
    ``key_col`` appears in ``probe``'s, via a Bloom bitmap built from
    the probe side (guide §3) — the above-``pushdown_limit`` fallback
    of :meth:`LshIndex.candidate_pairs`, where an exact ``IN`` list
    would be unbounded. False positives only: callers must re-join on
    the key, which makes the final rows exact.

    The bitmap is ONE aggregate over the probe (three xxhash64 lanes →
    bit positions → ``bit_or`` words → dense ``array<bigint>``) carried
    as a one-row broadcast, and membership is tested with O(1)
    ``element_at`` probes per corpus row — no per-row driver state, no
    Python. Beyond the ~10^5 probe keys ``_BLOOM_BITS`` is sized for,
    the filter degrades gracefully toward pass-through (never toward
    wrong rows).
    """
    n_words = _BLOOM_BITS // 64
    qcol = f"`{key_col.replace('`', '``')}`"

    def pos_sql(i: int) -> str:
        # xxhash64 with a per-lane literal second argument = k
        # independent hash lanes (the extra arg changes the hash); ONE
        # snippet shared by the build and test sides so the two can
        # never disagree on a position
        return f"pmod(xxhash64({qcol}, {i}), {_BLOOM_BITS}L)"

    words = (
        probe.select(
            F.explode(
                F.array(*[F.expr(pos_sql(i)) for i in range(_BLOOM_HASHES)])
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("int").alias("word"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("val"))
    )
    bits_df = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "val"))).alias("_m")
    ).select(
        F.expr(
            f"transform(sequence(0, {n_words - 1}),"
            " w -> coalesce(element_at(_m, w), 0L))"
        ).alias("_bf_bits")
    )
    cond = " AND ".join(
        f"(element_at(_bf_bits, cast({pos_sql(i)} / 64 as int) + 1)"
        f" & shiftleft(1L, cast({pos_sql(i)} % 64 as int))) != 0"
        for i in range(_BLOOM_HASHES)
    )
    return corpus.crossJoin(F.broadcast(bits_df)).where(F.expr(cond)).drop("_bf_bits")


def banded_docs(
    df: DataFrame,
    text_column: str,
    id_column: str,
    num_perm: int,
    num_bands: int,
    shingle_k: int,
    hash_fn: str,
    file_label: Optional[str] = None,
) -> DataFrame:
    """``(id, band, band_hash, file)`` for every document. The source
    file per row is what makes the index incrementally refreshable —
    changed files' rows can be dropped and re-derived without touching
    the rest. ``file_label`` overrides the provenance for docs that
    don't come from the source table (streaming-grown rows).

    The provenance column rides THROUGH ``minhash_signatures`` /
    ``band_table`` via ``carry_cols`` — those stages are shuffle-free,
    so carrying it is free, whereas the previous ``bands.join(doc_files,
    "id")`` was the only exchange in the whole index build (r2 bench:
    build 3.4 s → 8.6 s; r3 A/B confirmed the carry path restores it)."""
    if file_label is not None:
        src = df.withColumn("file", F.lit(file_label))
    else:
        src = df.withColumn(
            "file", fsio.file_path_col(F.col("_metadata.file_path"))
        )
    sigs = dedup.minhash_signatures(
        src, text_column, id_column,
        num_perm=num_perm, shingle_k=shingle_k, hash_fn=hash_fn,
        carry_cols=("file",),
    )
    return dedup.band_table(
        sigs, num_perm=num_perm, num_bands=num_bands, hash_fn=hash_fn,
        carry_cols=("file",),
    )


def build_lsh_index(
    spark: SparkSession,
    table_path: str,
    text_column: str,
    id_column: str,
    index_root: str,
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    num_buckets: int = 8,
) -> str:
    """MinHash every document, band the signatures, persist the bucket
    table range-partitioned by ``band_hash``."""
    if num_perm % num_bands:
        raise ValueError(f"num_perm={num_perm} not divisible by num_bands={num_bands}")
    idx_dir = catalog.index_dir(index_root, table_path, text_column, kind="lsh")
    # pre-listing: see build.build_block_index (mid-build file-add race)
    files = fsio.list_data_files(spark, table_path)
    df = fsio.read_parquet(spark, table_path, stats=files)
    bands = banded_docs(
        df, text_column, id_column,
        num_perm=num_perm, num_bands=num_bands, shingle_k=shingle_k, hash_fn=hash_fn,
    )
    # UNPINNED write (pin_input=False): banding is shuffle-free narrow
    # compute (shingle -> minhash -> band, all vectorized hashing), so
    # the double evaluation the pin would avoid (range sampling + write)
    # costs less than eagerly checkpointing a corpus-cardinality table
    # (#docs x #bands rows) into the block manager — measured sf0.1
    # A/B: cold build 4.09 s pinned vs 1.97 s unpinned, steady state a
    # wash (0.99 vs 1.10 s; SCALE_EXPERIMENTS.md r9). This is the
    # "don't pin corpus-sized range writes" rule from
    # build.write_range_partitioned's docstring; pinning pays only when
    # the input is the OUTPUT of an expensive shuffle aggregate (text
    # postings, block-index range merges).
    # stage + publish + lease: see build.build_block_index
    data_dir = f"{idx_dir}/bands"
    with fsio.build_lease(spark, idx_dir) as lease_owner:
        build_mod.write_range_partitioned(
            bands, num_buckets, "band_hash", ("band_hash", "id"),
            fsio.staged_dir(data_dir), pin_input=False,
        )
        fsio.fence_and_publish(spark, idx_dir, lease_owner, [data_dir])
        desc = catalog.make_descriptor(
            source_path=table_path,
            column=text_column,
            index_type="LSH",
            num_buckets=num_buckets,
            files=files,
            options={
                "id_column": id_column,
                "num_perm": str(num_perm),
                "num_bands": str(num_bands),
                "shingle_k": str(shingle_k),
                "hash_fn": hash_fn,
            },
        )
        catalog.write_descriptor(spark, idx_dir, desc)
    return idx_dir


class LshIndex:
    """Query handle over a persisted LSH bucket index. LSH parameters
    come from the descriptor (a probe hashed with different parameters
    would silently never collide)."""

    def __init__(self, spark: SparkSession, table_path: str, text_column: str, index_root: str):
        self.spark = spark
        self.table_path = table_path
        self.text_column = text_column
        self.idx_dir = catalog.index_dir(index_root, table_path, text_column, kind="lsh")
        self.desc = catalog.read_descriptor(spark, self.idx_dir)
        if self.desc is None:
            raise FileNotFoundError(f"no LSH index at {self.idx_dir}; build_lsh_index first")
        o = self.desc.options
        self.id_column = o["id_column"]
        self.num_perm = int(o["num_perm"])
        self.num_bands = int(o["num_bands"])
        self.shingle_k = int(o["shingle_k"])
        self.hash_fn = o["hash_fn"]

    def bands(self) -> DataFrame:
        """All band rows: the range-partitioned build/refresh spine plus
        the ``bands_grown`` sibling where the streaming gate lands its
        per-batch idempotent appends (see :meth:`append_docs`; the
        refresh folds grown rows back into the main spine)."""
        out = fsio.read_parquet(self.spark, f"{self.idx_dir}/bands")
        grown_dir = f"{self.idx_dir}/bands_grown"
        if fsio.exists(self.spark, grown_dir):
            grown = self.spark.read.parquet(grown_dir).drop("batch_run")
            out = out.unionByName(grown)
        return out

    def stale_files(self) -> List[str]:
        """Source files added/changed since the build: their documents
        are invisible to the gate (an absent corpus doc can't flag an
        incoming dup), so like the ANN index this surfaces loudly."""
        live = fsio.list_data_files(self.spark, self.table_path)
        fresh = self.desc.fresh_files(live)
        return sorted({p for p, _, _ in live} - fresh)

    def _probe_bands(
        self,
        docs: DataFrame,
        text_col: str,
        id_col: str,
        probe_sigs: Optional[DataFrame] = None,
    ) -> DataFrame:
        sigs = probe_sigs
        if sigs is None:
            sigs = dedup.minhash_signatures(
                docs, text_col, id_col,
                num_perm=self.num_perm, shingle_k=self.shingle_k, hash_fn=self.hash_fn,
            )
        return dedup.band_table(
            sigs, num_perm=self.num_perm, num_bands=self.num_bands, hash_fn=self.hash_fn
        )

    def candidate_pairs(
        self,
        docs: DataFrame,
        text_col: str,
        id_col: str,
        probe_sigs: Optional[DataFrame] = None,
        pushdown_limit: int = 4096,
    ) -> DataFrame:
        """``(probe_id, corpus_id)`` — incoming docs sharing any LSH
        bucket with a corpus doc. The join key (band, band_hash) carries
        the probe side (small) against the bucket table (big, but
        min/max-pruned by the range layout); same-id collisions are kept
        out so re-probing the corpus against itself is meaningful.
        ``probe_sigs``: precomputed signatures for ``docs`` (this
        index's parameters), shared by callers that also band the same
        batch elsewhere (the streaming gate).

        Band-hash pushdown (r16): the docstring has always CLAIMED the
        range layout min/max-prunes the bucket table, but an equi-join
        never reaches the scan as a pushable predicate (dynamic
        partition pruning only fires on partition columns). The probe's
        distinct band hashes are therefore collected — bounded by
        |probe| × num_bands, the same probe-proportional budget as
        every other bounded collect in this engine — and applied as an
        ``IN`` filter, which lands in the parquet scan's PushedFilters
        and skips whole index files via their range-partitioned min/max
        footers. Probes with more than ``pushdown_limit`` distinct
        hashes fall back to a Bloom pre-filter (r17, below);
        ``pushdown_limit=0`` disables the probe outright.

        Bloom fallback above the limit (r17; guide §3 "pre-filter the
        big side"): a probe with >``pushdown_limit`` distinct hashes
        previously kept the plain unpruned join SILENTLY — the exact
        failure the pushdown exists to prevent. File-level pruning is
        genuinely dead there (xxhash64 band hashes are uniform, so
        >4096 of them land in every range-partitioned file), but ROW
        pruning is not: the probe's hashes are folded into a Bloom
        bitmap of a fixed 2^20 bits ≈ 128 KiB (one extra aggregate over
        the already-pinned probe band table) and tested
        against every bucket row BEFORE the join, so when the probe
        side outgrows broadcast range the corpus side sheds ~all
        non-colliding rows before the sort-merge exchange instead of
        shuffling the whole bucket table. False positives only — the
        equi-join removes them, so rows out are identical on every
        path (pinned in tests/test_r17_optimization.py).

        The probe band table is pinned (``localCheckpoint``) before the
        collect: the pushdown's ``take`` is an action over the probe's
        minhash+banding subtree, and without the pin the bucket join
        below re-evaluates that whole subtree a second time. Pinning is
        probe-proportional (|probe| × num_bands rows) and only happens
        on the pushdown path, where an action runs anyway —
        ``pushdown_limit=0`` keeps the method fully lazy as before.

        Lifecycle contract (r16 advisor): on the pushdown path the
        returned DataFrame is checkpoint-backed — consume it within the
        enclosing :func:`.lifecycle.checkpoint_scope`; holding it past
        the scope's exit raises rather than recomputing
        (``pushdown_limit=0`` restores the fully-lazy contract)."""
        probe = self._probe_bands(
            docs, text_col, id_col, probe_sigs=probe_sigs
        ).withColumnsRenamed({"id": "probe_id"})
        corpus = self.bands().select(F.col("id").alias("corpus_id"), "band", "band_hash")
        if pushdown_limit > 0:
            probe = lifecycle.pin(probe)
            hashes = [
                r["band_hash"]
                for r in probe.select("band_hash").distinct().take(pushdown_limit + 1)
            ]
            if len(hashes) <= pushdown_limit:
                corpus = corpus.where(F.col("band_hash").isin(hashes))
            else:
                corpus = _bloom_prefilter(probe, corpus, "band_hash")
        return (
            probe.join(corpus, ["band", "band_hash"])
            .where(F.col("probe_id") != F.col("corpus_id"))
            .select("probe_id", "corpus_id")
            .distinct()
        )

    def gate(
        self,
        docs: DataFrame,
        text_col: str,
        id_col: str,
        threshold: float = 0.8,
        extra_corpus: Optional[DataFrame] = None,
        probe_sigs: Optional[DataFrame] = None,
        id_pushdown_limit: int = 4096,
    ) -> DataFrame:
        """The ingest gate: incoming docs annotated with
        ``is_near_dup`` and ``dup_of`` (lowest matching corpus id, null
        when novel). Candidates from bucket collisions only; exact
        shingle-Jaccard verification runs on candidates only, against
        just the candidate corpus docs (semi-join-bounded read).

        ``extra_corpus`` (same ``id_col``/``text_col`` names as the
        probe) supplies verification text for documents whose bands were
        :meth:`append_docs`-ed after the build — the index stores only
        buckets, never text, so grown docs verify against wherever their
        text was accepted to (one id space across all corpus sources).
        ``probe_sigs``: see :meth:`candidate_pairs`.

        The candidate table is pinned (``localCheckpoint``) before use:
        it feeds BOTH the corpus-id collect and the verify join, and
        without the pin Spark evaluates the whole candidate subtree
        — probe banding plus the bucket-table scan and join — once per
        consumer. The pin is probe-bounded (|probe| × bucket
        collisions); at 100 TB it is the difference between scanning
        the pruned bucket table once or twice per gate call. Same
        rows out; consume-within-scope lifecycle as
        :func:`.dedup.jaccard_verify_pairs` (A/B on the bench key:
        steady gate JVM CPU 11.4-12.2 → 8.6-8.9 s/rep, same plan
        otherwise).

        ``id_pushdown_limit``: cap on the candidate-row collect (rows
        bound distinct ids from above, and a row take() over the pinned
        candidates is a narrow job — no shuffle). Within the cap the
        verification read is pruned by an ``IN`` predicate in the
        corpus scan's PushedFilters; above it (a hot bucket on a
        duplicate-heavy corpus can make the candidate set corpus-scale)
        the gate falls back to a plain semi join sized by the planner.
        ``0`` disables the collect outright. Results are identical on
        every path.

        Lifecycle contract (r16 advisor): because of the pins, the
        returned DataFrame is checkpoint-backed — consume it within the
        enclosing :func:`.lifecycle.checkpoint_scope` (as every caller
        in this engine does), or call under your own scope; holding the
        result past the scope's exit raises rather than recomputing."""
        cands = lifecycle.pin(
            self.candidate_pairs(docs, text_col, id_col, probe_sigs=probe_sigs)
        )
        corpus = fsio.read_parquet(self.spark, self.table_path).select(
            F.col(self.id_column).alias("corpus_id"),
            F.col(self.text_column).alias("_ctext"),
        )
        if extra_corpus is not None:
            corpus = corpus.unionByName(
                extra_corpus.select(
                    F.col(id_col).alias("corpus_id"), F.col(text_col).alias("_ctext")
                )
            )
        probe_sh = docs.select(
            F.col(id_col).alias("probe_id"),
            dedup.word_shingles(F.col(text_col), self.shingle_k).alias("sh_a"),
        )
        # Bounded candidate-id pushdown (r17; supersedes the r16
        # unconditional F.broadcast, whose hint bypassed
        # autoBroadcastJoinThreshold on a set that a hot bucket can make
        # corpus-scale — r16 advisor). The id set is collected only up
        # to ``id_pushdown_limit``; within the bound the IN predicate
        # reaches the corpus parquet scan as PushedFilters, so the
        # verification read prunes row groups / files by footer min-max
        # instead of post-filtering a full (id, text) scan — the same
        # §6 shape as candidate_pairs' band-hash pushdown. Above the
        # bound the plain semi join is kept and the planner picks the
        # strategy from its own size estimates (sort-merge fallback
        # instead of a forced corpus-scale broadcast).
        # The bound is checked on candidate ROWS, not distinct ids: a
        # take() over the pinned (already-materialized) candidate
        # checkpoint is a NARROW job — no shuffle, first partitions
        # only — whereas a distinct().take() costs a full 2-stage
        # shuffle job per gate call (measured +1s wall on the bench
        # key). Row count bounds distinct count from above, so the
        # check is safe, just conservative; ids are deduped and sorted
        # driver-side (deterministic IN list).
        if id_pushdown_limit > 0:
            rows = cands.select("corpus_id").take(id_pushdown_limit + 1)
        else:
            rows = None
        if rows is not None and len(rows) <= id_pushdown_limit:
            ids = sorted({r[0] for r in rows})
            corpus = corpus.where(F.col("corpus_id").isin(ids))
        else:
            corpus = corpus.join(
                cands.select("corpus_id").distinct(), "corpus_id", "leftsemi"
            )
        corpus_sh = corpus.select(
            "corpus_id",
            dedup.word_shingles(F.col("_ctext"), self.shingle_k).alias("sh_b"),
        )
        verified = (
            cands.join(probe_sh, "probe_id")
            .join(corpus_sh, "corpus_id")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
            )
            .where(F.col("jaccard") >= threshold)
            .groupBy("probe_id")
            .agg(F.min("corpus_id").alias("dup_of"))
        )
        return (
            docs.join(
                verified.withColumnsRenamed({"probe_id": id_col}), id_col, "left"
            )
            .withColumn("is_near_dup", F.col("dup_of").isNotNull())
        )

    def append_docs(
        self,
        docs: DataFrame,
        text_col: str,
        id_col: str,
        file_label: str = "__grown__",
        batch_tag: Optional[str] = None,
    ) -> None:
        """Grow the bucket table with new documents' bands (the
        streaming gate appends each batch's survivors so later batches
        dedup against them). Grown rows carry ``file_label`` provenance
        so a source-table refresh never drops them. Appended files keep
        the (band_hash, id) sort within their own partitions; min/max
        pruning still applies per file.

        ``batch_tag`` makes the append IDEMPOTENT for at-least-once
        callers (foreachBatch replays a batch whose sink writes
        committed but whose checkpoint did not — r9 review finding:
        a plain append duplicated the replayed survivors' bands): the
        rows land in ``bands_grown/batch_run=<tag>`` with overwrite, so
        a replay rewrites the same partition instead of doubling it.
        The tag must be unique per logical batch ACROSS streaming runs
        — the gate derives it from (checkpoint path, batch id), since
        bare batch ids restart at 0 under a fresh checkpoint and would
        silently overwrite an earlier run's partition in a shared sink.
        The sibling spine keeps partition discovery on the main
        range-partitioned ``bands`` dir intact (mixing flat files and
        partition dirs in one root breaks parquet discovery);
        :meth:`bands` reads both, the LSH refresh folds grown rows back
        into the main spine. Without ``batch_tag`` (ordinary batch
        callers) the write appends to the main spine as before."""
        out = banded_docs(
            docs, text_col, id_col,
            num_perm=self.num_perm, num_bands=self.num_bands,
            shingle_k=self.shingle_k, hash_fn=self.hash_fn,
            file_label=file_label,
        ).sortWithinPartitions("band_hash", "id")
        if batch_tag is None:
            out.write.mode("append").parquet(f"{self.idx_dir}/bands")
        else:
            out.write.mode("overwrite").parquet(
                f"{self.idx_dir}/bands_grown/batch_run={batch_tag}"
            )
