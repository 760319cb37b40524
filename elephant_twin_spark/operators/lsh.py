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
                            files and row groups at probe time)
    {idx_dir}/index.json  — descriptor (files, checksums, LSH params)

Probing cost is proportional to the *incoming batch*, not the corpus:
only buckets the batch's bands collide with are read, and only the
colliding corpus docs are verified with exact Jaccard against their
text. A probe-sized gate runs that filter-then-verify on the driver
from three ``IN``-pruned bounded collects and returns a plain
projection of the batch; above the bounds it runs as distributed joins
behind a checkpoint (see :meth:`LshIndex.gate`).

Parameters (num_perm/num_bands/shingle_k/hash_fn) are frozen in the
descriptor: a probe MUST hash with the build's parameters or buckets
never collide, so the index handle re-derives them from the descriptor
rather than trusting the caller.

Reference analog: none (north-star extension) — but the shape is the
same as `core/indexing/AbstractBlockIndexingJob.java` postings: a
key→bucket table consulted before touching the base data, planned in
the client.
"""

from __future__ import annotations

import re
from collections import defaultdict
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from elephant_twin_spark.operators import build as build_mod, lifecycle
from elephant_twin_spark.operators.pipeline import dedup
from elephant_twin_spark.sources import catalog, fsio


#: Bloom prefilter geometry: 2^20 bits (128 KiB) hold ~10^5 distinct
#: probe keys at ~2% false-positive rate with 3 hash lanes
_BLOOM_BITS = 1 << 20
_BLOOM_HASHES = 3

#: Probe budget in band rows: the default size of
#: :meth:`LshIndex.candidate_pairs`' ``IN`` list, and the largest probe
#: :meth:`LshIndex.gate` handles on the driver
_IN_LIST_ROWS = 4096


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


def _with_dup_of(docs: DataFrame, id_col: str, dup_of: dict) -> DataFrame:
    """``docs`` with the ``dup_of`` and ``is_near_dup`` columns of
    :meth:`LshIndex.gate`'s driver path, from its ``{probe id: dup_of}``
    map: a lookup in a map literal, so the plan gains no join and no
    exchange. ``id_col`` comes first, as in the distributed path's
    ``USING`` join."""
    id_type = docs.schema[id_col].dataType
    if dup_of:
        lookup = F.create_map(
            *[F.lit(x) for kv in sorted(dup_of.items()) for x in kv]
        ).cast(MapType(id_type, id_type))[F.col(id_col)]
    else:
        lookup = F.lit(None).cast(id_type)
    rest = [f"`{c.replace('`', '``')}`" for c in docs.columns if c != id_col]
    return docs.select(id_col, *rest, lookup.alias("dup_of")).withColumn(
        "is_near_dup", F.col("dup_of").isNotNull()
    )


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
        pushdown_limit: int = _IN_LIST_ROWS,
    ) -> DataFrame:
        """``(probe_id, corpus_id)`` — incoming docs sharing any LSH
        bucket with a corpus doc, as a distributed join on (band,
        band_hash) of the probe's bands against the bucket table; the
        bucket join of :meth:`gate`'s distributed path. Same-id
        collisions are kept out, so re-probing the corpus against itself
        is meaningful. ``probe_sigs``: precomputed signatures for
        ``docs`` (this index's parameters), so a caller that also uses
        them elsewhere bands the batch from one shingle pass.

        The bucket table is pruned before the join. An equi-join never
        reaches the scan as a pushable predicate, so the probe's
        distinct band hashes are collected (at most ``pushdown_limit``,
        a probe-proportional budget) and applied as an ``IN`` filter,
        which lands in the bucket scan's PushedFilters and skips files
        and row groups by their range-partitioned min/max footers. A
        probe with more distinct hashes row-prunes the bucket table with
        a Bloom prefilter instead (:func:`_bloom_prefilter`; false
        positives only, which the equi-join removes).
        ``pushdown_limit=0`` disables both and keeps the method lazy.
        Rows are identical on every path.

        With ``pushdown_limit > 0`` the probe band table is pinned
        (``localCheckpoint``) before the hash collect, so the join does
        not evaluate the probe's banding a second time, and the result
        is checkpoint-backed — consume it inside your
        ``checkpoint_scope`` (see :mod:`.lifecycle`)."""
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
        """The ingest gate: ``docs`` annotated with ``dup_of`` (lowest
        corpus id whose shingle Jaccard with the doc is at least
        ``threshold``, null when novel) and ``is_near_dup``. Only corpus
        docs sharing an LSH bucket with the doc are verified, against
        just those docs' text. Columns: ``id_col``, the other ``docs``
        columns, ``dup_of``, ``is_near_dup``.

        ``extra_corpus`` (same ``id_col``/``text_col`` names as the
        probe) supplies verification text for documents whose bands were
        :meth:`append_docs`-ed after the build — the index stores only
        buckets, never text, so grown docs verify against wherever their
        text was accepted to (one id space across all corpus sources).
        ``probe_sigs``: the carried-shingle signatures of ``docs``
        (``minhash_signatures`` lanes plus the ``sh`` column, this
        index's parameters), as the streaming gate pins them once per
        batch. Without it the gate builds them itself; either way each
        probe is shingled once, for its bands and its Jaccard check.

        Two paths, one answer:

        - **Driver**, when the work is probe-sized: the probe has at
          most ``_IN_LIST_ROWS`` band rows, the colliding bucket rows
          number at most ``id_pushdown_limit``, and the probe, bucket
          and corpus ids (``extra_corpus`` too) share one integral,
          ``decimal(p,0)`` or string type, whose Python equality and
          order are Spark's. Three bounded collects, one job each: the
          probe's ``(id, sh, band hashes)``; the colliding bucket rows,
          read with an ``IN`` on the band hashes; the candidates'
          corpus shingles, read with an ``IN`` on their ids. Both ``IN``
          filters land in the scans' PushedFilters, where min/max
          footers skip row groups. The bucket join and the Jaccard
          check run on the driver; k / (|A|+|B|−k) over the
          duplicate-free shingle arrays gives the same integers and the
          same double as :func:`dedup.shingle_jaccard`. ``dup_of`` is a
          lookup in a map literal, so the returned plan is a projection
          of ``docs``: no join, no exchange, no checkpoint, usable after
          any scope exits.
        - **Distributed**, above any bound or for other id types:
          :meth:`candidate_pairs`, pinned (``localCheckpoint``) because
          it feeds both the candidate-id collect and the verify join.
          Within ``id_pushdown_limit`` candidate rows (a narrow
          ``take`` over the pin) the corpus read is pruned by an ``IN``
          on the candidate ids; above it a semi join sized by the
          planner prunes it. The result is checkpoint-backed — consume
          it inside your ``checkpoint_scope`` (see :mod:`.lifecycle`).

        ``id_pushdown_limit=0`` disables the bounded collects: the
        distributed path with the semi join."""
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
        sigs = probe_sigs
        if sigs is None:
            sigs = dedup._shingled_signatures(
                docs, text_col, id_col, self.num_perm, self.shingle_k, self.hash_fn
            )
        if id_pushdown_limit > 0:
            dup_of = self._driver_dup_of(
                docs, id_col, sigs, corpus, threshold, id_pushdown_limit
            )
            if dup_of is not None:
                return _with_dup_of(docs, id_col, dup_of)
        cands = lifecycle.pin(
            self.candidate_pairs(docs, text_col, id_col, probe_sigs=sigs)
        )
        # bounded on candidate ROWS, not distinct ids: a take() over the
        # pin is a narrow job, a distinct().take() a shuffle; rows bound
        # distinct ids from above
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
        probe_sh = sigs.select(F.col("id").alias("probe_id"), F.col("sh").alias("sh_a"))
        verified = (
            cands.join(probe_sh, "probe_id")
            .join(corpus_sh, "corpus_id")
            .withColumn(
                "jaccard", dedup.shingle_jaccard(F.col("sh_a"), F.col("sh_b"))
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

    def _driver_dup_of(
        self,
        docs: DataFrame,
        id_col: str,
        sigs: DataFrame,
        corpus: DataFrame,
        threshold: float,
        bucket_limit: int,
    ) -> Optional[dict]:
        """``{probe id: dup_of}`` for :meth:`gate`'s driver path, or
        None when a bound or the id types send the gate to its
        distributed path. ``corpus`` is the gate's ``(corpus_id,
        _ctext)`` relation."""
        bands = self.bands()
        types = {
            dict(docs.dtypes)[id_col],
            dict(sigs.dtypes)["id"],
            dict(bands.dtypes)["id"],
            dict(corpus.dtypes)["corpus_id"],
        }
        if len(types) > 1 or not re.fullmatch(dedup._DRIVER_ID_TYPES, types.pop()):
            return None
        band_hashes = dedup._band_hash_exprs(self.num_perm, self.num_bands, self.hash_fn)
        probe = dedup._collect_at_most(
            # string hashes, as band_table writes them
            sigs.select("id", "sh", F.array(*[h.cast("string") for h in band_hashes])),
            _IN_LIST_ROWS // self.num_bands,
        )
        if probe is None:
            return None
        buckets = defaultdict(set)  # (band, band_hash) -> probe ids
        probe_sh = defaultdict(list)  # probe id -> (size, set) per probe row
        for pid, sh, hashes in probe:
            if pid is None:  # equal to no corpus id, as in the bucket join
                continue
            probe_sh[pid].append((len(sh), set(sh)))
            for band, h in enumerate(hashes):
                buckets[band, h].add(pid)
        # one SQL string, where isin() makes a py4j round trip per hash;
        # band hashes are decimal or hex digits, safe between quotes
        in_hashes = ", ".join(sorted({f"'{h}'" for _, h in buckets}))
        rows = dedup._collect_at_most(
            bands.where(F.expr(f"band_hash IN ({in_hashes})"))
            .select("id", "band", "band_hash"),
            bucket_limit,
        ) if buckets else []
        if rows is None:
            return None
        cands = defaultdict(set)  # corpus id -> colliding probe ids
        for cid, band, h in rows:
            for pid in buckets.get((band, h), ()):
                if cid is not None and pid != cid:
                    cands[cid].add(pid)
        corpus_sh = dedup._collect_at_most(
            corpus.where(F.col("corpus_id").isin(sorted(cands))).select(
                "corpus_id", dedup.word_shingles(F.col("_ctext"), self.shingle_k)
            ),
            bucket_limit,
        ) if cands else []
        if corpus_sh is None:
            return None
        dup_of: dict = {}
        for cid, sh in corpus_sh:
            if sh is None:  # NULL text: its Jaccard is NULL, never a match
                continue
            nb, b = len(sh), set(sh)
            for pid in cands[cid]:
                if pid in dup_of and dup_of[pid] <= cid:
                    continue
                for na, a in probe_sh[pid]:
                    k = len(a & b)
                    if k / (na + nb - k) >= threshold:
                        dup_of[pid] = cid
                        break
        return dup_of

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
