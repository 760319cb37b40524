"""Streaming near-duplicate ingest gate.

The production shape for continuous corpus ingest: a persisted LSH
bucket index (:mod:`operators.lsh`) holds everything accepted so far;
each arriving micro-batch is (1) gated against the index, (2) deduped
against itself, (3) appended — survivors to the corpus sink, their
bands to the index — so batch N+1 automatically dedups against batch
N's survivors. MinHash banding needs aggregation, which streaming
DataFrames can't express stateless-ly, so the gate runs inside
``foreachBatch`` where each micro-batch is an ordinary batch frame.

Replay discipline: foreachBatch is AT-LEAST-ONCE (a crash between a
sink write and the streaming checkpoint commit re-runs the batch), so
every write is scoped to its own ``batch_run=<run>-<N>`` partition
with overwrite (run derived from the checkpoint path, since bare batch
ids restart under a fresh checkpoint) — accepted sink, rejected sink, and the index's grown bands
alike. A replayed batch rewrites its partitions instead of appending
duplicates; combined with Structured Streaming's sequential batch
commit this yields effective exactly-once output per batch.

State cost: the index grows with *accepted* documents only (num_bands
rows each); no Spark state store is involved, so restart recovery is
just the checkpoint's batch id — a batch is either fully written or
idempotently re-run.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elephant_twin_spark.operators import lifecycle
from elephant_twin_spark.operators.lsh import LshIndex
from elephant_twin_spark.operators.pipeline import dedup


def run_token(checkpoint_path: str) -> str:
    """Idempotency token for per-batch ``batch_run=<run>-<N>`` sink
    partitions: batch ids restart at 0 under a FRESH checkpoint, so bare
    ``batch_id=N`` partitions from a second run over the same sink would
    overwrite the first run's output. (checkpoint path, batch) is exactly
    Structured Streaming's replay domain: a restart of the SAME
    checkpoint re-runs a batch under the same tag (idempotent rewrite),
    a new checkpoint gets fresh tags (no collision).

    The path is NORMALIZED before hashing (r10 advice): the same logical
    checkpoint spelled with a trailing slash / relative path / ``file:``
    URI across restarts must map to the SAME token, else a replayed
    batch writes a NEW partition and the duplicate-survivor bug
    reappears despite the partition scheme. Shared by every per-batch
    partitioned sink (this gate, the sketch/CMS rollup streams,
    ``LshIndex.append_docs`` tags). A RELATIVE spelling resolves
    against the current working directory — the same resolution Spark
    applies to the checkpoint itself, so the token tracks the real
    checkpoint identity either way."""
    import hashlib

    from elephant_twin_spark.sources import fsio

    return hashlib.md5(
        fsio.normalize_path(checkpoint_path).encode()
    ).hexdigest()[:12]


def _legacy_run_token(checkpoint_path: str) -> str:
    """The pre-r10 token (md5 of the RAW spelling) — kept only so
    :func:`_retag_run_partitions` can migrate sinks written before the
    normalization fix."""
    import hashlib

    return hashlib.md5(checkpoint_path.encode()).hexdigest()[:12]


def _retag_run_partitions(spark, root: str, old_tok: str, new_tok: str) -> int:
    """Rename ``batch_run=<old_tok>-N`` partitions under ``root`` to the
    new token. Normalizing the checkpoint path changed EVERY pre-r10
    sink's token (md5('/x') != md5('file:///x')), so without this a
    same-checkpoint resume that replays its in-flight batch would write
    the batch under the new token NEXT TO its old copy — the
    duplicate-survivor bug reappearing exactly once per upgrade (r10
    second-pass review). Retagging keeps the replay domain contiguous:
    the replayed batch overwrites its migrated partition. Destination
    collisions keep the later write (same logical batch either way),
    mirroring the rollup sinks' batch_id migration."""
    from elephant_twin_spark.sources import fsio

    fs, jroot, jvm = fsio._fs_and_path(spark, root)
    if old_tok == new_tok or not fs.exists(jroot):
        return 0
    jpath = jvm.org.apache.hadoop.fs.Path
    prefix = f"batch_run={old_tok}-"
    n = 0
    for status in fs.listStatus(jroot):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith(prefix):
            bid = name[len(prefix) :]
            dest = jpath(f"{root}/batch_run={new_tok}-{bid}")
            if fs.exists(dest):
                fs.delete(dest, True)
            if not fs.rename(status.getPath(), dest):
                raise OSError(
                    f"run-token migration: rename {name} -> "
                    f"batch_run={new_tok}-{bid} failed under {root}"
                )
            n += 1
    return n


def gate_batch(
    index: LshIndex,
    batch_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    extra_corpus: Optional[DataFrame] = None,
) -> DataFrame:
    """One batch through the full gate: vs-corpus then vs-self.
    Returns the batch annotated with ``is_near_dup`` / ``dup_of``
    (corpus id or lower batch id). Exposed separately so the batch and
    streaming paths share one implementation (stream == batch).

    The batch is shingled ONCE: its carried-shingle signatures
    (``minhash_signatures`` lanes plus the ``sh`` column) are pinned and
    feed the vs-corpus probe's banding and Jaccard check and the
    intra-batch candidate and verify stages. The pin registers with the
    ambient checkpoint_scope (the streaming wrapper holds one per
    batch)."""
    sigs = lifecycle.pin(
        dedup._shingled_signatures(
            batch_df, text_col, id_col,
            index.num_perm, index.shingle_k, index.hash_fn,
        )
    )
    vs_corpus = index.gate(
        batch_df, text_col, id_col, threshold=threshold,
        extra_corpus=extra_corpus, probe_sigs=sigs,
    )
    # intra-batch: first occurrence (lowest id) wins, same verify measure
    pairs = dedup.minhash_near_dup_pairs(
        batch_df,
        text_col,
        id_col,
        num_perm=index.num_perm,
        num_bands=index.num_bands,
        shingle_k=index.shingle_k,
        threshold=threshold,
        hash_fn=index.hash_fn,
        sigs=sigs,
    )
    intra = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("_intra_dup_of")
    )
    return (
        vs_corpus.join(intra, id_col, "left")
        .withColumn("dup_of", F.coalesce("dup_of", "_intra_dup_of"))
        .withColumn("is_near_dup", F.col("dup_of").isNotNull())
        .drop("_intra_dup_of")
    )


def stream_near_dup_gate(
    stream_docs: DataFrame,
    index: LshIndex,
    text_col: str,
    id_col: str,
    accepted_path: str,
    checkpoint_path: str,
    threshold: float = 0.8,
    grow: bool = True,
    rejected_path: Optional[str] = None,
    timeout_sec: int = 120,
):
    """Run the gate over a stream of documents. Survivors land in
    ``accepted_path`` (one ``batch_run`` partition per micro-batch —
    readers see an extra ``batch_run`` column); flagged near-dups (with
    their ``dup_of`` attribution) in ``rejected_path`` if given; with
    ``grow`` the survivors' bands are added to the index so later
    batches gate against them. Raises ``TimeoutError`` if the backlog
    does not drain within ``timeout_sec`` (a silently-partial accepted
    table would poison downstream determinism)."""

    from elephant_twin_spark.sources import fsio

    from elephant_twin_spark.streaming import sinkfmt

    run_tok = run_token(checkpoint_path)
    # unmarked sink = fresh or pre-marker: migrate partitions a pre-r10
    # run of this SAME checkpoint tagged with the un-normalized token
    # (see _retag_run_partitions), then stamp the format marker so every
    # later start branches on the marker instead of re-probing
    legacy_tok = _legacy_run_token(checkpoint_path)
    for root in (
        accepted_path,
        rejected_path,
        f"{index.idx_dir}/bands_grown",
    ):
        if root is not None:
            sinkfmt.ensure_sink_format(
                index.spark,
                root,
                migrate=lambda r=root: _retag_run_partitions(
                    index.spark, r, legacy_tok, run_tok
                ),
            )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        # previously-accepted docs are corpus too: their bands were grown
        # into the index, their text lives in the accepted sink. An
        # explicit existence check, not a blanket except: a transient
        # read failure (permissions, corrupt footer) must FAIL the batch
        # loudly rather than silently verify against nothing and admit
        # near-duplicates of already-accepted docs (r9 review finding).
        extra = None
        if fsio.exists(index.spark, accepted_path):
            extra = index.spark.read.parquet(accepted_path).select(id_col, text_col)
        # one evaluation, two destinations — cut lineage so the gate's
        # joins don't recompute per sink; the scope frees the batch's
        # checkpoint blocks once both sinks (and the index append) are
        # done, so an unbounded stream holds ONE batch of blocks, not
        # one per micro-batch ever processed
        with lifecycle.checkpoint_scope():
            annotated = lifecycle.pin(
                gate_batch(
                    index, batch_df, text_col, id_col, threshold, extra_corpus=extra
                )
            )
            survivors = annotated.where(~F.col("is_near_dup")).drop(
                "is_near_dup", "dup_of"
            )
            # foreachBatch is AT-LEAST-ONCE: a crash after a sink write
            # but before the streaming checkpoint commits re-runs the
            # batch, and a replayed survivor's only LSH collision is its
            # own grown copy (excluded as a self-match), so it would
            # survive — and append — AGAIN (r9 review finding). Each
            # batch therefore writes its own batch_run partition with
            # overwrite (the cms_rollup_stream discipline): replays
            # rewrite the same partition instead of duplicating rows.
            # Readers of accepted_path see an extra batch_run column.
            tag = f"{run_tok}-{int(batch_id)}"
            survivors.write.mode("overwrite").parquet(
                f"{accepted_path}/batch_run={tag}"
            )
            if rejected_path is not None:
                annotated.where(F.col("is_near_dup")).drop("is_near_dup").write.mode(
                    "overwrite"
                ).parquet(f"{rejected_path}/batch_run={tag}")
            if grow:
                # same idempotence for the index side: per-batch grown
                # partition, replay-safe (see LshIndex.append_docs)
                index.append_docs(survivors, text_col, id_col, batch_tag=tag)

    q = (
        stream_docs.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"near-dup gate did not drain within {timeout_sec}s; "
            f"{accepted_path} would be partial (same contract as "
            "windows.run_to_memory)"
        )
    return q
