"""Composed corpus-cleaning pipeline — the end-to-end shape a
training-data pipeline actually runs, assembled from this package's
operators in the canonical order:

    quality gates (length, repetition) → language filter →
    exact dedup → near dedup (MinHash-LSH + connected components)

Cheap row-local gates run first so the expensive pairwise stages see
the smallest candidate set. Every input row gets an AUDIT verdict
(kept, or the FIRST stage that dropped it) — at 100 TB you debug a
cleaning pipeline from its audit table, not by diffing corpora.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from elephant_twin_spark.operators import lifecycle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elephant_twin_spark.operators.pipeline import dedup, textstats


def clean_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 30,
    allowed_langs: Sequence[str] = ("en",),
    max_repetition: float = 0.2,
    near_dup: bool = True,
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.8,
    edge_mode: str = "star",
) -> Tuple[DataFrame, DataFrame]:
    """Returns ``(cleaned, audit)``.

    ``audit`` has one row per input: ``(id, reason)`` with reason in
    ``too_short | lang | repetitive | exact_dup | near_dup`` or NULL for
    kept rows. ``cleaned`` is the input restricted to kept ids. Survivor
    choice in both dedup stages is deterministic (min id).

    Lifecycle: both results are checkpoint-backed — consume them
    inside your ``checkpoint_scope`` (see :mod:`.lifecycle`).
    """
    feats = textstats.repetition_ratio(
        textstats.lang_id(dedup._fan_out(df), text_col), text_col, out_col="_rep"
    ).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_text"),
        F.col("lang_pred").alias("_lang"),
        F.col("_rep"),
    )
    gated = lifecycle.pin(feats.withColumn(
        "_reason",
        F.when(
            textstats.token_count(F.col("_text")) < min_tokens, F.lit("too_short")
        )
        .when(~F.col("_lang").isin(list(allowed_langs)), F.lit("lang"))
        .when(F.col("_rep") > max_repetition, F.lit("repetitive")),
    ))
    # ^ the gate expressions (stopword language ID + n-gram repetition)
    # are the most expensive per-row work in the pipeline, and every
    # downstream branch (sig groups, minhash signatures, jaccard verify,
    # audit join) re-reads this relation — materialize once and cut the
    # lineage or the whole gate recomputes per branch (measured 10x+
    # slowdown at sf0.1)

    survivors = gated.where(F.col("_reason").isNull()).select("id", "_text")
    sig_keep = (
        survivors.groupBy(dedup.content_signature(F.col("_text")).alias("_sig"))
        .agg(F.min("id").alias("_keep_id"))
        .select(F.col("_keep_id").alias("id"), F.lit(True).alias("_sig_win"))
    )
    after_exact = survivors.join(sig_keep, "id", "left")

    if near_dup:
        exact_survivors = after_exact.where(F.col("_sig_win").isNotNull()).select(
            "id", "_text"
        )
        # edge_mode pinned EXPLICITLY at this call site (not inherited):
        # star (linear spanning edges) is the scale default; pass
        # "all_pairs" to reproduce pre-r4 recorded audits exactly
        clusters = dedup.near_dup_clusters(
            exact_survivors,
            "_text",
            "id",
            num_perm=num_perm,
            num_bands=num_bands,
            shingle_k=shingle_k,
            threshold=threshold,
            edge_mode=edge_mode,
        ).select("id", "is_canonical")
        verdict = after_exact.join(clusters, "id", "left").withColumn(
            "_dedup_reason",
            F.when(F.col("_sig_win").isNull(), F.lit("exact_dup")).when(
                ~F.coalesce(F.col("is_canonical"), F.lit(True)), F.lit("near_dup")
            ),
        )
    else:
        verdict = after_exact.withColumn(
            "_dedup_reason",
            F.when(F.col("_sig_win").isNull(), F.lit("exact_dup")),
        )

    audit = (
        gated.select("id", "_reason")
        .join(verdict.select("id", "_dedup_reason"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("_reason", "_dedup_reason").alias("reason"),
        )
    )
    kept = audit.where(F.col("reason").isNull()).select(id_col)
    cleaned = df.join(kept, id_col, "inner")
    return cleaned, audit
