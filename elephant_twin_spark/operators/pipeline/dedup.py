"""Deduplication operators for large-scale training-data pipelines.

Beyond reference parity (the reference has no dedup; the north star
requires it). Everything is declarative DataFrame algebra — one or two
shuffles, no Python in the hot path — so the same plan holds at 100 TB:

- exact dedup: hash-groupBy on content digest (1 shuffle)
- MinHash + LSH near-dedup: shingle → K permuted min-hashes → band →
  bucket join (candidate pairs only, never the full cross product)
- SimHash: 64-bit signature via per-bit weighted sums (one groupBy)
- n-gram Jaccard verification of candidate pairs (exact, on candidates)

Hash choice: ``xxhash64`` (JVM, fast) by default; ``md5``-based variant
kept for cross-engine (DuckDB-oracle) determinism.
"""

from __future__ import annotations

import re
from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from elephant_twin_spark.operators import lifecycle
from elephant_twin_spark.operators.text import whitespace_tokenizer


def _fan_out(df: DataFrame) -> DataFrame:
    """Repartition up-front when the source has fewer files than half
    the cores (single-file tables): shingling/hashing multiplies work
    per row ~100×, so starting from a 1-partition scan serializes the
    whole map side into one task. See :func:`layout.fan_out` for the
    probe's cost rationale."""
    from elephant_twin_spark.operators import layout

    return layout.fan_out(df)


# ------------------------------------------------------------------ exact

def content_signature(text: Column) -> Column:
    """md5 of the raw content — exact-duplicate key."""
    return F.md5(text.cast("binary"))


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(sig, n_dups, keep_id)`` per distinct content; keep_id = min id
    (deterministic survivor). One hash-shuffle; at scale this is the
    canonical map-side-combined groupBy."""
    return (
        df.select(content_signature(F.col(text_col)).alias("sig"), F.col(id_col).alias("id"))
        .groupBy("sig")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("id").alias("keep_id"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per distinct content."""
    # keep is O(distinct docs) — same order as the corpus, so no broadcast
    # hint: let AQE pick the join strategy from the measured size
    keep = exact_dup_groups(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, id_col, "inner")


def source_overlap_matrix(
    df: DataFrame, text_col: str, source_col: str
) -> DataFrame:
    """Cross-source exact-content overlap: ``(source_a, source_b,
    n_shared)`` = number of DISTINCT contents appearing in both sources
    (``source_a < source_b``), plus the ``(s, s, n_distinct)`` diagonal.
    THE dataset-curation audit before mixing corpora: two crawls with
    90% shared content shouldn't both get full mixture weight, and a
    benchmark-contaminated source shows up as an unexpected overlap
    edge.

    Scale shape: one (sig, source) distinct aggregate over the corpus
    (map-side combined — the only data-sized shuffle), then
    ``collect_set(source)`` per sig — bounded by #sources, a CONSTANT —
    and an explode of the per-sig source-set into pairs, aggregated to
    the |sources|² matrix. No self-join of the corpus, no pairwise
    scan: cost is one pass + one tiny aggregate, whatever the corpus
    size."""
    per_sig = (
        df.select(
            content_signature(F.col(text_col)).alias("sig"),
            F.col(source_col).alias("src"),
        )
        .groupBy("sig")
        .agg(F.sort_array(F.collect_set("src")).alias("srcs"))
    )
    # pairs within the per-sig source set: (a, b) with a <= b, diagonal
    # included — all JVM higher-order functions, no UDF
    pairs = per_sig.select(
        F.explode(
            F.flatten(
                F.transform(
                    "srcs",
                    lambda a: F.transform(
                        F.filter("srcs", lambda b: b >= a),
                        lambda b: F.struct(
                            a.alias("source_a"), b.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.source_a").alias("source_a"),
        F.col("p.source_b").alias("source_b"),
    ).agg(F.count(F.lit(1)).alias("n_shared"))


# ---------------------------------------------------------------- shingles

def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles as array<string> (JVM higher-order fns).

    The token array is LET-BOUND (r16): referencing the tokenizer
    expression directly inside the transform lambda re-tokenized the
    document once PER SHINGLE — O(tokens²) per row; measured 40.2 s →
    0.9 s on 2 000 × 800-token docs (see functions/binding.py). Output
    arrays are bit-identical (pinned in tests/test_r16_optimization.py);
    every minhash/LSH/verify caller inherits the fix."""
    from elephant_twin_spark.functions.binding import let

    def body(toks: Column) -> Column:
        n = F.size(toks)
        return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
                )
            )
        )

    return let(whitespace_tokenizer(text), body)


def shingle_jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two :func:`word_shingles` arrays. Both are
    duplicate-free, so ``|A ∪ B| = |A| + |B| - |A ∩ B|``: one set
    operation, its size bound once with ``let``. Same integers as
    ``size(array_intersect) / size(array_union)``, so the same double."""
    from elephant_twin_spark.functions.binding import let

    return let(
        F.size(F.array_intersect(a, b)),
        lambda k: k / (F.size(a) + F.size(b) - k),
    )


# ----------------------------------------------------------------- minhash

def _shingled_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    shingle_k: int,
    hash_fn: str,
    carry_cols: tuple = (),
) -> DataFrame:
    """``(id, [carry_cols...,] sh, mh0..mh{K-1})``: the one shingle pass
    that every MinHash consumer shares. ``sh`` is the document's distinct
    k-shingle array and every ``mh`` lane is hashed from that same
    column, so a consumer that also verifies Jaccard
    (:func:`minhash_near_dup_pairs`, the streaming gate's probe) reads
    ``sh`` here instead of shingling the document a second time."""
    sh = _fan_out(df.where(F.col(text_col).isNotNull())).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in carry_cols],
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    )

    def lane(i: int) -> Column:
        # one SQL string per lane: the same lambda built through the
        # Column API costs ~13 ms of py4j calls per lane, paid on the
        # driver by every call (a probe-sized gate's largest fixed cost)
        if hash_fn == "xxhash64":
            h = f"xxhash64({i}, s)"
        elif hash_fn == "md5":
            h = f"md5(cast(concat('{i}|', s) as binary))"
        else:
            raise ValueError(hash_fn)
        return F.expr(f"array_min(transform(sh, s -> {h}))").alias(f"mh{i}")

    return sh.select("id", *carry_cols, "sh", *[lane(i) for i in range(num_perm)])


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    carry_cols: tuple = (),
) -> DataFrame:
    """``(id, [carry_cols...,] mh0..mh{K-1})`` signature table.

    ``carry_cols`` ride through unchanged (e.g. a provenance ``file``
    column): since this stage is shuffle-free, carrying a column here is
    free, whereas attaching it downstream costs a join — the exchange
    that regressed the r2 LSH index build 2.5×.

    Shape: NO shuffle — K independent ``array_min(transform(shingles,
    hash_i))`` lanes per row, after :func:`_fan_out` spreads the rows
    across cores. Measured 4× faster than the explode →
    ``groupBy(id).agg(min×K)`` alternative at sf0.1/local[32] (0.9 s vs
    3.3 s): same K×|shingles| hash work, but zero exchange, no explode
    row-inflation, and no aggregation hash table. (The explode form only
    wins when rows are few-but-huge and per-file parallelism is the
    constraint — _fan_out already solves that.) Min over the shingle
    multiset equals min over the distinct set, so no dedup pass is
    needed. Null-text docs produce no signature row (matching the
    explode form, which drops them).
    """
    return _shingled_signatures(
        df, text_col, id_col, num_perm, shingle_k, hash_fn, carry_cols
    ).select("id", *carry_cols, *[f"mh{i}" for i in range(num_perm)])


def band_table(
    signatures: DataFrame,
    num_perm: int = 16,
    num_bands: int = 4,
    hash_fn: str = "xxhash64",
    carry_cols: tuple = (),
) -> DataFrame:
    """``(id, [carry_cols...,] band, band_hash)`` — one row per
    (doc, LSH band). The band
    hash collapses ``num_perm // num_bands`` consecutive signature lanes;
    docs sharing any (band, band_hash) are near-dup candidates. The md5
    variant (``md5(mh_i || '|' || mh_j ...)``) is engine-independent so
    an external oracle can reproduce the bucket assignment exactly."""
    hashes = [
        h.cast("string")
        for h in _band_hash_exprs(num_perm, num_bands, hash_fn)
    ]
    return signatures.select(
        "id", *carry_cols, F.posexplode(F.array(*hashes)).alias("band", "band_hash")
    )


def _band_hash_exprs(num_perm: int, num_bands: int, hash_fn: str) -> "list[Column]":
    """One band-hash Column per band over the mh* signature lanes —
    shared by :func:`band_table` (persisted index),
    :func:`lsh_candidate_pairs` and :func:`minhash_near_dup_pairs`
    (in-flight dedup) so the surfaces can never disagree on bucket
    assignment."""
    rows_per_band = num_perm // num_bands
    if hash_fn == "xxhash64":
        return [
            F.xxhash64(
                F.lit(b), *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
            for b in range(num_bands)
        ]
    if hash_fn == "md5":
        return [
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
                ).cast("binary")
            )
            for b in range(num_bands)
        ]
    raise ValueError(hash_fn)


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_perm: int = 16,
    num_bands: int = 4,
    max_bucket_size: Optional[int] = None,
    edge_mode: str = "all_pairs",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become candidate
    pairs ``(id_a, id_b)`` with ``id_a < id_b``. ``hash_fn`` must match
    the one the signatures were built with; ``"md5"`` makes the bucket
    assignment engine-independent (oracle-reproducible), xxhash64 is
    the cheaper default.

    Scale shape: explode to (band_hash, id) — one shuffle on band_hash —
    then an equi self-join *within buckets only*. Never computes the
    O(n²) cross product; skew-prone giant buckets are the classic risk,
    mitigated upstream by signature width (more perms/bands → smaller
    buckets) and AQE skew-join splitting at runtime.

    ``max_bucket_size`` is the production guard for pathological buckets
    (boilerplate-heavy corpora collapse many docs into one band value,
    and ONE million-doc bucket is a 10¹²-pair join): buckets larger than
    the cap are DROPPED from candidate generation. That trades recall —
    only for docs whose every matching band is oversized — for a hard
    bound of ``max_bucket_size²`` pairs per bucket; near-identical docs
    still pair through their other, rarer bands.

    ``edge_mode``: ``"all_pairs"`` (default) emits every within-bucket
    pair — the exact candidate graph, quadratic in duplicate-GROUP size
    (measured: a corpus where every doc has 10 near-replicas inflates
    pair count ~17× over the 10× row growth). ``"star"`` emits only
    (bucket-min-id, member) edges — LINEAR in bucket size, the
    connected-components feed for dup-group COLLAPSING at 100 TB: the
    star of a genuinely-duplicate bucket is connected after verify, so
    components are identical whenever every member clears the Jaccard
    threshold against the bucket hub; a member similar to a sibling but
    NOT to the hub can lose that edge (recall trade documented at the
    call sites that choose it)."""
    bands = signatures.select(
        "id",
        F.posexplode(
            F.array(*_band_hash_exprs(num_perm, num_bands, hash_fn))
        ).alias("band", "band_hash"),
    )
    return _bucket_pairs(bands, edge_mode, max_bucket_size)


def _bucket_pairs(
    bands: DataFrame, edge_mode: str, max_bucket_size: Optional[int] = None
) -> DataFrame:
    """``(id_a, id_b)`` from an ``(id, band, band_hash)`` relation — the
    within-bucket self-join of :func:`lsh_candidate_pairs`, shared with
    :func:`minhash_near_dup_pairs`."""
    if edge_mode not in ("all_pairs", "star"):
        raise ValueError(edge_mode)
    if max_bucket_size is not None:
        sizes = bands.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).alias("_bsz")
        )
        bands = bands.join(
            sizes.where(F.col("_bsz") <= max_bucket_size).drop("_bsz"),
            ["band", "band_hash"],
            "leftsemi",
        )
    if edge_mode == "star":
        hubs = bands.groupBy("band", "band_hash").agg(F.min("id").alias("_hub"))
        return (
            bands.join(hubs, ["band", "band_hash"])
            .where(F.col("id") != F.col("_hub"))
            .select(F.col("_hub").alias("id_a"), F.col("id").alias("id_b"))
            .distinct()
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.8,
    edge_mode: str = "all_pairs",
    hash_fn: str = "xxhash64",
    sigs: Optional[DataFrame] = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dedup: ``(id_a, id_b, jaccard)`` for
    every LSH candidate pair whose exact shingle Jaccard clears
    ``threshold``.

    Shape: each document is shingled ONCE. One pass computes ``(id, sh,
    band hashes)`` — the signature lanes are hashed from that same
    ``sh`` — and that one relation is pinned (``localCheckpoint``). The
    band self-join (:func:`lsh_candidate_pairs`' bucket join) and both
    sides of the Jaccard join read it, so the verify stage needs no
    second corpus read, no candidate-id semi-join and no second shingle
    pass; a caller that re-evaluates the result re-runs only the joins
    over the pin. The price is storage: the pin holds every document's
    shingle array until the caller's scope exits, where a
    candidate-first shape holds only the candidate documents'. On a
    corpus with few duplicates that is many times more bytes in about
    the same time; pinning the verified pairs instead, so the shingle pin
    could be freed early, measured slower on a corpus with many (the
    32× measurements are in CHANGES.md).

    ``edge_mode="star"`` makes the candidate stage linear in
    duplicate-group size (see :func:`lsh_candidate_pairs`) — the right
    choice when the output feeds connected components rather than an
    exhaustive pair report. ``hash_fn="md5"`` makes the candidate graph
    engine-independent (oracle-reproducible) at higher hash cost.

    ``sigs`` accepts a precomputed carried-shingle signature relation
    for ``df`` — ``minhash_signatures`` lanes plus the ``sh`` column, as
    the streaming gate builds and pins it once per batch, built with the
    same num_perm/shingle_k/hash_fn. The caller owns that relation, so
    nothing is pinned here, and the batch is shingled once for both its
    vs-corpus probe and this intra-batch stage."""
    owned = sigs is None
    if owned:
        sigs = _shingled_signatures(df, text_col, id_col, num_perm, shingle_k, hash_fn)
    base = sigs.select(
        "id", "sh", F.array(*_band_hash_exprs(num_perm, num_bands, hash_fn)).alias("bh")
    )
    if owned:
        base = lifecycle.pin(base)
    bands = base.select("id", F.posexplode("bh").alias("band", "band_hash"))
    sh = base.select("id", "sh")
    return (
        _bucket_pairs(bands, edge_mode)
        .join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("jaccard", shingle_jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ----------------------------------------------------------------- simhash

def _rowlocal_simhash(
    df: DataFrame, text_col: str, id_col: str, nbits: int, tok_hash_sql: str
) -> DataFrame:
    """``(id, simhash)`` computed entirely WITHIN each row — zero
    shuffle (r16 optimization; the plan is Scan → Filter → Project).

    The (token, tf) grouping of a SimHash is per-document, so the old
    explode → ``groupBy(id, tok)`` → ``groupBy(id)`` pipeline paid two
    corpus-sized exchanges for an aggregation whose every group lives
    inside ONE input row. Row-local restatement: sort the token array,
    take run starts/lengths (distinct token + tf in one linear scan),
    hash each distinct token with ``tok_hash_sql``, then run the exact
    same ±tf bit-lane fold as before. Integer lane sums are order-free,
    so the signature is BIT-IDENTICAL to the shuffle form (pinned
    corpus-wide in tests/test_r16_optimization.py); measured ~30× on a
    single-file sf0.01 corpus (6.0 s → 0.2 s noop-sink, the two
    exchanges dominating) and it removes the only exchanges in the
    whole operator — 2 Exchange → 0.

    Expression shape note: every intermediate (sorted array, run
    starts, bit sums) is LET-BOUND via single-element
    ``transform(array(x), v -> ...)`` instead of a chained ``select``.
    Chained selects collapse (CollapseProject substitutes any
    single-reference projection into the consumer), and once an
    intermediate is inlined INSIDE a lambda body it is re-evaluated per
    lambda invocation — the naive chained form re-sorted the token
    array per bit and went quadratic (measured: hung at sf0.01). The
    lambda binding evaluates each intermediate exactly once per row.

    ``tok_hash_sql`` maps a token SQL expression to its signed-64 hash
    (e.g. xxhash64, or the md5-prefix form the DuckDB oracle can
    reproduce). Docs with no tokens produce no row — ``rlike('\\S')``
    is exactly "the token array is non-empty" — matching the explode
    form, which dropped them.

    Precondition (r16 advisor): ``id_col`` must be unique per input
    row, the standing contract of every id-keyed operator here. The
    old groupBy shape silently MERGED duplicate-id rows' tokens into
    one signature; the row-local shape emits one signature per input
    row. Feed pre-deduplicated ids (as every caller in this engine
    does) — the outputs are bit-identical then."""
    tok = f"element_at(st, s)"
    # backtick-quote the interpolated identifier (r16 advisor): every
    # other operator takes such names via F.col; a raw interpolation
    # breaks on spaces/dots/hyphens and can mis-resolve
    quoted_col = f"`{text_col.replace('`', '``')}`"
    sim_sql = f"""
    element_at(transform(array(array_sort({_TOKENIZE_SQL.format(col=quoted_col)})), st ->
      element_at(transform(array(
          filter(sequence(1, size(st)),
                 i -> i = 1 OR element_at(st, i) != element_at(st, i - 1))
        ), starts ->
        element_at(transform(array(
            aggregate(
              zip_with(starts,
                       concat(slice(starts, 2, size(starts) - 1), array(size(st) + 1)),
                       (s, e) -> struct({tok_hash_sql.format(tok=tok)} as h,
                                        cast(e - s as bigint) as tf)),
              cast(array_repeat(0L, {nbits}) as array<bigint>),
              (acc, x) -> zip_with(acc, sequence(0, {nbits - 1}),
                  (a, b) -> a + IF((shiftright(x.h, cast(b as int)) & 1) = 1, x.tf, -x.tf)))
          ), bs ->
          aggregate(transform(sequence(0, {nbits - 1}),
                              b -> IF(bs[b] > 0, shiftleft(1L, b), 0L)),
                    0L, (acc, x) -> acc | x)
        ), 1)
      ), 1)
    ), 1)
    """
    # fan-out still matters: the per-row work is ~100× the row's bytes,
    # so a single-file source must not serialize into one task
    return _fan_out(df.where(F.col(text_col).rlike(r"\S"))).select(
        F.col(id_col).alias("id"), F.expr(sim_sql).alias("simhash")
    )


# the tokenizer restated as SQL text (whitespace_tokenizer's exact
# expression) so _rowlocal_simhash can embed it inside lambda bindings;
# a drift between the two is pinned by the corpus-wide equivalence test
_TOKENIZE_SQL = r"regexp_extract_all({col}, '\\S+', 0)"


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per doc: per-bit weighted sums of token hashes.

    ``(id, simhash)`` — computed row-locally with ZERO shuffle (r16;
    see :func:`_rowlocal_simhash`). History: the r10 shape was explode →
    ``groupBy(id, tok)`` → ``groupBy(id)`` with a compact (hash, tf)
    fold — two corpus exchanges for per-document groups that never
    needed to leave their row. Signatures are bit-identical (order-free
    integer lane sums; pinned in tests/test_r16_optimization.py)."""
    return _rowlocal_simhash(df, text_col, id_col, 64, "xxhash64({tok})")


def simhash60_md5(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash with md5-derived token hashes — bit-identical
    across engines (xxhash64 is Spark-only), so a DuckDB oracle can
    verify the full signature. Same row-local zero-shuffle lane algebra
    as :func:`simhash64`, one fewer nibble of hash width."""
    return _rowlocal_simhash(
        df, text_col, id_col, 60,
        "cast(conv(substring(md5({tok}), 1, 15), 16, 10) as bigint)",
    )


def simhash_near_dup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k, using the 4-band
    pigeonhole trick (distance ≤3 ⇒ at least one of 4 16-bit bands equal)
    so candidates come from bucket joins, not a cross product."""
    # pin: the band self-join would otherwise compute the signature
    # aggregation once per side
    sh = lifecycle.pin(simhash64(df, text_col, id_col))
    bands = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), b -> cast((simhash >> (b * 16)) & 65535 as int))"
            )
        ).alias("band", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cands.withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b"))).where(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def simhash_md5_near_dup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pigeonhole-banded near-dup pairs over the 60-bit md5 SimHash:
    4 bands × 15 bits, so hamming ≤ 3 forces at least one band equal —
    the banded candidate join has PERFECT recall and the result equals
    the brute-force all-pairs computation, which is exactly how the
    external oracle verifies it (engine does the bucket join, oracle the
    quadratic check on a bounded slice)."""
    sh = lifecycle.pin(simhash60_md5(df, text_col, id_col))
    bands = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), b -> cast((simhash >> (b * 15)) & 32767 as int))"
            )
        ).alias("band", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------- duplicate clustering

#: Largest deduplicated edge relation, in rows, that
#: :func:`connected_components` labels on the driver (see its
#: docstring for the measured crossover).
_CC_DRIVER_EDGES = 100_000

# exact integer id types: integral types and decimals of scale 0. Their
# labels sum exactly in decimal(38,0) (the rounds' convergence probe),
# and with strings (UTF-8 byte order is code-point order) they are the
# ids whose Python equality and order match Spark's (the driver paths
# here and in ``LshIndex.gate``); float and double ids qualify for neither
_EXACT_INT_TYPES = r"tinyint|smallint|int|bigint|decimal\(\d+,0\)"
_DRIVER_ID_TYPES = _EXACT_INT_TYPES + "|string"


def _collect_at_most(df: DataFrame, n: int) -> Optional[list]:
    """``df``'s rows as tuples when it has at most ``n``, else None —
    the bounded collect of every driver path. One Spark job: under an
    Arrow collect, ``limit`` cuts each partition to ``n + 1`` rows and
    gathers them in one shuffle, where ``take`` scans the partitions in
    growing rounds, one job per round."""
    table = df.limit(n + 1).toArrow()
    if table.num_rows > n:
        return None
    return list(zip(*(c.to_pylist() for c in table.columns)))


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
    hop_after: int = 3,
) -> DataFrame:
    """``(node, component)`` over the undirected graph of ``pairs`` —
    component = min node id reachable. Only nodes appearing in some pair
    are returned; callers union isolated rows back as singletons. NULL
    endpoints and self-loops are dropped.

    The deduplicated edges are pinned first, so ``pairs`` is evaluated
    once whichever path runs. Then two paths, one answer (the min-label
    fixpoint):

    - **Driver**, when the edges number at most ``_CC_DRIVER_EDGES``
      rows and the ids are integral, ``decimal(p,0)`` or string. One
      bounded collect (:func:`_collect_at_most`) reads the pinned edges, the pin is freed,
      union-find with min-id roots labels them, and the result is a
      local relation with the id column types and no checkpoint behind
      it. Near-dup graphs are this size, and on them the rounds below
      are bound by job launches: one label-sum job and one checkpoint
      per round for a graph the driver labels in milliseconds.
    - **Rounds**, from the pinned edges, above the bound or for
      float/double ids (whose Python equality and order are not
      Spark's). Min-label propagation: each round every node takes the
      min of its own and its neighbours' labels, one shuffle per round,
      and a ``localCheckpoint`` per round cuts the lineage so the plan
      does not grow with the round count.
      From round ``hop_after`` on, each round also hops through the
      previous round's labels (``comp ← min(comp, labels[comp])``),
      doubling the propagation distance: O(log d) rounds on a diameter-d
      graph instead of O(d) (without it a long chain ran out of
      ``max_iter`` rounds), and the same fixpoint, because every hop
      target is reachable from ``comp``. The first rounds stay plain:
      cliques and short chains converge there, and the hop join is
      overhead. Integral and exact-decimal ids detect convergence with
      one label-sum aggregate (labels only decrease, so the sum moves
      iff some label did); other ids with a join+count of changed
      labels. ``max_iter`` and ``hop_after`` govern this path only.

    The bound sits below the measured crossover of the two paths and
    caps the driver memory the collected edges take. Measured on 4-core
    local mode over star-shaped graphs, both paths from the pinned
    edges (min of 3, labels identical): 4,500 edges 0.53 s driver vs
    1.03 s rounds; 50k 0.70 vs 1.34 s; 100k 1.40 vs 1.67 s; 200k 2.12
    vs 1.78 s.

    Raises ``RuntimeError`` when ``max_iter`` rounds end with labels
    still changing, after freeing the loop's checkpoints: unconverged
    labels would silently split components. Convergence is seen in the
    round that changes no label, one round after the fixpoint is
    reached, so ``max_iter`` must cover that round too: a graph whose
    labels settle exactly in round ``max_iter`` also raises.

    Lifecycle: on the rounds path the result is backed by the final
    round's checkpoint — consume it inside your ``checkpoint_scope``
    (see :mod:`.lifecycle`).
    """
    # pinned before the bounded collect, so a graph above the bound starts
    # its rounds from these rows instead of evaluating ``pairs`` again
    edges = lifecycle.pin(
        pairs.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    types = dict(edges.dtypes)
    if types["s"] == types["d"] and re.fullmatch(_DRIVER_ID_TYPES, types["s"]):
        rows = _collect_at_most(edges, _CC_DRIVER_EDGES)
        if rows is not None:
            lifecycle.release(edges)
            return _driver_components(
                pairs.sparkSession, rows, edges.schema["s"].dataType
            )
    return _round_components(edges, max_iter, hop_after)


def _driver_components(spark, rows, id_type) -> DataFrame:
    """Union-find over collected ``(s, d)`` edge rows. The smaller root
    always wins a union, so every root is its component's min id — the
    fixpoint of :func:`_round_components`."""
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while x != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in rows:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    nodes = list(parent)
    schema = StructType(
        [StructField("node", id_type), StructField("component", id_type)]
    )
    # from an Arrow table Spark builds a LocalRelation, whose exact size
    # lets the planner broadcast it into the caller's join
    table = pa.table({"node": nodes, "component": [find(n) for n in nodes]})
    return spark.createDataFrame(table, schema)


def _round_components(edges: DataFrame, max_iter: int, hop_after: int) -> DataFrame:
    """The distributed min-label rounds of :func:`connected_components`,
    from its pinned ``(s, d)`` edges; frees that pin."""
    try:
        both = lifecycle.pin(
            edges.union(edges.select(F.col("d").alias("s"), F.col("s").alias("d")))
        )
    finally:
        lifecycle.release(edges)
    edges = both
    labels = lifecycle.pin(
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    # label-sum detector: an exact decimal(38,0) sum, so no silent long
    # overflow. Float/double ids and decimals with scale > 0 take the
    # join+count detector instead: the decimal(38,0) cast rounds them,
    # so a real label change (2.4→2.2) could leave the sum unchanged and
    # converge prematurely. Where both apply, the label-sum measured
    # faster (sf0.1, CC step alone: 0.76-0.88 s vs 0.87-1.01 s).
    numeric = bool(re.fullmatch(_EXACT_INT_TYPES, dict(labels.dtypes)["comp"]))

    def label_sum(l: DataFrame):
        return l.agg(F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")).first()["s"]

    # superseded rounds are released as soon as their successor is
    # checked, and the live ones on the way out of the error path
    # (round-7 advisor finding): with no enclosing scope nothing else
    # would free them. The INITIAL label-sum probe sits inside the
    # guard too: it is the first action over the freshly pinned
    # labels/edges (r8 review finding)
    try:
        prev_sum = label_sum(labels) if numeric else None
        for it in range(max_iter):
            nbr_min = (
                edges.join(labels, edges.d == labels.node)
                .select(F.col("s").alias("node"), "comp")
            )
            # the final round's checkpoint backs the RETURNED labels
            # (owned by the caller's scope); superseded rounds are
            # released explicitly below, so the loop keeps exactly two
            # rounds live.
            # eager=False: the checkpoint materializes inside the
            # guarded convergence probe below, so a task failure DURING
            # materialization (the iteration's likeliest failure point)
            # still has a handle to release partial blocks through —
            # an eager pin that dies mid-action leaves unreferencable
            # partial state
            half = (
                labels.unionByName(nbr_min)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
            )
            if it >= hop_after:
                # pointer doubling (see docstring): hop through the
                # PREVIOUS round's checkpointed labels — left join, so
                # labels that are already component roots pass through
                hop = labels.select(
                    F.col("node").alias("_hn"), F.col("comp").alias("_hc")
                )
                half = half.join(hop, half.comp == hop._hn, "left").select(
                    "node",
                    F.least(F.col("comp"), F.coalesce("_hc", "comp")).alias("comp"),
                )
            new = lifecycle.pin(half, eager=False)
            try:
                if numeric:
                    new_sum = label_sum(new)
                    converged = new_sum == prev_sum
                    prev_sum = new_sum
                else:
                    converged = (
                        new.withColumnRenamed("comp", "comp_new")
                        .join(labels, "node")
                        .where(F.col("comp_new") != F.col("comp"))
                        .count()
                        == 0
                    )
            except Exception:
                lifecycle.release(new)
                raise
            # the superseded iteration is dead the moment the
            # convergence check has consumed it: free its blocks NOW so
            # the loop keeps exactly two iterations live instead of
            # every one of them (the round-5 long-session leak)
            lifecycle.release(labels)
            labels = new
            if converged:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge within max_iter={max_iter} "
                "rounds; raise max_iter"
            )
    except Exception:
        lifecycle.release(labels)
        lifecycle.release(edges)
        raise
    # edges are dead once the fixpoint is reached (the result depends
    # only on the final labels checkpoint)
    lifecycle.release(edges)
    return labels.select("node", "comp").withColumnsRenamed(
        {"node": "node", "comp": "component"}
    )


def near_dup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.8,
    prefer_col: Optional[str] = None,
    edge_mode: str = "star",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Every row of ``df`` labeled with its duplicate-cluster id:
    :func:`minhash_near_dup_pairs` (each document shingled once, one
    pinned relation) → :func:`connected_components` →
    ``(id, cluster_id, is_canonical)``; singletons get their own id as
    cluster. A verified edge set within ``_CC_DRIVER_EDGES`` rows — the
    near-dup case — is labeled on the driver, so the clusters op keeps
    one pin (the kernel's) and the labels are a broadcastable local
    relation; a larger one runs the distributed rounds from the pinned
    edges, which never shingle again.

    Canonical choice: min id by default; with ``prefer_col`` (a numeric
    column of ``df``, e.g. a quality score) the canonical is the
    cluster's max-prefer row, min id on ties — real pipelines keep the
    BEST copy of a near-dup group, not the first-crawled one.

    Components only need a SPANNING edge set, so ``edge_mode="star"``
    is the DEFAULT here: candidate count grows linearly with
    duplicate-group size instead of quadratically (a boilerplate-heavy
    corpus with 1000-replica groups generates 999 edges per bucket, not
    ~500k — measured 3.6× cheaper at 10× scale and component-equal on
    planted dups, SCALE_EXPERIMENTS.md). Trade: a member whose only
    strong similarity is to a NON-hub sibling can land in a different
    component; pass ``edge_mode="all_pairs"`` when every qualifying
    edge itself is the product (the pair-emitting/verify APIs keep
    all_pairs as their default for exactly that reason)."""
    pairs = minhash_near_dup_pairs(
        df, text_col, id_col, num_perm, num_bands, shingle_k, threshold,
        edge_mode=edge_mode, hash_fn=hash_fn,
    )
    comp = connected_components(pairs).withColumnsRenamed(
        {"node": "id", "component": "cluster_id"}
    )
    cols = [F.col(id_col).alias("id")] + (
        [F.col(prefer_col).alias("_prefer")] if prefer_col else []
    )
    ids = df.select(*cols)
    labeled = ids.join(comp, "id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col("id"))
    )
    if prefer_col is None:
        return labeled.select("id", "cluster_id").withColumn(
            "is_canonical", F.col("id") == F.col("cluster_id")
        )
    # canonical = argmax(prefer), deterministic min-id tiebreak: pick
    # max(struct(prefer, -id)) per cluster (one extra small shuffle)
    best = labeled.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("_prefer"), (-F.col("id")).alias("_neg"))).alias("_b")
    ).select("cluster_id", (-F.col("_b._neg")).alias("_best_id"))
    return (
        labeled.join(best, "cluster_id")
        .select(
            "id", "cluster_id", (F.col("id") == F.col("_best_id")).alias("is_canonical")
        )
    )


def near_dup_dedup(
    df: DataFrame, text_col: str, id_col: str, edge_mode: str = "star", **kw
) -> DataFrame:
    """Keep one representative per near-dup cluster (min id, or the
    max-``prefer_col`` row when given). ``edge_mode`` is explicit here
    (default star — the clustering use case) so this API's recorded
    behavior never shifts under a default change in
    :func:`near_dup_clusters`."""
    keep = (
        near_dup_clusters(df, text_col, id_col, edge_mode=edge_mode, **kw)
        .where("is_canonical")
        .select(F.col("id").alias(id_col))
    )
    return df.join(keep, id_col, "inner")


def containment_verify_pairs(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Asymmetric near-dup on candidate pairs: containment(A⊆B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)|. Catches a short doc
    embedded verbatim in a longer one — Jaccard misses those (the union
    dilutes the score), which is why training-data pipelines check both.
    Emits pairs where EITHER direction clears the threshold.

    Shape: the candidate-id semi-join runs BEFORE the shingle
    projection so only candidate docs are shingled — Catalyst cannot reorder a Project above a Join itself —
    and the pinned result is shared by both sides of the pair join."""
    ids = (
        candidates.select(F.col("id_a").alias("id"))
        .unionByName(candidates.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = lifecycle.pin(
        _fan_out(df)
        .select(F.col(id_col).alias("id"), F.col(text_col).alias("_vtext"))
        .join(ids, "id", "leftsemi")
        .select("id", word_shingles(F.col("_vtext"), shingle_k).alias("sh"))
    )
    j = (
        candidates.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("cont_a_in_b", F.col("_inter") / F.size("sh_a"))
        .withColumn("cont_b_in_a", F.col("_inter") / F.size("sh_b"))
    )
    return j.where(
        (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
    ).select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")


# ------------------------------------------------ span-level exact dedup

def paragraph_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide exact span dedup (the C4 / "Deduplicating Training
    Data" line-level pass): split each doc on ``sep``, keep only the
    FIRST occurrence of every distinct span (first = min (doc id, span
    position) — deterministic), drop later copies, reassemble docs in
    original span order. Docs whose every span was seen earlier come
    back empty.

    Shape: posexplode → one groupBy on the span hash to elect winners →
    semi-join winners back → groupBy doc to reassemble. Shuffles carry
    (hash, id, pos) triples and the surviving spans — never whole docs
    twice."""
    spans = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias("pos", "span"),
    ).withColumn("h", F.md5(F.col("span").cast("binary")))
    winners = (
        spans.groupBy("h")
        .agg(F.min(F.struct("id", "pos")).alias("first"))
        .select(
            F.col("h").alias("hw"),
            F.col("first.id").alias("wid"),
            F.col("first.pos").alias("wpos"),
        )
    )
    kept = spans.join(
        winners,
        (spans.h == F.col("hw"))
        & (spans.id == F.col("wid"))
        & (spans.pos == F.col("wpos")),
        "leftsemi",
    )
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "span"))),
                lambda s: s["span"],
            ),
        ).alias("_kept_text")
    )
    # docs whose every span was a repeat still come back (empty text)
    ids = df.select(F.col(id_col).alias("id"))
    return (
        ids.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("_kept_text", F.lit("")).alias(text_col),
        )
    )


# ------------------------------------------------- dedup observability

def lsh_bucket_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Bucket-size histogram of the LSH band table: ``(band,
    bucket_size, n_buckets)`` — how many buckets of each size each band
    produced. THE observability query for near-dup tuning: a fat tail
    of giant buckets means the band width is too coarse (candidate
    blowup — exactly what ``lsh_candidate_pairs``' ``max_bucket_size``
    caps), all-singleton bands mean it's too fine to find anything.
    Two groupBy shuffles, both on small keys; output rows = distinct
    bucket sizes per band (tiny)."""
    sigs = minhash_signatures(
        df, text_col, id_col, num_perm=num_perm, shingle_k=shingle_k, hash_fn=hash_fn
    )
    bands = band_table(sigs, num_perm=num_perm, num_bands=num_bands, hash_fn=hash_fn)
    sizes = bands.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return sizes.groupBy("band", "bucket_size").agg(
        F.count(F.lit(1)).alias("n_buckets")
    )


def dup_rate_by_group(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Exact-duplicate rate per ``group_col`` (source domain, crawl
    snapshot, …): ``(group, n_docs, n_dup_docs, dup_rate)`` where a doc
    counts as dup when its content digest appears >1 time CORPUS-WIDE
    (cross-group duplicates charge every group they touch — the number
    a crawl-source report needs). One groupBy on the digest + one
    join back + one groupBy on the group: all hash-shuffles on
    bounded-width keys."""
    sigs = df.select(
        F.col(group_col).alias("grp"),
        content_signature(F.col(text_col)).alias("sig"),
    )
    counts = sigs.groupBy("sig").agg(F.count(F.lit(1)).alias("_n"))
    return (
        sigs.join(counts, "sig")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("_n") > 1).cast("bigint")).alias("n_dup_docs"),
        )
        .withColumn("dup_rate", F.round(F.col("n_dup_docs") / F.col("n_docs"), 6))
    )


def canonical_per_group(
    df: DataFrame,
    group_cols,
    order_col: str,
    id_col: str,
    descending: bool = True,
) -> DataFrame:
    """Canonical-document selection: keep exactly ONE row per group —
    the best by ``order_col`` (ties broken by smallest ``id_col``, so
    the winner is deterministic). The "keep the longest/highest-quality
    capture per URL/source" step every crawl-dedup pipeline ends with,
    after near-dup clustering collapses the rest.

    One window shuffle keyed by the group columns; at 100 TB the input
    should be pre-partitioned by the same key (``layout.bucket_by``) so
    the exchange disappears.
    """
    from pyspark.sql.window import Window

    if isinstance(group_cols, str):
        group_cols = [group_cols]
    order = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        order, F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def drop_consecutive_dups(
    df: DataFrame,
    key_col: str,
    order_cols,
    value_col: str,
) -> DataFrame:
    """Run-length dedup: within each ``key_col`` stream ordered by
    ``order_cols``, keep a row only when ``value_col`` differs from the
    immediately preceding row's value (NULL-safe). The
    sensor/telemetry/event-log compaction primitive — collapses repeated
    states to their first occurrence while preserving every transition.

    One window shuffle keyed by the stream key; no driver state. Ties in
    ``order_cols`` must be broken by a unique column (pass it last) or
    "previous row" is nondeterministic.
    """
    from pyspark.sql.window import Window

    if isinstance(order_cols, str):
        order_cols = [order_cols]
    w = Window.partitionBy(key_col).orderBy(*[F.col(c).asc() for c in order_cols])
    # row_number (not prev-is-null) marks the stream head, so a leading
    # NULL value survives; eqNullSafe makes NULL-after-NULL a repeat
    return (
        df.withColumn("_prev", F.lag(F.col(value_col)).over(w))
        .withColumn("_rn", F.row_number().over(w))
        .where(
            (F.col("_rn") == 1)
            | ~F.col(value_col).eqNullSafe(F.col("_prev"))
        )
        .drop("_prev", "_rn")
    )


# -------------------------------------------- incremental cluster refresh

def refresh_clusters(
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    existing_clusters: DataFrame,
    lsh_index,
    threshold: float = 0.8,
    **near_dup_kw,
) -> DataFrame:
    """Incremental near-dup cluster maintenance: place a NEW batch into
    an existing clustering WITHOUT re-clustering the corpus — the
    production shape once a 100-TB corpus has been clustered once and
    batches keep arriving.

    Two-stage, both bounded by the batch:

    1. Gate the batch against the persisted LSH index
       (:meth:`~elephant_twin_spark.operators.lsh.LshIndex.gate`):
       a matched doc inherits the cluster of its lowest matching corpus
       doc (``dup_of``), falling back to ``dup_of`` itself when that doc
       is absent from ``existing_clusters`` (e.g. a corpus grown by
       ``append_docs`` after the last full clustering).
    2. The unmatched remainder — novel content — is near-dup-clustered
       among ITSELF (star mode), so brand-new duplicate groups arriving
       inside one batch still collapse; their cluster id is their own
       min doc id (disjoint from corpus ids by the caller's id space).

    Returns ``(id, cluster_id, is_new_cluster)``. Cost: probe-sized
    bucket join + exact verify on collisions + clustering of only the
    novel remainder — the corpus is touched only through the index and
    the candidate verify reads.

    Trade (same as any incremental clustering): merges BETWEEN existing
    clusters that the new batch would induce (doc D near both cluster X
    and cluster Y) are not applied to the stored clustering; D inherits
    its lowest match. Run the full clustering periodically to compact.

    The gate output is pinned (``localCheckpoint``, batch-bounded) before
    the matched/novel split (r16): both branches consume ``gated``, and
    the novel branch feeds :func:`near_dup_clusters`, which itself
    consumes its input more than once — without the pin the whole gate
    (bucket join + corpus verify read) re-evaluated once per consumer.
    Interleaved same-JVM A/B at sf0.1: 22.8-28.9 s / 59-94 JVM-CPU-s →
    6.9-9.6 s / 25-31 CPU-s per refresh, identical rows. Same
    consume-within-scope lifecycle as the rest of this module.
    """
    gated = lifecycle.pin(
        lsh_index.gate(new_docs, text_col, id_col, threshold=threshold)
    )
    matched = gated.where(F.col("is_near_dup")).select(
        F.col(id_col).alias("id"), F.col("dup_of")
    )
    prior = existing_clusters.select(
        F.col("id").alias("dup_of"), F.col("cluster_id").alias("_prior_cluster")
    )
    inherited = (
        matched.join(prior, "dup_of", "left")
        .select(
            "id",
            F.coalesce("_prior_cluster", F.col("dup_of")).alias("cluster_id"),
            F.lit(False).alias("is_new_cluster"),
        )
    )
    novel_ids = gated.where(~F.col("is_near_dup")).select(F.col(id_col).alias("id"))
    novel_docs = new_docs.join(
        novel_ids.withColumnRenamed("id", id_col), id_col, "left_semi"
    )
    fresh = near_dup_clusters(
        novel_docs, text_col, id_col, threshold=threshold,
        edge_mode="star", **near_dup_kw,
    ).select("id", "cluster_id", F.lit(True).alias("is_new_cluster"))
    return inherited.unionByName(fresh)


def lsh_plan(
    spark,
    target_jaccard: float,
    num_perms: "tuple" = (8, 16, 32, 64, 128),
) -> DataFrame:
    """MinHash-LSH parameter planner: for every ``(num_perm, num_bands)``
    with bands dividing the permutation count, the closed-form banding
    S-curve characteristics —

    * ``s50`` = ``(1/b)^(1/r)``: the Jaccard similarity at which the
      collision probability crosses ~0.5 (the curve's THRESHOLD);
    * ``p_at_target`` = ``1 - (1 - t^r)^b``: recall at the caller's
      target similarity (probability a truly-``t``-similar pair becomes
      a candidate);
    * ``threshold_gap`` = ``|s50 - t|``: how well the curve centers on
      the target.

    Returned ascending by ``(threshold_gap, num_perm)`` intent — rank in
    the caller; the first low-gap row with acceptable ``p_at_target``
    and budget (``num_perm`` = signature width = hash cost per doc) is
    the plan. Pure closed-form math over a constant-size parameter grid
    (driver-built rows, one projection, no data scan) — the planning
    companion to :func:`lsh_candidate_pairs`, same role as the block
    index's ``index_advisor``."""
    t = float(target_jaccard)
    if not 0.0 < t < 1.0:
        raise ValueError(f"target_jaccard must be in (0, 1), got {t}")
    grid = [
        (p, b, p // b)
        for p in num_perms
        for b in range(1, p + 1)
        if p % b == 0
    ]
    df = spark.createDataFrame(grid, "num_perm int, num_bands int, rows_per_band int")
    b, r = F.col("num_bands").cast("double"), F.col("rows_per_band").cast("double")
    s50 = F.pow(F.lit(1.0) / b, F.lit(1.0) / r)
    p_at = F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(F.lit(t), r), b)
    return df.select(
        "num_perm",
        "num_bands",
        "rows_per_band",
        F.round(s50, 6).alias("s50"),
        F.round(p_at, 6).alias("p_at_target"),
        F.round(F.abs(s50 - F.lit(t)), 6).alias("threshold_gap"),
    )
