"""Similarity search over embedding columns (``array<float>``).

North-star operator set (no reference analog): brute-force cosine top-k
as the exact baseline, plus an LSH-bucketed approximate variant as the
scale path. All vector math is JVM higher-order functions
(``zip_with`` + ``aggregate``) — no Python UDF in the hot path.

Scale shape: brute force is a single narrow map + TakeOrderedAndProject
(no shuffle — fine whenever k is small, even at 10^9 rows); the LSH
variant prunes the scanned fraction to matching hyperplane-sign buckets,
trading recall for a ~2^bits reduction in rows touched.
"""

from __future__ import annotations

import math
import random
from typing import List, Optional, Sequence

from elephant_twin_spark.operators import lifecycle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def with_cosine(df: DataFrame, vec_col: str, query_vec: Sequence[float], out_col: str = "cosine") -> DataFrame:
    """Add cosine similarity to a constant query vector (double precision)."""
    if query_vec is None or len(query_vec) == 0:
        # Probing an empty table for the query row yields None/[] —
        # name the contract violation here instead of letting F.lit([])
        # produce a void-typed array and a cryptic zip_with
        # AnalysisException (r12 empty-input sweep).
        raise ValueError("with_cosine: query_vec is empty/None")
    q = F.lit([float(x) for x in query_vec])
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn(out_col, _dot(v, q) / (_norm(v) * F.lit(qn)))


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
) -> DataFrame:
    """Exact brute-force top-k by cosine: ``(id, cosine)``, deterministic
    tiebreak on id. Plans to TakeOrderedAndProject (per-partition heap +
    driver merge of k rows) — no shuffle, scales linearly in rows."""
    scored = with_cosine(df, vec_col, query_vec).select(
        F.col(id_col).alias("id"), F.col("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("id").asc()).limit(k)


def random_hyperplanes(dim: int, bits: int, seed: int = 42) -> List[List[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str,
    planes: List[List[float]],
    out_col: str = "bucket",
) -> DataFrame:
    """Sign-random-projection LSH bucket id (0..2^bits-1) per row.

    NULL vectors (or vectors with a NULL element) get a NULL bucket and
    therefore drop out of bucket self-joins entirely — intended: a row
    with no embedding has no meaningful neighborhood, and silently
    pinning it to bucket 0 would pair every such row with every real
    bucket-0 row. Filter ``vec_col IS NOT NULL`` upstream to assert
    completeness instead.

    The planes' dimension MUST match the vector dimension: ``zip_with``
    NULL-pads the shorter side, so a mismatched plane matrix NULLs the
    per-plane dot products and every row silently lands in the NULL
    bucket (callers that fix planes externally — the md5-parity oracle
    paths — guard the dimension up front via their fixture asserts).

    The plane matrix rides as ONE nested-array literal folded with
    higher-order functions — a per-element-literal expression tree
    (bits × dim `Literal` nodes) costs seconds of codegen/compile before
    the first row is touched; the single-literal form is compiled in
    milliseconds and computes the identical sum order."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pl = F.lit([[float(x) for x in p] for p in planes])
    sign_bits = F.transform(pl, lambda p: (_dot(v, p) >= 0).cast("int"))
    powers = F.lit([1 << i for i in range(len(planes))])
    bucket = F.aggregate(
        F.zip_with(sign_bits, powers, lambda b, w: b * w), F.lit(0), lambda s, x: s + x
    )
    return df.withColumn(out_col, bucket.cast("int"))


def lsh_cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    bits: int = 4,
    seed: int = 42,
    multiprobe_hamming: int = 1,
    planes: Optional[List[List[float]]] = None,
) -> DataFrame:
    """Approximate top-k: restrict the brute-force scan to rows whose LSH
    bucket is within ``multiprobe_hamming`` bits of the query's bucket
    (multi-probe recovers recall lost to boundary effects).

    At scale the bucketed table would be *written* partitioned by bucket
    so this becomes partition pruning; here it is a filter the parquet
    reader can still push down when the bucket column is materialized.

    Pass explicit ``planes`` (e.g. :func:`md5_sign_planes`) when the
    bucket assignment itself must be reproducible by an external engine
    — Gaussian planes from a Python RNG cannot be; md5-parity planes
    can. ``bits``/``seed`` are ignored when ``planes`` is given.
    """
    if query_vec is None or len(query_vec) == 0:
        raise ValueError("lsh_cosine_topk: query_vec is empty/None")
    dim = len(query_vec)
    if planes is None:
        planes = random_hyperplanes(dim, bits, seed)
    elif planes and len(planes[0]) != dim:
        # fail loudly: zip(p, query_vec) would silently truncate the
        # query-side dot product while the engine-side zip_with
        # NULL-pads — two different silent wrong answers for the same
        # caller error (r10 advisor)
        raise ValueError(
            f"planes dimension {len(planes[0])} != query_vec dimension {dim}"
        )
    bits = len(planes)
    q_bucket = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(p, query_vec)) >= 0:
            q_bucket |= 1 << i
    probe = [b for b in range(1 << bits) if bin(b ^ q_bucket).count("1") <= multiprobe_hamming]
    bucketed = with_lsh_bucket(df, vec_col, planes)
    pruned = bucketed.where(F.col("bucket").isin(probe))
    return cosine_topk(pruned, vec_col, id_col, query_vec, k)


def _centroid_struct_array(vec_col, centroids: List[List[float]], metric: str = "cosine"):
    """``array<struct<sim,idx>>`` of similarity to every centroid. The
    centroid matrix rides as ONE nested-array literal folded with
    higher-order functions: per-element literal trees (k × dim `Literal`
    nodes) cost seconds of plan compile at realistic k·dim, the
    single-literal form milliseconds — same arithmetic, same sum order."""
    if not centroids:
        # An empty centroid list (a fit that was skipped, or a collect
        # over an empty table) must fail by name: F.lit([]) is a
        # void-typed array literal whose zip_with raises a cryptic
        # DATATYPE_MISMATCH instead (r12 empty-input sweep).
        raise ValueError("empty centroid list (fit on an empty table?)")
    v = F.transform(vec_col, lambda x: x.cast("double"))
    cmat = F.lit([[float(x) for x in c] for c in centroids])
    idxs = F.lit(list(range(len(centroids))))
    if metric == "cosine":
        vn = _norm(v)
        norms = F.lit([math.sqrt(sum(x * x for x in c)) or 1.0 for c in centroids])
        sims = F.zip_with(cmat, norms, lambda c, n: _dot(v, c) / (vn * n))
    elif metric == "l2":
        # argmax of negative squared distance == argmin distance
        sims = F.transform(
            cmat,
            lambda c: -F.aggregate(
                F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    else:
        raise ValueError(metric)
    return F.zip_with(sims, idxs, lambda s, i: F.struct(s.alias("sim"), i.alias("idx")))


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    centroids: List[List[float]],
    out_col: str = "cluster",
    metric: str = "cosine",
) -> DataFrame:
    """Assign each row to its best centroid (argmax over an inline
    struct array — pure JVM expression, ties broken toward the higher
    cluster id deterministically)."""
    arr = _centroid_struct_array(F.col(vec_col), centroids, metric)
    return df.withColumn(out_col, F.array_max(arr)["idx"])


def ivf_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k_clusters: int = 16,
    max_iter: int = 3,
    seed: int = 42,
    metric: str = "cosine",
) -> List[List[float]]:
    """Spherical (cosine) or plain-L2 k-means (Lloyd) centroids.

    Init = k deterministic pseudo-random rows (hash-of-id order). Each
    iteration is one assign (narrow map) + one shuffle
    (posexplode → groupBy(cluster, dim) mean); only k×dim small numbers
    ever reach the driver, so the fit scales to any row count.

    NULL vectors carry no training signal and are dropped up front —
    sampled into ``init`` they would TypeError the centroid unpack
    (the r12 NULL-probe class)."""
    df = df.where(F.col(vec_col).isNotNull())
    init = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("id").cast("string"))))
        .limit(k_clusters)
        .collect()
    )
    if not init:
        raise ValueError(
            f"ivf_fit: no non-null {vec_col!r} vectors to train on"
        )
    centroids = [[float(x) for x in r["v"]] for r in init]
    for _ in range(max_iter):
        assigned = ivf_assign(df, vec_col, centroids, metric=metric)
        means = (
            assigned.select("cluster", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = {c: list(cent) for c, cent in enumerate(centroids)}  # empty keeps old
        by_cluster: dict = {}
        for r in means:
            by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["m"]
        for c, dims in by_cluster.items():
            new[c] = [dims[i] for i in range(len(dims))]
        centroids = [new[c] for c in range(k_clusters)]
    return centroids


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: Sequence[float],
    centroids: List[List[float]],
    k: int = 10,
    nprobe: int = 4,
    cluster_col: str = "cluster",
) -> DataFrame:
    """IVF probe: rank centroids by cosine to the query (driver-side, the
    centroid table is tiny), brute-force only the ``nprobe`` nearest
    clusters. ``df`` may be pre-assigned (has ``cluster_col`` — at scale
    you write the table partitioned by it, making this partition
    pruning); otherwise assignment happens on the fly."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    scored = []
    for i, c in enumerate(centroids):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        scored.append((sum(a * float(b) for a, b in zip(c, query_vec)) / (cn * qn), i))
    probe = [i for _, i in sorted(scored, reverse=True)[: max(1, nprobe)]]
    if cluster_col not in df.columns:
        df = ivf_assign(df, vec_col, centroids, cluster_col)
    pruned = df.where(F.col(cluster_col).isin(probe))
    return cosine_topk(pruned, vec_col, id_col, query_vec, k)


# ------------------------------------------------------------------ PQ
#
# Product quantization: split each d-dim vector into m subvectors,
# k-means each subspace to k centroids (codebooks), store each vector as
# m small codes. At 100 TB this compresses float32 embeddings ~d*4/m
# bytes → the candidate scan reads codes, not vectors; scoring uses the
# ADC trick (per-query lookup tables, computed once on the driver).
# Pairs with IVF (coarse cluster → PQ re-rank) as the classic pipeline.


def pq_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    k: int = 16,
    max_iter: int = 2,
    seed: int = 42,
) -> List[List[List[float]]]:
    """Per-subspace L2-kmeans codebooks: ``m`` lists of ``k`` centroids
    (each of dim d/m).

    All ``m`` subspaces train TOGETHER: init is one deterministic sample
    of k rows (each contributing every subvector), and each Lloyd
    iteration is ONE job — assign every subspace's cluster in a single
    select, explode to (subspace, cluster, dim, x), one groupBy for all
    means. Only m*k*(d/m) small numbers reach the driver per iteration,
    so the fit costs O(max_iter) jobs regardless of m."""
    # non-null probe (same class as embedding_near_dup_pairs' r12 fix):
    # a NULL vector in the first row would read dim -1/None and either
    # TypeError below or build degenerate subspaces
    dim_row = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .first()
    )
    dim = dim_row["d"] if dim_row is not None else None
    if dim is None or dim <= 0:
        raise ValueError(
            f"pq_fit: no non-null {vec_col!r} vectors to infer dimension from"
        )
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    w = dim // m

    init = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("id").cast("string"))))
        .limit(k)
        .collect()
    )
    books = [
        [[float(x) for x in r["v"][s * w : (s + 1) * w]] for r in init]
        for s in range(m)
    ]

    base = df.select(
        *[
            F.transform(F.slice(F.col(vec_col), s * w + 1, w), lambda x: x.cast("double")).alias(
                f"_v{s}"
            )
            for s in range(m)
        ]
    )
    for _ in range(max_iter):
        assign_cols = []
        for s in range(m):
            arr = _centroid_struct_array(F.col(f"_v{s}"), books[s], metric="l2")
            assign_cols.append(F.array_max(arr)["idx"].alias(f"_c{s}"))
        assigned = base.select(*[F.col(f"_v{s}") for s in range(m)], *assign_cols)
        rows = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.col(f"_c{s}").alias("cluster"),
                            F.col(f"_v{s}").alias("v"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("e")
        ).select("e.s", "e.cluster", F.posexplode("e.v").alias("dim", "x"))
        means = rows.groupBy("s", "cluster", "dim").agg(F.avg("x").alias("mv")).collect()
        by_sc: dict = {}
        for r in means:
            by_sc.setdefault((r["s"], r["cluster"]), {})[r["dim"]] = r["mv"]
        for (s, c), dims in by_sc.items():
            books[s][c] = [dims[i] for i in range(len(dims))]  # empty clusters keep old
    return books


def pq_encode(
    df: DataFrame, vec_col: str, id_col: str, codebooks: List[List[List[float]]]
) -> DataFrame:
    """``(id, codes array<int>)`` — nearest centroid per subspace, all
    JVM expressions (argmin of squared L2 via inline struct arrays)."""
    if not codebooks or not codebooks[0]:
        raise ValueError("pq_encode: empty codebooks (fit on an empty table?)")
    m = len(codebooks)
    w = len(codebooks[0][0])
    code_cols = []
    for s, book in enumerate(codebooks):
        sub = F.transform(
            F.slice(F.col(vec_col), s * w + 1, w), lambda x: x.cast("double")
        )
        dists = []
        for ci, c in enumerate(book):
            cvec = F.lit([float(x) for x in c])
            d2 = F.aggregate(
                F.zip_with(sub, cvec, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            dists.append(F.struct(d2.alias("d"), F.lit(ci).alias("i")))
        code_cols.append(F.array_min(F.array(*dists))["i"])
    return df.select(
        F.col(id_col).alias("id"), F.array(*code_cols).cast("array<int>").alias("codes")
    )


def pq_topk(
    codes_df: DataFrame,
    query_vec: Sequence[float],
    codebooks: List[List[List[float]]],
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the driver precomputes,
    per subspace, the squared L2 from the query subvector to every
    centroid; each row's approximate distance is m array lookups summed
    JVM-side — no vector math per row, no shuffle
    (TakeOrderedAndProject)."""
    if not codebooks or not codebooks[0]:
        raise ValueError("pq_topk: empty codebooks (fit on an empty table?)")
    if query_vec is None or len(query_vec) == 0:
        raise ValueError("pq_topk: query_vec is empty/None")
    m = len(codebooks)
    w = len(codebooks[0][0])
    tables = []
    for s, book in enumerate(codebooks):
        q = [float(x) for x in query_vec[s * w : (s + 1) * w]]
        tables.append([sum((a - b) ** 2 for a, b in zip(q, c)) for c in book])
    # ONE m×k' nested literal + a zip_with fold (not m×k' Literal nodes:
    # plan-compile cost, not row cost, dominates per-element literals)
    lut = F.lit([[float(d) for d in t] for t in tables])
    dist = F.aggregate(
        F.zip_with(
            lut,
            F.transform(F.col("codes"), lambda c: c.cast("int")),
            lambda t, c: F.element_at(t, c + 1),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = codes_df.select("id", dist.alias("adc_dist"))
    return scored.orderBy(F.col("adc_dist").asc(), F.col("id").asc()).limit(k)


def pq_search(
    df: DataFrame,
    codes_df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: Sequence[float],
    codebooks: List[List[List[float]]],
    k: int = 10,
    shortlist: int = 100,
) -> DataFrame:
    """The canonical PQ pipeline: ADC over codes produces a cheap
    ``shortlist`` (reads m ints per row), then ONLY those rows' real
    vectors are re-ranked exactly by cosine. At scale the codes table is
    ~d*4/m times smaller than the vectors, so the full scan touches the
    compressed representation and the expensive exact math runs on a
    constant-size candidate set."""
    cand = pq_topk(codes_df, query_vec, codebooks, k=shortlist).select("id")
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col))
    pruned = vecs.join(F.broadcast(cand), "id", "inner")
    return cosine_topk(pruned, vec_col, "id", query_vec, k)


def ivf_pq_search(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: Sequence[float],
    centroids: List[List[float]],
    codebooks: List[List[List[float]]],
    codes_df: Optional[DataFrame] = None,
    cluster_col: str = "cluster",
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 100,
) -> DataFrame:
    """IVF + PQ, the classic large-scale ANN pipeline: the coarse
    quantizer prunes to ``nprobe`` clusters, ADC over PQ codes shortlists
    within them, exact cosine re-ranks the shortlist. At 100 TB the
    clustered+encoded table is written partitioned by ``cluster_col``
    (partition pruning) with codes as a few bytes per row."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    ranked = []
    for i, c in enumerate(centroids):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        ranked.append((sum(a * float(b) for a, b in zip(c, query_vec)) / (cn * qn), i))
    probe = [i for _, i in sorted(ranked, reverse=True)[: max(1, nprobe)]]

    assigned = df if cluster_col in df.columns else ivf_assign(df, vec_col, centroids, cluster_col)
    pruned = assigned.where(F.col(cluster_col).isin(probe))
    if codes_df is None:
        codes_df = pq_encode(pruned, vec_col, id_col, codebooks)
    else:
        ids = pruned.select(F.col(id_col).alias("id"))
        codes_df = codes_df.join(ids, "id", "inner")
    return pq_search(pruned, codes_df, vec_col, id_col, query_vec, codebooks, k, shortlist)


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    bits: int = 8,
    seed: int = 42,
    planes: Optional[List[List[float]]] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing: candidate
    pairs share a bucket, then exact cosine filters ≥ threshold.
    ``(id_a, id_b, cosine)`` with cosine ROUNDED to 4 decimals and the
    threshold applied to the rounded value (same convention as
    :func:`range_search` / :func:`semantic_dedup_pairs`: an external
    oracle summing floats in a different order reaches the identical
    keep/drop decision for pairs within float noise of the threshold).

    Pass explicit ``planes`` (e.g. :func:`md5_sign_planes`) to make the
    candidate buckets themselves engine-reproducible; ``bits``/``seed``
    are ignored when ``planes`` is given."""
    # Probe the vector dimension on NON-NULL rows only: a NULL vector in
    # the first row makes size() return -1/NULL, which would either build
    # zero-dim planes (=> every row in bucket 0 => quadratic self-join)
    # or raise a spurious mismatch against valid explicit planes (r11
    # advisor). dim <= 0 means "no non-null vector found" = unknown.
    dim_row = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .first()
    )
    dim = dim_row["d"] if dim_row is not None else None
    if dim is not None and dim <= 0:
        dim = None
    if planes is None:
        if dim is None:
            # No non-null vectors: there are no candidate pairs, and no
            # dimension to build planes from. Return the empty pair frame
            # with the contract schema instead of crashing the pipeline.
            return df.select(
                F.col(id_col).alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0.0).alias("cosine"),
            ).where(F.lit(False))
        planes = random_hyperplanes(dim, bits, seed)
    elif planes and dim is not None and len(planes[0]) != dim:
        # fail loudly instead of NULL-padding every bucket (r10 advisor)
        raise ValueError(
            f"planes dimension {len(planes[0])} != vector column dimension {dim}"
        )
    # pin the bucketed projection: the self-join would otherwise evaluate
    # the bits×dim hyperplane expression tree twice (and pay its codegen
    # cost twice — the literal-heavy plan is expensive to compile)
    b = lifecycle.pin(
        with_lsh_bucket(df, vec_col, planes)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "bucket")
    )
    x, y = b.alias("x"), b.alias("y")
    cands = x.join(
        y,
        (F.col("x.bucket") == F.col("y.bucket")) & (F.col("x.id") < F.col("y.id")),
    ).select(
        F.col("x.id").alias("id_a"),
        F.col("y.id").alias("id_b"),
        F.col("x.v").alias("va"),
        F.col("y.v").alias("vb"),
    )
    va = F.transform("va", lambda v: v.cast("double"))
    vb = F.transform("vb", lambda v: v.cast("double"))
    sim = _dot(va, vb) / (_norm(va) * _norm(vb))
    return (
        cands.withColumn("cosine", F.round(sim, 4))
        .where(F.col("cosine") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "cosine")
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    corpus_id_col: str,
    corpus_vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact batch kNN join: for EVERY query row, the k nearest corpus
    rows by cosine — ``(query_id, id, cosine, rank)``.

    Shape: broadcast the query batch against the corpus scan (no corpus
    shuffle to score), then one shuffle keyed by query_id for the
    windowed top-k. The shuffle carries |Q|×|corpus| scored rows, so the
    EXACT path is for bounded query batches (dedup-against-reference,
    eval sets); for large Q×N compose with the IVF quantizer
    (:func:`ivf_knn_join`) to shrink the candidate set first.
    """
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.transform(F.col(query_vec_col), lambda x: x.cast("double")).alias("_qv"),
    )
    c = corpus.select(
        F.col(corpus_id_col).alias("id"),
        F.transform(F.col(corpus_vec_col), lambda x: x.cast("double")).alias("_cv"),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "id",
        (_dot(F.col("_qv"), F.col("_cv")) / (_norm(F.col("_qv")) * _norm(F.col("_cv")))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "id", "cosine", "rank")
    )


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    corpus_id_col: str,
    corpus_vec_col: str,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    max_iter: int = 5,
    seed: int = 42,
    centroids: Optional[List[List[float]]] = None,
) -> DataFrame:
    """Approximate batch kNN join at scale: fit an IVF coarse quantizer
    on the corpus, assign corpus rows to their cluster and queries to
    their ``nprobe`` nearest clusters, equi-join on cluster id, exact
    cosine + windowed top-k on the candidates only. Candidate volume is
    ~|Q|·nprobe/nlist·|corpus| instead of |Q|×|corpus| — the same
    recall/cost dial as single-query IVF search.

    Pass pre-fit ``centroids`` to skip the Lloyd fit — reusing a
    quantizer across batches (the production shape: fit once, serve
    many joins) or fixing it for engine-independent verification;
    ``nlist``/``max_iter``/``seed`` are ignored when given."""
    from pyspark.sql.window import Window

    if centroids is None:
        centroids = ivf_fit(
            corpus,
            corpus_vec_col,
            corpus_id_col,
            k_clusters=nlist,
            max_iter=max_iter,
            seed=seed,
        )
    c_assigned = ivf_assign(corpus, corpus_vec_col, centroids).select(
        F.col(corpus_id_col).alias("id"),
        F.transform(F.col(corpus_vec_col), lambda x: x.cast("double")).alias("_cv"),
        F.col("cluster"),
    )
    q_probed = probe_queries(queries, query_id_col, query_vec_col, centroids, nprobe)
    return probed_knn(c_assigned, q_probed, k)


def probe_queries(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    centroids: List[List[float]],
    nprobe: int,
) -> DataFrame:
    """``(query_id, _qv, cluster)`` — each query row exploded to its
    nprobe nearest centroids (JVM struct-sort, no UDF)."""
    sim_arr = _centroid_struct_array(F.col(query_vec_col), centroids)
    return (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.transform(F.col(query_vec_col), lambda x: x.cast("double")).alias("_qv"),
            F.slice(F.reverse(F.array_sort(sim_arr)), 1, nprobe).alias("_probes"),
        )
        .select("query_id", "_qv", F.explode("_probes").alias("_p"))
        .select("query_id", "_qv", F.col("_p")["idx"].alias("cluster"))
    )


def probed_knn(c_assigned: DataFrame, q_probed: DataFrame, k: int) -> DataFrame:
    """Join probed queries to cluster-assigned corpus vectors
    (``(id, _cv, cluster)``), exact cosine, windowed top-k per query."""
    from pyspark.sql.window import Window

    cands = c_assigned.join(F.broadcast(q_probed), "cluster").select(
        "query_id",
        "id",
        (_dot(F.col("_qv"), F.col("_cv")) / (_norm(F.col("_qv")) * _norm(F.col("_cv")))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("id").asc())
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "id", "cosine", "rank")
    )


def range_search(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: Sequence[float],
    min_cosine: float,
) -> DataFrame:
    """Range variant of ANN: every vector with ``cosine(query) >=
    min_cosine`` as ``(id, cosine)`` — the "give me everything similar
    enough" query (dedup sweeps, recall evaluation) where top-k's fixed
    k is the wrong contract.

    Brute-force scan shape: zero shuffle, one pass, JVM fold per row —
    the predicate prunes rows before any downstream exchange. At index
    scale, the same predicate runs over an IVF-pruned partition subset
    (`ivf_topk`'s nprobe partitions) instead of the full scan.
    """
    scored = with_cosine(df, vec_col, list(query_vec), out_col="_cos")
    # threshold on the ROUNDED value (same convention as
    # semantic_dedup_pairs): an external oracle summing floats in a
    # different order reaches the identical keep/drop decision for
    # vectors sitting within float noise of min_cosine
    return (
        scored.withColumn("cosine", F.round("_cos", 4))
        .where(F.col("cosine") >= F.lit(float(min_cosine)))
        .select(F.col(id_col).alias("id"), "cosine")
    )


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: List[List[float]],
    threshold: float,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: assign every row to its
    best centroid (cosine argmax, :func:`ivf_assign`), then compare
    pairs WITHIN a cluster only — ``(id_a, id_b, cluster, cosine)`` for
    pairs whose rounded cosine clears ``threshold``.

    This is the semantic-dedup decomposition for scale: the pairwise
    stage is quadratic only in CLUSTER size, never corpus size, and the
    cluster self-join is a hash equi-join on the cluster id (AQE splits
    skewed clusters). With k clusters of n/k rows the pair count drops
    from n²/2 to n²/(2k) — and the cluster key is the partition key, so
    at 100 TB the table is written partitioned by cluster and each
    partition dedups independently. The comparison is on ``round(cos,
    4)`` so an external oracle computing the same pairs in a different
    float summation order reaches the identical decision at the
    threshold boundary.
    """
    assigned = ivf_assign(df, vec_col, centroids, metric="cosine").select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        "cluster",
    )
    # renamed right side, not a self-alias: the transform-lambda plan
    # trips attribute resolution on LocalRelation self-joins
    b = assigned.select(
        F.col("id").alias("_id_b"),
        F.col("v").alias("_v_b"),
        F.col("cluster").alias("_cluster_b"),
    )
    cos = _dot(F.col("v"), F.col("_v_b")) / (F.col("_n_a") * F.col("_n_b"))
    return (
        assigned.withColumn("_n_a", _norm(F.col("v")))
        .join(
            b.withColumn("_n_b", _norm(F.col("_v_b"))),
            (F.col("cluster") == F.col("_cluster_b"))
            & (F.col("id") < F.col("_id_b")),
        )
        .select(
            F.col("id").alias("id_a"),
            F.col("_id_b").alias("id_b"),
            "cluster",
            F.round(cos, 4).alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(float(threshold)))
    )


def label_centroids(
    df: DataFrame,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Per-label centroid of an embedding column, LONG form: ``(label,
    pos, mean_val)`` with pos 0-based — the class-prototype/cluster-
    profile aggregate (label → mean vector). posexplode + one (label,
    pos) groupBy: the shuffle carries scalars keyed by (label, dim),
    so it map-side-combines and never materializes per-label vector
    lists; reassemble to array form with ``collect_list`` over the
    (small) output only when needed."""
    expl = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    return expl.groupBy("label", "pos").agg(
        F.round(F.avg("v"), 6).alias("mean_val")
    )


def rrf_fuse(
    ranked,
    id_col: str = "id",
    rank_col: str = "rank",
    k: int = 60,
    top: Optional[int] = None,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked candidate lists (the standard
    hybrid-retrieval combiner: BM25 list + dense-ANN list → one
    ranking): ``score(d) = Σ_lists 1/(k + rank_d)``, higher better.
    Rank-based, so the lists' raw scores need no calibration against
    each other — exactly why RRF is the default hybrid fusion.

    ``ranked``: sequence of DataFrames each carrying ``(id_col,
    rank_col)`` with rank starting at 1. Shape: union of the (already
    top-N-bounded) lists + one tiny groupBy — the fused set is at most
    Σ list sizes rows, so this never touches the corpus. Returns
    ``(id, rrf_score, n_lists)`` sorted best-first (id tiebreak),
    limited to ``top`` when given."""
    if not ranked:
        raise ValueError("ranked must name at least one list")
    parts = [
        d.select(F.col(id_col).alias("id"), F.col(rank_col).alias("rank"))
        for d in ranked
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("id").agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(k)) + F.col("rank"))), 6
        ).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    out = fused.orderBy(F.col("rrf_score").desc(), F.col("id").asc())
    return out.limit(top) if top is not None else out


def md5_sign_planes(dim: int, bits: int, seed: int = 42) -> List[List[float]]:
    """±1 sign-projection hyperplanes derived from md5 parity — the
    engine-independent twin of :func:`random_hyperplanes` (Gaussian
    entries from a Python RNG can never be recomputed by an external
    oracle; md5 of ``"seed|plane|dim"`` can, in any engine). Rademacher
    (±1) projections preserve angular locality like Gaussian ones
    (Achlioptas, "Database-friendly random projections"), so bucket
    recall behaves the same; use these whenever the bucket assignment
    itself must be auditable."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()[0], 16) >= 8
            else -1.0
            for d in range(dim)
        ]
        for p in range(bits)
    ]


def ann_recall_audit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_ids: Sequence[int],
    centroids: List[List[float]],
    codebooks: List[List[List[float]]],
    k: int = 10,
    bits: int = 4,
    seed: int = 42,
    nprobe_ivf: int = 2,
    nprobe_ivfpq: int = 4,
    shortlist: int = 50,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Measured recall@k of the approximate ANN family against the
    exact :func:`cosine_topk` ground truth, per method → ``(method,
    n_queries, total_hits, min_hits, mean_recall)`` for ``lsh`` (md5
    sign planes), ``ivf``, ``pq`` and ``ivf_pq`` — the quality audit
    the approximate paths otherwise lack (the sketch-accuracy twin of
    ``cms_error_stats``). Every component is deterministic: pass FIXED
    ``centroids``/``codebooks`` (e.g. corpus vectors) and the md5
    planes make the LSH buckets engine-independent, so an external
    oracle can reproduce every method's candidate set exactly.

    Hits are INTEGER counts (``|approx ∩ truth|``) and ``mean_recall``
    is one division ``total_hits/(k·n)`` — no floating-point summation
    whose order could differ across engines.

    Shape: the per-query collects are bounded by ``k`` rows; cluster
    assignment, PQ codes and LSH buckets are computed once and pinned
    (``localCheckpoint``) under the audit's own scope, freed before it
    returns. At production scale run the audit over a
    SAMPLE of queries against pre-materialized assigned/encoded tables
    — recall estimates converge with tens of queries, so the audit
    cost is query-proportional, never corpus-proportional."""
    spark = df.sparkSession
    planes = md5_sign_planes(len(centroids[0]), bits, seed)
    # the result is built on the driver from collected counts, so no
    # pin outlives this call: its own scope frees all three
    with lifecycle.checkpoint_scope():
        assigned = lifecycle.pin(ivf_assign(df, vec_col, centroids))
        codes = lifecycle.pin(pq_encode(df, vec_col, id_col, codebooks))
        bucketed = lifecycle.pin(with_lsh_bucket(df, vec_col, planes))
        qrows = (
            df.where(F.col(id_col).isin(list(query_ids)))
            .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .orderBy("id")
            .collect()
        )
        if not qrows:
            raise ValueError(
                f"no query vectors found: none of {list(query_ids)!r} match "
                f"{id_col!r} in the input"
            )
        per_method: dict = {m: [] for m in ("lsh", "ivf", "pq", "ivf_pq")}
        for r in qrows:
            qv = [float(x) for x in r["v"]]
            truth = {
                row["id"] for row in cosine_topk(df, vec_col, id_col, qv, k).collect()
            }
            q_bucket = 0
            for i, p in enumerate(planes):
                if sum(a * b for a, b in zip(qv, p)) >= 0:
                    q_bucket |= 1 << i
            probe = [
                b for b in range(1 << bits)
                if bin(b ^ q_bucket).count("1") <= multiprobe_hamming
            ]
            results = {
                "lsh": cosine_topk(
                    bucketed.where(F.col("bucket").isin(probe)), vec_col, id_col, qv, k
                ),
                "ivf": ivf_topk(
                    assigned, vec_col, id_col, qv, centroids, k=k, nprobe=nprobe_ivf
                ),
                "pq": pq_search(
                    df, codes, vec_col, id_col, qv, codebooks, k=k, shortlist=shortlist
                ),
                "ivf_pq": ivf_pq_search(
                    assigned, vec_col, id_col, qv, centroids, codebooks,
                    codes_df=codes, k=k, nprobe=nprobe_ivfpq, shortlist=shortlist,
                ),
            }
            for m, res in results.items():
                ids = {row["id"] for row in res.collect()}
                per_method[m].append(len(ids & truth))
    n = len(qrows)
    rows = [
        (m, n, int(sum(hs)), int(min(hs)), round(sum(hs) / (k * n), 4))
        for m, hs in per_method.items()
    ]
    return spark.createDataFrame(
        rows,
        "method string, n_queries int, total_hits long, min_hits long, mean_recall double",
    )


def cooccurrence_cosine(
    df: DataFrame,
    user_col: str,
    item_col: str,
    max_items_per_user: Optional[int] = None,
    min_pair_count: int = 1,
) -> DataFrame:
    """Item-item cosine similarity over sparse interaction vectors —
    the classic collaborative-filtering shape: item i's vector has one
    component per user (the interaction count), and similarity is
    ``dot(i, j) / (|i| * |j|)`` computed WITHOUT ever materializing the
    |items| x |users| matrix.

    ``(item_a, item_b, n_users, dot, cosine)`` for unordered pairs
    (``item_a < item_b``) co-interacted by at least ``min_pair_count``
    users.

    Shape (100 TB of interactions): (user, item) counts in one
    map-side-combined aggregate; per-item norms in a second small
    aggregate (|items| rows, joined back — plain equi joins, AQE
    broadcasts them when small); the dot products come
    from the self-join on ``user_col`` — the one genuinely quadratic
    step, bounded per user by that user's item count. Power users are
    the skew hazard (a user with 10k items yields 5*10^7 pairs), so
    ``max_items_per_user`` drops users above the cap (standard CF
    practice — a user who touches everything carries no similarity
    signal). The pair aggregate is again map-side combined.
    """
    ui = df.groupBy(F.col(user_col).alias("u"), F.col(item_col).alias("i")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    if max_items_per_user is not None:
        deg = ui.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
        # left-semi shuffle join: the user dimension is unbounded, so no
        # broadcast hint (AQE still broadcasts small degree tables)
        ui = ui.join(
            deg.where(F.col("_deg") <= int(max_items_per_user)).select("u"),
            "u",
            "left_semi",
        )
    norms = ui.groupBy("i").agg(F.sqrt(F.sum(F.col("cnt") * F.col("cnt"))).alias("norm"))
    a = ui.select(F.col("u"), F.col("i").alias("item_a"), F.col("cnt").alias("ca"))
    b = ui.select(F.col("u"), F.col("i").alias("item_b"), F.col("cnt").alias("cb"))
    pairs = (
        a.join(b, "u")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
        )
        .where(F.col("n_users") >= int(min_pair_count))
    )
    na = norms.select(F.col("i").alias("item_a"), F.col("norm").alias("_na"))
    nb = norms.select(F.col("i").alias("item_b"), F.col("norm").alias("_nb"))
    return (
        pairs.join(na, "item_a")
        .join(nb, "item_b")
        .select(
            "item_a",
            "item_b",
            "n_users",
            "dot",
            F.round(F.col("dot") / (F.col("_na") * F.col("_nb")), 6).alias("cosine"),
        )
    )


def scalar_quantize_fit(df: DataFrame, vec_col: str):
    """Per-dimension (min, max) over the corpus for scalar (int8-style)
    quantization — returned as two Python lists, bounded by the
    embedding dim (a posexplode + per-dim min/max aggregate, map-side
    combined; the collect is dim rows, never row data)."""
    mm = (
        df.select(F.posexplode(vec_col).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min(F.col("x").cast("double")).alias("vmin"),
             F.max(F.col("x").cast("double")).alias("vmax"))
        .orderBy("dim")
        .collect()
    )
    return [r["vmin"] for r in mm], [r["vmax"] for r in mm]


def scalar_quantize(
    df: DataFrame,
    vec_col: str,
    vmin: Sequence[float],
    vmax: Sequence[float],
    bits: int = 8,
    out_col: str = "codes",
) -> DataFrame:
    """Scalar-quantize ``vec_col`` to ``array<int>`` codes in
    ``[0, 2^bits - 1]``: ``code_d = floor((x - min_d)/scale_d + 0.5)``
    with ``scale_d = (max_d - min_d)/(2^bits - 1)`` (degenerate dims —
    ``max == min`` — code to 0). 4x smaller than float32 at 8 bits, and
    unlike PQ the decode is a single multiply-add, so re-ranking stays
    cheap. Pure JVM ``transform`` over broadcast per-dim literals — no
    shuffle, no Python."""
    levels = float((1 << int(bits)) - 1)
    lo = F.array(*[F.lit(float(v)) for v in vmin])
    hi = F.array(*[F.lit(float(v)) for v in vmax])
    def code(x, i):
        mn = F.element_at(lo, i + 1)
        scale = (F.element_at(hi, i + 1) - mn) / F.lit(levels)
        raw = F.floor((x.cast("double") - mn) / scale + F.lit(0.5))
        clamped = F.greatest(F.lit(0).cast("long"), F.least(F.lit(int(levels)).cast("long"), raw))
        return F.when(scale > 0, clamped).otherwise(F.lit(0).cast("long")).cast("int")
    return df.withColumn(out_col, F.transform(F.col(vec_col), code))


def scalar_quantize_stats(df: DataFrame, vec_col: str, bits: int = 8) -> DataFrame:
    """End-to-end scalar-quantization audit, one row per dimension:
    ``(dim, n, vmin, vmax, sum_codes, max_abs_err)`` where
    ``max_abs_err`` is the worst reconstruction error
    ``max |x - (vmin + code*scale)|`` for that dimension. The audit
    deliberately avoids float-sum aggregates (``sum_codes`` is an exact
    integer sum, the error is a max) so the result is bit-stable across
    engines and partitionings — the same evidence design as
    ``cms_error_stats``. Shape: posexplode + two per-dim aggregates
    (both map-side combined); the min/max join back is a broadcast of
    dim rows."""
    levels = float((1 << int(bits)) - 1)
    ex = df.select(F.posexplode(vec_col).alias("dim", "xf")).select(
        "dim", F.col("xf").cast("double").alias("x")
    )
    mm = ex.groupBy("dim").agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
    j = ex.join(F.broadcast(mm), "dim")
    scale = (F.col("vmax") - F.col("vmin")) / F.lit(levels)
    raw = F.floor((F.col("x") - F.col("vmin")) / scale + F.lit(0.5))
    clamped = F.greatest(
        F.lit(0).cast("long"), F.least(F.lit(int(levels)).cast("long"), raw)
    )
    code = F.when(scale > 0, clamped).otherwise(F.lit(0).cast("long"))
    deq = F.when(scale > 0, F.col("vmin") + code * scale).otherwise(F.col("vmin"))
    return (
        j.select(
            "dim", "vmin", "vmax", code.alias("code"), F.abs(F.col("x") - deq).alias("err")
        )
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("vmin"), 6).alias("vmin"),
            F.round(F.first("vmax"), 6).alias("vmax"),
            F.sum("code").alias("sum_codes"),
            F.round(F.max("err"), 9).alias("max_abs_err"),
        )
        .select("dim", "n", "vmin", "vmax", "sum_codes", "max_abs_err")
    )
