"""Tests for the LLM-pipeline operators: dedup, similarity, text stats,
multimodal plumbing."""

import math

import pyspark.sql.functions as F
import pytest

from elephant_twin_spark.operators.pipeline import dedup, multimodal, similarity, textstats
from elephant_twin_spark.sources import tables


@pytest.fixture(scope="module")
def docs(spark, docs_path):
    return tables.load_raw(spark, docs_path).cache()


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """Append exact + near duplicates with known ids."""
    base = docs.limit(5).collect()
    rows = []
    for i, r in enumerate(base):
        rows.append((10_000 + i, r["text"], r["lang"], r["source"], r["n_chars"]))  # exact dup
        toks = r["text"].split()
        toks[0] = "MUTATED"
        rows.append((20_000 + i, " ".join(toks), r["lang"], r["source"], r["n_chars"]))
    extra = spark.createDataFrame(rows, schema=docs.schema)
    return docs.union(extra).cache()


def test_exact_dedup(docs_with_dups, docs):
    n_total = docs_with_dups.count()
    deduped = dedup.exact_dedup(docs_with_dups, "text", "doc_id")
    assert deduped.count() == n_total - 5
    # survivors are the min-id copies: none of the 10_000+ dup ids survive
    assert deduped.where(F.col("doc_id") >= 10_000).where(F.col("doc_id") < 20_000).count() == 0

    groups = dedup.exact_dup_groups(docs_with_dups, "text", "doc_id")
    assert groups.where(F.col("n_dups") == 2).count() == 5


def test_minhash_near_dup(docs_with_dups):
    pairs = dedup.minhash_near_dup_pairs(
        docs_with_dups, "text", "doc_id", num_perm=32, num_bands=8, threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # every exact dup pair must be found (jaccard 1.0)
    for i in range(5):
        orig = docs_with_dups.where(F.col("doc_id") == 10_000 + i).first()
        assert any(b == 10_000 + i for a, b in got), f"missing exact dup {10_000+i}: {sorted(got)[:10]}"
    # jaccard values are in (0, 1]
    assert all(0 < r["jaccard"] <= 1.0 for r in pairs)


def test_simhash_near_dup(docs_with_dups):
    sh = dedup.simhash64(docs_with_dups, "text", "doc_id")
    assert sh.count() == docs_with_dups.count()
    pairs = dedup.simhash_near_dup_pairs(docs_with_dups, "text", "doc_id", max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # exact dups have identical simhash (hamming 0)
    for i in range(5):
        assert any(b == 10_000 + i for a, b in got)


def test_cosine_topk_exact(spark, docs):
    emb = tables.load_raw(spark, docs_path_embeddings())
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    top = similarity.cosine_topk(emb, "embedding", "vec_id", q, k=5).collect()
    assert top[0]["id"] == 0
    assert abs(top[0]["cosine"] - 1.0) < 1e-9
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)

    # cross-check one cosine against numpy
    import numpy as np

    other = top[1]
    v = emb.where(F.col("vec_id") == other["id"]).first()["embedding"]
    want = float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
    assert abs(other["cosine"] - want) < 1e-6


def docs_path_embeddings():
    import tests.conftest as c

    return f"{c.SF_DIR}/embeddings.parquet"


def test_lsh_topk_recall(spark):
    emb = tables.load_raw(spark, docs_path_embeddings()).cache()
    q = emb.where(F.col("vec_id") == 7).first()["embedding"]
    exact = [r["id"] for r in similarity.cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()]
    approx = [
        r["id"]
        for r in similarity.lsh_cosine_topk(
            emb, "embedding", "vec_id", q, k=10, bits=4, multiprobe_hamming=2
        ).collect()
    ]
    # self must be found; recall should be decent with multiprobe
    assert 7 in approx
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"recall {recall}: exact={exact} approx={approx}"


def test_embedding_near_dup_self_join(spark):
    emb = tables.load_raw(spark, docs_path_embeddings()).limit(100)
    # duplicate vec 3 under a new id → must be found as near-dup
    v3 = emb.where(F.col("vec_id") == 3).select(
        F.lit(99_999).cast("long").alias("vec_id"), "embedding", "label"
    )
    both = emb.union(v3)
    pairs = similarity.embedding_near_dup_pairs(both, "embedding", "vec_id", threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (3, 99_999) in got


def test_lsh_bucket_null_vector_drops_out(spark):
    """Documented NULL semantics: a NULL (or NULL-element) vector gets a
    NULL bucket and therefore never pairs in bucket self-joins — it must
    not silently land in bucket 0 next to real rows."""
    from pyspark.sql import Row

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[1.0, 0.0]),
            Row(vec_id=3, embedding=None),
        ],
        "vec_id long, embedding array<double>",
    )
    planes = similarity.random_hyperplanes(dim=2, bits=2)
    b = similarity.with_lsh_bucket(emb, "embedding", planes)
    rows = {r["vec_id"]: r["bucket"] for r in b.collect()}
    assert rows[3] is None
    assert rows[1] == rows[2] is not None
    pairs = similarity.embedding_near_dup_pairs(emb, "embedding", "vec_id", threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}  # the NULL row pairs with nothing


def test_near_dup_null_first_vector_dim_probe(spark):
    """r12 advisor fix: the dimension probe must skip NULL vectors. With
    a NULL vector in the FIRST row, the old probe read size()=-1/NULL and
    either built zero-dim planes (all rows → bucket 0 → quadratic join)
    or raised a spurious mismatch against valid explicit planes."""
    from pyspark.sql import Row

    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=None),  # NULL first — the trap
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    # planes=None: dim inferred from the non-null rows, pair found
    pairs = similarity.embedding_near_dup_pairs(emb, "embedding", "vec_id", threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}
    # explicit valid planes: must NOT raise on the NULL-first input
    planes = similarity.md5_sign_planes(dim=2, bits=2)
    pairs2 = similarity.embedding_near_dup_pairs(
        emb, "embedding", "vec_id", threshold=0.9, planes=planes
    )
    assert {(r["id_a"], r["id_b"]) for r in pairs2.collect()} == {(1, 2)}
    # mismatched explicit planes still fail loudly (r10 guard preserved)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dimension"):
        similarity.embedding_near_dup_pairs(
            emb, "embedding", "vec_id", planes=similarity.md5_sign_planes(dim=5, bits=2)
        )
    # all-NULL vectors + planes=None: empty pair frame, contract schema
    all_null = emb.where(F.col("vec_id") == 0)
    out = similarity.embedding_near_dup_pairs(all_null, "embedding", "vec_id")
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() == 0


def test_quality_and_langid(docs):
    q = textstats.quality_score(docs, "text")
    row = q.first()
    assert 0.0 <= row["quality_score"] <= 1.0
    assert row["n_tokens"] == len(row["text"].split())
    # n_chars matches the fixture's own n_chars column
    bad = q.where(F.col("n_chars_calc") != F.col("n_chars")).count()
    assert bad == 0

    lang = textstats.lang_id(docs, "text")
    # fixture text is english-ish word soup containing 'the'/'a' → en or und
    vals = {r["lang_pred"] for r in lang.select("lang_pred").distinct().collect()}
    assert vals <= {"en", "und", "de", "es", "fr"}


def test_fingerprint_order_invariant(spark, docs):
    d1 = docs.limit(3)
    fp1 = {r["id"]: r["fingerprint"] for r in textstats.fingerprint(d1, "text", "doc_id").collect()}
    # shuffled-token variant has the same fingerprint
    shuffled = d1.withColumn(
        "text", F.concat_ws(" ", F.reverse(F.split("text", r"\s+")))
    )
    fp2 = {r["id"]: r["fingerprint"] for r in textstats.fingerprint(shuffled, "text", "doc_id").collect()}
    assert fp1 == fp2


def test_winnowing_fingerprints(docs):
    fps = textstats.winnowing_fingerprints(docs.limit(10), "text", "doc_id", k=3, window=4)
    rows = fps.collect()
    assert len(rows) > 0
    # per-doc fingerprints are distinct
    import collections

    by_doc = collections.Counter((r["id"], r["fp"]) for r in rows)
    assert all(v == 1 for v in by_doc.values())


def test_multimodal_plumbing(spark, docs_path):
    media = multimodal.synthesize_media_table(spark, docs_path)
    feats = multimodal.decode_image_features(media, fake=True)
    rows = feats.limit(5).collect()
    assert all(len(r["features"]) == 8 for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)
    # deterministic: same content → same sha
    again = feats.limit(5).collect()
    assert [r["sha"] for r in rows] == [r["sha"] for r in again]

    # real decode path: honest NotImplementedError when PIL is absent
    # (when PIL IS importable the real branch runs — covered by
    # test_multimodal_real_decode; on text bytes it raises a PIL error)
    with pytest.raises(Exception) as exc_info:
        multimodal.decode_image_features(media, fake=False).limit(1).collect()
    if not _pil_available():
        assert "NotImplementedError" in str(exc_info.value) or "decode" in str(
            exc_info.value
        )

    frames = multimodal.sample_frames(media.limit(2), every_ms=500)
    assert frames.count() > 2


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_multimodal_real_decode(spark):
    """Exercises the REAL PIL decode/resize branch when PIL is
    importable (skipped in containers without it): a synthetic 6×4 PNG
    round-trips through decode_image_features(fake=False) with geometry
    features matching, and resize_images emits w*h raster bytes."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (6, 4), (120, 30, 200)).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame(
        [(1, png), (2, png)], "media_id long, content binary"
    )
    rows = multimodal.decode_image_features(media, fake=False).collect()
    assert len(rows) == 2
    for r in rows:
        f = r["features"]
        assert len(f) == 8
        assert abs(f[0] - 6 / 65535.0) < 1e-9 and abs(f[1] - 4 / 65535.0) < 1e-9
        assert 0.0 <= f[3] <= 1.0  # mean intensity normalized
    resized = multimodal.resize_images(media, 5, 3, fake=False).collect()
    assert all(len(r["content"]) == 5 * 3 for r in resized)


def test_ivf_topk_exact_when_probing_all(spark):
    emb = tables.load_raw(spark, docs_path_embeddings()).cache()
    q = emb.where(F.col("vec_id") == 7).first()["embedding"]
    cents = similarity.ivf_fit(emb, "embedding", "vec_id", k_clusters=8, max_iter=2)
    assert len(cents) == 8 and all(len(c) == len(q) for c in cents)

    exact = [r["id"] for r in similarity.cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()]
    all_probe = [
        r["id"]
        for r in similarity.ivf_topk(
            emb, "embedding", "vec_id", q, cents, k=10, nprobe=8
        ).collect()
    ]
    assert all_probe == exact  # probing every cluster == brute force

    approx = [
        r["id"]
        for r in similarity.ivf_topk(emb, "embedding", "vec_id", q, cents, k=10, nprobe=2).collect()
    ]
    assert 7 in approx
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3, f"recall {recall}: exact={exact} approx={approx}"

    # pruning is real: probed subset is strictly smaller than the table
    assigned = similarity.ivf_assign(emb, "embedding", cents)
    sizes = {r["cluster"]: r["n"] for r in assigned.groupBy("cluster").agg(F.count("*").alias("n")).collect()}
    assert len(sizes) >= 2, sizes


def test_multimodal_resize_stub(spark, docs_path):
    media = multimodal.synthesize_media_table(spark, docs_path).limit(50)
    out = multimodal.resize_images(media, 16, 8, fake=True)
    rows = out.collect()
    assert len(rows) == 50
    assert all(len(r["content"]) == 16 * 8 for r in rows)
    assert all(r["width"] == 16 and r["height"] == 8 for r in rows)
    with pytest.raises(Exception):
        multimodal.resize_images(media, 4, 4, fake=False).collect()


def test_profile_table(spark, docs_path):
    from elephant_twin_spark.operators.pipeline import profile

    docs = tables.load_raw(spark, docs_path)
    p = {r["column"]: r for r in profile.profile_table(docs, ["lang", "doc_id"]).collect()}
    n = docs.count()
    assert p["lang"]["n"] == n and p["doc_id"]["n"] == n
    assert p["doc_id"]["n_distinct"] == n  # ids unique
    assert p["doc_id"]["n_null"] == 0
    assert p["doc_id"]["min_s"] == "0"
    assert p["lang"]["n_distinct"] == docs.select("lang").distinct().count()

    approx = {
        r["column"]: r
        for r in profile.profile_table(docs, ["doc_id"], approximate=True).collect()
    }
    assert abs(approx["doc_id"]["n_distinct"] - n) <= 0.15 * n


def test_pq_encode_and_adc_topk(spark):
    emb = tables.load_raw(spark, docs_path_embeddings()).cache()
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    m = 8 if dim % 8 == 0 else (4 if dim % 4 == 0 else 2)
    books = similarity.pq_fit(emb, "embedding", "vec_id", m=m, k=16, max_iter=3)
    assert len(books) == m and all(len(b) == 16 for b in books)
    assert all(len(c) == dim // m for b in books for c in b)

    codes = similarity.pq_encode(emb, "embedding", "vec_id", books).cache()
    n = emb.count()
    assert codes.count() == n
    row = codes.first()
    assert len(row["codes"]) == m and all(0 <= c < 16 for c in row["codes"])

    # ADC is a SHORTLIST generator: the query's own row ranks at/near the
    # top, and the exact euclidean top-10 is well captured by ADC-top-100
    q = emb.where(F.col("vec_id") == 7).first()["embedding"]
    top = similarity.pq_topk(codes, q, books, k=10).collect()
    assert 7 in [r["id"] for r in top[:3]]

    import numpy as np

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in emb.collect()}
    qv = np.array(q, dtype=float)
    exact = sorted(vecs, key=lambda i: float(np.sum((vecs[i] - qv) ** 2)))[:10]
    short = [r["id"] for r in similarity.pq_topk(codes, q, books, k=100).collect()]
    assert len(set(exact) & set(short)) / 10 >= 0.6, short[:20]

    # full pipeline: ADC shortlist + exact cosine re-rank ≈ brute force
    got = [r["id"] for r in similarity.pq_search(
        emb, codes, "embedding", "vec_id", q, books, k=10, shortlist=100
    ).collect()]
    exact_cos = [r["id"] for r in similarity.cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()]
    recall = len(set(exact_cos) & set(got)) / 10
    assert got[0] == 7 and recall >= 0.6, f"recall {recall}: exact={exact_cos} got={got}"

    # compression shape: codes are m small ints vs dim floats
    assert m < dim


def test_ivf_pq_search(spark):
    emb = tables.load_raw(spark, docs_path_embeddings()).cache()
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    q = emb.where(F.col("vec_id") == 7).first()["embedding"]
    cents = similarity.ivf_fit(emb, "embedding", "vec_id", k_clusters=8, max_iter=2)
    books = similarity.pq_fit(emb, "embedding", "vec_id", m=8 if dim % 8 == 0 else 4, k=16)
    codes = similarity.pq_encode(emb, "embedding", "vec_id", books)

    got = [
        r["id"]
        for r in similarity.ivf_pq_search(
            emb, "embedding", "vec_id", q, cents, books,
            codes_df=codes, k=10, nprobe=8, shortlist=150,
        ).collect()
    ]
    exact = [r["id"] for r in similarity.cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()]
    assert got[0] == 7
    recall = len(set(exact) & set(got)) / 10
    assert recall >= 0.5, f"recall {recall}: exact={exact} got={got}"


def test_connected_components_matches_union_find(spark):
    import random

    rng = random.Random(7)
    nodes = list(range(60))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(45)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }

    # oracle: plain union-find
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for a, b in edges:
        if a != b:
            want[a] = find(a)
            want[b] = find(b)
    # canonicalize oracle labels to min-of-component
    comp_min = {}
    for n, c in want.items():
        comp_min.setdefault(c, n)
        comp_min[c] = min(comp_min[c], n)
    want = {n: comp_min[find(n)] for n in want}
    assert got == want


def test_connected_components_chain(spark):
    # a path graph is the worst diameter case for min-label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    res = dedup.connected_components(pairs).collect()
    assert {r["component"] for r in res} == {0}
    assert len(res) == 21


def test_near_dup_clusters_end_to_end(docs_with_dups):
    clusters = dedup.near_dup_clusters(
        docs_with_dups, "text", "doc_id", num_perm=32, num_bands=8
    ).cache()
    # each of the 5 seeded groups {base, exact-dup, near-dup} collapses to
    # one cluster whose canonical is the base (min) id
    seeded = clusters.where(F.col("id") >= 10_000)
    assert seeded.where(F.col("is_canonical")).count() == 0
    base_ids = {
        r["cluster_id"] for r in seeded.select("cluster_id").distinct().collect()
    }
    assert len(base_ids) == 5 and all(b < 10_000 for b in base_ids)

    deduped = dedup.near_dup_dedup(
        docs_with_dups, "text", "doc_id", num_perm=32, num_bands=8
    )
    assert deduped.where(F.col("doc_id") >= 10_000).count() == 0
    clusters.unpersist()


def test_containment_catches_embedded_doc(spark, docs):
    """A short doc pasted inside a longer one: containment ≈ 1 while
    Jaccard is low — the asymmetric measure finds what Jaccard misses."""
    base = docs.limit(2).collect()
    long_text = base[0]["text"] + " " + base[1]["text"] + " " + base[0]["text"]
    short_text = base[1]["text"]
    extra = spark.createDataFrame(
        [
            (30_000, long_text, "en", "synthetic", len(long_text)),
            (30_001, short_text, "en", "synthetic", len(short_text)),
        ],
        schema=docs.schema,
    )
    cands = spark.createDataFrame([(30_000, 30_001)], "id_a long, id_b long")
    got = dedup.containment_verify_pairs(
        cands, extra, "text", "doc_id", threshold=0.9
    ).collect()
    assert len(got) == 1
    r = got[0]
    # the short doc is fully contained in the long one (b in a direction)
    assert r["cont_b_in_a"] >= 0.9
    # but plain Jaccard on the same pair is well below near-dup range
    sh = extra.select(dedup.word_shingles(F.col("text"), 3).alias("sh")).collect()
    jac = spark.createDataFrame(
        [(sh[0]["sh"], sh[1]["sh"])], "a array<string>, b array<string>"
    ).select(dedup.shingle_jaccard(F.col("a"), F.col("b"))).first()[0]
    assert jac < 0.8


def test_char_entropy(spark, docs):
    import math
    from collections import Counter

    got = {
        r["doc_id"]: r["char_entropy"]
        for r in textstats.char_entropy(docs.limit(20), "text").collect()
    }
    for r in docs.limit(20).collect():
        cnt = Counter(r["text"])
        n = sum(cnt.values())
        want = -sum((c / n) * math.log(c / n) for c in cnt.values())
        assert abs(got[r["doc_id"]] - want) < 1e-9

    edge = spark.createDataFrame(
        [(1, "aaaa"), (2, "abcd"), (3, "")], "doc_id long, text string"
    )
    e = {r["doc_id"]: r["char_entropy"] for r in textstats.char_entropy(edge, "text").collect()}
    assert e[1] == 0.0            # constant string: zero entropy
    assert abs(e[2] - 1.3862943611198906) < 1e-12  # ln(4), uniform
    assert e[3] == 0.0            # empty string guarded


def test_knn_join_exact(spark):
    emb = tables.load_raw(spark, f"{__import__('conftest').SF_DIR}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 5)
    got = similarity.knn_join(
        qs, emb, "vec_id", "embedding", "vec_id", "embedding", k=5
    ).collect()
    assert len(got) == 5 * 5
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    import math

    corpus = [
        (r["vec_id"], [float(x) for x in r["embedding"]]) for r in emb.collect()
    ]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    qvecs = {i: v for i, v in corpus if i < 5}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        want = sorted(
            ((cid, cos(qvecs[qid], cv)) for cid, cv in corpus),
            key=lambda t: (-t[1], t[0]),
        )[:5]
        assert [r["id"] for r in rows] == [c for c, _ in want]
        # the query itself is rank 1 at cosine ~1
        assert rows[0]["id"] == qid and abs(rows[0]["cosine"] - 1.0) < 1e-9


def test_ivf_knn_join_recall(spark):
    emb = tables.load_raw(spark, f"{__import__('conftest').SF_DIR}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 10)
    exact = similarity.knn_join(
        qs, emb, "vec_id", "embedding", "vec_id", "embedding", k=5
    ).collect()
    approx = similarity.ivf_knn_join(
        qs, emb, "vec_id", "embedding", "vec_id", "embedding",
        k=5, nlist=8, nprobe=4, max_iter=3,
    ).collect()
    want = {(r["query_id"], r["id"]) for r in exact}
    got = {(r["query_id"], r["id"]) for r in approx}
    assert len(got) == len(want) == 50
    recall = len(got & want) / len(want)
    assert recall >= 0.7, recall
    # probing ALL clusters must recover the exact answer
    full = similarity.ivf_knn_join(
        qs, emb, "vec_id", "embedding", "vec_id", "embedding",
        k=5, nlist=8, nprobe=8, max_iter=3,
    ).collect()
    assert {(r["query_id"], r["id"]) for r in full} == want


def test_paragraph_dedup(spark):
    rows = [
        (1, "alpha one\n\nshared para\n\nbeta two"),
        (2, "shared para\n\ngamma three"),      # 'shared para' seen in doc 1
        (3, "shared para"),                      # everything duplicated
        (4, "gamma three\n\ngamma three"),       # internal + cross-doc dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in dedup.paragraph_dedup(df, "text", "doc_id").collect()
    }
    assert out[1] == "alpha one\n\nshared para\n\nbeta two"  # first keeps all
    assert out[2] == "gamma three"
    assert out[3] == ""
    assert out[4] == ""  # gamma three first occurred in doc 2

    # global invariant: every distinct span survives exactly once
    import itertools

    kept_spans = list(
        itertools.chain.from_iterable(
            t.split("\n\n") for t in out.values() if t
        )
    )
    all_spans = set(
        itertools.chain.from_iterable(t.split("\n\n") for _, t in rows)
    )
    assert sorted(kept_spans) == sorted(all_spans)


def test_repetition_ratio(spark, docs):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # all distinct 3-grams
            (2, "x y z x y z x y z"),    # heavy internal repetition
            (3, "one"),                  # shorter than n
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["dup_ngram_ratio"]
        for r in textstats.repetition_ratio(df, "text", n=3).collect()
    }
    assert got[1] == 0.0
    # 7 grams, 3 distinct -> 1 - 3/7
    assert abs(got[2] - (1 - 3 / 7)) < 1e-12
    assert got[3] == 0.0
    # corpus docs: ratio in [0,1)
    vals = [
        r["dup_ngram_ratio"]
        for r in textstats.repetition_ratio(docs.limit(50), "text").collect()
    ]
    assert all(0.0 <= v < 1.0 for v in vals)


def test_ann_index_persisted(spark, workdir):
    """Persisted IVF index: build once, search many; probing all
    clusters recovers the exact brute-force answer; probed search
    reads only the probed cluster partitions."""
    from elephant_twin_spark import Engine

    emb_path = f"{__import__('conftest').SF_DIR}/embeddings.parquet"
    emb = tables.load_raw(spark, emb_path)
    eng = Engine(spark, f"{workdir}/ann_root")
    eng.build_ann_index(emb_path, "embedding", "vec_id", nlist=8, max_iter=3)
    ai = eng.ann_index(emb_path, "embedding")
    assert ai.stale_files() == []

    qvec = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    exact = [
        r["id"]
        for r in similarity.cosine_topk(emb, "embedding", "vec_id", qvec, k=5).collect()
    ]
    full = [r["id"] for r in ai.topk(qvec, k=5, nprobe=8).collect()]
    assert full == exact

    probed = ai.topk(qvec, k=5, nprobe=2)
    # partition pruning: the scan only touches the probed cluster dirs
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan
    got = {r["id"] for r in probed.collect()}
    assert len(got) == 5
    recall = len(got & set(exact)) / 5
    assert recall >= 0.4, recall  # 2 of 8 probes on tiny clusters


def test_ann_index_knn_join(spark, workdir):
    """Batch search against the persisted index: full-probe equals the
    exact knn_join; partial probe keeps k rows per query."""
    from elephant_twin_spark import Engine

    emb_path = f"{__import__('conftest').SF_DIR}/embeddings.parquet"
    emb = tables.load_raw(spark, emb_path)
    eng = Engine(spark, f"{workdir}/ann_join_root")
    eng.build_ann_index(emb_path, "embedding", "vec_id", nlist=8, max_iter=3)
    ai = eng.ann_index(emb_path, "embedding")

    qs = emb.where(F.col("vec_id") < 6)
    exact = similarity.knn_join(
        qs, emb, "vec_id", "embedding", "vec_id", "embedding", k=4
    ).collect()
    full = ai.knn_join(qs, "vec_id", "embedding", k=4, nprobe=8).collect()
    assert {(r["query_id"], r["id"], r["rank"]) for r in full} == {
        (r["query_id"], r["id"], r["rank"]) for r in exact
    }
    part = ai.knn_join(qs, "vec_id", "embedding", k=4, nprobe=2).collect()
    by_q = {}
    for r in part:
        by_q.setdefault(r["query_id"], set()).add(r["id"])
    assert set(by_q) == set(range(6)) and all(len(v) == 4 for v in by_q.values())
    # self-match always survives partial probing (its cluster is probed first)
    assert all(q in ids for q, ids in by_q.items())


def test_clean_corpus_end_to_end(spark, docs_with_dups):
    from elephant_twin_spark.operators.pipeline import clean

    base = docs_with_dups
    extra = spark.createDataFrame(
        [(40_000, "tiny doc", "en", "synthetic", 8)], schema=base.schema
    )
    df = base.union(extra)
    cleaned, audit = clean.clean_corpus(
        df, "text", "doc_id", min_tokens=10, allowed_langs=("en",),
        num_perm=32, num_bands=8,
    )
    audit_rows = {r["doc_id"]: r["reason"] for r in audit.collect()}
    # audit covers every input exactly once
    assert len(audit_rows) == df.count()
    assert audit_rows[40_000] == "too_short"
    # the exact copies (10_000..) lose to their base doc
    exact_dup_ids = {i for i, r in audit_rows.items() if r == "exact_dup"}
    assert exact_dup_ids == {10_000 + i for i in range(5)}
    # the mutated copies (20_000..) never survive: near-dup of their base,
    # unless the mutated first token flipped an earlier gate (first stage
    # wins by design — e.g. replacing a stopword flips the lang heuristic)
    for i in range(5):
        assert audit_rows[20_000 + i] in ("near_dup", "lang"), audit_rows[20_000 + i]
    assert sum(audit_rows[20_000 + i] == "near_dup" for i in range(5)) >= 3
    # non-English docs dropped by the lang gate
    lang_dropped = {i for i, r in audit_rows.items() if r == "lang"}
    assert len(lang_dropped) > 0
    # cleaned == kept audit rows, and survivors are unique content
    kept = {i for i, r in audit_rows.items() if r is None}
    assert {r["doc_id"] for r in cleaned.collect()} == kept
    assert 40_000 not in kept and kept


def test_edit_distance_join_matches_bruteforce(spark):
    from elephant_twin_spark.operators.pipeline import strings

    part = tables.load_raw(spark, f"{__import__('conftest').SF_DIR}/part.parquet")
    names = part.select("p_name")
    got = {
        (r["p_name_a"], r["p_name_b"], r["dist"])
        for r in strings.edit_distance_join(names, names, "p_name", "p_name", max_edits=2)
        .where(F.col("p_name_a") < F.col("p_name_b"))
        .collect()
    }
    # brute force over distinct names (tiny domain)
    vals = [r["p_name"] for r in names.distinct().collect()]

    def ed(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {
        (a, b, ed(a, b))
        for a in vals
        for b in vals
        if a < b and ed(a, b) <= 2
    }
    assert got == want and len(want) > 10


def test_edit_distance_join_short_strings(spark):
    """Strings below the q-gram bound still pair via the length band."""
    from elephant_twin_spark.operators.pipeline import strings

    a = spark.createDataFrame([("ab",), ("abc",), ("xyzzy",)], "s string")
    b = spark.createDataFrame([("ac",), ("abcd",), ("xyzzy",)], "t string")
    got = {
        (r["s"], r["t"], r["dist"])
        for r in strings.edit_distance_join(a, b, "s", "t", max_edits=1).collect()
    }
    assert ("ab", "ac", 1) in got        # short-short
    assert ("abc", "abcd", 1) in got     # short vs just-long-enough
    assert ("xyzzy", "xyzzy", 0) in got  # long-long exact


def test_stratified_take(spark, docs):
    out = textstats.stratified_take(docs, "lang", "doc_id", 10)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    full = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(10, full[lang])
    # deterministic: same subset both runs
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {r["doc_id"] for r in textstats.stratified_take(docs, "lang", "doc_id", 10).collect()}
    assert ids1 == ids2


def test_cooccurrence_pmi(spark, workdir, docs_path):
    from elephant_twin_spark import Engine
    from elephant_twin_spark.operators import text as text_mod

    eng = Engine(spark, f"{workdir}/pmi_root")
    eng.build_text_index(docs_path, "text", "doc_id")
    ti = eng.text_index(docs_path, "text")
    n_docs = int(ti.desc.options["n_docs"])
    out = text_mod.cooccurrence_pmi(ti.postings(), n_docs, min_df=20).collect()
    assert len(out) > 0
    import math

    # spot-check one pair against direct per-doc computation
    r = out[0]
    docs_df = tables.load_raw(spark, docs_path)
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    n_a = docs_df.where(F.array_contains(toks, r["term_a"])).count()
    n_b = docs_df.where(F.array_contains(toks, r["term_b"])).count()
    n_ab = docs_df.where(
        F.array_contains(toks, r["term_a"]) & F.array_contains(toks, r["term_b"])
    ).count()
    assert (r["n_a"], r["n_b"], r["n_ab"]) == (n_a, n_b, n_ab)
    assert abs(r["pmi"] - math.log(n_docs * n_ab / (n_a * n_b))) < 1e-9
    # ordered pairs, no self-pairs
    assert all(x["term_a"] < x["term_b"] for x in out)


def test_near_dup_clusters_prefer_quality(spark, docs):
    """With prefer_col, the cluster canonical is the best-scored copy,
    not the min id."""
    base = docs.limit(3).collect()
    rows = []
    for i, r in enumerate(base):
        # near-dup copy with a HIGHER score than its base
        toks = r["text"].split()
        toks[-1] = "TWEAKED"
        rows.append((50_000 + i, " ".join(toks), r["lang"], r["source"], r["n_chars"]))
    df = docs.union(spark.createDataFrame(rows, schema=docs.schema)).withColumn(
        "score",
        F.when(F.col("doc_id") >= 50_000, F.lit(9.0)).otherwise(F.lit(1.0)),
    )
    cl = dedup.near_dup_clusters(
        df, "text", "doc_id", num_perm=32, num_bands=8, prefer_col="score"
    )
    rows_by_id = {r["id"]: r for r in cl.collect()}
    assert len(rows_by_id) == df.count()
    for i, r in enumerate(base):
        copy = rows_by_id[50_000 + i]
        orig = rows_by_id[r["doc_id"]]
        assert copy["cluster_id"] == orig["cluster_id"]
        assert copy["is_canonical"] and not orig["is_canonical"]
    # exactly one canonical per cluster
    from collections import Counter

    canon = Counter(r["cluster_id"] for r in rows_by_id.values() if r["is_canonical"])
    clusters = {r["cluster_id"] for r in rows_by_id.values()}
    assert set(canon) == clusters and all(v == 1 for v in canon.values())


def test_lsh_bucket_cap(spark, docs_with_dups):
    sigs = dedup.minhash_signatures(docs_with_dups, "text", "doc_id", num_perm=32)
    uncapped = dedup.lsh_candidate_pairs(sigs, num_perm=32, num_bands=8)
    # the planted groups are (base, exact copy, near copy) triplets, so
    # their shared buckets have size 3 — a cap of 3 keeps them
    capped = dedup.lsh_candidate_pairs(sigs, num_perm=32, num_bands=8, max_bucket_size=3)
    u = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    c = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # capped candidates are a subset
    assert c <= u
    for i in range(5):
        assert any(b == 10_000 + i for _, b in c), f"exact dup {10_000+i} lost"
    # a cap of 2 drops exactly those triplet buckets
    c2 = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(
            sigs, num_perm=32, num_bands=8, max_bucket_size=2
        ).collect()
    }
    assert c2 < c
    # cap=0 drops everything
    assert dedup.lsh_candidate_pairs(sigs, num_perm=32, num_bands=8, max_bucket_size=0).count() == 0


def test_edge_cases_new_operators(spark):
    """Empty/null/degenerate inputs across the session's new operators."""
    from elephant_twin_spark.operators.pipeline import clean, strings
    from elephant_twin_spark.operators import layout, sessionize

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    # connected components on no pairs
    no_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(no_pairs).count() == 0
    # paragraph dedup on empty input
    assert dedup.paragraph_dedup(empty_docs, "text", "doc_id").count() == 0
    # clean_corpus on empty corpus: empty audit, empty cleaned
    cleaned, audit = clean.clean_corpus(empty_docs, "text", "doc_id", near_dup=False)
    assert cleaned.count() == 0 and audit.count() == 0
    # edit-distance join ignores nulls
    withnull = spark.createDataFrame([("abcd",), (None,)], "s string")
    out = strings.edit_distance_join(withnull, withnull, "s", "s", max_edits=1)
    assert {(r["s_a"], r["s_b"]) for r in out.collect()} == {("abcd", "abcd")}
    # funnel with a user having no events of any stage type
    one = spark.createDataFrame(
        [(1, __import__("datetime").datetime(2024, 1, 1), "other")],
        "user_id long, ts timestamp, event_type string",
    )
    got = sessionize.funnel(one, "user_id", "ts", "event_type", ["view"]).collect()
    assert got[0]["stage_reached"] == 0
    # repetition ratio on empty string
    es = spark.createDataFrame([(1, "")], "doc_id long, text string")
    assert textstats.repetition_ratio(es, "text").first()["dup_ngram_ratio"] == 0.0
    assert textstats.char_entropy(es, "text").first()["char_entropy"] == 0.0


def test_per_group_cap_deterministic_and_bounded(spark):
    from conftest import SF_DIR

    from elephant_twin_spark.operators.pipeline import quota

    docs = tables.load_raw(spark, f"{SF_DIR}/documents.parquet")
    capped = quota.per_group_cap(docs, "source", cap=3, order_col="n_chars", id_col="doc_id")
    per = {r["source"]: r["n"] for r in capped.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per and all(n <= 3 for n in per.values())
    # deterministic: same result twice
    a = sorted(r["doc_id"] for r in capped.collect())
    b = sorted(r["doc_id"] for r in quota.per_group_cap(
        docs, "source", cap=3, order_col="n_chars", id_col="doc_id").collect())
    assert a == b
    # keeps the longest docs: every kept doc >= every dropped doc per group
    kept = capped.select("source", F.col("n_chars").alias("k"))
    dropped = docs.join(capped.select("doc_id"), "doc_id", "left_anti").select(
        "source", F.col("n_chars").alias("d")
    )
    viol = (
        kept.groupBy("source").agg(F.min("k").alias("min_k"))
        .join(dropped.groupBy("source").agg(F.max("d").alias("max_d")), "source")
        .where(F.col("max_d") > F.col("min_k"))
    )
    assert viol.count() == 0


def test_semantic_dedup_within_cluster_only(spark):
    """SemDeDup pairs must (a) find a planted duplicate, (b) never pair
    across clusters, (c) bound the comparison to cluster-local pairs."""
    from pyspark.sql import Row

    # two well-separated clusters + a planted near-duplicate in cluster 0
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.99, 0.01, 0.0]),   # near-dup of 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.98, 0.02]),   # near-dup of 2
        Row(vec_id=4, embedding=[0.6, 0.55, 0.0]),    # between, assigned once
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    got = similarity.semantic_dedup_pairs(df, "embedding", "vec_id", cents, 0.95)
    pairs = {(r["id_a"], r["id_b"]): r["cluster"] for r in got.collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0
    assert (2, 3) in pairs and pairs[(2, 3)] == 1
    # cross-cluster near-orthogonal pairs never appear
    assert all(a != 2 or b != 0 for a, b in pairs)
    for (a, b), cl in pairs.items():
        assert cl in (0, 1)


def test_star_edge_mode_same_components(docs_with_dups):
    """edge_mode='star' must collapse the planted duplicate groups into
    the same clusters the all-pairs graph finds (the planted dups all
    clear the threshold against their bucket hub)."""
    def comps(mode):
        out = dedup.near_dup_clusters(
            docs_with_dups, "text", "doc_id",
            num_perm=32, num_bands=8, threshold=0.5, edge_mode=mode,
        )
        return {r["id"]: r["cluster_id"] for r in out.collect()}

    all_pairs, star = comps("all_pairs"), comps("star")
    # identical partitions: same ids co-clustered (labels may differ)
    from collections import defaultdict

    def partition(m):
        g = defaultdict(set)
        for k, v in m.items():
            g[v].add(k)
        return {frozenset(s) for s in g.values()}

    assert partition(all_pairs) == partition(star)


def test_md5_sign_planes_deterministic_and_pm1():
    from elephant_twin_spark.operators.pipeline import similarity

    p1 = similarity.md5_sign_planes(8, 4, seed=42)
    p2 = similarity.md5_sign_planes(8, 4, seed=42)
    assert p1 == p2
    assert {x for row in p1 for x in row} <= {1.0, -1.0}
    assert similarity.md5_sign_planes(8, 4, seed=7) != p1


def test_ann_recall_audit_exhaustive_settings_give_full_recall(spark):
    """With nprobe = #clusters and shortlist >= corpus the approximate
    methods degenerate to exact search, so every recall must be 1.0 —
    pins the hit accounting itself (not the approximation quality)."""
    from elephant_twin_spark.operators.pipeline import similarity
    from elephant_twin_spark.sources import tables

    emb = tables.load_raw(spark, "/root/testdata/sf0.001/embeddings.parquet")
    base = [
        [float(x) for x in r["embedding"]]
        for r in emb.where("vec_id < 16").orderBy("vec_id").collect()
    ]
    w = len(base[0]) // 4
    books = [[v[s * w : (s + 1) * w] for v in base] for s in range(4)]
    n_corpus = emb.count()
    out = similarity.ann_recall_audit(
        emb, "embedding", "vec_id", [0, 1, 2], base[:8], books,
        k=5, bits=4, nprobe_ivf=8, nprobe_ivfpq=8,
        shortlist=n_corpus, multiprobe_hamming=4,  # probe every bucket
    )
    rows = {r["method"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"lsh", "ivf", "pq", "ivf_pq"}
    for m, r in rows.items():
        assert r["n_queries"] == 3
        assert r["total_hits"] == 15 and r["min_hits"] == 5, (m, r)
        assert r["mean_recall"] == 1.0
