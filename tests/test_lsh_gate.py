"""Persisted LSH bucket index + batch/streaming near-dup ingest gate."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from elephant_twin_spark.engine import Engine
from elephant_twin_spark.operators.pipeline import textstats

PARAMS = dict(num_perm=8, num_bands=4, shingle_k=2)


def _corpus(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=2, text="spark shuffles data between stages across the cluster"),
            Row(doc_id=3, text="completely different content about parquet row groups"),
        ]
    )


@pytest.fixture(scope="module")
def lsh_setup(spark, workdir):
    corpus_path = f"{workdir}/lsh_corpus"
    _corpus(spark).write.mode("overwrite").parquet(corpus_path)
    eng = Engine(spark, f"{workdir}/lsh_idx_root")
    eng.build_lsh_index(corpus_path, "text", "doc_id", **PARAMS)
    return eng, corpus_path


def test_gate_flags_near_dup_and_passes_novel(spark, lsh_setup):
    eng, corpus_path = lsh_setup
    idx = eng.lsh_index(corpus_path, "text")
    incoming = spark.createDataFrame(
        [
            # near-dup of doc 1 (one word changed)
            Row(doc_id=100, text="the quick brown fox jumps over the lazy cat today"),
            # novel
            Row(doc_id=101, text="vectorized parquet reads keep expressions in codegen"),
        ]
    )
    out = {r["doc_id"]: r for r in idx.gate(incoming, "text", "doc_id", threshold=0.5).collect()}
    assert out[100]["is_near_dup"] and out[100]["dup_of"] == 1
    assert not out[101]["is_near_dup"] and out[101]["dup_of"] is None


def test_gate_exact_copy_always_flagged(spark, lsh_setup):
    eng, corpus_path = lsh_setup
    idx = eng.lsh_index(corpus_path, "text")
    copy = spark.read.parquet(corpus_path).where(F.col("doc_id") == 2).select(
        F.lit(200).alias("doc_id"), "text"
    )
    row = idx.gate(copy, "text", "doc_id", threshold=0.9).collect()[0]
    assert row["is_near_dup"] and row["dup_of"] == 2


# ------------------------------------------- gate: driver vs distributed

_BASE = "the quick brown fox jumps over the lazy dog near the river bank"
_GATE_CORPUS = [
    (1, _BASE),
    (2, _BASE.replace("river", "creek")),  # near 1: dup_of takes the min id
    (3, "spark shuffles data between stages across the cluster every night"),
    (4, "completely different content about parquet row groups and footers"),
    (5, None),
    (6, "vectorized readers keep whole expressions inside generated code paths"),
]
# grown rows: bands appended after the build, text only in extra_corpus
_GATE_GROWN = [(500, "adaptive execution splits skewed shuffle partitions at runtime")]
_GATE_PROBE = [
    (100, _BASE.replace("lazy", "sleepy")),  # near 1 and 2
    (101, "nothing like anything in the corpus at all here today"),
    (102, _GATE_CORPUS[2][1]),  # duplicate id: a copy of 3 ...
    (102, "a second novel text under a repeated probe id value"),  # ... and a novel row
    (None, _BASE),  # NULL id: matches nothing
    (103, None),  # NULL text: matches nothing
    (6, _GATE_CORPUS[5][1]),  # copy of the corpus doc with its own id: not a dup
    (4, _BASE),  # id of a corpus doc, text of another
    (104, _GATE_GROWN[0][1]),  # a copy of the grown doc
]
_GATE_THRESHOLD = 0.5


def _brute_force_gate(probe, corpus, k=2, t=_GATE_THRESHOLD):
    """Expected ``(id, text, dup_of, is_near_dup)`` rows: exact shingle
    Jaccard of every probe row against every corpus doc. Every pair
    above the threshold is a copy or a one-word edit that shares an LSH
    bucket under both hash functions, so the gate must find exactly
    these."""
    import re

    def shingles(text):
        toks = re.findall(r"\S+", text)
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}

    best = {}
    for pid, ptext in probe:
        if pid is None or ptext is None:
            continue
        a = shingles(ptext)
        for cid, ctext in corpus:
            b = shingles(ctext) if ctext is not None else None
            if b and cid != pid and len(a & b) / len(a | b) >= t:
                best[pid] = min(best.get(pid, cid), cid)
    return sorted(
        ((pid, text, best.get(pid), pid in best) for pid, text in probe),
        key=repr,
    )


@pytest.fixture(scope="module")
def gate_indexes(spark, workdir):
    """One corpus, one LSH index per band hash function, each grown by
    the same appended documents."""
    corpus_path = f"{workdir}/gate_paths_corpus"
    spark.createDataFrame(_GATE_CORPUS, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(corpus_path)
    grown = spark.createDataFrame(_GATE_GROWN, "doc_id long, text string")
    out = {}
    for hash_fn in ("xxhash64", "md5"):
        eng = Engine(spark, f"{workdir}/gate_paths_{hash_fn}")
        eng.build_lsh_index(corpus_path, "text", "doc_id", hash_fn=hash_fn, **PARAMS)
        idx = eng.lsh_index(corpus_path, "text")
        idx.append_docs(grown, "text", "doc_id", batch_tag="t0")
        out[hash_fn] = idx
    return out, grown


def _run_gate(idx, probe, **kw):
    """(sorted rows, schema, pinned) of one gate call consumed inside
    its own checkpoint scope."""
    from elephant_twin_spark.operators import lifecycle

    with lifecycle.checkpoint_scope() as pins:
        out = idx.gate(probe, "text", "doc_id", threshold=_GATE_THRESHOLD, **kw)
        rows = sorted(map(tuple, out.collect()), key=repr)
    return rows, out.schema, bool(pins)


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_gate_driver_and_distributed_paths_match_brute_force(
    spark, gate_indexes, hash_fn, monkeypatch
):
    """Within the bounds the gate runs on the driver and pins nothing;
    forced past them (a zero probe budget) it runs the pinned
    distributed joins. Both paths return the same rows, column names,
    types and order as a brute-force Jaccard, with and without
    extra_corpus and probe_sigs. (The semi-join fallback is compared
    with the other paths in test_r17_optimization.py.)"""
    from elephant_twin_spark.operators import lsh
    from elephant_twin_spark.operators.pipeline import dedup

    indexes, grown = gate_indexes
    idx = indexes[hash_fn]
    probe = spark.createDataFrame(_GATE_PROBE, "doc_id long, text string")
    sigs = dedup._shingled_signatures(
        probe, "text", "doc_id", idx.num_perm, idx.shingle_k, idx.hash_fn
    )
    variants = {
        "plain": ({}, _GATE_CORPUS),
        "extra_corpus+probe_sigs": (
            dict(extra_corpus=grown, probe_sigs=sigs), _GATE_CORPUS + _GATE_GROWN
        ),
    }
    for name, (kw, corpus) in variants.items():
        expected = _brute_force_gate(_GATE_PROBE, corpus)
        rows, schema, pinned = _run_gate(idx, probe, **kw)
        assert not pinned, name
        assert rows == expected, (name, rows)
        assert schema.names == ["doc_id", "text", "dup_of", "is_near_dup"]
        with monkeypatch.context() as mp:
            mp.setattr(lsh, "_IN_LIST_ROWS", 0)
            d_rows, d_schema, d_pinned = _run_gate(idx, probe, **kw)
        assert d_pinned and d_rows == rows and d_schema == schema, name


def test_gate_mixed_id_types_fall_back_to_distributed(spark, gate_indexes):
    """int probe ids against a bigint corpus: Python equality would
    match Spark's here, but the driver path takes only one shared id
    type, so the gate runs its distributed path, with the same rows."""
    indexes, _ = gate_indexes
    probe = spark.createDataFrame(
        [(i, t) for i, t in _GATE_PROBE if i is not None], "doc_id int, text string"
    )
    rows, schema, pinned = _run_gate(indexes["xxhash64"], probe)
    assert pinned and schema["doc_id"].dataType.simpleString() == "int"
    expected = _brute_force_gate([p for p in _GATE_PROBE if p[0] is not None], _GATE_CORPUS)
    assert rows == expected


def test_gate_driver_result_outlives_its_scope(spark, gate_indexes):
    """The driver path's result is a projection of the probe with no
    checkpoint behind it: it pins nothing and is still readable after
    the scope it was made in has exited."""
    from elephant_twin_spark.operators import lifecycle

    indexes, _ = gate_indexes
    probe = spark.createDataFrame(_GATE_PROBE[:2], "doc_id long, text string")
    with lifecycle.checkpoint_scope() as pins:
        out = indexes["xxhash64"].gate(probe, "text", "doc_id", threshold=_GATE_THRESHOLD)
    assert pins == []
    got = {r["doc_id"]: r["dup_of"] for r in out.collect()}
    assert got == {100: 1, 101: None}


def test_index_params_come_from_descriptor(spark, lsh_setup):
    eng, corpus_path = lsh_setup
    idx = eng.lsh_index(corpus_path, "text")
    assert (idx.num_perm, idx.num_bands, idx.shingle_k) == (8, 4, 2)
    assert idx.stale_files() == []
    # band table has num_bands rows per doc
    assert idx.bands().count() == 3 * 4


def test_stale_file_surfaced(spark, workdir):
    corpus_path = f"{workdir}/lsh_stale_corpus"
    _corpus(spark).write.mode("overwrite").parquet(corpus_path)
    eng = Engine(spark, f"{workdir}/lsh_stale_root")
    eng.build_lsh_index(corpus_path, "text", "doc_id", **PARAMS)
    spark.createDataFrame([Row(doc_id=9, text="late arriving document")]).write.mode(
        "append"
    ).parquet(corpus_path)
    assert eng.lsh_index(corpus_path, "text").stale_files() != []


def test_streaming_gate_dedups_across_batches(spark, workdir):
    """Batch 2 contains a near-dup of a batch-1 survivor: with grow=True
    it must be rejected even though neither doc is in the seed corpus."""
    from elephant_twin_spark.streaming.gate import stream_near_dup_gate

    corpus_path = f"{workdir}/lsh_sg_corpus"
    _corpus(spark).write.mode("overwrite").parquet(corpus_path)
    eng = Engine(spark, f"{workdir}/lsh_sg_root")
    eng.build_lsh_index(corpus_path, "text", "doc_id", **PARAMS)
    idx = eng.lsh_index(corpus_path, "text")

    src = f"{workdir}/lsh_sg_src"
    novel1 = "adaptive query execution splits skewed shuffle partitions at runtime"
    spark.createDataFrame(
        [
            Row(doc_id=300, text=novel1),
            # intra-batch near-dup of 300 -> rejected, dup_of=300
            Row(doc_id=301, text=novel1.replace("runtime", "planning")),
        ]
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    accepted = f"{workdir}/lsh_sg_accepted"
    rejected = f"{workdir}/lsh_sg_rejected"
    stream_near_dup_gate(
        stream, idx, "text", "doc_id", accepted, f"{workdir}/lsh_sg_ck1",
        threshold=0.5, rejected_path=rejected,
    )
    acc1 = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert acc1 == {300}
    rej1 = {r["doc_id"]: r["dup_of"] for r in spark.read.parquet(rejected).collect()}
    assert rej1 == {301: 300}

    # second batch: near-dup of batch-1 survivor 300, plus a corpus dup
    src2 = f"{workdir}/lsh_sg_src2"
    spark.createDataFrame(
        [
            Row(doc_id=400, text=novel1 + " extra"),
            Row(doc_id=401, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=402, text="entirely novel text about watermark driven state eviction"),
        ]
    ).write.mode("overwrite").parquet(src2)
    stream2 = spark.readStream.schema(schema).parquet(src2)
    stream_near_dup_gate(
        stream2, idx, "text", "doc_id", accepted, f"{workdir}/lsh_sg_ck2",
        threshold=0.5, rejected_path=rejected,
    )
    acc = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert acc == {300, 402}
    rej = {r["doc_id"]: r["dup_of"] for r in spark.read.parquet(rejected).collect()}
    assert rej[400] == 300 and rej[401] == 1


def test_refresh_lsh_index_incremental(spark, workdir):
    """New source file → its docs become gate-visible after refresh;
    streaming-grown rows survive the refresh."""
    from elephant_twin_spark.streaming.refresh import refresh_lsh_index

    corpus_path = f"{workdir}/lsh_rf_corpus"
    _corpus(spark).write.mode("overwrite").parquet(corpus_path)
    eng = Engine(spark, f"{workdir}/lsh_rf_root")
    eng.build_lsh_index(corpus_path, "text", "doc_id", **PARAMS)
    idx = eng.lsh_index(corpus_path, "text")

    grown_text = "streaming grown survivor text about broadcast thresholds"
    idx.append_docs(
        spark.createDataFrame([Row(doc_id=500, text=grown_text)]), "text", "doc_id"
    )

    late_text = "watermark driven state eviction bounds the streaming store"
    spark.createDataFrame([Row(doc_id=4, text=late_text)]).write.mode("append").parquet(
        corpus_path
    )
    assert idx.stale_files() != []
    res = refresh_lsh_index(spark, corpus_path, "text", f"{workdir}/lsh_rf_root")
    assert res["mode"] == "incremental" and res["files_indexed"] >= 1

    idx2 = eng.lsh_index(corpus_path, "text")
    assert idx2.stale_files() == []
    # grown row still present after rewrite
    assert idx2.bands().where(F.col("file") == "__grown__").count() == PARAMS["num_bands"]
    # a near-dup of the late-arriving doc is now flagged
    probe = spark.createDataFrame(
        [Row(doc_id=600, text=late_text.replace("bounds", "caps"))]
    )
    row = idx2.gate(probe, "text", "doc_id", threshold=0.5).collect()[0]
    assert row["is_near_dup"] and row["dup_of"] == 4
    # noop on second call
    assert refresh_lsh_index(spark, corpus_path, "text", f"{workdir}/lsh_rf_root")["mode"] == "noop"


def test_verify_all_includes_lsh(spark, lsh_setup):
    eng, corpus_path = lsh_setup
    res = eng.verify_all(corpus_path)
    assert res[("lsh", "text")] == 0
    kinds = {k for k, _ in res}
    assert "lsh" in kinds
    # stats surfaces the lsh kind too
    st = [s for s in eng.stats(corpus_path) if s["kind"] == "lsh"]
    assert st and st[0]["column"] == "text" and st[0]["stale_or_new_files"] == 0


def test_top_fraction_exact_and_approx(spark):
    rows = [
        Row(grp="a", id=i, score=float(i)) for i in range(10)
    ] + [Row(grp="b", id=100 + i, score=float(i)) for i in range(4)]
    df = spark.createDataFrame(rows)
    kept = textstats.top_fraction(
        df, "score", 0.3, group_cols=["grp"], id_col="id"
    )
    got = {(r["grp"], r["id"]) for r in kept.collect()}
    # a: ceil(10*0.3)=3 best scores 9,8,7 ; b: ceil(4*0.3)=2 best 3,2
    assert got == {("a", 9), ("a", 8), ("a", 7), ("b", 103), ("b", 102)}

    approx = textstats.top_fraction(df, "score", 0.3, group_cols=["grp"], approx=True)
    ga = {(r["grp"], r["id"]) for r in approx.collect()}
    # approx keeps at least the exact winners on tiny data
    assert got <= ga and len(ga) <= 7

    # ungrouped exact: top 20% of 14 rows = 3 rows
    top = textstats.top_fraction(df, "score", 0.2, id_col="id")
    assert top.count() == 3


def test_top_fraction_rejects_bad_args(spark):
    df = spark.createDataFrame([Row(id=1, score=1.0)])
    with pytest.raises(ValueError):
        textstats.top_fraction(df, "score", 0.0, id_col="id")
    with pytest.raises(ValueError):
        textstats.top_fraction(df, "score", 0.5)


def test_refresh_clusters_incremental(spark, lsh_setup):
    """Incremental cluster maintenance: gated matches inherit the
    existing cluster; the novel remainder clusters among itself (a
    within-batch duplicate pair collapses); singles become their own
    new cluster."""
    from elephant_twin_spark.operators.pipeline import dedup

    eng, corpus_path = lsh_setup
    idx = eng.lsh_index(corpus_path, "text")
    # existing clustering: corpus docs 1..3, doc 2 canonicalized into
    # cluster 7 by some earlier full run
    existing = spark.createDataFrame(
        [(1, 1), (2, 7), (3, 3)], "id long, cluster_id long"
    )
    batch = spark.createDataFrame(
        [
            # near-dup of corpus doc 1 -> inherits cluster 1
            (100, "the quick brown fox jumps over the lazy cat today"),
            # near-dup of corpus doc 2 -> inherits its REMAPPED cluster 7
            (101, "spark shuffles data between stages across the cluster"),
            # novel duplicate pair -> one NEW cluster (min id 102)
            (102, "brand new content about incremental cluster refresh paths"),
            (103, "brand new content about incremental cluster refresh paths"),
            # novel singleton -> its own new cluster
            (104, "nothing like anything else in corpus or batch at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in dedup.refresh_clusters(
            batch, "text", "doc_id", existing, idx, threshold=0.5, **PARAMS
        ).collect()
    }
    assert len(out) == 5
    assert out[100]["cluster_id"] == 1 and not out[100]["is_new_cluster"]
    assert out[101]["cluster_id"] == 7 and not out[101]["is_new_cluster"]
    assert out[102]["cluster_id"] == out[103]["cluster_id"] == 102
    assert out[102]["is_new_cluster"] and out[103]["is_new_cluster"]
    assert out[104]["cluster_id"] == 104 and out[104]["is_new_cluster"]


def test_top_fraction_approx_keeps_null_group(spark):
    """r11 review fix: the approx path's threshold join is null-safe —
    a NULL group has a percentile threshold like any other group and
    must not silently vanish (the exact path's window always kept it)."""
    from elephant_twin_spark.operators.pipeline import textstats

    rows = [(i, None if i < 10 else "a", float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, grp string, score double")
    exact = textstats.top_fraction(
        df, "score", 0.5, group_cols=["grp"], id_col="id"
    )
    approx = textstats.top_fraction(df, "score", 0.5, group_cols=["grp"], approx=True)
    exact_null = exact.where(F.col("grp").isNull()).count()
    approx_null = approx.where(F.col("grp").isNull()).count()
    assert exact_null == 5
    # approx keeps >= the exact count at this tiny accuracy-exact scale
    assert approx_null >= 5


def test_shingle_jaccard_equals_intersect_over_union(spark):
    """shingle_jaccard (one set operation, |A∪B| = |A|+|B|-k) returns
    the same double as size(array_intersect)/size(array_union) for every
    pair over texts that are null, empty, shorter than shingle_k, or
    repeat shingles."""
    from elephant_twin_spark.operators.pipeline import dedup

    texts = [None, "", "a", "a b", "a b c", "a b c d", "a b c a b c", "x y z w", "  "]
    df = spark.createDataFrame(
        [(a, b) for a in texts for b in texts], "a string, b string"
    ).select(
        dedup.word_shingles(F.col("a"), 3).alias("sa"),
        dedup.word_shingles(F.col("b"), 3).alias("sb"),
    )
    old = F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb"))
    new = dedup.shingle_jaccard(F.col("sa"), F.col("sb"))
    rows = df.select(old.alias("old"), new.alias("new")).collect()
    assert len(rows) == len(texts) ** 2
    assert all(r["old"] == r["new"] or (r["old"] is None and r["new"] is None) for r in rows)
    assert any(r["new"] is None for r in rows) and any(0 < r["new"] < 1 for r in rows if r["new"] is not None)
