"""r16 optimization-round pins: every rewrite in this round must be
result-identical to the shape it replaced. Each test states the old
form INLINE and compares against the shipped implementation."""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

from elephant_twin_spark.operators import text as text_mod
from elephant_twin_spark.operators.pipeline import dedup


ADVERSARIAL = [
    ("",),
    (" ",),
    ("a",),
    (" a b  c ",),
    ("a\x0bb",),                      # vertical tab: Java \s includes it
    ("\t\n\r\x0c mixed \x0b",),
    (None,),
    ("多 字 节 text-42 7,8;9",),
    ("under_score 3.14 a1b2",),
    ("trailing  ",),
]


def _adv(spark):
    return spark.createDataFrame(ADVERSARIAL, "text string")


def test_whitespace_tokenizer_matches_split_filter_form(spark):
    """regexp_extract_all('\\S+') == filter(split(text,'\\s+'), != '')
    (the r16 rewrite that removes the per-row Pattern.compile)."""
    old = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    new = text_mod.whitespace_tokenizer(F.col("text"))
    bad = _adv(spark).select(old.alias("a"), new.alias("b")).where(
        ~F.col("a").eqNullSafe(F.col("b"))
    )
    assert bad.count() == 0


def test_word_tokenizer_matches_split_filter_form(spark):
    old = F.filter(
        F.split(F.lower(F.col("text")), r"[^\p{L}\p{N}]+"), lambda t: t != F.lit("")
    )
    new = text_mod.word_tokenizer(F.col("text"))
    bad = _adv(spark).select(old.alias("a"), new.alias("b")).where(
        ~F.col("a").eqNullSafe(F.col("b"))
    )
    assert bad.count() == 0


@pytest.fixture()
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(40):
        rows.append((i, f"{base} variant {i % 5}", "s%d" % (i % 3)))
    # exact near-dups of doc 0
    rows.append((100, base + " variant 0", "s0"))
    rows.append((101, base + " variant 0 tail", "s1"))
    rows.append((102, "completely different content with no overlap at all here", "s2"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_let_bound_expressions_bit_identical(spark):
    """Every r16 let-binding rewrite (word_shingles, ngram_set,
    ngram_array, repetition_ratio, quality_features, lang_id,
    gopher_quality_flags, winnowing_fingerprints, sentence_stats) equals
    its pre-binding form on the real corpus plus adversarial rows —
    binding changes evaluation count, never values."""
    from elephant_twin_spark.operators import text as text_mod
    from elephant_twin_spark.operators.pipeline import (
        decontaminate, ngrams, textstats,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(9001, "a b"), (9002, " "), (9003, None), (9004, "one. two! three?"),
         (9005, "x " * 50)],
        "doc_id long, text string",
    )
    docs = docs.unionByName(extra)
    tok = text_mod.whitespace_tokenizer

    # old inline forms (pre-r16, with toks captured in the lambda)
    def old_shingles(text, k=3):
        t = tok(text)
        n = F.size(t)
        return F.when(n < k, F.array(F.concat_ws(" ", t))).otherwise(
            F.array_distinct(F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)))))

    def old_ngram_set(text, n=8):
        t = tok(text)
        cnt = F.size(t)
        return F.coalesce(
            F.when(cnt < n, F.array().cast("array<string>")).otherwise(
                F.array_distinct(F.transform(
                    F.sequence(F.lit(0), cnt - n),
                    lambda i: F.concat_ws(" ", F.slice(t, i + 1, n))))),
            F.array().cast("array<string>"))

    def old_ngram_array(text, n=2):
        t = tok(text)
        sz = F.size(t)
        return F.when(sz < n, F.array(F.concat_ws(" ", t))).otherwise(
            F.transform(F.sequence(F.lit(0), sz - n),
                        lambda i: F.concat_ws(" ", F.slice(t, i + 1, n))))

    pairs = [
        (dedup.word_shingles(F.col("text"), 3), old_shingles(F.col("text"), 3)),
        (decontaminate.ngram_set(F.col("text"), 8), old_ngram_set(F.col("text"), 8)),
        (ngrams.ngram_array(F.col("text"), 2), old_ngram_array(F.col("text"), 2)),
    ]
    for new_e, old_e in pairs:
        bad = docs.select(new_e.alias("a"), old_e.alias("b")).where(
            ~F.col("a").eqNullSafe(F.col("b"))
        ).count()
        assert bad == 0

    # DataFrame-level operators: compare full outputs sorted
    def rows(df):
        return sorted(map(tuple, df.collect()))

    # quality_features / lang_id / repetition_ratio: old forms restated
    t = tok(F.col("text"))
    n_tok = F.size(t)
    n_chars = F.length(F.col("text"))
    punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), 0))
    stop_arr = F.lit(list(textstats.STOPWORDS["en"]))
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, F.lower(x))))
    old_qf = (
        docs.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_calc", n_chars)
        .withColumn("avg_token_len",
                    F.when(n_tok > 0, (n_chars - (n_tok - 1)) / n_tok).otherwise(F.lit(0.0)))
        .withColumn("punct_ratio",
                    F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0)))
        .withColumn("stopword_ratio",
                    F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0)))
        .withColumn("uniq_token_ratio",
                    F.when(n_tok > 0, F.size(F.array_distinct(t)) / n_tok).otherwise(F.lit(0.0)))
    )
    assert rows(textstats.quality_features(docs, "text")) == rows(old_qf)

    lt = F.transform(t, lambda x: F.lower(x))
    scores = []
    for lang in sorted(textstats.STOPWORDS):
        arr = F.lit(list(textstats.STOPWORDS[lang]))
        scores.append(F.struct(
            F.size(F.filter(lt, lambda x: F.array_contains(arr, x))).alias("hits"),
            F.lit(lang).alias("lang")))
    best = F.sort_array(F.array(*scores), asc=False)[0]
    old_lang = docs.withColumn(
        "lang_pred", F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")))
    assert rows(textstats.lang_id(docs, "text")) == rows(old_lang)

    grams = F.when(F.size(t) < 3, F.array(F.concat_ws(" ", t))).otherwise(
        F.transform(F.sequence(F.lit(0), F.size(t) - 3),
                    lambda i: F.concat_ws(" ", F.slice(t, i + 1, 3))))
    old_rep = (
        docs.withColumn("_g", grams)
        .withColumn("dup_ngram_ratio",
                    F.when(F.size("_g") <= 0, F.lit(0.0)).otherwise(
                        F.lit(1.0) - F.size(F.array_distinct("_g")) / F.size("_g")))
        .drop("_g"))
    assert rows(textstats.repetition_ratio(docs, "text")) == rows(old_rep)

    # winnowing: old triple-nested form
    k, window = 5, 4
    toks = t
    gh = lambda g: F.xxhash64(g)  # noqa: E731
    og = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: gh(F.concat_ws(" ", F.slice(toks, i + 1, k))))
    om = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(og) - window, F.lit(0))),
        lambda i: F.array_min(F.slice(og, i + 1, window))))
    old_winnow = docs.select(F.col("doc_id").alias("id"), F.explode(om).alias("fp"))
    assert rows(textstats.winnowing_fingerprints(docs, "text", "doc_id")) == rows(old_winnow)

    # sentence_stats: old form with per-call-compiled inner split
    sents = F.coalesce(
        F.filter(F.transform(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)),
                 lambda s: s != F.lit("")),
        F.array().cast("array<string>"))
    n_sent = F.size(sents)
    words = F.aggregate(
        sents, F.lit(0),
        lambda acc, s: acc + F.size(F.filter(F.split(s, r"\s+"), lambda x: x != F.lit(""))))
    old_sent = docs.select(
        F.col("doc_id"),
        n_sent.alias("n_sentences"),
        F.when(n_sent > 0, F.round(words.cast("double") / n_sent, 6)).alias(
            "avg_sentence_words"))
    assert rows(textstats.sentence_stats(docs, "text", "doc_id")) == rows(old_sent)


def test_lsh_gate_pushdown_same_result(spark, tmp_path):
    """The r16 band-hash IN pushdown (and the broadcast semi-join hint)
    changes plan shape only: gate verdicts with pushdown on, off, and
    at a forcing limit are identical."""
    from elephant_twin_spark import Engine

    rows = [(i, f"common prefix text number {i % 7} tail {i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "corpus")
    df.write.parquet(path)
    eng = Engine(spark, str(tmp_path / "idx"))
    eng.build_lsh_index(path, "text", "doc_id", num_perm=16, num_bands=4)
    idx = eng.lsh_index(path, "text")
    probe = df.limit(10).select(
        (F.col("doc_id") + 1000).alias("doc_id"), F.col("text")
    )

    def verdicts(pushdown_limit):
        cands = idx.candidate_pairs(
            probe, "text", "doc_id", pushdown_limit=pushdown_limit
        )
        return sorted(map(tuple, cands.collect()))

    on, off = verdicts(4096), verdicts(0)
    assert on == off and len(on) > 0
    gated = idx.gate(probe, "text", "doc_id", threshold=0.5)
    assert gated.where("is_near_dup").count() > 0


def _old_simhash(df, text_col, id_col, nbits, h_col):
    """The pre-r16 explode → groupBy(id, tok) → groupBy(id) simhash,
    stated inline as the equivalence reference."""
    from elephant_twin_spark.operators.text import whitespace_tokenizer

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(whitespace_tokenizer(F.col(text_col))).alias("tok"),
    )
    per_tok = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    h = per_tok.withColumn("h", h_col)
    fold = f"""
    aggregate(
      collect_list(struct(h, tf)),
      cast(array_repeat(0L, {nbits}) as array<bigint>),
      (acc, x) -> zip_with(acc, sequence(0, {nbits - 1}),
          (a, b) -> a + IF((shiftright(x.h, cast(b as int)) & 1) = 1, x.tf, -x.tf))
    )"""
    agg = h.groupBy("id").agg(F.expr(fold).alias("bitsums"))
    return agg.select(
        "id",
        F.expr(
            f"aggregate(transform(sequence(0, {nbits - 1}),"
            f" b -> IF(bitsums[b] > 0, shiftleft(1L, b), 0L)),"
            f" 0L, (acc, x) -> acc | x)"
        ).alias("simhash"),
    )


@pytest.mark.parametrize("variant", ["xxhash64", "md5"])
def test_rowlocal_simhash_bit_identical(spark, variant):
    """The r16 zero-shuffle simhash equals the old two-exchange shape
    bit-for-bit, on the real corpus plus adversarial rows."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    extra = spark.createDataFrame(
        [(9001, "a a a b"), (9002, " "), (9003, None), (9004, "唯一 的 词 词"),
         (9005, "x\x0by z\tz\nz")],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(extra)
    if variant == "xxhash64":
        new = dedup.simhash64(docs, "text", "doc_id")
        old = _old_simhash(docs, "text", "doc_id", 64, F.xxhash64("tok"))
    else:
        new = dedup.simhash60_md5(docs, "text", "doc_id")
        old = _old_simhash(
            docs, "text", "doc_id", 60,
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"),
        )
    bad = (
        new.alias("n").join(old.alias("o"), "id", "full")
        .where(~F.expr("n.simhash <=> o.simhash"))
        .count()
    )
    assert bad == 0
    assert new.count() == old.count() > 0


def test_rowlocal_postings_bit_identical(spark, tmp_path):
    """The r16 row-local postings grouping equals the old posexplode →
    groupBy(term, doc_id) shape row-for-row (positions ascending)."""
    from elephant_twin_spark.operators import text as text_mod
    from elephant_twin_spark.sources import fsio

    # real corpus + adversarial docs (empty, null, all-dup tokens)
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(9001, "a a a b"), (9002, " "), (9003, None), (9004, "z")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "docs")
    base.unionByName(extra).write.parquet(path)
    df = spark.read.parquet(path)

    new = text_mod.postings_for(df, "text", "doc_id")

    src = df.select(
        F.col("doc_id"),
        F.col("text").alias("_text"),
        fsio.file_path_col(F.col("_metadata.file_path")).alias("file"),
    )
    toks = src.select(
        "doc_id", "file",
        F.posexplode(text_mod.whitespace_tokenizer(F.col("_text"))).alias("pos", "term"),
    )
    old = toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
        F.first("file").alias("file"),
    )
    cols = ["term", "doc_id", "tf", "positions", "file"]
    a, b = old.select(cols), new.select(cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == b.count() > 0


def test_containment_verify_join_before_shingle_same_rows(dup_docs):
    sigs = dedup.minhash_signatures(dup_docs, "text", "doc_id", 16)
    cands = dedup.lsh_candidate_pairs(sigs, 16, 4)
    new = dedup.containment_verify_pairs(cands, dup_docs, "text", "doc_id", 3, 0.8)

    sh = dup_docs.select(
        F.col("doc_id").alias("id"), dedup.word_shingles(F.col("text"), 3).alias("sh")
    )
    old = (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("cont_a_in_b", F.col("_inter") / F.size("sh_a"))
        .withColumn("cont_b_in_a", F.col("_inter") / F.size("sh_b"))
        .where(
            (F.col("cont_a_in_b") >= 0.8) | (F.col("cont_b_in_a") >= 0.8)
        )
        .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
    assert new.count() > 0


def test_refresh_clusters_pins_gate_same_rows(spark, tmp_path):
    """r16: refresh_clusters pins the gate output before the
    matched/novel split, so the gate (bucket join + corpus verify read)
    evaluates once instead of once per consumer. Rows must equal the
    old unpinned restatement, and the returned plan must consume the
    gate through a checkpoint, not re-derive the bucket join."""
    from elephant_twin_spark import Engine

    rows = [(i, f"common prefix text number {i % 7} tail {i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "corpus")
    df.write.parquet(path)
    eng = Engine(spark, str(tmp_path / "idx"))
    eng.build_lsh_index(path, "text", "doc_id", num_perm=8, num_bands=4, shingle_k=1)
    idx = eng.lsh_index(path, "text")
    existing = df.select(
        F.col("doc_id").alias("id"), F.col("doc_id").alias("cluster_id")
    )
    batch = (
        df.limit(20)
        .select((F.col("doc_id") + 1000).alias("doc_id"), "text")
        .unionByName(
            spark.createDataFrame(
                [(2000, "planted novel duplicate pair"),
                 (2001, "planted novel duplicate pair")],
                "doc_id long, text string",
            )
        )
    )
    kw = dict(num_perm=8, num_bands=4, shingle_k=1)
    out = dedup.refresh_clusters(
        batch, "text", "doc_id", existing, idx, threshold=0.5, **kw
    )
    got = sorted(map(tuple, out.collect()))

    # the pre-r16 unpinned body, stated inline as the equivalence reference
    gated = idx.gate(batch, "text", "doc_id", threshold=0.5)
    matched = gated.where(F.col("is_near_dup")).select(
        F.col("doc_id").alias("id"), "dup_of"
    )
    prior = existing.select(
        F.col("id").alias("dup_of"), F.col("cluster_id").alias("_prior_cluster")
    )
    inherited = matched.join(prior, "dup_of", "left").select(
        "id",
        F.coalesce("_prior_cluster", F.col("dup_of")).alias("cluster_id"),
        F.lit(False).alias("is_new_cluster"),
    )
    novel_ids = gated.where(~F.col("is_near_dup")).select(
        F.col("doc_id").alias("id")
    )
    novel_docs = batch.join(
        novel_ids.withColumnRenamed("id", "doc_id"), "doc_id", "left_semi"
    )
    fresh = dedup.near_dup_clusters(
        novel_docs, "text", "doc_id", threshold=0.5, edge_mode="star", **kw
    ).select("id", "cluster_id", F.lit(True).alias("is_new_cluster"))
    want = sorted(map(tuple, inherited.unionByName(fresh).collect()))

    assert got == want
    assert len(got) == batch.count()
    # planted novel pair collapsed into one new cluster
    novel_clusters = {c for (i, c, new) in got if new and i in (2000, 2001)}
    assert len(novel_clusters) == 1
    # single-evaluation shape: the returned plan reads the pinned gate
    # (checkpoint scan), never the bucket join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "band_hash" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_rowlocal_doclens_same_rows(spark, tmp_path):
    """The r16 row-local doclens tf table equals the old explode_outer →
    groupBy(doc_id, term) shape: dl/file exact, norm within float
    tolerance (summation order legitimately shifts), NULL norm iff the
    old path's norm is NULL (token-less / NULL-text docs)."""
    from elephant_twin_spark.sources import fsio

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(9001, "a a a b"), (9002, " "), (9003, None), (9004, "z")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "docs")
    base.unionByName(extra).write.parquet(path)
    df = spark.read.parquet(path)

    new = text_mod.doclens_for(df, "text", "doc_id")

    toks = df.select(
        F.col("doc_id"),
        fsio.file_path_col(F.col("_metadata.file_path")).alias("file"),
        F.explode_outer(text_mod.whitespace_tokenizer(F.col("text"))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("term").cast("int").alias("tf"), F.first("file").alias("file")
    )
    old = text_mod.doclens_agg(tf)

    a = {r["doc_id"]: r for r in old.collect()}
    b = {r["doc_id"]: r for r in new.collect()}
    assert set(a) == set(b) and len(a) > 0
    for doc_id, ra in a.items():
        rb = b[doc_id]
        assert ra["dl"] == rb["dl"], doc_id
        assert ra["file"] == rb["file"], doc_id
        if ra["norm"] is None:
            assert rb["norm"] is None, doc_id
        else:
            assert rb["norm"] == pytest.approx(ra["norm"], rel=1e-9), doc_id
    # token-less / NULL-text docs keep the explode_outer contract
    assert b[9002]["dl"] == 0 and b[9002]["norm"] is None
    assert b[9003]["dl"] == 0 and b[9003]["norm"] is None
