"""r17 optimization-round pins: every behavior-touching change this
round must be result-identical to the shape it replaced. Each test
states the contract (and, where the old shape is expressible, the old
form inline) and compares against the shipped implementation."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from elephant_twin_spark.engine import Engine
from elephant_twin_spark.operators import build, lifecycle, lsh as lsh_mod, temporal
from elephant_twin_spark.operators import text as text_mod
from elephant_twin_spark.operators.pipeline import dedup
from elephant_twin_spark.sources import fsio

PARAMS = dict(num_perm=8, num_bands=4, shingle_k=2)


def _corpus(spark, n=30):
    base = "the quick brown fox jumps over the lazy dog wearing badge"
    rows = [Row(doc_id=i, text=f"{base} variant {i % 7} tail {i % 3}") for i in range(n)]
    rows.append(Row(doc_id=200, text="completely different content about parquet row groups"))
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def lsh17(spark, workdir):
    corpus_path = f"{workdir}/r17_lsh_corpus"
    _corpus(spark).write.mode("overwrite").parquet(corpus_path)
    eng = Engine(spark, f"{workdir}/r17_lsh_root")
    eng.build_lsh_index(corpus_path, "text", "doc_id", **PARAMS)
    return eng, corpus_path


def _probe(spark):
    base = "the quick brown fox jumps over the lazy dog wearing badge"
    return spark.createDataFrame(
        [
            Row(doc_id=900, text=f"{base} variant 1 tail 1"),
            Row(doc_id=901, text="vectorized parquet reads keep expressions in codegen"),
            Row(doc_id=902, text=f"{base} variant 3 tail 0"),
        ]
    )


# ---------------------------------------------------------------- V3
def test_bloom_prefilter_is_superset_and_join_identical(spark):
    """_bloom_prefilter keeps every matching row (no false negatives);
    after the equi-join the bloom path is row-identical to no filter."""
    probe = spark.range(0, 500, 7).select((F.col("id") * 2654435761).alias("k"))
    corpus = spark.range(0, 3000).select(
        (F.col("id") * 2654435761).alias("k"), F.col("id").alias("v")
    )
    filtered = lsh_mod._bloom_prefilter(probe, corpus, "k")
    # superset: every true match survives
    missing = corpus.join(probe, "k", "leftsemi").exceptAll(
        filtered.join(probe, "k", "leftsemi")
    )
    assert missing.count() == 0
    # exactness after the join the caller always re-applies
    a = corpus.join(probe.distinct(), "k").sort("k", "v").collect()
    b = filtered.join(probe.distinct(), "k").sort("k", "v").collect()
    assert a == b and len(a) > 0
    # and it actually prunes (the point of the fallback)
    assert filtered.count() < corpus.count()


def test_candidate_pairs_bloom_fallback_rows_identical(spark, lsh17):
    """Above pushdown_limit the bloom fallback (r17) must return exactly
    the plain-join rows — same pin as the r16 IN pushdown."""
    eng, corpus_path = lsh17
    idx = eng.lsh_index(corpus_path, "text")
    probe = _probe(spark)
    with lifecycle.checkpoint_scope():
        plain = idx.candidate_pairs(probe, "text", "doc_id", pushdown_limit=0)
        bloom = idx.candidate_pairs(probe, "text", "doc_id", pushdown_limit=1)
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, bloom.collect()))
    assert a == b and len(a) > 0


# ---------------------------------------------------------------- A1/V2
def test_gate_id_pushdown_paths_identical(spark, lsh17):
    """gate's bounded corpus-id collect (r17, replacing the unguarded
    F.broadcast): IN-pushdown path, semi-join fallback, and disabled
    path must all return identical rows."""
    eng, corpus_path = lsh17
    idx = eng.lsh_index(corpus_path, "text")
    probe = _probe(spark)
    outs = []
    for lim in (4096, 1, 0):
        with lifecycle.checkpoint_scope():
            rows = idx.gate(
                probe, "text", "doc_id", threshold=0.5, id_pushdown_limit=lim
            ).sort("doc_id").collect()
        outs.append(rows)
    assert outs[0] == outs[1] == outs[2]
    flags = {r["doc_id"]: r["is_near_dup"] for r in outs[0]}
    assert flags[900] and flags[902] and not flags[901]


# ---------------------------------------------------------------- V4
def test_cc_chain_beyond_max_iter_now_exact(spark):
    """Pointer-doubling escalation (r17): a 120-diameter chain converges
    to one component under max_iter=50 — the plain form silently
    returned unconverged labels here (needs 120 rounds)."""
    pairs = spark.range(120).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = dedup.connected_components(pairs, max_iter=50)
    rows = out.collect()
    lifecycle.release(out)
    assert len(rows) == 121
    assert {r["component"] for r in rows} == {0}


def test_cc_doubling_identical_to_plain_on_converging_graph(spark):
    """On graphs where the plain form converges (hop_after > diameter),
    the escalated form returns bit-identical rows."""
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (20, 20), (30, 11), (40, 41), (41, 42)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    plain = dedup.connected_components(pairs, hop_after=10**6)
    a = sorted(map(tuple, plain.collect()))
    lifecycle.release(plain)
    hopped = dedup.connected_components(pairs, hop_after=0)
    b = sorted(map(tuple, hopped.collect()))
    lifecycle.release(hopped)
    default = dedup.connected_components(pairs)
    c = sorted(map(tuple, default.collect()))
    lifecycle.release(default)
    assert a == b == c
    assert a == [
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (30, 10), (40, 40), (41, 40), (42, 40),
    ]


def test_cc_string_ids_with_hop(spark):
    """The join convergence detector (non-numeric ids) composes with the
    hop: string-id chain longer than hop_after resolves exactly."""
    pairs = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(20)], "id_a string, id_b string"
    )
    out = dedup.connected_components(pairs, hop_after=2)
    rows = out.collect()
    lifecycle.release(out)
    assert len(rows) == 21 and {r["component"] for r in rows} == {"n000"}


# ---------------------------------------------------------------- V9
def test_scd2_merge_validated_probe_shares_pinned_slice(spark):
    """The r17 pinned-touched probe path: validated merge still equals
    full recompute, still raises on watermark violations, and the
    result is consumable inside the ambient checkpoint_scope."""
    events = [
        (1, "2024-01-01 00:00:00", "a", 1),
        (1, "2024-01-02 00:00:00", "b", 2),
        (1, "2024-01-05 00:00:00", "b", 3),
        (2, "2024-01-03 00:00:00", "x", 4),
        (1, "2024-01-09 00:00:00", "c", 5),
        (2, "2024-01-08 00:00:00", "y", 6),
        (3, "2024-01-09 00:00:00", "z", 7),
    ]
    df = spark.createDataFrame(
        events, "user_id long, ts string, state string, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    cut = F.lit("2024-01-07 00:00:00").cast("timestamp")
    with lifecycle.checkpoint_scope():
        hist = temporal.scd2_intervals(
            df.where(F.col("ts") < cut), ["user_id"], "ts", ["state"],
            tiebreak=["event_id"], carry_last_ts=True,
        )
        merged = temporal.scd2_merge(
            hist, df.where(F.col("ts") >= cut), ["user_id"], "ts", ["state"],
            tiebreak=["event_id"], validate=True,
        )
        full = temporal.scd2_intervals(
            df, ["user_id"], "ts", ["state"], tiebreak=["event_id"],
            carry_last_ts=True,
        )
        assert merged.exceptAll(full).count() == 0
        assert full.exceptAll(merged).count() == 0
        with pytest.raises(ValueError, match="watermark"):
            temporal.scd2_merge(
                hist, df.limit(3), ["user_id"], "ts", ["state"],
                tiebreak=["event_id"], validate=True,
            )


# ---------------------------------------------------------------- builds
def test_build_normalize_after_group_identical(spark, workdir):
    """r17 moved fsio.file_path_col from per-input-row to per-output-
    group in postings_for / zones_for / bloom_sketch_for /
    file_value_sets. Outputs must be bit-identical to the old
    normalize-first shapes — exercised on a path with a SPACE, the
    URI-special case the normalization exists for (r13 regression)."""
    path = f"{workdir}/r17 build dir/events"
    rows = [Row(event_type=f"t{i % 5}", user_id=i % 7, ts=i) for i in range(400)]
    spark.createDataFrame(rows).repartition(4).write.mode("overwrite").parquet(path)
    df = lambda: spark.read.parquet(path)

    # old shapes inline: normalization BEFORE the aggregation
    old_file = fsio.file_path_col(F.col("_metadata.file_path")).alias("file")
    old_postings = (
        df().select(
            F.col("event_type").cast("string").alias("key"), old_file,
            F.col("_metadata.file_block_start").alias("start"),
            (F.col("_metadata.file_block_start")
             + F.col("_metadata.file_block_length")).alias("end"),
        )
        .where(F.col("key").isNotNull())
        .groupBy("key", "file")
        .agg(
            F.sort_array(F.collect_set(F.struct("start", "end"))).alias("_sorted"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "key", "file",
            build._merge_ranges_expr(
                "_sorted", build.DEFAULT_MAX_MERGED_BYTES
            ).alias("ranges"),
            "cnt",
        )
    )
    old_zones = (
        df().select(old_file, F.col("ts").alias("v"))
        .groupBy("file")
        .agg(
            F.min("v").alias("min_v"), F.max("v").alias("max_v"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_null"),
        )
    )
    old_values = (
        df().select(old_file, "event_type")
        .groupBy("file")
        .agg(F.sort_array(F.collect_set("event_type")).alias("event_type_values"))
    )
    bits, hashes = build.BLOOM_DEFAULT_BITS, build.BLOOM_DEFAULT_HASHES
    bloom_key = F.col("user_id").cast("string")
    old_words = (
        df().select(bloom_key.alias("key"), old_file)
        .where(bloom_key.isNotNull())
        .select(
            "file",
            F.explode(F.array(*[
                build._bloom_pos_sql(F.col("key"), i, bits) for i in range(hashes)
            ])).alias("pos"),
        )
        .select(
            "file",
            (F.col("pos") / 64).cast("int").alias("word"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("mask"),
        )
        .groupBy("file", "word")
        .agg(F.expr("bit_or(mask)").alias("val"))
    )
    old_bloom = (
        old_words.groupBy("file")
        .agg(F.map_from_entries(F.collect_list(F.struct("word", "val"))).alias("_m"))
        .select(
            "file",
            F.expr(
                f"transform(sequence(0, {bits // 64 - 1}), "
                "w -> coalesce(element_at(_m, w), 0L))"
            ).alias("bits"),
        )
    )
    for tag, old, new in (
        ("postings", old_postings, build.postings_for(df(), "event_type")),
        ("zones", old_zones, build.zones_for(df(), "ts")),
        ("values", old_values, text_mod.file_value_sets(df(), ["event_type"])),
        ("bloom", old_bloom, build.bloom_sketch_for(df(), "user_id", bits, hashes)),
    ):
        assert old.schema == new.schema, tag
        assert old.exceptAll(new).count() == 0, tag
        assert new.exceptAll(old).count() == 0, tag
        # the decoded-literal contract: no %20 spellings in `file`
        files = [r["file"] for r in new.select("file").distinct().collect()]
        assert files and all("%20" not in f and " " in f for f in files), (tag, files)


# ---------------------------------------------------------------- A4
def test_rowlocal_simhash_quoted_column_name(spark):
    """simhash64 accepts column names needing backtick quoting (r16
    advisor) and produces the same signatures as the plain name."""
    rows = [(i, f"token{i} alpha beta gamma token{i}") for i in range(8)]
    plain = spark.createDataFrame(rows, "doc_id long, text string")
    weird = plain.withColumnRenamed("text", "my text-col 1")
    a = sorted(r["simhash"] for r in dedup.simhash64(plain, "text", "doc_id").collect())
    b = sorted(
        r["simhash"]
        for r in dedup.simhash64(weird, "my text-col 1", "doc_id").collect()
    )
    assert a == b and len(a) == 8
