"""One owner for every checkpoint: the innermost ``checkpoint_scope``
frees every pin an operator makes, including the ones behind the
DataFrame it returns. Each public operator that pins is consumed inside
a scope; once the scope exits, block-manager storage is back at its
baseline. An operator that returns a driver-built result frees its pins
before it returns, with or without a caller scope."""

import pytest
from pyspark.sql import Row

from conftest import settled_rdd_count, wait_storage
from elephant_twin_spark.operators import lifecycle, sessionize, temporal
from elephant_twin_spark.operators.pipeline import clean, dedup, graph, similarity

_TEXTS = [
    "the quick brown fox jumps over the lazy dog and runs into the forest",
    "the quick brown fox jumps over the lazy dog and runs into the forest today",
    "a slow green turtle walks along the river bank in the morning light",
    "a slow green turtle walks along the river bank in the morning sun",
    "spark shuffles data between stages across the cluster of many machines",
    "completely different content about parquet row groups and their footers",
]


def _docs(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(_TEXTS)]
    )


@pytest.fixture(scope="module")
def lsh_index(spark, workdir):
    from elephant_twin_spark.engine import Engine

    corpus = f"{workdir}/lifecycle_lsh_corpus"
    _docs(spark).write.mode("overwrite").parquet(corpus)
    eng = Engine(spark, f"{workdir}/lifecycle_lsh_root")
    eng.build_lsh_index(corpus, "text", "doc_id", num_perm=8, num_bands=4, shingle_k=2)
    return eng.lsh_index(corpus, "text")


def _history_and_batch(spark, late):
    hist = temporal.scd2_intervals(
        spark.createDataFrame(
            [(1, 10, 1, "a"), (1, 20, 2, "a"), (2, 12, 3, "x")],
            "uid int, ts int, eid int, st string",
        ),
        ["uid"], "ts", ["st"], tiebreak=["eid"], carry_last_ts=True,
    )
    ts = 15 if late else 30
    batch = spark.createDataFrame(
        [(1, ts, 4, "b")], "uid int, ts int, eid int, st string"
    )
    return hist, batch


def _scd2_raise(spark):
    hist, batch = _history_and_batch(spark, late=True)
    with pytest.raises(ValueError, match="watermark contract"):
        temporal.scd2_merge(hist, batch, ["uid"], "ts", ["st"], tiebreak=["eid"])


def _gate(spark, idx):
    from elephant_twin_spark.operators import lsh

    probe = spark.createDataFrame(
        [Row(doc_id=100, text=_TEXTS[0] + " again"), Row(doc_id=101, text="novel words here")]
    )
    # the distributed path pins; a probe-sized gate on the driver pins nothing
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(lsh, "_IN_LIST_ROWS", 0)
        return idx.gate(probe, "text", "doc_id", threshold=0.5).where("is_near_dup").count()


def _cc_rounds(spark):
    # the rounds path pins; within the edge bound the driver pins nothing
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "_CC_DRIVER_EDGES", 0)
        return dedup.connected_components(
            spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
        ).collect()


# name -> consume(spark, lsh_index); every call runs inside one scope
_OPERATORS = {
    "near_dup_clusters": lambda s, _: dedup.near_dup_clusters(
        _docs(s), "text", "doc_id", num_perm=8, num_bands=4, threshold=0.5
    ).where("NOT is_canonical").count(),
    "clean_corpus_near_dup": lambda s, _: clean.clean_corpus(
        _docs(s), "text", "doc_id", min_tokens=3, allowed_langs=("en",),
        num_perm=8, num_bands=4, threshold=0.5,
    )[1].groupBy("reason").count().collect(),
    "connected_components": lambda s, _: _cc_rounds(s),
    "minhash_near_dup_pairs": lambda s, _: dedup.minhash_near_dup_pairs(
        _docs(s), "text", "doc_id", num_perm=8, num_bands=4, threshold=0.5
    ).count(),
    "lsh_gate": _gate,
    "funnel_prefilter": lambda s, _: sessionize.funnel(
        s.createDataFrame(
            [(1, 1, "view"), (1, 2, "cart"), (1, 3, "buy"), (2, 1, "view"), (2, 5, "buy")],
            "u int, t int, y string",
        ),
        "u", "t", "y", ["view", "cart", "buy"], prefilter=True,
    ).collect(),
    "triangle_count": lambda s, _: graph.triangle_count(
        s.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "a long, b long"), "a", "b"
    ).collect(),
    "scd2_merge_validated": lambda s, _: temporal.scd2_merge(
        *_history_and_batch(s, late=False), ["uid"], "ts", ["st"], tiebreak=["eid"]
    ).collect(),
    "scd2_merge_validated_raise": lambda s, _: _scd2_raise(s),
}


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_operator_pins_freed_at_scope_exit(spark, lsh_index, name):
    consume = _OPERATORS[name]
    base_rdds = settled_rdd_count(spark)
    base_blocks = lifecycle.storage_snapshot(spark)["n_blocks"]
    with lifecycle.checkpoint_scope() as pins:
        consume(spark, lsh_index)
    assert pins, f"{name} pinned nothing: the case no longer exercises the scope"
    snap = wait_storage(
        spark, lambda s: s["n_rdds"] <= base_rdds and s["n_blocks"] <= base_blocks
    )
    assert snap["n_rdds"] <= base_rdds and snap["n_blocks"] <= base_blocks, (name, snap)


def test_ann_recall_audit_frees_its_pins_without_a_scope(spark):
    """The audit collects everything it reports and builds its result on
    the driver, so none of its pins may outlive the call — with no
    caller scope they would have no owner at all."""
    from conftest import SF_DIR
    from elephant_twin_spark.sources import tables

    emb = tables.load_raw(spark, f"{SF_DIR}/embeddings.parquet").where("vec_id < 64")
    base = [
        [float(x) for x in r["embedding"]]
        for r in emb.where("vec_id < 8").orderBy("vec_id").collect()
    ]
    w = len(base[0]) // 4
    books = [[v[s * w : (s + 1) * w] for v in base] for s in range(4)]
    base_rdds = settled_rdd_count(spark)
    base_blocks = lifecycle.storage_snapshot(spark)["n_blocks"]
    out = similarity.ann_recall_audit(
        emb, "embedding", "vec_id", [0, 1], base[:4], books, k=3, bits=2
    )
    assert {r["method"] for r in out.collect()} == {"lsh", "ivf", "pq", "ivf_pq"}
    snap = wait_storage(
        spark, lambda s: s["n_rdds"] <= base_rdds and s["n_blocks"] <= base_blocks
    )
    assert snap["n_rdds"] <= base_rdds and snap["n_blocks"] <= base_blocks, snap


def test_pin_kept_by_cache_barrier_passes_to_outer_scope(spark):
    """A pin that a registered cache keeps alive at its scope's exit is
    owned by the next outer scope, which frees it once the cache is
    gone."""
    base_rdds = settled_rdd_count(spark)
    base_blocks = lifecycle.storage_snapshot(spark)["n_blocks"]
    with lifecycle.checkpoint_scope():
        with lifecycle.checkpoint_scope():
            ck = lifecycle.pin(spark.range(5_000).selectExpr("id", "id * 7 as v"))
            cached = ck.where("v % 2 = 0").cache()
            assert cached.count() == 2_500
        assert ck._ets_checkpoint.getStorageLevel().isValid()
        cached.unpersist(True)
    snap = wait_storage(
        spark, lambda s: s["n_rdds"] <= base_rdds and s["n_blocks"] <= base_blocks
    )
    assert snap["n_rdds"] <= base_rdds and snap["n_blocks"] <= base_blocks, snap
