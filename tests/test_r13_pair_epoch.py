"""Paired-publish atomicity (r12 advisor, medium).

Two index kinds publish TWO data dirs that are only correct together:
IVF centroids + cluster-partitioned vectors, and text postings +
doclens. ``publish_dir`` is per-dir, so a crash (or a concurrent read)
BETWEEN the two renames used to leave both dirs present but from
different build generations — new centroids probed against old cluster
assignments silently skews ANN results; new postings scored with old
BM25 norms skews text ranking. ``require_published`` only sees the
absent-dir state, so the mismatch persisted until the next full
rebuild, contradicting the README's "never silently wrong, at any
point of a rebuild" claim.

Now ``fsio.publish_pair`` stamps one shared epoch token into both
staged dirs before the renames (the rename carries the marker
atomically with the data), readers of the pair cross-check the live
markers (``require_pair_published``), and ``fsio.recover_pair``
finishes an interrupted pair publish from the surviving staged
sibling. These tests pin every state of that protocol.
"""

import pytest
from pyspark.sql import functions as F

from elephant_twin_spark import Engine
from elephant_twin_spark.sources import fsio, tables

from conftest import SF_DIR


def _crash_on_publish_n(monkeypatch, n):
    """Make the n-th publish_dir call of the next build crash AFTER
    completing (the rename lands, then the driver dies)."""
    real = fsio.publish_dir
    state = {"calls": 0}

    def crashing(spark, tmp_dir, final_dir):
        real(spark, tmp_dir, final_dir)
        state["calls"] += 1
        if state["calls"] == n:
            raise RuntimeError("simulated driver crash after rename")

    monkeypatch.setattr(fsio, "publish_dir", crashing)
    return state


def _build_ann(eng, src):
    eng.build_ann_index(src, "embedding", "vec_id", nlist=4, max_iter=2)


def test_ann_crash_between_pair_publishes_detected_and_healed(
    spark, workdir, monkeypatch
):
    src = f"{workdir}/pair_ann_tbl"
    emb = tables.load_raw(spark, f"{SF_DIR}/embeddings.parquet")
    emb.where(F.col("vec_id") < 300).coalesce(2).write.mode("overwrite").parquet(src)

    root = f"{workdir}/pair_ann_root"
    eng = Engine(spark, root)
    _build_ann(eng, src)
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    truth = [r["id"] for r in eng.ann_index(src, "embedding").topk(qvec, k=5, nprobe=4).collect()]

    # rebuild crashes between the centroids and vectors renames: the
    # live dirs now hold NEW centroids + OLD vectors — the exact state
    # the r12 advisor flagged as silently skewing results
    _crash_on_publish_n(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="simulated driver crash"):
        _build_ann(eng, src)
    monkeypatch.undo()

    ai = eng.ann_index(src, "embedding")
    with pytest.raises(RuntimeError, match="recover_pair"):
        ai.topk(qvec, k=5, nprobe=4).collect()

    # the staged vectors sibling carries the missing half's epoch:
    # recovery completes the interrupted publish and queries agree with
    # the clean result again
    assert fsio.recover_pair(spark, ai._pair_dirs()) is True
    healed = [
        r["id"]
        for r in eng.ann_index(src, "embedding").topk(qvec, k=5, nprobe=4).collect()
    ]
    assert healed == truth
    assert not fsio.pair_mismatch(spark, ai._pair_dirs())


def test_text_crash_between_pair_publishes_detected_and_healed(
    spark, workdir, monkeypatch
):
    tbl = tables.materialize(
        spark, f"{SF_DIR}/documents.parquet", f"{workdir}/pair_docs"
    )
    root = f"{workdir}/pair_text_root"
    eng = Engine(spark, root)
    eng.build_text_index(tbl, "text", "doc_id")
    ti = eng.text_index(tbl, "text")
    truth = {
        (r["doc_id"], round(r["score"], 9))
        for r in ti.matches("the", scoring="bm25").collect()
    }

    # rebuild crashes between postings and doclens renames
    _crash_on_publish_n(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="simulated driver crash"):
        eng.build_text_index(tbl, "text", "doc_id")
    monkeypatch.undo()

    pair = [f"{ti.idx_dir}/postings", f"{ti.idx_dir}/doclens"]
    assert fsio.pair_mismatch(spark, pair)
    with pytest.raises(RuntimeError, match="recover_pair"):
        eng.text_index(tbl, "text").matches("the", scoring="bm25").collect()
    # postings-only queries read ONE self-consistent dir — still served
    assert eng.text_index(tbl, "text").count("the") > 0

    assert fsio.recover_pair(spark, pair) is True
    # NOTE: the healed index is the NEW generation; the crashed rebuild
    # never wrote its descriptor, so scores are compared against a
    # clean rebuild of the same corpus rather than `truth` blindly —
    # on identical input the generations coincide
    healed = {
        (r["doc_id"], round(r["score"], 9))
        for r in eng.text_index(tbl, "text").matches("the", scoring="bm25").collect()
    }
    assert healed == truth


def test_refresh_preserves_ann_pair_epoch(spark, workdir):
    """Incremental vector refresh assigns against the EXISTING
    centroids — same generation — so it must carry the centroids' epoch
    into the refreshed vectors dir instead of reading as a crashed
    upgrade."""
    from elephant_twin_spark.streaming.refresh import refresh_ann_index

    src = f"{workdir}/pair_refresh_tbl"
    emb = tables.load_raw(spark, f"{SF_DIR}/embeddings.parquet")
    emb.where(F.col("vec_id") < 300).coalesce(2).write.mode("overwrite").parquet(src)
    root = f"{workdir}/pair_refresh_root"
    eng = Engine(spark, root)
    _build_ann(eng, src)
    ai = eng.ann_index(src, "embedding")
    epoch = fsio.read_pair_epoch(spark, f"{ai.idx_dir}/centroids")
    assert epoch is not None

    target = emb.where(F.col("vec_id") == 3).first()
    spark.createDataFrame(
        [(90_000, list(target["embedding"]), target["label"])], schema=emb.schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.catalog.refreshByPath(src)
    assert refresh_ann_index(spark, src, "embedding", root)["mode"] == "incremental"

    assert fsio.read_pair_epoch(spark, f"{ai.idx_dir}/vectors") == epoch
    ai2 = eng.ann_index(src, "embedding")
    qvec = [float(x) for x in target["embedding"]]
    top = ai2.topk(qvec, k=2, nprobe=4).collect()
    assert {r["id"] for r in top} == {3, 90_000}


def test_premarker_pair_passes_the_gate(spark, workdir):
    """Indexes built before the marker existed have no epoch on either
    dir — consistent by absence; EXACTLY ONE marker present is the
    crashed-upgrade state and must flag."""
    src = f"{workdir}/pair_legacy_tbl"
    emb = tables.load_raw(spark, f"{SF_DIR}/embeddings.parquet")
    emb.where(F.col("vec_id") < 200).coalesce(1).write.mode("overwrite").parquet(src)
    eng = Engine(spark, f"{workdir}/pair_legacy_root")
    _build_ann(eng, src)
    ai = eng.ann_index(src, "embedding")
    pair = ai._pair_dirs()

    # simulate a pre-r13 index: strip both markers
    for d in pair:
        fsio.delete(spark, d.rstrip("/") + "/" + fsio.PAIR_EPOCH_NAME)
    assert not fsio.pair_mismatch(spark, pair)
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    assert len(ai.topk(qvec, k=3, nprobe=4).collect()) == 3

    # crashed upgrade: the first marker-stamped rebuild published only
    # centroids before dying. Probe through a FRESH handle — the pair
    # gate is checked once per handle (like the descriptor snapshot),
    # and a new handle is how every caller reacts to a rebuild
    fsio.stamp_pair_epoch(spark, pair[0], "deadbeef")
    assert fsio.pair_mismatch(spark, pair)
    with pytest.raises(RuntimeError, match="recover_pair"):
        eng.ann_index(src, "embedding").topk(qvec, k=3, nprobe=4).collect()
    # no staged sibling can complete this pair — recovery refuses
    # loudly instead of guessing
    with pytest.raises(OSError, match="rebuild the index"):
        fsio.recover_pair(spark, pair)
    # a rebuild clears the state
    _build_ann(eng, src)
    assert not fsio.pair_mismatch(spark, pair)
    assert len(eng.ann_index(src, "embedding").topk(qvec, k=3, nprobe=4).collect()) == 3


def test_uncommitted_staging_is_never_published(spark, workdir):
    """r13 review: the recovery paths assumed "staging exists ⇒ staging
    complete". A rebuild killed MID-WRITE (after an earlier crashed
    publish removed the live dir) leaves an UNCOMMITTED staging —
    `_temporary` scratch + a partial part-file set. Renaming that into
    place would serve silently incomplete data; recovery must refuse,
    clean it, and let the missing dir surface as rebuild-needed."""
    import os

    import pandas as pd

    d = f"{workdir}/uncommitted"
    final, tmp = f"{d}/postings", f"{d}/postings.staging"
    # the killed-mid-write state: partial part file + _temporary scratch
    os.makedirs(f"{tmp}/_temporary/0", exist_ok=True)
    pd.DataFrame({"k": [1]}).to_parquet(f"{tmp}/part-00000.parquet")
    assert not fsio.staging_committed(spark, tmp)

    with pytest.raises(FileNotFoundError, match="INCOMPLETE"):
        fsio.require_published(spark, final)
    assert fsio.recover_publish(spark, tmp, final) is False
    assert not os.path.exists(final), "incomplete staging was published"
    assert not os.path.exists(tmp), "junk staging not cleaned"
    # same refusal through the pair path: the uncommitted half cannot
    # complete the pair — recovery cleans it, heals nothing, and the
    # missing dir surfaces through the reader gate as rebuild-needed
    os.makedirs(f"{tmp}/_temporary/0", exist_ok=True)
    pd.DataFrame({"k": [1]}).to_parquet(f"{tmp}/part-00000.parquet")
    os.makedirs(f"{d}/doclens", exist_ok=True)
    fsio.stamp_pair_epoch(spark, f"{d}/doclens", "feedc0de")
    assert fsio.recover_pair(spark, [final, f"{d}/doclens"]) is False
    assert not os.path.exists(final), "incomplete staging was pair-published"
    # the junk staging is cleaned, so the gate falls through to the
    # reader's normal path-not-found (documented require_published
    # behavior for a missing dir with no staged sibling)
    assert not os.path.exists(tmp)
    fsio.require_pair_published(spark, [final, f"{d}/doclens"])
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        spark.read.parquet(final).count()

    # committed-staging layouts still recover: _SUCCESS-style direct
    # write AND the partition-subdir (batch_run=) layout, whose
    # _temporary lives one level down while writing
    ok = f"{d}/ok.staging"
    os.makedirs(f"{ok}/batch_run=compact--1", exist_ok=True)
    pd.DataFrame({"k": [2]}).to_parquet(
        f"{ok}/batch_run=compact--1/part-00000.parquet"
    )
    assert fsio.staging_committed(spark, ok)
    os.makedirs(f"{ok}/batch_run=compact--1/_temporary", exist_ok=True)
    assert not fsio.staging_committed(spark, ok)
