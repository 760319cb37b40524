"""Mid-REBUILD reader race (r12 review, the write-side sibling of the
r11 listing race).

Before this round the six full builders rewrote their index data dirs
IN PLACE with ``mode("overwrite")``. On a REBUILD over a live index, a
concurrent reader — whose still-published old descriptor claims full
coverage with valid checksums — could observe a partially-deleted /
partially-committed postings table and prune files whose postings rows
were simply not readable yet: silently wrong answers for the whole
write phase, which at 100 TB is minutes. Routine at scale: staleness-
triggered rebuilds run WHILE queries run.

Now every builder stages to ``{data_dir}.staging`` and publishes via
``fsio.publish_dir`` (delete+rename) before the descriptor write, so
the reader-visible window shrinks from the whole write to two metadata
ops — and those fail LOUDLY (absent dir), never silently wrong.

These tests pin the strong property: a reader probing at the exact
moment the heavy write has finished but the publish has NOT happened
(interposed on the first ``publish_dir`` call of the rebuild) gets the
full-scan-correct answer THROUGH the old index — including rows from a
file appended after the old build, which the old descriptor correctly
leaves not-covered.
"""

import glob
import shutil

import pyspark.sql.functions as F
import pytest

from elephant_twin_spark import Engine, col
from elephant_twin_spark.sources import fsio, tables

from conftest import SF_DIR


def _probe_on_first_publish(monkeypatch, probe):
    """Run ``probe()`` immediately BEFORE the rebuild's first
    publish_dir call — the staging write is complete, the live data
    dirs and descriptor are still entirely the OLD index."""
    real_publish = fsio.publish_dir
    state = {"probed": False}

    def publish_with_probe(spark, tmp_dir, final_dir):
        if not state["probed"]:
            state["probed"] = True
            probe()
        real_publish(spark, tmp_dir, final_dir)

    monkeypatch.setattr(fsio, "publish_dir", publish_with_probe)
    return state


def test_block_rebuild_reader_sees_complete_old_index(
    spark, workdir, monkeypatch
):
    tbl = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/pubrace_events"
    )
    eng = Engine(spark, f"{workdir}/pubrace_idx")
    eng.build_index(tbl, "event_type", num_buckets=4)

    # land one more file AFTER the v1 build: v1's descriptor correctly
    # does not cover it, so a correct mid-rebuild reader must return
    # its rows via the not-covered full-scan lane
    src = sorted(glob.glob(f"{tbl}/*.parquet"))[0]
    shutil.copy(src, f"{tbl}/late_landing.parquet")
    crc = f"{tbl}/.{src.rsplit('/', 1)[1]}.crc"
    shutil.copy(crc, f"{tbl}/.late_landing.parquet.crc")
    spark.catalog.refreshByPath(tbl)

    truth = (
        spark.read.parquet(tbl).where(F.col("event_type") == "click").count()
    )

    observed = {}

    def probe():
        # the rebuild's staging write is done; live postings + old
        # descriptor must still serve the complete old index
        df = eng.query(tbl, col("event_type") == "click")
        observed["count"] = df.count()
        observed["metrics"] = eng.last_metrics.as_dict()

    state = _probe_on_first_publish(monkeypatch, probe)
    eng.build_index(tbl, "event_type", num_buckets=4, overwrite=True)

    assert state["probed"], "rebuild never reached a publish — hook miswired"
    assert observed["count"] == truth, (
        "mid-rebuild reader lost rows: the old index was not fully "
        f"servable during the rebuild write ({observed})"
    )
    # after the rebuild: same truth, no staging leftovers, and the NEW
    # descriptor covers the late file (so the index prunes again)
    assert eng.query(tbl, col("event_type") == "click").count() == truth
    assert not glob.glob(f"{workdir}/pubrace_idx/**/*.staging", recursive=True)


def test_crashed_publish_fails_loudly_then_self_heals(spark, workdir):
    """Crash simulated between publish_dir's delete and rename: the
    postings dir is gone, its complete .staging sibling remains, the
    descriptor still points at the index. Contract: readers raise the
    NAMED FileNotFoundError (require_published — never a silent wrong
    answer, never a bare path-not-found), and the next build call —
    even a default overwrite=False ensure — recovers the publish
    instead of early-returning the broken state forever."""
    import os

    tbl = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/pubcrash_events"
    )
    eng = Engine(spark, f"{workdir}/pubcrash_idx")
    res = eng.build_index(tbl, "event_type", num_buckets=4)
    truth = eng.query(tbl, col("event_type") == "click").count()

    postings = f"{res.index_dir}/postings"
    os.rename(postings, f"{postings}.staging")  # the crashed state

    with pytest.raises(FileNotFoundError, match="recover_publish"):
        eng.query(tbl, col("event_type") == "click").count()

    eng.build_index(tbl, "event_type", num_buckets=4, overwrite=False)
    assert eng.query(tbl, col("event_type") == "click").count() == truth
    assert not os.path.exists(f"{postings}.staging")


def test_text_rebuild_reader_sees_complete_old_index(
    spark, workdir, monkeypatch
):
    tbl = tables.materialize(
        spark, f"{SF_DIR}/documents.parquet", f"{workdir}/pubrace_docs"
    )
    eng = Engine(spark, f"{workdir}/pubrace_tidx")
    eng.build_text_index(tbl, "text", "doc_id")
    ti = eng.text_index(tbl, "text")
    q = "the"
    truth = ti.count(q)

    observed = {}

    def probe():
        observed["count"] = eng.text_index(tbl, "text").count(q)

    state = _probe_on_first_publish(monkeypatch, probe)
    eng.build_text_index(tbl, "text", "doc_id")  # always rebuilds

    assert state["probed"]
    assert observed["count"] == truth
    assert eng.text_index(tbl, "text").count(q) == truth
    assert not glob.glob(f"{workdir}/pubrace_tidx/**/*.staging", recursive=True)


def _crash_next_publish(monkeypatch):
    """Make the next ``publish_dir`` delete its final dir and then raise
    before the rename — the crashed state a later build or refresh must
    heal. Later calls publish normally."""
    real_publish = fsio.publish_dir

    def crash(spark, tmp_dir, final_dir):
        monkeypatch.setattr(fsio, "publish_dir", real_publish)
        fsio.delete(spark, final_dir)
        raise RuntimeError("simulated crash between delete and rename")

    monkeypatch.setattr(fsio, "publish_dir", crash)


@pytest.mark.parametrize("crashed", ["build", "refresh"])
def test_crashed_publish_is_healed_by_the_other_writer(
    spark, workdir, monkeypatch, crashed
):
    """Builds and refreshes stage at one name, so a refresh heals a
    build's crashed publish and a build heals a refresh's: afterwards
    the index answers as the full scan does."""
    from elephant_twin_spark.streaming import refresh

    tbl = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/heal_{crashed}_events"
    )
    root = f"{workdir}/heal_{crashed}_idx"
    eng = Engine(spark, root)
    eng.build_index(tbl, "event_type", num_buckets=4)

    def land_file():
        src = sorted(glob.glob(f"{tbl}/*.parquet"))[0]
        shutil.copy(src, f"{tbl}/late_landing.parquet")
        spark.catalog.refreshByPath(tbl)

    if crashed == "build":
        _crash_next_publish(monkeypatch)
        with pytest.raises(RuntimeError, match="simulated"):
            eng.build_index(tbl, "event_type", num_buckets=4)
        land_file()
        out = refresh.refresh_block_index(spark, tbl, "event_type", root)
        assert out["mode"] == "incremental"
    else:
        land_file()
        _crash_next_publish(monkeypatch)
        with pytest.raises(RuntimeError, match="simulated"):
            refresh.refresh_block_index(spark, tbl, "event_type", root)
        eng.build_index(tbl, "event_type", num_buckets=4, overwrite=False)

    truth = spark.read.parquet(tbl).where(F.col("event_type") == "click").count()
    assert eng.query(tbl, col("event_type") == "click").count() == truth
