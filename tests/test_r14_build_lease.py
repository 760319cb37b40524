"""Concurrent-writer protection for index builds (r13 verdict item 4).

The publish contract always documented SINGLE WRITER per index dir;
nothing enforced it. Two simultaneous ``build_block_index`` calls on
one idx_dir share the staged path, so writer B's overwrite can gut the
dir writer A is renaming — and for paired indexes the halves could be
published by DIFFERENT builders under different epochs. The build
lease (``fsio.acquire_build_lease``: create-exclusive marker + ttl
staleness takeover) turns that interleaving into a loud
``BuildLeaseHeld``. Reference analog: the per-file indexing job's
hasPreviousIndex overwrite-skip
(core/indexing/AbstractBlockIndexingJob.java:176-312).
"""

import json
import time

import pyspark.sql.functions as F
import pytest

from elephant_twin_spark import Engine, col
from elephant_twin_spark.operators import build as build_mod
from elephant_twin_spark.sources import fsio, tables

from conftest import SF_DIR


# ------------------------------------------------------------ lease unit

def test_lease_is_exclusive_and_released(spark, workdir):
    d = f"{workdir}/lease_unit"
    owner = fsio.acquire_build_lease(spark, d)
    with pytest.raises(fsio.BuildLeaseHeld):
        fsio.acquire_build_lease(spark, d)
    fsio.release_build_lease(spark, d, owner)
    # released → a new builder acquires
    owner2 = fsio.acquire_build_lease(spark, d)
    fsio.release_build_lease(spark, d, owner2)


def test_stale_lease_takeover(spark, workdir):
    d = f"{workdir}/lease_stale"
    # a crashed builder's marker, older than its ttl
    fsio.write_text(
        spark,
        f"{d}/{fsio.BUILD_LEASE_NAME}",
        json.dumps(
            {"owner": "dead", "acquired_ms": int(time.time() * 1000) - 10_000,
             "ttl_ms": 1_000}
        ),
    )
    owner = fsio.acquire_build_lease(spark, d, ttl_ms=1_000)
    assert owner != "dead"
    fsio.release_build_lease(spark, d, owner)


def test_release_is_owner_checked(spark, workdir):
    """After a ttl takeover, the ORIGINAL builder's release must not
    delete the new holder's lease (that would re-open the window)."""
    d = f"{workdir}/lease_owner"
    stale = fsio.acquire_build_lease(spark, d, ttl_ms=1)
    time.sleep(0.01)
    fresh = fsio.acquire_build_lease(spark, d, ttl_ms=60_000)
    fsio.release_build_lease(spark, d, stale)  # no-op: not the owner
    with pytest.raises(fsio.BuildLeaseHeld):
        fsio.acquire_build_lease(spark, d, ttl_ms=60_000)
    fsio.release_build_lease(spark, d, fresh)


# ------------------------------------------- interleaved builders (block)

def test_interleaved_builders_second_raises(spark, workdir, monkeypatch):
    """Builder B starting while builder A is between its staged write
    and its publish must fail LOUD — previously B's staging overwrite
    could gut the dir A was about to rename (last-writer-wins, or worse
    a half-A half-B hybrid)."""
    tbl = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/ilv_events"
    )
    eng = Engine(spark, f"{workdir}/ilv_idx")
    eng.build_index(tbl, "event_type", num_buckets=4)
    truth = spark.read.parquet(tbl).where(F.col("event_type") == "purchase").count()

    real_publish = fsio.publish_dir
    state = {"inner": None}

    def publish_with_second_builder(spark_, tmp_dir, final_dir):
        if state["inner"] is None:
            # A holds the lease mid-build; B must be refused here
            with pytest.raises(fsio.BuildLeaseHeld):
                eng.build_index(tbl, "event_type", num_buckets=4)
            state["inner"] = "refused"
        real_publish(spark_, tmp_dir, final_dir)

    monkeypatch.setattr(fsio, "publish_dir", publish_with_second_builder)
    eng.build_index(tbl, "event_type", num_buckets=4)
    monkeypatch.undo()

    assert state["inner"] == "refused"
    # A's build completed and serves the correct answer; lease released
    assert eng.query(tbl, col("event_type") == "purchase").count() == truth
    eng.build_index(tbl, "event_type", num_buckets=4)  # no leftover lease


def test_crashed_builder_leaves_recoverable_lease(spark, workdir, monkeypatch):
    """A builder that DIES mid-build releases via finally when it can;
    when it can't (hard kill), the marker ages out via ttl takeover —
    either way the next build eventually proceeds."""
    tbl = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/crash_events"
    )
    idx_root = f"{workdir}/crash_idx"

    def boom(*a, **kw):
        raise RuntimeError("simulated mid-build crash")

    monkeypatch.setattr(build_mod, "write_range_partitioned", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        build_mod.build_block_index(spark, tbl, "event_type", idx_root)
    monkeypatch.undo()

    # the exception path released the lease — an immediate rebuild works
    res = build_mod.build_block_index(spark, tbl, "event_type", idx_root)
    assert res.index_dir


# ------------------------------------------ recover_pair unhealable pair

def _write_tiny(spark, path: str, tag: str) -> None:
    spark.createDataFrame([(tag,)], "tag string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def test_recover_pair_still_raises_when_unhealable(spark, workdir):
    """No staged sibling carries the epoch that could complete the pair
    → recover_pair must still refuse (rebuild is the only way out)."""
    a, b = f"{workdir}/pair_dead/a", f"{workdir}/pair_dead/b"
    _write_tiny(spark, a, "a-new")
    _write_tiny(spark, b, "b-old")
    _write_tiny(spark, fsio.staged_dir(b), "b-stale-refresh")
    fsio.stamp_pair_epoch(spark, a, "E2")
    fsio.stamp_pair_epoch(spark, b, "E1")
    fsio.stamp_pair_epoch(spark, fsio.staged_dir(b), "E0")

    with pytest.raises(OSError, match="rebuild the index"):
        fsio.recover_pair(spark, [a, b])


# ----------------------------------------------- fresh-handle revalidate

def test_ann_handle_revalidate_after_rebuild(spark, workdir):
    """r13 advisor: a long-lived AnnIndex handle can re-arm its cached
    generation with revalidate() instead of being reconstructed."""
    src = f"{workdir}/reval_emb"
    emb = tables.load_raw(spark, f"{SF_DIR}/embeddings.parquet")
    emb.where(F.col("vec_id") < 200).coalesce(2).write.mode("overwrite").parquet(src)
    eng = Engine(spark, f"{workdir}/reval_idx")
    eng.build_ann_index(src, "embedding", "vec_id", nlist=4, max_iter=2)
    handle = eng.ann_index(src, "embedding")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    assert handle.topk(qvec, k=5, nprobe=4).count() == 5
    # rebuild publishes a new epoch; the old handle re-arms and serves it
    eng.build_ann_index(src, "embedding", "vec_id", nlist=4, max_iter=2)
    fresh_ids = [
        r["id"] for r in
        eng.ann_index(src, "embedding").topk(qvec, k=5, nprobe=4).collect()
    ]
    reval_ids = [
        r["id"] for r in
        handle.revalidate().topk(qvec, k=5, nprobe=4).collect()
    ]
    assert reval_ids == fresh_ids


def test_text_handle_revalidate_after_rebuild(spark, workdir):
    tbl = tables.materialize(
        spark, f"{SF_DIR}/documents.parquet", f"{workdir}/reval_docs"
    )
    eng = Engine(spark, f"{workdir}/reval_tidx")
    eng.build_text_index(tbl, "text", "doc_id")
    handle = eng.text_index(tbl, "text")
    n0 = handle.doclens().count()
    eng.build_text_index(tbl, "text", "doc_id")
    assert handle.revalidate().doclens().count() == n0


# ------------------------------------------------- refresher writer lease

def test_refresh_refused_while_builder_holds_lease(spark, workdir):
    """Refreshers take the same writer lease as full builders: a refresh
    starting while a build (or another refresh) is mid-publish must fail
    loudly — both refreshes share one staged path, and a refresh
    interleaving a build could publish stale-generation postings over
    the build's output."""
    from elephant_twin_spark.streaming import refresh as refresh_mod
    from elephant_twin_spark.operators import build as bm
    from elephant_twin_spark.sources import catalog

    tbl = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/rlease_events"
    )
    idx_root = f"{workdir}/rlease_idx"
    bm.build_block_index(spark, tbl, "event_type", idx_root)
    idx_dir = catalog.index_dir(idx_root, tbl, "event_type", kind="block")

    # make the table dirty so the refresh reaches its mutating span
    extra = spark.createDataFrame(
        [(999999, 10**18, "purchase", 1.0, "{}")],
        "event_id long, user_id long, event_type string, value double, properties string",
    ).withColumn("ts", F.lit("2024-02-01 00:00:00").cast("timestamp"))
    extra.coalesce(1).write.mode("append").parquet(tbl)

    owner = fsio.acquire_build_lease(spark, idx_dir)
    try:
        with pytest.raises(fsio.BuildLeaseHeld):
            refresh_mod.refresh_block_index(spark, tbl, "event_type", idx_root)
    finally:
        fsio.release_build_lease(spark, idx_dir, owner)
    # lease released → the refresh proceeds and indexes the new file
    out = refresh_mod.refresh_block_index(spark, tbl, "event_type", idx_root)
    assert out["mode"] == "incremental" and out["files_indexed"] >= 1


def test_refresh_noop_does_not_need_lease(spark, workdir):
    """The clean-table early return stays lease-free: a held lease must
    not block pure no-op refresh polls (the cron deployment mode)."""
    from elephant_twin_spark.streaming import refresh as refresh_mod
    from elephant_twin_spark.operators import build as bm
    from elephant_twin_spark.sources import catalog

    tbl = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/rnoop_events"
    )
    idx_root = f"{workdir}/rnoop_idx"
    bm.build_block_index(spark, tbl, "event_type", idx_root)
    idx_dir = catalog.index_dir(idx_root, tbl, "event_type", kind="block")
    owner = fsio.acquire_build_lease(spark, idx_dir)
    try:
        out = refresh_mod.refresh_block_index(spark, tbl, "event_type", idx_root)
        assert out["mode"] == "noop"
    finally:
        fsio.release_build_lease(spark, idx_dir, owner)


def test_relayout_writer_lease(spark, workdir):
    """Re-layout writers (compact/cluster/zorder) take a sibling-dir
    writer lease: the marker must survive the publish's delete+rename
    of the TARGET dir, and a second writer must be refused mid-span."""
    from elephant_twin_spark.operators import layout

    src = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/wl_src"
    )
    dst = f"{workdir}/wl_dst"
    layout.cluster_table(spark, src, dst, ["ts"], num_files=2)
    lease_dir = dst + ".lease"
    owner = fsio.acquire_build_lease(spark, lease_dir)
    try:
        with pytest.raises(fsio.BuildLeaseHeld):
            layout.cluster_table(spark, src, dst, ["ts"], num_files=2)
        with pytest.raises(fsio.BuildLeaseHeld):
            layout.compact_table(spark, src, dst)
    finally:
        fsio.release_build_lease(spark, lease_dir, owner)
    # released → both proceed; counts preserved
    layout.compact_table(spark, src, dst)
    assert (
        spark.read.parquet(dst).count() == spark.read.parquet(src).count()
    )


def test_unreadable_lease_is_never_deleted(spark, workdir, monkeypatch):
    """A transient marker-read failure within the ttl must NOT evict a
    healthy holder (that would re-open the double-writer window): an
    existing-but-unparsable FRESH marker is refused via its mtime."""
    d = f"{workdir}/lease_unreadable"
    owner = fsio.acquire_build_lease(spark, d)

    real_read = fsio.read_text

    def flaky_read(spark_, path):
        if path.endswith(fsio.BUILD_LEASE_NAME):
            raise IOError("transient storage hiccup")
        return real_read(spark_, path)

    monkeypatch.setattr(fsio, "read_text", flaky_read)
    with pytest.raises(fsio.BuildLeaseHeld, match="cannot be parsed"):
        fsio.acquire_build_lease(spark, d)
    monkeypatch.undo()
    # the healthy holder's lease survived the failed acquire
    with pytest.raises(fsio.BuildLeaseHeld, match="in flight"):
        fsio.acquire_build_lease(spark, d)
    fsio.release_build_lease(spark, d, owner)


def test_torn_lease_self_heals_after_ttl(spark, workdir):
    """A creator crashed between its create-exclusive and its payload
    write leaves a 0-byte marker no one can parse. Within the ttl it
    refuses loudly; past the ttl (by the FILE's mtime) the next acquire
    takes it over — no manual cleanup (r14 review: the first cut wedged
    such an index permanently)."""
    d = f"{workdir}/lease_torn"
    path = f"{d}/{fsio.BUILD_LEASE_NAME}"
    fs, jpath, _ = fsio._fs_and_path(spark, path)
    fs.mkdirs(jpath.getParent())
    fs.create(jpath, False).close()  # 0-byte torn claim

    with pytest.raises(fsio.BuildLeaseHeld, match="cannot be parsed"):
        fsio.acquire_build_lease(spark, d, ttl_ms=60_000)
    time.sleep(0.05)
    owner = fsio.acquire_build_lease(spark, d, ttl_ms=10)  # mtime-stale
    fsio.release_build_lease(spark, d, owner)


# -------------------------------------------- renew fence (zombie writer)

def test_renew_heartbeats_and_fences(spark, workdir):
    """renew_build_lease re-stamps a held lease (heartbeat, so builds
    longer than the ttl keep it) and raises for an owner whose lease was
    taken over (fencing — the zombie must abort BEFORE its publish)."""
    d = f"{workdir}/lease_renew"
    a = fsio.acquire_build_lease(spark, d, ttl_ms=1)
    time.sleep(0.01)
    b = fsio.acquire_build_lease(spark, d, ttl_ms=60_000)  # ttl takeover
    with pytest.raises(fsio.BuildLeaseHeld, match="taken over"):
        fsio.renew_build_lease(spark, d, a)
    fsio.renew_build_lease(spark, d, b)  # holder heartbeat succeeds
    fsio.release_build_lease(spark, d, b)


def test_zombie_builder_aborts_before_publish(spark, workdir, monkeypatch):
    """A build whose lease is taken over MID-STAGED-WRITE (it outlived
    its ttl) must abort at the pre-publish fence, leaving the live index
    exactly as the takeover writer published it — never clobbered."""
    from elephant_twin_spark.sources import catalog

    tbl = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/zomb_events"
    )
    idx_root = f"{workdir}/zomb_idx"
    build_mod.build_block_index(spark, tbl, "event_type", idx_root)
    idx_dir = catalog.index_dir(idx_root, tbl, "event_type", kind="block")

    real_write = build_mod.write_range_partitioned

    def write_then_lose_lease(*a, **kw):
        real_write(*a, **kw)
        # simulate the ttl takeover: another builder replaced the lease
        # while our staged write ran
        fsio.delete(spark, f"{idx_dir}/{fsio.BUILD_LEASE_NAME}")
        fsio.acquire_build_lease(spark, idx_dir)

    monkeypatch.setattr(build_mod, "write_range_partitioned", write_then_lose_lease)
    with pytest.raises(fsio.BuildLeaseHeld, match="taken over"):
        build_mod.build_block_index(spark, tbl, "event_type", idx_root)
    monkeypatch.undo()

    # the zombie never published: live postings still serve correctly
    eng = Engine(spark, idx_root)
    truth = spark.read.parquet(tbl).where(F.col("event_type") == "purchase").count()
    assert eng.query(tbl, col("event_type") == "purchase").count() == truth


def test_refresh_revalidates_descriptor_under_lease(spark, workdir, monkeypatch):
    """r14 review: a full rebuild completing between the refresh's
    lock-free descriptor snapshot and its lease acquire must not make
    the refresh mix old build parameters with new index data. The
    refresh re-snapshots under the lease, so the descriptor it publishes
    carries the REBUILD's options."""
    from elephant_twin_spark.streaming import refresh as refresh_mod
    from elephant_twin_spark.operators import build as bm
    from elephant_twin_spark.sources import catalog

    tbl = tables.materialize(
        spark, f"{SF_DIR}/events.parquet", f"{workdir}/reval_lease_events"
    )
    idx_root = f"{workdir}/reval_lease_idx"
    bm.build_block_index(spark, tbl, "event_type", idx_root, num_buckets=4)
    idx_dir = catalog.index_dir(idx_root, tbl, "event_type", kind="block")

    # dirty the table so the refresh passes its fast path
    extra = spark.read.parquet(tbl).limit(3).withColumn(
        "event_type", F.lit("purchase")
    )
    extra.coalesce(1).write.mode("append").parquet(tbl)

    # interpose on the lease acquire: a REBUILD with different options
    # completes in the window between the refresh's pre-lease snapshot
    # and its acquire
    real_acquire = fsio.acquire_build_lease
    state = {"fired": False}

    def rebuild_then_acquire(spark_, scope, *a, **kw):
        if not state["fired"] and scope == idx_dir:
            state["fired"] = True
            bm.build_block_index(spark, tbl, "event_type", idx_root, num_buckets=8)
            # dirty again so the refresh still has a delta to process
            extra.coalesce(1).write.mode("append").parquet(tbl)
        return real_acquire(spark_, scope, *a, **kw)

    monkeypatch.setattr(fsio, "acquire_build_lease", rebuild_then_acquire)
    out = refresh_mod.refresh_block_index(spark, tbl, "event_type", idx_root)
    monkeypatch.undo()

    assert state["fired"] and out["mode"] == "incremental"
    # the published descriptor carries the rebuild's num_buckets, not
    # the refresh's stale pre-lease snapshot
    desc = catalog.read_descriptor(spark, idx_dir)
    assert desc.num_buckets == 8, desc.num_buckets
    # and the index still answers exactly
    eng = Engine(spark, idx_root)
    truth = spark.read.parquet(tbl).where(F.col("event_type") == "purchase").count()
    assert eng.query(tbl, col("event_type") == "purchase").count() == truth
