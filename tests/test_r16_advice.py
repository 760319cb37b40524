"""r16 advisor + r15 verdict hardening pins (lease liveness edges).

1. Bounded release (r15 verdict nit 1): a heartbeat renew hung inside a
   slow FS call holds the per-path renew lock; ``release_build_lease``
   must complete-or-loudly-defer within ``RELEASE_LOCK_WAIT_S`` instead
   of blocking unboundedly behind it. Deferring is safe by construction
   — the undeleted marker self-heals via ttl staleness takeover.
2. Post-create confirmation resilience (r16 advisor): a TRANSIENT read
   hiccup on the confirmation re-read must not abort the acquire (it is
   not evidence of a lost takeover race), and a PERSISTENT one must not
   leave this builder's own orphaned marker wedging every subsequent
   builder for the full ttl — the acquire best-effort removes it
   (guarded on its own payload bytes) before raising.
3. _RENEW_LOCKS hygiene (r16 advisor): the per-path lock entry is
   evicted once its lease marker is deleted, so services and bench
   loops that mint a fresh index root per rep don't grow the dict for
   the process lifetime; the guard lock is eagerly initialised so the
   first-ever concurrent renew pair can't mint two distinct guards.
"""

import json
import threading
import time

import pytest

from elephant_twin_spark.sources import fsio


# ------------------------------------------------- bounded release wait

def test_release_defers_loudly_while_renew_parked_in_slow_fs(
    spark, workdir, monkeypatch
):
    """A renew hung in a slow FS call holds the per-path lock; the
    release must return within its bounded wait with a loud warning and
    WITHOUT deleting the marker (the hung renew still owns the order),
    leaving ttl staleness to self-heal the lease."""
    d = f"{workdir}/bounded_release"
    owner = fsio.acquire_build_lease(spark, d, ttl_ms=60_000)
    path = fsio._lease_path(d)
    monkeypatch.setattr(fsio, "RELEASE_LOCK_WAIT_S", 0.3)

    lock = fsio._renew_lock(path)
    parked = threading.Event()
    unpark = threading.Event()

    def hung_renew():
        # stand-in for renew_build_lease parked inside a slow FS read
        # while holding the per-path lock
        with lock:
            parked.set()
            unpark.wait(timeout=30.0)

    t = threading.Thread(target=hung_renew, daemon=True)
    t.start()
    assert parked.wait(timeout=5.0)

    start = time.monotonic()
    with pytest.warns(RuntimeWarning, match="DEFERRING the release"):
        fsio.release_build_lease(spark, d, owner)
    elapsed = time.monotonic() - start
    assert elapsed < 5.0, f"release blocked {elapsed:.1f}s behind the hung renew"
    # deferred, not performed: the marker survives for ttl self-heal
    assert json.loads(fsio.read_text(spark, path))["owner"] == owner

    unpark.set()
    t.join(timeout=5.0)
    # with the renew unwedged the release completes and evicts the lock
    fsio.release_build_lease(spark, d, owner)
    assert not fsio.exists(spark, path)


# ------------------------------------- confirmation-read retry + cleanup

def test_acquire_survives_transient_confirmation_read_failure(
    spark, workdir, monkeypatch
):
    """One failed confirmation re-read is an FS hiccup, not a lost
    takeover race: the retry confirms on the next read and the acquire
    succeeds."""
    d = f"{workdir}/confirm_retry"
    path = fsio._lease_path(d)
    real_read = fsio.read_text
    state = {"failed": 0}

    def flaky_read(spark_, p, *a, **kw):
        if p == path and state["failed"] == 0:
            state["failed"] += 1
            raise IOError("transient read hiccup")
        return real_read(spark_, p, *a, **kw)

    monkeypatch.setattr(fsio, "read_text", flaky_read)
    owner = fsio.acquire_build_lease(spark, d)
    monkeypatch.undo()
    assert state["failed"] == 1
    assert json.loads(fsio.read_text(spark, path))["owner"] == owner
    fsio.release_build_lease(spark, d, owner)


def test_acquire_removes_own_orphan_on_persistent_read_failure(
    spark, workdir, monkeypatch
):
    """All confirmation re-reads fail: the acquire raises, but first
    best-effort deletes the marker IT created (guarded on its own
    payload bytes) — before r16 the orphan wedged every subsequent
    builder for the full 30-minute ttl."""
    d = f"{workdir}/confirm_orphan"
    path = fsio._lease_path(d)
    real_read = fsio.read_text
    state = {"failures": 0}

    def failing_confirmation(spark_, p, *a, **kw):
        # the three confirmation attempts fail; the guarded-delete's own
        # read (fourth call) succeeds so the cleanup can fire
        if p == path and state["failures"] < 3:
            state["failures"] += 1
            raise IOError("persistent read failure")
        return real_read(spark_, p, *a, **kw)

    monkeypatch.setattr(fsio, "read_text", failing_confirmation)
    with pytest.raises(fsio.BuildLeaseHeld, match="takeover race"):
        fsio.acquire_build_lease(spark, d)
    monkeypatch.undo()
    assert state["failures"] == 3
    # no orphan: the next builder acquires immediately, not after a ttl
    assert not fsio.exists(spark, path)
    owner = fsio.acquire_build_lease(spark, d)
    fsio.release_build_lease(spark, d, owner)


def test_orphan_cleanup_refuses_rivals_marker(spark, workdir, monkeypatch):
    """The orphan cleanup is guarded on OUR payload bytes: if a rival
    replaced the marker while our confirmation reads were failing, the
    cleanup leaves the rival's grant alone."""
    d = f"{workdir}/confirm_orphan_rival"
    path = fsio._lease_path(d)
    real_read = fsio.read_text
    state = {"failures": 0}

    def fail_then_rival(spark_, p, *a, **kw):
        if p == path and state["failures"] < 3:
            state["failures"] += 1
            if state["failures"] == 3:
                # rival steals between our last failed read and cleanup
                fsio.delete(spark_, p)
                fsio.write_text(
                    spark_, p,
                    json.dumps({"owner": "rival",
                                "acquired_ms": int(time.time() * 1000),
                                "ttl_ms": 60_000}),
                )
            raise IOError("persistent read failure")
        return real_read(spark_, p, *a, **kw)

    monkeypatch.setattr(fsio, "read_text", fail_then_rival)
    with pytest.raises(fsio.BuildLeaseHeld, match="takeover race"):
        fsio.acquire_build_lease(spark, d)
    monkeypatch.undo()
    assert json.loads(fsio.read_text(spark, path))["owner"] == "rival"
    fsio.delete(spark, path)


# --------------------------------------------------- _RENEW_LOCKS hygiene

def test_renew_lock_entry_evicted_on_release(spark, workdir):
    """One lock entry per lease path must not outlive the lease: after
    a completed release the dict entry is gone (re-minted on next use)."""
    d = f"{workdir}/lock_evict"
    path = fsio._lease_path(d)
    owner = fsio.acquire_build_lease(spark, d)
    fsio.renew_build_lease(spark, d, owner)
    assert path in fsio._RENEW_LOCKS
    fsio.release_build_lease(spark, d, owner)
    assert path not in fsio._RENEW_LOCKS
    # deferred/early-return releases do NOT evict (marker may live on)
    owner2 = fsio.acquire_build_lease(spark, d)
    fsio.release_build_lease(spark, d, "not-the-owner")
    assert path in fsio._RENEW_LOCKS  # early return: no delete, no evict
    fsio.release_build_lease(spark, d, owner2)
    assert path not in fsio._RENEW_LOCKS


def test_renew_locks_guard_is_eager():
    """The guard is a module-level Lock minted at import, not a lazy
    None: the lazy form was itself the unsynchronized first-call race
    it exists to close (r16 advisor item 1)."""
    assert isinstance(fsio._RENEW_LOCKS_GUARD, type(threading.Lock()))


def test_release_survives_transient_read_failure(spark, workdir, monkeypatch):
    """One failed ownership read must not silently skip deleting a
    marker WE own (r16 sweep — same class as the acquire confirmation):
    before the retry, every subsequent builder waited out the full ttl
    for nothing."""
    d = f"{workdir}/release_retry"
    path = fsio._lease_path(d)
    owner = fsio.acquire_build_lease(spark, d)
    real_read = fsio.read_text
    state = {"failed": 0}

    def flaky_read(spark_, p, *a, **kw):
        if p == path and state["failed"] == 0:
            state["failed"] += 1
            raise IOError("transient read hiccup")
        return real_read(spark_, p, *a, **kw)

    monkeypatch.setattr(fsio, "read_text", flaky_read)
    fsio.release_build_lease(spark, d, owner)
    monkeypatch.undo()
    assert state["failed"] == 1
    assert not fsio.exists(spark, path), "release skipped on a transient hiccup"


def test_heartbeat_beat_times_out_behind_parked_lock(spark, workdir):
    """A beat that cannot get the per-path renew lock within its
    interval raises TimeoutError, which the heartbeat records as
    TRANSIENT and keeps beating (r16 sweep): once the lock unparks, the
    next beat renews and the fence still passes."""
    d = f"{workdir}/hb_parked"
    path = fsio._lease_path(d)
    # ttl 6s → beat interval 2s: beat 1 fires at ~2, its bounded lock
    # wait expires at ~4 (TimeoutError, recorded → event set); we unpark
    # as soon as the heartbeat records it and fence-renew right after,
    # ~2s inside the ttl. No wall-clock sleep decides the order.
    lease = fsio.build_lease(spark, d, ttl_ms=6_000)
    with lease as owner:
        lock = fsio._renew_lock(path)
        parked = threading.Event()
        unpark = threading.Event()

        def hold_lock():
            with lock:
                parked.set()
                unpark.wait(timeout=30.0)

        t = threading.Thread(target=hold_lock, daemon=True)
        t.start()
        assert parked.wait(timeout=5.0)
        # beat 1's bounded wait expires and the heartbeat records it
        assert lease.heartbeat_error_recorded.wait(timeout=30.0)
        unpark.set()
        t.join(timeout=5.0)
        fsio.renew_build_lease(spark, d, owner)  # the fence: must pass
    timeouts = [e for e in lease.heartbeat_errors if isinstance(e, TimeoutError)]
    assert timeouts, "no beat recorded the parked-lock timeout"
    assert not any(
        isinstance(e, fsio.BuildLeaseHeld) for e in lease.heartbeat_errors
    ), lease.heartbeat_errors


def test_late_renew_after_eviction_fails_loudly(spark, workdir):
    """A renew that arrives after release+eviction mints a fresh lock
    object, reads the deleted marker, and raises — it can never
    resurrect the marker, so two lock generations can't interleave a
    torn re-stamp."""
    d = f"{workdir}/late_renew"
    owner = fsio.acquire_build_lease(spark, d)
    fsio.release_build_lease(spark, d, owner)
    with pytest.raises(fsio.BuildLeaseHeld, match="no longer held"):
        fsio.renew_build_lease(spark, d, owner)
