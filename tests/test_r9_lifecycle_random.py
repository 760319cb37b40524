"""Randomized (seeded, deterministic) lifecycle invariant runs.

A model-based sequence of {pin into the open scope, derive+cache,
unpersist, exit scope, release a survivor, re-release a freed pin}
operations against a Python-side ownership model, checking after every
step that:

* a scope exit frees each of its pins IFF no REGISTERED cache depends
  on it (the r9 global barrier — sibling caches included);
* a pin the barrier kept stays readable, and releasing it later frees
  it IFF no cache depends on it by then;
* releasing an ALREADY-FREED pin returns False and never raises;
* after full teardown (all caches unpersisted, all survivors released)
  block-manager storage returns to the session baseline.

The example-based tests in test_r8_lifecycle.py / test_r9_advice.py pin
individual shapes; this sweeps compositions of them.
"""

import contextlib
import random

import pytest

from conftest import is_live, settled_rdd_count, wait_storage
from elephant_twin_spark.operators import lifecycle


class _Model:
    """Python-side ground truth for what scope exit and release must do."""

    def __init__(self, spark):
        self.spark = spark
        self.n = 0
        self.scope = None
        self.in_scope = {}      # idx -> DataFrame (pinned in the open scope)
        self.survivors = {}     # idx -> DataFrame (kept by the barrier)
        self.freed = {}         # idx -> DataFrame (released, unusable)
        self.caches = {}        # cache idx -> (df, checkpoint idx, materialized)
        self.n_caches = 0
        self.open_scope()

    def open_scope(self):
        self.scope = lifecycle.checkpoint_scope()
        self.scope.__enter__()

    def live(self):
        return {**self.in_scope, **self.survivors}

    def pin(self, rng):
        idx = self.n
        self.n += 1
        self.in_scope[idx] = lifecycle.pin(
            self.spark.range(1_000 + idx).selectExpr("id", f"id * {idx + 2} as v")
        )

    def derive_cache(self, rng):
        live = self.live()
        if not live:
            return
        dep = rng.choice(sorted(live))
        cached = live[dep].selectExpr("id", f"v + {self.n_caches} as w").cache()
        materialized = rng.random() < 0.7
        if materialized:
            assert cached.count() == 1_000 + dep
        self.caches[self.n_caches] = (cached, dep, materialized)
        self.n_caches += 1

    def unpersist_cache(self, rng):
        if not self.caches:
            return
        cidx = rng.choice(sorted(self.caches))
        cached, _, _ = self.caches.pop(cidx)
        cached.unpersist(True)

    def protected(self, ck_idx):
        return any(dep == ck_idx for _, dep, _ in self.caches.values())

    def exit_scope(self, rng=None):
        self.scope.__exit__(None, None, None)
        for idx, df in sorted(self.in_scope.items()):
            expected_live = self.protected(idx)
            assert is_live(df) is expected_live, (
                f"scope exit: ck{idx} live={is_live(df)}, "
                f"expected {expected_live}"
            )
            (self.survivors if expected_live else self.freed)[idx] = df
        self.in_scope = {}
        self.open_scope()

    def release_survivor(self, rng):
        if not self.survivors:
            return
        idx = rng.choice(sorted(self.survivors))
        expected = not self.protected(idx)
        got = lifecycle.release(self.survivors[idx])
        assert got is expected, (
            f"release(ck{idx}) -> {got}, expected {expected}"
        )
        if expected:
            self.freed[idx] = self.survivors.pop(idx)

    def release_freed(self, rng):
        """Double-release: must be a calm no-op, never True, never raise."""
        if not self.freed:
            return
        idx = rng.choice(sorted(self.freed))
        assert lifecycle.release(self.freed[idx]) is False

    def check_reads(self):
        # every live checkpoint must still answer queries
        for idx, df in sorted(self.live().items()):
            assert df.count() == 1_000 + idx
        # every materialized cache must still serve
        for cidx, (cached, dep, materialized) in sorted(self.caches.items()):
            if materialized:
                assert cached.count() == 1_000 + dep

    def teardown(self):
        for cached, _, _ in self.caches.values():
            cached.unpersist(True)
        self.caches.clear()
        self.scope.__exit__(None, None, None)
        assert not any(is_live(df) for df in self.in_scope.values())
        for idx in sorted(self.survivors):
            assert lifecycle.release(self.survivors[idx]) is True
        for df in self.freed.values():
            assert lifecycle.release(df) is False


@pytest.mark.parametrize("seed", [1, 17, 42])
def test_lifecycle_random_sequences_hold_invariants(spark, seed):
    base = settled_rdd_count(spark)
    rng = random.Random(seed)
    m = _Model(spark)
    ops = [m.pin]  # always start with one checkpoint
    for _ in range(15):
        ops.append(
            rng.choice(
                [m.pin, m.derive_cache, m.derive_cache, m.unpersist_cache,
                 m.exit_scope, m.release_survivor, m.release_freed]
            )
        )
    try:
        for op in ops:
            op(rng)
            m.check_reads()
    except BaseException:
        # leave no open scope on this thread for later tests
        with contextlib.suppress(Exception):
            m.scope.__exit__(None, None, None)
        raise
    m.teardown()
    snap = wait_storage(spark, lambda s: s["n_rdds"] <= base, timeout_s=8.0)
    assert snap["n_rdds"] <= base, snap
