"""Round-9 closure tests for the four r8 advisor findings.

1. A registered cache is a barrier to freeing the checkpoint beneath
   it (cluster-safety: freeing it leaves a non-recomputable snapshot)
   — here the late-registered, sibling and subquery shapes; the
   materialized and pending shapes live in test_r8_lifecycle.py.
2. ``build_text_index`` must get the same lost-checkpoint-block
   classify-and-retry as ``build.write_range_partitioned``.
3. ``build_text_index``'s release must not mask an in-flight write
   error when the release itself fails.
4. ``checkpoint_scope`` exit must release every pin despite individual
   release failures, aggregate those failures, and never mask an
   in-flight body exception.
"""


import pytest
from pyspark.sql import functions as F

from conftest import is_live
from elephant_twin_spark.operators import lifecycle


def _final_cleanup(fn):
    """Run cleanup from a finally block; when the test body is already
    unwinding an exception, swallow cleanup errors so they do not mask
    the real failure (cleanup errors surface only on the success path)."""
    import sys

    unwinding = sys.exc_info()[0] is not None
    try:
        return fn()
    except Exception:  # noqa: BLE001 — suppressed only while unwinding
        if not unwinding:
            raise
        return None


# --------------------------------------------- 1. cache barrier shapes

def test_release_sees_cache_registered_after_first_action(spark):
    """Scope exit must evaluate the barrier against the CURRENT cache
    registry (r9 fix found while closing the barrier item): a cache
    registered AFTER an action on the derived handle still protects
    the checkpoint beneath it."""
    with lifecycle.checkpoint_scope():
        ck = lifecycle.pin(spark.range(10_000).selectExpr("id", "id * 13 as v"))
        derived = ck.selectExpr("id", "v + 1 as w")
        assert derived.count() == 10_000  # memoizes a cache-free plan
        derived.cache()
        assert derived.count() == 10_000  # materializes the late cache
    try:
        assert is_live(ck)
    finally:
        derived.unpersist(True)
    assert lifecycle.release(ck) is True


def test_release_barrier_covers_sibling_cached_result(spark):
    """The barrier is GLOBAL, not plan-local (r9 review finding): with
    two results sharing one checkpoint — the clean_corpus (cleaned,
    audit) shape — a cache on ONE sibling protects the checkpoint the
    OTHER reads, so both stay usable after the scope exits."""
    released_after = None
    try:
        with lifecycle.checkpoint_scope():
            ck = lifecycle.pin(spark.range(10_000).selectExpr("id", "id * 3 as v"))
            cleaned = ck.where("v % 2 = 0").cache()
            audit = ck.selectExpr("id", "v")
            assert cleaned.count() == 10_000 // 2
        # the sibling cache protected the shared checkpoint
        assert is_live(ck)
        assert cleaned.count() == 10_000 // 2
        assert audit.count() == 10_000
    finally:
        released_after = _final_cleanup(
            lambda: (cleaned.unpersist(True), lifecycle.release(ck))[1]
        )
    # sibling cache gone -> the shared checkpoint is freeable
    assert released_after is True


def test_release_barrier_sees_checkpoint_behind_subquery(spark):
    """A cache can reach a checkpoint solely through a scalar-subquery
    plan, which collectLeaves never enters (r9 second-pass review
    finding) — the protected-set walk must traverse subqueriesAll so
    the barrier holds for that shape too."""
    released_after = None
    try:
        with lifecycle.checkpoint_scope():
            ck = lifecycle.pin(spark.range(1_000).selectExpr("id", "id * 2 as v"))
            ck.createOrReplaceTempView("r9_sq_ck")
            spark.range(100).selectExpr("id").createOrReplaceTempView("r9_sq_other")
            cached = spark.sql(
                "SELECT id FROM r9_sq_other WHERE id < (SELECT max(v) / 100 FROM r9_sq_ck)"
            ).cache()
            assert cached.count() > 0
        # the only path from the cache to the checkpoint is the subquery
        assert is_live(ck)
    finally:
        released_after = _final_cleanup(
            lambda: (cached.unpersist(True), lifecycle.release(ck))[1]
        )
    assert released_after is True


def test_clean_corpus_sibling_cache_blocks_release(spark, docs_path):
    """The barrier at operator level: cache one clean_corpus result
    inside the scope — the shared gate checkpoint must survive the
    scope's exit until the cache is unpersisted. The kept pins pass to
    the outer scope, which frees them once the cache is gone."""
    from elephant_twin_spark.operators.pipeline import clean

    docs = spark.read.parquet(docs_path).limit(200)
    with lifecycle.checkpoint_scope():
        try:
            with lifecycle.checkpoint_scope() as pins:
                cleaned, audit = clean.clean_corpus(
                    docs, "text", "doc_id", min_tokens=10, allowed_langs=("en",),
                    num_perm=16, num_bands=4,
                )
                cleaned.cache()
                n_clean = cleaned.count()
                assert 0 < n_clean < 200
            # the gate checkpoint is shared; the sibling cache kept it
            assert any(is_live(p) for p in pins)
            assert cleaned.count() == n_clean  # cache intact and serving
            assert audit.count() == 200
        finally:
            _final_cleanup(lambda: cleaned.unpersist(True))
    assert not any(is_live(p) for p in pins)


# ------------------------------------- 2. text build block-loss retry

def test_build_text_index_retries_unpinned_on_block_loss(
    spark, workdir, docs_path, monkeypatch
):
    """build_text_index pins the postings itself (pin_input=False) and
    so bypassed write_range_partitioned's retry (r8 advisor): an
    executor lost between pin and commit failed the whole build where
    the unpinned lineage would have recomputed. Simulate the loss by
    dropping the checkpoint blocks right after pinning and assert the
    build completes through the recomputable fallback."""
    from elephant_twin_spark.operators import text

    orig_pin = lifecycle.pin
    dropped = []

    def lossy_pin(df, eager=True):
        out = orig_pin(df, eager=eager)
        out._jdf.queryExecution().analyzed().rdd().unpersist(True)
        dropped.append(True)
        return out

    monkeypatch.setattr(lifecycle, "pin", lossy_pin)
    idx_dir = text.build_text_index(
        spark, docs_path, "text", "doc_id", f"{workdir}/r9_lossy_text",
        num_buckets=4,
    )
    assert dropped, "sabotage hook never ran"
    # both artifacts of the retried span are present and consistent
    n_docs = spark.read.parquet(docs_path).count()
    doclens = spark.read.parquet(f"{idx_dir}/doclens")
    assert doclens.count() == n_docs
    postings = spark.read.parquet(f"{idx_dir}/postings")
    assert postings.count() > 0
    # postings doc ids all resolve against doclens (the join the query
    # side performs) — the retry wrote a coherent pair, not a torn one
    orphans = postings.select("doc_id").distinct().join(
        doclens.select("doc_id"), "doc_id", "left_anti"
    )
    assert orphans.count() == 0


def test_build_text_index_nonrecoverable_error_not_masked_by_release(
    spark, workdir, docs_path, monkeypatch
):
    """A non-block-loss write failure must propagate even when the
    best-effort release during unwind ALSO fails (r8 advisor: the bare
    ``finally: release(pinned)`` replaced the original error with the
    release error)."""
    from elephant_twin_spark.operators import build as build_mod, text

    def failing_write(*a, **k):
        raise ValueError("simulated commit failure")

    orig_release = lifecycle.release
    leaked = []

    def noisy_release(df):
        leaked.append(df)
        raise RuntimeError("simulated release walk failure")

    monkeypatch.setattr(build_mod, "write_range_partitioned", failing_write)
    monkeypatch.setattr(lifecycle, "release", noisy_release)
    with pytest.raises(ValueError, match="simulated commit failure"):
        text.build_text_index(
            spark, docs_path, "text", "doc_id", f"{workdir}/r9_failed_text",
            num_buckets=4,
        )
    # exactly one best-effort release attempt, then clean up for real
    assert len(leaked) == 1
    monkeypatch.undo()
    orig_release(leaked[0])


# ------------------------------ 4. checkpoint_scope failure isolation

def test_checkpoint_scope_releases_later_pins_despite_failure(spark, monkeypatch):
    """One bad release must not leak every LATER pin in the scope; the
    failures surface as one aggregate ExceptionGroup after the loop."""
    orig_release = lifecycle.release
    calls = []

    def flaky_release(df):
        calls.append(df)
        if len(calls) == 1:
            raise RuntimeError("simulated release failure")
        return orig_release(df)

    monkeypatch.setattr(lifecycle, "release", flaky_release)
    with pytest.raises(lifecycle.ExceptionGroup, match="release failed for 1/2"):
        with lifecycle.checkpoint_scope():
            a = lifecycle.pin(spark.range(5_000).selectExpr("id", "id*2 as v"))
            b = lifecycle.pin(spark.range(5_000).selectExpr("id", "id*3 as v"))
            assert a.count() == 5_000 and b.count() == 5_000
    assert len(calls) == 2, "exit loop stopped at the first failure"
    monkeypatch.undo()
    # the second pin really was released; the first leaked only because
    # its (simulated) release failed — free it now
    assert lifecycle.release(b) is False
    assert lifecycle.release(a) is True


def test_checkpoint_scope_release_failure_never_masks_body_error(
    spark, monkeypatch
):
    leaked = []

    def failing_release(df):
        leaked.append(df)
        raise RuntimeError("simulated release failure")

    monkeypatch.setattr(lifecycle, "release", failing_release)
    with pytest.raises(ValueError, match="body error"):
        with lifecycle.checkpoint_scope():
            lifecycle.pin(spark.range(1_000).selectExpr("id"))
            raise ValueError("body error")
    monkeypatch.undo()
    for df in leaked:
        lifecycle.release(df)


def test_checkpoint_scope_clean_exit_still_surfaces_single_failure(
    spark, monkeypatch
):
    """The aggregate raise keeps the signal the r8 round added: a
    steady-state release failure on a healthy body is an error, not a
    silent per-session leak."""
    leaked = []

    def failing_release(df):
        leaked.append(df)
        raise RuntimeError("simulated release failure")

    monkeypatch.setattr(lifecycle, "release", failing_release)
    with pytest.raises(lifecycle.ExceptionGroup) as ei:
        with lifecycle.checkpoint_scope():
            lifecycle.pin(spark.range(1_000).selectExpr("id")).count()
    assert len(ei.value.exceptions) == 1
    assert isinstance(ei.value.exceptions[0], RuntimeError)
    monkeypatch.undo()
    for df in leaked:
        lifecycle.release(df)
