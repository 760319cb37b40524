"""Round-8 closure tests.

r7 verdict items: (1) a registered cache is a barrier to freeing the
checkpoint beneath it; (2) the scd2_merge
watermark contract must execute (carry_last_ts end-to-end, offender
raise, re-mergeable output); (3) jsonl_audit results must survive an
enclosing scope and stay evictable; (4) the period_over_period ANSI
guard's real trigger (a zero-valued previous period).
"""


import pytest
from pyspark.sql import functions as F

from elephant_twin_spark.operators import lifecycle, temporal
from elephant_twin_spark.operators import kpi


from conftest import is_live, settled_rdd_count, wait_storage as _wait_storage  # noqa: E402


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


# ------------------------------------------------ cache barrier at scope exit

def _storage_ids(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_release_treats_materialized_cache_as_barrier(spark):
    """A MATERIALIZED cache over a checkpoint-derived result is a
    barrier at scope exit (r8 advisor): freeing the checkpoint while
    the cache stays registered would leave a non-recomputable
    snapshot — local reads keep working, but on a real cluster any
    later cached-block loss recomputes through the truncated lineage
    and hard-fails. The checkpoint becomes freeable only once the
    cache is unpersisted."""
    base = settled_rdd_count(spark)
    # id-set growth, not count delta: a slow unpersist ack from a
    # previous test can drop an OLD rdd between baseline and assert
    # (the r12 background-unpersist-decay flake class)
    base_ids = _storage_ids(spark)
    released_after = None
    try:
        with lifecycle.checkpoint_scope():
            ck = lifecycle.pin(spark.range(50_000).selectExpr("id", "id * 3 as v"))
            derived = ck.groupBy((F.col("v") % 5).alias("k")).count().cache()
            assert derived.count() == 5
        # barrier: the scope freed nothing, the cache stays recomputable
        assert is_live(ck)
        new_ids = _storage_ids(spark) - base_ids
        assert len(new_ids) >= 2, (
            f"expected checkpoint + cache still registered, got {new_ids}"
        )
        assert derived.count() == 5
    finally:
        # unconditional cleanup: even on assertion failure the
        # checkpoint must not leak into the shared session (and a
        # cleanup error must not mask the assertion that failed)
        released_after = _final_cleanup(
            lambda: (derived.unpersist(True), lifecycle.release(ck))[1]
        )
    # cache gone -> the checkpoint is freeable
    assert released_after is True
    snap = _wait_storage(spark, lambda s: s["n_rdds"] <= base)
    assert snap["n_rdds"] <= base


def test_release_skips_checkpoint_under_pending_lazy_cache(spark):
    """A cache that is REGISTERED but never materialized must still be
    able to materialize through the checkpoint later: scope exit must
    not free blocks its first action will need (r8 review finding).
    Materializing does not lift the barrier (see the test above); only
    unpersisting the cache does."""
    released_after = None
    try:
        with lifecycle.checkpoint_scope():
            ck = lifecycle.pin(spark.range(10_000).selectExpr("id", "id * 5 as v"))
            derived = ck.groupBy((F.col("v") % 4).alias("k")).count().cache()
        # no action yet — the cache was pending at scope exit
        assert is_live(ck)
        # first materialization reads the (still live) checkpoint
        assert derived.count() == 4
        # still a barrier while the cache is registered
        assert lifecycle.release(ck) is False
    finally:
        released_after = _final_cleanup(
            lambda: (derived.unpersist(True), lifecycle.release(ck))[1]
        )
    assert released_after is True


def test_release_rejects_a_plan_pin_did_not_return(spark):
    """release frees exactly the handle pin returned; any other plan —
    plain, or derived from a pin — belongs to no caller to free."""
    df = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    with pytest.raises(TypeError, match="lifecycle.pin"):
        lifecycle.release(df)
    with lifecycle.checkpoint_scope():
        ck = lifecycle.pin(spark.range(100).selectExpr("id"))
        with pytest.raises(TypeError, match="lifecycle.pin"):
            lifecycle.release(ck.where("id > 3"))


def test_jsonl_audit_survives_scope_and_is_recomputable(spark, tmp_path):
    from elephant_twin_spark.sources import ingest

    src = tmp_path / "rows.jsonl"
    lines = ['{"a": %d, "b": "x%d"}' % (i, i) for i in range(50)]
    lines.insert(10, "{not json")
    src.write_text("\n".join(lines) + "\n")

    with lifecycle.checkpoint_scope():
        good, bad = ingest.jsonl_audit(spark, str(src), "a long, b string")
    # pre-r8 this hard-failed with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    # (the pin was scope-registered, r7 verdict #4); the cache-backed
    # read recomputes instead
    assert good.count() == 50
    assert bad.count() == 1
    # full retirement: dispose unregisters the CacheManager entry via
    # the carried source handle — the audit handles are DONE after this
    # (the corrupt-only-projection guard re-applies without the cache)
    assert ingest.dispose(good) is True
    assert good._ets_cache_source.storageLevel.useMemory is False
    with pytest.raises(Exception, match="CORRUPT_RECORD"):
        good.count()
    # shapes that actually read data columns still work (plain re-read;
    # a bare count() would prune back down to the corrupt-only scan)
    assert len(good.select("a", "b").collect()) == 50
    assert ingest.dispose(spark.range(3)) is False


def test_release_default_spares_caller_input_cache(spark):
    # ownership rule: releasing a pin frees its checkpoint but must NOT
    # clear a caller's input cache sitting under the pinned plan
    inp = spark.range(20_000).selectExpr("id", "id % 5 as k").cache()
    assert inp.count() == 20_000
    ck = lifecycle.pin(inp.groupBy("k").count())
    assert ck.where("count > 0").count() == 5
    assert lifecycle.release(ck) is True  # checkpoint freed...
    assert inp.storageLevel.useMemory  # ...the input cache untouched
    assert inp.count() == 20_000
    inp.unpersist(False)


# ------------------------------------------------ scd2 watermark contract

def test_scd2_merge_validate_raises_on_absorbed_late_event(spark):
    # the r6 advisor counterexample: history a@10, a@20 (one collapsed
    # run, last_ts=20) + batch b@15 — replay would silently produce two
    # intervals where full recompute gives three
    hist = temporal.scd2_intervals(
        spark.createDataFrame(
            [(1, 10, 1, "a"), (1, 20, 2, "a")], "uid int, ts int, eid int, st string"
        ),
        ["uid"], "ts", ["st"], tiebreak=["eid"], carry_last_ts=True,
    )
    assert hist.select("last_ts").first()["last_ts"] == 20
    batch = spark.createDataFrame([(1, 15, 3, "b")], "uid int, ts int, eid int, st string")
    base_rdds = settled_rdd_count(spark)
    base_blocks = lifecycle.storage_snapshot(spark)["n_blocks"]
    # no enclosing scope: the probe's pin must be freed before the raise
    with pytest.raises(ValueError, match="watermark contract"):
        temporal.scd2_merge(hist, batch, ["uid"], "ts", ["st"], tiebreak=["eid"])
    snap = _wait_storage(
        spark, lambda s: s["n_rdds"] <= base_rdds and s["n_blocks"] <= base_blocks
    )
    assert snap["n_rdds"] <= base_rdds and snap["n_blocks"] <= base_blocks, snap
    # explicit opt-out skips the probe (caller accepts divergence risk)
    out = temporal.scd2_merge(
        hist, batch, ["uid"], "ts", ["st"], tiebreak=["eid"], validate=False
    )
    assert out.count() == 2


def test_scd2_merge_without_last_ts_is_accepted_unchecked(spark):
    hist = temporal.scd2_intervals(
        spark.createDataFrame(
            [(1, 10, 1, "a"), (1, 20, 2, "a")], "uid int, ts int, eid int, st string"
        ),
        ["uid"], "ts", ["st"], tiebreak=["eid"],
    )
    batch = spark.createDataFrame([(1, 15, 3, "b")], "uid int, ts int, eid int, st string")
    # no last_ts column -> the precondition is inexpressible; no raise.
    # The result SILENTLY diverges from full recompute (2 intervals,
    # a@10 + b@15, vs the true 3: a@10, b@15, a@20) — this divergence is
    # exactly what carry_last_ts + validate exists to catch.
    assert temporal.scd2_merge(
        hist, batch, ["uid"], "ts", ["st"], tiebreak=["eid"]
    ).count() == 2


@pytest.mark.parametrize("seed", [3, 11])
def test_scd2_merge_with_last_ts_equals_full_recompute_and_remerges(spark, seed):
    import random

    rng = random.Random(seed)
    rows = [
        (rng.randrange(25), i, i, rng.choice(["a", "b", "c", None]))
        for i in range(360)
    ]
    df = spark.createDataFrame(rows, "uid int, ts int, eid int, st string")
    full = temporal.scd2_intervals(
        df, ["uid"], "ts", ["st"], tiebreak=["eid"], carry_last_ts=True
    )
    hist = temporal.scd2_intervals(
        df.where(F.col("ts") < 120), ["uid"], "ts", ["st"],
        tiebreak=["eid"], carry_last_ts=True,
    )
    m1 = temporal.scd2_merge(
        hist, df.where((F.col("ts") >= 120) & (F.col("ts") < 240)),
        ["uid"], "ts", ["st"], tiebreak=["eid"],
    )
    # last_ts survives the merge, so merged output is itself mergeable
    assert "last_ts" in m1.columns
    m2 = temporal.scd2_merge(
        m1, df.where(F.col("ts") >= 240), ["uid"], "ts", ["st"], tiebreak=["eid"]
    )
    key = lambda t: (t[0], t[2])
    a = sorted(map(tuple, full.collect()), key=key)
    b = sorted(map(tuple, m2.select(*full.columns).collect()), key=key)
    assert a == b


def test_scd2_merge_replays_ts_tied_runs_in_chain_order(spark):
    """History runs that share an effective_from (zero-width runs from
    tie-broken same-timestamp changelog events) must replay in chain
    order. The replay cannot use the original tiebreak columns (runs
    carry NULLs for them), so it reconstructs the order from
    effective_to — without that, the merge reshuffles ts-tied runs
    nondeterministically and diverges from full recompute exactly in
    the case tiebreak exists to pin down (r8 review finding)."""
    df = spark.createDataFrame(
        [(1, 10, 1, "a"), (1, 10, 2, "b")], "uid int, ts int, eid int, st string"
    )
    batch = spark.createDataFrame([(1, 20, 3, "c")], "uid int, ts int, eid int, st string")
    hist = temporal.scd2_intervals(
        df, ["uid"], "ts", ["st"], tiebreak=["eid"], carry_last_ts=True
    )
    full = temporal.scd2_intervals(
        df.unionByName(batch), ["uid"], "ts", ["st"],
        tiebreak=["eid"], carry_last_ts=True,
    )
    merged = temporal.scd2_merge(hist, batch, ["uid"], "ts", ["st"], tiebreak=["eid"])
    key = lambda t: tuple((x is None, x) for x in t)
    a = sorted(map(tuple, full.collect()), key=key)
    b = sorted(map(tuple, merged.select(*full.columns).collect()), key=key)
    assert a == b
    # the zero-width a-run survived as zero-width; b closed at the batch event
    by_state = {r["st"]: r for r in merged.collect()}
    assert by_state["a"]["effective_from"] == by_state["a"]["effective_to"] == 10
    assert by_state["b"]["effective_to"] == 20 and by_state["c"]["is_current"]


@pytest.mark.parametrize("seed", [7, 23])
def test_scd2_merge_tie_heavy_changelog_equals_full_recompute(spark, seed):
    """Property run with DENSE ts ties (ts drawn from a 40-value range
    over 300 events): zero-width runs abound in both history and batch,
    per-key cut points keep the watermark contract, and the merge must
    still equal full recompute row-for-row."""
    import random

    rng = random.Random(seed)
    rows = [
        (rng.randrange(15), rng.randrange(40), i, rng.choice(["a", "b", None]))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "uid int, ts int, eid int, st string")
    cut = (F.col("uid") * 7 % 30) + 5
    full = temporal.scd2_intervals(
        df, ["uid"], "ts", ["st"], tiebreak=["eid"], carry_last_ts=True
    )
    hist = temporal.scd2_intervals(
        df.where(F.col("ts") < cut), ["uid"], "ts", ["st"],
        tiebreak=["eid"], carry_last_ts=True,
    )
    merged = temporal.scd2_merge(
        hist, df.where(F.col("ts") >= cut), ["uid"], "ts", ["st"], tiebreak=["eid"]
    )
    key = lambda t: tuple((x is None, x) for x in t)
    a = sorted(map(tuple, full.collect()), key=key)
    b = sorted(map(tuple, merged.select(*full.columns).collect()), key=key)
    assert a == b


def test_scd2_merge_preserves_non_collapsed_history_runs(spark):
    """A history built with collapse_consecutive=False keeps one run per
    changelog row, including consecutive SAME-state runs. The merge's
    forced run boundary preserves the replayed history verbatim, and
    passing the SAME flag makes batch events open their own runs too —
    so the merge stays EXACT against non-collapsed full recompute
    (r8 review finding: the default flag silently collapsed the batch
    side of a non-collapsed history)."""
    df = spark.createDataFrame(
        [(1, 10, 1, "a"), (1, 20, 2, "a"), (1, 30, 3, "b")],
        "uid int, ts int, eid int, st string",
    )
    batch = spark.createDataFrame([(1, 40, 4, "b")], "uid int, ts int, eid int, st string")
    hist = temporal.scd2_intervals(
        df, ["uid"], "ts", ["st"], tiebreak=["eid"],
        collapse_consecutive=False, carry_last_ts=True,
    )
    assert hist.count() == 3  # a@10, a@20, b@30 all kept as runs
    full = temporal.scd2_intervals(
        df.unionByName(batch), ["uid"], "ts", ["st"], tiebreak=["eid"],
        collapse_consecutive=False, carry_last_ts=True,
    )
    merged = temporal.scd2_merge(
        hist, batch, ["uid"], "ts", ["st"], tiebreak=["eid"],
        collapse_consecutive=False,
    )
    key = lambda t: tuple((x is None, x) for x in t)
    a = sorted(map(tuple, full.collect()), key=key)
    b = sorted(map(tuple, merged.select(*full.columns).collect()), key=key)
    assert a == b
    # the re-emitted 'b' is its OWN run, not absorbed into the open one
    assert merged.count() == 4
    # while the DEFAULT flag keeps scd2_intervals' default semantics:
    # batch 'b' extends the open run
    collapsed = temporal.scd2_merge(
        hist, batch, ["uid"], "ts", ["st"], tiebreak=["eid"]
    )
    open_run = collapsed.where(F.col("is_current")).first()
    assert collapsed.count() == 3 and open_run["n_rows"] == 2
    # the absorbed batch event advances the open run's carried watermark
    assert open_run["last_ts"] == 40


def test_scd2_last_ts_reserved_name_rejected(spark):
    df = spark.createDataFrame([(1, 10, "a", 99)], "uid int, ts int, st string, last_ts int")
    with pytest.raises(ValueError, match="reserved"):
        temporal.scd2_intervals(df, ["uid"], "ts", ["st", "last_ts"])
    hist = spark.createDataFrame(
        [(1, "a", 10, 2, None, True)],
        "uid int, st string, effective_from int, n_rows long, effective_to int, is_current boolean",
    )
    batch = spark.createDataFrame([(1, 30, "b", 1)], "uid int, ts int, st string, last_ts int")
    with pytest.raises(ValueError, match="reserved"):
        temporal.scd2_merge(hist, batch, ["uid"], "ts", ["st", "last_ts"])


@pytest.mark.parametrize("seed", [5, 19])
def test_scd2_merge_per_key_watermark_split_equals_full_recompute(spark, seed):
    """Stronger than a global ts split: every key gets its OWN cut
    point, so the batch holds keys at different history depths
    (including history-less keys) while still honoring the per-key
    watermark contract the merge requires."""
    import random

    rng = random.Random(seed)
    rows = [
        (rng.randrange(20), i, i, rng.choice(["a", "b", None]))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "uid int, ts int, eid int, st string")
    # deterministic per-key cut: key k's batch is its events at/after cut_k
    cut = (F.col("uid") * 37 % 200) + 50
    full = temporal.scd2_intervals(
        df, ["uid"], "ts", ["st"], tiebreak=["eid"], carry_last_ts=True
    )
    hist = temporal.scd2_intervals(
        df.where(F.col("ts") < cut), ["uid"], "ts", ["st"],
        tiebreak=["eid"], carry_last_ts=True,
    )
    merged = temporal.scd2_merge(
        hist, df.where(F.col("ts") >= cut), ["uid"], "ts", ["st"],
        tiebreak=["eid"],
    )
    key = lambda t: (t[0], t[2])
    a = sorted(map(tuple, full.collect()), key=key)
    b = sorted(map(tuple, merged.select(*full.columns).collect()), key=key)
    assert a == b


def test_checkpoint_scopes_are_thread_isolated(spark):
    """The scope stack is thread-local: a scope exiting on one thread
    must not release another thread's live pins."""
    import threading

    a_pinned = {}
    a_entered = threading.Event()
    b_done = threading.Event()
    errors = []

    def thread_a():
        try:
            with lifecycle.checkpoint_scope():
                a_pinned["df"] = lifecycle.pin(
                    spark.range(50_000).selectExpr("id", "id*2 as v")
                )
                assert a_pinned["df"].count() == 50_000
                a_entered.set()
                assert b_done.wait(30)
                # B's scope exit must NOT have released A's pin
                assert a_pinned["df"].count() == 50_000
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)
            a_entered.set()

    def thread_b():
        try:
            assert a_entered.wait(30)
            with lifecycle.checkpoint_scope():
                pinned = lifecycle.pin(spark.range(1000).selectExpr("id"))
                assert pinned.count() == 1000
        except Exception as e:  # pragma: no cover
            errors.append(e)
        finally:
            b_done.set()

    ta, tb = threading.Thread(target=thread_a), threading.Thread(target=thread_b)
    ta.start(); tb.start()
    ta.join(60); tb.join(60)
    assert not errors, errors


# ------------------------------------------------ kpi ANSI guard trigger

def test_period_over_period_zero_previous_period_gives_null(spark):
    rows = [
        ("2024-01-01", 10.0),
        ("2024-01-08", 5.0), ("2024-01-09", -5.0),  # week sums to exactly 0
        ("2024-01-15", 40.0),
    ]
    df = spark.createDataFrame(rows, "d string, amt double").select(
        F.col("d").cast("timestamp").alias("d"), "amt"
    )
    out = sorted(
        kpi.period_over_period(df, "d", "amt", period="week").collect(),
        key=lambda r: r["period"],
    )
    assert out[1]["value"] == 0.0 and out[1]["pct_change"] == -1.0
    # the r7 fix's actual trigger: prev == 0 -> NULL, not DIVIDE_BY_ZERO
    assert out[2]["value"] == 40.0 and out[2]["prev_value"] == 0.0
    assert out[2]["pct_change"] is None


# ------------------------------------------------ pinned range-partitioned build

def test_index_builds_leave_no_block_manager_residue(spark, workdir, docs_path):
    """The pinned-input range-partitioned write (build.write_range_partitioned)
    must release its localCheckpoint as soon as the write commits — an
    index build is a one-shot job and must leave block-manager storage
    exactly where it found it (the r5 leak class, applied to the r8
    build-path optimization)."""
    from elephant_twin_spark.operators import build, text

    base = settled_rdd_count(spark)
    build.build_block_index(
        spark, docs_path, "source", f"{workdir}/r8_pin_blockidx", num_buckets=4
    )
    text.build_text_index(
        spark, docs_path, "text", "doc_id", f"{workdir}/r8_pin_textidx", num_buckets=4
    )
    snap = _wait_storage(spark, lambda s: s["n_rdds"] <= base)
    assert snap["n_rdds"] <= base


def test_write_range_partitioned_retries_unpinned_on_block_loss(
    spark, workdir, monkeypatch
):
    """Cluster fault-tolerance contract (r8 review finding): losing the
    pinned localCheckpoint's blocks mid-build must NOT fail the job —
    lineage is truncated so Spark cannot recompute them, but the write
    is overwrite-idempotent, so the helper retries once through the
    original recomputable plan. Simulated by dropping the checkpoint
    blocks right after pinning (what executor loss does)."""
    from elephant_twin_spark.operators import build

    orig_pin = lifecycle.pin
    dropped = []

    def lossy_pin(df, eager=True):
        out = orig_pin(df, eager=eager)
        # blocking unpersist = the blocks are gone before the write reads
        out._jdf.queryExecution().analyzed().rdd().unpersist(True)
        dropped.append(True)
        return out

    monkeypatch.setattr(lifecycle, "pin", lossy_pin)
    df = spark.range(2_000).selectExpr(
        "concat('k', id % 13) as key", "cast(id as string) as file"
    ).groupBy("key", "file").agg(F.count(F.lit(1)).alias("cnt"))
    path = f"{workdir}/r8_lossy_ranged"
    build.write_range_partitioned(df, 3, "key", ("key", "file"), path)
    assert dropped, "sabotage hook never ran"
    assert spark.read.parquet(path).count() == df.count()


def test_is_checkpoint_block_loss_classifier():
    from elephant_twin_spark.operators import build

    assert build._is_checkpoint_block_loss(
        Exception("[CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND] Checkpoint block rdd_6_0 not found!")
    )
    assert not build._is_checkpoint_block_loss(Exception("arbitrary analysis error"))


def test_write_range_partitioned_layout_and_content(spark, workdir):
    """Pinning must not change WHAT is written: same rows, range layout
    (disjoint per-file key ranges), sorted within files."""
    from elephant_twin_spark.operators import build

    df = spark.range(10_000).selectExpr(
        "concat('k', lpad(cast(id % 97 as string), 3, '0')) as key",
        "cast(id as string) as file",
    ).groupBy("key", "file").agg(F.count(F.lit(1)).alias("cnt"))
    path = f"{workdir}/r8_ranged"
    build.write_range_partitioned(df, 4, "key", ("key", "file"), path, bloom_col="key")
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    assert back.select("key").distinct().count() == 97
    # disjoint per-file key ranges = the pruning contract the layout exists for
    import os
    parts = sorted(
        f"{path}/{f}" for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert len(parts) == 4
    spans = []
    for p in parts:
        r = spark.read.parquet(p).agg(
            F.min("key").alias("lo"), F.max("key").alias("hi")
        ).first()
        spans.append((r["lo"], r["hi"]))
    for (lo, hi) in spans:
        assert lo <= hi
    spans.sort()
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next
