"""Physical-plan property audit — the scale claims, checked.

Each operator's docstring makes a claim about its plan shape (pushdown
reaches the parquet scan, small dims broadcast, as-of join is a single
shuffle, brute-force top-k never shuffles). These tests pin those claims
to the actual executed plan so a regression that silently de-optimizes
(e.g. a cast that blocks pushdown, a join that stops broadcasting) fails
loudly — the `.explain()` discipline as CI.
"""

import pyspark.sql.functions as F
import pytest

from elephant_twin_spark.sources import tables

from conftest import SF_DIR


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def events(spark):
    return tables.load_raw(spark, f"{SF_DIR}/events.parquet")


def test_filter_pushdown_reaches_parquet_scan(spark, events):
    df = events.where(F.col("event_type") == "click").select("event_id", "event_type")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)" in plan, plan
    # column pruning: scan schema carries only the selected columns
    assert "ReadSchema" in plan and "value" not in plan.split("ReadSchema")[1][:200], plan


def test_small_dim_join_broadcasts(spark):
    orders = tables.load_sf_table(spark, SF_DIR, "orders")
    customer = tables.load_sf_table(spark, SF_DIR, "customer")
    j = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey).groupBy(
        "c_mktsegment"
    ).count()
    assert "BroadcastHashJoin" in plan_of(j)


def test_asof_join_single_shuffle(spark, events):
    from elephant_twin_spark.operators import temporal

    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    out = temporal.asof_join(purchases, clicks, ["user_id"], "ts", "click_ts", ["click_ts"])
    plan = plan_of(out)
    # one Exchange for the union'd window partitioning — not one per side,
    # and certainly no join-shaped second shuffle
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} shuffles:\n{plan}"
    assert "Join" not in plan, plan


def test_cosine_topk_has_no_shuffle(spark):
    from elephant_twin_spark.operators.pipeline import similarity

    emb = tables.load_raw(spark, f"{SF_DIR}/embeddings.parquet")
    q = [0.1] * emb.select(F.size("embedding").alias("d")).first()["d"]
    top = similarity.cosine_topk(emb, "embedding", "vec_id", q, k=5)
    plan = plan_of(top)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_exact_dedup_is_partial_aggregated(spark):
    from elephant_twin_spark.operators.pipeline import dedup

    docs = tables.load_raw(spark, f"{SF_DIR}/documents.parquet")
    g = dedup.exact_dup_groups(docs, "text", "doc_id")
    plan = plan_of(g)
    # map-side combine: partial_count/partial_min before the exchange
    assert "partial_count" in plan or "partial" in plan.lower(), plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_index_scan_keeps_residual_filter(spark, workdir, events_multifile):
    from elephant_twin_spark import Engine, col

    eng = Engine(spark, f"{workdir}/plans_root")
    eng.build_index(events_multifile, "event_type", num_buckets=4)
    df = eng.query(events_multifile, (col("event_type") == "click") & (col("value") > 5))
    plan = plan_of(df)
    # residual re-check present in the scan filter AND pushed to parquet
    assert "EqualTo(event_type,click)" in plan, plan
    assert "GreaterThan(value,5" in plan, plan


def test_interval_join_keyed_is_sort_merge_not_nested_loop(spark, events):
    from elephant_twin_spark.operators import temporal

    intervals = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("iv_id"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
    )
    points = events.select(F.col("event_id").alias("pt_id"), "user_id", "ts")
    j = temporal.interval_join(points, intervals, "ts", "start", "end", keys=["user_id"])
    plan = plan_of(j)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan


def test_partitioned_join_uses_dynamic_partition_pruning(spark, workdir, events):
    """Joining a date-partitioned fact against a filtered dim must inject
    a DPP subquery filter on the partition column (runtime pruning — the
    join-shaped analog of the secondary-index file pruning)."""
    part_dir = f"{workdir}/events_dpp"
    events.withColumn("event_date", F.to_date("ts")).write.partitionBy(
        "event_date"
    ).mode("overwrite").parquet(part_dir)
    fact = spark.read.parquet(part_dir)
    # a real dim-side filter (limit/orderBy do not qualify for DPP)
    dim = (
        events.select(F.to_date("ts").alias("event_date"), "event_type")
        .where(F.col("event_type") == "signup")
        .select("event_date")
        .distinct()
    )
    old = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats", "true")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try:
        j = fact.join(dim, "event_date").groupBy("event_date").count()
        plan = plan_of(j)
        assert "dynamicpruning" in plan.lower(), plan
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", old)


def test_minhash_signature_build_is_shuffle_free(spark):
    from elephant_twin_spark.operators.pipeline import dedup

    docs = tables.load_raw(spark, f"{SF_DIR}/documents.parquet")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", num_perm=8)
    plan = plan_of(sigs)
    # per-lane array_min projection: ZERO keyed shuffles — the only
    # exchange is the round-robin fan-out repartition (not keyed), and
    # no aggregate appears at all
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "HashAggregate" not in plan, plan


def test_text_postings_build_is_shuffle_free(spark):
    """r16: the (term, doc_id) grouping is per-document and computed
    row-locally, so the postings relation is NARROW — zero hash
    exchanges (was exactly one, the old groupBy; the only exchange in a
    full text build is now the range partitioner of the write)."""
    from elephant_twin_spark.operators import text as T

    docs = tables.load_raw(spark, f"{SF_DIR}/documents.parquet")
    p = T.postings_for(docs, "text", "doc_id")
    plan = plan_of(p)
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_tpch_semi_join_broadcasts_order_side_filter(spark):
    """Q4 shape: the EXISTS semi-join keeps an equi-join on l_orderkey
    (the non-equi shipdate condition rides along as a join filter, never
    a nested loop)."""
    import __spark_entry__ as entry

    df = entry.queries()["priority_fulfilment"](spark, SF_DIR)
    plan = plan_of(df)
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan


def test_tpch_disjunctive_stays_equi_join(spark):
    """Q19 shape: Catalyst extracts the common partkey conjunct from the
    OR-of-ANDs, so the join is hash/broadcast, not nested-loop."""
    import __spark_entry__ as entry

    df = entry.queries()["disjunctive_revenue"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan


def test_tpch_q21_single_fact_pass(spark):
    """Q21 shape: the late-sole-supplier rewrite reads lineitem ONCE
    (one groupBy builds both the supplier count and the late set) —
    no fact-table self-join."""
    import __spark_entry__ as entry

    df = entry.queries()["late_sole_supplier"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("lineitem.parquet") <= 1, plan


def test_funnel_bounded_state_plan(spark, events):
    """r10 review fix: funnel no longer collect_lists a hot user's
    entire event history into one aggregation buffer — the plan must
    contain NO collect_list, only min/sum aggregates (state = one
    timestamp per stage pass), and every non-broadcast exchange must
    hash on the user key. The trade is n user-keyed passes instead of
    the old single shuffle; the bound on per-group state is the point."""
    from elephant_twin_spark.operators import sessionize

    out = sessionize.funnel(
        events, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )
    plan = plan_of(out)
    import re

    assert "collect_list" not in plan, plan
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert shuffles and all(s.startswith("user") for s in shuffles), plan


def test_lsh_gate_bucket_join_stays_hash_equi_join(spark, workdir, monkeypatch):
    """The LSH ingest gate never plans a nested-loop or cartesian join.
    On the driver path its two reads are pruned by IN filters pushed
    into the scans (band hashes on the bucket table, candidate ids on
    the corpus) and the returned plan is a projection with no exchange.
    On the distributed path (forced by a zero probe budget) the bucket
    join is a hash equi-join on (band, band_hash), and the corpus read
    carries an id predicate in its scan within id_pushdown_limit and a
    LeftSemi above it / when disabled (the PLANS.md claim, pinned)."""
    from pyspark.sql import Row

    from elephant_twin_spark.engine import Engine
    from elephant_twin_spark.operators import lsh
    from elephant_twin_spark.operators.pipeline import dedup

    corpus_path = f"{workdir}/lsh_plan_corpus"
    spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=2, text="spark shuffles data between stages across the cluster"),
        ]
    ).write.mode("overwrite").parquet(corpus_path)
    eng = Engine(spark, f"{workdir}/lsh_plan_idx")
    eng.build_lsh_index(corpus_path, "text", "doc_id", num_perm=8, num_bands=4, shingle_k=2)
    idx = eng.lsh_index(corpus_path, "text")
    probe = spark.createDataFrame(
        [Row(doc_id=100, text="the quick brown fox jumps over the lazy cat today")]
    )

    # driver path: record the plans of its bounded collects
    reads = []
    collect = dedup._collect_at_most

    def spy(df, n):
        reads.append(plan_of(df))
        return collect(df, n)

    monkeypatch.setattr(dedup, "_collect_at_most", spy)
    plan = plan_of(idx.gate(probe, "text", "doc_id", threshold=0.5))
    monkeypatch.undo()
    assert "Exchange" not in plan and "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert len(reads) == 3, reads  # probe, buckets, corpus
    pushed = ["\n".join(l for l in r.splitlines() if "PushedFilters" in l) for r in reads]
    assert "In(band_hash" in pushed[1], reads[1]
    assert "In(doc_id" in pushed[2] or "EqualTo(doc_id" in pushed[2], reads[2]

    # distributed path
    monkeypatch.setattr(lsh, "_IN_LIST_ROWS", 0)
    cplan = plan_of(idx.candidate_pairs(probe, "text", "doc_id"))
    assert "BroadcastNestedLoopJoin" not in cplan and "CartesianProduct" not in cplan, cplan
    # bucket join: an equi hash join whose keys include band/band_hash
    assert "band_hash" in cplan, cplan
    joins = [l for l in cplan.splitlines() if "HashJoin" in l or "ShuffledHashJoin" in l]
    assert joins, cplan
    plan = plan_of(idx.gate(probe, "text", "doc_id", threshold=0.5))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    # within id_pushdown_limit the corpus verify read is bounded by an
    # id predicate pushed into the scan (In(doc_id,…), rendered EqualTo
    # for a single id)
    scan_lines = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any(
        ("In(doc_id" in l or "EqualTo(doc_id" in l) for l in scan_lines
    ), plan
    # above the limit (or disabled) the plain LeftSemi is the fallback
    fb = plan_of(
        idx.gate(probe, "text", "doc_id", threshold=0.5, id_pushdown_limit=0)
    )
    assert "LeftSemi" in fb, fb
    # and the pinned candidate table enters the gate plan as a
    # checkpoint scan, not as a second evaluation of the bucket join
    assert "band_hash" not in plan, plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan


def test_merged_len_expr_equals_python_kernel(spark):
    """The distributed planner's codegen'd sorted-sweep fold must compute
    exactly iv.total_length(iv.normalize(...)) for arbitrary
    (overlapping, duplicated, adjacent) range multisets — seeded random
    cases plus adversarial edges."""
    import random

    from elephant_twin_spark.operators.scan import _MERGED_LEN_EXPR
    from elephant_twin_spark.plans import intervals as iv

    rng = random.Random(11)
    cases = [
        [],
        [(0, 10)],
        [(0, 10), (0, 10)],          # exact duplicate
        [(0, 10), (10, 20)],         # adjacent
        [(0, 100), (5, 10), (20, 120)],  # containment + extension
        [(5, 5), (7, 3)],            # empty/inverted ranges dropped upstream
    ]
    for _ in range(40):
        n = rng.randint(1, 12)
        cases.append(
            [(s := rng.randint(0, 100), s + rng.randint(1, 40)) for _ in range(n)]
        )
    rows = [
        (i, [{"s": int(s), "e": int(e)} for s, e in c if e > s])
        for i, c in enumerate(cases)
    ]
    df = spark.createDataFrame(
        rows, "i int, rs array<struct<s:bigint,e:bigint>>"
    ).select("i", F.explode_outer("rs").alias("r")).select(
        "i", F.col("r.s").alias("s"), F.col("r.e").alias("e")
    ).where(F.col("s").isNotNull())
    got = {
        r["i"]: r["mb"]
        for r in df.groupBy("i").agg(F.expr(_MERGED_LEN_EXPR).alias("mb")).collect()
    }
    for i, c in enumerate(cases):
        want = iv.total_length(iv.normalize(c))
        assert got.get(i, 0) == want, (i, c)
