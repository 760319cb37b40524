"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Covers the engine's surfaces: index build + index-pruned scans (the
reference's core value), text-index build + search, relational aggs,
join, dedup (minhash-LSH), ANN cosine top-k, quality stats.
"""

from __future__ import annotations

import json
import re
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")


def bands_sf_matches(sf_dir: str, bands_sf) -> bool:
    """True iff the bench SF (parsed from the directory name) equals the
    SF the bands were measured at, compared NUMERICALLY: a string
    comparison of the JSON float against the dir name (sf recorded as 1
    vs dir sf1.0, or 0.10 vs 0.1) silently disables ALL out-of-band
    triage at that SF (r11 advisor; pinned in test_bands_hygiene)."""
    m = re.search(r"sf([0-9]*\.?[0-9]+)/*$", sf_dir)
    try:
        sf = float(bands_sf)
    except (TypeError, ValueError):
        return False
    return m is not None and abs(float(m.group(1)) - sf) < 1e-9
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("elephant-twin-spark-bench")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        # r16: 51 keys x 2-3 reps in ONE JVM generate far more
        # whole-stage-codegen classes than the JDK's default 240 MB
        # ReservedCodeCacheSize holds; once the profiled-nmethods
        # segment fills, the JIT flushes warm methods and hot query
        # paths fall back to interpreted bytecode until recompiled —
        # measured on this tree as random 10-20x CPU blowups on
        # UNTOUCHED keys (q_minhash_lsh reps burning 513 JVM-cpu-s vs
        # 24 steady; the long-documented 33-76 s same-tree bench
        # spread). 512 MB absorbs the whole run. Scale note: this is
        # the standard sizing for any long-lived codegen-heavy Spark
        # JVM (driver or executor), not a local[32] trick.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from elephant_twin_spark import Engine, col
    from elephant_twin_spark.operators.pipeline import (
        decontaminate,
        dedup,
        mixture,
        pack,
        similarity,
        textstats,
    )
    from elephant_twin_spark.sources import tables

    work = f"/tmp/ets_bench/{os.path.basename(SF_DIR)}"
    os.makedirs(work, exist_ok=True)
    eng = Engine(spark, f"{work}/index_root")

    timings: dict[str, float] = {}

    # Per-key reps/aggregation policy + expected bands live in
    # BANDS.json (r10 verdict item 2 — the solo steady bands from
    # SCALE_EXPERIMENTS made machine-readable). Default = best-of-2
    # (r5 re-baseline: single-shot timings on this box swing 2x on
    # untouched code; the min measures the operator with codegen/page
    # cache warm — the steady state a 1000-executor job lives in).
    # Keys marked policy=median3 (builds + the documented noisy keys)
    # run 3 reps and keep the MEDIAN, so the recorded number stops
    # carrying first-touch; builds additionally take a `reset` callable
    # that drops the index between reps, making every rep measure the
    # same fresh-build path (reps>1 would otherwise measure rewrite).
    # Keys read outside their shared_band are reported in the JSON
    # (`out_of_band`) and on stderr — the self-triage replacing the
    # every-round manual solo-rep ritual.
    from elephant_twin_spark.operators import lifecycle

    bands_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BANDS.json")
    try:
        with open(bands_path) as _f:
            _bands_doc = json.load(_f)
    except OSError:
        _bands_doc = {}
    BANDS = _bands_doc.get("keys", {})
    # bands were measured at the driver's bench scale factor; at any
    # other SF the reps policy still applies but out-of-band reporting
    # would be pure noise. Compare NUMERICALLY: string-formatting the
    # JSON float against the directory name (sf recorded as 1 vs dir
    # sf1.0, or 0.10) would silently disable all triage (r11 advisor).
    bands_sf_ok = bands_sf_matches(SF_DIR, _bands_doc.get("sf", 0.1))
    out_of_band: dict[str, dict] = {}

    # Host-load self-triage probes (r15 verdict item 4): wall time alone
    # cannot distinguish a code regression from host load — the r14→r15
    # q_minhash_lsh dispute cost two rounds of solo re-anchoring over a
    # same-tree shared-host spread of 33–76 s. Every rep therefore also
    # records the 1-minute /proc/loadavg and the driver-JVM CPU-seconds
    # delta: an above-band reading with load1 well past this bench's own
    # parallelism, or a cpu/wall ratio far below the key's other reps,
    # is host contention, not code. Linux-only; absent /proc the bench
    # degrades to wall-only (no crash — r16 advisor on the rchar probe).
    def _load1():
        try:
            with open("/proc/loadavg") as f:
                return float(f.read().split()[0])
        except (OSError, ValueError):
            return None

    try:
        _JVM_PID = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:
        _JVM_PID = None
    try:
        _CLK_TCK = os.sysconf("SC_CLK_TCK") or 100
    except (AttributeError, ValueError, OSError):
        _CLK_TCK = 100

    def _jvm_cpu_s():
        if _JVM_PID is None:
            return None
        try:
            with open(f"/proc/{_JVM_PID}/stat") as f:
                # fields after the ')'-terminated comm: [0]=state, utime
                # and stime are kernel fields 14/15 → indices 11/12 here
                parts = f.read().rsplit(")", 1)[1].split()
            return (int(parts[11]) + int(parts[12])) / _CLK_TCK
        except (OSError, IndexError, ValueError):
            return None

    rep_stats: dict[str, dict] = {}

    # SPARK_GRAFT_BENCH_STORAGE=1: per-key block-manager snapshots to
    # stderr (the instrumentation that demonstrated the r5 checkpoint
    # leak and its fix — see SCALE_EXPERIMENTS.md)
    probe_storage = os.environ.get("SPARK_GRAFT_BENCH_STORAGE") == "1"

    def timed(name, reps=2, reset=None):
        pol = BANDS.get(name, {})
        policy = pol.get("policy", "min2" if reps == 2 else f"min{reps}")
        if policy == "median3":
            n_reps, agg = 3, "median"
        elif policy == "min1":
            n_reps, agg = 1, "min"
        else:
            n_reps, agg = reps, "min"
        if reset is None and reps == 1:
            # reps=1 marks a build key: without a reset, a re-build
            # measures the rewrite path — stay single-rep unless the
            # caller provides one (queries re-run safely, so their
            # policy reps apply as-is)
            n_reps = 1

        def deco(fn):
            samples = []
            loads: list = []
            cpus_s: list = []
            out = None
            for i in range(n_reps):
                if i and reset is not None:
                    reset()
                c0 = _jvm_cpu_s()
                t0 = time.perf_counter()
                # scope per rep: every localCheckpoint an operator pins
                # during this key is released once the rep's terminal
                # action finishes — a long-lived session (50 keys x N
                # reps in one JVM, or a real production driver) must not
                # accumulate dead checkpoint blocks that pressure the
                # unified memory pool of UNRELATED later queries
                with lifecycle.checkpoint_scope():
                    out = fn()
                samples.append(time.perf_counter() - t0)
                c1 = _jvm_cpu_s()
                cpus_s.append(
                    round(c1 - c0, 2) if c0 is not None and c1 is not None else None
                )
                loads.append(_load1())
            if any(v is not None for v in loads + cpus_s):
                rep_stats[name] = {"load1": loads, "jvm_cpu_s": cpus_s}
            if agg == "median":
                val = sorted(samples)[len(samples) // 2]
            else:
                val = min(samples)
            timings[name] = round(val, 4)
            band = pol.get("shared_band")
            if bands_sf_ok and band and not (band[0] <= val <= band[1]):
                info = {
                    "value": round(val, 4),
                    "shared_band": band,
                    "samples": [round(s, 4) for s in samples],
                    "load1": loads,
                    "jvm_cpu_s": cpus_s,
                }
                if "solo_steady" in pol:
                    info["solo_steady"] = pol["solo_steady"]
                # auto-annotation (r15 verdict item 4): below the floor
                # is a fast quiet-host reading by construction; above the
                # ceiling with more runnable tasks than cores (load1 >
                # CPUS — this local[CPUS] bench alone cannot sustain
                # that) is host contention, not code. Above the ceiling
                # with a solo anchor on file (r16 triage experience:
                # zone build and SQL front door both fluttered 2-3x over
                # on in-run load that never trips the load1>CPUS rule),
                # point the reader at the anchor — a key whose solo
                # steady sits inside the band regressed the RUN, not the
                # code.
                if val < band[0]:
                    info["triage"] = "below floor: fast quiet-host reading"
                elif any(l is not None and l > CPUS for l in loads):
                    info["triage"] = (
                        f"host_load_suspect: load1 {loads} exceeds the "
                        f"{CPUS} cores this bench can saturate alone — "
                        "re-read against solo_steady before calling it a "
                        "regression"
                    )
                elif "solo_steady" in pol:
                    info["triage"] = (
                        f"above ceiling; solo anchor on file "
                        f"({pol['solo_steady']}) — rerun the key solo "
                        "(tools/solo_watchlist.py or a 5-rep probe) before "
                        "calling it a regression; shared-run flutter on "
                        "this box reads 2-3x over on anchored-healthy keys"
                    )
                out_of_band[name] = info
                print(
                    f"OUT OF BAND {name}: {val:.2f}s vs shared_band "
                    f"{band} (samples {info['samples']}, "
                    f"solo_steady {pol.get('solo_steady', 'n/a')}, "
                    f"load1 {loads}, jvm_cpu_s {cpus_s})",
                    file=sys.stderr,
                )
            if probe_storage:
                snap = lifecycle.storage_snapshot(spark)
                print(f"storage after {name}: {snap}", file=sys.stderr)
            return out

        return deco

    # ---- setup (not timed): normalized multi-file copies
    events = tables.materialize(spark, f"{SF_DIR}/events.parquet", f"{work}/events", 32)
    lineitem = tables.materialize(spark, f"{SF_DIR}/lineitem.parquet", f"{work}/lineitem", 32)
    docs_path = f"{SF_DIR}/documents.parquet"
    # pipeline ops read the normalized MULTI-FILE copy: the driver
    # fixture is one parquet file, which would serialize every per-row
    # text expression into a single task — no real 100 TB table is one
    # file, so the bench input shouldn't be either
    docs_multi = tables.materialize(spark, docs_path, f"{work}/documents", CPUS)
    docs = spark.read.parquet(docs_multi)
    emb = tables.load_raw(spark, f"{SF_DIR}/embeddings.parquet")
    orders = tables.load_sf_table(spark, SF_DIR, "orders")
    customer = tables.load_sf_table(spark, SF_DIR, "customer")

    # untimed warm-up: one shuffle + one codegen'd aggregate so per-query
    # timings measure the OPERATOR, not one-time JVM/codegen/shuffle-service
    # init (A/B'd r4: the first build otherwise absorbs ~3-4 s of warm-up —
    # steady-state event_type build is 0.7-1.0 s, see SCALE_EXPERIMENTS.md)
    spark.range(1_000_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    spark.read.parquet(events).limit(1000).count()
    # ...and one tiny range-partitioned parquet write: the first write of
    # a session pays committer/codec/range-sampler init (~2 s) that has
    # nothing to do with the operator being measured
    (
        spark.range(1000)
        .repartitionByRange(2, "id")
        .write.mode("overwrite")
        .parquet(f"{work}/_warmup")
    )
    # ...and one synthetic pass over the interpreted-expression paths the
    # text/dedup family lives on (higher-order transform/filter/aggregate
    # lambdas, regexp tokenization, xxhash64, collect_list): these JVM
    # code paths are shared across keys but JIT-compile only after real
    # use, so without this the FIRST dedup-family key absorbs multi-second
    # tier-0/C1 warm-up that has nothing to do with the operator (r16:
    # measured 5-48 s first-rep blowups on q_minhash_lsh from exactly
    # this). Synthetic spark.range input only — no test-table results are
    # touched, it warms code, not data.
    _wtoks = F.regexp_extract_all(
        F.concat_ws(" ", F.lit("w"), F.col("id").cast("string"), F.lit("x y")),
        F.lit(r"\S+"), 0,
    )
    (
        spark.range(200_000)
        .select(
            F.array_min(
                F.transform(_wtoks, lambda s: F.xxhash64(F.lit(0), s))
            ).alias("mh"),
            F.size(F.filter(_wtoks, lambda t: t != F.lit("zz"))).alias("nt"),
            F.expr(
                "aggregate(sequence(1, 8), 0L, (acc, x) -> acc + x)"
            ).alias("agg"),
            (F.col("id") % 1000).alias("g"),
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)), F.collect_list("mh"), F.sum("nt"), F.max("agg"))
        .write.format("noop").mode("overwrite").save()
    )

    # ---- index build (the reference's write path)
    # reps come from BANDS.json (median3): the reset drops the index so
    # every rep measures the fresh-build path, and the median sheds the
    # first rep's JIT/page-cache first-touch that single-rep builds
    # used to record (SCALE_EXPERIMENTS r10: "the shared number always
    # carries first-touch")
    timed(
        "build_block_index_event_type",
        reps=1,
        reset=lambda: eng.drop_index(events, "event_type", "block"),
    )(lambda: eng.build_index(events, "event_type", num_buckets=8))
    timed(
        "build_block_index_user_id",
        reps=1,
        reset=lambda: eng.drop_index(events, "user_id", "block"),
    )(lambda: eng.build_index(events, "user_id", num_buckets=8))
    timed(
        "build_text_index_docs",
        reps=1,
        reset=lambda: eng.drop_index(docs_path, "text", "text"),
    )(lambda: eng.build_text_index(docs_path, "text", "doc_id"))

    # ---- index-accelerated queries (the reference's read path)
    timed("q_idx_point")(lambda: eng.query(events, col("event_type") == "click").count())
    timed("q_idx_and")(
        lambda: eng.query(events, (col("event_type") == "click") & (col("user_id") == 7)).count()
    )
    timed("q_idx_or")(
        lambda: eng.query(
            events, (col("event_type") == "signup") | (col("event_type") == "error")
        ).count()
    )
    timed("q_verify_per_key")(lambda: eng.assert_index_consistent(events, "event_type"))
    timed("q_idx_count_only")(lambda: eng.count(events, col("event_type") == "click"))

    # ---- text search
    ti = eng.text_index(docs_path, "text")
    timed("q_text_count")(lambda: ti.count("spark"))
    timed("q_text_bool")(lambda: ti.count("spark AND join"))
    timed("q_text_topn")(lambda: ti.top_n("merge", 10).collect())
    timed("q_text_prefix")(lambda: ti.count("s*"))

    # ---- relational parity
    timed("q_lineitem_agg")(
        lambda: spark.read.parquet(lineitem)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity"),
            F.sum("l_extendedprice"),
            F.avg("l_discount"),
            F.count(F.lit(1)),
        )
        .collect()
    )
    timed("q_join_orders_customer")(
        lambda: orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("rev"))
        .collect()
    )
    # TPC-H Q18 shape: fact-side HAVING aggregate semi-joined back
    timed("q_tpch_large_orders")(
        lambda: orders.join(
            spark.read.parquet(lineitem)
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("sum_qty"))
            .where(F.col("sum_qty") > 150),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .collect()
    )

    # ---- bucketed co-located join (write once, join with zero Exchange)
    from elephant_twin_spark.operators import layout as layout_mod
    from elephant_twin_spark.operators import temporal as temporal_mod

    def _build_bucketed():
        for name, df, key in (
            ("ets_bench_orders_bkt", orders, "o_custkey"),
            ("ets_bench_customer_bkt", customer, "c_custkey"),
        ):
            layout_mod.bucket_table(
                spark, df, name, [key], 8, sort_cols=[key], path=f"{work}/{name}"
            )

    timed("build_bucketed_tables", reps=1)(_build_bucketed)

    def _bucketed_join():
        # broadcast disabled: measuring the no-Exchange sort-merge path
        # (at 100 TB neither fact side broadcasts)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            o = spark.table("ets_bench_orders_bkt")
            c = spark.table("ets_bench_customer_bkt")
            return (
                o.join(c, o["o_custkey"] == c["c_custkey"])
                .groupBy("c_mktsegment")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("rev"))
                .collect()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    timed("q_bucketed_join")(_bucketed_join)

    # ---- SCD2 changelog history (key-partitioned windows only)
    timed("q_scd2_history")(
        lambda: temporal_mod.scd2_intervals(
            spark.read.parquet(events), ["user_id"], "ts", ["event_type"],
            tiebreak=["event_id"],
        ).count()
    )

    # ---- incremental SCD2 merge: history built once (untimed), the
    # timed key is the CDC upsert itself (probe-proportional path)
    ev_all = spark.read.parquet(events)
    _cut = F.lit("2024-01-30").cast("timestamp")
    scd2_hist_path = f"{work}/scd2_hist"
    if not os.path.exists(f"{scd2_hist_path}/_SUCCESS"):
        temporal_mod.scd2_intervals(
            ev_all.where(F.col("ts") < _cut), ["user_id"], "ts", ["event_type"],
            tiebreak=["event_id"],
        ).write.mode("overwrite").parquet(scd2_hist_path)
    timed("q_scd2_merge")(
        lambda: temporal_mod.scd2_merge(
            spark.read.parquet(scd2_hist_path),
            ev_all.where(F.col("ts") >= _cut),
            ["user_id"], "ts", ["event_type"], tiebreak=["event_id"],
        ).count()
    )

    # ---- cross-source overlap matrix (one corpus pass + tiny aggregate)
    timed("q_source_overlap")(
        lambda: dedup.source_overlap_matrix(
            docs.select(F.substring("text", 1, 40).alias("head"), "source"),
            "head", "source",
        ).count()
    )

    # ---- pipeline ops
    timed("q_dedup_exact")(lambda: dedup.exact_dup_groups(docs, "text", "doc_id").count())
    timed("q_minhash_lsh")(
        lambda: dedup.minhash_near_dup_pairs(
            docs, "text", "doc_id", num_perm=16, num_bands=4, threshold=0.7
        ).count()
    )
    # noop sink, not count() (r16 measurement fix, guide-style: count()
    # lets the optimizer prune computed columns). The old two-exchange
    # simhash shape computed signatures as aggregation side effects even
    # under count(); the r16 row-local shape is a pure projection that
    # count() would prune to a tokenize-only filter — the noop write
    # times the actual signature computation either way. r15 recorded
    # 0.73 s under count() on the old shape (solo 0.38-0.5).
    timed("q_simhash")(
        lambda: dedup.simhash64(docs, "text", "doc_id")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # deterministic gates + exact dedup; the near-dup stage is timed
    # separately by q_near_dup_clusters (no double-counting)
    timed("q_clean_corpus")(
        lambda: __import__(
            "elephant_twin_spark.operators.pipeline.clean", fromlist=["clean"]
        ).clean_corpus(docs, "text", "doc_id", near_dup=False)[1]
        .groupBy("reason").count().collect()
    )
    # all_pairs pinned for round-over-round comparability with r1-r3
    timed("q_near_dup_clusters")(
        lambda: dedup.near_dup_clusters(
            docs, "text", "doc_id", num_perm=16, num_bands=4, threshold=0.7,
            edge_mode="all_pairs",
        ).where("NOT is_canonical").count()
    )
    # star = the (now default) linear-candidate scale path
    timed("q_near_dup_clusters_star")(
        lambda: dedup.near_dup_clusters(
            docs, "text", "doc_id", num_perm=16, num_bands=4, threshold=0.7,
            edge_mode="star",
        ).where("NOT is_canonical").count()
    )
    timed("q_quality_stats")(
        lambda: textstats.quality_score(docs, "text").agg(F.avg("quality_score")).collect()
    )
    timed("q_decontaminate")(
        lambda: decontaminate.contamination_report(
            docs.where(F.col("doc_id") % 29 != 0),
            docs.where(F.col("doc_id") % 29 == 0),
            "text", "doc_id", n=5, parallelism=CPUS,
        ).where("contaminated").count()
    )
    timed("q_pack_docs")(
        lambda: pack.pack_manifest(docs, "text", "doc_id", budget=2048, partition_col="source")
        .count()
    )
    _mix_w = {"en": 0.5, "de": 0.15, "es": 0.15, "fr": 0.1, "zh": 0.1}
    timed("q_mixture_resample")(
        lambda: mixture.mixture_resample(docs, "lang", _mix_w, "doc_id").count()
    )
    # stateless expected-rate twin — the 100-TB/streaming path (no
    # per-group window; one tiny count agg + a broadcast-rate filter)
    timed("q_mixture_hash_sample")(
        lambda: mixture.hash_sample(docs, "lang", _mix_w, "doc_id").count()
    )
    # ---- training-data ops: persisted near-dup gate, vocab, sampling
    from elephant_twin_spark.operators.pipeline import vocab as vocab_mod

    timed(
        "build_lsh_index_docs",
        reps=1,
        reset=lambda: eng.drop_index(docs_multi, "text", "lsh"),
    )(
        lambda: eng.build_lsh_index(docs_multi, "text", "doc_id", num_perm=16, num_bands=4)
    )
    lsh_idx = eng.lsh_index(docs_multi, "text")
    probe_docs = docs.limit(500).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" probe")).alias("text"),
    )
    timed("q_lsh_gate")(
        lambda: lsh_idx.gate(probe_docs, "text", "doc_id", threshold=0.6)
        .where("is_near_dup").count()
    )
    timed("q_vocab_build")(
        lambda: vocab_mod.build_vocab(docs, "text", vocab_size=50000).count()
    )
    timed("q_weighted_sample")(
        lambda: textstats.weighted_take(
            docs.withColumn("w", F.col("n_chars").cast("double")),
            "w", 1000, "doc_id", group_cols=["lang"],
        ).count()
    )
    timed("q_quality_top_fraction")(
        lambda: textstats.top_fraction(
            textstats.quality_score(docs, "text"), "quality_score", 0.3,
            group_cols=["source"], approx=True,
        ).count()
    )

    # ---- clustered layout: selectivity-proportional I/O (the reference's
    # ---- logged bytes-ratio objective, observable at file granularity)
    from elephant_twin_spark.operators import layout

    clustered = f"{work}/events_clustered"
    if not os.path.exists(f"{clustered}/_SUCCESS"):
        layout.cluster_table(spark, events, clustered, ["event_type"], num_files=32)
    eng.build_index(clustered, "event_type", num_buckets=8)
    timed("q_idx_clustered_point")(
        lambda: eng.query(clustered, col("event_type") == "click").count()
    )
    bytes_ratio = round(eng.last_metrics.bytes_ratio, 2)
    # same query with the cluster-side planner forced (the >10⁵-file
    # path at 100 TB) — tracked so its overhead stays visible per round
    timed("q_idx_clustered_point_distplan")(
        lambda: eng.query(
            clustered, col("event_type") == "click", distributed_threshold=0
        ).count()
    )
    dist_bytes_ratio = round(eng.last_metrics.bytes_ratio, 2)

    # ---- bloom index: high-cardinality point lookup (no block index on
    # ---- this column, so the probe exercises the bloom path)
    timed(
        "build_bloom_index_suppkey",
        reps=1,
        reset=lambda: eng.drop_index(lineitem, "l_suppkey", "bloom"),
    )(lambda: eng.build_bloom_index(lineitem, "l_suppkey"))
    timed("q_bloom_point")(lambda: eng.query(lineitem, col("l_suppkey") == 17).count())

    # ---- bloom-composed probe (the r14 sub-file-pruning measurement
    # ---- promoted to a benched metric, r14 verdict item 3): write-time
    # ---- parquet blooms on an UNCLUSTERED point-lookup key composed
    # ---- with the block index — files pruned first (postings), then
    # ---- row groups within the survivors (bloom). The sf tables are
    # ---- too small/dense for row-group pruning to register (one row
    # ---- group per file, every key in every file), so the probe uses
    # ---- the same deterministic adversarial layout shape as the r14
    # ---- sub-file pruning A/B (SCALE_EXPERIMENTS.md), scaled to bench
    # ---- time: 1.2M rows / 8 files / 4 row groups per file / ~130 MB,
    # ---- key uniform over 600k values (~2 rows per key, row-group
    # ---- min/max useless
    # ---- everywhere). Bytes are measured at the OS level (/proc rchar
    # ---- — Hadoop's Statistics undercounts Spark 4's vectored-IO path,
    # ---- SCALE_EXPERIMENTS.md r14), so the ratio includes footer,
    # ---- bloom, and postings read overhead: honest end-to-end bytes,
    # ---- min over the timed reps.
    bloom_ab = f"{work}/bloom_ab"
    if not os.path.exists(f"{bloom_ab}/_SUCCESS"):
        (
            spark.range(1_200_000)
            .select(
                (F.xxhash64(F.col("id")) % 600_000).cast("long").alias("k"),
                F.col("id"),
                F.concat(
                    F.md5(F.col("id").cast("string")),
                    F.md5((F.col("id") + 1).cast("string")),
                    F.md5((F.col("id") + 2).cast("string")),
                ).alias("payload"),
            )
            .repartition(8)
            .write.mode("overwrite")
            .option("parquet.block.size", str(4 * 1024 * 1024))
            .option("parquet.bloom.filter.enabled#k", "true")
            .option("parquet.bloom.filter.expected.ndv#k", "65536")
            .option("parquet.bloom.filter.max.bytes", str(512 * 1024))
            .parquet(bloom_ab)
        )
    eng.build_index(bloom_ab, "k", num_buckets=8)
    # rchar probe guard (r16 advisor): the probe assumes Linux /proc AND
    # local-mode Spark (all reads in the driver JVM — in any multi-node
    # deployment executor reads are invisible to the driver's rchar and
    # the ratio would be meaningless). When either fails, the timed key
    # still runs; only the bytes metric is skipped, with a stderr note.
    _rchar_ok = (
        _JVM_PID is not None
        and os.path.exists(f"/proc/{_JVM_PID}/io")
        and spark.sparkContext.master.startswith("local")
    )
    if not _rchar_ok:
        print(
            "bytes_ratio_bloom_composed skipped: /proc/<jvm>/io probe "
            "unavailable (non-Linux) or Spark not in local mode (executor "
            "reads invisible to the driver's rchar)",
            file=sys.stderr,
        )

    def _rchar() -> int:
        with open(f"/proc/{_JVM_PID}/io") as f:
            return int(
                dict(l.split(": ") for l in f.read().strip().splitlines())["rchar"]
            )

    bloom_ab_total = sum(
        os.path.getsize(f"{bloom_ab}/{f}")
        for f in os.listdir(bloom_ab)
        if f.endswith(".parquet")
    )
    # the probed key: k of id=0 — deterministic (fixed xxhash64 seed)
    _k0 = spark.range(1).select(
        (F.xxhash64(F.col("id")) % 600_000).cast("long")
    ).first()[0]
    _bloom_bytes: list = []

    def _bloom_composed_point():
        b0 = _rchar() if _rchar_ok else None
        # the payload is aggregated so the probe READS data pages — a
        # bare count() would be column-pruned to near-free and measure
        # nothing (SCALE_EXPERIMENTS.md r14 measurement note)
        out = (
            eng.query(bloom_ab, col("k") == _k0)
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("payload")).alias("b"))
            .collect()
        )
        if b0 is not None:
            _bloom_bytes.append(_rchar() - b0)
        return out

    timed("q_bloom_composed_point")(_bloom_composed_point)
    bloom_composed_ratio = (
        round(bloom_ab_total / min(_bloom_bytes), 2) if _bloom_bytes else None
    )

    # ---- zone index: range pushdown on a time-clustered copy
    ts_clustered = f"{work}/events_ts_clustered"
    if not os.path.exists(f"{ts_clustered}/_SUCCESS"):
        layout.cluster_table(spark, events, ts_clustered, ["ts"], num_files=32)
    timed(
        "build_zone_index_ts",
        reps=1,
        reset=lambda: eng.drop_index(ts_clustered, "ts", "zone"),
    )(lambda: eng.build_zone_index(ts_clustered, "ts"))
    timed("q_zone_range")(
        lambda: eng.query(
            ts_clustered, "ts BETWEEN '2024-01-10' AND '2024-01-12'"
        ).count()
    )
    zone_bytes_ratio = round(eng.last_metrics.bytes_ratio, 2)

    # ---- temporal joins
    from elephant_twin_spark.operators import temporal

    ev_df = spark.read.parquet(events)
    purchases = ev_df.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev_df.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    timed("q_asof_join")(
        lambda: temporal.asof_join(
            purchases, clicks, ["user_id"], "ts", "click_ts", ["click_ts"]
        ).count()
    )
    intervals = ev_df.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("iv_id"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
    )
    points = ev_df.select(F.col("event_id").alias("pt_id"), "user_id", "ts")
    timed("q_interval_join")(
        lambda: temporal.interval_join(points, intervals, "ts", "start", "end", keys=["user_id"])
        .groupBy("iv_id")
        .count()
        .count()
    )

    # ---- phrase + SQL front door + mergeable sketches
    timed("q_text_phrase")(lambda: ti.count('"sort merge"'))
    timed("q_sql_front_door")(
        lambda: eng.sql(
            f"SELECT event_id, value FROM '{events}' "
            "WHERE event_type = 'purchase' AND value > 10 "
            "ORDER BY value DESC, event_id LIMIT 100"
        ).collect()
    )
    from elephant_twin_spark.functions import sketches

    timed("q_hll_merge_distinct_users")(
        lambda: ev_df.groupBy("event_type")
        .agg(sketches.hll_sketch("user_id").alias("sk"))
        .agg(sketches.hll_estimate(sketches.hll_merge("sk")).alias("d"))
        .collect()
    )

    qvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    timed("q_ann_bruteforce")(
        lambda: similarity.cosine_topk(emb, "embedding", "vec_id", qvec, k=10).collect()
    )
    timed("q_ann_lsh")(
        lambda: similarity.lsh_cosine_topk(
            emb, "embedding", "vec_id", qvec, k=10, bits=4, multiprobe_hamming=1
        ).collect()
    )
    timed("q_knn_join")(
        lambda: similarity.knn_join(
            emb.where(F.col("vec_id") < 8), emb,
            "vec_id", "embedding", "vec_id", "embedding", k=10,
        ).count()
    )

    # bytes-ratio self-triage: the pruning selectivity metrics are
    # DETERMINISTIC at a given SF (same data, same layout, same planner),
    # so any drift is a real planner/layout regression, not noise
    if bands_sf_ok:
        for mname, mval in (
            ("bytes_ratio_clustered_point", bytes_ratio),
            ("bytes_ratio_zone_range", zone_bytes_ratio),
            ("bytes_ratio_distplan", dist_bytes_ratio),
            # rchar-measured (not planner-planned): deterministic layout
            # and plan, but the reading includes JVM incidental I/O —
            # min-of-reps, band wider than the planner ratios'
            ("bytes_ratio_bloom_composed", bloom_composed_ratio),
        ):
            if mval is None:
                continue  # probe unavailable on this host (stderr-noted)
            mband = _bands_doc.get("metrics", {}).get(mname, {}).get("band")
            if mband and not (mband[0] <= mval <= mband[1]):
                out_of_band[mname] = {"value": mval, "shared_band": mband}
                hint = (
                    "rchar-measured (≈10% incidental-read noise is in the "
                    "band); beyond it, suspect a layout/bloom regression"
                    if mname == "bytes_ratio_bloom_composed"
                    else "pruning selectivity is deterministic; this is a "
                    "REGRESSION, not noise"
                )
                print(
                    f"OUT OF BAND {mname}: {mval} vs {mband} — {hint}",
                    file=sys.stderr,
                )

    sf = SF_DIR.rsplit("sf", 1)[-1]
    total = round(sum(timings.values()), 4)
    doc = {
        "metric": "ets_headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "bytes_ratio_clustered_point": bytes_ratio,
        "bytes_ratio_zone_range": zone_bytes_ratio,
        "bytes_ratio_distplan": dist_bytes_ratio,
        "out_of_band": out_of_band,
        # per-rep host-load record (r15 verdict item 4): load1 at rep
        # end + driver-JVM cpu-seconds per rep, so an out-of-band wall
        # reading can be triaged against host contention from the BENCH
        # file itself instead of a next-round solo-anchor ritual
        "rep_stats": rep_stats,
        # per-key min JVM-CPU-seconds across reps (r16 verdict item 6,
        # additive): wall on this box is load-dominated (documented
        # same-tree spread 33-76 s), so round-over-round comparisons
        # should flag a key "regressed" only when BOTH wall and CPU
        # move — CPU is immune to scheduling stalls, and the per-rep
        # min discards JIT-churn first-rep outliers
        "queries_cpu_min": {
            k: min(c for c in v["jvm_cpu_s"] if c is not None)
            for k, v in rep_stats.items()
            if any(c is not None for c in v["jvm_cpu_s"])
        },
    }
    if bloom_composed_ratio is not None:
        doc["bytes_ratio_bloom_composed"] = bloom_composed_ratio
    print(json.dumps(doc))


if __name__ == "__main__":
    main()
