"""Solo-rep triage for bench watch-list keys (VERDICT r9 item 1, made
key-generic in r11 for the recurring ritual).

Runs the named keys N reps each in ONE JVM with bench.py's exact
warm-up and prints per-rep wall time and CPU seconds (the JVM's plus
the driver process's) — the house discipline for deciding
"box noise vs real regression" on a shared-bench riser. Builds get a
FRESH index_root per rep (each rep is a genuine cold build; rep 1 still
shows first-touch effects vs the steady later reps).

Usage: python tools/solo_watchlist.py [sf_dir] [key ...]
Default keys = the r9 watch list. Supported keys beyond it:
q_minhash_lsh, q_mixture_resample, q_mixture_hash_sample, q_lsh_gate,
q_near_dup_clusters, q_simhash, q_scd2_merge, q_dedup_exact.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_args = [a for a in sys.argv[1:]]
SF_DIR = (_args.pop(0) if _args and os.path.sep in _args[0] else "/root/testdata/sf0.1").rstrip("/")
KEYS = _args or [
    "build_block_index_event_type",
    "build_text_index_docs",
    "q_idx_point",
    "q_idx_count_only",
    "q_text_count",
]
CPUS = 32


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("ets-solo-watchlist")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from elephant_twin_spark import Engine, col
    from elephant_twin_spark.operators import lifecycle
    from elephant_twin_spark.operators.pipeline import dedup, mixture
    from elephant_twin_spark.sources import tables

    work = "/tmp/ets_solo_work"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    events = tables.materialize(spark, f"{SF_DIR}/events.parquet", f"{work}/events", 32)
    docs_path = f"{SF_DIR}/documents.parquet"
    docs_multi = tables.materialize(spark, docs_path, f"{work}/documents", CPUS)
    docs = spark.read.parquet(docs_multi)

    # bench.py's exact warm-up
    spark.range(1_000_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    spark.read.parquet(events).limit(1000).count()
    (
        spark.range(1000)
        .repartitionByRange(2, "id")
        .write.mode("overwrite")
        .parquet(f"{work}/_warmup")
    )

    results: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def cpu_s() -> float:
        """CPU seconds so far of the JVM and this driver process."""
        with open(f"/proc/{jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        return jvm + sum(os.times()[:2])

    def reps(name, fn, n=5):
        ts, cs = [], []
        for i in range(n):
            c0, t0 = cpu_s(), time.perf_counter()
            with lifecycle.checkpoint_scope():
                fn(i)
            ts.append(round(time.perf_counter() - t0, 3))
            cs.append(round(cpu_s() - c0, 2))
        results[name], cpu[name] = ts, cs
        print(f"{name}: wall_s {ts} cpu_s {cs}", file=sys.stderr, flush=True)

    # shared query-side state, built lazily only for keys that need it
    _state: dict = {}

    def engine():
        if "eng" not in _state:
            eng = Engine(spark, f"{work}/index_root")
            eng.build_index(events, "event_type", num_buckets=8)
            _state["eng"] = eng
        return _state["eng"]

    def text_index():
        if "ti" not in _state:
            engine().build_text_index(docs_path, "text", "doc_id")
            _state["ti"] = engine().text_index(docs_path, "text")
        return _state["ti"]

    def clustered_events():
        if "clustered" not in _state:
            from elephant_twin_spark.operators import layout

            dst = f"{work}/events_clustered"
            layout.cluster_table(spark, events, dst, ["event_type"], num_files=32)
            engine().build_index(dst, "event_type", num_buckets=8)
            _state["clustered"] = dst
        return _state["clustered"]

    def lsh_gate_setup():
        if "lsh" not in _state:
            engine().build_lsh_index(docs_multi, "text", "doc_id", num_perm=16, num_bands=4)
            _state["lsh"] = engine().lsh_index(docs_multi, "text")
            _state["probe"] = docs.limit(500).select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" probe")).alias("text"),
            )
        return _state["lsh"], _state["probe"]

    def tpch_tables():
        if "orders" not in _state:
            _state["lineitem"] = tables.materialize(
                spark, f"{SF_DIR}/lineitem.parquet", f"{work}/lineitem", 32
            )
            _state["orders"] = tables.load_sf_table(spark, SF_DIR, "orders")
        return _state["orders"], _state["lineitem"]

    def _tpch_large_orders():
        # bench.py's exact body (TPC-H Q18 shape)
        orders, lineitem = tpch_tables()
        return (
            orders.join(
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

    def _clean_corpus():
        from elephant_twin_spark.operators.pipeline import clean

        df = clean.clean_corpus(docs, "text", "doc_id", near_dup=False)[1]
        return df.groupBy("reason").count().collect()

    _mix_w = {"en": 0.5, "de": 0.15, "es": 0.15, "fr": 0.1, "zh": 0.1}

    KEY_FNS = {
        # builds: fresh engine root per rep = genuine cold build each time
        "build_block_index_event_type": lambda i: Engine(
            spark, f"{work}/idxroot_b{i}"
        ).build_index(events, "event_type", num_buckets=8),
        # r14 out-of-band key: its BANDS entry was an r7-r10 shared
        # envelope with no solo anchor — this gives it one (measured on
        # the leased+heartbeat build path, so the fence cost is inside)
        "build_block_index_user_id": lambda i: Engine(
            spark, f"{work}/idxroot_u{i}"
        ).build_index(events, "user_id", num_buckets=8),
        "build_text_index_docs": lambda i: Engine(
            spark, f"{work}/idxroot_t{i}"
        ).build_text_index(docs_path, "text", "doc_id"),
        "q_idx_point": lambda i: engine()
        .query(events, col("event_type") == "click")
        .count(),
        "q_idx_count_only": lambda i: engine().count(
            events, col("event_type") == "click"
        ),
        "q_text_count": lambda i: text_index().count("spark"),
        "q_minhash_lsh": lambda i: dedup.minhash_near_dup_pairs(
            docs, "text", "doc_id", num_perm=16, num_bands=4, threshold=0.7
        ).count(),
        "q_mixture_resample": lambda i: mixture.mixture_resample(
            docs, "lang", _mix_w, "doc_id"
        ).count(),
        "q_mixture_hash_sample": lambda i: mixture.hash_sample(
            docs, "lang", _mix_w, "doc_id"
        ).count(),
        "q_simhash": lambda i: dedup.simhash64(docs, "text", "doc_id").count(),
        # r12 bench watch item: untouched implementation read 1.53x on
        # the shared riser — same frame + body as bench.py's key
        "q_source_overlap": lambda i: dedup.source_overlap_matrix(
            docs.select(F.substring("text", 1, 40).alias("head"), "source"),
            "head", "source",
        ).count(),
        "q_dedup_exact": lambda i: dedup.exact_dup_groups(docs, "text", "doc_id").count(),
        # r15 verdict item 2: the last two envelope-only bands that moved
        # >1.1x — same frames + bodies as bench.py's keys
        "q_tpch_large_orders": lambda i: _tpch_large_orders(),
        "q_clean_corpus": lambda i: _clean_corpus(),
        "q_near_dup_clusters": lambda i: _consume_near_dup(),
        "q_near_dup_clusters_star": lambda i: _consume_near_dup("star"),
        "q_lsh_gate": lambda i: _lsh_gate(),
        # distributed-planner watch keys (r11 verdict item 2): same
        # clustered layout + predicate as bench.py; _distplan forces the
        # cluster-side evaluator via distributed_threshold=0
        "q_idx_clustered_point": lambda i: engine()
        .query(clustered_events(), col("event_type") == "click")
        .count(),
        "q_idx_clustered_point_distplan": lambda i: engine()
        .query(
            clustered_events(), col("event_type") == "click",
            distributed_threshold=0,
        )
        .count(),
    }

    def _consume_near_dup(edge_mode="all_pairs"):
        df = dedup.near_dup_clusters(
            docs, "text", "doc_id", num_perm=16, num_bands=4, threshold=0.7,
            edge_mode=edge_mode,
        )
        return df.where("NOT is_canonical").count()

    def _lsh_gate():
        idx, probe = lsh_gate_setup()
        return idx.gate(probe, "text", "doc_id", threshold=0.6).where("is_near_dup").count()

    unknown = [k for k in KEYS if k not in KEY_FNS]
    if unknown:
        raise SystemExit(f"unknown keys (extend KEY_FNS): {unknown}")
    for k in KEYS:
        reps(k, KEY_FNS[k])

    print(json.dumps({"wall_s": results, "cpu_s": cpu}))
    spark.stop()


if __name__ == "__main__":
    main()
