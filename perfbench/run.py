"""perfbench runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 15 --trace 0

Run from the repository root. It starts one local Spark JVM sized to
the machine, sets up the workload several times from an empty work
directory (``setup_s`` is the median), warms up, then runs ops back to
back for ``--seconds`` and checks every answer against its oracle.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports
the per-layer metrics instead: it alternates untraced and traced
cycles, records spans and Spark job figures for the traced ones, and
reports the tracing overhead as the gap between the two halves. Spans
are written to ``.perfbench_out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        parts = f.read().rsplit(")", 1)[1].split()
    return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_spark(spec: dict, run_dir: str):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # every file Spark or the launcher writes stays under the run dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    import tempfile

    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    n = nproc()
    b = SparkSession.builder.master(f"local[{n}]").appName("perfbench")
    conf = dict(spec["spark"])
    conf["spark.sql.shuffle.partitions"] = str(n)
    conf["spark.local.dir"] = local
    conf["spark.sql.warehouse.dir"] = os.path.join(run_dir, "warehouse")
    conf["spark.driver.extraJavaOptions"] += f" -Djava.io.tmpdir={tmp}"
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run_op(w, op, op_id, tracer, traced):
    """Time one op from outside the package, with its checkpoint scope;
    returns the op record."""
    from elephant_twin_spark.operators import lifecycle

    rec = {"id": op_id, "kind": op.kind, "input_rows": op.input_rows, "traced": traced}
    tracer.enabled = traced
    if traced:
        rec["blocks_before"] = lifecycle.storage_snapshot(w.spark)["n_blocks"]
    err = None
    t0 = time.perf_counter()
    with tracer.span(f"op.{op.kind}", op=op_id):
        scope = lifecycle.checkpoint_scope()
        scope.__enter__()
        try:
            answer = op.run(rec)
        except Exception as exc:  # a failed op is counted, not fatal
            err, answer = exc, None
        with tracer.span("lifecycle.release"):
            try:
                scope.__exit__(None, None, None)
            except Exception as exc:
                err = err or exc
    rec["wall"] = time.perf_counter() - t0
    tracer.enabled = False
    rec["ok"] = err is None and answer == op.expected
    if not rec["ok"]:
        print(f"FAILED {op.kind} #{op_id}: got {answer!r} expected {op.expected!r}"
              + (f" ({type(err).__name__}: {err})" if err else ""), file=sys.stderr)
    if traced:
        tracer.collect_spark(tracer.op_spans(op_id))
        rec["blocks_after"] = lifecycle.storage_snapshot(w.spark)["n_blocks"]
        w.after_op(op, rec)
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import elephant_twin_spark  # noqa: F401 — the package under test must be present

    with open(os.path.join(HERE, "workloads.json")) as f:
        doc = json.load(f)
    spec = doc["workloads"][args.workload]

    import metrics
    from spans import Tracer, instrument
    from workloads import WORKLOADS

    run_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    os.makedirs(run_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(doc, run_dir)
        session_s = time.perf_counter() - t0
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        tracer = Tracer(spark)
        if args.trace:
            instrument(tracer)
        w = WORKLOADS[args.workload](
            spark, spec, args.seed, os.path.join(run_dir, "data"), tracer
        )

        # set-up: inputs and oracles once, then every index built from
        # an empty index root several times (the median counts), then
        # one warm-up pass over the op kinds
        t = time.perf_counter()
        w.generate()
        gen_s = time.perf_counter() - t
        build_times = []
        reps = doc["setup_reps"]
        for rep in range(reps):
            tracer.enabled = bool(args.trace) and rep == reps - 1
            t = time.perf_counter()
            w.setup_rep()
            build_times.append(time.perf_counter() - t)
            tracer.enabled = False
        if args.trace:
            tracer.collect_spark([s for s in tracer.spans if s["op"] is None])
        t = time.perf_counter()
        warm = [run_op(w, op, -1, tracer, False) for op in w.warmup_ops()]
        warm_s = time.perf_counter() - t
        # taken here, at a fixed point, so the ratio does not depend on
        # how many cycles a run gets through
        idx_ratio = w.index_bytes() / max(1, w.data_bytes())
        setup = {"session": session_s, "generate": gen_s,
                 "index_builds": statistics.median(build_times), "warmup": warm_s}
        setup_s = sum(setup.values())

        # whole cycles until --seconds have passed, so every run holds
        # the op kinds in the same proportions, and at least
        # ``min_cycles`` of them, so a run on a slow stretch of a shared
        # machine still has as many samples as the tail percentile needs.
        # In the traced run every other op of each kind is traced,
        # starting with the first.
        cpu0 = proc_cpu_s(jvm_pid) + sum(os.times()[:2])
        t_start = time.perf_counter()
        records = []
        seen = {}
        for n_cycles, cycle in enumerate(w.cycles(), 1):
            for op in cycle:
                k = seen[op.kind] = seen.get(op.kind, -1) + 1
                traced = bool(args.trace) and k % 2 == 0
                records.append(run_op(w, op, len(records), tracer, traced))
            if n_cycles >= spec["min_cycles"] and time.perf_counter() - t_start >= args.seconds:
                break
        elapsed = time.perf_counter() - t_start
        cpu_s = proc_cpu_s(jvm_pid) + sum(os.times()[:2]) - cpu0
        rss = peak_rss_mb(jvm_pid) + peak_rss_mb(os.getpid())

        if args.trace:
            out = metrics.per_layer(tracer, records)
            units = metrics.LAYER_UNITS
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.write(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            out, units = metrics.end_to_end(
                records, elapsed, cpu_s, setup_s, rss, idx_ratio
            ), metrics.E2E_UNITS
        failed = sum(1 for r in records + warm if not r["ok"])
        metrics.print_summary(args.workload, records, elapsed, setup, build_times, out, units)
        result = {
            "correct": failed == 0,
            "attempted": len(records) + len(warm),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
