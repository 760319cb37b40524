"""Metric definitions for perfbench: end-to-end figures from the op
records of an untraced run, per-layer figures from the spans of a
traced run. See README.md for what each metric means."""

from __future__ import annotations

import statistics
import sys
from typing import Dict, List

from spans import Tracer, busy_ms, self_times

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "ops_per_s": "1/s",
    "input_rows_per_s": "rows/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "index_bytes_per_data_byte": "ratio",
}

LAYER_UNITS = {
    "engine.plan_ms": "ms",
    "engine.exec_ms": "ms",
    "engine.jobs_per_op": "count",
    "engine.driver_ms": "ms",
    "plans.parse_ms": "ms",
    "plans.pushdown_ms": "ms",
    "sources.list_files_calls": "count",
    "sources.list_files_ms": "ms",
    "sources.descriptor_reads": "count",
    "sources.descriptor_ms": "ms",
    "scan.files_scanned_frac": "frac",
    "scan.bytes_ratio": "ratio",
    "scan.stale_files": "count",
    "scan.rows_read_per_row_returned": "ratio",
    "text.search_ms": "ms",
    "text.jobs_per_op": "count",
    "build.ms": "ms",
    "build.jobs": "count",
    "build.executor_cpu_ms": "ms",
    "build.shuffle_write_bytes": "bytes",
    "build.index_bytes_written": "bytes",
    "refresh.ms": "ms",
    "refresh.jobs": "count",
    "refresh.executor_cpu_ms": "ms",
    "refresh.shuffle_write_bytes": "bytes",
    "refresh.index_bytes_written": "bytes",
    "lsh.gate_ms": "ms",
    "lsh.candidate_pairs": "count",
    "lsh.verified_frac": "frac",
    "lsh.executor_cpu_ms": "ms",
    "lsh.shuffle_bytes": "bytes",
    "dedup.clusters_ms": "ms",
    "dedup.pairs_ms": "ms",
    "dedup.executor_cpu_ms": "ms",
    "dedup.shuffle_bytes": "bytes",
    "lifecycle.blocks_leaked": "count",
    "trace.overhead_frac": "frac",
    "trace.self_time_coverage": "frac",
}


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


#: the percentiles ``tail`` chooses from
TAIL_PCTS = (99.0, 95.0, 90.0, 75.0, 50.0)


def tail(values):
    """(value, percentile, n): the highest of ``TAIL_PCTS`` with at
    least ten samples beyond it; the maximum when even the median has
    fewer. A fixed ladder keeps the percentile the same when a run gets
    through one cycle more or less."""
    xs = sorted(values)
    n = len(xs)
    for pct in TAIL_PCTS:
        if n * (100.0 - pct) / 100.0 >= 10:
            return statistics.quantiles(xs, n=100)[int(pct) - 1], pct, n
    return xs[-1], 100.0, n


def end_to_end(records, elapsed, cpu_s, setup_s, rss_mb, idx_ratio) -> Dict[str, float]:
    walls = [r["wall"] * 1000.0 for r in records]
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(walls),
        "op_tail_ms": tail(walls)[0],
        "ops_per_s": len(records) / elapsed,
        "input_rows_per_s": sum(r["input_rows"] for r in records) / elapsed,
        "cpu_s_per_op": cpu_s / len(records),
        "peak_rss_mb": rss_mb,
        "index_bytes_per_data_byte": idx_ratio,
    }


def per_layer(tr: Tracer, records: List[Dict]) -> Dict[str, float]:
    traced = [r for r in records if r["traced"]]
    spans = tr.spans
    by_op: Dict[int, List[Dict]] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    def dur(name):
        return [(s["end"] - s["start"]) * 1000.0 for s in spans if s["name"] == name]

    def layer(prefix):
        return [s for s in spans if s["name"].startswith(prefix)]

    def op_total(r, key):
        return sum(s.get(key, 0) for s in by_op.get(r["id"], []))

    out: Dict[str, float] = {}
    eng_ops = [r for r in traced if "scan" in r]
    out["engine.plan_ms"] = _mean(dur("engine.plan"))
    out["engine.exec_ms"] = _mean(dur("engine.exec"))
    out["engine.jobs_per_op"] = _mean(op_total(r, "jobs") for r in eng_ops)
    driver = []
    for r in eng_ops:
        root = next(s for s in by_op[r["id"]] if s["parent"] is None)
        lo, hi = tr.epoch_ms(root["start"]), tr.epoch_ms(root["end"])
        ivs = [iv for s in by_op[r["id"]] for iv in s["job_intervals"]]
        driver.append(hi - lo - busy_ms(ivs, lo, hi))
    out["engine.driver_ms"] = _mean(driver)

    out["plans.parse_ms"] = _mean(dur("plans.parse"))
    out["plans.pushdown_ms"] = _mean(dur("plans.pushdown"))
    n_ops = max(1, len(traced))
    out["sources.list_files_calls"] = len(dur("sources.list_files")) / n_ops
    out["sources.list_files_ms"] = _mean(dur("sources.list_files"))
    out["sources.descriptor_reads"] = len(dur("sources.descriptor")) / n_ops
    out["sources.descriptor_ms"] = _mean(dur("sources.descriptor"))

    scans = [r["scan"] for r in eng_ops if r["scan"]["total_files"]]
    out["scan.files_scanned_frac"] = _mean(m["scanned_files"] / m["total_files"] for m in scans)
    # aggregate, not a mean of ratios: covering counts scan 0 bytes
    out["scan.bytes_ratio"] = sum(m["total_bytes"] for m in scans) / max(
        1, sum(m["scanned_bytes"] for m in scans)
    )
    out["scan.stale_files"] = _mean(m["stale_files"] for m in scans)
    read = sum(op_total(r, "input_records") for r in eng_ops)
    returned = sum(r["rows_out"] for r in eng_ops)
    out["scan.rows_read_per_row_returned"] = read / max(1, returned)

    text_ops = [r for r in traced if r["kind"] == "text"]
    out["text.search_ms"] = _mean(dur("text.search"))
    out["text.jobs_per_op"] = _mean(op_total(r, "jobs") for r in text_ops)

    for kind in ("build", "refresh"):
        ss = layer(kind + ".")
        out[f"{kind}.ms"] = _mean((s["end"] - s["start"]) * 1000.0 for s in ss)
        out[f"{kind}.jobs"] = _mean(s["jobs"] for s in ss)
        out[f"{kind}.executor_cpu_ms"] = _mean(s["cpu_ms"] for s in ss)
        out[f"{kind}.shuffle_write_bytes"] = _mean(s["shuffle_write"] for s in ss)
        out[f"{kind}.index_bytes_written"] = _mean(s.get("index_bytes", 0) for s in ss)

    gates = [r for r in traced if r["kind"] == "gate"]
    out["lsh.gate_ms"] = _mean(dur("lsh.gate"))
    cands = sum(r.get("candidate_pairs", 0) for r in gates)
    out["lsh.candidate_pairs"] = _mean(r.get("candidate_pairs", 0) for r in gates)
    out["lsh.verified_frac"] = sum(r["near_dups"] for r in gates) / max(1, cands)
    out["lsh.executor_cpu_ms"] = _mean(op_total(r, "cpu_ms") for r in gates)
    out["lsh.shuffle_bytes"] = _mean(
        op_total(r, "shuffle_write") + op_total(r, "shuffle_read") for r in gates
    )

    dd = [r for r in traced if r["kind"] in ("clusters", "pairs")]
    out["dedup.clusters_ms"] = _mean(dur("dedup.clusters"))
    out["dedup.pairs_ms"] = _mean(dur("dedup.pairs"))
    out["dedup.executor_cpu_ms"] = _mean(op_total(r, "cpu_ms") for r in dd)
    out["dedup.shuffle_bytes"] = _mean(
        op_total(r, "shuffle_write") + op_total(r, "shuffle_read") for r in dd
    )

    out["lifecycle.blocks_leaked"] = sum(
        max(0, r["blocks_after"] - r["blocks_before"]) for r in traced
    )

    out["trace.overhead_frac"] = overhead(records)
    out["trace.self_time_coverage"] = min(coverage(by_op, traced), default=0.0)
    return out


def overhead(records) -> float:
    """Tracing overhead: per op kind, the traced median minus the
    untraced median, weighted by op count, as a share of the untraced
    time. Kinds seen only traced or only untraced are left out."""
    num = den = 0.0
    for kind in {r["kind"] for r in records}:
        t = [r["wall"] for r in records if r["kind"] == kind and r["traced"]]
        u = [r["wall"] for r in records if r["kind"] == kind and not r["traced"]]
        if t and u:
            n = len(t) + len(u)
            num += n * (statistics.median(t) - statistics.median(u))
            den += n * statistics.median(u)
    return num / den if den else 0.0


def coverage(by_op, traced) -> List[float]:
    """Per traced op: the layer spans' self times summed (the root op
    span itself excluded), as a share of the op's wall time."""
    out = []
    for r in traced:
        ss = by_op.get(r["id"], [])
        st = self_times(ss)
        root = next(s for s in ss if s["parent"] is None)
        covered = sum(st[s["id"]] for s in ss if s is not root)
        out.append(covered / (root["end"] - root["start"]))
    return out


def print_summary(workload, records, elapsed, setup, build_times, out, units) -> None:
    """Human-readable lines on stdout, before the JSON result line."""
    n = len(records)
    failed = sum(1 for r in records if not r["ok"])
    print(f"workload {workload}: {n} ops in {elapsed:.2f} s, closed loop, 1 client")
    print(f"  fail_frac {failed / max(1, n):.4f} frac ({failed}/{n})")
    walls = [r["wall"] * 1000.0 for r in records]
    v, pct, cnt = tail(walls)
    print(f"  op_tail is p{pct:.1f} of {cnt} ops")
    parts = ", ".join(f"{k} {v:.2f} s" for k, v in setup.items())
    print(f"  set-up: {parts}; index build reps {['%.2f' % t for t in build_times]}")
    kinds: Dict[str, List[float]] = {}
    for r in records:
        kinds.setdefault(r["kind"], []).append(r["wall"] * 1000.0)
    for k, ws in sorted(kinds.items()):
        print(f"  op {k}: n={len(ws)} p50={statistics.median(ws):.1f} ms")
    for k, v in out.items():
        print(f"  {k} {v:.6g} {units[k]}")
    sys.stdout.flush()
