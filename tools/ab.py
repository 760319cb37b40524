"""Interleaved parent-vs-change A/B of the repository benchmark.

    python tools/ab.py <parent-ref> <workload> [pairs]      (default 10 pairs)

Checks out ``<parent-ref>`` into a temporary ``git worktree`` and copies
this checkout's working tree (tracked and untracked, not ignored files)
beside it, as ``<tmp>/parent`` and ``<tmp>/change``; both are removed on
exit, also on error. The two paths have the same length because index
tables store absolute data-file paths, so ``index_bytes_per_data_byte``
depends on it. For pair i it runs the benchmark command of
BENCHMARK.json,

    python3 perfbench/run.py --workload W --seed i --seconds <run_seconds> --trace 0

once in each tree, alternating which side runs first, and prints each run's metrics as they arrive. It then
prints one markdown table row per end-to-end metric of BENCHMARK.json
(names, ``better`` and ``bound`` read from that file) with the gain and
regression verdicts of :func:`verdicts`, and the failed-op share of each
side.
"""

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _iqr(xs):
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def _spread(xs):
    """Run-to-run spread: IQR / median, as perfbench/RESULTS.md defines it."""
    med = statistics.median(xs)
    return _iqr(xs) / abs(med) if med else 0.0


def verdicts(parent, change, end_to_end):
    """One row per metric of ``end_to_end`` (BENCHMARK.json's list of
    ``{"name", "better", "bound"}``). ``parent[i]`` and ``change[i]``
    map metric names to values for pair i.

    - ``wins``: pairs where the change reads better; ties count for
      neither side.
    - ``gain``: at least 10 pairs run, wins in at least 9/10 of them,
      and the medians differ in the change's favour by more than the
      parent's IQR.
    - ``verdict``: ``REGRESSED`` when the change median is worse than
      the parent median by more than ``bound`` (as a share of the
      parent median); else ``UNRESOLVED`` when either side's spread
      (IQR / median) is wider than ``bound``, unless every change run
      beats every parent run; else ``ok``."""
    rows = []
    for m in end_to_end:
        name, bound = m["name"], m["bound"]
        sign = 1.0 if m["better"] == "lower" else -1.0
        # after scaling by ``sign``, lower is better for every metric
        p = [sign * r[name] for r in parent]
        c = [sign * r[name] for r in change]
        pm, cm = statistics.median(p), statistics.median(c)
        p_iqr = _iqr(p)
        wins = sum(1 for a, b in zip(p, c) if b < a)
        worse = (cm - pm) / abs(pm) if pm else 0.0
        if worse > bound:
            verdict = "REGRESSED"
        elif max(_spread(p), _spread(c)) > bound and not (max(c) < min(p)):
            verdict = "UNRESOLVED"
        else:
            verdict = "ok"
        rows.append({
            "metric": name,
            "wins": wins,
            "pairs": len(p),
            "parent_median": sign * pm,
            "change_median": sign * cm,
            "parent_iqr": p_iqr,
            "ratio": cm / pm if pm else float("nan"),
            "bound": bound,
            "gain": len(p) >= 10 and 10 * wins >= 9 * len(p) and pm - cm > p_iqr,
            "verdict": verdict,
        })
    return rows


def _table(rows) -> str:
    out = [
        "| metric | change wins | parent median | change median | parent IQR "
        "| change/parent | bound | gain | verdict |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append(
            f"| {r['metric']} | {r['wins']}/{r['pairs']} | {r['parent_median']:.4g} "
            f"| {r['change_median']:.4g} | {r['parent_iqr']:.3g} | {r['ratio']:.3f} "
            f"| {r['bound']} | {'yes' if r['gain'] else 'no'} | {r['verdict']} |"
        )
    return "\n".join(out)


def _run(cmd, cwd, side, pair):
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{side} run of pair {pair} failed (exit {proc.returncode})")
    res = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    shown = " ".join(f"{k}={v:.4g}" for k, v in metrics.items())
    print(f"pair {pair} {side:6s} failed {res['failed']}/{res['attempted']} {shown}",
          flush=True)
    return metrics, res["failed"], res["attempted"]


def _copy_checkout(dest):
    """Copy this checkout's tracked and untracked, not ignored files
    (uncommitted edits included) to ``dest``."""
    listed = subprocess.run(["git", "ls-files", "-z", "-co", "--exclude-standard"],
                            cwd=REPO, check=True, capture_output=True).stdout
    for rel in listed.decode().split("\0"):
        src = os.path.join(REPO, rel)
        if rel and os.path.isfile(src):  # skips deleted, not yet staged files
            os.makedirs(os.path.join(dest, os.path.dirname(rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))


def main(argv):
    if len(argv) not in (2, 3):
        raise SystemExit(__doc__)
    ref, workload = argv[0], argv[1]
    pairs = int(argv[2]) if len(argv) == 3 else 10
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"unknown workload {workload!r}")

    tmp = tempfile.mkdtemp(prefix="ab_")
    trees = {side: os.path.join(tmp, side) for side in ("parent", "change")}
    parent_dir = trees["parent"]
    try:
        subprocess.run(["git", "worktree", "add", "--quiet", "--detach", parent_dir, ref],
                       cwd=REPO, check=True)
        _copy_checkout(trees["change"])
        runs = {"parent": [], "change": []}
        failed = {"parent": [0, 0], "change": [0, 0]}
        for i in range(1, pairs + 1):
            cmd = [*bench["command"], "--workload", workload, "--seed", str(i),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            for side in (("parent", "change") if i % 2 else ("change", "parent")):
                metrics, n_failed, n_attempted = _run(cmd, trees[side], side, i)
                runs[side].append(metrics)
                failed[side][0] += n_failed
                failed[side][1] += n_attempted
    finally:
        if os.path.isdir(parent_dir):
            subprocess.run(["git", "worktree", "remove", "--force", parent_dir], cwd=REPO)
        subprocess.run(["git", "worktree", "prune"], cwd=REPO)
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"\n{workload}: {pairs} pairs, parent {ref}\n")
    print(_table(verdicts(runs["parent"], runs["change"], bench["end_to_end"])))
    share = {s: f"{f}/{a} ({f / a if a else 0:.3f})" for s, (f, a) in failed.items()}
    print(f"\nfailed ops: parent {share['parent']}, change {share['change']}")


if __name__ == "__main__":
    main(sys.argv[1:])
