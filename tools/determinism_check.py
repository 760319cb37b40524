"""Partition-count invariance harness: the driver gate hashes raw
stringified values, so a query whose float aggregates depend on Spark's
partition/merge order is a latent false-red — it can pass at one
``spark.sql.shuffle.partitions`` and hash-differ at another (the r9
``gap_to_prev`` percentile knife-edge, generalized). This tool runs
every ``queries()`` entry TWICE in separate SparkSessions — once at a
deliberately odd low partition count, once at the test default — and
diffs the same bit-exact canonical form ``check_oracle`` uses.

A diff means the query's result depends on FP summation order (or an
under-specified sort) at THIS data: a real knife-edge, not a
hypothetical, because the driver runs the same sf0.01 parquet.

Usage: python tools/determinism_check.py [sf_dir] [query ...]
(index store: a fresh temporary work dir unless ``ETS_WORKDIR`` is set,
as in check_oracle; the second session reuses what the first built)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_oracle import canon, fresh_workdir  # noqa: E402  (tools/ sibling import)


def _run_all(shuffle_partitions: int, sf_dir: str, only, extra_conf=None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName(f"ets-determinism-{shuffle_partitions}")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    import __spark_entry__ as entrymod

    # fresh per-session registry state: _STATES keys on id(spark), and a
    # dead session's id can be REUSED by the allocator — clear, don't trust
    entrymod._STATES.clear()
    out = {}
    qs = entrymod.queries()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    for name, fn in qs.items():
        try:
            out[name] = canon(fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001 - recorded, not fatal
            out[name] = f"ERROR {type(e).__name__}: {str(e)[:160]}"
    spark.stop()
    return out


def main():
    fresh_workdir()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    axis = os.environ.get("ETS_DETERMINISM_AXIS", "partitions")
    if axis == "aqe":
        # second axis (same class): AQE rewrites physical plans at
        # runtime — coalesced shuffle reads, skew splits — so an
        # AQE-sensitive result is the same latent driver-gate red
        a = _run_all(32, sf_dir, only, {"spark.sql.adaptive.enabled": "false"})
        b = _run_all(32, sf_dir, only, {"spark.sql.adaptive.enabled": "true"})
    elif axis == "splits":
        # third axis: input-split sizing moves MAP-side partial-combine
        # order (file → many splits), the lever shuffle-partition and
        # AQE variation leave untouched
        a = _run_all(32, sf_dir, only, {"spark.sql.files.maxPartitionBytes": "65536"})
        b = _run_all(32, sf_dir, only)
    elif axis == "timezone":
        # fourth axis (r13 verdict item 6): C1–C3 date parse/format/
        # trunc, week/hour bucketing and timestamp→string rendering are
        # session-TZ-sensitive. A diff here means the query's ANSWER
        # depends on spark.sql.session.timeZone — fine iff the oracle
        # twin pins the same zone; the sweep names every query where
        # that contract is load-bearing (ledgered in COVERAGE.md).
        a = _run_all(32, sf_dir, only,
                     {"spark.sql.session.timeZone": "America/New_York"})
        b = _run_all(32, sf_dir, only)  # builder default: UTC
    else:
        a = _run_all(5, sf_dir, only)   # odd low count: maximally different merge order
        b = _run_all(32, sf_dir, only)  # the bench/test default
    diffs, errs = [], []
    for name in a:
        ra, rb = a[name], b.get(name)
        if isinstance(ra, str) or isinstance(rb, str):
            errs.append((name, ra if isinstance(ra, str) else rb))
            continue
        if not ra.equals(rb):
            neq = (ra != rb).any(axis=1) if ra.shape == rb.shape else None
            diffs.append(
                (name, f"shape {ra.shape} vs {rb.shape}"
                 if ra.shape != rb.shape else f"{int(neq.sum())} rows differ")
            )
    for name, msg in errs:
        print(f"err  {name}: {msg}")
    for name, msg in diffs:
        print(f"DIFF {name}: {msg}")
    n = len(a)
    print(f"\n{n - len(diffs) - len(errs)}/{n} {axis}-invariant; "
          f"{len(diffs)} diffs, {len(errs)} errors")
    # exit 2 on error-only runs (r12 advisor): an ERROR skips the
    # invariance comparison entirely, so exiting 0 would let a run where
    # queries crashed read as green in automation despite having
    # verified nothing for them
    sys.exit(1 if diffs else (2 if errs else 0))


if __name__ == "__main__":
    main()
