"""Local simulation of the driver's t2 correctness gate: run every
``queries()`` entry and its ``oracle_sql()`` twin at a given sf, compare
row count + column names + order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
(with query names given, only those queries are checked)

Indexes and table copies are built in a fresh temporary work dir,
removed at exit, unless ``ETS_WORKDIR`` is set: a reused work dir holds
indexes an earlier process built, and a run over it builds none.
"""

import atexit
import os
import shutil
import struct
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon_float(x) -> str:
    """Bit-exact float canonicalization (round-6 fix: the old %.9g form
    could not see a ±0.0 sign flip or sub-1e-9 divergence that the
    driver's raw-stringified-value hash catches — it predicted green on
    the round-5 ``heaps_vocab_growth`` red).  Policy:

    * every NaN (any payload) collapses to the one canonical NaN —
      payloads don't survive stringification anywhere, so they can't
      be a real divergence;
    * −0.0 is PRESERVED as distinct from +0.0 (stringifies differently,
      so the driver hash differs — exactly the class we must flag);
    * everything else is the raw IEEE-754 big-endian byte pattern."""
    if x != x:  # NaN of any payload
        return "nan"
    return struct.pack(">d", float(x)).hex()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s).dt.floor("us").astype("datetime64[us]")
            s = s.map(lambda x: x.isoformat())
        elif pd.api.types.is_float_dtype(s):
            s = s.map(_canon_float)
        else:
            s = s.astype(str)
        out[c] = s
    c2 = pd.DataFrame(out)
    return c2.sort_values(by=list(c2.columns)).reset_index(drop=True)


def fresh_workdir() -> None:
    """Point ``__spark_entry__``'s work dir (``ETS_WORKDIR``, read when
    it is imported) at a new temporary dir, removed at exit, unless the
    caller set one."""
    if not os.environ.get("ETS_WORKDIR"):
        work = tempfile.mkdtemp(prefix="ets_entry_")
        os.environ["ETS_WORKDIR"] = work
        atexit.register(shutil.rmtree, work, True)


def main():
    fresh_workdir()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    import time as _time

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    only = set(sys.argv[2:])
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"unknown queries: {sorted(unknown)}")
            sys.exit(2)
        qs = {k: v for k, v in qs.items() if k in only}
    failures = []
    for name, fn in qs.items():
        _t0 = _time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {str(e)[:300]}"))
            print(f"FAIL {name}: spark error")
            continue
        _el = _time.perf_counter() - _t0
        if name not in oracles:
            print(f"ok   {name}: {len(sdf)} rows (no oracle — rows-only) [{_el:.2f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {str(e)[:300]}"))
            print(f"FAIL {name}: oracle error: {str(e)[:160]}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            # Driver-faithful dtype audit: the driver hashes raw stringified
            # values, so an int64 Spark column vs a float64 oracle column
            # ("123" vs "123.0") is a hash FAIL even when %.9g-canonical
            # values agree.  DuckDB sum(<integer>) returns HUGEINT, which the
            # duckdb->pandas bridge renders float64 — exactly the 4
            # CORRECTNESS_r02 failures.  Flag any numeric-kind mismatch.
            for c in sdf.columns:
                sk = sdf[c].dtype.kind  # i/u int, f float, O object, M datetime
                ok_ = odf[c].dtype.kind
                norm = lambda k: {"u": "i"}.get(k, k)
                if norm(sk) != norm(ok_):
                    problems.append(
                        f"dtype kind mismatch col {c}: spark {sdf[c].dtype}"
                        f" vs oracle {odf[c].dtype} (driver hash would differ)"
                    )
        if not problems:
            cs, co = canon(sdf), canon(odf)
            if not cs.equals(co):
                neq = (cs != co).any(axis=1)
                diff = pd.concat(
                    [cs[neq].head(3).add_suffix("_spark"), co[neq].head(3).add_suffix("_duck")],
                    axis=1,
                )
                problems.append(f"values differ in {int(neq.sum())} rows:\n{diff}")
        if problems:
            failures.append((name, "; ".join(p.split(chr(10))[0] for p in problems)))
            print(f"FAIL {name}: {problems}")
        else:
            print(f"ok   {name}: {len(sdf)} rows [{_el:.2f}s]")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:", [n for n, _ in failures])
        sys.exit(1)
    print(f"all {len(qs)} queries match at {sf_dir}")


if __name__ == "__main__":
    main()
