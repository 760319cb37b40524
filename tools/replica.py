"""Build the 32x replica fixture of the two big tables (documents,
events) from one scale factor, for measuring data-parallel operators at
a size where a run is not bound by Spark's job launch.

Each replica shifts the id columns (``doc_id``; ``event_id`` and
``user_id``) by a fixed stride, so key cardinalities grow with the
replica count. Timings taken over this fixture are recorded in
OPTIMIZATION_r17.md (V7).

Usage: python tools/replica.py [src_sf_dir] [out_dir]
(defaults: /root/testdata/sf0.1 and /tmp/ets_sfx32; writes
``<out_dir>/documents`` and ``<out_dir>/events``)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = 32


def main():
    src = (sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1").rstrip("/")
    out = (sys.argv[2] if len(sys.argv) > 2 else "/tmp/ets_sfx32").rstrip("/")
    from functools import reduce

    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from elephant_twin_spark.sources import tables

    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName("replica")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = tables.load_raw(spark, f"{src}/documents.parquet")
    ev = tables.load_raw(spark, f"{src}/events.parquet")
    shifts = {
        "documents": (docs, {"doc_id": 10_000_000}),
        "events": (ev, {"event_id": 100_000_000, "user_id": 1_000_000}),
    }
    for name, (df, stride) in shifts.items():
        parts = [
            df.select(
                *[(F.col(c) + k * stride[c]).alias(c) if c in stride else F.col(c)
                  for c in df.columns]
            )
            for k in range(REPLICAS)
        ]
        reduce(DataFrame.unionByName, parts).repartition(REPLICAS).write.mode(
            "overwrite"
        ).parquet(f"{out}/{name}")
        print(f"{name}: {spark.read.parquet(f'{out}/{name}').count()} rows at {out}/{name}")
    spark.stop()


if __name__ == "__main__":
    main()
