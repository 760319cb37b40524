import os
import shutil
import tempfile

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("elephant-twin-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def workdir():
    d = tempfile.mkdtemp(prefix="ets_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def events_multifile(spark, workdir):
    """events table rewritten as multiple parquet files so file-level
    pruning is observable (the driver fixture is a single file)."""
    from elephant_twin_spark.sources import tables

    return tables.materialize(spark, f"{SF_DIR}/events.parquet", f"{workdir}/events_multi")


@pytest.fixture(scope="session")
def docs_path():
    return f"{SF_DIR}/documents.parquet"


def wait_storage(spark, pred, timeout_s=5.0):
    """Poll block-manager storage until ``pred(snapshot)`` holds or the
    timeout passes (unpersist is async); returns the last snapshot.
    Shared by the lifecycle test modules."""
    import time

    from elephant_twin_spark.operators import lifecycle

    for _ in range(int(timeout_s * 10)):
        snap = lifecycle.storage_snapshot(spark)
        if pred(snap):
            return snap
        time.sleep(0.1)
    return lifecycle.storage_snapshot(spark)


def is_live(pinned) -> bool:
    """Whether the checkpoint behind a ``lifecycle.pin`` handle still
    holds its storage (release sets it to NONE on the driver at once;
    the block-manager count follows asynchronously)."""
    return pinned._ets_checkpoint.getStorageLevel().isValid()


def settled_rdd_count(spark, timeout_s=5.0) -> int:
    """Block-manager RDD count once it stops changing (two identical
    consecutive snapshots). Tests that capture a BASELINE before
    asserting relative storage growth must settle first: a previous
    test's non-blocking release may still be draining, and a baseline
    captured mid-drain inflates `base` so a later `>= base + k` assert
    fails flakily in long shared-session runs."""
    import time

    from elephant_twin_spark.operators import lifecycle

    prev = lifecycle.storage_snapshot(spark)["n_rdds"]
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        time.sleep(0.2)
        cur = lifecycle.storage_snapshot(spark)["n_rdds"]
        if cur == prev:
            return cur
        prev = cur
    return prev
