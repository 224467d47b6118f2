"""Shared SparkSession fixture (session-scoped; one JVM for the whole run)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from simple_land_registry_data_ingestion_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
SF_BENCH = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="slr-tests", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # State-store maintenance (snapshot/cleanup) races finishing streaming
    # queries when dozens share one test JVM — the round-3 full-suite flake.
    # Tests never benefit from maintenance (every stream is availableNow and
    # short-lived), so push it past any plausible suite duration.
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
    # Spark 4's ChecksumCheckpointFileManager.createAtomic is where the one
    # remaining full-suite flake aborts (HDFSBackedStateStore commit abort;
    # rounds 3-4, passes in isolation).  Checkpoint checksumming adds a
    # sidecar-file write per state commit — pure overhead for short-lived
    # availableNow test streams — so turn it off in the test JVM.
    # (Key verified against the spark-sql 4.1.2 jar: it is
    # ``...checkpoint.fileChecksum.enabled``, not ``...checksumEnabled``.)
    try:
        spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    except Exception:
        pass  # conf absent on older Spark: the flake doesn't exist there
    yield spark
    spark.stop()
