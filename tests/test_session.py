"""Session factory + cluster profile sanity (SCALE.md invariants)."""

from __future__ import annotations

import os

from document_query_system_spark.session import cluster_conf


def test_cluster_conf_reducer_sizing():
    conf = cluster_conf(target_tb=100, executors=1000, executor_cores=4)
    parts = int(conf["spark.sql.shuffle.partitions"])
    total_cores = 1000 * 4
    # Capped at 4 waves per core; never fewer than one task per core.
    assert parts == 4 * total_cores
    assert parts >= total_cores
    # Small clusters fall back to data-driven sizing under the cap.
    small = cluster_conf(target_tb=0.1, executors=10, executor_cores=4)
    by_data = (int(0.1 * 1024**4)) // (128 * 1024**2)
    assert int(small["spark.sql.shuffle.partitions"]) == min(by_data, 160)


def test_cluster_conf_static_invariants():
    conf = cluster_conf()
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert int(conf["spark.sql.files.maxPartitionBytes"]) == 256 * 1024**2
    assert int(conf["spark.sql.autoBroadcastJoinThreshold"]) == 64 * 1024**2
    assert "RocksDBStateStoreProvider" in conf[
        "spark.sql.streaming.stateStore.providerClass"
    ]


def test_local_factory_does_not_use_cluster_sizing(spark):
    # local[N] runs one shuffle partition per configured core (N =
    # SPARK_GRAFT_CPUS, read with get_spark's default), never the
    # cluster profile's 16k.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert parts == cpus
    assert parts * 100 <= int(cluster_conf()["spark.sql.shuffle.partitions"])
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_generated_class_cache_sized_for_full_suite(spark):
    """Regression pin for the r6/r8 steady-slower-than-cold bench
    inversions: Spark's STATIC generated-class cache defaults to 100
    entries, and a 237-query × 2-pass bench cycles ~470 plans through
    it — the giant classes get evicted between passes and re-compiled
    mid-"steady". The session factory must keep every plan of a full
    run resident (session.py rationale; fixed r9)."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 2000
