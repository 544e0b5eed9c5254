"""The production conf preset must stay a valid, self-consistent Spark
configuration — and actually boot a session (validated on a tiny local
master so an invalid key/value fails here, not on a real cluster)."""

from __future__ import annotations

from m4i_flink_tasks_spark.session import cluster_conf, default_driver_memory


def test_cluster_conf_is_self_consistent():
    conf = cluster_conf(executors=1000, executor_cores=4)
    assert conf["spark.sql.shuffle.partitions"] == str(3 * 4000)
    assert int(conf["spark.sql.files.maxPartitionBytes"]) == 128 * 1024**2
    # a 100 TB scan at this split size stays under ~1M tasks
    assert 100 * 1024**4 / int(conf["spark.sql.files.maxPartitionBytes"]) < 1e6
    # broadcast threshold must be far below executor memory but above
    # every dimension relation this engine broadcasts (codebooks,
    # centroids, type dims are all < 1 MB by construction)
    assert 1024**2 < int(conf["spark.sql.autoBroadcastJoinThreshold"]) <= 256 * 1024**2
    assert all(isinstance(v, str) for v in conf.values())


def test_default_driver_memory_follows_the_host(monkeypatch):
    """The local heap is a quarter of the host's memory, rounded up to
    whole GiB and clamped to [2g, 48g]; ``SPARK_DRIVER_MEM`` overrides
    it. Pure arithmetic — no JVM starts."""
    monkeypatch.setenv("SPARK_DRIVER_MEM", "7g")
    assert default_driver_memory(16 * 10**9) == "7g"
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    assert default_driver_memory(16 * 10**9) == "4g"
    assert default_driver_memory(512 * 1024**2) == "2g"
    assert default_driver_memory(1024 * 1024**3) == "48g"
    assert default_driver_memory().endswith("g")


def test_cluster_conf_boots_a_session(spark):
    """Every key/value must be accepted by Spark at runtime-settable
    scope or session-builder scope: apply the runtime-settable subset
    to the live session and restore it, proving no typos."""
    conf = cluster_conf(executors=2, executor_cores=2)
    runtime_settable = [
        "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.streaming.stateStore.providerClass",
    ]
    old = {k: spark.conf.get(k, None) for k in runtime_settable}
    try:
        for k in runtime_settable:
            spark.conf.set(k, conf[k])
            assert spark.conf.get(k) == conf[k]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
