"""Size-aware execution posture (session.py): proportional partitions
+ AQE off only for PROVABLY tiny inputs; unknown scale (stat = 0 —
remote FS URIs, unreadable paths) must get the classic 100 TB-safe
posture (ADVICE r16). No query overrides it: building a query writes
no session conf."""

from crypto_etl_airflow_spark.session import (
    PARTITION_INPUT_BYTES,
    SMALL_INPUT_BYTES,
    shuffle_partitions_for_bytes,
    tune_execution,
)

from .conftest import SF_SMOKE


def test_tiny_input_proportional():
    assert shuffle_partitions_for_bytes(PARTITION_INPUT_BYTES, cpus=32) == 1
    assert (
        shuffle_partitions_for_bytes(8 * PARTITION_INPUT_BYTES, cpus=32) == 8
    )


def test_big_input_core_floored():
    assert shuffle_partitions_for_bytes(SMALL_INPUT_BYTES, cpus=32) >= 32
    assert shuffle_partitions_for_bytes(1 << 40, cpus=32) > 32


def test_zero_bytes_means_unknown_not_tiny():
    # a 100 TB s3:// input stats as 0 locally — it must never run
    # single-partition
    assert shuffle_partitions_for_bytes(0, cpus=32) == 32


def test_tune_execution_unknown_input_keeps_aqe_on(spark):
    posture = tune_execution(spark, "/nonexistent/remote/table.parquet")
    assert posture["input_bytes"] == 0
    assert posture["adaptive"] is True
    assert posture["shuffle_partitions"] >= 1
    # restore defaults for the shared session
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "32")


def test_tune_execution_small_local_input(spark):
    posture = tune_execution(spark, "/root/testdata/sf0.001")
    assert 0 < posture["input_bytes"] < SMALL_INPUT_BYTES
    assert posture["adaptive"] is False
    # only Spark's own two confs: no engine key rides in the session
    assert not [k for k in spark.conf.getAll if k.startswith("spark.crypto_etl.")]
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "32")


def test_query_map_writes_no_session_conf(spark):
    """Building a query through the driver contract's query_map writes
    no session conf: the caller's AQE flag and partition count stay as
    set, and no engine posture key appears. So a build cannot change
    the conf another query (or thread) executes under."""
    from crypto_etl_airflow_spark.plans.registry import query_map

    qm = query_map()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for name in ("similarity_hybrid_rrf_topk", "hourly_variation"):
            qm[name](spark, SF_SMOKE)
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert not [
            k
            for k in spark.conf.getAll
            if k.startswith("spark.crypto_etl.posture.")
        ]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", "32")


def test_reuse_persists_memory_only(spark):
    from pyspark import StorageLevel

    from crypto_etl_airflow_spark.operators.dedup import (
        _reuse,
        release_reuse_caches,
    )

    try:
        assert _reuse(spark.range(10)).storageLevel == StorageLevel.MEMORY_ONLY
    finally:
        release_reuse_caches()
