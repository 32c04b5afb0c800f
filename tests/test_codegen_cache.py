"""Generated code survives across runs: the engine's session sizes
Spark's compiled-class cache to the engine's working set, so re-running
the same plans reuses their classes instead of recompiling them."""

from crypto_etl_airflow_spark.operators.dedup import release_reuse_caches
from crypto_etl_airflow_spark.plans.registry import all_specs
from crypto_etl_airflow_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_stats,
    tune_execution,
)

from .conftest import SF_SMOKE

# TPC-H queries that together need ~170 generated classes, counted in a
# fresh JVM at sf0.001 under the tiny-input posture: more than Spark's
# default cache of 100 holds, so at that size a second pass recompiles
# nearly all of them.
_QUERIES = (
    "q2_cheapest_supplier",
    "q8_market_share",
    "q20_majority_suppliers",
    "q5_revenue_by_nation",
    "q15_top_supplier",
    "q3_top_orders",
    "q7_nation_volume",
    "q10_returned_customers",
    "q16_supplier_cnt_by_part",
    "q22_dormant_rich_customers",
    "q21_sole_late_supplier",
)


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_rerun_of_a_large_working_set_compiles_nothing(spark):
    """Under the posture ``tune_execution`` picks for sf0.001 (AQE off)
    every plan repeats exactly. With AQE on, the stage ids in the class
    names, and sometimes a plan (q20's), differ between runs, and those
    classes compile whatever the cache size."""
    specs = all_specs()
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k, None) for k in keys}

    def one_pass():
        for name in _QUERIES:
            specs[name].builder(spark, SF_SMOKE).write.format("noop").mode(
                "overwrite"
            ).save()
            release_reuse_caches()

    try:
        tune_execution(spark, SF_SMOKE)
        one_pass()
        before = codegen_stats(spark)
        one_pass()
        after = codegen_stats(spark)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert after[0] - before[0] == 0
    assert after[1] == before[1]


def test_codegen_stats_without_jvm():
    class _ConnectLike:
        pass

    assert codegen_stats(_ConnectLike()) is None
