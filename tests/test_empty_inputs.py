"""Empty-input robustness: at 100 TB, empty tables and empty
partitions are routine (a fresh warehouse, an hour with no events, a
filter that eliminates a source). Every operator must degrade to an
empty (or guard-valued) result, never throw.

A full probe of all 112 registered queries against empty tables
passed in round 6; this permanent test pins the riskiest shape per
operator family (seeded IVF, iterative CC, window/lag, incremental
rollup, ratio-producing quality metrics, …) so regressions surface
without doubling the suite's runtime.
"""

import pytest

from crypto_etl_airflow_spark.plans.registry import all_specs
from crypto_etl_airflow_spark.sources.tables import TABLES

# one representative per family, biased toward operators with seeds,
# iteration, division, or window frames — the shapes that typically
# break on zero rows
RISKY = [
    "hourly_variation",        # window lag + pct-change division
    "pivot_entities",          # pivot with discovered columns
    "rollup_incremental_hourly",  # multi-batch incremental fold
    "quality_metrics",         # aggregate scalars + ratio checks
    "quality_psi_value_drift", # distribution compare, log of ratios
    "dedup_minhash_lsh",       # grouped signature agg + banding
    "dedup_clusters",          # iterative connected components
    "dedup_keep_best",         # min_by over empty groups
    "similarity_topk_ivf",     # SEEDED centroids (limit on empty)
    "similarity_topk_lsh",     # broadcast planes over empty corpus
    "embedding_quantize_error_by_label",  # array min/max on no rows
    "text_winnow_shared_pairs",  # window min + self-join
    "text_tfidf_top_terms",    # idf division, vocab on empty corpus
    "multimodal_features",     # Arrow mapInPandas over zero batches
    "customer_rfm_segments",   # ntile over empty partitions
    "funnel_view_click_purchase",  # sequential conversion ratios
    # round-8 additions
    "text_repetition_signals",  # left join of two per-doc aggregates
    "similarity_hybrid_rrf_topk",  # union-aggregate fusion of two empty top-Ns
    "dedup_substring_spans",    # island merge over empty window table
    "curation_pipeline_summary",  # chained ops + window over empty corpus
    # round-9 additions: the store roundtrips pin the empty-first-write
    # contract (an empty write must still CREATE a schema'd store —
    # regression: PATH_NOT_FOUND on readback, fixed in dedup_store.py)
    "dedup_incremental_fingerprint",
    "dedup_incremental_simhash",
    "dedup_incremental_containment",
    "dedup_incremental_semantic",  # IVF build on an EMPTY store slice
    "quality_classifier_scores",   # grouped avg over zero token rows
    "similarity_bm25_indexed",     # postings store built on zero docs
    "similarity_topk_ivf_maintained",  # delete against an EMPTY index
    "quality_classifier_trained",  # log-odds over zero token counts
    "anomaly_mad_events",       # windowed exact medians + division
    "analytics_retention_cohorts",  # datediff offsets over no users
    "export_jsonl_roundtrip",   # JSONL write/readback of zero rows
]


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        (
            spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
            .limit(0)
            .write.mode("overwrite")
            .parquet(f"{out}/{t}.parquet")
        )
    return str(out)


@pytest.mark.parametrize("name", RISKY)
def test_query_survives_empty_tables(spark, empty_sf, name):
    from crypto_etl_airflow_spark.operators.dedup import release_reuse_caches

    spec = all_specs()[name]
    try:
        spec.builder(spark, empty_sf).count()  # must not raise
    finally:
        release_reuse_caches()
