"""Plan-quality guards: catch silent performance regressions.

Every declarative query must stay fully JVM-side — a stray Python UDF
would show up as BatchEvalPython / ArrowEvalPython / PythonUDF in the
physical plan and run 10-100× slower at scale. Scan-shaped queries
must keep their filters pushed into the parquet scan.

Streaming-tagged queries are excluded (their builders execute real
streaming runs; covered in test_streaming.py), as is the multimodal
decode whose mapInPandas stage is Python BY DESIGN.
"""

import pytest

from crypto_etl_airflow_spark.plans.registry import all_specs

from .conftest import SF_SMOKE

_PYTHON_MARKERS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "PythonUDF",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
)
_GROUP_KERNELS = ("FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow")

_EXCLUDED_TAGS = {"streaming", "ingest"}
# Arrow-batched kernels sanctioned BY DESIGN, each with a docstring-
# pinned bit-parity contract and an oracle-certified registered query:
# the multimodal decode (mapInPandas) and the semdedup pair scorer
# (applyInArrow → FlatMapGroupsInArrow/FlatMapCoGroupsInArrow —
# ADVICE r15: the dim-known pair path must never run as a codegen'd
# 64-term dot chain, which HotSpot refuses to JIT). Row-at-a-time
# markers (BatchEvalPython/PythonUDF) and pandas group kernels stay
# banned everywhere.
_PYTHON_BY_DESIGN = {
    "multimodal_features",
    "embedding_semdedup_pairs",
    "embedding_semdedup_keep",
    "dedup_incremental_semantic",
    "pipeline_curate_corpus",
    "pipeline_curate_funnel",
    "pipeline_curate_dsir_sample",
}

# queries whose registered plan holds the SemDeDup pair search
# (dedup_incremental_semantic collects its cogroup result — its kernel
# plan is pinned in test_semdedup_incremental.py)
_SEMDEDUP_PAIR_PLANS = _PYTHON_BY_DESIGN - {
    "multimodal_features",
    "dedup_incremental_semantic",
}

SPECS = [
    s
    for s in all_specs().values()
    if not (_EXCLUDED_TAGS & set(s.tags))
]


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_plan_has_no_python_eval(spark, spec):
    df = spec.builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    markers = _PYTHON_MARKERS
    if spec.name in _PYTHON_BY_DESIGN:
        # Arrow group kernels allowed; row-at-a-time still banned
        markers = tuple(m for m in _PYTHON_MARKERS if m not in _GROUP_KERNELS)
    if spec.name in _SEMDEDUP_PAIR_PLANS:
        assert "FlatMapGroupsInArrow" in plan, f"{spec.name}: {plan[:2000]}"
    hits = [m for m in markers if m in plan]
    assert not hits, f"{spec.name}: Python evaluation in plan: {hits}"


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q3_top_orders",
        "q5_revenue_by_nation",
        "q6_forecast_revenue",
        "q9_profit_by_nation_year",
        "q16_supplier_cnt_by_part",
        "q22_dormant_rich_customers",
    ],
)
def test_filters_reach_parquet_scan(spark, name):
    df = all_specs()[name].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate (not just the bare brackets)
    pushed = [
        seg.split("]")[0]
        for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any(p.strip() for p in pushed), f"{name}: no pushed filters:\n{plan}"


def test_plan_summary_diagnostics(spark):
    from crypto_etl_airflow_spark.plans.diagnose import summarize_plan

    df = all_specs()["q5_revenue_by_nation"].builder(spark, SF_SMOKE)
    s = summarize_plan(df, execute=True)
    assert s.n_broadcast_exchanges >= 4  # all dims broadcast
    assert "BroadcastHashJoin" in s.join_strategies
    assert s.pushed_filters  # region filter reached the scan
    assert not s.python_eval
    assert s.n_codegen_stages >= 1


def test_decontaminate_broadcasts_benchmark_shingles(spark):
    """The benchmark shingle set must broadcast into the corpus
    semi-join — a shuffled corpus-shingle join would be the 100 TB
    regression this operator exists to avoid."""
    df = all_specs()["dedup_decontaminate"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:2000]


def test_winnow_pairs_broadcasts_hot_fingerprints(spark):
    """The boilerplate-fingerprint cap must broadcast into a LEFT ANTI
    join (the hot set is tiny by construction); a shuffled anti-join
    of the full fingerprint table would defeat the cap at scale."""
    df = all_specs()["text_winnow_shared_pairs"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:2000]


def test_scaled_lsh_broadcasts_planes_table(spark):
    """The hyperplane table must arrive via broadcast (one scan
    computes every hash table's bucket); a shuffle there would key on
    nothing useful and serialize the bucketing stage."""
    df = all_specs()["embedding_neardup_pairs_lsh_scaled"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]


def test_line_dedup_broadcasts_hot_lines(spark):
    """The hot-line (boilerplate) set must broadcast into the LEFT
    ANTI join against the exploded line table — shuffling the full
    line table against a shuffled hot set would turn the cheap
    boilerplate filter into a corpus-wide sort-merge at scale."""
    df = all_specs()["dedup_lines_global"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:2000]


def test_semdedup_assignment_is_arrow_kernel(spark):
    """Cluster assignment must score every vector against the
    collected centroid table inside an Arrow-batched kernel
    (mapInArrow since r17 — zero per-row Python; mapInPandas before)
    — one pass over the corpus, no per-vector shuffle, and no
    BroadcastNestedLoopJoin cross-score (r15: the codegen'd 64-term
    dot chain exceeded HotSpot's huge-method JIT limit and ran as
    interpreted bytecode at ~1-10 µs/dot; the vectorized kernel keeps
    the bit-identical sequential fold at numpy speed)."""
    df = all_specs()["embedding_semdedup_pairs"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "text_pii_redact",
        "text_gopher_filter",
        "dedup_lines_intradoc",
        "text_blocklist_filter",
    ],
)
def test_curation_projections_have_no_exchange(spark, name):
    """PII redaction, the Gopher filter, and intra-document line dedup
    are pure projections: the
    physical plan must contain NO Exchange at all — at 100 TB these
    run at parquet-scan speed, and a stray shuffle would be a silent
    order-of-magnitude regression."""
    df = all_specs()[name].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"{name}: unexpected shuffle:\n{plan[:2000]}"


def test_incremental_store_join_broadcasts_batch_side(spark, tmp_path):
    """The incremental dedup join must broadcast the (small) batch
    bucket keys against the store scan — a sort-merge shuffle of the
    full store's band rows per ingest batch is the 100 TB regression
    the store exists to avoid. Also: no cartesian, no Python eval."""
    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.operators import dedup_store

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    path = str(tmp_path / "sigs")
    dedup_store.write_minhash_store(
        docs.filter(F.col("doc_id") % 4 != 0), path
    )
    store = dedup_store.read_minhash_store(spark, path)
    out = dedup_store.incremental_minhash_pairs(
        docs.filter(F.col("doc_id") % 4 == 0), store, threshold=0.5
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "Cartesian" not in plan, plan[:2000]
    assert not [m for m in _PYTHON_MARKERS if m in plan]


def test_bruteforce_broadcasts_probes_not_cartesian(spark):
    """cosine_topk_bruteforce must plan the probe×corpus product as a
    BroadcastNestedLoopJoin with the PROBES broadcast — never a
    CartesianProduct (the r9 1000×-decade regression: AQE stopped
    broadcasting the corpus once it outgrew the threshold, and the
    resulting partition-product re-read every corpus partition once
    per probe partition, ×33.8 for ×10 data)."""
    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)
    df = cosine_topk_bruteforce(probes, emb, k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_bruteforce_probe_guard_falls_back_unhinted(spark):
    """ADVICE r9: a probe set past the broadcast bound must NOT be
    force-broadcast (broadcast-size failure / driver OOM at scale) —
    the operator degrades to an unhinted cross join and lets AQE
    plan it."""
    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)
    df = cosine_topk_bruteforce(probes, emb, k=3, max_broadcast_probes=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no explicit broadcast HINT on the probes: with tiny test inputs
    # AQE may still choose a broadcast join, so assert the guard's
    # effect structurally — results must match the broadcast path
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(
        tuple(r) for r in cosine_topk_bruteforce(probes, emb, k=3).collect()
    )
    assert got == want and got


def test_no_hof_dot_inside_bnlj_condition_outside_baselines(spark):
    """The r15 BNLJ-condition lens, pinned engine-wide (SCALE.md r16):
    a Filter over a cross join is pushed into the
    BroadcastNestedLoopJoin as its CONDITION, and a higher-order-
    function dot there is evaluated INTERPRETED per (left × right)
    pair. Exactly one family may carry that shape — the documented
    exact-baseline `embedding_neardup_pairs` — plus the RHP bucketing
    sites whose HOF is the (linear-volume) plane projection itself.
    Scoped to the vector-bearing tags; everything else was inventoried
    once in SCALE.md r16 and carries no HOF conditions."""
    allowed = {
        "embedding_neardup_pairs",           # exact n² baseline
        "similarity_topk_lsh",               # plane projection, linear
        "embedding_neardup_pairs_lsh_scaled",
        "embedding_neardup_pairs_lsh_scaled_planted",
    }
    offenders = {}
    for name, spec in all_specs().items():
        if not ({"similarity", "dedup"} & set(spec.tags)):
            continue
        if {"streaming", "ingest"} & set(spec.tags):
            continue
        plan = (
            spec.builder(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for line in plan.splitlines():
            if (
                "BroadcastNestedLoopJoin" in line
                and "aggregate(zip_with" in line
                and name not in allowed
            ):
                offenders[name] = line.strip()[:200]
    assert not offenders, offenders


def test_hybrid_rrf_fuses_without_sort_merge_join(spark):
    """Hybrid RRF fuses its two top-N rankings as a per-document
    aggregate over their union, not a full-outer join. Under the tiny
    posture (AQE off, 4 partitions) its plan has no SortMergeJoin, so
    it needs no runtime re-planning to be fast."""
    from crypto_etl_airflow_spark.plans.retrieval import (
        similarity_hybrid_rrf_topk,
    )

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        df = similarity_hybrid_rrf_topk(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    assert "SortMergeJoin" not in plan, plan[:3000]
