"""Plan audit: dump a structural summary + formatted physical plan
for every bench-flagged query into PLANS.md — the reviewable evidence
that each headline plan is the plan we WANT (broadcasts where claimed,
filters pushed, no Python eval, bounded exchange count), not just the
first one that passed.

    python tools/plan_audit.py      # writes PLANS.md at the repo root

The structural summary is recomputed from the live plan on every run,
so PLANS.md never drifts from the code.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

# counted as OPERATOR INSTANCES — "(N) <op>" lines in the formatted
# explain of the AQE-finalized plan, so nothing is double-counted
# across plan representations or the AQE initial-plan echo
_OPS = (
    "Exchange",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "InMemoryTableScan",
)
# row-at-a-time / scalar-UDF nodes — must be ZERO everywhere
_PY_MARKERS = ("BatchEvalPython", "ArrowEvalPython")
# Arrow-batched group/map kernels — sanctioned surfaces with pinned
# bit-parity contracts (assignment kernel, semdedup pair kernel,
# multimodal decoders); counted separately so the audit shows WHERE
# Python executes without conflating it with the banned row path
_ARROW_KERNELS = (
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
)


def _op_count(formatted: str, op: str) -> int:
    return len(re.findall(rf"\(\d+\) {op}\b", formatted))


# bench queries whose registered builder hides the hot path behind a
# tempdir collect would need an override here (name → builder); the
# current bench set has none — similarity_topk_ivfpq_refined returns
# its LIVE steady-state plan via a process-cached index.
_PLAN_OVERRIDES: dict = {}

# Non-bench store-roundtrip queries converted to the process-cached-
# store pattern (VERDICT r12 item 5): their registered builders now
# return LIVE steady-state plans, so they are plan-auditable here
# alongside the bench set.
_EXTRA_AUDIT = (
    "dedup_ngram_jaccard_lsh",  # r13 LSH-first candidate gate
    "similarity_topk_ivfpq",
    "similarity_topk_ivfsq",
    "similarity_topk_ivf_rebalanced",
    "similarity_topk_ivfsq_rebalanced",
    "dedup_incremental_minhash",
    "upsert_transactional_lifecycle",  # r13 multi-writer txlog reader
    # r14 cached-store conversions (the last non-decade tempdir sites)
    "dedup_incremental_minhash_maintained",
    "dedup_incremental_simhash_maintained",
    "similarity_topk_ivfsq_maintained",
    "similarity_topk_ivfpq_maintained",
    "multimodal_png_features",  # r14 stdlib PNG decode stage
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from crypto_etl_airflow_spark.operators.dedup import release_reuse_caches
    from crypto_etl_airflow_spark.plans.registry import all_specs
    from crypto_etl_airflow_spark.session import get_spark

    # a 1g driver heap (Spark's default) keeps the memory page size,
    # and so the broadcast stages' reported sizes, as PLANS.md records
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "1g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # name-sorted: all_specs() order follows the certification
    # rotation, which changes every round and would churn PLANS.md
    # with order-only diffs; a stable order keeps round-over-round
    # diffs reviewable
    specs = dict(
        sorted(
            (n, s)
            for n, s in all_specs().items()
            if s.bench or n in _EXTRA_AUDIT
        )
    )

    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Auto-generated by `tools/plan_audit.py` at {sf_dir}; regenerate",
        "after any plan-affecting change. For each bench query: the",
        "structural counts that matter at 100 TB (exchanges = shuffles,",
        "broadcast vs sort-merge joins, whole-stage codegen spans,",
        "row-at-a-time Python nodes — ZERO everywhere — and Arrow",
        "kernels, the sanctioned batched surfaces: the nearest-centroid",
        "assignment, the semdedup pair scorer, multimodal decoders),",
        "then the executed plan's operator tree.",
        "",
    ]
    for name, spec in specs.items():
        builder = _PLAN_OVERRIDES.get(name, spec.builder)
        df = builder(spark, sf_dir)
        # execute THIS plan so AQE finalizes it (join picks, codegen ids)
        df.collect()
        qe = df._jdf.queryExecution()
        formatted = qe.explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        counts = {op: _op_count(formatted, op) for op in _OPS}
        n_codegen = len(set(re.findall(r"codegen id : (\d+)", formatted)))
        n_python = sum(formatted.count(m) for m in _PY_MARKERS)
        n_kernels = sum(
            len(re.findall(rf"\(\d+\) {m}\b", formatted))
            for m in _ARROW_KERNELS
        )
        summary = (
            f"shuffle exchanges={counts['Exchange']}, "
            f"broadcast={counts['BroadcastExchange']}, "
            f"BHJ={counts['BroadcastHashJoin']}, "
            f"SMJ={counts['SortMergeJoin']}, "
            f"BNLJ={counts['BroadcastNestedLoopJoin']}, "
            f"codegen spans={n_codegen}, "
            f"cached scans={counts['InMemoryTableScan']}, "
            f"arrow kernels={n_kernels}, "
            f"python eval={n_python}"
        )
        first_line = (spec.doc or "").strip().splitlines()[0] if spec.doc else ""
        tree = formatted.split("\n\n")[0]  # operator tree section only
        out += [
            f"## {name}",
            "",
            first_line,
            "",
            f"**Structure:** {summary}",
            "",
            "```",
            tree.rstrip()[:4000],
            "```",
            "",
        ]
        release_reuse_caches()

    Path(_REPO_ROOT, "PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md: {len(specs)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
