"""Plan diagnostics: structured summary of a DataFrame's physical plan.

The numbers SCALE.md reasons about — shuffles, join strategies,
pushed filters, codegen coverage — extracted programmatically so
tests and tooling can assert on them instead of eyeballing
``explain()`` output (tests/test_plan_quality.py uses the same
signals).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class PlanSummary:
    n_exchanges: int
    n_broadcast_exchanges: int
    join_strategies: tuple[str, ...]
    pushed_filters: tuple[str, ...]
    n_codegen_stages: int
    python_eval: bool
    scans: int
    text: str = field(repr=False, default="")


_JOINS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
_PY_MARKERS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
)


def summarize_plan(df: DataFrame, execute: bool = False) -> PlanSummary:
    """Inspect the physical plan.

    With AQE on, join strategies and codegen spans are only final
    after execution — pass ``execute=True`` to run THIS DataFrame's
    own query execution (``collect()``; a ``count()`` would spawn a
    separate plan and leave this one unfinalized) and summarize the
    finalized adaptive plan. Diagnostics only: don't execute
    unbounded results.
    """
    if execute:
        df.collect()
    qe = df._jdf.queryExecution()
    # formatted mode exposes codegen ids; toString does not under AQE
    text = qe.executedPlan().toString() + "\n" + qe.explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    joins = tuple(j for j in _JOINS for _ in re.findall(j, text))
    pushed = tuple(
        m.strip()
        for seg in text.split("PushedFilters: [")[1:]
        for m in seg.split("]")[0].split(",")
        if m.strip()
    )
    return PlanSummary(
        n_exchanges=len(re.findall(r"\bExchange\b", text)),
        n_broadcast_exchanges=text.count("BroadcastExchange"),
        join_strategies=joins,
        pushed_filters=pushed,
        # formatted output labels codegen spans "[codegen id : N]";
        # non-AQE toString uses "*(N)" operator prefixes
        n_codegen_stages=len(
            set(re.findall(r"codegen id : (\d+)", text))
            | set(re.findall(r"\*\((\d+)\)", text))
        ),
        python_eval=any(m in text for m in _PY_MARKERS),
        scans=text.count("FileScan") + text.count("Scan parquet"),
        text=text,
    )
