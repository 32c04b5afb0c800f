"""Dump the FULL `.explain("formatted")` output (AQE-finalized, i.e.
executed first) for a list of registered queries into per-query text
files — the before/after plan evidence for an optimization round.

    python tools/dump_plans.py <outdir> <suffix> <query> [<query> ...]

writes `<outdir>/<query>_<suffix>.txt` for each query. Run it from the
repo revision whose plans you want (a git worktree for "before", HEAD
for "after"); the outdir can live in the main checkout either way.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    outdir = Path(sys.argv[1])
    suffix = sys.argv[2]
    names = sys.argv[3:]
    outdir.mkdir(parents=True, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from crypto_etl_airflow_spark.operators.dedup import release_reuse_caches
    from crypto_etl_airflow_spark.plans.registry import all_specs
    from crypto_etl_airflow_spark.session import get_spark, tune_execution

    # a 1g driver heap (Spark's default) keeps the memory page size,
    # and so the broadcast stages' reported sizes, as PLANS.md records
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "1g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # the committed plan evidence must be reproducible from the
    # committed tool (ADVICE r16 item 2): dump under the SAME
    # execution posture the engine/bench applies — the size-aware
    # tune_execution choice — and say so in a header so a reader can
    # tell which posture a dump was taken under.
    tune_execution(spark, sf_dir)
    header = (
        f"// posture: shuffle.partitions="
        f"{spark.conf.get('spark.sql.shuffle.partitions')}, "
        f"adaptive={spark.conf.get('spark.sql.adaptive.enabled')}\n"
    )

    specs = all_specs()
    for name in names:
        spec = specs[name]
        df = spec.builder(spark, sf_dir)
        df.collect()  # execute so AQE finalizes join picks / codegen ids
        qe = df._jdf.queryExecution()
        formatted = qe.explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = outdir / f"{name}_{suffix}.txt"
        path.write_text(header + formatted)
        print(f"wrote {path} ({len(formatted)} chars)")
        release_reuse_caches()

    spark.stop()


if __name__ == "__main__":
    main()
