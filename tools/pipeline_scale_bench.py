"""Decade harness for the COMPOSED curation pipeline (VERDICT r12
item 1): x10/x100 corpora under /tmp, timed 1× vs K× with
plan-signature fingerprints.

Why the pipeline can't use tools/scale_bench.py's shared K× corpus:
that construction suffixes EVERY token with the copy index (the
property the dedup decade needs — no shingle shared across copies),
which turns every stopword ``the`` into ``the<k>`` — the Gopher
gate's ``stopwords ≥ 2`` band then rejects the ENTIRE K× corpus and
the pipeline collapses to EmptyRelation subtrees (measured r13: a
bogus 0.55 "ratio" with a plan diff full of empties). The pipeline
needs corpus copies that preserve STAGE SEMANTICS:

- ``documents``: doc_id + k·10⁹ (10⁹ ≡ 0 mod 10, so every copy
  plants its own banner/junk/clone/near-dup arms — planted signals
  grow linearly); ONLY non-stopword tokens get the copy suffix, so
  the Gopher stopword band, mean-word-length band, and the
  classifier/LM tokenizations keep firing, while cross-copy shingle
  sharing needs 3 consecutive stopwords — cross-copy Jaccard stays
  far below the 0.8 near-dup threshold and the MinHash stage's true
  pairs still replicate per copy.
- ``embeddings``: the shared orthogonal-transform construction
  (scale_bench.scaled_embedding_copies) — within-copy cosines exact,
  cross-copy directions decorrelated.

SemDeDup's ``nlist`` is re-dialed ∝ corpus (16·K) so clusters stay
constant-sized — the operator's documented scale contract; freezing
nlist at K× would measure a config its own docstring refuses (the
scale_bench exclusion note).

Usage: python tools/pipeline_scale_bench.py [K]   (default 10).
Prints one JSON line; paste into SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
_TOOLS = str(Path(__file__).resolve().parent)
if _TOOLS not in sys.path:
    sys.path.insert(0, _TOOLS)


def build_pipeline_scaled_dir(spark, src: str, out: str, factor: int) -> None:
    """documents (stopword-preserving suffix) + embeddings (shared
    construction) only — the two tables the pipeline loads. Staging-
    dir rename so an interrupted build can't masquerade as complete."""
    from pyspark.sql import functions as F

    from scale_bench import _write_chunked, scaled_embedding_copies

    from crypto_etl_airflow_spark.functions.text import STOPWORDS

    staging = out + ".__building"
    for leftover in (out, staging):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    os.makedirs(staging)

    docs = spark.read.parquet(f"{src}/documents.parquet")
    doc_copies = [
        docs.select(
            (F.col("doc_id") + F.lit(k * 10**9)).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.when(w.isin(*STOPWORDS), w).otherwise(
                        F.concat(w, F.lit(str(k)))
                    ),
                ),
                " ",
            ).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        ).select(*docs.columns)
        for k in range(factor)
    ]
    _write_chunked(doc_copies, f"{staging}/documents.parquet")
    _write_chunked(
        scaled_embedding_copies(spark, src, factor),
        f"{staging}/embeddings.parquet",
    )
    os.rename(staging, out)


def _sig_of(df) -> dict[str, int]:
    sig: dict[str, int] = {}
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        op = line.lstrip(" :+-*(0123456789)").split(" ", 1)[0].split("(", 1)[0]
        if op:
            sig[op] = sig.get(op, 0) + 1
    return sig


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = os.environ.get(
        "SPARK_GRAFT_PIPELINE_SCALE_DIR", f"/tmp/pipeline_scale_x{factor}"
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from crypto_etl_airflow_spark.session import get_spark

    spark = get_spark(
        "crypto-etl-spark-pipeline-scale-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            # zstd for shuffle/spill instead of default lz4: the decade
            # corpora are text-heavy and a single node carries the WHOLE
            # shuffle footprint (a cluster spreads it) — zstd roughly
            # halves on-disk shuffle bytes, the knob a shuffle-heavy text
            # pipeline sets in production too (r14 ×1000 disk lesson)
            "spark.io.compression.codec": "zstd",
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "16g"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if os.path.exists(f"{out}/embeddings.parquet/_SUCCESS"):
        build_s = 0.0
    else:
        t0 = time.perf_counter()
        build_pipeline_scaled_dir(spark, src, out, factor)
        build_s = time.perf_counter() - t0

    from crypto_etl_airflow_spark.plans.pipeline_curate import (
        pipeline_curate_corpus,
        pipeline_curate_funnel,
    )
    from crypto_etl_airflow_spark.session import tune_execution

    # each scale side runs under the engine's size-aware posture for
    # THAT side: session.tune_execution, applied before each side
    # because one session measures both (partitions proportional +
    # AQE off in the tiny scheduling-bound regime, core-floored + AQE
    # on at real scale). Physical strategy only — values and the
    # funnel stage counts are posture-independent.
    side_1x = (f"{src}/documents.parquet", f"{src}/embeddings.parquet")
    side_kx = (f"{out}/documents.parquet", f"{out}/embeddings.parquet")

    # warm-up outside any timed window — page cache + parquet footers
    # on BOTH sides, so IO (linear anyway) doesn't ride the first
    # timed run.
    spark.read.parquet(f"{src}/documents.parquet").count()
    spark.read.parquet(f"{src}/embeddings.parquet").count()
    spark.read.parquet(f"{out}/documents.parquet").count()
    spark.read.parquet(f"{out}/embeddings.parquet").count()

    # REGIME-SPLIT protocol (r14). The pipeline's _reuse persists hit
    # Spark's CacheManager BY CANONICAL PLAN, so a later same-plan
    # builder call can reuse blocks the first call cached. A persist
    # downstream of a Python kernel never matches across calls (each
    # call pickles a fresh closure), so only the kernel-free
    # intermediates can be served. r13's single-regime numbers mixed
    # the two regimes (measured at ×100 then: the FIRST query cost
    # 606 s, every later one ~120 s). Each (builder, scale) cell is
    # therefore measured twice from a declared cache state:
    #   first  — caches cleared; the true single-pass cost (what one
    #            production run over the corpus pays);
    #   steady — immediately after, same plan; the cache-assisted
    #            cost (what repeated analytics over one session pay).
    # Ratios are only comparable within a regime.
    # SPARK_GRAFT_PIPE_BENCH_MODE=fast skips the corpus FIRST run
    # (it shares the funnel's chain; at ×1000 a second true run
    # doubles an hour-long measurement for a known ~equal number);
    # =funnel-only also skips the corpus rows and the K× stage-count
    # collection entirely (both already measured at the previous
    # decade — the third-decade question is the funnel curve).
    # =corpus-first is the complement of funnel-first (r16): the
    # funnel's ×1000 first-regime row landed, so measure the CORPUS
    # query's true single-pass K× cost alone, skipping the funnel
    # rows and the steady re-run for the same session-budget reason.
    from crypto_etl_airflow_spark.operators.dedup import (
        release_reuse_caches,
    )

    mode = os.environ.get("SPARK_GRAFT_PIPE_BENCH_MODE", "full")

    def _clear_caches() -> None:
        release_reuse_caches()
        spark.catalog.clearCache()

    def _timed(builder, d: str, nlist: int):
        t0 = time.perf_counter()
        cnt = builder(spark, d, semdedup_nlist=nlist).groupBy().count()
        cnt.collect()
        return round(time.perf_counter() - t0, 3), cnt

    # =corpus-only: corpus BOTH regimes, no funnel rows / stage
    # counts — the steady-regime A/B harness (r16 reuse-level work)
    if mode in ("corpus-first", "corpus-only"):
        builders = [("pipeline_curate_corpus", pipeline_curate_corpus)]
    else:
        builders = [("pipeline_curate_funnel", pipeline_curate_funnel)]
        if mode not in ("funnel-only", "funnel-first"):
            builders.append(
                ("pipeline_curate_corpus", pipeline_curate_corpus)
            )
    results: dict[str, dict] = {}
    for name, builder in builders:
        row: dict = {}
        skip_first = mode == "fast" and name == "pipeline_curate_corpus"
        # 'funnel-first' (r15, the ×1000 budget mode): measure the
        # true single-pass K× cost and skip the cache-assisted steady
        # re-run — at ×1000 the steady row doubles an hour-long
        # measurement for a secondary number; plan signature comes
        # from the first run instead. corpus-first: same budget
        # rationale for the corpus leg.
        skip_k_steady = mode in ("funnel-first", "corpus-first")
        posture_1x = tune_execution(spark, *side_1x)
        if not skip_first:
            _clear_caches()
            row["t1_first"], _ = _timed(builder, src, 16)
        row["t1_steady"], cnt1 = _timed(builder, src, 16)
        posture_kx = tune_execution(spark, *side_kx)
        print(
            f"# posture: 1x {posture_1x}; {factor}x {posture_kx}",
            file=sys.stderr,
            flush=True,
        )
        if not skip_first:
            _clear_caches()
            row["tK_first"], cntK_first = _timed(builder, out, 16 * factor)
        if skip_k_steady:
            cntK = cntK_first
        else:
            row["tK_steady"], cntK = _timed(builder, out, 16 * factor)
        if not skip_first:
            row["ratio_first"] = round(row["tK_first"] / row["t1_first"], 2)
        if not skip_k_steady:
            row["ratio_steady"] = round(
                row["tK_steady"] / row["t1_steady"], 2
            )
        sig1, sigK = _sig_of(cnt1), _sig_of(cntK)
        row["plan_identical"] = sig1 == sigK
        if sig1 != sigK:
            row["plan_diff"] = {
                op: [sig1.get(op, 0), sigK.get(op, 0)]
                for op in sorted(set(sig1) | set(sigK))
                if sig1.get(op, 0) != sigK.get(op, 0)
            }
        results[name] = row
        print(
            f"# {name}: "
            + " ".join(
                f"{k}={v}" for k, v in row.items() if isinstance(v, float)
            )
            + ("" if row["plan_identical"] else " PLAN-DIFF"),
            file=sys.stderr,
            flush=True,
        )

    # funnel stage counts at K× — the semantics check: every stage
    # must still FIRE (drop documents) on the scaled corpus, and
    # pre-admission stages should hold ~K× the 1× doc counts
    funnel_k = None
    if mode not in (
        "funnel-only", "funnel-first", "corpus-first", "corpus-only"
    ):
        funnel_k = {
            r.stage: [int(r.n_docs), int(r.n_tokens)]
            for r in pipeline_curate_funnel(
                spark, out, semdedup_nlist=16 * factor
            ).collect()
        }

    print(
        json.dumps(
            {
                "metric": "pipeline_scale_curve",
                "factor": factor,
                "build_sec": round(build_s, 1),
                "src": src,
                # per-side posture (r15): with the size-aware policy
                # the 1× and K× sides may run under different AQE /
                # partition regimes, so plan_identical=False is
                # EXPECTED when the postures differ — read plan_diff
                # against this field
                "posture": {"1x": posture_1x, f"{factor}x": posture_kx},
                "queries": results,
                "funnel_kx": funnel_k,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
