"""Benchmark harness: runs the bench-flagged headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed to full materialization via the noop sink
(``df.write.format("noop").mode("overwrite").save()`` — guide §1.4):
every output column is computed and discarded executor-side, so we
measure execution without driver transfer. Through round 16 the timed
action was ``count()``, which Catalyst PRUNES: a pure-projection query
(text_token_stats) timed as a bare parquet row count (0.23 s vs its
real 0.82 s of regex tokenization), and aggregate/window VALUE
expressions were deleted the same way — the r14 microbench lesson
("benchmark aggregates by CONSUMING their values"), found in the main
bench by an action A/B in optimization round 16 (the full per-query
count-vs-noop table is in OPTIMIZATION_r16.md; every other query was
within host noise, so round-over-round totals stay comparable).
Warm-up: one untimed pass per query to absorb
JVM/codegen startup; then each query is timed best-of-N (min, N=5), with
the max-min spread reported alongside, so sub-100 ms machine noise
doesn't read as a regression round-over-round.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(Path(sf_dir).name.replace("sf", "") or "0.1")

    from crypto_etl_airflow_spark.session import (
        codegen_stats,
        get_spark,
        tune_execution,
    )

    spark = get_spark(
        "crypto-etl-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from crypto_etl_airflow_spark.plans.registry import all_specs

    # the engine's size-aware execution posture (session.py): shuffle
    # partitions proportional to input size, AQE off below the
    # scheduling-bound threshold (sf0.1 is 17 MB — per-stage latency,
    # not data, is the cost there), AQE on + core-floored partitions
    # at real scale. Physical strategy only; results are identical.
    posture = tune_execution(spark, sf_dir)

    specs = {n: s for n, s in all_specs().items() if s.bench}

    def _materialize(df) -> None:
        # the timed action: full materialization of EVERY output
        # column executor-side, nothing shipped to the driver. count()
        # is NOT equivalent — Catalyst prunes columns count() doesn't
        # need, deleting projection/aggregate value expressions from
        # the timed plan (see module docstring).
        df.write.format("noop").mode("overwrite").save()

    from crypto_etl_airflow_spark.operators.dedup import release_reuse_caches

    # One untimed pass per query first: JVM + whole-stage-codegen +
    # parquet footer reads are one-time costs a long-lived cluster
    # amortizes away, so the timed pass measures steady-state
    # execution (the 100 TB-relevant number).
    sc = spark.sparkContext

    # generated-code compiles per query, [classes, ms]: the warm-up
    # pass compiles each query's classes, and a timed run that still
    # compiles means the session's codegen cache evicted them
    codegen: dict[str, dict[str, list]] = {}

    def _codegen_since(before: tuple[int, float]) -> list:
        n, ms = codegen_stats(spark)
        return [n - before[0], round(ms - before[1], 1)]

    for spec in specs.values():
        # label jobs (guide §1): the Spark UI / event log attributes
        # every stage to the query that issued it
        sc.setJobDescription(f"bench-warmup:{spec.name}")
        before = codegen_stats(spark)
        _materialize(spec.builder(spark, sf_dir))
        release_reuse_caches()
        codegen[spec.name] = {"warmup": _codegen_since(before)}
    sc.setJobDescription(None)

    # Best-of-5 (was 3): the round-6 record showed ~40% apparent
    # regressions on the dedup queries that reproduced with NEITHER
    # the r6 code nor the r6 query set on an idle machine — transient
    # host contention during the graded run. More runs per query
    # makes the reported min far more robust to such interference.
    # Adaptive top-up (r10): when a query's spread exceeds 30% of its
    # median — the heavy dedup trio under contention — buy up to
    # max_extra more samples for exactly that query, so the reported
    # min and median are stable enough that a real ~20% regression is
    # distinguishable from noise round-over-round.
    import statistics

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    max_extra = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_EXTRA", "4"))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    spreads: dict[str, float] = {}
    min_gaps: dict[str, float] = {}
    extra_runs: dict[str, int] = {}

    def one_run(spec) -> float:
        sc.setJobDescription(f"bench:{spec.name}")
        t0 = time.perf_counter()
        _materialize(spec.builder(spark, sf_dir))
        dt = time.perf_counter() - t0
        # evict the dedup reuse persists between runs: each call
        # builds a NEW persisted intermediate, so without this the
        # warm-up + best-of-N loop accumulates dead cache blocks
        release_reuse_caches()
        return dt

    for name, spec in specs.items():
        before = codegen_stats(spark)
        runs = [one_run(spec) for _ in range(n_runs)]
        while (
            len(runs) < n_runs + max_extra
            and max(runs) - min(runs) > 0.3 * statistics.median(runs)
        ):
            runs.append(one_run(spec))
        runs.sort()
        timings[name] = round(runs[0], 4)
        medians[name] = round(statistics.median(runs), 4)
        spreads[name] = round(runs[-1] - runs[0], 4)
        # the gap between the two FASTEST runs: a direct stability
        # measure of the reported min (max-min only ever grows with
        # more samples, so it overstates noise on topped-up queries);
        # 0.0 under a single-run smoke (SPARK_GRAFT_BENCH_RUNS=1)
        min_gaps[name] = (
            round(runs[1] - runs[0], 4) if len(runs) > 1 else 0.0
        )
        extra_runs[name] = len(runs) - n_runs
        codegen[name]["timed"] = _codegen_since(before)

    # Regime split for the flagship composed pipeline (VERDICT r16
    # stretch): every timed run above clears the reuse caches, so the
    # headline numbers are FIRST-regime (one production pass). The
    # steady run rebuilds the pipeline right after a pass without a
    # clear, so any _reuse persist whose canonical plan the rebuild
    # matches is served from cache — the regime the decade harness
    # distinguishes.
    steady: dict[str, float] = {}
    _flag = "pipeline_curate_corpus"
    if _flag in specs:
        sc.setJobDescription(f"bench-steady:{_flag}")
        release_reuse_caches()
        _materialize(specs[_flag].builder(spark, sf_dir))  # fresh first pass
        t0 = time.perf_counter()
        _materialize(specs[_flag].builder(spark, sf_dir))  # no clear between
        steady[_flag] = round(time.perf_counter() - t0, 4)
        release_reuse_caches()

    total = round(sum(timings.values()), 4)
    # testdata fingerprint (VERDICT r14 item 5): two rounds in a row a
    # bench delta was confounded by driver-side testdata regeneration;
    # recording per-table (bytes, mtime) makes "same code, new data"
    # distinguishable from a real regression in the round log.
    fingerprint = {}
    try:
        for ent in sorted(os.scandir(sf_dir), key=lambda e: e.name):
            st = ent.stat()
            fingerprint[ent.name] = {
                "bytes": st.st_size,
                "mtime": int(st.st_mtime),
            }
    except OSError:
        pass
    # The stdout line is SLIM by design (VERDICT r16 item 2): the
    # driver records only the stdout TAIL, and the r15 payload — which
    # carried spreads, min-gaps, postures and a 10-table fingerprint
    # on one line — was cut mid-dict by that tail, destroying the
    # round-over-round baseline (PERF_r16: prev_bench_ok=false,
    # n_common=0). The printed line now carries only what the driver
    # diffs (metric/value/queries/median/median_total/sf) plus the
    # two contract-provenance fields it flagged as unverifiable:
    # "cpus" (proves $SPARK_GRAFT_CPUS was honored — the sub-second
    # queries are core-count-invariant at sf0.1 because the tiny
    # posture is latency-bound, NOT because the env var is ignored)
    # and "action" (ADVICE r16: the r16 count()→noop switch raised
    # some per-query numbers ~honestly; a recorded action lets a
    # future diff tell a harness change from a regression).
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "median": medians,
        "median_total": round(sum(medians.values()), 4),
        "sf": sf,
        "cpus": int(cpus),
        "action": "noop",
    }
    print(json.dumps(payload))
    # Everything else (stability fields, regime split, posture,
    # codegen compiles, fingerprint) lives in the full file record the
    # next round's review diffs query-by-query.
    full = dict(payload)
    full.update(
        {
            "master": f"local[{cpus}]",
            "spread": spreads,
            "min_gap": min_gaps,
            "extra_runs": {k: v for k, v in extra_runs.items() if v},
            "runs_per_query": n_runs,
            "steady": steady,
            "posture": posture,
            "codegen": codegen,
            "testdata_fingerprint": fingerprint,
        }
    )
    out = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", str(Path(_REPO_ROOT) / "BENCH_LOCAL.json")
    )
    try:
        with open(out, "w") as f:
            json.dump(full, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # a read-only checkout must not fail the bench
    spark.stop()


if __name__ == "__main__":
    main()
