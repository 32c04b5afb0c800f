"""Measured scale curve (VERDICT r5 item 6): synthesize a K× copy of
the extension tables (events / documents / embeddings), run the bench
queries at 1× and K×, and report the runtime ratio per query.

Construction (deterministic, no RNG — copy index k = 0..K-1):

- ``events``: event_id + k·10¹², ts + k seconds, value + k·0.001 —
  same entities, so per-entity series grow K× (the window-scaling
  case, not the more-keys case).
- ``documents``: doc_id + k·10⁹; every TOKEN gets a copy suffix
  (``token`` → ``token<k>``), so each copy's shingle-frequency
  distribution is IDENTICAL to the original's while no shingle is
  shared across copies — the K× corpus behaves statistically like K×
  independent documents (true near-dup pairs replicate per copy:
  exactly linear output growth; doc-freq caps keep their semantics).
- ``embeddings``: vec_id + k·10⁷; components circularly shifted by k
  — rotation preserves every within-copy cosine exactly
  (cos(shift_k(u), shift_k(v)) = cos(u, v)) while cross-copy
  directions decorrelate, so near-dup volume grows linearly and LSH
  buckets don't collapse into copy-clusters.
- TPC-H tables are copied UNSCALED: their queries (q1/q3/q5) run on
  identical data at both "scales" and act as a ratio≈1.0 control for
  environment drift between the two timing runs.

Timing: one throwaway query absorbs JVM/codegen startup, then ONE
timed run per query per scale (the heavy queries at K× are minutes —
best-of-3 would triple a number whose signal is its order of
magnitude, and the control queries bound the noise).

Usage:  python tools/scale_bench.py [K] [query ...]   (default K=10,
all bench queries). Naming queries limits the run (chunked timing —
the K× directory is reused across invocations once built).
Prints one JSON line; paste the table into SCALE.md.
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

SCALED_TABLES = ("events", "documents", "embeddings")
CONTROL_QUERIES = ("q1_pricing_summary", "q3_top_orders", "q5_revenue_by_nation")
# Scale-path operators measured here beyond the bench-flagged set
# (VERDICT r6 item 7): their blocking/candidate-cap claims need a
# measured curve like everything else's.
EXTRA_SCALE_QUERIES = (
    "dedup_fuzzy_levenshtein",
    "text_winnow_shared_pairs",
    "dedup_clusters_fuzzy",
    # (the planes=4 recall demonstrator was deregistered in round 8 —
    # its 20.8× @10× curve stays on record in SCALE_BENCH_r07.json —
    # so it is no longer measured here either)
    "dedup_substring_spans",  # token posexplode: rows × tokens/doc —
    # the one new r8 operator whose 10× curve genuinely needs measuring
    "dedup_substring_removal",  # same window table + occurrence ranking
    "similarity_hybrid_rrf_topk",  # two top-N rankings + N×N fusion join
    "text_repetition_signals",  # explode + (doc, n, gram) count
    "dedup_containment",  # shingle self-join (hot-capped) + 2-dir explode
    "dedup_ngram_jaccard_lsh",  # r13: the LSH-first candidate gate —
    # its decade factor vs dedup_ngram_jaccard's ×12 IS the lever's
    # measurement
    "curation_pipeline_summary",  # chained dedup ops + per-lang rollup
    # round-7 curation surface (plans/curation.py):
    "dedup_lines_global",  # the only one with a corpus shuffle
    "text_pii_redact",
    "text_gopher_filter",
    "sample_token_budget",
    "sample_token_budget_distributed",  # two-phase prefix sum
    "sequence_packing_manifest",
    "training_shards_manifest",
    "vocab_bpe_merge_rules",  # vocabulary-bound, not corpus-bound
    "text_bpe_token_counts",
    # round-8 late additions + round-9 surface (VERDICT r8 item 4):
    "analytics_retention_cohorts",
    "anomaly_mad_events",
    "text_blocklist_filter",
    "quality_curation_metrics",
    "dedup_lines_intradoc",
    "dedup_incremental_fingerprint",
    "dedup_incremental_simhash",
    "dedup_incremental_containment",
    "similarity_topk_ivf_indexed",
    "export_jsonl_roundtrip",
    # round-9 late additions:
    "quality_classifier_scores",  # explode + map-side-combined avg
    "similarity_bm25_indexed",  # postings-store roundtrip + pushed term filter
    "similarity_topk_ivf_maintained",  # build+add+DELETE+query lifecycle
    # round-10 maintenance + eval surface (certification shape here;
    # the store family's OWN fixed-batch/grown-store decade lives in
    # tools/store_scale_bench.py):
    "similarity_bm25_maintained",  # tombstone delete + epoch upsert + compact
    "dedup_incremental_fingerprint_maintained",
    "dedup_incremental_containment_maintained",  # df-decrementing delete
    "quality_classifier_eval",  # train + score + confusion agg
    # embedding_semdedup_* are deliberately NOT here: their registered
    # nlist=16 is sized for the certification fixture, and SemDeDup's
    # scale contract is nlist ∝ corpus size (clusters stay constant-
    # sized). Measuring 10× data at a frozen nlist would time a
    # config the operator's own docstring says not to run — the
    # planes=4 lesson. The nlist dial is measured separately in
    # SCALE.md (1× @ nlist=16 vs 10× @ nlist=160).
    # dedup_incremental_semantic is excluded for the same reason PLUS
    # a shape mismatch: this harness scales store AND batch together
    # (candidates ∝ Σ|store_c|·|batch_c| → ×100 at frozen nlist),
    # while the operator's steady-state contract is a FIXED batch
    # against a growing store (linear; rebuild with larger nlist as
    # the store grows — the index sidecar pins the regime).
)


def build_scaled_dir(spark, src: str, out: str, factor: int) -> None:
    """Builds into a sibling staging dir and renames at the end, so an
    interrupted build can never masquerade as (or contaminate) a
    complete one — the chunked appends below would otherwise
    double-append rows on a rerun (ADVICE r9)."""
    staging = out + ".__building"
    for leftover in (out, staging):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    os.makedirs(staging)
    _build_tables(spark, src, staging, factor)
    os.rename(staging, out)


def _build_tables(spark, src: str, out: str, factor: int) -> None:
    from pyspark.sql import functions as F

    for name in (
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem"
    ):
        src_path = f"{src}/{name}.parquet"
        if os.path.isdir(src_path):
            shutil.copytree(src_path, f"{out}/{name}.parquet")
        else:
            shutil.copy(src_path, f"{out}/{name}.parquet")

    ev = spark.read.parquet(f"{src}/events.parquet")
    ev_copies = [
        ev.select(
            (F.col("event_id") + F.lit(k * 10**12)).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {k} SECONDS")).alias("ts"),
            *[c for c in ev.columns if c not in ("event_id", "ts", "value")],
            (F.col("value") + F.lit(k * 0.001)).alias("value"),
        ).select(*ev.columns)
        for k in range(factor)
    ]
    _write_chunked(ev_copies, f"{out}/events.parquet")

    docs = spark.read.parquet(f"{src}/documents.parquet")
    doc_copies = [
        docs.select(
            (F.col("doc_id") + F.lit(k * 10**9)).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.concat(w, F.lit(str(k))),
                ),
                " ",
            ).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        ).select(*docs.columns)
        for k in range(factor)
    ]
    _write_chunked(doc_copies, f"{out}/documents.parquet")

    _write_chunked(
        scaled_embedding_copies(spark, src, factor),
        f"{out}/embeddings.parquet",
    )


def scaled_embedding_copies(spark, src: str, factor: int):
    """The K× embeddings construction (doc'd in the module docstring),
    shared with tools/pipeline_scale_bench.py: per-copy orthogonal
    transforms preserve every within-copy cosine exactly while
    decorrelating cross-copy directions."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    # Shift modulus = the ACTUAL embedding dimension (ADVICE r6: a
    # hardcoded 64 would silently truncate/garble vectors if the
    # fixture dimension ever changed — F.slice past the end returns a
    # short array without error). Require a uniform dimension, then
    # use it everywhere below.
    dims = emb.select(
        F.min(F.size("embedding")).alias("lo"),
        F.max(F.size("embedding")).alias("hi"),
    ).first()
    if dims.lo != dims.hi:
        raise ValueError(
            f"non-uniform embedding dimension {dims.lo}..{dims.hi}: the "
            "circular-shift construction needs one shift modulus"
        )
    dim = dims.lo
    if factor > dim * 65536:
        raise ValueError(
            f"factor {factor} > dim*65536: the shift × sign-flip mask "
            "family below would repeat, creating cosine-1 cross-copy "
            "duplicates that break the linear-near-dup-growth "
            "construction"
        )

    def _copy_embedding(k: int):
        # Copy k's transform: circular shift by (k % dim) composed with
        # a ±1 diagonal (sign-flip) chosen by m = k // dim. BOTH are
        # orthogonal, so every within-copy cosine is preserved exactly;
        # distinct transforms decorrelate cross-copy directions.
        # m = 0: no flip; m = 1: flip odd coordinates (kept byte-
        # identical to the pre-r9 construction so cached ×10/×100 dirs
        # stay valid); m >= 2 (the third decade and beyond): flip
        # coordinate i iff bit_count(m & xxhash64(i)) is odd — a
        # linear-code pattern family where ANY two distinct masks
        # disagree on ~half the coordinates (the coords where the
        # differing bits of the two hashes land), so cross-copy
        # cosines cancel to noise instead of clustering near 1.
        shift = k % dim
        m = k // dim
        col = (
            F.col("embedding")
            if shift == 0
            else F.concat(
                F.slice("embedding", shift + 1, dim - shift),
                F.slice("embedding", 1, shift),
            )
        )
        if m == 1:
            col = F.transform(
                col, lambda x, i: F.when(i % 2 == 1, -x).otherwise(x)
            )
        elif m >= 2:
            col = F.transform(
                col,
                lambda x, i: F.when(
                    F.bit_count(
                        F.lit(m).cast("long").bitwiseAND(F.xxhash64(i))
                    )
                    % 2
                    == 1,
                    -x,
                ).otherwise(x),
            )
        return col.alias("embedding")

    # (the whole OUT dir is itself a staging dir renamed into place by
    # build_scaled_dir, so the per-table completion-marker dance the
    # embeddings table used to need is gone)
    return [
        emb.select(
            (F.col("vec_id") + F.lit(k * 10**7)).alias("vec_id"),
            _copy_embedding(k),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        ).select(*emb.columns)
        for k in range(factor)
    ]


def _union_all(dfs):
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def _write_chunked(dfs, path: str, chunk: int = 100) -> None:
    """Append in ≤chunk-way unions: a single 1000-child union is
    quadratic in Catalyst analysis and needlessly deep; chunking keeps
    the third-decade build linear in the copy count."""
    for lo in range(0, len(dfs), chunk):
        _union_all(dfs[lo : lo + chunk]).write.mode("append").parquet(path)


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = set(sys.argv[2:])
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = os.environ.get("SPARK_GRAFT_SCALE_DIR", f"/tmp/scale_bench_x{factor}")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from crypto_etl_airflow_spark.session import get_spark

    spark = get_spark(
        "crypto-etl-spark-scale-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if os.path.exists(f"{out}/embeddings.parquet/_SUCCESS"):
        build_s = 0.0  # already built by a prior (chunked) invocation
    else:
        t0 = time.perf_counter()
        build_scaled_dir(spark, src, out, factor)
        build_s = time.perf_counter() - t0

    from crypto_etl_airflow_spark.operators.dedup import release_reuse_caches
    from crypto_etl_airflow_spark.plans.registry import all_specs

    specs = all_specs()
    specs = {
        n: s
        for n, s in specs.items()
        if s.bench or n in EXTRA_SCALE_QUERIES
    }
    if only:
        specs = {n: s for n, s in specs.items() if n in only}

    # absorb JVM + codegen startup once, outside any timed window
    spark.read.parquet(f"{src}/events.parquet").count()

    # size-aware shuffle partitions per scale dir (session.py): the
    # r9 1000× experiment showed the fixed-32-partition sort term is
    # a harness artifact a real cluster's config never has; since r10
    # the engine's own heuristic picks the count, so the curve below
    # measures the operators, not an undersized-partition sort
    from crypto_etl_airflow_spark.session import (
        input_dir_bytes,
        shuffle_partitions_for_bytes,
    )

    scaled = [f"{d}/{t}.parquet" for d in (src, out) for t in SCALED_TABLES]
    parts_1x = shuffle_partitions_for_bytes(
        input_dir_bytes(*scaled[: len(SCALED_TABLES)]), cpus=int(cpus)
    )
    parts_kx = shuffle_partitions_for_bytes(
        input_dir_bytes(*scaled[len(SCALED_TABLES):]), cpus=int(cpus)
    )
    print(f"# shuffle.partitions: 1x={parts_1x} {factor}x={parts_kx}",
          file=sys.stderr, flush=True)

    def _sig_of(df) -> dict[str, int]:
        """Operator-name histogram of the (executed, AQE-final) plan —
        the store_scale_bench discipline: enough to tell 'same plan,
        more rows' from a plan transition between scales."""
        sig: dict[str, int] = {}
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            op = line.lstrip(" :+-*(0123456789)").split(" ", 1)[0]
            op = op.split("(", 1)[0]
            if op:
                sig[op] = sig.get(op, 0) + 1
        return sig

    results: dict[str, dict[str, float]] = {}
    for name, spec in specs.items():
        row: dict[str, float] = {}
        # 1× twice, keep the min: the first run absorbs this plan's
        # codegen + page-cache warm-up, so the denominator is the
        # steady-state cost and the ratio is CONSERVATIVE (the single
        # K× run still carries any first-run overhead). The count
        # aggregate handle is kept so the recorded plan signature is
        # of the SAME QueryExecution that was timed (ADVICE r11).
        spark.conf.set("spark.sql.shuffle.partitions", str(parts_1x))
        t1_runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            cnt1 = spec.builder(spark, src).groupBy().count()
            cnt1.collect()
            t1_runs.append(time.perf_counter() - t0)
            release_reuse_caches()
        row["t1"] = round(min(t1_runs), 3)
        spark.conf.set("spark.sql.shuffle.partitions", str(parts_kx))
        t0 = time.perf_counter()
        cntK = spec.builder(spark, out).groupBy().count()
        cntK.collect()
        row["tK"] = round(time.perf_counter() - t0, 3)
        release_reuse_caches()
        row["ratio"] = round(row["tK"] / row["t1"], 2)
        row["control"] = name in CONTROL_QUERIES
        sig1, sigK = _sig_of(cnt1), _sig_of(cntK)
        row["plan_identical"] = sig1 == sigK
        if sig1 != sigK:
            # record only the differing operators, keeping JSON small
            row["plan_diff"] = {
                op: [sig1.get(op, 0), sigK.get(op, 0)]
                for op in sorted(set(sig1) | set(sigK))
                if sig1.get(op, 0) != sigK.get(op, 0)
            }
        results[name] = row
        print(f"# {name}: 1x={row['t1']}s {factor}x={row['tK']}s "
              f"ratio={row['ratio']}"
              f"{' (control)' if row['control'] else ''}"
              f"{'' if row['plan_identical'] else ' PLAN-DIFF'}",
              file=sys.stderr, flush=True)

    print(json.dumps({
        "metric": "scale_curve",
        "factor": factor,
        "build_sec": round(build_s, 1),
        "src": src,
        "queries": results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
