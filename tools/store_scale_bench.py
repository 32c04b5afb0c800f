"""Fixed-batch / growing-store scale harness (VERDICT r9 item 2).

The generic harness (tools/scale_bench.py) scales store AND batch
together, which is NOT the incremental-store contract: steady state is
a FIXED ingest batch against a store that has grown for months. This
harness measures exactly that shape for the persisted-store family —
signature stores, shingle store, IVF index, BM25 postings store —
across a full decade of store growth (x10 → x100 of the sf0.1
tables), reporting per-phase timings:

- ``build``: registering the whole store slice (the once-per-corpus
  cost the store amortizes across ingests — reported, not ratio'd
  against query cost);
- steady-state phases (``query`` / ``add`` / ``delete`` …): the
  per-ingest work whose growth law is the 100 TB claim.

Construction: both scale dirs come from tools/scale_bench.py's
deterministic synthesis, whose copy 0 is byte-identical between the
x10 and x100 dirs — so the FIXED batch (copy-0 rows, ids < 1e9 for
documents / < 1e7 for vectors) has identical content at both store
sizes, and only the store differs. Batch×store candidate volume is
therefore constant by construction (cross-copy shingles/terms never
collide); what grows is the store-side scan/join — the exact term the
steady-state linearity claim is about.

The executed-plan STRUCTURE of each steady phase is fingerprinted at
both scales (operator-name counts) and compared: the r9 RRF lesson is
that plan transitions (broadcast→SMJ, broadcast→Cartesian) hide
between decades, so a bend in the curve must first be attributed to
either "same plan, more rows" or "different plan".

IVF regime note: nlist is FROZEN across both store sizes — this is
the between-rebuilds regime (FAISS add semantics; the index sidecar
pins the quantizer), where per-list size grows with the store and
query cost grows ∝ store/nlist. The rebuild-time nlist re-dial
(constant per-list size, sub-linear query) is measured separately in
SCALE.md (r9, SemDeDup section). BM25 query terms carry copy-0's
token suffix ("join0"…), so the pushed ``term IN`` filter matches a
FIXED posting set at every scale — flat query cost is the claim the
postings layout makes, and this measures it.

Usage: python tools/store_scale_bench.py [op ...]  (default: all).
Scale dirs are expected at /tmp/scale_bench_x{10,100} (built by
tools/scale_bench.py); store caches under /tmp/store_scale are reused
across invocations. Prints one JSON line; paste into SCALE.md.
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

CACHE_ROOT = os.environ.get("SPARK_GRAFT_STORE_SCALE_DIR", "/tmp/store_scale")
SCALES = {
    "x10": os.environ.get("SPARK_GRAFT_X10_DIR", "/tmp/scale_bench_x10"),
    "x100": os.environ.get("SPARK_GRAFT_X100_DIR", "/tmp/scale_bench_x100"),
}
BM25_TERMS_COPY0 = ("join0", "merge0", "window0", "stream0")


def _sig_of(df) -> dict[str, int]:
    """Operator-name histogram of ``df``'s (already executed, AQE-
    final) plan — enough to tell 'same plan, more rows' from a plan
    transition between scales."""
    sig: dict[str, int] = {}
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        name = line.lstrip(" :+-*(0123456789)").split(" ", 1)[0].split("(", 1)[0]
        if name:
            sig[name] = sig.get(name, 0) + 1
    return sig


def _timed_count_sig(df) -> tuple[float, dict[str, int]]:
    """Best-of-2 timing of the count aggregate AND the plan signature
    of the SAME QueryExecution that was timed (ADVICE r11): `count`
    prunes every column and produces smaller stage outputs, so its
    AQE decisions (e.g. broadcast vs SMJ) can differ from a
    `collect()` of the same DataFrame — fingerprinting a separate
    execution could record a plan that was never the one timed. Using
    one `groupBy().count()` handle for both the timed runs and the
    signature closes that gap; best-of-2 keeps the r9 codegen-warmup
    discipline (the second run re-executes the same QueryExecution,
    so the signature reflects the final adaptive plan)."""
    cnt = df.groupBy().count()
    a, _ = _timed(cnt.collect)
    b, _ = _timed(cnt.collect)
    return min(a, b), _sig_of(cnt)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return round(time.perf_counter() - t0, 3), out


def _timed_best2(fn):
    """Best-of-2 for REPEATABLE phases (query counts): the first run
    of each plan carries codegen warm-up, which otherwise lands
    entirely on whichever scale runs first and can even invert the
    ratio. Mutating phases (add/delete) stay single-run."""
    a, out = _timed(fn)
    b, _ = _timed(fn)
    return min(a, b), out


def main() -> None:
    only = set(sys.argv[1:])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.session import get_spark

    spark = get_spark(
        "crypto-etl-spark-store-scale",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from crypto_etl_airflow_spark.operators import (
        ann_index,
        dedup_store,
        postings_store,
    )
    from crypto_etl_airflow_spark.operators.dedup import release_reuse_caches
    from crypto_etl_airflow_spark.session import (
        input_dir_bytes,
        shuffle_partitions_for_bytes,
    )

    os.makedirs(CACHE_ROOT, exist_ok=True)
    for scale, d in SCALES.items():
        if not os.path.isdir(d):
            raise SystemExit(
                f"{d} missing — build it first: python tools/scale_bench.py "
                f"{scale.lstrip('x')} q1_pricing_summary"
            )

    results: dict[str, dict] = {}

    def record(op: str, scale: str, phase: str, sec: float) -> None:
        results.setdefault(op, {}).setdefault(scale, {})[phase] = sec
        print(f"# {op} {scale} {phase}: {sec}s", file=sys.stderr, flush=True)

    def finish_op(op: str, phases: tuple[str, ...]) -> None:
        r = results[op]
        for ph in phases:
            a, b = r["x10"].get(ph), r["x100"].get(ph)
            if a and b:
                r[f"{ph}_decade_ratio"] = round(b / a, 2)

    def store_cache(op: str, scale: str) -> tuple[str, bool]:
        """(path, already_built) — builds are cached across runs; the
        _READY marker is written only after a completed build. An
        ivfpq cache built under a different encoding regime (pre-
        residual) is wiped and rebuilt (ADVICE r12): the query path
        now refuses non-residual stores rather than scoring them
        wrong, so a stale cache would otherwise abort the run."""
        path = os.path.join(CACHE_ROOT, f"{op}_{scale}")
        ready = os.path.exists(os.path.join(path, "_READY"))
        if ready and op == "ivfpq":
            import json

            sidecar = os.path.join(path, "_ivfpq_index_params.json")
            try:
                with open(sidecar) as f:
                    enc = json.load(f).get("encoding")
            except OSError:
                enc = None
            if enc != "residual":
                import shutil

                shutil.rmtree(path, ignore_errors=True)
                ready = False
        return path, ready

    def mark_ready(path: str) -> None:
        with open(os.path.join(path, "_READY"), "w") as f:
            f.write("ok")

    def docs_split(scale: str):
        docs = spark.read.parquet(f"{SCALES[scale]}/documents.parquet")
        batch = docs.filter(
            (F.col("doc_id") < 10**9) & (F.col("doc_id") % 4 == 0)
        ).select("doc_id", "text")
        store_docs = docs.join(
            batch.select("doc_id"), "doc_id", "left_anti"
        ).select("doc_id", "text")
        return store_docs, batch

    # size-aware partitions per scale (session.py heuristic — the
    # engine default, so this harness measures default behavior)
    def tune(scale: str) -> None:
        n = shuffle_partitions_for_bytes(
            input_dir_bytes(
                f"{SCALES[scale]}/documents.parquet",
                f"{SCALES[scale]}/embeddings.parquet",
            ),
            cpus=int(cpus),
        )
        spark.conf.set("spark.sql.shuffle.partitions", str(n))

    # warm the JVM outside every timed window
    spark.read.parquet(f"{SCALES['x10']}/documents.parquet").count()

    # ---------------- fingerprint store ----------------
    if not only or "fingerprint" in only:
        for scale in SCALES:
            tune(scale)
            store_docs, batch = docs_split(scale)
            path, ready = store_cache("fp", scale)
            if not ready:
                sec, _ = _timed(
                    lambda: dedup_store.write_fingerprint_store(store_docs, path)
                )
                record("fingerprint", scale, "build", sec)
                mark_ready(path)
            store = dedup_store.read_fingerprint_store(spark, path)
            out = dedup_store.incremental_fingerprint_matches(batch, store)
            sec, sig = _timed_count_sig(out)
            record("fingerprint", scale, "query", sec)
            results["fingerprint"].setdefault("plan", {})[scale] = sig
            release_reuse_caches()
        finish_op("fingerprint", ("query",))

    # ---------------- simhash store ----------------
    if not only or "simhash" in only:
        for scale in SCALES:
            tune(scale)
            store_docs, batch = docs_split(scale)
            path, ready = store_cache("sim", scale)
            if not ready:
                sec, _ = _timed(
                    lambda: dedup_store.write_simhash_store(store_docs, path)
                )
                record("simhash", scale, "build", sec)
                mark_ready(path)
            store = dedup_store.read_simhash_store(spark, path)
            out = dedup_store.incremental_simhash_pairs(batch, store)
            sec, sig = _timed_count_sig(out)
            record("simhash", scale, "query", sec)
            results["simhash"].setdefault("plan", {})[scale] = sig
            release_reuse_caches()
        finish_op("simhash", ("query",))

    # ---------------- shingle store / containment ----------------
    if not only or "containment" in only:
        for scale in SCALES:
            tune(scale)
            store_docs, batch = docs_split(scale)
            path, ready = store_cache("sh", scale)
            if not ready:
                sec, _ = _timed(
                    lambda: dedup_store.write_shingle_store(store_docs, path, n=3)
                )
                record("containment", scale, "build", sec)
                mark_ready(path)
            store = dedup_store.read_shingle_store(spark, path)
            out = dedup_store.incremental_containment_pairs(
                batch, store, n=3, threshold=0.9, max_doc_freq=50,
                df_counts=dedup_store.read_shingle_df(spark, path),
            )
            sec, sig = _timed_count_sig(out)
            record("containment", scale, "query", sec)
            results["containment"].setdefault("plan", {})[scale] = sig
            release_reuse_caches()
        finish_op("containment", ("query",))

    # ---------------- IVF index ----------------
    if not only or "ivf" in only:
        for scale in SCALES:
            tune(scale)
            emb = spark.read.parquet(f"{SCALES[scale]}/embeddings.parquet")
            probes = emb.filter(F.col("vec_id") < 50)  # copy-0: fixed
            add_batch = emb.filter(F.col("vec_id") < 10**7).select(
                (F.col("vec_id") + 5 * 10**9).alias("vec_id"), "embedding"
            )  # copy-0 vectors under fresh ids: a fixed 2000-vector ingest
            doomed = emb.filter(
                (F.col("vec_id") < 10**7) & (F.col("vec_id") % 20 == 0)
            ).select("vec_id")
            path, ready = store_cache("ivf", scale)
            if not ready:
                if os.path.isdir(path):
                    shutil.rmtree(path)  # half-built: rebuild
                sec, _ = _timed(
                    lambda: ann_index.build_ivf_index(emb, path, nlist=16)
                )
                record("ivf", scale, "build", sec)
                mark_ready(path)
            sec, n = _timed(lambda: ann_index.add_to_ivf_index(add_batch, path))
            record("ivf", scale, "add" if n else "add_retry", sec)
            sec, _ = _timed(
                lambda: ann_index.delete_from_ivf_index(spark, path, doomed)
            )
            record("ivf", scale, "delete", sec)
            out = ann_index.query_ivf_index(probes, path, k=5, nprobe=4)
            sec, sig = _timed_count_sig(out)
            record("ivf", scale, "query", sec)
            results["ivf"].setdefault("plan", {})[scale] = sig
            # restore the cached index to its pristine build state so
            # reruns time real work, not no-ops: drop the synthetic
            # add batch, re-add the deleted copy-0 vectors
            ann_index.delete_from_ivf_index(
                spark, path, add_batch.select("vec_id")
            )
            ann_index.add_to_ivf_index(
                emb.join(doomed, "vec_id", "left_semi"), path
            )
            release_reuse_caches()
        finish_op("ivf", ("query", "add", "delete"))

    # ---------------- IVF index, REBALANCED (grown nlist) ----------
    # The frozen-nlist regime above is the between-rebuilds contract
    # (query decade ~1.5 as per-list size grows with the store). This
    # section measures the RE-DIAL claim (r12, rebalance_ivf_index):
    # splitting hot lists to a per-list cap that is CONSTANT across
    # scales makes the probed row volume constant — query cost should
    # go flat across the decade at the same nprobe.
    if not only or "ivf_rebal" in only:
        cap = None
        for scale in SCALES:
            tune(scale)
            emb = spark.read.parquet(f"{SCALES[scale]}/embeddings.parquet")
            probes = emb.filter(F.col("vec_id") < 50)  # copy-0: fixed
            src, src_ready = store_cache("ivf", scale)
            if not src_ready:
                raise SystemExit("run the ivf section first (builds the src store)")
            if cap is None:
                # shared per-list cap = the x10 store's mean list size
                n_rows = ann_index.read_ivf_lists(spark, src).count()
                n_cents = ann_index.read_ivf_centroids(spark, src).count()
                cap = max(1, n_rows // n_cents)
            path, ready = store_cache("ivf_rebal", scale)
            if not ready:
                if os.path.isdir(path):
                    shutil.rmtree(path)
                shutil.copytree(src, path)
                os.remove(os.path.join(path, "_READY"))

                def _until_balanced() -> int:
                    rounds = 0
                    while ann_index.rebalance_ivf_index(spark, path, cap) > 0:
                        rounds += 1
                    return rounds

                sec, _ = _timed(_until_balanced)
                record("ivf_rebal", scale, "rebalance", sec)
                mark_ready(path)
            nl = ann_index.read_ivf_centroids(spark, path).count()
            results.setdefault("ivf_rebal", {}).setdefault(scale, {})[
                "nlist"
            ] = nl
            print(f"# ivf_rebal {scale} nlist: {nl} (cap {cap})",
                  file=sys.stderr, flush=True)
            out = ann_index.query_ivf_index(probes, path, k=5, nprobe=4)
            sec, sig = _timed_count_sig(out)
            record("ivf_rebal", scale, "query", sec)
            results["ivf_rebal"].setdefault("plan", {})[scale] = sig
            release_reuse_caches()
        finish_op("ivf_rebal", ("query",))

    # ---------------- IVF-PQ index ----------------
    # same fixed-batch contract as the flat index; the claim under
    # test is that the COMPRESSED steady state scales no worse than
    # flat (rows are ~16 B instead of raw vectors, so the store-side
    # scan term shrinks by the compression factor), and that the
    # refined query's exact stage stays fixed-size (kprime rows per
    # probe) while only the ADC scan grows with the store.
    if not only or "ivfpq" in only:
        from crypto_etl_airflow_spark.operators import pq as pq_ops

        for scale in SCALES:
            tune(scale)
            emb = spark.read.parquet(f"{SCALES[scale]}/embeddings.parquet")
            probes = emb.filter(F.col("vec_id") < 50)  # copy-0: fixed
            add_batch = emb.filter(F.col("vec_id") < 10**7).select(
                (F.col("vec_id") + 5 * 10**9).alias("vec_id"), "embedding"
            )
            doomed = emb.filter(
                (F.col("vec_id") < 10**7) & (F.col("vec_id") % 20 == 0)
            ).select("vec_id")
            path, ready = store_cache("ivfpq", scale)
            if not ready:
                if os.path.isdir(path):
                    shutil.rmtree(path)  # half-built: rebuild
                sec, _ = _timed(
                    lambda: pq_ops.build_ivfpq_index(
                        emb, path, nlist=16, m=8, ksub=16
                    )
                )
                record("ivfpq", scale, "build", sec)
                mark_ready(path)
            sec, n = _timed(lambda: pq_ops.add_to_ivfpq_index(add_batch, path))
            record("ivfpq", scale, "add" if n else "add_retry", sec)
            sec, _ = _timed(
                lambda: pq_ops.delete_from_ivfpq_index(spark, path, doomed)
            )
            record("ivfpq", scale, "delete", sec)
            out = pq_ops.query_ivfpq_index(probes, path, k=5, nprobe=4)
            sec, sig = _timed_count_sig(out)
            record("ivfpq", scale, "query_adc", sec)
            results["ivfpq"].setdefault("plan", {})[scale] = sig
            outr = pq_ops.query_ivfpq_index_refined(
                probes, path, emb, k=5, kprime=50, nprobe=4
            )
            sec, sig = _timed_count_sig(outr)
            record("ivfpq", scale, "query_refined", sec)
            results["ivfpq"].setdefault("plan_refined", {})[scale] = sig
            # restore the cached index to its pristine build state
            pq_ops.delete_from_ivfpq_index(
                spark, path, add_batch.select("vec_id")
            )
            pq_ops.add_to_ivfpq_index(
                emb.join(doomed, "vec_id", "left_semi"), path
            )
            release_reuse_caches()
        finish_op("ivfpq", ("query_adc", "query_refined", "add", "delete"))

    # ---------------- BM25 postings store ----------------
    if not only or "bm25" in only:
        for scale in SCALES:
            tune(scale)
            docs = spark.read.parquet(
                f"{SCALES[scale]}/documents.parquet"
            ).select("doc_id", "text")
            path, ready = store_cache("bm25", scale)
            if not ready:
                sec, _ = _timed(
                    lambda: postings_store.write_postings_store(docs, path)
                )
                record("bm25", scale, "build", sec)
                mark_ready(path)
            doomed = docs.filter(
                (F.col("doc_id") < 10**9) & (F.col("doc_id") % 20 == 0)
            ).select("doc_id")
            sec, _ = _timed(
                lambda: postings_store.delete_from_postings_store(
                    spark, path, doomed
                )
            )
            record("bm25", scale, "delete", sec)
            out = postings_store.bm25_topk_indexed(spark, path, BM25_TERMS_COPY0)
            sec, sig = _timed_count_sig(out)
            record("bm25", scale, "query", sec)
            results["bm25"].setdefault("plan", {})[scale] = sig
            # undo the tombstones so the cached store stays pristine
            # for reruns (compact rewrites postings+lengths live-only;
            # the deleted copy-0 docs then re-register)
            postings_store.compact_postings_store(spark, path)
            postings_store.write_postings_store(
                docs.filter(
                    (F.col("doc_id") < 10**9) & (F.col("doc_id") % 20 == 0)
                ),
                path,
            )
            release_reuse_caches()
        finish_op("bm25", ("query", "delete"))

    for op, r in results.items():
        # EVERY recorded plan key (plan, plan_refined, …) must match
        # across the decade for the identity flag — a transition in
        # any measured phase is exactly what the flag exists to catch
        keyed = {k: v for k, v in r.items() if k.startswith("plan")}
        checks = [
            p["x10"] == p["x100"]
            for p in keyed.values()
            if isinstance(p, dict) and "x10" in p and "x100" in p
        ]
        if checks:
            r["plan_identical_across_decade"] = all(checks)

    print(json.dumps({
        "metric": "store_scale_fixed_batch",
        "scales": {k: v for k, v in SCALES.items()},
        "ops": results,
    }, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
