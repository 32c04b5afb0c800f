"""IVF retrieval-quality measurement (VERDICT r9 item 3): recall@k of
the IVF-flat ANN path against exact brute-force ground truth, across
an (nlist, nprobe) grid and across store scales.

Method: the FIXED probe set (vec_id < 50 — copy-0 rows, byte-identical
across the synthesized scale dirs) is answered twice per config:

- exact: operators/similarity.py::cosine_topk_bruteforce — the ground
  truth (probe broadcast, corpus streamed);
- approximate: operators/similarity.py::cosine_topk_ivf — the same
  deterministic quantizer the persisted index uses
  (operators/ann_index.py; tests pin build+query == the batch
  operator, so these numbers ARE the persisted index's recall).

recall@k = |IVF top-k ∩ exact top-k| / k, averaged over probes. Both
rankings break ties identically (rounded sim DESC, neighbor_id ASC),
so the intersection is well-defined.

Usage: python tools/ivf_recall.py [scale ...]   (default: 1x x10 x100;
x10/x100 need the scale dirs from tools/scale_bench.py). Prints one
JSON line; paste the table into SCALE.md.

``--pq``: measure the IVF-PQ path instead (operators/pq.py) — raw ADC
top-k and the shortlist+exact-refine form, per (m, nprobe) config at
nlist=16, against the same brute-force ground truth. The random
fixture is PQ's WORST case (no cluster structure for the codebooks to
exploit), so these are floor numbers.

``--sq8``: measure the IVF-SQ8 path (operators/sq_index.py) — the
middle rung of the compression ladder. Coarse assignment is on RAW
vectors, so list membership is identical to flat; any recall delta vs
the flat IVF grid at the same (nlist=16, nprobe) isolates the int8
rounding term — the number behind the "near-lossless" claim
(tests pin ≥95% top-k overlap; this measures it against exact).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

DIRS = {
    "1x": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    "x10": "/tmp/scale_bench_x10",
    "x100": "/tmp/scale_bench_x100",
    "x1000": "/tmp/scale_bench_x1000",
}
K = 5
GRID_NLIST = tuple(
    int(x)
    for x in os.environ.get("IVF_RECALL_NLIST", "16,64").split(",")
)
GRID_NPROBE = tuple(
    int(x)
    for x in os.environ.get("IVF_RECALL_NPROBE", "1,2,4,8").split(",")
)


def main() -> None:
    args = sys.argv[1:]
    pq_mode = "--pq" in args
    sq_mode = "--sq8" in args
    scales = [a for a in args if not a.startswith("--")] or list(DIRS)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.session import get_spark

    spark = get_spark(
        "crypto-etl-spark-ivf-recall",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from crypto_etl_airflow_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    results: dict[str, dict] = {}
    for scale in scales:
        d = DIRS[scale]
        if not os.path.isdir(d):
            print(f"# {scale}: {d} missing, skipped", file=sys.stderr)
            continue
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        n_corpus = emb.count()
        probes = emb.filter(F.col("vec_id") < 50)
        t0 = time.perf_counter()
        exact = {}
        for r in cosine_topk_bruteforce(probes, emb, k=K).collect():
            exact.setdefault(r.probe_id, set()).add(r.neighbor_id)
        exact_sec = round(time.perf_counter() - t0, 2)
        row: dict[str, object] = {
            "n_corpus": n_corpus, "exact_sec": exact_sec, "grid": {},
        }
        if sq_mode:
            import shutil
            import tempfile

            from crypto_etl_airflow_spark.operators import (
                sq_index as sq_ops,
            )

            tmp = tempfile.mkdtemp(prefix="sq_recall_")
            try:
                path = os.path.join(tmp, "idx")
                t0 = time.perf_counter()
                sq_ops.build_ivfsq_index(emb, path, nlist=16)
                build_sec = round(time.perf_counter() - t0, 2)
                for nprobe in GRID_NPROBE:
                    t0 = time.perf_counter()
                    approx = {}
                    for r in sq_ops.query_ivfsq_index(
                        probes, path, k=K, nprobe=nprobe
                    ).collect():
                        approx.setdefault(r.probe_id, set()).add(
                            r.neighbor_id
                        )
                    sec = round(time.perf_counter() - t0, 2)
                    recall = sum(
                        len(exact[p] & approx.get(p, set()))
                        / len(exact[p])
                        for p in exact
                    ) / len(exact)
                    key = f"sq8,nlist=16,nprobe={nprobe}"
                    row["grid"][key] = {
                        "recall_at_5": round(recall, 3), "sec": sec,
                        "build_sec": build_sec,
                    }
                    print(
                        f"# {scale} {key}: recall@5={recall:.3f}"
                        f" ({sec}s; build {build_sec}s;"
                        f" exact {exact_sec}s)",
                        file=sys.stderr, flush=True,
                    )
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            results[scale] = row
            continue
        if pq_mode:
            import shutil
            import tempfile

            from crypto_etl_airflow_spark.operators import pq as pq_ops

            for m in (8, 16):
                tmp = tempfile.mkdtemp(prefix="pq_recall_")
                try:
                    path = os.path.join(tmp, "idx")
                    t0 = time.perf_counter()
                    pq_ops.build_ivfpq_index(
                        emb, path, nlist=16, m=m, ksub=16
                    )
                    build_sec = round(time.perf_counter() - t0, 2)
                    for variant, nprobe in (
                        ("adc", 4), ("adc", 8),
                        ("refined", 4), ("refined", 8),
                    ):
                        t0 = time.perf_counter()
                        if variant == "adc":
                            res = pq_ops.query_ivfpq_index(
                                probes, path, k=K, nprobe=nprobe
                            )
                        else:
                            res = pq_ops.query_ivfpq_index_refined(
                                probes, path, emb, k=K, kprime=50,
                                nprobe=nprobe,
                            )
                        approx: dict[int, set] = {}
                        for r in res.collect():
                            approx.setdefault(r.probe_id, set()).add(
                                r.neighbor_id
                            )
                        sec = round(time.perf_counter() - t0, 2)
                        recall = sum(
                            len(exact[p] & approx.get(p, set()))
                            / len(exact[p])
                            for p in exact
                        ) / len(exact)
                        key = f"m={m},{variant},nprobe={nprobe}"
                        row["grid"][key] = {
                            "recall_at_5": round(recall, 3), "sec": sec,
                            "build_sec": build_sec,
                        }
                        print(
                            f"# {scale} {key}: recall@5={recall:.3f}"
                            f" ({sec}s; build {build_sec}s;"
                            f" exact {exact_sec}s)",
                            file=sys.stderr, flush=True,
                        )
                finally:
                    shutil.rmtree(tmp, ignore_errors=True)
            results[scale] = row
            continue
        for nlist in GRID_NLIST:
            for nprobe in GRID_NPROBE:
                if nprobe > nlist:
                    continue
                t0 = time.perf_counter()
                approx = {}
                for r in cosine_topk_ivf(
                    probes, emb, k=K, nlist=nlist, nprobe=nprobe
                ).collect():
                    approx.setdefault(r.probe_id, set()).add(r.neighbor_id)
                sec = round(time.perf_counter() - t0, 2)
                recall = sum(
                    len(exact[p] & approx.get(p, set())) / len(exact[p])
                    for p in exact
                ) / len(exact)
                row["grid"][f"nlist={nlist},nprobe={nprobe}"] = {
                    "recall_at_5": round(recall, 3), "sec": sec,
                }
                print(
                    f"# {scale} nlist={nlist} nprobe={nprobe}: "
                    f"recall@5={recall:.3f} ({sec}s vs exact {exact_sec}s)",
                    file=sys.stderr, flush=True,
                )
        results[scale] = row

    metric = (
        "ivfsq_recall" if sq_mode
        else "ivfpq_recall" if pq_mode
        else "ivf_recall"
    )
    print(json.dumps({"metric": metric, "k": K, "scales": results}))
    spark.stop()


if __name__ == "__main__":
    main()
