"""Attribute dedup_ngram_jaccard's third-decade factor (×8.8 at
x1000, SCALE.md r10 — the engine's worst curve) to DATA VOLUME vs
PLAN degradation (VERDICT r10 item 6's 'written attribution' arm).

For each scale dir this measures, independently of the pair join:

- ``n_docs``, ``n_shingle_rows``: corpus and post-cap shingle volume;
- ``candidate_volume``: Σ_sh d·(d−1)/2 over post-cap shingle doc
  frequencies — the EXACT number of candidate pairs the self-join
  must generate and verify, computed from one aggregation (no join);
- ``n_output_pairs`` + ``query_sec``: the full operator run.

If candidate_volume and n_output_pairs grow ~10× per decade while
runtime grows ≤ that, the curve is input/output-bound and the plan
is already linear-optimal — no candidate-generation dial can beat
the volume it is required to emit. Usage:

    python tools/ngram_attribution.py x100 x1000

Prints one JSON line; paste into SCALE.md.
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
DF_CAP = 50  # mirror of the registered query's max_doc_freq


def main() -> None:
    scales = sys.argv[1:] or ["x100", "x1000"]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.session import get_spark

    spark = get_spark(
        "crypto-etl-spark-ngram-attribution",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from crypto_etl_airflow_spark.operators.dedup import (
        _hashed_shingles,
        ngram_jaccard_pairs,
        release_reuse_caches,
    )
    from crypto_etl_airflow_spark.session import (
        input_dir_bytes,
        shuffle_partitions_for_bytes,
    )

    out: dict[str, dict] = {}
    for scale in scales:
        d = DIRS[scale]
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions_for_bytes(input_dir_bytes(d), int(cpus))),
        )
        docs = spark.read.parquet(f"{d}/documents.parquet").select(
            "doc_id", "text"
        )
        row: dict[str, float] = {"n_docs": docs.count()}

        freq = (
            _hashed_shingles(docs, "doc_id", "text", 3)
            .groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= DF_CAP)
        )
        vol = freq.agg(
            F.sum("df").alias("rows"),
            F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("cand"),
        ).first()
        row["n_shingle_rows"] = int(vol["rows"] or 0)
        row["candidate_volume"] = int(vol["cand"] or 0)
        release_reuse_caches()

        t0 = time.perf_counter()
        row["n_output_pairs"] = ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.8, max_doc_freq=DF_CAP
        ).count()
        row["query_sec"] = round(time.perf_counter() - t0, 1)
        release_reuse_caches()
        out[scale] = row
        print(f"# {scale}: {row}", file=sys.stderr, flush=True)

    ratios = {}
    keys = list(out)
    for a, b in zip(keys, keys[1:]):
        ratios[f"{a}->{b}"] = {
            k: round(out[b][k] / out[a][k], 2)
            for k in out[a]
            if out[a][k]
        }
    print(json.dumps({"metric": "ngram_attribution", "scales": out,
                      "decade_ratios": ratios}))


if __name__ == "__main__":
    main()
