"""Persisted IVF-SQ8 ANN index — int8 SCALAR quantization over the
IVF inverted-list layout: the middle rung of the compression ladder
(flat = raw vectors, operators/ann_index.py; SQ8 = 4× smaller,
near-lossless, this module; PQ = ~32× smaller, lossy + refine,
operators/pq.py — the FAISS ``IVFFlat`` / ``IVFScalarQuantizer`` /
``IVFPQ`` triple re-expressed as parquet + DataFrame ops).

Each inverted-list row stores the vector's int8 codes + per-vector
(q_min, q_scale) range metadata + its TRUE norm — the EXACT encoding
of operators/quantize.py (``clamp(floor((x−min)/scale + 0.5))``,
floor(+0.5) instead of round() because engines disagree on half-even
vs half-up while floor(+0.5) is identical IEEE arithmetic
everywhere). Queries reconstruct ``min + (code+128)·scale``
JVM-side and score the reconstruction against the probe; the true
norm keeps the denominator exact, so the only error is the ~scale/2
per-component rounding — recall is near-flat (pinned ≥ 0.95 overlap
with the flat index's answer at the same nprobe,
tests/test_sq_index.py).

Layout mirrors the flat index: ``centroids`` (the shared
deterministic coarse quantizer, operators/similarity.py::
ivf_centroids) and ``lists`` partitioned by centroid_id — coarse
ASSIGNMENT uses the raw vector (quantization is storage-only), so
the same vector lands in the same list as in the flat index, and
query-time partition pruning is identical. Fully recomputable in
ANSI SQL (the quantize.py formulas are already oracle-certified);
certified by plans/extensions.py::similarity_topk_ivfsq.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vector import dot as _dot, norm as _norm
from ..sources.local import local_frame
from .quantize import LEVELS, _range_scale
from .similarity import (
    BROADCAST_PROBE_LIMIT,
    _nearest_centroid,
    bounded_broadcast,
    capped_probe_count,
    ivf_centroids,
)

_PARAMS_SIDECAR = "_ivfsq_index_params.json"


def _sidecar(path: str) -> str:
    import os

    return os.path.join(path, _PARAMS_SIDECAR)


def _stored_dim(path: str) -> int | None:
    """Training dimension from the params sidecar — metadata-only, so
    the add path's assignment unrolls its dots with zero driver
    actions (VERDICT r14 item 6); None → interpreted-dot fallback."""
    import json
    import os

    if not os.path.exists(_sidecar(path)):
        return None
    with open(_sidecar(path)) as f:
        d = json.load(f).get("dim")
    return int(d) if d is not None and d > 0 else None


def _validate_params(path: str, params: dict) -> None:
    import json
    import os

    if os.path.exists(_sidecar(path)):
        with open(_sidecar(path)) as f:
            existing = json.load(f)
        if existing != params:
            raise ValueError(
                f"ivfsq index {path} was built with {existing}; "
                f"refusing to mix with {params}"
            )


def _read_centroids(spark: SparkSession, path: str) -> DataFrame:
    """Heal-before-read (ADVICE r12): rebalance's commit point swaps
    the centroids table itself; recover a crashed swap's aside copy
    before reading, as read_ivf_centroids does on the flat rung."""
    from .compact import recover_directory

    recover_directory(f"{path}/centroids")
    return spark.read.parquet(f"{path}/centroids")


def _first_dim(df: DataFrame, vec_col: str) -> int | None:
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return None if row is None else row.d


def _check_dim(path: str, df: DataFrame, vec_col: str, what: str) -> None:
    import json
    import os

    if not os.path.exists(_sidecar(path)):
        return
    with open(_sidecar(path)) as f:
        params = json.load(f)
    got = _first_dim(df, vec_col)
    if got is None or params.get("dim") is None:
        return
    if params["dim"] != got:
        raise ValueError(
            f"ivfsq index {path} holds {params['dim']}-dim vectors; "
            f"refusing to {what} {got}-dim vectors"
        )


def _encode_rows(assigned: DataFrame) -> DataFrame:
    """(neighbor_id, q_codes, q_min, q_scale, v_nrm, centroid_id)
    from assigned raw rows — the operators/quantize.py formula as
    pure Column expressions."""
    e = F.col("c_v")
    mn, mx = F.array_min(e), F.array_max(e)
    scale = _range_scale(mn, mx)
    codes = F.transform(
        e,
        lambda x: (
            F.least(
                F.lit(LEVELS),
                F.greatest(F.lit(0), F.floor((x - mn) / scale + F.lit(0.5))),
            )
            - F.lit(128)
        ).cast("tinyint"),
    )
    return assigned.select(
        "neighbor_id",
        codes.alias("q_codes"),
        mn.alias("q_min"),
        scale.alias("q_scale"),
        _norm(e).alias("v_nrm"),
        "centroid_id",
    )


def _recon(codes: Column, mn: Column, scale: Column) -> Column:
    return F.transform(
        codes, lambda c: mn + (c.cast("double") + F.lit(128)) * scale
    )


def build_ivfsq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
) -> None:
    """Train the deterministic coarse quantizer and persist
    ``centroids`` + int8-coded ``lists`` partitioned by centroid_id
    (4× narrower rows than the flat index; assignment on RAW
    vectors, so list membership is identical to flat)."""
    import json

    params = {"nlist": nlist, "dim": _first_dim(corpus, vec_col)}
    _validate_params(path, params)
    d = params["dim"]
    dim = int(d) if d is not None and d > 0 else None
    cents = ivf_centroids(corpus, id_col, vec_col, nlist, dim=dim)
    cents.write.mode("error").parquet(f"{path}/centroids")
    assigned = _nearest_centroid(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("c_v"),
        ),
        cents,
        "neighbor_id",
        "c_v",
        dim=dim,
    )
    _encode_rows(assigned).write.mode("error").partitionBy(
        "centroid_id"
    ).parquet(f"{path}/lists")
    with open(_sidecar(path), "w") as f:
        json.dump(params, f)


_LISTS_SCHEMA = (
    "neighbor_id long, q_codes array<tinyint>, q_min double, "
    "q_scale double, v_nrm double, centroid_id long"
)


def read_ivfsq_lists(spark: SparkSession, path: str) -> DataFrame:
    import os

    from pyspark.errors import AnalysisException

    lists_path = f"{path}/lists"
    try:
        return spark.read.parquet(lists_path).withColumn(
            "centroid_id", F.col("centroid_id").cast("long")
        )
    except AnalysisException:
        if os.path.isdir(lists_path):
            return local_frame(spark, [], _LISTS_SCHEMA)
        raise


def add_to_ivfsq_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Frozen-quantizer idempotent add (the ann_index.py contract),
    appending int8-coded rows. Returns vectors appended."""
    from .barrier import barrier

    spark = new_vecs.sparkSession
    _check_dim(path, new_vecs, vec_col, "add")
    cents = _read_centroids(spark, path)
    existing = read_ivfsq_lists(spark, path).select(
        F.col("neighbor_id").alias(id_col)
    )
    fresh = new_vecs.join(existing, id_col, "left_anti")
    assigned = _nearest_centroid(
        fresh.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("c_v"),
        ),
        cents,
        "neighbor_id",
        "c_v",
        dim=_stored_dim(path),
    )
    rows = barrier(_encode_rows(assigned))
    n = rows.count()
    if n:
        rows.write.mode("append").partitionBy("centroid_id").parquet(
            f"{path}/lists"
        )
    return n


def compact_ivfsq_lists(spark: SparkSession, path: str) -> int:
    """Rewrite the ``lists`` table into one file per inverted list,
    PRESERVING the centroid_id partition layout — the
    ``compact_ivf_lists`` / ``compact_ivfpq_codes`` maintenance move
    the SQ8 rung was missing (ADVICE r11): every ``add_to_ivfsq_index``
    appends one small file per touched partition, so a steady ingest
    accretes task-per-tiny-file overhead without bound. Crash-safe
    via the staging-dir swap. Returns the new parquet file count."""
    from .compact import parquet_file_count, recover_tree, swap_directory

    lists_path = f"{path.rstrip('/')}/lists"
    recover_tree(lists_path)
    df = spark.read.parquet(lists_path)
    staging = lists_path + ".__compact_tmp"
    # hash-repartition on the partition column: each centroid's rows
    # land in exactly one task, so each partition dir gets ONE file
    (
        df.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(staging)
    )
    swap_directory(staging, lists_path)
    return parquet_file_count(lists_path)


def _clean_orphan_sq_partitions(spark: SparkSession, path: str) -> int:
    """Remove lists partitions whose centroid_id is absent from the
    centroids table — rebalance crash leftovers; query-invisible (the
    probe join only reaches referenced ids) but swept so full-table
    reads never double-count."""
    import shutil

    lists_path = f"{path.rstrip('/')}/lists"
    if not os.path.isdir(lists_path):
        return 0
    live = {
        int(r.centroid_id)
        for r in _read_centroids(spark, path)
        .select("centroid_id")
        .collect()
    }
    removed = 0
    for entry in sorted(os.listdir(lists_path)):
        if not entry.startswith("centroid_id="):
            continue
        try:
            cid = int(entry.split("=", 1)[1])
        except ValueError:
            continue
        if cid not in live:
            shutil.rmtree(os.path.join(lists_path, entry))
            removed += 1
    return removed


def rebalance_ivfsq_lists(
    spark: SparkSession, path: str, max_list_size: int
) -> int:
    """The SQ8 rung's nlist re-dial (the flat index's
    ``rebalance_ivf_index``, r12): split every inverted list above
    the cap at the MEDIAN of cosine-to-the-lowest-id-member, ranked
    over the int8 RECONSTRUCTIONS — the rows are self-contained
    (per-vector range + codes), so no raw-corpus access is needed and
    the stored codes stay valid in their new list (SQ8 quantization
    is centroid-independent, unlike residual PQ). New centroids are
    the component means of the half reconstructions, rounded 6.
    Same crash ordering as the flat form: halves land in final dirs
    unreferenced, the centroids swap commits, orphans are swept.
    Full-probe answers are invariant throughout (scores depend only
    on the stored rows, which never change). Returns lists split."""
    import json

    from .barrier import barrier
    from .compact import recover_tree, swap_directory

    lists_path = f"{path.rstrip('/')}/lists"
    recover_tree(lists_path)
    _clean_orphan_sq_partitions(spark, path)
    sizes = (
        read_ivfsq_lists(spark, path)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    size_by_cid = {int(r.centroid_id): int(r.n) for r in sizes}
    hot = sorted(c for c, n in size_by_cid.items() if n > max_list_size)
    if not hot:
        return 0
    cents = _read_centroids(spark, path)
    next_id = int(cents.agg(F.max("centroid_id")).first()[0]) + 1
    new_rows: list[tuple[int, list[float], float]] = []
    split_cids: list[int] = []
    recon = _recon(F.col("q_codes"), F.col("q_min"), F.col("q_scale"))
    for cid in hot:
        part_dir = f"{lists_path}/centroid_id={cid}"
        part = spark.read.parquet(part_dir)
        seed = part.orderBy("neighbor_id").limit(1).collect()[0]
        seed_recon = [
            float(seed.q_min) + (int(c) + 128) * float(seed.q_scale)
            for c in seed.q_codes
        ]
        sv = F.array(*[F.lit(x) for x in seed_recon])
        # shared positive factors (member and seed norms) cancel in
        # the RANK — raw dot order == cosine order
        sim1 = _dot(recon, sv)
        mid = (size_by_cid[cid] + 1) // 2
        wr = W.orderBy(F.desc("__s1"), F.asc("neighbor_id"))
        half = barrier(
            part.withColumn("__s1", sim1)
            .withColumn("__rn", F.row_number().over(wr))
            .withColumn(
                "__h",
                F.when(F.col("__rn") <= mid, F.lit(0)).otherwise(F.lit(1)),
            )
            .drop("__s1", "__rn"),
        )
        comp = (
            half.select("__h", F.posexplode(recon).alias("pos", "x"))
            .groupBy("__h", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("__h")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "__h",
                F.transform("pm", lambda s: s.getField("m")).alias("c_vec"),
            )
            .collect()
        )
        by_h = {int(r["__h"]): list(r.c_vec) for r in comp}
        ids = (next_id, next_id + 1)
        next_id += 2
        for h in (0, 1):
            vec = by_h[h]
            nrm = sum(x * x for x in vec) ** 0.5
            new_rows.append((ids[h], vec, nrm))
            half.filter(F.col("__h") == h).drop("__h").write.mode(
                "overwrite"
            ).parquet(f"{lists_path}/centroid_id={ids[h]}")
        split_cids.append(cid)
    kept_cents = cents.filter(~F.col("centroid_id").isin(split_cids))
    added = local_frame(
        spark, new_rows, "centroid_id long, c_vec array<double>, c_norm double"
    )
    staging = f"{path}/centroids.__rebal_tmp"
    kept_cents.unionByName(added).coalesce(1).write.mode("overwrite").parquet(
        staging
    )
    swap_directory(staging, f"{path}/centroids")
    _clean_orphan_sq_partitions(spark, path)
    sc_path = _sidecar(path)
    if os.path.exists(sc_path):
        with open(sc_path) as f:
            params = json.load(f)
        params["nlist"] = int(params.get("nlist", 0)) + len(split_cids)
        with open(sc_path, "w") as f:
            json.dump(params, f)
    return len(split_cids)


def delete_from_ivfsq_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> int:
    """Targeted-partition delete (the ann_index.py shape). Returns
    vectors removed."""
    from .compact import recover_tree, swap_directory

    lists_path = f"{path.rstrip('/')}/lists"
    recover_tree(lists_path)
    ids_only = ids.select(F.col(id_col).alias("neighbor_id")).distinct()
    hit = (
        read_ivfsq_lists(spark, path)
        .join(F.broadcast(ids_only), "neighbor_id", "left_semi")
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    removed = 0
    for row in hit:
        part_dir = f"{lists_path}/centroid_id={row.centroid_id}"
        kept = spark.read.parquet(part_dir).join(
            F.broadcast(ids_only), "neighbor_id", "left_anti"
        )
        staging = part_dir + ".__delete_tmp"
        kept.write.mode("overwrite").parquet(staging)
        swap_directory(staging, part_dir)
        removed += row.n
    return removed


def query_ivfsq_index(
    probes: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    max_broadcast_probes: int | None = BROADCAST_PROBE_LIMIT,
) -> DataFrame:
    """Cosine top-k over the DEQUANTIZED lists: probes prune to their
    ``nprobe`` nearest coarse partitions exactly like the flat index,
    then score ``dot(probe, recon)/(p_nrm · v_nrm)`` with the true
    stored norm — the only approximation is the int8 rounding inside
    the dot. Returns (probe_id, neighbor_id, sq_sim, rank); the score
    column is named for what it is (a scalar-quantized cosine), the
    same honesty rule as ``adc_sim``. The probe-side contract
    broadcast is bounded by ``max_broadcast_probes`` (ADVICE r11):
    past the bound the hint is dropped and AQE shuffles instead of
    risking a driver OOM; ``None`` disables the guard."""
    spark = probes.sparkSession
    _check_dim(path, probes, vec_col, "query with")
    cents = _read_centroids(spark, path)
    lists = read_ivfsq_lists(spark, path)

    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("p_v"),
    ).withColumn("p_nrm", _norm(F.col("p_v")))
    p_scored = p.crossJoin(F.broadcast(cents)).withColumn(
        "__sim", _dot(F.col("p_v"), F.col("c_vec")) / F.col("c_norm")
    )
    wp = W.partitionBy("probe_id").orderBy(F.desc("__sim"), F.asc("centroid_id"))
    p_lists = (
        p_scored.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select("probe_id", "p_v", "p_nrm", "centroid_id")
    )
    recon = _recon(F.col("q_codes"), F.col("q_min"), F.col("q_scale"))
    n_probes = capped_probe_count(p, max_broadcast_probes)
    scored = (
        bounded_broadcast(p_lists, n_probes, nprobe, max_broadcast_probes)
        .join(lists, "centroid_id")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _dot(F.col("p_v"), recon) / (F.col("p_nrm") * F.col("v_nrm")),
                6,
            ).alias("sq_sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("sq_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
