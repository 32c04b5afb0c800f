"""Persisted IVF-PQ ANN index — product quantization on top of the
IVF inverted-list layout (operators/ann_index.py).

Why PQ at 100 TB: the IVF-flat index stores every corpus vector raw
(a 64-dim double vector is 512 bytes; float32 in a real encoder, still
256), so the inverted lists ARE the corpus — every probe batch scans
raw vectors, every ingest shuffles them. Product quantization is the
standard next rung (flagged out-of-scope by operators/quantize.py's
int8 scalar rung): split each vector into ``m`` subspaces, k-means
each subspace into ``ksub`` codewords, store each vector as ``m``
one-byte codes + its true norm — 64-dim doubles become 8 code bytes +
8 norm bytes, a 32× reduction that applies to every list scan, every
shuffle, and every ingest append. Queries score candidates with
asymmetric distance computation (ADC): one lookup table of
probe-subvector × codeword inner products per probe batch (m × ksub
entries — kilobytes), then each candidate costs O(m) table lookups
instead of O(dim) multiplies. This is the FAISS ``IVFPQ`` shape
re-expressed as parquet + DataFrame ops.

Index layout under ``path``:

- ``centroids`` — the coarse quantizer (nlist rows), identical to the
  IVF-flat index's;
- ``codebook`` — (m_id, code, c_vec): m × ksub rows, kilobytes,
  broadcast everywhere it is used;
- ``codes`` — (neighbor_id, codes array<tinyint>, v_nrm) PARTITIONED
  BY centroid_id: one co-located parquet partition per inverted list,
  so a query's nprobe pruning reads only its probed lists, exactly
  like the flat index — but each row is ~m + 8 bytes instead of a raw
  vector.

Determinism (the whole pipeline is recomputable in ANSI SQL and
certified value-for-value by the driver oracle,
plans/extensions.py::similarity_topk_ivfpq): the coarse quantizer is
the shared deterministic one (operators/similarity.py::ivf_centroids);
each subspace codebook seeds from the ``ksub`` lowest-id training
vectors' subvectors (code = rank of seed id) and takes ONE k-means
refinement whose per-component means are rounded to 6 decimals in both
engines; empty codes keep their seed codeword, so the codebook is
always dense (LUT positions = code). Subspace assignment minimizes
L2 distance via the monotone key ``<c,c> − 2<x,c>`` built from the
same sequential-summation dot product the cosine family certifies
(functions/vector.py), with lowest-code tiebreak. ADC scores round
each LUT entry to 6 decimals, sum them in subspace order (left-assoc,
same association as the SQL mirror's explicit ``+`` chain), and
normalize by TRUE stored norms — the PQ approximation error lives
only in the dot product, never in the norms.

The approximate score column is named ``adc_sim`` (not
``cosine_sim``): values are quantization approximations of cosine, and
the schema should say so. Measured retrieval quality vs exact
brute-force is recorded alongside the IVF-flat recall table
(tools/ivf_recall.py --pq, SCALE.md r10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vector import dot as _dot, norm as _norm
from ..sources.local import local_frame
from .similarity import (
    BROADCAST_PROBE_LIMIT,
    _nearest_centroid,
    bounded_broadcast,
    capped_probe_count,
    ivf_centroids,
)

_PARAMS_SIDECAR = "_ivfpq_index_params.json"


def _sidecar(path: str) -> str:
    import os

    return os.path.join(path, _PARAMS_SIDECAR)


def _validate_params(path: str, params: dict) -> None:
    """One quantizer regime per index: codes produced under a
    different (nlist, m, ksub, dim) would silently corrupt every
    ADC score."""
    import json
    import os

    if os.path.exists(_sidecar(path)):
        with open(_sidecar(path)) as f:
            existing = json.load(f)
        if existing != params:
            raise ValueError(
                f"ivfpq index {path} was built with {existing}; "
                f"refusing to mix with {params}"
            )


def _read_params(path: str) -> dict:
    import json

    with open(_sidecar(path)) as f:
        return json.load(f)


def _require_residual(path: str, params: dict) -> None:
    """Encoding-regime gate for READ/APPEND paths (ADVICE r12): build
    refuses to mix regimes via ``_validate_params``, but a
    pre-existing raw-encoded store (an earlier build, or a stale
    bench cache) would otherwise be queried with the residual
    ``cdot`` term silently added — inflated adc_sim — or appended
    with residual codes mixed into raw lists. Same refusal shape as
    ``_validate_params``."""
    if params.get("encoding") != "residual":
        raise ValueError(
            f"ivfpq index {path} was built with encoding="
            f"{params.get('encoding')!r}; this engine scores and "
            "appends under residual encoding — rebuild the index"
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
    """Refuse vectors whose dimension differs from the training
    regime (the ann_index.py discipline): a mismatched slice/zip
    yields NULL products that would silently mis-encode."""
    import os

    if not os.path.exists(_sidecar(path)):
        return
    params = _read_params(path)
    got = _first_dim(df, vec_col)
    if got is None or params.get("dim") is None:
        return
    if params["dim"] != got:
        raise ValueError(
            f"ivfpq index {path} holds {params['dim']}-dim vectors; "
            f"refusing to {what} {got}-dim vectors"
        )


def _subvectors(
    df: DataFrame, id_col: str, vec_col: str, m: int, ds: int
) -> DataFrame:
    """(id, m_id, sv): each vector split into ``m`` contiguous
    subvectors of length ``ds`` — a pure JVM transform+slice explode,
    m rows per vector."""
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda mm: F.slice(v, mm * F.lit(ds) + F.lit(1), F.lit(ds)),
            )
        ).alias("m_id", "sv"),
    )


def _l2_key(sv: Column, c_vec: Column) -> Column:
    """Monotone L2 ordering key ``<c,c> − 2<x,c>`` (drops the
    assignment-invariant |x|² term) — built from the certified
    sequential dot so both engines order by identical doubles."""
    return _dot(c_vec, c_vec) - F.lit(2.0) * _dot(sv, c_vec)


def _assign_codes(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest codeword per (id, m_id): L2 argmin with lowest-code
    tiebreak. ``codebook`` is m × ksub rows — broadcast; the argmin
    is min_by so the shuffle key stays (id, m_id), never an array."""
    id_col = subs.columns[0]
    scored = subs.join(F.broadcast(codebook), "m_id").withColumn(
        "__d", _l2_key(F.col("sv"), F.col("c_vec"))
    )
    order = F.struct(F.col("__d").alias("d"), F.col("code").alias("c"))
    return (
        scored.groupBy(id_col, "m_id")
        .agg(F.min_by(F.struct("code", "sv"), order).alias("__best"))
        .select(id_col, "m_id", "__best.code", "__best.sv")
    )


def train_pq_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
) -> DataFrame:
    """Deterministic per-subspace codebooks: the ``ksub`` lowest-id
    training vectors seed every subspace (code = rank of seed id);
    one k-means refinement (L2 assignment → per-code component mean,
    rounded to 6 decimals) produces the final codewords; codes whose
    cluster emptied keep their seed codeword, so the codebook is
    DENSE — exactly ``m × min(ksub, |corpus|)`` rows, one per (m_id,
    code), which is what lets the ADC LUT index by code position.

    Returns (m_id, code, c_vec). No RNG; stable across runs and
    engines."""
    dim = _first_dim(corpus, vec_col)
    if dim is None:
        raise ValueError("cannot train a PQ codebook on an empty corpus")
    if dim % m != 0:
        raise ValueError(f"dim {dim} is not divisible by m={m} subspaces")
    if ksub > 127:
        raise ValueError(f"ksub={ksub} exceeds the tinyint code range (127)")
    ds = dim // m

    seed_rows = corpus.orderBy(F.asc(id_col)).limit(ksub)
    seed_codes = seed_rows.select(id_col).withColumn(
        "code", (F.row_number().over(W.orderBy(F.asc(id_col))) - 1).cast("int")
    )
    seeds = (
        _subvectors(seed_rows, id_col, vec_col, m, ds)
        .join(seed_codes, id_col)
        .select("m_id", "code", F.col("sv").alias("c_vec"))
    )

    assigned = _assign_codes(
        _subvectors(corpus, id_col, vec_col, m, ds), seeds
    )
    comp = assigned.select(
        "m_id", "code", F.posexplode("sv").alias("pos", "x")
    )
    means = (
        comp.groupBy("m_id", "code", "pos")
        .agg(F.round(F.avg("x"), 6).alias("mval"))
        .groupBy("m_id", "code")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mval"))).alias("pm"))
        .select(
            "m_id",
            "code",
            F.transform("pm", lambda s: s.getField("mval")).alias("c_vec"),
        )
    )
    # dense codebook: a code whose cluster emptied keeps its seed
    return (
        seeds.alias("s")
        .join(means.alias("r"), ["m_id", "code"], "left")
        .select(
            "m_id",
            "code",
            F.coalesce(F.col("r.c_vec"), F.col("s.c_vec")).alias("c_vec"),
        )
    )


def _with_residuals(
    df: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
) -> DataFrame:
    """(id, __v raw double vector, centroid_id, resid) — the residual
    of every vector to its assigned coarse centroid, the quantity the
    codebook quantizes under residual encoding (FAISS IVFPQ default:
    residuals are centered near zero, so the same ksub codewords span
    them far more finely than the raw space). Components are exact
    IEEE differences of already-cross-engine-certified doubles (raw
    vector, rounded centroid), so both engines derive identical
    residuals with no extra rounding."""
    assigned = _nearest_centroid(
        df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
        ),
        cents,
        id_col,
        "__v",
        dim=dim,
    )
    return assigned.join(
        F.broadcast(cents.select("centroid_id", "c_vec")), "centroid_id"
    ).select(
        id_col,
        "__v",
        "centroid_id",
        F.zip_with("__v", "c_vec", lambda x, y: x - y).alias("resid"),
    )


def encode_pq(
    df: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    norm_vec_col: str | None = None,
) -> DataFrame:
    """PQ-encode every vector against a trained codebook: (id,
    codes array<tinyint>, v_nrm). ``codes[m]`` is the L2-nearest
    codeword of subspace m; ``v_nrm`` is the TRUE vector norm, kept
    exact so ADC approximates only the dot product.
    ``norm_vec_col`` names the column the norm is taken from when it
    differs from the encoded one — the residual-encoding path encodes
    ``resid`` but normalizes by the RAW vector's norm."""
    row = codebook.agg(
        F.max("m_id").alias("mx"), F.min(F.size("c_vec")).alias("dsz")
    ).first()
    m, ds = row.mx + 1, row.dsz
    assigned = _assign_codes(_subvectors(df, id_col, vec_col, m, ds), codebook)
    codes = (
        assigned.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("m_id", "code"))).alias("mc"))
        .select(
            id_col,
            F.transform(
                "mc", lambda s: s.getField("code").cast("tinyint")
            ).alias("codes"),
        )
    )
    norms = df.select(
        F.col(id_col),
        _norm(
            F.col(norm_vec_col or vec_col).cast("array<double>")
        ).alias("v_nrm"),
    )
    return codes.join(norms, id_col)


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    m: int = 8,
    ksub: int = 16,
) -> None:
    """Train the coarse quantizer + subspace codebooks on ``corpus``
    and persist the index: ``centroids`` (nlist rows), ``codebook``
    (m × ksub rows), and ``codes`` partitioned by centroid_id — the
    inverted lists, ~(m + 8) bytes per vector instead of a raw
    array.

    RESIDUAL encoding (r12, VERDICT r10 item 4 — the FAISS IVFPQ
    default): the codebook trains on and the codes quantize
    ``v − c(v)`` (the vector's offset from its coarse centroid), not
    the raw vector. Residuals cluster near zero, so the same m × ksub
    codewords resolve them far more finely; the query adds the exact
    ``⟨probe, centroid⟩`` term back per probed list. The sidecar
    records ``encoding: residual`` — raw-encoded stores from earlier
    builds are a different regime and are refused on rebuild."""
    import json

    params = {
        "nlist": nlist,
        "m": m,
        "ksub": ksub,
        "dim": _first_dim(corpus, vec_col),
        "encoding": "residual",
    }
    _validate_params(path, params)
    d = params["dim"]
    dim = int(d) if d is not None and d > 0 else None
    cents = ivf_centroids(corpus, id_col, vec_col, nlist, dim=dim)
    cents.write.mode("error").parquet(f"{path}/centroids")
    res = _with_residuals(corpus, cents, id_col, vec_col, dim=dim)
    codebook = train_pq_codebook(res, id_col, "resid", m, ksub)
    codebook.write.mode("error").parquet(f"{path}/codebook")

    encoded = encode_pq(res, codebook, id_col, "resid", norm_vec_col="__v")
    lists = res.select(
        F.col(id_col).alias("neighbor_id"), "centroid_id"
    ).join(
        encoded.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
    ).select("neighbor_id", "codes", "v_nrm", "centroid_id")
    lists.write.mode("error").partitionBy("centroid_id").parquet(
        f"{path}/codes"
    )
    with open(_sidecar(path), "w") as f:
        json.dump(params, f)


def read_pq_codebook(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/codebook")


_CODES_SCHEMA = (
    "neighbor_id long, codes array<tinyint>, v_nrm double, centroid_id long"
)


def read_ivfpq_codes(spark: SparkSession, path: str) -> DataFrame:
    """Read the coded inverted lists; partition-column type inference
    normalized to long (the ann_index.py lesson); an empty partitioned
    write degrades to the canonical zero-row schema."""
    import os

    from pyspark.errors import AnalysisException

    codes_path = f"{path}/codes"
    try:
        return spark.read.parquet(codes_path).withColumn(
            "centroid_id", F.col("centroid_id").cast("long")
        )
    except AnalysisException:
        if os.path.isdir(codes_path):
            return local_frame(spark, [], _CODES_SCHEMA)
        raise


def add_to_ivfpq_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Encode an ingest batch with the FROZEN coarse quantizer and
    codebook and append to its lists, idempotently per id — identical
    contract to ``add_to_ivf_index`` (retrain = rebuild). Returns
    vectors appended."""
    from .barrier import counted_barrier

    spark = new_vecs.sparkSession
    _check_dim(path, new_vecs, vec_col, "add")
    _require_residual(path, _read_params(path))
    cents = _read_centroids(spark, path)
    codebook = read_pq_codebook(spark, path)
    existing = read_ivfpq_codes(spark, path).select(
        F.col("neighbor_id").alias(id_col)
    )
    fresh = new_vecs.join(existing, id_col, "left_anti")
    # frozen-quantizer residual encoding: assign, subtract the
    # centroid, encode the residual, keep the RAW norm
    d = _read_params(path).get("dim")
    res = _with_residuals(
        fresh, cents, id_col, vec_col,
        dim=int(d) if d is not None and d > 0 else None,
    )
    encoded = encode_pq(res, codebook, id_col, "resid", norm_vec_col="__v")
    lists = res.select(
        F.col(id_col).alias("neighbor_id"), "centroid_id"
    ).join(
        encoded.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
    ).select("neighbor_id", "codes", "v_nrm", "centroid_id")
    lists, n = counted_barrier(lists)
    if n:
        lists.write.mode("append").partitionBy("centroid_id").parquet(
            f"{path}/codes"
        )
    return n


def compact_ivfpq_codes(spark: SparkSession, path: str) -> int:
    """Rewrite the ``codes`` table into one file per inverted list,
    PRESERVING the centroid_id partition layout (the
    ``compact_ivf_lists`` move for the compressed index): every
    ``add_to_ivfpq_index`` appends one small file per touched
    partition, and with ~16-byte rows the per-file task overhead
    dominates even sooner than on the flat index. Crash-safe via the
    staging-dir swap. Returns the new parquet file count."""
    from .compact import parquet_file_count, recover_tree, swap_directory

    codes_path = f"{path.rstrip('/')}/codes"
    recover_tree(codes_path)
    df = spark.read.parquet(codes_path)
    staging = codes_path + ".__compact_tmp"
    (
        df.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(staging)
    )
    swap_directory(staging, codes_path)
    return parquet_file_count(codes_path)


def _clean_orphan_pq_partitions(spark: SparkSession, path: str) -> int:
    """Remove codes partitions whose centroid_id is absent from the
    centroids table — rebalance crash leftovers (query-invisible,
    swept so full-table reads never double-count)."""
    import os
    import shutil

    codes_path = f"{path.rstrip('/')}/codes"
    if not os.path.isdir(codes_path):
        return 0
    live = {
        int(r.centroid_id)
        for r in _read_centroids(spark, path)
        .select("centroid_id")
        .collect()
    }
    removed = 0
    for entry in sorted(os.listdir(codes_path)):
        if not entry.startswith("centroid_id="):
            continue
        try:
            cid = int(entry.split("=", 1)[1])
        except ValueError:
            continue
        if cid not in live:
            shutil.rmtree(os.path.join(codes_path, entry))
            removed += 1
    return removed


def rebalance_ivfpq_index(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    max_list_size: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """The compressed rung's nlist re-dial: split every coded
    inverted list above the cap (median of cosine-to-lowest-id over
    RAW vectors) and RE-ENCODE the moved rows' residuals against
    their new centroid under the FROZEN codebook — residual codes are
    relative to the centroid they were encoded with, so unlike the
    flat/SQ8 rungs the stored rows cannot simply move lists; the raw
    vectors must be fetched from ``corpus`` (exactly why FAISS's
    equivalent is a rebuild — this touches only the hot lists).
    Vectors of hot lists missing from ``corpus`` are an error (a
    silent drop would corrupt recall). Same crash ordering as the
    flat form: re-encoded halves land in final dirs unreferenced, the
    centroids swap commits, superseded partitions become
    query-invisible orphans swept by the next rebalance. Returns
    lists split."""
    import json
    import os

    from .barrier import barrier, counted_barrier
    from .compact import recover_tree, swap_directory

    codes_path = f"{path.rstrip('/')}/codes"
    recover_tree(codes_path)
    _clean_orphan_pq_partitions(spark, path)
    codebook = read_pq_codebook(spark, path)
    sizes = (
        read_ivfpq_codes(spark, path)
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
    raw = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    new_rows: list[tuple[int, list[float], float]] = []
    split_cids: list[int] = []
    for cid in hot:
        part_dir = f"{codes_path}/centroid_id={cid}"
        part = spark.read.parquet(part_dir)
        n_part = size_by_cid[cid]
        joined = part.select("neighbor_id", "v_nrm").join(raw, "neighbor_id")
        joined, n_joined = counted_barrier(joined)
        if n_joined != n_part:
            raise ValueError(
                f"rebalance of pq index {path}: corpus is missing raw "
                f"vectors for list centroid_id={cid}; residual codes "
                "cannot be re-encoded without them"
            )
        seed = joined.orderBy("neighbor_id").limit(1).collect()[0]
        sv = F.array(*[F.lit(float(x)) for x in seed["__v"]])
        sim1 = _dot(F.col("__v"), sv)
        mid = (n_part + 1) // 2
        wr = W.orderBy(F.desc("__s1"), F.asc("neighbor_id"))
        half = barrier(
            joined.withColumn("__s1", sim1)
            .withColumn("__rn", F.row_number().over(wr))
            .withColumn(
                "__h",
                F.when(F.col("__rn") <= mid, F.lit(0)).otherwise(F.lit(1)),
            )
            .drop("__s1", "__rn"),
        )
        comp = (
            half.select("__h", F.posexplode("__v").alias("pos", "x"))
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
            cvec = F.array(*[F.lit(float(x)) for x in vec])
            sub = half.filter(F.col("__h") == h).select(
                "neighbor_id",
                "__v",
                F.zip_with("__v", cvec, lambda x, y: x - y).alias("resid"),
            )
            encoded = encode_pq(
                sub, codebook, "neighbor_id", "resid", norm_vec_col="__v"
            ).select("neighbor_id", "codes", "v_nrm")
            encoded.write.mode("overwrite").parquet(
                f"{codes_path}/centroid_id={ids[h]}"
            )
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
    _clean_orphan_pq_partitions(spark, path)
    sc_path = _sidecar(path)
    if os.path.exists(sc_path):
        with open(sc_path) as f:
            params = json.load(f)
        params["nlist"] = int(params.get("nlist", 0)) + len(split_cids)
        with open(sc_path, "w") as f:
            json.dump(params, f)
    return len(split_cids)


def delete_from_ivfpq_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> int:
    """Remove vectors by id, rewriting ONLY the inverted-list
    partitions that contain them (the ``delete_from_ivf_index``
    partition-targeted shape; quantizers untouched). Idempotent.
    Returns vectors removed."""
    from .compact import recover_tree, swap_directory

    codes_path = f"{path.rstrip('/')}/codes"
    recover_tree(codes_path)
    ids_only = ids.select(F.col(id_col).alias("neighbor_id")).distinct()
    hit = (
        read_ivfpq_codes(spark, path)
        .join(F.broadcast(ids_only), "neighbor_id", "left_semi")
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    removed = 0
    for row in hit:
        part_dir = f"{codes_path}/centroid_id={row.centroid_id}"
        kept = spark.read.parquet(part_dir).join(
            F.broadcast(ids_only), "neighbor_id", "left_anti"
        )
        staging = part_dir + ".__delete_tmp"
        kept.write.mode("overwrite").parquet(staging)
        swap_directory(staging, part_dir)
        removed += row.n
    return removed


def query_ivfpq_index(
    probes: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    max_broadcast_probes: int | None = BROADCAST_PROBE_LIMIT,
    _n_probes: int | None = None,
) -> DataFrame:
    """ADC top-k against the persisted index: each probe builds one
    m × ksub inner-product lookup table against the broadcast
    codebook, probes its ``nprobe`` nearest coarse lists (partition
    pruning on the ``codes`` scan, as in the flat index), and scores
    each candidate with m table lookups — O(m) per candidate instead
    of O(dim), over rows ~32× narrower than raw vectors. Returns
    (probe_id, neighbor_id, adc_sim, rank); ``adc_sim`` approximates
    cosine (true norms, PQ-approximated dot).

    The probe-lists side (|probes| × nprobe rows + a kilobyte LUT per
    probe) is broadcast BY CONTRACT — the r10 fixed-batch decade
    lesson: without the hint AQE flips this join to a sort-merge at
    scale, shuffling the scanned lists. ``max_broadcast_probes``
    bounds that contract (ADVICE r11): past the bound the hint is
    dropped and AQE shuffles instead of risking a driver OOM;
    ``None`` disables the guard."""
    spark = probes.sparkSession
    _check_dim(path, probes, vec_col, "query with")
    params = _read_params(path)
    _require_residual(path, params)
    m, ds = params["m"], params["dim"] // params["m"]
    ksub = params["ksub"]
    cents = _read_centroids(spark, path)
    codebook = read_pq_codebook(spark, path)
    codes = read_ivfpq_codes(spark, path)

    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("p_v"),
    ).withColumn("p_nrm", _norm(F.col("p_v")))

    # per-probe ADC lookup table: lut[m][code] = round(<p_m, cw>, 6),
    # dense by construction (train_pq_codebook keeps empty codes)
    lut_rows = p.crossJoin(F.broadcast(codebook)).select(
        "probe_id",
        "m_id",
        "code",
        F.round(
            _dot(
                F.slice(
                    F.col("p_v"),
                    F.col("m_id") * F.lit(ds) + F.lit(1),
                    F.lit(ds),
                ),
                F.col("c_vec"),
            ),
            6,
        ).alias("ip"),
    )
    lut = (
        lut_rows.groupBy("probe_id", "m_id")
        .agg(F.array_sort(F.collect_list(F.struct("code", "ip"))).alias("ci"))
        .select(
            "probe_id",
            "m_id",
            F.transform("ci", lambda s: s.getField("ip")).alias("ips"),
        )
        .groupBy("probe_id")
        .agg(F.array_sort(F.collect_list(F.struct("m_id", "ips"))).alias("mi"))
        .select(
            "probe_id",
            F.transform("mi", lambda s: s.getField("ips")).alias("lut"),
        )
    )

    p_scored = (
        p.crossJoin(F.broadcast(cents))
        .withColumn(
            "__sim", _dot(F.col("p_v"), F.col("c_vec")) / F.col("c_norm")
        )
        # residual encoding: the exact <probe, centroid> term added
        # back to every candidate of this probed list (rounded 6 so
        # the oracle derives the identical double)
        .withColumn(
            "cdot", F.round(_dot(F.col("p_v"), F.col("c_vec")), 6)
        )
    )
    n_probes = (
        _n_probes
        if _n_probes is not None
        else capped_probe_count(p, max_broadcast_probes)
    )
    # a lut row carries m × ksub doubles (~16 KB at m=8/ksub=256) —
    # orders of magnitude wider than the dim-double probe rows the
    # broadcast bound was calibrated for (ADVICE r12), so the bound is
    # tightened by the width ratio before hinting the lut side
    lut_row_weight = max(1, (m * ksub) // max(1, params["dim"]))
    wp = W.partitionBy("probe_id").orderBy(F.desc("__sim"), F.asc("centroid_id"))
    p_lists = (
        p_scored.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select("probe_id", "p_nrm", "centroid_id", "cdot")
        # both sides are probe-cardinality-bounded BY CONTRACT; the
        # hint keeps AQE from sorting them into an SMJ (r10 lesson)
        .join(
            bounded_broadcast(
                lut, n_probes, lut_row_weight, max_broadcast_probes
            ),
            "probe_id",
        )
    )

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, mm: acc
        + F.element_at(
            F.element_at(F.col("lut"), mm + F.lit(1)),
            F.element_at(F.col("codes"), mm + F.lit(1)).cast("int") + F.lit(1),
        ),
    )
    scored = (
        # p_lists rows now carry the joined-in lut array — weight the
        # probe fan-out by the same width ratio
        bounded_broadcast(
            p_lists, n_probes, nprobe * lut_row_weight, max_broadcast_probes
        )
        .join(codes, "centroid_id")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            # dot(p, v) ~= <p, c(v)> exact + <p, residual> from the LUT
            F.round(
                (F.col("cdot") + adc) / (F.col("p_nrm") * F.col("v_nrm")), 6
            ).alias("adc_sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("adc_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def query_ivfpq_index_refined(
    probes: DataFrame,
    path: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    kprime: int = 50,
    nprobe: int = 4,
    max_broadcast_probes: int | None = BROADCAST_PROBE_LIMIT,
) -> DataFrame:
    """ADC shortlist + exact re-rank (the FAISS ``IndexRefineFlat``
    shape, and the standard production answer to PQ's quantization
    error): the compressed index produces a ``kprime``-deep ADC
    shortlist per probe — O(m) per candidate over ~32×-narrower rows —
    then ONLY the shortlist rows (|probes| × kprime ids) fetch their
    raw vectors from ``corpus`` and re-score exactly. At 100 TB the
    exact stage touches kprime rows per probe instead of the
    nprobe/nlist corpus fraction, so the heavy scan stays compressed
    while the final ranking is exact-cosine over the shortlist.
    Recall has two independent dials (measured, SCALE.md r10 —
    structureless random fixture, PQ's worst case): ``kprime`` dials
    out the PQ quantization error (2k corpus, m=16, nprobe=8:
    recall@5 0.72 at kprime=50 → 0.82 at 200 → 0.84 at 400), and its
    ceiling is the coarse-pruning recall of the SAME nprobe on the
    flat index (0.84–0.89 there) — past that, misses are vectors in
    unprobed lists, which only nprobe recovers. At the 500-vector
    certification fixture kprime=50 already reaches 0.90–0.94
    (pinned ≥ 0.8 by tests/test_pq.py).

    Returns (probe_id, neighbor_id, cosine_sim, rank) — true cosine
    values, brute-force-comparable. The shortlist side is broadcast
    BY CONTRACT (|probes| × kprime rows), bounded by
    ``max_broadcast_probes`` like every probe-side contract hint;
    the corpus fetch is a broadcast semi-join, never a corpus
    shuffle."""
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("p_v"),
    ).withColumn("p_nrm", _norm(F.col("p_v")))
    # ONE capped count job decides every probe-side hint below AND
    # inside the ADC shortlist call (shared via _n_probes)
    n_probes = capped_probe_count(p, max_broadcast_probes)
    shortlist = query_ivfpq_index(
        probes, path, id_col, vec_col, k=kprime, nprobe=nprobe,
        max_broadcast_probes=max_broadcast_probes, _n_probes=n_probes,
    ).select("probe_id", "neighbor_id")
    cand = (
        # both sides probe-bounded BY CONTRACT (|probes|×kprime and
        # |probes| rows); the inner hint keeps AQE from sorting them
        # into an SMJ — the x100 fixed-batch decade caught exactly
        # that transition (SCALE.md r10)
        bounded_broadcast(
            shortlist.join(
                bounded_broadcast(p, n_probes, 1, max_broadcast_probes),
                "probe_id",
            ),
            n_probes,
            kprime,
            max_broadcast_probes,
        )
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).cast("array<double>").alias("c_v"),
            ),
            "neighbor_id",
        )
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _dot(F.col("p_v"), F.col("c_v"))
                / (F.col("p_nrm") * _norm(F.col("c_v"))),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
