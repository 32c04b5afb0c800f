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

The list store is the shared one (operators/ivf_store.py):
``centroids`` (the deterministic coarse quantizer,
operators/similarity.py::ivf_centroids) and ``lists`` partitioned by
centroid_id, with its add, delete, compact and rebalance — coarse
ASSIGNMENT uses the raw vector (quantization is storage-only), so
the same vector lands in the same list as in the flat index, and
query-time partition pruning is identical. Fully recomputable in
ANSI SQL (the quantize.py formulas are already oracle-certified);
certified by plans/extensions.py::similarity_topk_ivfsq.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import dot as _dot, norm as _norm
from . import ivf_store
from .quantize import LEVELS, _range_scale
from .similarity import BROADCAST_PROBE_LIMIT

# the SQ8 rung's list rows: int8 codes, their range and the true norm
LAYOUT = ivf_store.Layout(
    label="ivfsq",
    sidecar="_ivfsq_index_params.json",
    table="lists",
    schema=(
        "neighbor_id long, q_codes array<tinyint>, q_min double, "
        "q_scale double, v_nrm double, centroid_id long"
    ),
)


def _encode(
    vecs: DataFrame, cents: DataFrame, id_col: str, vec_col: str,
    dim: int | None,
) -> DataFrame:
    """(neighbor_id, q_codes, q_min, q_scale, v_nrm, centroid_id)
    from the raw-vector assignment — the operators/quantize.py
    formula as pure Column expressions."""
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
    return ivf_store.assign(vecs, cents, id_col, vec_col, dim).select(
        "neighbor_id",
        codes.alias("q_codes"),
        mn.alias("q_min"),
        scale.alias("q_scale"),
        _norm(e).alias("v_nrm"),
        "centroid_id",
    )


def _recon() -> Column:
    """A row's dequantized vector, ``min + (code+128)·scale``."""
    mn, scale = F.col("q_min"), F.col("q_scale")
    return F.transform(
        "q_codes", lambda c: mn + (c.cast("double") + F.lit(128)) * scale
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
    params = {"nlist": nlist, "dim": ivf_store.first_dim(corpus, vec_col)}
    ivf_store.build(LAYOUT, corpus, path, id_col, vec_col, params, _encode)


def read_ivfsq_lists(spark: SparkSession, path: str) -> DataFrame:
    """The int8-coded lists; an empty-corpus build reads as zero rows."""
    return ivf_store.read_lists(LAYOUT, spark, path)


def add_to_ivfsq_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Frozen-quantizer idempotent add (ivf_store), appending
    int8-coded rows. Returns vectors appended."""
    return ivf_store.add(LAYOUT, new_vecs, path, id_col, vec_col, _encode)


def compact_ivfsq_lists(spark: SparkSession, path: str) -> int:
    """One file per inverted list, layout preserved (ivf_store).
    Returns the new parquet file count."""
    return ivf_store.compact(LAYOUT, spark, path)


def rebalance_ivfsq_lists(
    spark: SparkSession, path: str, max_list_size: int
) -> int:
    """The SQ8 rung's nlist re-dial (ivf_store's median split), ranked
    and averaged over the int8 RECONSTRUCTIONS — the rows are
    self-contained (per-vector range + codes), so no raw-corpus access
    is needed and the stored codes stay valid in their new list (SQ8
    quantization is centroid-independent, unlike residual PQ).
    Full-probe answers are invariant throughout (scores depend only
    on the stored rows, which never change). Returns lists split."""
    return ivf_store.rebalance(LAYOUT, spark, path, max_list_size, _recon())


def delete_from_ivfsq_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> int:
    """Targeted-partition delete (ivf_store). Returns vectors
    removed."""
    return ivf_store.delete(LAYOUT, spark, path, ids, id_col)


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
    same honesty rule as ``adc_sim``."""
    score = _dot(F.col("p_v"), _recon()) / (F.col("p_nrm") * F.col("v_nrm"))
    return ivf_store.query(
        LAYOUT, probes, path, id_col, vec_col, k, nprobe,
        max_broadcast_probes, "sq_sim", score,
    )
