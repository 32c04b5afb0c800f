"""Persisted IVF-flat ANN index — the similarity-search analogue of
the dedup signature stores (operators/dedup_store.py).

The batch operator (operators/similarity.py::cosine_topk_ivf) re-trains
the coarse quantizer and re-assigns the whole corpus on every call —
right for a one-shot sweep, wrong for the steady state: a query
workload against a 100 TB embedding corpus must not re-cluster 100 TB
per query batch, and an hourly ingest must not either. The standard
production shape (FAISS/Milvus IVF semantics, re-expressed as parquet +
DataFrame ops):

1. ``build_ivf_index`` trains the deterministic quantizer ONCE and
   persists two tables: ``centroids`` (nlist rows, kilobytes) and
   ``lists`` — every corpus vector under its nearest centroid,
   **partitioned by centroid_id**, so each inverted list is a
   physically co-located parquet partition;
2. ``add_to_ivf_index`` assigns an ingest batch with the FROZEN
   quantizer (standard IVF practice — retrain = rebuild) and appends
   only the batch's rows, idempotently per id;
3. ``query_ivf_index`` probes the ``nprobe`` nearest lists per query
   vector; the centroid→list join prunes the ``lists`` scan to the
   probed partitions (partition pruning / DPP — at nprobe=4,
   nlist=1024 a query batch reads ~0.4% of the index).

The list-store lifecycle — sidecar, add, delete, compact, rebalance —
is the one shared with the SQ8 and PQ rungs (operators/ivf_store.py);
this module is the flat rung's codec: raw vectors and their norms.

The quantizer is deterministic (lowest-id seeds + one rounded
refinement, operators/similarity.py::ivf_centroids), so the whole
index — build, add, query — is recomputable in ANSI SQL and certified
value-for-value by the driver oracle
(plans/extensions.py::similarity_topk_ivf_indexed).

Measured retrieval quality (tools/ivf_recall.py, SCALE.md r10 —
recall@5 vs brute-force ground truth, fixed 50-probe set): the
certified nlist=16 / nprobe=4 shape reads 1/4 of the index for
recall 0.66–0.75 across 2k→200k corpora; nprobe=8 (half the index)
reaches 0.84–0.89; at the production dial (nlist grown with the
corpus, e.g. 64 here) nprobe=4 reads 1/16 of the index for
0.80–1.00. nprobe is the per-query read-fraction/recall dial,
nlist the rebuild-time one; recall@5 ≥ 0.65 at the default shape is
pinned by tests/test_ann_index.py::test_ivf_recall_floor_vs_exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import dot as _dot, norm as _norm
from . import ivf_store
from .similarity import BROADCAST_PROBE_LIMIT

# the flat rung's list rows: the raw vector and its norm
LAYOUT = ivf_store.Layout(
    label="ivf",
    sidecar="_ivf_index_params.json",
    table="lists",
    schema="neighbor_id long, c_v array<double>, c_nrm double, centroid_id long",
)


def _encode(
    vecs: DataFrame, cents: DataFrame, id_col: str, vec_col: str,
    dim: int | None,
) -> DataFrame:
    return ivf_store.assign(vecs, cents, id_col, vec_col, dim).withColumn(
        "c_nrm", _norm(F.col("c_v"))
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
) -> None:
    """Train the deterministic quantizer on ``corpus`` and persist the
    index: ``{path}/centroids`` (centroid_id, c_vec, c_norm — nlist
    rows) and ``{path}/lists`` (neighbor_id, c_v, c_nrm) PARTITIONED
    BY centroid_id. The training dimension is part of the regime:
    adds and queries with another dimension are refused."""
    params = {"nlist": nlist, "dim": ivf_store.first_dim(corpus, vec_col)}
    ivf_store.build(LAYOUT, corpus, path, id_col, vec_col, params, _encode)


def read_ivf_centroids(spark: SparkSession, path: str) -> DataFrame:
    """The coarse quantizer, healed before read (ivf_store)."""
    return ivf_store.read_centroids(spark, path)


def read_ivf_lists(spark: SparkSession, path: str) -> DataFrame:
    """The inverted lists; an empty-corpus build reads as zero rows."""
    return ivf_store.read_lists(LAYOUT, spark, path)


def add_to_ivf_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Assign ``new_vecs`` with the index's FROZEN quantizer and
    append them to their lists, idempotently per id. Returns vectors
    appended."""
    return ivf_store.add(LAYOUT, new_vecs, path, id_col, vec_col, _encode)


def compact_ivf_lists(spark: SparkSession, path: str) -> int:
    """One file per inverted list, layout preserved (ivf_store).
    Returns the new parquet file count."""
    return ivf_store.compact(LAYOUT, spark, path)


def delete_from_ivf_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> int:
    """Remove vectors by id, rewriting ONLY the list partitions that
    hold them (ivf_store). Returns vectors removed."""
    return ivf_store.delete(LAYOUT, spark, path, ids, id_col)


def rebalance_ivf_index(
    spark: SparkSession, path: str, max_list_size: int
) -> int:
    """Split every inverted list larger than ``max_list_size`` at the
    median of the dot with its lowest-id vector (ivf_store); the stored
    raw rows move to their new list unchanged. Returns lists split."""
    return ivf_store.rebalance(
        LAYOUT, spark, path, max_list_size, F.col("c_v")
    )


def upsert_ivf_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, int]:
    """Replace-or-insert vectors under the frozen quantizer: the
    re-embedding shape (a document's embedding changes when its text
    or the encoder revision does). ``add_to_ivf_index`` alone is
    insert-if-absent — an updated vector would be silently dropped by
    its idempotence anti-join — so upsert deletes the batch's ids
    first (touching only their list partitions) and then adds the
    batch fresh. NOT atomic across the two steps: a crash between
    them leaves the deleted ids absent until the add is retried —
    acceptable for an ANN index (a missing vector degrades recall,
    a stale one corrupts it), and the retry converges. Returns
    (removed, added)."""
    removed = delete_from_ivf_index(
        new_vecs.sparkSession, path, new_vecs.select(id_col), id_col
    )
    added = add_to_ivf_index(new_vecs, path, id_col, vec_col)
    return removed, added


def query_ivf_index(
    probes: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    max_broadcast_probes: int | None = BROADCAST_PROBE_LIMIT,
) -> DataFrame:
    """Cosine top-k against the persisted index: probes score only the
    vectors of their ``nprobe`` nearest lists, with the probed-list
    pruning and bounded probe broadcast of ``ivf_store.query``. Same
    output schema as ``cosine_topk_ivf`` (probe_id, neighbor_id,
    cosine_sim, rank)."""
    score = _dot(F.col("p_v"), F.col("c_v")) / (F.col("p_nrm") * F.col("c_nrm"))
    return ivf_store.query(
        LAYOUT, probes, path, id_col, vec_col, k, nprobe,
        max_broadcast_probes, "cosine_sim", score,
    )
