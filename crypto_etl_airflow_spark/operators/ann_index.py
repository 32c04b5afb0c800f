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

import os

from pyspark.sql import DataFrame, SparkSession
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

_PARAMS_SIDECAR = "_ivf_index_params.json"


def _sidecar(path: str) -> str:
    import os

    return os.path.join(path, _PARAMS_SIDECAR)


def _validate_params(path: str, params: dict) -> None:
    """One quantizer per index: vectors assigned under a different
    (nlist, dim) regime would silently corrupt recall."""
    import json
    import os

    if os.path.exists(_sidecar(path)):
        with open(_sidecar(path)) as f:
            existing = json.load(f)
        if existing != params:
            raise ValueError(
                f"ivf index {path} was built with {existing}; "
                f"refusing to mix with {params}"
            )


def _first_dim(df: DataFrame, vec_col: str) -> int | None:
    """The dimension of ``df``'s first vector (None when empty) — one
    single-row job, the cost of refusing silent corruption."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return None if row is None else row.d


def _stored_dim(path: str) -> int | None:
    """The index's training dimension from its params sidecar —
    metadata-only, so add/maintenance paths can unroll assignment
    dots with ZERO driver actions (VERDICT r14 item 6). None (→
    interpreted-dot fallback) when the sidecar is absent or records a
    null/non-positive dim (empty-corpus build)."""
    import json
    import os

    if not os.path.exists(_sidecar(path)):
        return None
    with open(_sidecar(path)) as f:
        d = json.load(f).get("dim")
    return int(d) if d is not None and d > 0 else None


def _check_dim(path: str, df: DataFrame, vec_col: str, what: str) -> None:
    """Refuse vectors whose dimension differs from the index's
    training dimension (ADVICE r9): the zip-based dot product yields
    NULL similarities for mismatched lengths, which would silently
    mis-assign on add and silently drop candidates on query instead
    of failing loudly. An index built on an EMPTY corpus records
    dim=null and skips the guard — it also has no centroids, so adds
    assign nothing and queries return nothing; rebuild is the only
    way to give it a quantizer (and a pinned dimension)."""
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
            f"ivf index {path} holds {params['dim']}-dim vectors; "
            f"refusing to {what} {got}-dim vectors"
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
    BY centroid_id — one co-located parquet partition per inverted
    list, the layout that lets a query read only its probed lists."""
    import json
    import os

    # the training dimension is part of the regime: adds/queries with
    # a different embedding dimension are refused (see _check_dim)
    params = {"nlist": nlist, "dim": _first_dim(corpus, vec_col)}
    _validate_params(path, params)
    d = params["dim"]
    dim = int(d) if d is not None and d > 0 else None
    cents = ivf_centroids(corpus, id_col, vec_col, nlist, dim=dim)
    cents.write.mode("error").parquet(f"{path}/centroids")
    lists = _nearest_centroid(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("c_v"),
        ),
        cents,
        "neighbor_id",
        "c_v",
        dim=dim,
    ).withColumn("c_nrm", _norm(F.col("c_v")))
    lists.write.mode("error").partitionBy("centroid_id").parquet(
        f"{path}/lists"
    )
    with open(_sidecar(path), "w") as f:
        json.dump(params, f)


def read_ivf_centroids(spark: SparkSession, path: str) -> DataFrame:
    """Heal-before-read (ADVICE r12): the rebalance commit point swaps
    the centroids table itself, so a crash between its two renames
    leaves the only copy at the ``.__aside.`` sibling — recover it
    here so every centroid consumer (query, add, rebalance, orphan
    sweep) sees the table, matching the lists readers' discipline."""
    from .compact import recover_directory

    recover_directory(f"{path}/centroids")
    return spark.read.parquet(f"{path}/centroids")


_LISTS_SCHEMA = (
    "neighbor_id long, c_v array<double>, c_nrm double, centroid_id long"
)


def read_ivf_lists(spark: SparkSession, path: str) -> DataFrame:
    """Read the inverted lists. An index built on an EMPTY corpus is
    legal (a fresh warehouse): its partitioned zero-row write leaves a
    lists dir with no parquet footers, so schema inference fails —
    degrade to the canonical zero-row schema instead of raising. A
    MISSING dir still raises (wrong path is user error, not an empty
    index)."""
    import os

    from pyspark.errors import AnalysisException

    lists_path = f"{path}/lists"
    try:
        # partition-column type inference reads small centroid_id dir
        # values back as INT — normalize to long so every consumer
        # (and anything they WRITE, e.g. the streaming pair sink) is
        # type-stable regardless of inference
        return spark.read.parquet(lists_path).withColumn(
            "centroid_id", F.col("centroid_id").cast("long")
        )
    except AnalysisException:
        if os.path.isdir(lists_path):
            return local_frame(spark, [], _LISTS_SCHEMA)
        raise


def add_to_ivf_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Assign ``new_vecs`` with the index's FROZEN quantizer and
    append them to their lists, idempotently per id (the signature-
    store anti-join discipline). The quantizer never retrains on add —
    identical to FAISS ``add`` semantics; rebuild when drift warrants.
    Returns vectors appended."""
    from .upsert import _counted_barrier

    spark = new_vecs.sparkSession
    _check_dim(path, new_vecs, vec_col, "add")
    cents = read_ivf_centroids(spark, path)
    existing = read_ivf_lists(spark, path).select(
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
    ).withColumn("c_nrm", _norm(F.col("c_v")))
    assigned, n = _counted_barrier(spark, assigned, None)
    if n:
        assigned.write.mode("append").partitionBy("centroid_id").parquet(
            f"{path}/lists"
        )
    return n


def compact_ivf_lists(spark: SparkSession, path: str) -> int:
    """Rewrite the ``lists`` table into one file per inverted list,
    PRESERVING the centroid_id partition layout (the generic
    ``operators/compact.py::compact`` would flatten it, breaking
    partition pruning). Every ``add_to_ivf_index`` appends one small
    file per touched partition, so a steady ingest accretes
    task-per-tiny-file overhead — compaction is the standard index
    maintenance step (FAISS has no analogue because it rewrites
    in-memory; OPTIMIZE on a lakehouse table is the same move).
    Crash-safe via the staging-dir swap. Returns the new parquet file
    count."""
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


def delete_from_ivf_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> int:
    """Remove vectors by id, rewriting ONLY the inverted-list
    partitions that contain them — the index-maintenance counterpart
    of FAISS ``remove_ids`` (there it is an in-memory compaction;
    here it is a targeted partition rewrite, the same move a
    lakehouse DELETE performs with partition pruning). The quantizer
    is untouched — delete never retrains, exactly like add.

    Scale shape: ``ids`` joins the lists once to find the affected
    centroid partitions (≤ nlist values, collected — a control-path
    collect of centroid ids, not data); each affected partition is
    rewritten alone via an anti-join on the id and a crash-safe
    staging swap (operators/compact.py). Partitions without deleted
    ids keep their files byte-for-byte — steady-state deletes touch
    ~|ids|/nlist of the index, never a full rewrite. Idempotent: a
    retried delete matches nothing and rewrites nothing. Returns the
    number of vectors removed."""
    from .compact import recover_tree, swap_directory

    lists_path = f"{path.rstrip('/')}/lists"
    recover_tree(lists_path)
    ids_only = ids.select(F.col(id_col).alias("neighbor_id")).distinct()
    hit = (
        read_ivf_lists(spark, path)
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


def _clean_orphan_partitions(spark: SparkSession, path: str) -> int:
    """Remove lists partitions whose centroid_id is absent from the
    centroids table — the crash leftovers of a rebalance's final
    cleanup step (old hot partitions already superseded by their
    split halves). Orphans are QUERY-invisible (the probe join only
    reaches centroid ids the centroids table holds) but would
    double-count in full-table reads, so rebalance sweeps them first."""
    import shutil

    lists_path = f"{path.rstrip('/')}/lists"
    if not os.path.isdir(lists_path):
        return 0
    live = {
        int(r.centroid_id)
        for r in read_ivf_centroids(spark, path).select("centroid_id").collect()
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


def rebalance_ivf_index(
    spark: SparkSession, path: str, max_list_size: int
) -> int:
    """Split every inverted list larger than ``max_list_size`` into
    two — the nlist re-dial that keeps per-list size (and hence query
    cost ∝ store/nlist) bounded as the store grows under frozen-add
    semantics (VERDICT r10 item 3; the FAISS analogue is a retrain +
    re-add, a full rebuild — this is the incremental form a lakehouse
    can do in place).

    Split rule (deterministic, no RNG): members rank by cosine to the
    list's lowest-id vector (ties → neighbor_id) and split AT THE
    MEDIAN — each half is exactly ⌈n/2⌉ / ⌊n/2⌋, so a list reaches
    the cap in ⌈log₂(n/cap)⌉ rounds regardless of geometry (the
    nearest-seed split this replaced mid-r12 was arbitrarily lopsided
    on unstructured data and took near-linear rounds). Each half's
    new centroid is the component-wise mean rounded to 6 decimals —
    the ``ivf_centroids`` refinement discipline, so
    rebuilt-vs-rebalanced centroids carry the same cross-engine
    determinism. New centroid ids allocate above max(existing), in
    (hot centroid asc, half) order. The rank window is per-list —
    bounded by list size, the same skew exposure the flat index's
    duplicate-group windows have.

    Crash-ordered like every store mutation here: (1) the half
    partitions are written to their FINAL dirs — invisible until the
    centroids table references them; (2) the centroids table swaps
    (the commit point: old hot centroid gone, halves live); (3) old
    hot partitions are removed — a crash before (3) leaves
    query-invisible orphans that the next rebalance sweeps
    (:func:`_clean_orphan_partitions`). Full-probe answers are
    INVARIANT across the whole operation: every vector is in exactly
    one probed-reachable list at every commit point.

    Returns lists split."""
    import json

    from .compact import recover_tree, swap_directory
    from .upsert import _lineage_barrier

    lists_path = f"{path.rstrip('/')}/lists"
    recover_tree(lists_path)
    _clean_orphan_partitions(spark, path)
    sizes = (
        read_ivf_lists(spark, path)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    hot = sorted(
        int(r.centroid_id) for r in sizes if int(r.n) > max_list_size
    )
    if not hot:
        return 0
    cents = read_ivf_centroids(spark, path)
    next_id = int(cents.agg(F.max("centroid_id")).first()[0]) + 1
    new_rows: list[tuple[int, list[float], float]] = []
    split_cids: list[int] = []
    size_by_cid = {int(r.centroid_id): int(r.n) for r in sizes}
    for cid in hot:
        part_dir = f"{lists_path}/centroid_id={cid}"
        part = spark.read.parquet(part_dir)
        seed = part.orderBy("neighbor_id").limit(1).collect()[0]
        sv1 = F.array(*[F.lit(float(x)) for x in seed.c_v])
        # the member's own norm divides both sides of the RANK — the
        # seed's norm is a shared positive factor too, so raw dot
        # order == cosine order
        sim1 = _dot(F.col("c_v"), sv1)
        mid = (size_by_cid[cid] + 1) // 2
        wr = W.orderBy(F.desc("__s1"), F.asc("neighbor_id"))
        half = _lineage_barrier(
            spark,
            part.withColumn("__s1", sim1)
            .withColumn("__rn", F.row_number().over(wr))
            .withColumn(
                "__h", F.when(F.col("__rn") <= mid, F.lit(0)).otherwise(F.lit(1))
            )
            .drop("__s1", "__rn"),
            None,
        )
        # new centroids: per-half component means, ivf_centroids style
        comp = (
            half.select("__h", F.posexplode("c_v").alias("pos", "x"))
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
            # (1) half partition to its FINAL dir — invisible until
            # the centroids swap references it
            half.filter(F.col("__h") == h).drop("__h").write.mode(
                "overwrite"
            ).parquet(f"{lists_path}/centroid_id={ids[h]}")
        split_cids.append(cid)
    if not split_cids:
        return 0
    # (2) commit point: swap the centroids table
    kept_cents = cents.filter(~F.col("centroid_id").isin(split_cids))
    added = local_frame(
        spark, new_rows, "centroid_id long, c_vec array<double>, c_norm double"
    )
    staging = f"{path}/centroids.__rebal_tmp"
    kept_cents.unionByName(added).coalesce(1).write.mode("overwrite").parquet(
        staging
    )
    swap_directory(staging, f"{path}/centroids")
    # (3) cleanup: drop the superseded hot partitions + re-pin nlist
    _clean_orphan_partitions(spark, path)
    sc_path = _sidecar(path)
    if os.path.exists(sc_path):
        with open(sc_path) as f:
            params = json.load(f)
        params["nlist"] = int(params.get("nlist", 0)) + len(split_cids)
        with open(sc_path, "w") as f:
            json.dump(params, f)
    return len(split_cids)


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
    vectors of their ``nprobe`` nearest lists. Same output schema as
    ``cosine_topk_ivf`` (probe_id, neighbor_id, cosine_sim, rank).

    Scale shape: centroids broadcast (nlist rows); the probe-lists →
    lists join carries the partition column, so the ``lists`` scan
    prunes to the probed centroid partitions (dynamic partition
    pruning) — per-query-batch reads are ~nprobe/nlist of the index,
    never a full scan. The probe side of that join (|probes| × nprobe
    rows) is broadcast BY CONTRACT (hinted): the r10 fixed-batch
    decade caught AQE flipping it to a sort-merge at the x100 store,
    which shuffles AND sorts the scanned lists per query batch — the
    exact store-side shuffle the index layout exists to avoid.
    ``max_broadcast_probes`` bounds that contract (ADVICE r11): a
    probe batch whose |probes|·nprobe fan-out outgrows the bound
    drops the hint and lets AQE pick a shuffled, memory-safe plan
    instead of risking a driver OOM; ``None`` disables the guard."""
    spark = probes.sparkSession
    _check_dim(path, probes, vec_col, "query with")
    cents = read_ivf_centroids(spark, path)
    lists = read_ivf_lists(spark, path)

    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("p_v"),
    ).withColumn("p_nrm", _norm(F.col("p_v")))
    p_scored = p.crossJoin(F.broadcast(cents)).withColumn(
        "__sim", _dot(F.col("p_v"), F.col("c_vec")) / F.col("c_norm")
    )
    wp = W.partitionBy("probe_id").orderBy(
        F.desc("__sim"), F.asc("centroid_id")
    )
    p_lists = (
        p_scored.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select("probe_id", "p_v", "p_nrm", "centroid_id")
    )
    n_probes = capped_probe_count(p, max_broadcast_probes)
    scored = (
        bounded_broadcast(p_lists, n_probes, nprobe, max_broadcast_probes)
        .join(lists, "centroid_id")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _dot(F.col("p_v"), F.col("c_v"))
                / (F.col("p_nrm") * F.col("c_nrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
