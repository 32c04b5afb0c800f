"""The IVF list store: one lifecycle under the three persisted index
rungs — flat (operators/ann_index.py), SQ8 (operators/sq_index.py)
and PQ (operators/pq.py).

Every rung persists the same structure under ``path``:

- ``centroids`` — the deterministic coarse quantizer
  (operators/similarity.py::ivf_centroids), nlist rows;
- a table of inverted lists **partitioned by centroid_id** (``lists``
  or ``codes``), so each list is one co-located parquet partition and
  a query's probe join prunes the scan to the probed lists;
- a params sidecar that pins the training regime (nlist, dim, and the
  rung's codec parameters).

Only the row codec differs between the rungs: how a vector is encoded
into a list row, how a row scores against a probe, and which vector a
rebalance split ranks by. This module owns everything else, once: the
sidecar and its dimension guard, the empty-dir-tolerant list reader,
the frozen-quantizer idempotent add, the partition-targeted delete,
the layout-preserving compaction, the crash-ordered median-split
rebalance with its orphan sweep, and the per-probe ``nprobe``
nearest-centroid window. A rung is a :class:`Layout` value plus codec
callables; nothing here asks which rung it serves.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vector import dot as _dot, norm as _norm
from ..sources.local import local_frame
from .similarity import (
    _nearest_centroid,
    bounded_broadcast,
    capped_probe_count,
    ivf_centroids,
)

# a rung's row codec: (vecs, cents, id_col, vec_col, dim) -> list rows
# carrying centroid_id
Encoder = Callable[[DataFrame, DataFrame, str, str, int | None], DataFrame]

_CENTROIDS_SCHEMA = "centroid_id long, c_vec array<double>, c_norm double"


@dataclass(frozen=True)
class Layout:
    """Where a rung keeps its lists: ``label`` names the index in
    errors, ``sidecar`` is the params file, ``table`` the partitioned
    lists dir, ``schema`` that table's zero-row frame."""

    label: str
    sidecar: str
    table: str
    schema: str


def _pinned_dim(d: int | None) -> int | None:
    """A recorded dimension usable for unrolled dots; None for the
    null/non-positive one an empty-corpus build records."""
    return int(d) if d is not None and d > 0 else None


def first_dim(df: DataFrame, vec_col: str) -> int | None:
    """The dimension of ``df``'s first vector (None when empty) — one
    single-row job, the cost of refusing silent corruption."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return None if row is None else row.d


def sidecar_path(layout: Layout, path: str) -> str:
    return os.path.join(path, layout.sidecar)


def read_params(layout: Layout, path: str) -> dict | None:
    """The index's params sidecar, or None when there is none."""
    sc = sidecar_path(layout, path)
    if not os.path.exists(sc):
        return None
    with open(sc) as f:
        return json.load(f)


def _write_params(layout: Layout, path: str, params: dict) -> None:
    with open(sidecar_path(layout, path), "w") as f:
        json.dump(params, f)


def stored_dim(layout: Layout, path: str) -> int | None:
    """The training dimension from the sidecar — metadata-only, so
    add/maintenance paths unroll their assignment dots with ZERO
    driver actions (VERDICT r14 item 6). None (→ interpreted-dot
    fallback) when the sidecar is absent or records no usable dim."""
    params = read_params(layout, path)
    return None if params is None else _pinned_dim(params.get("dim"))


def check_dim(
    layout: Layout, path: str, df: DataFrame, vec_col: str, what: str
) -> None:
    """Refuse vectors whose dimension differs from the training
    dimension (ADVICE r9): the zip-based dot product yields NULL for
    mismatched lengths, which would silently mis-assign on add and
    drop candidates on query instead of failing loudly. An index built
    on an EMPTY corpus records dim=null and skips the guard — it has
    no centroids either, so adds assign nothing and queries return
    nothing; rebuild is the only way to give it a quantizer."""
    params = read_params(layout, path)
    if params is None:
        return
    got = first_dim(df, vec_col)
    if got is None or params.get("dim") is None:
        return
    if params["dim"] != got:
        raise ValueError(
            f"{layout.label} index {path} holds {params['dim']}-dim "
            f"vectors; refusing to {what} {got}-dim vectors"
        )


def read_centroids(spark: SparkSession, path: str) -> DataFrame:
    """Heal-before-read (ADVICE r12): the rebalance commit point swaps
    the centroids table itself, so a crash between its two renames
    leaves the only copy at the ``.__aside.`` sibling — recover it
    here so every centroid consumer (query, add, rebalance, orphan
    sweep) sees the table."""
    from .compact import recover_directory

    recover_directory(f"{path}/centroids")
    return spark.read.parquet(f"{path}/centroids")


def read_lists(layout: Layout, spark: SparkSession, path: str) -> DataFrame:
    """Read the inverted lists. An index built on an EMPTY corpus is
    legal (a fresh warehouse): its partitioned zero-row write leaves a
    table dir with no parquet footers, so schema inference fails —
    degrade to the canonical zero-row schema instead of raising. A
    MISSING dir still raises (a wrong path is user error)."""
    from pyspark.errors import AnalysisException

    table = f"{path}/{layout.table}"
    try:
        # partition-column inference reads small centroid_id values
        # back as INT — normalize to long so every consumer (and
        # anything it writes) is type-stable
        return spark.read.parquet(table).withColumn(
            "centroid_id", F.col("centroid_id").cast("long")
        )
    except AnalysisException:
        if os.path.isdir(table):
            return local_frame(spark, [], layout.schema)
        raise


def assign(
    vecs: DataFrame, cents: DataFrame, id_col: str, vec_col: str,
    dim: int | None,
) -> DataFrame:
    """(neighbor_id, c_v raw double vector, centroid_id): every vector
    under its nearest coarse centroid."""
    return _nearest_centroid(
        vecs.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("c_v"),
        ),
        cents,
        "neighbor_id",
        "c_v",
        dim=dim,
    )


def build(
    layout: Layout,
    corpus: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    params: dict,
    encode: Encoder,
) -> None:
    """Train the coarse quantizer on ``corpus`` and persist
    ``centroids``, the ``encode``d lists partitioned by centroid_id,
    and the sidecar. ``params`` carries ``nlist`` and ``dim`` plus the
    codec's own; one regime per index — a build over an index whose
    sidecar records other params is refused, since rows encoded under
    two regimes would silently corrupt recall."""
    existing = read_params(layout, path)
    if existing is not None and existing != params:
        raise ValueError(
            f"{layout.label} index {path} was built with {existing}; "
            f"refusing to mix with {params}"
        )
    dim = _pinned_dim(params["dim"])
    cents = ivf_centroids(corpus, id_col, vec_col, params["nlist"], dim=dim)
    cents.write.mode("error").parquet(f"{path}/centroids")
    encode(corpus, cents, id_col, vec_col, dim).write.mode(
        "error"
    ).partitionBy("centroid_id").parquet(f"{path}/{layout.table}")
    _write_params(layout, path, params)


def add(
    layout: Layout,
    new_vecs: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    encode: Encoder,
) -> int:
    """Encode ``new_vecs`` under the index's FROZEN quantizer and
    append them to their lists, idempotently per id (the signature-
    store anti-join discipline; FAISS ``add`` semantics — retrain =
    rebuild). The count rides on the barrier's own job. Returns
    vectors appended."""
    from .barrier import counted_barrier

    spark = new_vecs.sparkSession
    check_dim(layout, path, new_vecs, vec_col, "add")
    cents = read_centroids(spark, path)
    existing = read_lists(layout, spark, path).select(
        F.col("neighbor_id").alias(id_col)
    )
    fresh = new_vecs.join(existing, id_col, "left_anti")
    rows, n = counted_barrier(
        encode(fresh, cents, id_col, vec_col, stored_dim(layout, path))
    )
    if n:
        rows.write.mode("append").partitionBy("centroid_id").parquet(
            f"{path}/{layout.table}"
        )
    return n


def compact(layout: Layout, spark: SparkSession, path: str) -> int:
    """Rewrite the lists table into one file per inverted list,
    PRESERVING the centroid_id partition layout (the generic
    ``operators/compact.py::compact`` would flatten it, breaking
    partition pruning). Every add appends one small file per touched
    partition, so a steady ingest accretes task-per-tiny-file
    overhead — OPTIMIZE on a lakehouse table is the same move.
    Crash-safe via the staging-dir swap. Returns the new parquet file
    count."""
    from .compact import parquet_file_count, recover_tree, swap_directory

    table = f"{path.rstrip('/')}/{layout.table}"
    recover_tree(table)
    df = spark.read.parquet(table)
    staging = table + ".__compact_tmp"
    # hash-repartition on the partition column: each centroid's rows
    # land in exactly one task, so each partition dir gets ONE file
    (
        df.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(staging)
    )
    swap_directory(staging, table)
    return parquet_file_count(table)


def delete(
    layout: Layout,
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str,
) -> int:
    """Remove vectors by id, rewriting ONLY the list partitions that
    contain them — FAISS ``remove_ids`` as a targeted partition
    rewrite (the move a lakehouse DELETE makes with partition
    pruning). The quantizer is untouched, exactly like add.

    ``ids`` joins the lists once to find the affected partitions
    (≤ nlist centroid ids, collected — control path, not data); each
    is rewritten alone via an anti-join and a crash-safe staging swap
    (operators/compact.py). Other partitions keep their files
    byte-for-byte. Idempotent: a retried delete matches nothing.
    Returns vectors removed."""
    from .compact import recover_tree, swap_directory

    table = f"{path.rstrip('/')}/{layout.table}"
    recover_tree(table)
    ids_only = ids.select(F.col(id_col).alias("neighbor_id")).distinct()
    hit = (
        read_lists(layout, spark, path)
        .join(F.broadcast(ids_only), "neighbor_id", "left_semi")
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    removed = 0
    for row in hit:
        part_dir = f"{table}/centroid_id={row.centroid_id}"
        kept = spark.read.parquet(part_dir).join(
            F.broadcast(ids_only), "neighbor_id", "left_anti"
        )
        staging = part_dir + ".__delete_tmp"
        kept.write.mode("overwrite").parquet(staging)
        swap_directory(staging, part_dir)
        removed += row.n
    return removed


def clean_orphans(layout: Layout, spark: SparkSession, path: str) -> int:
    """Remove list partitions whose centroid_id is absent from the
    centroids table — the crash leftovers of a rebalance's cleanup
    step. Orphans are QUERY-invisible (the probe join only reaches
    centroid ids the table holds) but would double-count in
    full-table reads, so rebalance sweeps them first. Returns
    partitions removed."""
    import shutil

    table = f"{path.rstrip('/')}/{layout.table}"
    if not os.path.isdir(table):
        return 0
    live = {
        int(r.centroid_id)
        for r in read_centroids(spark, path).select("centroid_id").collect()
    }
    removed = 0
    for entry in sorted(os.listdir(table)):
        if not entry.startswith("centroid_id="):
            continue
        try:
            cid = int(entry.split("=", 1)[1])
        except ValueError:
            continue
        if cid not in live:
            shutil.rmtree(os.path.join(table, entry))
            removed += 1
    return removed


def _stored_rows(part: DataFrame, cid: int, n: int) -> DataFrame:
    return part


def _write_rows(rows: DataFrame, c_vec: list[float], out_dir: str) -> None:
    rows.drop("__h").write.mode("overwrite").parquet(out_dir)


def rebalance(
    layout: Layout,
    spark: SparkSession,
    path: str,
    max_list_size: int,
    vec: Column,
    fetch: Callable[[DataFrame, int, int], DataFrame] = _stored_rows,
    write_half: Callable[[DataFrame, list[float], str], None] = _write_rows,
) -> int:
    """Split every inverted list larger than ``max_list_size`` into
    two — the nlist re-dial that keeps per-list size (and so query
    cost ∝ store/nlist) bounded as the store grows under frozen-add
    semantics (VERDICT r10 item 3; FAISS's analogue is a full
    rebuild, this is the incremental form done in place).

    The codec supplies ``vec``, the per-row vector the split ranks by
    and averages; ``fetch(part, centroid_id, n)`` turns a partition's
    stored rows into the rows to split (by default, as stored);
    ``write_half(rows, c_vec, dir)`` writes a half (with its ``__h``
    column) under its new centroid ``c_vec``.

    Split rule (deterministic, no RNG): members rank by dot product
    with the list's lowest-id member (ties → neighbor_id) and split AT THE
    MEDIAN — halves of ⌈n/2⌉ / ⌊n/2⌋, so a list reaches the cap in
    ⌈log₂(n/cap)⌉ rounds regardless of geometry. Each half's centroid
    is its component-wise mean rounded to 6 decimals (the
    ``ivf_centroids`` refinement discipline, so rebuilt and rebalanced
    centroids carry the same cross-engine determinism). New ids
    allocate above max(existing), in (hot centroid asc, half) order.
    The rank window is per list, bounded by list size.

    Crash-ordered: (1) the halves are written to their FINAL dirs —
    invisible until the centroids table references them; (2) the
    centroids table swaps (the commit point: hot centroid gone, halves
    live); (3) the superseded partitions are swept — a crash before
    (3) leaves query-invisible orphans the next rebalance removes
    (:func:`clean_orphans`). Full-probe answers are INVARIANT: every
    vector is in exactly one probe-reachable list at every commit
    point. Returns lists split."""
    from .barrier import barrier
    from .compact import recover_tree, swap_directory

    table = f"{path.rstrip('/')}/{layout.table}"
    recover_tree(table)
    clean_orphans(layout, spark, path)
    sizes = (
        read_lists(layout, spark, path)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    size_by_cid = {int(r.centroid_id): int(r.n) for r in sizes}
    hot = sorted(c for c, n in size_by_cid.items() if n > max_list_size)
    if not hot:
        return 0
    cents = read_centroids(spark, path)
    next_id = int(cents.agg(F.max("centroid_id")).first()[0]) + 1
    new_rows: list[tuple[int, list[float], float]] = []
    for cid in hot:
        part = fetch(
            spark.read.parquet(f"{table}/centroid_id={cid}"), cid, size_by_cid[cid]
        )
        seed = part.orderBy("neighbor_id").limit(1).select(vec.alias("v"))
        sv = F.array(*[F.lit(float(x)) for x in seed.collect()[0].v])
        # the rank is the raw dot with the seed: the seed's norm is a
        # shared positive factor, so dividing by it changes no order
        mid = (size_by_cid[cid] + 1) // 2
        wr = W.orderBy(F.desc("__s1"), F.asc("neighbor_id"))
        half = barrier(
            part.withColumn("__s1", _dot(vec, sv))
            .withColumn("__rn", F.row_number().over(wr))
            .withColumn(
                "__h", F.when(F.col("__rn") <= mid, F.lit(0)).otherwise(F.lit(1))
            )
            .drop("__s1", "__rn"),
        )
        comp = (
            half.select("__h", F.posexplode(vec).alias("pos", "x"))
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
        for h in (0, 1):
            c_vec = by_h[h]
            new_rows.append((next_id, c_vec, sum(x * x for x in c_vec) ** 0.5))
            # (1) half partition to its FINAL dir
            write_half(
                half.filter(F.col("__h") == h), c_vec,
                f"{table}/centroid_id={next_id}",
            )
            next_id += 1
    # (2) commit point: swap the centroids table
    kept_cents = cents.filter(~F.col("centroid_id").isin(hot))
    added = local_frame(spark, new_rows, _CENTROIDS_SCHEMA)
    staging = f"{path}/centroids.__rebal_tmp"
    kept_cents.unionByName(added).coalesce(1).write.mode("overwrite").parquet(
        staging
    )
    swap_directory(staging, f"{path}/centroids")
    # (3) cleanup: drop the superseded partitions + re-pin nlist
    clean_orphans(layout, spark, path)
    params = read_params(layout, path)
    if params is not None:
        params["nlist"] = int(params.get("nlist", 0)) + len(hot)
        _write_params(layout, path, params)
    return len(hot)


def probe_frame(probes: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(probe_id, p_v, p_nrm): the probe side of every IVF query."""
    return probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).cast("array<double>").alias("p_v"),
    ).withColumn("p_nrm", _norm(F.col("p_v")))


def nearest_lists(
    p: DataFrame,
    cents: DataFrame,
    nprobe: int,
    cols: list[str],
    **extra: Column,
) -> DataFrame:
    """Each probe's ``nprobe`` nearest coarse lists: the probe frame
    (:func:`probe_frame`) crossed with the broadcast centroids, ranked
    per probe by cosine (the probe's own norm is a shared factor;
    ties → lowest centroid_id). ``extra`` columns are computed per
    (probe, centroid) before the window; ``cols`` are kept."""
    scored = p.crossJoin(F.broadcast(cents)).withColumn(
        "__sim", _dot(F.col("p_v"), F.col("c_vec")) / F.col("c_norm")
    )
    if extra:
        scored = scored.withColumns(extra)
    wp = W.partitionBy("probe_id").orderBy(F.desc("__sim"), F.asc("centroid_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select(*cols)
    )


def top_k(scored: DataFrame, score: str, k: int) -> DataFrame:
    """The ``k`` best neighbors per probe by ``score`` (ties → lowest
    neighbor_id), numbered in a ``rank`` column."""
    w = W.partitionBy("probe_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def query(
    layout: Layout,
    probes: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
    max_broadcast_probes: int | None,
    score_name: str,
    score: Column,
) -> DataFrame:
    """Top-k against a store whose rows score directly against the
    probe vector: probes pick their ``nprobe`` nearest lists, and the
    probe-lists → lists join carries the partition column, so the
    lists scan prunes to the probed partitions (dynamic partition
    pruning) — a query batch reads ~nprobe/nlist of the index.
    ``score`` is the codec's similarity over (p_v, p_nrm) and the
    list row, rounded to 6 into ``score_name``.

    The probe side (|probes| × nprobe rows) is broadcast BY CONTRACT:
    the r10 fixed-batch decade caught AQE flipping it to a sort-merge
    at the x100 store, which shuffles AND sorts the scanned lists.
    ``max_broadcast_probes`` bounds that contract (ADVICE r11): past
    it the hint is dropped and AQE picks a shuffled, memory-safe plan
    instead of risking a driver OOM; ``None`` disables the guard."""
    spark = probes.sparkSession
    check_dim(layout, path, probes, vec_col, "query with")
    cents = read_centroids(spark, path)
    lists = read_lists(layout, spark, path)
    p = probe_frame(probes, id_col, vec_col)
    p_lists = nearest_lists(
        p, cents, nprobe, ["probe_id", "p_v", "p_nrm", "centroid_id"]
    )
    n_probes = capped_probe_count(p, max_broadcast_probes)
    scored = (
        bounded_broadcast(p_lists, n_probes, nprobe, max_broadcast_probes)
        .join(lists, "centroid_id")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", F.round(score, 6).alias(score_name))
    )
    return top_k(scored, score_name, k)
