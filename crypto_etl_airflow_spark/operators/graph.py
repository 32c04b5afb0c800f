"""Connected components via min-label propagation.

Near-duplicate PAIRS (dedup, similarity) only become actionable as
duplicate CLUSTERS — "keep one document per component". Components
of the similarity graph come from iterative min-label propagation:

    label(v) ← min(label(v), min over neighbors' labels)

repeated until a fixed point; every vertex ends up labeled with the
smallest vertex id reachable from it. Convergence takes O(graph
diameter) rounds — small for dedup graphs (clusters are dense blobs,
not long chains).

Scale posture: each round is one join edges⋈labels + one min-agg —
all shuffles on the vertex id, so rounds reuse the same partitioning.
Lineage is truncated every round (:func:`.barrier.barrier`) or the plan
would double each iteration; the driver only ever sees the
changed-label COUNT (a scalar), never the data. The classic
large-star/small-star optimization (fewer rounds on high-diameter
graphs) can replace the inner step without changing the contract.
"""

from __future__ import annotations

import functools
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .barrier import barrier


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Label every vertex of the undirected graph ``edges`` with the
    min vertex id of its component. Vertices are ids appearing in any
    edge. Returns (id, component).

    ``checkpoint_dir`` selects RELIABLE checkpoints (written beneath
    that directory, typically on the cluster's shared filesystem) for
    the per-round lineage truncation: ``localCheckpoint`` blocks live
    on executor local storage, so an executor loss mid-algorithm is
    unrecoverable — fine single-node, wrong on a 1000-executor run.
    Default stays the zero-IO local fast path.
    """
    ckpt = functools.partial(barrier, checkpoint_dir=checkpoint_dir)

    und = ckpt(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionAll(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    labels = ckpt(
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )

    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = ckpt(
            labels.join(neighbor_min, labels.id == neighbor_min.a, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (F.coalesce("nbr_min", F.col("component")) < F.col("component")).alias(
                    "__changed"
                ),
            )
        )
        n_changed = updated.filter("__changed").count()
        labels = updated.drop("__changed")
        if n_changed == 0:
            break
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", 2014 — public algorithm). Same contract as
    :func:`connected_components`: returns (id, component) with
    component = min vertex id of the component.

    Why a second algorithm: min-label propagation converges in
    O(diameter) rounds — fine for dedup graphs (dense blobs), slow on
    chain-shaped graphs. The star contraction halves path lengths
    every round, converging in O(log diameter):

    - large-star(u): attach every STRICTLY LARGER neighbor of u to
      m = min(Γ(u) ∪ {u});
    - small-star(u): attach u and its ≤-neighbors to the same m.

    Each phase is one shuffle on the vertex id (groupBy min + join —
    never a collected neighbor list, so hot vertices don't blow
    memory), and the edge set only shrinks toward a forest of stars.
    Pass ``stats={}`` to receive {"rounds": n, "converged": bool}
    back — used by tests to assert the O(log d) behavior; a
    ``RuntimeWarning`` is issued when ``max_iter`` is exhausted before
    the fixed point (truncated star iteration can over-SPLIT
    components, unlike min-label truncation which merely
    under-propagates labels). ``checkpoint_dir`` selects reliable
    checkpoints exactly as in :func:`connected_components`.
    """
    ckpt = functools.partial(barrier, checkpoint_dir=checkpoint_dir)

    e = ckpt(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    vertices = ckpt(
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .distinct()
    )

    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        # large-star: (v, m) for strictly larger neighbors v of u
        large = (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        sym_l = large.unionAll(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # small-star: u and its smaller neighbors all attach to the
        # min of that closed neighborhood
        mins_s = (
            sym_l.where(F.col("v") < F.col("u"))
            .groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        small = ckpt(
            sym_l.where(F.col("v") < F.col("u"))
            .join(mins_s, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(mins_s.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        changed = (
            small.exceptAll(e).limit(1).count() + e.exceptAll(small).limit(1).count()
        )
        e = small
        if changed == 0:
            converged = True
            break
    if not converged:
        # unlike min-label truncation (valid but under-propagated
        # labels), a non-converged star edge set can SPLIT one true
        # component into several — callers must be able to tell
        # fixed-point output from truncated iteration
        warnings.warn(
            f"connected_components_star: max_iter={max_iter} exhausted "
            "before the fixed point; components may be over-split",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged

    # at the fixed point e is a forest of stars (child → root); roots
    # have no outgoing edge and label themselves
    labels = e.groupBy("u").agg(F.min("v").alias("component"))
    return vertices.join(
        labels.withColumnRenamed("u", "id"), "id", "left"
    ).select("id", F.coalesce("component", F.col("id")).alias("component"))


def keep_best_per_cluster(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Canonical-document selection: given ``components`` (id,
    component) from :func:`connected_components` and per-id
    ``scores``, keep ONE id per duplicate cluster — the highest
    score, ties to the lowest id. This is the policy step that turns
    duplicate clusters into a training set ("keep the best-quality
    copy", not "keep the arbitrary min-id copy").

    Returns (component, kept_id, best_score, n_members). One grouped
    ``min_by`` over (−score, id) — a single shuffle on the component
    id, no window over data rows.
    """
    joined = components.join(
        scores.withColumnRenamed(id_col, "id") if id_col != "id" else scores,
        "id",
    )
    order = F.struct(
        (-F.col(score_col)).alias("neg"), F.col("id").alias("i")
    )
    return joined.groupBy("component").agg(
        F.min_by(F.col("id"), order).alias("kept_id"),
        F.max(score_col).alias("best_score"),
        F.count("*").alias("n_members"),
    )
