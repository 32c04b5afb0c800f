"""Semantic deduplication (SemDeDup-style): cluster the embedding
space with the deterministic IVF coarse quantizer, then search for
cosine-similar pairs ONLY within each cluster and drop every
non-canonical member.

This is the embedding-space counterpart of MinHash-LSH for text: the
cluster assignment plays the role of the LSH bucket, bounding the
pair search to within-cluster candidates instead of all n² pairs
(Abbas et al., "SemDeDup", arXiv:2303.09540 — the public recipe:
k-means cluster, intra-cluster pairwise cosine, keep one
representative).

Scale posture at 100 TB:

- centroids derive from the corpus deterministically (lowest-id
  seeds + one refinement — operators/similarity.py::ivf_centroids)
  and broadcast: assignment is a map-side cross-score, no shuffle of
  the corpus;
- the only shuffle is ONE repartition of the vector table on
  ``centroid_id`` (the pair kernel's group-by); per-cluster work is
  quadratic in CLUSTER size, so ``nlist`` is the scale dial — grow it
  with the corpus (n/√nlist constant) exactly as SemDeDup runs 50k
  clusters for LAION-scale data. A skewed giant cluster is the
  failure mode to watch; the cluster-size histogram is one groupBy
  away and re-seeding with a larger nlist is cheap;
- pair scoring is the Arrow :func:`_pair_score_kernel`
  (``applyInArrow`` over the cluster groups) on the bounded-candidate
  primitive of :mod:`.vector_kernel` — an fp32 GEMM selects, the exact
  fold scores, bit-identical to the JVM fold and the DuckDB oracle;
  candidate pairs never materialize as shuffled rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import dot as _dot, norm as _norm
from .similarity import _nearest_centroid, ivf_centroids

#: Per-task skew guard (VERDICT r16 item 5): an ``applyInArrow``
#: group is an ATOMIC task AQE cannot split, and within-cluster pair
#: scoring is quadratic in the group — a cluster past this bound
#: (~10⁹ candidate cells · dim flops ≈ tens of seconds for ONE task
#: even vectorized) is a straggler in the making. The kernels warn at
#: runtime (RuntimeWarning → executor stderr) naming the cluster and
#: the remedy: grow ``nlist`` (the nlist ∝ corpus contract keeps
#: clusters constant-sized — SemDeDup runs 50k clusters at LAION
#: scale) and re-seed. Detection is free (the task already holds the
#: group) and NEVER changes emitted pairs; the audit-side histogram
#: is :func:`cluster_size_histogram`.
SKEW_WARN_ROWS = 32768


def assign_clusters(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """(id, v double-array, nrm, centroid_id) — nearest refined IVF
    centroid per vector, deterministic (lowest-centroid tiebreak).

    One guarded dimension probe serves BOTH assignment passes (seed
    assignment inside ivf_centroids + the final assignment), so the
    Arrow kernels get their fixed dimension from a single head(1)
    job."""
    from .similarity import _probe_dim

    if dim is None:
        dim = _probe_dim(corpus, vec_col)
    cents = ivf_centroids(corpus, id_col, vec_col, nlist, dim=dim)
    v = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    return _nearest_centroid(v, cents, id_col, "v", dim=dim).withColumn(
        "nrm", _norm(F.col("v"))
    )


def cluster_size_histogram(assigned: DataFrame) -> DataFrame:
    """``(centroid_id, n_vectors)`` for an assignment — the audit
    query behind the :data:`SKEW_WARN_ROWS` guard (the module
    docstring's "one groupBy away"): run it over a persisted
    assignment before a corpus-scale pair search to find skewed
    clusters while re-seeding (larger ``nlist``) is still cheap. Not
    wired into the query paths: computing it eagerly there would add
    a full assignment pass per call, and the kernels already detect
    the condition at runtime for free."""
    return assigned.groupBy("centroid_id").agg(
        F.count("*").alias("n_vectors")
    )


def _pair_score_kernel(dim: int, threshold: float, out_schema, cogroup: bool):
    """Factory for the Arrow within-cluster pair scorer.

    Returns a SELF-CONTAINED closure (cloudpickle ships nested code
    by value — no module refs on the workers) for
    ``groupBy("centroid_id").applyInArrow`` (``cogroup=False``: one
    cluster per call, emit upper-triangle ``id_a < id_b`` pairs) or
    ``cogroup(...).applyInArrow`` (``cogroup=True``: (store, batch)
    sides per cluster — emit every store×batch pair normalized to
    ``least/greatest`` plus the batch×batch upper triangle, exactly
    the two legs of the join form it replaces). ``out_schema`` is the
    declared Spark schema; emitted columns are cast to its Arrow types.

    Why a kernel (ADVICE r15 item 4): the join form's 64-term
    ``dot_unrolled`` codegen chain exceeds HotSpot's
    DontCompileHugeMethods limit and runs as INTERPRETED bytecode at
    ~10 µs/dot, and the pair volume Σ_c |cluster_c|² exceeds the
    centroid cross-score volume.

    Scoring is the bounded-candidate primitive of
    :mod:`.vector_kernel` (gather, representability gate, error bound
    that scales with dim, exact fold). When every component of the
    group passes the fp32 gate, an fp32 GEMM selects the candidates:
    a pair is dropped only when PROVABLY below ``threshold − 1e-6``
    (``~(S + eps < loose)``, so NaN/±Inf comparisons keep it), and
    rows whose stored norm fails the gate (0, NaN, ±Inf,
    denormal-range) keep all their pairs. A group that fails the gate
    (or a threshold below −3e38) makes every pair a candidate. The
    exact left-to-right fp64 fold then scores every candidate, so
    every emitted cosine is bit-identical to the join form.

    Parity contract with the JVM join form (pinned by tests):

    - ``sim = round(dot / (na · nb), 6)`` with Spark's double
      rounding — ``BigDecimal.valueOf`` (SHORTEST decimal repr, which
      is Python's ``repr``) then HALF_UP — never numpy's banker's
      round;
    - candidate filter ``sim >= threshold`` keeps NaN (Spark's
      NaN-largest comparison semantics; a NaN sim is emitted as NULL)
      and drops NULL: a row whose ``nrm`` is NULL (any NULL vector
      element — the norm folds over all of them) or whose vector is
      NULL yields NULL sims in the join form and emits NO pairs here.
      Arrow keeps a NULL norm distinct from a NaN one (NaN norms score
      NaN and are kept). A vector SHORTER than ``dim`` is also
      excluded — the join form would CRASH there (ANSI ``element_at``
      throws past the end), and a single malformed vector must not
      kill a 100 TB job;
    - the rounding/filtering runs vectorized against
      ``threshold − 1e-6`` first, then exact decimal rounding on the
      sliver of candidates, so the per-pair Python cost is paid only
      on (near-)emitted pairs.

    Scale shape: ONE shuffle of the vector table on ``centroid_id``,
    candidate pairs never materialize as rows, and the per-task
    working set is a tile × |cluster| score block. A group cannot be
    split by AQE skew handling — the nlist ∝ corpus contract
    (constant cluster size) bounds per-task work. A group that
    EXCEEDS ``SKEW_WARN_ROWS`` emits a RuntimeWarning from the task
    naming the cluster and the re-seed remedy; it never changes
    emitted pairs."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .vector_kernel import vector_kernel

    arrow_schema = to_arrow_schema(out_schema)
    build = vector_kernel(dim)
    thr = float(threshold)
    loose = thr - 1e-6
    skew_bound = SKEW_WARN_ROWS

    def _impl():
        import math
        from decimal import ROUND_HALF_UP, Context, Decimal

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        K = build()
        # explicit wide-precision context, ONE instance per call
        # (round6 runs once per near-threshold candidate — the hot
        # sliver): quantizing a LARGE finite double to 6 dp needs
        # int_digits+6 significant digits (up to ~315 at 1e308) — the
        # default 28-digit context raises InvalidOperation there,
        # where Spark's F.round (BigDecimal.setScale, arbitrary
        # precision) returns the value unchanged; a corrupted norm
        # sidecar must not kill the task on a parity edge.
        _CTX = Context(prec=340)
        _Q6 = Decimal("0.000001")

        def round6(x):
            if math.isnan(x) or math.isinf(x):
                return x
            return float(
                Decimal(repr(x)).quantize(
                    _Q6, rounding=ROUND_HALF_UP, context=_CTX
                )
            )

        def prep(table):
            V, ok = K.gather(table.column("v"))
            nrm = table.column("nrm")
            ok &= ~nrm.is_null().to_numpy()
            return table.column("__id").to_numpy(), nrm.to_numpy(), ok, V

        # round the loose bound DOWN one fp32 ulp so the downcast can
        # never exclude a pair whose exact sim sits exactly at loose
        loose32 = np.nextafter(np.float32(loose), np.float32(-np.inf))
        abs32 = np.float32(K.ABS32)

        def side32(V, nrm):
            """fp32 operands of one side: rows whose stored norm fails
            the gate (0, NaN, ±Inf, denormal-range) keep all their
            pairs; the others get their bound factor."""
            good = K.norm_ok(nrm)
            f = K.eps_factor(V, np.where(good, nrm, 1.0), K.GAMMA32)
            return (
                ~good,
                np.where(good, f, 0.0).astype(np.float32),
                nrm.astype(np.float32),
            )

        def pairs(A, B, upper):
            """Emitted ``(row_a, row_b, sim)`` positions for A × B."""
            ids_a, nrm_a, ok_a, Va = A
            ids_b, nrm_b, ok_b, Vb = B
            out_r, out_c, out_s = [], [], []
            na, nb = len(ids_a), len(ids_b)
            # a loose bound below −3e38 is not fp32-representable (a
            # pair whose fp32 sim saturates to −inf could still
            # exceed it)
            use32 = loose > -3.0e38 and K.fits32(Va) and K.fits32(Vb)
            if use32:
                bad_a, fa32, nrm_a32 = side32(Va, nrm_a)
                bad_b, fb32, nrm_b32 = side32(Vb, nrm_b)
                Va32 = Va.astype(np.float32)
                Bt32 = np.ascontiguousarray(Vb.T, dtype=np.float32)
            tile = max(8, (1 << 20) // (4 * max(nb, 1)))
            for lo in range(0, na, tile):
                hi = min(lo + tile, na)
                if use32:
                    S = Va32[lo:hi] @ Bt32
                    with np.errstate(
                        invalid="ignore", divide="ignore", over="ignore",
                        under="ignore",
                    ):
                        np.divide(
                            S, nrm_a32[lo:hi, None] * nrm_b32[None, :], out=S
                        )
                        E = fa32[lo:hi, None] * fb32[None, :]
                        np.add(E, abs32, out=E)
                        np.add(E, S, out=E)  # E := S + eps
                        cand = ~np.less(E, loose32)
                    cand |= bad_a[lo:hi, None] | bad_b[None, :]
                else:
                    cand = np.ones((hi - lo, nb), dtype=bool)
                cand &= ok_a[lo:hi, None] & ok_b[None, :]
                if upper:
                    cand &= ids_a[lo:hi, None] < ids_b[None, :]
                r_idx, c_idx = np.nonzero(cand)
                r_idx += lo
                with np.errstate(invalid="ignore", divide="ignore"):
                    sim = K.fold(Va, Vb, r_idx, c_idx) / (
                        nrm_a[r_idx] * nrm_b[c_idx]
                    )
                for j in np.flatnonzero(np.isnan(sim) | (sim >= loose)):
                    s = round6(float(sim[j]))
                    # NaN passes (s != s): Spark NaN-largest >=
                    if s != s or s >= thr:
                        out_r.append(r_idx[j])
                        out_c.append(c_idx[j])
                        out_s.append(s)
            return (
                np.array(out_r, dtype=np.int64),
                np.array(out_c, dtype=np.int64),
                out_s,
            )

        def emit(cid, id_a, id_b, sims):
            """Declared-schema table; a NaN sim surfaces as NULL."""
            cols = [
                cid.take(np.zeros(len(sims), dtype=np.int64)),
                id_a,
                id_b,
                pa.array(sims, type=pa.float64(), from_pandas=True),
            ]
            return pa.Table.from_arrays(
                [c.cast(f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

        return pa, pc, prep, pairs, emit

    def _skew_warn(cid, n):
        if n > skew_bound:
            import warnings

            warnings.warn(
                f"semdedup: cluster {cid!r} holds {n} vectors (> "
                f"{skew_bound}); within-cluster pair scoring is "
                "quadratic per task and this group cannot be split "
                "by AQE — grow nlist (nlist ∝ corpus keeps clusters "
                "constant-sized) and re-seed the quantizer",
                RuntimeWarning,
                stacklevel=2,
            )

    if not cogroup:

        def kern(table):
            if table.num_rows == 0:
                return arrow_schema.empty_table()
            _, _, prep, pairs, emit = _impl()
            cid = table.column("centroid_id")
            _skew_warn(cid[0].as_py(), table.num_rows)
            P = prep(table)
            r, c, s = pairs(P, P, upper=True)
            ids = table.column("__id")
            return emit(cid, ids.take(r), ids.take(c), s)

        return kern

    id_type = arrow_schema.field("id_a").type

    def cokern(store, batch):
        if batch.num_rows == 0:
            return arrow_schema.empty_table()
        pa, pc, prep, pairs, emit = _impl()
        cid = batch.column("centroid_id")
        _skew_warn(cid[0].as_py(), store.num_rows + batch.num_rows)
        S, B = prep(store), prep(batch)
        s_ids = store.column("__id").cast(id_type)
        b_ids = batch.column("__id").cast(id_type)
        # store×batch (every pair; ids disjoint by contract —
        # least/greatest normalization exactly as the join form)
        r, c, s = pairs(S, B, upper=False)
        a, b = s_ids.take(r), b_ids.take(c)
        sb = emit(cid, pc.min_element_wise(a, b), pc.max_element_wise(a, b), s)
        # batch×batch upper triangle
        r, c, s = pairs(B, B, upper=True)
        bb = emit(cid, b_ids.take(r), b_ids.take(c), s)
        return pa.concat_tables([sb, bb])

    return cokern


def _kernel_input(df: DataFrame, id_col: str) -> DataFrame:
    """Projection feeding the pair kernel: only what scoring needs.
    The NULL-norm mask is read from the Arrow buffers, where NULL
    stays distinct from NaN."""
    return df.select(
        F.col("centroid_id"),
        F.col(id_col).alias("__id"),
        F.col("v"),
        F.col("nrm"),
    )


def _pair_out_schema(assigned: DataFrame, id_col: str):
    from pyspark.sql.types import DoubleType, StructField, StructType

    return StructType(
        [
            StructField(
                "centroid_id", assigned.schema["centroid_id"].dataType
            ),
            StructField("id_a", assigned.schema[id_col].dataType),
            StructField("id_b", assigned.schema[id_col].dataType),
            StructField("cosine_sim", DoubleType()),
        ]
    )


def _pairs_from_assigned(
    assigned: DataFrame, id_col: str, threshold: float,
    dim: int | None = None,
) -> DataFrame:
    """Within-cluster pair search over an already-clustered table —
    shared by :func:`semdedup_pairs` and :func:`semdedup_keep` so the
    keep path never re-runs the clustering. ``dim`` known → the
    Arrow-batched :func:`_pair_score_kernel` (bit-identical fold and
    rounding — see its parity contract); ``dim`` None (empty/
    NULL-headed input) → the interpreted-HOF join fallback, which is
    length-agnostic and preserves plan-only behavior on degenerate
    tables."""
    if dim is not None:
        schema = _pair_out_schema(assigned, id_col)
        return _kernel_input(assigned, id_col).groupBy(
            "centroid_id"
        ).applyInArrow(
            _pair_score_kernel(dim, threshold, schema, cogroup=False),
            schema=schema,
        )
    a = assigned.select(
        "centroid_id", F.col(id_col).alias("id_a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = assigned.select(
        "centroid_id", F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    sim = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("centroid_id", "id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def semdedup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    threshold: float = 0.4,
) -> DataFrame:
    """Within-cluster cosine-similar pairs:
    ``(centroid_id, id_a, id_b, cosine_sim)`` with id_a < id_b and
    cosine_sim ≥ threshold (rounded to 6 — oracle-stable)."""
    from .similarity import _probe_dim

    dim = _probe_dim(corpus, vec_col)
    assigned = assign_clusters(corpus, id_col, vec_col, nlist, dim=dim)
    return _pairs_from_assigned(assigned, id_col, threshold, dim=dim)


def semdedup_keep(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    threshold: float = 0.4,
) -> DataFrame:
    """Per-vector verdict: ``(id, centroid_id, is_duplicate)`` —
    a vector is duplicate iff it is the LARGER id of some
    within-cluster pair at ≥ threshold (so each similar pair keeps
    its lowest id; a chain a~b~c keeps only a, matching the
    keep-one-representative SemDeDup policy for transitive groups
    whose members all pairwise collide in one cluster).

    The clustering runs ONCE: the persisted assignment feeds both
    the pair kernel and the verdict projection — at corpus scale the
    clustering pass is the dominant cost, so re-deriving it per
    consumer would double the corpus scans."""
    from .dedup import _reuse
    from .similarity import _probe_dim

    dim = _probe_dim(corpus, vec_col)
    assigned = _reuse(
        assign_clusters(corpus, id_col, vec_col, nlist, dim=dim)
    )
    dups = (
        _pairs_from_assigned(assigned, id_col, threshold, dim=dim)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return assigned.join(dups, id_col, "left").select(
        id_col,
        "centroid_id",
        F.coalesce("__dup", F.lit(False)).alias("is_duplicate"),
    )


def incremental_semantic_pairs(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup in its steady-state form: within-cluster cosine pairs
    INVOLVING a new ingest batch, searched against the PERSISTED IVF
    index (operators/ann_index.py) — batch×store and batch×batch,
    never store×store. Completes the incremental family alongside the
    MinHash / fingerprint / SimHash / shingle stores
    (operators/dedup_store.py): the embedding corpus is signatured
    (assigned + normed) once into the index; an ingest batch is
    assigned with the FROZEN quantizer and compared only within its
    clusters. Run BEFORE ``add_to_ivf_index`` for the batch (ids
    must be disjoint between batch and store); append after.

    Returns ``(centroid_id, id_a, id_b, cosine_sim)`` with
    id_a < id_b and cosine_sim ≥ threshold (rounded to 6) — the
    :func:`semdedup_pairs` contract under the index's frozen
    quantizer, restricted to batch-involving pairs.

    Scale shape: the store side reads PERSISTED assignments and norms
    (no re-scoring, no re-clustering of the corpus — the point of the
    store); the batch's assigned rows are the small side of the one
    ``centroid_id`` join, so AQE broadcasts them against the lists
    scan; candidate volume is Σ_c |store_c|·|batch_c| — linear in the
    store for a fixed batch. The failure mode is the same as batch
    SemDeDup: a skewed giant cluster (grow nlist; rebuild)."""
    from .ann_index import LAYOUT, read_ivf_centroids, read_ivf_lists
    from .dedup import _reuse
    from .ivf_store import stored_dim

    spark = new_vecs.sparkSession
    cents = read_ivf_centroids(spark, path)
    sdim = stored_dim(LAYOUT, path)
    batch = _reuse(
        _nearest_centroid(
            new_vecs.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
            ),
            cents,
            id_col,
            "v",
            dim=sdim,
        ).withColumn("nrm", _norm(F.col("v")))
    )
    store = read_ivf_lists(spark, path).select(
        F.col("centroid_id"),
        F.col("neighbor_id").alias("__id"),
        F.col("c_v").alias("v"),
        F.col("c_nrm").alias("nrm"),
    )
    if sdim is not None:
        # Arrow cogroup kernel: per cluster, store×batch (normalized
        # least/greatest) + batch×batch upper triangle — same two
        # legs as the join form, scored vectorized (see
        # _pair_score_kernel's parity contract)
        schema = _pair_out_schema(batch, id_col)
        return (
            store.groupBy("centroid_id")
            .cogroup(_kernel_input(batch, id_col).groupBy("centroid_id"))
            .applyInArrow(
                _pair_score_kernel(sdim, threshold, schema, cogroup=True),
                schema=schema,
            )
        )
    # dimension-less store (pre-sidecar format): interpreted-HOF join
    b_side = batch.select(
        "centroid_id", F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    # store×batch rows appear exactly once (ids disjoint by contract);
    # batch×batch comes from the self-join with the a<b filter — the
    # two-leg union needs no distinct over candidate rows
    sb_leg = store.select(
        "centroid_id", F.col("__id").alias("id_a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    ).join(b_side, "centroid_id")
    bb_leg = (
        batch.select(
            "centroid_id", F.col(id_col).alias("id_a"),
            F.col("v").alias("va"), F.col("nrm").alias("na"),
        )
        .join(b_side, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    sim = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        sb_leg.unionByName(bb_leg)
        .select(
            "centroid_id",
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
