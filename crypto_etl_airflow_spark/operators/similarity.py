"""Similarity search over an embedding column (``array<float>``).

Brute-force cosine top-k as the exact baseline, and a random-
hyperplane-LSH-bucketed variant as the scale path (BASELINE.json
``north_star``; SURVEY.md §7.5; candidate-pruning pattern cf.
/root/repo/PAPERS.md REPOSE ICDE 2021).

The dot product is a pure array expression — ``zip_with`` then
``aggregate`` — evaluated in the JVM with sequential summation
(bit-identical to a sequential C loop over the same doubles, which is
what makes the DuckDB oracle hash-match exactly).

Scale posture: brute force is O(n·m) pairs (n probes × m corpus) —
fine when one side is small (it broadcasts); the LSH variant buckets
both sides so each probe only scores its bucket's candidates,
shuffling on the bucket key instead of building the cross-product.

LSH parameterization is THE scale dial, not a tuning nicety: a random
(dissimilar) pair collides in one table with p = 2^-num_planes, so the
expected candidate fraction of all n² pairs is
``1 - (1 - 2^-planes)^tables`` — planes=4/tables=8 keeps ~40% of all
pairs (a constant-factor reduction only, fine as a high-recall
demonstrator on small corpora), while planes=12/tables=16 keeps ~0.4%
and planes=16/tables=16 ~0.024%. At 100 TB corpus sizes only the high-plane
configurations keep candidate volume tracking true near-dup volume;
``num_tables`` then buys recall back (overall collision for a
similar pair at angle θ is 1-(1-(1-θ/π)^planes)^tables).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vector import cosine, dot as _dot, norm as _norm  # noqa: F401 — cosine re-exported for callers
from ..sources.local import local_frame
from .parallel import widen_small_input as _widen


#: Probe-cardinality bound for :func:`cosine_topk_bruteforce`'s
#: contract broadcast: 500k probes × a few-hundred-dim double vector
#: ≈ a few hundred MB — the top of the comfortable broadcast range.
#: Checked with ``limit(bound+1).count()``, so the guard costs O(bound)
#: regardless of how large the probe set actually is.
BROADCAST_PROBE_LIMIT = 500_000


def capped_probe_count(
    probes: DataFrame, max_broadcast_probes: int | None
) -> int | None:
    """The O(bound) cardinality check behind ``bounded_broadcast``,
    exposed so a query with SEVERAL probe-side hints pays for ONE
    count job and shares the result: returns
    ``min(|probes|, bound+1)`` via ``limit(bound+1).count()`` —
    exact for every threshold ≤ bound — or ``None`` when the guard
    is disabled (``max_broadcast_probes is None``)."""
    if max_broadcast_probes is None:
        return None
    bound = max(1, max_broadcast_probes)
    return probes.limit(bound + 1).count()


def bounded_broadcast(
    side: DataFrame,
    n_probes: int | None,
    rows_per_probe: int = 1,
    max_broadcast_probes: int | None = BROADCAST_PROBE_LIMIT,
) -> DataFrame:
    """Broadcast-hint ``side`` only while the contract bound holds —
    the guard every probe-side contract broadcast shares (bruteforce
    grew it in r9; the IVF flat/SQ8/PQ query paths adopt it in r12).

    ``side`` carries ~|probes| × ``rows_per_probe`` rows (e.g. the
    probe→list fan-out is ``nprobe`` rows per probe), so ``n_probes``
    (from :func:`capped_probe_count`, computed ONCE per query) is
    checked against ``max_broadcast_probes // rows_per_probe``:
    inside the bound the hint pins the broadcast AQE wants to flip
    (the r10 decade lesson); past it the side is returned UNHINTED
    so AQE degrades to a shuffled, memory-safe join instead of a
    driver OOM. ``max_broadcast_probes is None`` (and hence
    ``n_probes is None``) disables the guard — the caller vouches
    the probe batch fits."""
    if max_broadcast_probes is None or n_probes is None:
        return F.broadcast(side)
    bound = max_broadcast_probes // max(1, rows_per_probe)
    if n_probes > bound:
        return side
    return F.broadcast(side)


def cosine_topk_bruteforce(
    probes: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_broadcast_probes: int | None = BROADCAST_PROBE_LIMIT,
) -> DataFrame:
    """Exact top-k cosine neighbors for every probe vector.

    Output: (probe_id, neighbor_id, cosine_sim, rank), self-matches
    excluded. The PROBE side broadcasts (the operator's regime is few
    probes × huge corpus — the exact anchor / rerank path) and the
    corpus streams, scanned ONCE in parallel by its own partitions;
    ranking is deterministic: (rounded sim DESC, neighbor_id ASC).

    The pre-r9 shape streamed the probes and left the corpus to AQE's
    broadcast decision; once the corpus outgrew the broadcast
    threshold the plan silently degraded to a CartesianProduct that
    re-read every corpus partition once per probe partition — caught
    by the 1000× scale decade (×33.8 for 10× data) and pinned by
    tests/test_plan_quality.py.

    ``max_broadcast_probes`` bounds the contract broadcast (ADVICE
    r9): a probe set larger than the bound falls back to an unhinted
    cross join — AQE then picks a shuffled plan, slow for this
    operator's regime but memory-safe, instead of a broadcast-size
    failure or driver OOM. ``None`` disables the guard (caller vouches
    the probes fit). Probe sets that large should use the LSH/IVF
    paths or :func:`neardup_pairs_cosine` instead.
    """
    # norms are per-ROW quantities: compute them once before the
    # pair join instead of once per pair (n+m norms, not 2·n·m) —
    # same expression, same doubles, so oracle exactness is unchanged.
    # The corpus is the streamed side: widen it so pair scoring
    # parallelizes even when the corpus arrives as one small file
    corpus = _widen(corpus)
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("p_vec"),
        _norm(F.col(vec_col)).alias("p_norm"),
    )
    if (
        max_broadcast_probes is not None
        and probes.limit(max_broadcast_probes + 1).count()
        > max_broadcast_probes
    ):
        p_side = p  # too many probes to broadcast: let AQE plan it
    else:
        p_side = F.broadcast(p)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(p_side)
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _dot(F.col("p_vec"), F.col("c_vec"))
                / (F.col("p_norm") * F.col("c_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def neardup_pairs_cosine(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup dedup).
    Brute-force pairs with id_a < id_b; the LSH variant below is the
    scale path."""
    vectors = _widen(vectors)
    a = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("na"),
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "__cos_raw"
            ),
        )
        # threshold on the UNROUNDED cosine — the registered oracles
        # filter on the raw expression, so rounding first would keep a
        # pair with true cosine in [threshold-5e-7, threshold) that
        # the oracle excludes. Round only the OUTPUT column.
        .filter(F.col("__cos_raw") >= threshold)
        .select(
            "id_a", "id_b", F.round(F.col("__cos_raw"), 6).alias("cosine_sim")
        )
    )


def hyperplane_components(table_idx: int, plane_idx: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane as PYTHON floats:
    component j is (md5("rhp-<table>-<plane>-<j>") % 2049 − 1024) /
    1024 ∈ [−1, 1] — a dyadic rational, hence an EXACT double whose
    decimal repr round-trips, so the identical literals can be inlined
    into both the Spark plan and a DuckDB oracle. No RNG state; same
    plane on every executor, run, and engine."""
    comps = []
    for j in range(dim):
        digest = hashlib.md5(f"rhp-{table_idx}-{plane_idx}-{j}".encode()).digest()
        comps.append((int.from_bytes(digest[:6], "big") % 2049 - 1024) / 1024.0)
    return comps


def rhp_bucket_rows(
    v: DataFrame,
    vec_col: str = "vec",
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """All tables' LSH buckets per vector — every input column plus
    (t, bucket), one output row per (input row, table), from ONE scan.

    The hyperplanes travel as a broadcast DATA table (one row per
    hash table, holding its planes as ``array<array<double>>``; a
    driver-local relation, so no action over it starts Python
    workers) — inlining tables×planes×dim literals into the
    expression tree (a since-removed per-table variant did this)
    makes analysis/codegen the dominant cost long before the data is
    large. The
    DuckDB oracles re-derive the same planes in SQL. Values are identical:
    the same exact dyadic-rational components, the same sequential
    dot-product fold, ``bucket = Σ (1<<i)·[v·plane_i ≥ 0]``. No
    shuffle: broadcast nested-loop join + per-row array fold.
    """
    spark = v.sparkSession
    rows = [
        (t, [hyperplane_components(t, i, dim) for i in range(num_planes)])
        for t in range(num_tables)
    ]
    planes = local_frame(spark, rows, "t INT, pws ARRAY<ARRAY<DOUBLE>>")
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(num_planes)])
    sign_bits = F.zip_with(
        F.col("pws"),
        weights,
        lambda pw, w: F.when(_dot(F.col(vec_col), pw) >= 0, w)
        .otherwise(F.lit(0).cast("long")),
    )
    return v.crossJoin(F.broadcast(planes)).select(
        *[F.col(c) for c in v.columns],
        F.col("t"),
        F.aggregate(sign_bits, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "bucket"
        ),
    )


def neardup_pairs_cosine_lsh(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Bucketed embedding near-dup pairs — the scale path for
    :func:`neardup_pairs_cosine`: only pairs sharing an LSH bucket in
    at least one table are scored. Same output schema (id_a, id_b,
    cosine_sim ≥ threshold), up to LSH recall.

    Candidate volume is governed by ``num_planes`` (see module
    docstring): a random pair is a candidate with probability
    ~``1-(1-2^-planes)^tables``. The planes=4/tables=8 default keeps
    ~40% of all n² pairs — a recall-heavy demonstrator configuration,
    NOT the 100 TB operating point. For scale use planes 12-16 with
    tables sized for the recall target (the registered
    ``embedding_neardup_pairs_lsh_scaled`` query certifies
    planes=12/tables=16, ~0.4% expected candidate fraction)."""
    vectors = _widen(vectors)
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    # every table's bucket from ONE scan (broadcast planes table, see
    # rhp_bucket_rows), then ONE self-join on the composite (t,
    # bucket) key replaces num_tables separate bucket joins; the two
    # join inputs are plan-identical, so the shuffle exchange is
    # reused, not recomputed.
    #
    # Vectors ride THROUGH the bucket join and pairs are deduped
    # AFTER the threshold filter: a same-bucket-in-k-tables pair is
    # scored k times (the dot is cheap, JVM-side), but the distinct
    # then runs on the few surviving near-dups instead of the full
    # candidate multiset, and no join-back to fetch vectors is needed
    # — two fewer shuffles of the candidate set. (The shuffle carries
    # each vector num_tables×; for very wide vectors at extreme scale,
    # trade back to candidate-distinct + join-back.) Scores of
    # duplicate candidates are bit-identical, so the post-filter
    # distinct collapses them exactly.
    b = rhp_bucket_rows(
        v, vec_col="vec",
        num_planes=num_planes, num_tables=num_tables, dim=dim,
    )
    lhs = b.select(
        "t", "bucket",
        F.col("vid").alias("id_a"), F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    rhs = b.select(
        "t", "bucket",
        F.col("vid").alias("id_b"), F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        lhs.join(rhs, ["t", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "__cos_raw"
            ),
        )
        # unrounded threshold, rounded output — identical predicate to
        # the oracle (see neardup_pairs_cosine)
        .filter(F.col("__cos_raw") >= threshold)
        .select(
            "id_a", "id_b", F.round(F.col("__cos_raw"), 6).alias("cosine_sim")
        )
        .distinct()
    )


def cosine_topk_lsh(
    probes: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only candidates that share an LSH
    bucket with the probe in AT LEAST ONE of ``num_tables``
    independent hash tables (multi-table LSH — the standard
    recall/cost dial: per-table collision probability for angle θ is
    (1-θ/π)^planes, overall 1-(1-p)^tables).

    The join shuffles on the (table, bucket) key — ~m/2^planes
    candidates per probe per table, so ``num_planes`` sets candidate
    volume (see module docstring: planes=4 keeps ~40% of the corpus
    per probe across 8 tables; planes=12/tables=16 ~0.4%); candidates
    are deduped before scoring so each pair's cosine is computed once.
    Same output schema as the brute-force variant."""
    # widen both sides: the per-row bucket hash (tables × planes
    # 64-dim dots) is the expensive expression stage here
    probes, corpus = _widen(probes), _widen(corpus)
    p_ids = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("p_vec"),
        _norm(F.col(vec_col)).alias("p_norm"),
    )
    c_ids = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )

    # one scan per side computes every table's bucket (broadcast
    # planes table — see rhp_bucket_rows), one join on (t, bucket)
    pb = rhp_bucket_rows(
        p_ids.select("probe_id", F.col("p_vec").alias("vec")),
        num_planes=num_planes, num_tables=num_tables, dim=dim,
    ).select("probe_id", "t", "bucket")
    cb = rhp_bucket_rows(
        c_ids.select("neighbor_id", F.col("c_vec").alias("vec")),
        num_planes=num_planes, num_tables=num_tables, dim=dim,
    ).select("neighbor_id", "t", "bucket")
    cand = pb.join(cb, ["t", "bucket"]).select("probe_id", "neighbor_id")

    scored = (
        cand.distinct()
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .join(p_ids, "probe_id")
        .join(c_ids, "neighbor_id")
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _dot(F.col("p_vec"), F.col("c_vec"))
                / (F.col("p_norm") * F.col("c_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _probe_dim(df: DataFrame, vec_col: str) -> int | None:
    """Guarded embedding-dimension probe: ONE ``head(1)`` job, and
    ``None`` (→ callers fall back to the interpreted, length-agnostic
    :func:`_dot`) unless the sampled vector has a positive length.
    The guard matters (ADVICE r14): ``F.size(NULL)`` is −1 under the
    legacy ``sizeOfNull``, and an unguarded ``int(-1)`` would unroll a
    ZERO-term dot product, silently scoring every vector 0.0 against
    every centroid."""
    head = df.select(F.size(F.col(vec_col)).alias("d")).head(1)
    d = head[0]["d"] if head else None
    return int(d) if d is not None and d > 0 else None


def _nearest_centroid_expr(
    vecs: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Pure-Column fallback assignment for an UNKNOWN embedding
    dimension (empty/NULL-headed input — :func:`_probe_dim` returned
    None): the two hash-aggregable argmax passes over the interpreted
    ``zip_with`` dot. Semantics are the contract the fast path
    reproduces — NaN/NULL sims fold to −Inf (total: every vector gets
    a verdict row; all-−Inf resolves to the lowest centroid id).

    Pass 2 expresses the max-equality as a PROJECTED conditional,
    never a filter: a Filter over a cross join is pushed into the
    BroadcastNestedLoopJoin as its join CONDITION, and BNLJ evaluates
    join conditions interpreted per (row × centroid) — the r15 ×100
    finding that motivated the Arrow fast path below."""

    def _sim() -> F.Column:
        d = _dot(F.col(vec_col), F.col("c_vec"))
        neg_inf = F.lit(float("-inf"))
        return F.coalesce(F.nanvl(d / F.col("c_norm"), neg_inf), neg_inf)

    narrow = vecs.select(F.col(id_col), F.col(vec_col))
    best_sim = (
        narrow.crossJoin(F.broadcast(cents))
        .select(F.col(id_col), _sim().alias("__sim"))
        .groupBy(id_col)
        .agg(F.max("__sim").alias("__best_sim"))
    )
    best = (
        narrow.join(best_sim, id_col)
        .crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col),
            F.when(
                _sim() == F.col("__best_sim"), F.col("centroid_id")
            ).alias("__cand"),
        )
        .groupBy(id_col)
        .agg(F.min("__cand").alias("centroid_id"))
    )
    return vecs.join(best, id_col).select(
        F.col(id_col),
        *[F.col(c) for c in vecs.columns if c != id_col],
        "centroid_id",
    )


def _nearest_centroid(
    vecs: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
) -> DataFrame:
    """Best-cosine centroid id for every row of ``vecs``. Ties
    resolve deterministically to the lowest centroid id; the operator
    is TOTAL (a vector whose every score is NULL/NaN folds to −Inf
    and resolves to the lowest centroid id — ADVICE r14).

    Execution: an Arrow-native ``mapInArrow`` kernel (r17 — the
    mapInPandas form paid a per-row Python packing loop and a
    per-batch pandas copy; the list<double> column now reshapes into
    the (row, dim) matrix as one vectorized gather straight off the
    Arrow buffers, and input buffers pass through unchanged on
    emit). The centroid
    table (nlist ≤ ~16k rows by the nlist ∝ corpus contract, ~8 MB at
    the decade point) is collected once — the moral equivalent of the
    broadcast build it replaces. The semantic reference per
    (row, centroid) is the engine's canonical left-to-right IEEE
    fold::

        acc[r, c] = 0.0
        for i in 1..dim:  acc[r, c] += v[r, i] * c_vec[c, i]
        sim[r, c] = nanvl(acc[r, c] / c_norm[c], -inf)

    computed vectorized over rows, SEQUENTIAL over dimensions — numpy
    elementwise double ops are plain IEEE doubles, so every sim is
    bit-identical to the Column form and to the DuckDB oracle's fold,
    and the argmax/tie decisions cannot diverge.

    On clean data (finite components, finite positive norms) a GEMM
    — fp32 when the data pass the representability gate, fp64
    otherwise — runs FIRST (r16/r17): it sums in a different order, so
    it is never trusted for values; it SELECTS argmax candidates under
    the error bound of :mod:`.vector_kernel` (which also owns the
    gather, the gate and the exact fold), and the exact fold above
    re-scores only those candidates to make the decision; the chosen
    centroid is bit-identical to the all-sequential form (pinned by
    the tie/NaN/dim-1536 stress tests). This is the ×1000 decade
    lever: assignment is O(n·nlist·dim) with nlist ∝ corpus — the
    engine's one super-linear term.

    WHY a Python kernel, when the repo's discipline is JVM-first
    (this is the one measured exception): the r14 answer — unroll the
    dot into a 64-term codegen chain — was re-measured honestly in
    r15 after the ×100 funnel stalled, and the unrolled chain runs at
    ~1-10 µs/dot because the generated method exceeds HotSpot's
    DontCompileHugeMethods bytecode limit and executes as INTERPRETED
    BYTECODE (jstack: the hashAgg consume never JITs; r14's 10-20×
    claim was an artifact of count() pruning the aggregate values —
    the dots never ran). JVM remedies were measured and rejected:
    ``spark.sql.codegen.hugeMethodLimit=8000`` (split fallback) 327 s
    → 40 s per 32M dots, ``-XX:-DontCompileHugeMethods`` → 23 s —
    both still ~1 µs/dot and both session-owner confs the engine
    cannot rely on under a vanilla driver session. The Arrow kernel
    runs the same 32M dots in well under a second of vectorized
    numpy, scales linearly in |vecs| × nlist, and ships the batch's
    vectors once (Arrow columnar, no per-row Python).

    ``dim``: the embedding dimension when the CALLER knows it (index
    sidecar, build-time params); left None, one guarded
    :func:`_probe_dim` job samples it. When even the probe cannot
    name a dimension (empty input), the pure-Column
    :func:`_nearest_centroid_expr` fallback preserves the plan-only
    behavior on empty/degenerate tables.

    Semantics parity notes (pinned by tests): a NULL vector, a
    NULL-element vector (Arrow surfaces NULL doubles as NaN; the
    engine fold turns a NULL term into a NULL → −Inf sim — same
    verdict), and a SHORTER-than-dim vector (excluded outright —
    ANSI ``element_at`` would THROW past the array end in a Column
    form; one malformed vector must not kill a corpus-scale job)
    all resolve to the lowest centroid id; a
    LONGER vector scores on its first ``dim`` components exactly as
    the unrolled chain did; NaN scores lose to any real score
    (nanvl) and ±Inf scores propagate IEEE-identically."""
    if dim is None:
        dim = _probe_dim(vecs, vec_col)
    if dim is None:
        return _nearest_centroid_expr(vecs, cents, id_col, vec_col)

    from pyspark.sql.types import StructField, StructType

    crows = cents.select("centroid_id", "c_vec", "c_norm").collect()
    crows.sort(key=lambda r: r["centroid_id"])
    out_schema = StructType(
        list(vecs.schema.fields)
        + [StructField("centroid_id", cents.schema["centroid_id"].dataType)]
    )
    if not crows:
        # empty quantizer (empty-corpus build): assignment is empty,
        # exactly as the old inner join against an empty best table
        return local_frame(vecs.sparkSession, [], out_schema)
    import numpy as _np

    # driver-side numpy packing, NOT Python lists: for as long as the
    # plan lives, its closure pins ~8 MB of packed doubles at the
    # decade point rather than ~30+ MB of boxed floats, and the kernel
    # skips a per-task list→array conversion. A NULL/short centroid
    # vector is a zeroed row flagged dead (scores −inf).
    _nc = len(crows)
    C_arr = _np.zeros((_nc, dim), dtype=_np.float64)
    c_dead_arr = _np.zeros(_nc, dtype=bool)
    norms_arr = _np.empty(_nc, dtype=_np.float64)
    for _j, _r in enumerate(crows):
        _cv = _r["c_vec"]
        if _cv is None or len(_cv) < dim:
            c_dead_arr[_j] = True
        else:
            C_arr[_j] = [
                float(x) if x is not None else float("nan")
                for x in _cv[:dim]
            ]
        _cn = _r["c_norm"]
        norms_arr[_j] = float(_cn) if _cn is not None else float("nan")
    ids_arr = _np.array([_r["centroid_id"] for _r in crows])
    del crows
    # exact Arrow type of the id column, captured by value: the
    # emitted batch must match the DECLARED schema (a long array
    # against an int32 field fails executor-side with getInt errors)
    from pyspark.sql.pandas.types import to_arrow_type

    from .vector_kernel import vector_kernel

    _id_arrow_type = to_arrow_type(cents.schema["centroid_id"].dataType)
    vec_name = vec_col
    build = vector_kernel(dim)

    # NOTE: ships to Python workers via cloudpickle — self-contained
    # closure over numpy arrays (pickled by value), no module refs
    def assign(batches):
        import numpy as np
        import pyarrow as pa

        K = build()
        neg_inf = float("-inf")
        C = C_arr
        c_dead = c_dead_arr
        norms = norms_arr
        nlist = len(ids_arr)
        # row tile for the all-centroid case: ~1M (row, centroid)
        # candidate pairs per tile
        tile = max(1, (1 << 20) // nlist)

        def first_argmax(r_idx, c_idx, sim, choice):
            """Segmented FIRST argmax over candidate scores grouped by
            row with ascending centroid indexes — ties resolve to the
            lowest centroid id, exactly as np.argmax over a full row."""
            seg = np.flatnonzero(np.r_[True, r_idx[1:] != r_idx[:-1]])
            seg_max = np.maximum.reduceat(sim, seg)
            lens = np.diff(np.r_[seg, len(r_idx)])
            pos = np.where(
                sim == np.repeat(seg_max, lens),
                np.arange(len(r_idx)),
                len(r_idx),
            )
            first = np.minimum.reduceat(pos, seg)
            choice[r_idx[seg]] = c_idx[first]

        def all_cols(V, rows, choice):
            """The semantics the fast path reproduces: every centroid
            is a candidate, NaN sims and dead centroids score −inf
            (engine: NULL term → NULL sim → −inf); handles every value
            class."""
            for lo in range(0, len(rows), tile):
                sub = rows[lo : lo + tile]
                r_idx = np.repeat(sub, nlist)
                c_idx = np.tile(np.arange(nlist), len(sub))
                with np.errstate(invalid="ignore", divide="ignore"):
                    sim = K.fold(V, C, r_idx, c_idx) / norms[c_idx]
                sim[np.isnan(sim) | c_dead[c_idx]] = neg_inf
                first_argmax(r_idx, c_idx, sim, choice)

        # GEMM candidate selection (r16 fp64, r17 fp32): assignment is
        # O(n·nlist·dim) with nlist ∝ corpus — the engine's one
        # super-linear term. The GEMM only SELECTS, per row, the
        # centroids within 2·eps of the row's best lower bound; the
        # exact fold re-scores those to make the DECISION. Requires
        # clean centroids (finite components, finite positive norms —
        # then no NaN/Inf sim can arise from clean rows); everything
        # else routes to all_cols.
        col_regular = (
            ~c_dead
            & np.isfinite(C).all(axis=1)
            & np.isfinite(norms)
            & (norms > 0)
        )
        fast_ok = bool((col_regular | c_dead).all()) and bool(
            col_regular.any()
        )
        if fast_ok:
            reg_idx = np.flatnonzero(col_regular)
            Creg = np.ascontiguousarray(C[col_regular])
            CregT = np.ascontiguousarray(Creg.T)
            nrm_reg = norms[col_regular]
            # per-col bound factor (Cauchy–Schwarz): an OUTER PRODUCT
            # with the row norms — not a second |V|@|C|ᵀ GEMM
            # (measured: the abs-GEMM doubled the fast path's cost)
            cf64 = K.eps_factor(Creg, nrm_reg, K.GAMMA)
            cabs64 = np.maximum(K.ABS64 / nrm_reg, 1e-300)
            # fp32 GEMM when the centroids pass the gate: the pass is
            # memory-bandwidth-bound, so halving the bytes is the lever
            # (r17: 21.2 → 12.0 s per ×1000-shaped task); rows are
            # gated per tile below
            use32 = K.fits32(Creg) and bool(K.norm_ok(nrm_reg).all())
            if use32:
                Creg32T = np.ascontiguousarray(CregT, dtype=np.float32)
                nrm_reg32 = nrm_reg.astype(np.float32)
                cf32 = K.eps_factor(Creg, nrm_reg, K.GAMMA32).astype(
                    np.float32
                )
            # dead cols are -inf and can never beat a finite regular
            # sim, so the argmax is decided among regular cols only;
            # the fp32 tile budget doubles the rows per tile for the
            # same ~32 MB score block
            rtile = min(
                65536,
                max(16, (32 << 20) // ((4 if use32 else 8) * len(reg_idx))),
            )

        def fast_assign(V, rows, choice):
            for lo in range(0, len(rows), rtile):
                sub = rows[lo : lo + rtile]
                Vb = V[sub]
                if use32 and K.fits32(Vb):
                    # compares stay in fp32: an fp64 eps would upcast
                    # the whole score block back to fp64
                    S = Vb.astype(np.float32) @ Creg32T
                    np.divide(S, nrm_reg32[None, :], out=S)
                    ra = K.eps_factor(Vb, 1.0, K.GAMMA32)
                    eps = ra.astype(np.float32)[:, None] * cf32[None, :]
                    eps += np.float32(K.ABS32)
                else:
                    S = Vb @ CregT
                    np.divide(S, nrm_reg[None, :], out=S)
                    ra = K.eps_factor(Vb, 1.0, K.GAMMA)
                    eps = ra[:, None] * cf64[None, :] + cabs64[None, :]
                # finite inputs do not guarantee finite INTERMEDIATES:
                # ~1e200-magnitude components overflow the GEMM (or
                # the row norm) to inf, S−eps goes NaN and the row's
                # candidate mask comes back EMPTY. Route overflowed rows
                # to the exact fold, whose semantics ARE the contract.
                row_ok = np.isfinite(ra) & np.isfinite(S).all(axis=1)
                if not row_ok.all():
                    all_cols(V, sub[~row_ok], choice)
                    sub, S, eps = sub[row_ok], S[row_ok], eps[row_ok]
                    if not len(sub):
                        continue
                m_star = (S - eps).max(axis=1)
                r_idx, c_idx = np.nonzero(S + eps >= m_star[:, None])
                if len(r_idx) > 32 * len(sub):
                    # degenerate near-tie blowup (e.g. zero vectors:
                    # every col ties at 0) — score these rows over
                    # every centroid instead
                    all_cols(V, sub, choice)
                    continue
                r_idx = sub[r_idx]
                c_idx = reg_idx[c_idx]
                sim = K.fold(V, C, r_idx, c_idx) / norms[c_idx]
                # the exact fold sums in a DIFFERENT order than the
                # GEMM, so a row whose S was finite can still overflow
                # HERE; ±inf/NaN would break decision parity (and NaN
                # the segmented argmax) — those rows belong to all_cols
                bad = ~np.isfinite(sim)
                if bad.any():
                    badrow = np.isin(r_idx, r_idx[bad])
                    all_cols(V, np.unique(r_idx[badrow]), choice)
                    keep = ~badrow
                    r_idx, c_idx, sim = r_idx[keep], c_idx[keep], sim[keep]
                    if not len(r_idx):
                        continue
                first_argmax(r_idx, c_idx, sim, choice)

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            V, valid = K.gather(
                batch.column(batch.schema.get_field_index(vec_name))
            )
            # invalid rows default to position 0 = the lowest centroid
            # id (their sims are all -inf), as in the sequential form
            choice = np.zeros(n, dtype=np.int64)
            if fast_ok:
                clean = valid & np.isfinite(V).all(axis=1)
                fast = np.flatnonzero(clean)
                hard = np.flatnonzero(valid & ~clean)
                if len(fast):
                    fast_assign(V, fast, choice)
            else:
                hard = np.flatnonzero(valid)
            if len(hard):
                all_cols(V, hard, choice)
            # passthrough emit: input buffers move unchanged (no
            # pandas frame copy), one appended id column
            yield pa.RecordBatch.from_arrays(
                [batch.column(j) for j in range(batch.num_columns)]
                + [pa.array(ids_arr[choice], type=_id_arrow_type)],
                names=list(batch.schema.names) + ["centroid_id"],
            )

    return vecs.mapInArrow(assign, schema=out_schema)


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """Deterministic IVF coarse quantizer: the ``nlist`` lowest-id
    vectors seed the lists; one k-means-style refinement (assign →
    per-list component mean) produces the final centroids.

    Returns (centroid_id, c_vec, c_norm). Fully deterministic — no
    RNG, stable across runs/engines. ``dim``: see
    :func:`_nearest_centroid` — pass it when known so the seed
    assignment runs with zero extra driver actions."""
    if dim is None:
        dim = _probe_dim(corpus, vec_col)
    seeds = (
        corpus.orderBy(F.asc(id_col))
        .limit(nlist)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("c_vec"),
        )
        .withColumn("c_norm", _norm(F.col("c_vec")))
    )
    assigned = _nearest_centroid(
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")),
        seeds,
        id_col,
        "v",
        dim=dim,
    )
    # refine: element-wise mean per list (partial sums shuffle, not
    # vectors), rounded to 6 decimals so the refined centroids are
    # identical doubles in any engine that re-derives them (summation
    # order varies across engines; the round absorbs the last-ulp
    # difference exactly as the green centroids-by-label query does)
    comp = assigned.select("centroid_id", F.posexplode("v").alias("pos", "x"))
    means = (
        comp.groupBy("centroid_id", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "centroid_id",
            F.transform("pm", lambda s: s.getField("m")).alias("c_vec"),
        )
        .withColumn("c_norm", _norm(F.col("c_vec")))
    )
    # persist the nlist-row result: every consumer BROADCASTS the
    # centroids, and _nearest_centroid broadcasts them twice (both
    # hash-agg passes) — unpersisted, each broadcast re-evaluates this
    # whole subplan (seed assignment + refinement = several corpus
    # scans), which r15 measured as ~half of SemDeDup's wall-clock.
    # The table is nlist × dim doubles (~8 MB at the decade point
    # under nlist ∝ corpus), so the persist always fits memory and
    # lineage survives block loss (the _reuse discipline).
    from .dedup import _reuse

    return _reuse(means)


def cosine_topk_ivf(
    probes: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors live in ``nlist``
    inverted lists (nearest-centroid assignment); each probe scores
    only the vectors of its ``nprobe`` nearest lists — per-probe work
    drops to ~nprobe/nlist of the corpus. The recall/cost dial is
    nprobe (vs num_tables/planes for the LSH variant).

    Same output schema as the brute-force baseline."""
    from .ivf_store import assign, nearest_lists, probe_frame, top_k

    corpus = _widen(corpus)
    dim = _probe_dim(corpus, vec_col)
    cents = ivf_centroids(corpus, id_col, vec_col, nlist, dim=dim)

    c_lists = assign(corpus, cents, id_col, vec_col, dim).withColumn(
        "c_nrm", _norm(F.col("c_v"))
    )

    p = probe_frame(probes, id_col, vec_col)
    p_lists = nearest_lists(
        p, cents, nprobe, ["probe_id", "p_v", "p_nrm", "centroid_id"]
    )

    scored = (
        p_lists.join(c_lists, "centroid_id")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        # a vector can reach a probe through one list only (hard
        # assignment), so no candidate dedup is needed
        .select(
            "probe_id",
            "neighbor_id",
            F.round(
                _dot(F.col("p_v"), F.col("c_v")) / (F.col("p_nrm") * F.col("c_nrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    return top_k(scored, "cosine_sim", k)
