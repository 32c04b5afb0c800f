"""Persisted IVF-PQ ANN index — product quantization on top of the
shared IVF list store (operators/ivf_store.py).

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
  vector. Add, delete, compact and rebalance are ivf_store's.

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
from . import ivf_store
from .similarity import (
    BROADCAST_PROBE_LIMIT,
    _nearest_centroid,
    bounded_broadcast,
    capped_probe_count,
)

# the PQ rung's list rows: m one-byte residual codes and the true norm
LAYOUT = ivf_store.Layout(
    label="ivfpq",
    sidecar="_ivfpq_index_params.json",
    table="codes",
    schema=(
        "neighbor_id long, codes array<tinyint>, v_nrm double, centroid_id long"
    ),
)


def _require_residual(path: str) -> dict:
    """Encoding-regime gate for READ/APPEND paths (ADVICE r12): build
    refuses to mix regimes, but a pre-existing raw-encoded store (an
    earlier build, or a stale bench cache) would otherwise be queried
    with the residual ``cdot`` term silently added — inflated adc_sim
    — or appended with residual codes mixed into raw lists. Returns
    the sidecar params."""
    params = ivf_store.read_params(LAYOUT, path) or {}
    if params.get("encoding") != "residual":
        raise ValueError(
            f"ivfpq index {path} was built with encoding="
            f"{params.get('encoding')!r}; this engine scores and "
            "appends under residual encoding — rebuild the index"
        )
    return params


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
    dim = ivf_store.first_dim(corpus, vec_col)
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


def _code_rows(res: DataFrame, codebook: DataFrame, id_col: str) -> DataFrame:
    """(neighbor_id, codes, v_nrm, centroid_id) list rows from
    :func:`_with_residuals` output: the residual encoded, the RAW
    vector's norm kept."""
    encoded = encode_pq(res, codebook, id_col, "resid", norm_vec_col="__v")
    return res.select(
        F.col(id_col).alias("neighbor_id"), "centroid_id"
    ).join(
        encoded.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
    ).select("neighbor_id", "codes", "v_nrm", "centroid_id")


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
    params = {
        "nlist": nlist,
        "m": m,
        "ksub": ksub,
        "dim": ivf_store.first_dim(corpus, vec_col),
        "encoding": "residual",
    }

    def encode(vecs, cents, id_col, vec_col, dim):
        res = _with_residuals(vecs, cents, id_col, vec_col, dim=dim)
        codebook = train_pq_codebook(res, id_col, "resid", m, ksub)
        codebook.write.mode("error").parquet(f"{path}/codebook")
        return _code_rows(res, codebook, id_col)

    ivf_store.build(LAYOUT, corpus, path, id_col, vec_col, params, encode)


def read_pq_codebook(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/codebook")


def read_ivfpq_codes(spark: SparkSession, path: str) -> DataFrame:
    """The coded lists; an empty-corpus build reads as zero rows."""
    return ivf_store.read_lists(LAYOUT, spark, path)


def add_to_ivfpq_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Encode an ingest batch with the FROZEN coarse quantizer and
    codebook and append to its lists, idempotently per id — the
    ivf_store add (retrain = rebuild): assign, subtract the centroid,
    encode the residual, keep the RAW norm. Returns vectors
    appended."""
    _require_residual(path)
    codebook = read_pq_codebook(new_vecs.sparkSession, path)

    def encode(vecs, cents, id_col, vec_col, dim):
        res = _with_residuals(vecs, cents, id_col, vec_col, dim=dim)
        return _code_rows(res, codebook, id_col)

    return ivf_store.add(LAYOUT, new_vecs, path, id_col, vec_col, encode)


def compact_ivfpq_codes(spark: SparkSession, path: str) -> int:
    """One file per inverted list, layout preserved (ivf_store) — with
    ~16-byte rows the per-file task overhead dominates even sooner
    than on the flat index. Returns the new parquet file count."""
    return ivf_store.compact(LAYOUT, spark, path)


def rebalance_ivfpq_index(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    max_list_size: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """The compressed rung's nlist re-dial: ivf_store's median split
    of every coded list above the cap, ranked over RAW vectors, with
    the moved rows' residuals RE-ENCODED against their new centroid
    under the FROZEN codebook — residual codes are relative to the
    centroid they were encoded with, so unlike the flat/SQ8 rungs the
    stored rows cannot simply move lists; the raw vectors must be
    fetched from ``corpus`` (exactly why FAISS's equivalent is a
    rebuild — this touches only the hot lists). Vectors of hot lists
    missing from ``corpus`` are an error (a silent drop would corrupt
    recall). Returns lists split."""
    from .barrier import counted_barrier

    codebook = read_pq_codebook(spark, path)
    raw = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )

    def fetch(part: DataFrame, cid: int, n_part: int) -> DataFrame:
        joined = part.select("neighbor_id", "v_nrm").join(raw, "neighbor_id")
        joined, n_joined = counted_barrier(joined)
        if n_joined != n_part:
            raise ValueError(
                f"rebalance of pq index {path}: corpus is missing raw "
                f"vectors for list centroid_id={cid}; residual codes "
                "cannot be re-encoded without them"
            )
        return joined

    def write_half(rows: DataFrame, c_vec: list[float], out_dir: str) -> None:
        cvec = F.array(*[F.lit(float(x)) for x in c_vec])
        sub = rows.select(
            "neighbor_id",
            "__v",
            F.zip_with("__v", cvec, lambda x, y: x - y).alias("resid"),
        )
        encode_pq(
            sub, codebook, "neighbor_id", "resid", norm_vec_col="__v"
        ).select("neighbor_id", "codes", "v_nrm").write.mode(
            "overwrite"
        ).parquet(out_dir)

    return ivf_store.rebalance(
        LAYOUT, spark, path, max_list_size, F.col("__v"), fetch, write_half
    )


def delete_from_ivfpq_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> int:
    """Remove vectors by id, rewriting ONLY the list partitions that
    hold them (ivf_store; quantizers untouched). Idempotent. Returns
    vectors removed."""
    return ivf_store.delete(LAYOUT, spark, path, ids, id_col)


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
    ivf_store.check_dim(LAYOUT, path, probes, vec_col, "query with")
    params = _require_residual(path)
    m, ds = params["m"], params["dim"] // params["m"]
    ksub = params["ksub"]
    cents = ivf_store.read_centroids(spark, path)
    codebook = read_pq_codebook(spark, path)
    codes = read_ivfpq_codes(spark, path)
    p = ivf_store.probe_frame(probes, id_col, vec_col)

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
    p_lists = ivf_store.nearest_lists(
        p, cents, nprobe, ["probe_id", "p_nrm", "centroid_id", "cdot"],
        # residual encoding: the exact <probe, centroid> term added
        # back to every candidate of this probed list (rounded 6 so
        # the oracle derives the identical double)
        cdot=F.round(_dot(F.col("p_v"), F.col("c_vec")), 6),
    ).join(
        # both sides are probe-cardinality-bounded BY CONTRACT; the
        # hint keeps AQE from sorting them into an SMJ (r10 lesson)
        bounded_broadcast(lut, n_probes, lut_row_weight, max_broadcast_probes),
        "probe_id",
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
    return ivf_store.top_k(scored, "adc_sim", k)


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
    p = ivf_store.probe_frame(probes, id_col, vec_col)
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
    return ivf_store.top_k(cand, "cosine_sim", k)
