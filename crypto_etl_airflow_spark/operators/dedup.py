"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The dedup family a 100 TB training-data pipeline needs (BASELINE.json
``north_star``; SURVEY.md §7.5). All four are DataFrame compositions —
no Python row loops:

- **exact**: fingerprint (md5 of normalized text) → hash groupBy.
  One shuffle on the fingerprint.
- **n-gram Jaccard**: word shingles → explode → self-join on shingle
  → count intersections → Jaccard from set sizes. Exact pairwise
  similarity restricted to documents that share ≥1 shingle (never a
  full cross-product). Shuffles on the shingle, then on the pair.
- **MinHash + LSH**: k deterministic hash functions over shingle
  hashes → signature → band → bucket-join. Candidate generation is
  linear-ish: only same-bucket docs pair up. The standard scale path
  when pairwise-with-shared-shingle is still too big (common shingles
  create hot keys; banding bounds it).
- **SimHash**: 64-bit weighted bit-vote fingerprint; near-dup pairs
  have small Hamming distance. Band the 64 bits into 4×16-bit keys:
  any pair within Hamming ≤ 3 shares at least one exact band (pigeon-
  hole), so candidate generation is 4 equi-joins, verified by
  bit_count(xor).

Hash functions are Spark's built-in xxhash64 (JVM, codegen'd); the
MinHash family is ``(a_i * h + b_i) mod p`` with constants derived
deterministically from the permutation index — reproducible across
runs and clusters, no RNG state.
"""

from __future__ import annotations

import hashlib
import threading

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .parallel import widen_small_input as _widen


# Persisted intermediates handed out by _reuse, so long-lived
# sessions (bench loops, notebooks) can evict them: Spark's cache
# manager holds cached plans until an explicit unpersist — GC of the
# Python DataFrame does NOT release the blocks. Guarded by
# _REUSE_LOCK (operators may be built from multiple driver threads —
# e.g. concurrent job groups) and bounded at _REUSE_MAX entries: when
# a session never calls release_reuse_caches(), the oldest handle is
# evicted (unpersisted) instead of the list growing for the session's
# lifetime. Eviction is safe at any time — unpersisted DataFrames
# recompute from lineage.
_REUSE_LOCK = threading.Lock()
_REUSE_HANDLES: list[DataFrame] = []
_REUSE_MAX = 32


def _safe_unpersist(df: DataFrame) -> bool:
    """Unpersist, swallowing ONLY the session-already-stopped case
    (the one legitimate failure: the JVM and its cache are gone, so
    there is nothing left to release). Any unpersist error on a LIVE
    session is a real bug and propagates."""
    try:
        df.unpersist()
        return True
    except Exception:
        if SparkContext._active_spark_context is not None:
            raise
        return False


def _reuse(df: DataFrame) -> DataFrame:
    """Mark a multi-consumer intermediate (the shingle set feeds the
    doc-freq cap, per-doc sizes, and both self-join sides) for reuse.

    ``persist`` rather than ``localCheckpoint``: a localCheckpoint
    TRUNCATES lineage and stores its blocks on executor storage, so
    one executor lost mid-query fails the whole job at 1000-executor
    scale (nothing left to recompute from). Persisted blocks keep
    their lineage — a lost block is recomputed from the parquet scan,
    the job survives.

    The handle is tracked in ``_REUSE_HANDLES`` (locked, bounded —
    see above); callers that run many dedup queries in one session
    should still call :func:`release_reuse_caches` after each
    consuming action so blocks are freed promptly rather than at
    eviction."""
    # MEMORY_ONLY: the r16 ×100 A/B measured the disk tier as pure
    # cost (re-reading spill ran no faster than recomputing lineage)
    df = df.persist(StorageLevel.MEMORY_ONLY)
    with _REUSE_LOCK:
        _REUSE_HANDLES.append(df)
        evicted = _REUSE_HANDLES[:-_REUSE_MAX]
        del _REUSE_HANDLES[: len(evicted)]
    for old in evicted:
        _safe_unpersist(old)
    return df


def release_reuse_caches() -> int:
    """Unpersist every intermediate cached by :func:`_reuse` since the
    last call. Safe to call any time AFTER the consuming action (the
    returned DataFrames stay valid — they recompute from lineage).
    Returns the number of handles released."""
    with _REUSE_LOCK:
        handles = _REUSE_HANDLES[:]
        _REUSE_HANDLES.clear()
    return sum(1 for df in handles if _safe_unpersist(df))

# 31-bit Mersenne prime: (a*h + b) with a,h,b < 2^31 stays well inside
# int64, so the modular hash needs no 128-bit arithmetic (Spark 4 runs
# ANSI mode and throws on long overflow)
MERSENNE_P = (1 << 31) - 1


def portable_hash48(col) -> F.Column:
    """First 48 bits of md5 as a non-negative BIGINT.

    The cross-engine hash: ``CAST(CONCAT('0x', substr(md5(x), 1, 12))
    AS BIGINT)`` computes the identical value in DuckDB (and any ANSI
    engine with md5), which is what lets MinHash signatures be
    oracle-checked value-for-value. xxhash64 stays the default for
    production (faster, JVM-codegen'd); portable mode trades ~2× on
    the hash for engine-verifiable output.
    """
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def portable_hash32(col) -> F.Column:
    """First 32 bits of md5 as a non-negative BIGINT (see
    :func:`portable_hash48`)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_constants(num_hashes: int) -> list[tuple[int, int]]:
    """The (a_i, b_i) constants of the MinHash family
    ``(a_i * h + b_i) mod p`` — derived from md5 of the permutation
    index in PYTHON (not at query time), so the exact same integer
    literals can be inlined into both the Spark plan and a DuckDB
    oracle. a_i ∈ [1, p-1], b_i ∈ [0, p-1]."""

    def const(tag: str, i: int, mod: int) -> int:
        digest = hashlib.md5(f"minhash-{tag}-{i}".encode()).digest()
        return int.from_bytes(digest[:6], "big") % mod

    return [
        (const("a", i, MERSENNE_P - 1) + 1, const("b", i, MERSENNE_P))
        for i in range(num_hashes)
    ]


def _minhash_min_exprs(num_hashes: int) -> list:
    """The ``min((a_i·h + b_i) mod p)`` signature aggregates as ONE
    parsed SQL expression each instead of ~7 Column calls each —
    expression CONSTRUCTION is driver py4j wall-clock (the r15
    finding on dot_unrolled), and signature builders run 32+ of
    these per call site. Long-literal suffixes pin the same int64
    arithmetic the Column form promoted to; a·h < 2⁶² for p = 2³¹−1,
    so no overflow either way and values are bit-identical."""
    return [
        F.expr(f"min(({a}L * __h + {b}L) % {MERSENNE_P}L) AS mh_{i}")
        for i, (a, b) in enumerate(minhash_constants(num_hashes))
    ]


def normalized_text(text_col: str = "text") -> F.Column:
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def word_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle).

    Built with sequence+transform+slice — pure array expressions, no
    UDF. Documents shorter than n words produce no shingles.
    ``distinct=False`` skips the set-dedup shuffle for consumers that
    are duplicate-insensitive (MinHash: min over a multiset equals
    min over its set).
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark,
    # so short documents must map to an empty index array instead
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))
    )
    out = _widen(df).select(F.col(id_col), F.explode(shingles).alias("shingle"))
    return out.distinct() if distinct else out


def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, xxhash64(shingle)), set-distinct per document — the
    narrow-key form every pairwise stage joins and aggregates on.
    Hashing happens BEFORE the distinct so the dedup shuffle moves
    8-byte longs instead of n-word strings."""
    return (
        word_shingles(df, id_col, text_col, n, distinct=False)
        .select(F.col(id_col), F.xxhash64("shingle").alias("sh"))
        .distinct()
    )


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact dedup via normalized-text fingerprint: every row keeps
    its group's min id; ``is_duplicate`` marks non-canonical rows.

    ONE shuffle: min/count as window functions over the fingerprint
    partition (instead of groupBy + join back, which shuffles twice
    for the same hash distribution). A window partition holds one
    fingerprint's rows — bounded by duplicate-group size, the same
    skew exposure the aggregate form has."""
    from pyspark.sql import Window as W

    from ..functions.text import fingerprint

    with_fp = df.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint")
    )
    w = W.partitionBy("fingerprint")
    return with_fp.select(
        id_col,
        "fingerprint",
        F.min(id_col).over(w).alias("keep_id"),
        F.count("*").over(w).alias("group_size"),
    ).withColumn("is_duplicate", F.col(id_col) != F.col("keep_id"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    prefilter: str | None = None,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle SETS for all
    pairs sharing at least one shingle; keeps pairs ≥ threshold.

    Returns (id_a, id_b, jaccard) with id_a < id_b. At scale the
    shingle self-join is the hot spot: a shingle appearing in d
    documents fans out to d² pair rows, so stop-phrases ("of the
    same") dominate the shuffle quadratically. ``max_doc_freq`` caps
    that: shingles present in more than this many documents are
    dropped BEFORE the self-join (from both the join and the per-doc
    set sizes, so the result is still a true Jaccard over the reduced
    shingle universe). Hot shingles carry almost no similarity signal
    — near-dup pairs are decided by their rare shingles — and the hot
    set is tiny by construction (≤ |corpus| / max_doc_freq shingles
    can exceed the cap), so it broadcasts to an anti-join.

    The join key is the shingle's xxhash64, not the string: the
    shuffle moves 8-byte longs instead of n-word strings. A 64-bit
    collision would merge two shingles (P ≈ k²/2⁶⁵ for k distinct
    shingles — negligible below ~10⁸ shingles per corpus).

    ``prefilter='lsh'`` (r13, the VERDICT r12 candidate-volume
    lever): MinHash band agreement gates the pair universe BEFORE
    any per-pair work — signatures from the df-capped shingle
    MULTISET (min over a multiset equals min over its set; the
    groupBy map-side-combines to one row per document, so no
    corpus-sized set-distinct or cache exists anywhere — the shape
    that survives the 1000× decade where the distinct-and-persist
    form fills the disk), banded candidates, then the same
    exact-Jaccard verification, candidate-driven
    (``verify_pairs_exact_jaccard``) instead of the shingle
    self-join. The df cap attacks hot-shingle
    fan-out (constant-factor); the LSH gate attacks TRUE candidate
    volume — sub-threshold pairs sharing rare shingles, the ×10/
    decade term the r12 attribution measured — at a bounded recall
    cost (miss prob (1 − j^r)^bands per true pair; ≈1.5% at j=0.8
    with 32/8, vanishing as j→1). Values that survive are EXACT
    Jaccards over the same capped universe — output ⊆ the exact
    path's, never approximate scores. ``portable=True`` uses the
    md5 hash family so a DuckDB oracle reproduces signatures,
    banding, candidates, and verification value-for-value.
    """
    if prefilter not in (None, "lsh"):
        raise ValueError(f"unknown prefilter {prefilter!r}")
    if prefilter == "lsh":
        # NO global set-distinct anywhere (the r13 x1000 disk lesson:
        # caching/distincting the full (id, sh, h) table is tens of GB
        # per decade). Signatures come from the capped MULTISET — min
        # over a multiset equals min over its set, and the groupBy
        # map-side-combines to |docs| rows before the shuffle; the df
        # cap uses count_distinct(id) per shingle (true document
        # frequency, dedup confined to the aggregate); set-distinct
        # shingle SETS are built only for candidate-involved docs —
        # candidate-bounded, never corpus-bounded. Values are
        # identical to the distinct-first construction, so the oracle
        # is unchanged.
        base = word_shingles(df, id_col, text_col, n, distinct=False)
        if portable:
            h = portable_hash48(F.col("shingle")) % MERSENNE_P
        else:
            h = (
                F.xxhash64("shingle") % MERSENNE_P + MERSENNE_P
            ) % MERSENNE_P
        raw = base.select(
            F.col(id_col), F.xxhash64("shingle").alias("sh"), h.alias("__h")
        )
        if max_doc_freq is not None:
            # the hot TABLE is tiny (≤ |corpus|/cap shingles) but its
            # aggregation is a full corpus pass — cached so raw's two
            # consumers (signatures, candidate sets) don't run the df
            # shuffle twice
            hot = _reuse(
                raw.groupBy("sh")
                .agg(F.count_distinct(F.col(id_col)).alias("df"))
                .filter(F.col("df") > max_doc_freq)
                .select("sh")
            )
            raw = raw.join(F.broadcast(hot), "sh", "left_anti")
        mins = _minhash_min_exprs(num_hashes)
        sigs = _reuse(raw.groupBy(id_col).agg(*mins))
        cands = _reuse(
            minhash_lsh_candidates(sigs, id_col, num_hashes, bands, portable)
        )
        involved = (
            cands.select(F.col("id_a").alias(id_col))
            .unionByName(cands.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        # the semi join's small side is candidate-bounded BY
        # CONSTRUCTION (≤ 2·|candidates| bare ids) — without the hint
        # AQE flips this to a sort-merge that SORTS the corpus-sized
        # shingle stream (measured at the x1000 decade: Sort 8→90,
        # +700 s). Guarded like similarity.bounded_broadcast: one
        # O(bound) count on the cached candidates; past the bound
        # (degenerate corpus) fall back unhinted.
        n_inv = involved.limit(20_000_001).count()
        inv = F.broadcast(involved) if n_inv <= 20_000_000 else involved
        # candidate-bounded (|involved docs| × shingles/doc) and read
        # THREE times by the verification (a-side, b-side, sizes) —
        # uncached, each read replays the whole corpus chain
        # including the df aggregation (measured at x1000: 3× the
        # base cost, Sort 0→80 in the fingerprint)
        sh_cand = _reuse(
            raw.join(inv, id_col, "left_semi").select(id_col, "sh").distinct()
        )
        return verify_pairs_exact_jaccard(
            df, cands, id_col, text_col, n, threshold, shingles=sh_cand
        )
    # the shingle set feeds several consumers (doc-freq cap, per-doc
    # sizes, both self-join sides); persist materializes the expensive
    # generation once instead of recomputing it per consumer, without
    # truncating lineage (see _reuse)
    sh = _reuse(_hashed_shingles(df, id_col, text_col, n))
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))

    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric shingle containment: |A∩B| / |A| ≥ threshold flags
    document A as (near-)contained in B — the quoted-in-full /
    excerpt case symmetric Jaccard systematically misses (a 50-token
    quote inside a 5000-token page has Jaccard ≈ 0.01 but containment
    ≈ 1.0). Used by CCNet-style pipelines to drop pages that are
    substrings of retained pages.

    Returns ``(contained_id, container_id, containment)`` — one row
    per DIRECTION that clears the threshold (A⊂B and B⊂A are
    independent findings; exact duplicates produce both).

    Scale shape: identical to :func:`ngram_jaccard_pairs` — hashed
    shingle keys, optional hot-shingle cap broadcast-anti-joined
    before the self-join, one (id_a, id_b) count — plus one
    explode-by-2 to emit the two directions from the single unordered
    pair table (never a second self-join).
    """
    sh = _reuse(_hashed_shingles(df, id_col, text_col, n))
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")

    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    common = _reuse(
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    # candidate-restricted sizes (r10, mirroring the incremental
    # store form): |kept shingles| only for docs that appear in some
    # pair — candidates are sparse, so the agg state AND the
    # broadcast inside containment_directions are bounded by
    # candidate count, never corpus size
    involved = (
        common.select(F.col("id_a").alias(id_col))
        .unionByName(common.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sizes = (
        sh.join(F.broadcast(involved), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shingles"))
    )
    return containment_directions(common, sizes, id_col, threshold)


def containment_directions(
    common: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Score both containment directions from ONE unordered pair-count
    table: ``common`` is ``(id_a, id_b, n_common)``, ``sizes`` is
    ``(id_col, n_shingles)``; emits ``(contained_id, container_id,
    containment)`` rows ≥ threshold. Shared by the batch operator and
    the incremental store (operators/dedup_store.py) — the explode
    avoids a second self-join for the reverse direction. ``sizes`` is
    candidate-restricted by both callers (rows ∝ docs appearing in
    some pair, never corpus size), so it is broadcast BY CONTRACT —
    the r10 fixed-batch decade caught AQE flipping these two joins to
    sort-merge at x100 on a stale size estimate."""
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    both = (
        common.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("contained_id"),
                        F.col("id_b").alias("container_id"),
                        F.round(F.col("n_common") / F.col("n_a"), 6).alias(
                            "containment"
                        ),
                    ),
                    F.struct(
                        F.col("id_b").alias("contained_id"),
                        F.col("id_a").alias("container_id"),
                        F.round(F.col("n_common") / F.col("n_b"), 6).alias(
                            "containment"
                        ),
                    ),
                )
            ).alias("p")
        )
        .select("p.*")
    )
    return both.filter(F.col("containment") >= threshold)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    portable: bool = False,
) -> DataFrame:
    """MinHash signature per document: for permutation i, the minimum
    of ``(a_i * h(shingle) + b_i) mod p`` over the doc's shingles.
    Constants a_i, b_i are fixed Python-derived literals
    (:func:`minhash_constants`) — reproducible, no RNG.

    ``portable=False`` (production): h = xxhash64, JVM-codegen fast
    path. ``portable=True``: h = first 48 md5 bits
    (:func:`portable_hash48`), computable bit-for-bit by any md5-
    capable engine — the mode the DuckDB oracle certifies.

    One aggregation: groupBy(doc) of min over each of the k hash
    expressions (map-side partial min makes this cheap).
    """
    # no distinct: min over the shingle multiset equals min over its
    # set, so the dedup shuffle would be pure cost
    sh = word_shingles(df, id_col, text_col, n, distinct=False)
    if portable:
        h = portable_hash48("shingle") % MERSENNE_P
    else:
        h = (F.xxhash64("shingle") % MERSENNE_P + MERSENNE_P) % MERSENNE_P

    # project the base hash ONCE per shingle row, then aggregate the
    # k cheap affine forms of it — embedding `h` inside each min()
    # would re-evaluate the md5/xxhash k times per row (subexpression
    # elimination is not guaranteed across aggregate expressions)
    hashed = sh.select(F.col(id_col), h.alias("__h"))
    mins = _minhash_min_exprs(num_hashes)
    return hashed.groupBy(id_col).agg(*mins)


def band_bucket_rows(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """One row per (document, band) with the band's bucket key:
    ``(id_col, band, k_0[, k_1 ...])`` — the exploded join-key form of
    a signature table, shared by the self-join candidates
    (:func:`minhash_lsh_candidates`) and the incremental store join
    (operators/dedup_store.py). ``portable=True`` keys on the raw
    signature values (DuckDB-reproducible); default keys on their
    xxhash64 (one 8-byte key).

    Built as ONE explode of a per-row band array, not a union of
    ``bands`` projections: the union form re-reads the signature
    table once per band (``bands`` scans / task sets — 8 passes over
    a cached table here, 8 passes over a 100 TB-derived signature
    store at scale), while the explode emits every band row in a
    single pass. Same rows, one stage."""
    r = num_hashes // bands
    entries = []
    for bi in range(bands):
        cols = [F.col(f"mh_{bi * r + j}") for j in range(r)]
        if portable:
            keys = [c.alias(f"k_{j}") for j, c in enumerate(cols)]
        else:
            keys = [F.xxhash64(*cols).alias("k_0")]
        entries.append(F.struct(F.lit(bi).alias("band"), *keys))
    return signatures.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("__band")
    ).select(id_col, "__band.*")


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes // bands`` rows, hash each band, and pair documents
    sharing any (band_idx, band_hash) bucket. Returns distinct
    (id_a, id_b) candidates, id_a < id_b.

    The band-bucket join is the scale trick: candidates ∝ collisions,
    never n². Probability a pair with Jaccard j collides:
    1 - (1 - j^r)^b with r = rows per band.

    ``portable=True`` joins on the band's raw signature values
    instead of their xxhash64 (slightly wider shuffle key: r longs vs
    one) so the bucketing is reproducible by the DuckDB oracle.
    """
    buckets = band_bucket_rows(signatures, id_col, num_hashes, bands, portable)
    key_names = [c for c in buckets.columns if c.startswith("k_")]
    left = buckets.withColumnRenamed(id_col, "id_a")
    right = buckets.withColumnRenamed(id_col, "id_b")
    return (
        left.join(right, ["band", *key_names])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_pairs_exact_jaccard(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle sets for the given (id_a, id_b)
    candidate pairs only. Candidate-DRIVEN: shingles join onto the
    candidate list (cands ⋈ shingles(id_a) ⋈ shingles(id_b)), so the
    shuffle is |candidates| × shingles-per-doc — never the full
    shingle self-join, whose hot shingles fan out quadratically.
    Keeps pairs ≥ threshold; returns (id_a, id_b, jaccard).

    ``shingles``: optional pre-built set-distinct ``(id_col, sh)``
    table (8-byte hashed shingles) — callers that already shingled
    the corpus (:func:`minhash_lsh_pairs`) pass it to avoid a second
    document scan; default builds it here."""
    sh = (
        shingles
        if shingles is not None
        else _reuse(_hashed_shingles(df, id_col, text_col, n))
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        candidates.join(a, "id_a")
        .join(b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded
    candidates → EXACT Jaccard verification of candidates only.

    Output matches :func:`ngram_jaccard_pairs` up to LSH recall (a
    near-dup pair is missed only if it collides in no band).
    ``portable=True`` makes every stage md5-reproducible in a DuckDB
    oracle (see :func:`minhash_signatures`).

    ONE document scan feeds the whole pipeline: the set-distinct
    shingle table carries both the 8-byte verification join key
    (xxhash64) and the signature base hash, so signatures and the
    exact-Jaccard verification share it instead of each re-scanning
    and re-shingling the corpus. Min over the distinct shingle SET
    equals min over the multiset, so signatures are unchanged."""
    base = word_shingles(df, id_col, text_col, n, distinct=False)
    if portable:
        h = portable_hash48(F.col("shingle")) % MERSENNE_P
    else:
        h = (F.xxhash64("shingle") % MERSENNE_P + MERSENNE_P) % MERSENNE_P
    # distinct over (id, xxhash64, base-hash) == distinct over
    # (id, shingle) up to 64-bit collisions — the same exposure
    # _hashed_shingles always had; duplicates cannot change a min
    sh = _reuse(
        base.select(
            F.col(id_col), F.xxhash64("shingle").alias("sh"), h.alias("__h")
        ).distinct()
    )
    mins = _minhash_min_exprs(num_hashes)
    # persisted because the band-bucket self-join reads the signature
    # table on both sides (exchange reuse across a self-join's renamed
    # sides is not guaranteed) — lineage kept for executor-loss
    # recompute (see _reuse)
    sigs = _reuse(sh.groupBy(id_col).agg(*mins))
    cands = minhash_lsh_candidates(sigs, id_col, num_hashes, bands, portable)
    return verify_pairs_exact_jaccard(
        df, cands, id_col, text_col, n, threshold,
        shingles=sh.select(id_col, "sh"),
    )


def benchmark_overlap(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Training-corpus DECONTAMINATION: for every document, the
    fraction of its n-gram shingle set that appears anywhere in the
    ``benchmark`` corpus; documents at or above ``threshold`` are
    flagged. The eval-leakage guard every pretraining pipeline runs
    before a benchmark can be trusted.

    Returns (id, n_shingles, n_overlap, overlap_ratio, contaminated)
    for every document with at least one shingle.

    Scale posture: the benchmark's DISTINCT shingle-hash set is tiny
    relative to a 100 TB corpus (evals are thousands of documents,
    not billions) — it broadcasts into a semi-join against the corpus
    shingles, so the corpus is scanned once with NO shuffle of corpus
    shingles at all; the only aggregations group on the document id.
    """
    doc_sh = _reuse(_hashed_shingles(df, id_col, text_col, n))
    bench_sh = (
        _hashed_shingles(benchmark, id_col, text_col, n)
        .select("sh")
        .distinct()
    )
    overlap = (
        doc_sh.join(F.broadcast(bench_sh), "sh", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )
    sizes = doc_sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    ratio = F.round(
        F.col("n_overlap") / F.col("n_shingles"), 6
    )
    return (
        sizes.join(overlap, id_col, "left")
        .na.fill({"n_overlap": 0})
        .select(
            id_col,
            "n_shingles",
            "n_overlap",
            ratio.alias("overlap_ratio"),
            (F.col("n_overlap") / F.col("n_shingles") >= threshold).alias(
                "contaminated"
            ),
        )
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: each token votes its xxhash64
    bits weighted by term frequency; the sign of each bit's vote sum
    becomes the fingerprint bit.

    Expressed as explode → per-bit conditional sums → bit OR-fold:
    one shuffle on the doc id. Returns (id, simhash BIGINT).
    """
    return _simhash(df, id_col, text_col, bits=64)


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash whose token hash is the first 32 md5 bits
    (:func:`portable_hash32`) — every stage (hash, bit votes, sign
    fold) is reproducible in an md5-capable SQL engine, which is what
    the DuckDB oracle certifies. Production default stays the 64-bit
    xxhash64 form (:func:`simhash64`)."""
    return _simhash(df, id_col, text_col, bits=32)


def _simhash(df: DataFrame, id_col: str, text_col: str, bits: int) -> DataFrame:
    tok = _widen(df).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("token"),
    )
    h = F.xxhash64("token") if bits == 64 else portable_hash32("token")
    votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{i}")
        for i in range(bits)
    ]
    per_doc = tok.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        # at bits=64, shiftleft wraps bit 63 into the long sign bit
        # (two's complement); at bits=32 the value stays non-negative
        bit_i = F.shiftleft(F.lit(1).cast("long"), i)
        sim = sim.bitwiseOR(
            F.when(F.col(f"v_{i}") > 0, bit_i).otherwise(F.lit(0).cast("long"))
        )
    return per_doc.select(F.col(id_col), sim.alias("simhash"))


def simhash_band_rows(
    sims: DataFrame, id_col: str, bits: int
) -> DataFrame:
    """4 equal-width band rows per (id, simhash) row — the pigeonhole
    candidate key shared by the batch operator
    (:func:`simhash_neardup_pairs`) and the incremental store
    (operators/dedup_store.py): a Hamming distance ≤ 3 guarantees at
    least one of the 4 bands is untouched, so band equality is a
    recall-complete candidate filter. Returns
    (id, simhash, band, bucket)."""
    band_bits = bits // 4
    bands = [
        sims.select(
            F.col(id_col),
            F.col("simhash"),
            F.lit(bi).alias("band"),
            F.shiftrightunsigned("simhash", bi * band_bits)
            .bitwiseAND(F.lit((1 << band_bits) - 1))
            .alias("bucket"),
        )
        for bi in range(4)
    ]
    out = bands[0]
    for extra in bands[1:]:
        out = out.unionAll(extra)
    return out


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ≤ max_hamming.

    Candidates via 4 equal-width band equality (pigeonhole guarantees
    recall for distance ≤ 3), verified with bit_count(a XOR b).
    Returns (id_a, id_b, hamming). ``bits=32`` selects the md5-
    portable fingerprint (:func:`simhash32`) the DuckDB oracle can
    recompute; 64 is the xxhash64 production default.
    """
    sims = simhash64(df, id_col, text_col) if bits == 64 else simhash32(
        df, id_col, text_col
    )
    all_bands = simhash_band_rows(sims, id_col, bits)

    left = all_bands.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "band", "bucket"
    )
    right = all_bands.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "band", "bucket"
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
