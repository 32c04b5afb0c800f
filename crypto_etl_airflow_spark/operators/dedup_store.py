"""Incremental dedup against PERSISTED signature stores — MinHash
(near-dup by Jaccard), exact fingerprint (md5 of normalized text),
and SimHash (near-dup by Hamming distance).

The batch-recompute dedup family (operators/dedup.py) signatures the
whole corpus every run — right for a one-shot sweep, wrong for the
steady state of a training-data pipeline at 100 TB: an hourly ingest
of 10 GB against a 100 TB corpus must not re-shingle 100 TB. The
standard production shape (the same pattern the reference's
idempotent upsert applies to keys, lifted to *near*-duplicate
identity) is:

1. signature the corpus ONCE into a store: ``(doc_id, mh_0..mh_k-1)``
   parquet — ~256 bytes/doc, ~10⁻⁴ of corpus bytes;
2. per ingest batch: signature the BATCH only, band both sides, and
   join the batch's band keys against the store's — the batch side
   is small, so the join broadcasts it against the store scan; no
   store×store pairs are ever generated;
3. verify candidates by SIGNATURE AGREEMENT (the estimate path — the
   store needs no text at all) or by exact Jaccard against the
   corpus text (the audit path);
4. append the batch's signatures to the store (idempotent per id via
   the same anti-join discipline as ``upsert_append``).

The signature-agreement estimator is unbiased for true Jaccard
(P[min-hash collision] = J for each permutation), with granularity
1/num_hashes; its threshold therefore reads as "at least
``ceil(threshold·k)`` of k permutations agree".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import (
    _hashed_shingles,
    _reuse,
    band_bucket_rows,
    containment_directions,
    minhash_signatures,
    simhash32,
    simhash64,
    simhash_band_rows,
    verify_pairs_exact_jaccard,
)


def write_minhash_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    portable: bool = False,
) -> int:
    """Signature ``docs`` and APPEND the signatures to the parquet
    store at ``path``, idempotently per id (ids already present are
    skipped — the ``upsert_append`` anti-join discipline, so ingest
    retries and overlapping batches cannot double-register a doc).
    Creates the store if absent. Returns rows appended."""
    from .upsert import upsert_append

    params = {"n": n, "num_hashes": num_hashes, "portable": portable}
    _validate_store_params(path, params)
    sigs = minhash_signatures(docs, id_col, text_col, n, num_hashes, portable)
    written = upsert_append(
        docs.sparkSession, sigs, path, keys=[id_col], allow_empty=True
    )
    _ensure_store_exists(sigs, path)
    _record_store_params(path, params)
    return written


def _ensure_store_exists(df_like: DataFrame, path: str) -> None:
    """A first write with an EMPTY batch must still CREATE the store
    (schema'd, zero rows) — otherwise the empty-corpus case (a fresh
    warehouse, an hour with no documents) leaves no parquet dir and
    every subsequent ``read_*_store`` fails with PATH_NOT_FOUND
    instead of degrading to an empty join."""
    import os

    if not os.path.isdir(path):
        df_like.limit(0).write.mode("append").parquet(path)


def _sidecar(path: str, name: str = "_minhash_store_params.json") -> str:
    import os

    # underscore-prefixed so Spark's parquet reader ignores it
    return os.path.join(path, name)


def _validate_store_params(
    path: str, params: dict, name: str = "_minhash_store_params.json"
) -> None:
    """Refuse to mix hash families in one store: signatures built with
    different parameters (MinHash (n, num_hashes, portable); SimHash
    bits) are schema-compatible with an existing store but NEVER agree
    with it, so an append would silently turn agreement scores into
    noise."""
    import json
    import os

    if os.path.exists(_sidecar(path, name)):
        with open(_sidecar(path, name)) as f:
            existing = json.load(f)
        if existing != params:
            raise ValueError(
                f"signature store {path} was built with {existing}; "
                f"refusing to append signatures built with {params}"
            )


def _record_store_params(
    path: str, params: dict, name: str = "_minhash_store_params.json"
) -> None:
    # written AFTER the first append (the store dir must not exist
    # before upsert_append creates it — an empty dir with only the
    # sidecar would read as an existing-but-parquet-less table)
    import json
    import os

    if os.path.isdir(path) and not os.path.exists(_sidecar(path, name)):
        with open(_sidecar(path, name), "w") as f:
            json.dump(params, f)


def read_minhash_store(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def incremental_minhash_pairs(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
    verify: str = "estimate",
    corpus_text: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch: batch×store and
    batch×batch — never store×store (that work was paid when the
    store was built). Returns ``(id_a, id_b, score)`` with
    ``id_a < id_b``; ``score`` is the signature-agreement Jaccard
    estimate (``verify="estimate"``, store-only, no text) or exact
    Jaccard (``verify="exact"``, requires ``corpus_text`` covering
    both sides' documents). Ids must be disjoint between batch and
    store (enforce upstream; ``write_minhash_store`` is idempotent
    per id).

    Scale shape: the batch's band keys are the SMALL side of the one
    join and are broadcast BY CONTRACT (hinted — the r10 fixed-batch
    decade caught AQE flipping the equivalent fingerprint join to a
    sort-merge once the store-derived size estimate crossed its
    threshold, which at 100 TB means shuffling the store scan for an
    ingest-batch join); the store scan reads only its signature
    columns. Candidate volume ∝ bucket collisions with the batch —
    independent of |store|² and of corpus text size.
    """
    if verify not in ("estimate", "exact"):
        raise ValueError(f"verify must be 'estimate' or 'exact': {verify!r}")
    if verify == "exact" and corpus_text is None:
        raise ValueError("verify='exact' requires corpus_text")

    new_sigs = _reuse(
        minhash_signatures(new_docs, id_col, text_col, n, num_hashes, portable)
    )
    # persisted: the union feeds the band rows AND both sides of the
    # agreement scoring — without reuse the signature store parquet
    # would be scanned three times per ingest batch
    all_sigs = _reuse(store.select(*new_sigs.columns).unionByName(new_sigs))

    all_buckets = band_bucket_rows(all_sigs, id_col, num_hashes, bands, portable)
    new_buckets = band_bucket_rows(new_sigs, id_col, num_hashes, bands, portable)
    key_names = [c for c in new_buckets.columns if c.startswith("k_")]
    left = all_buckets.withColumnRenamed(id_col, "__ida")
    right = new_buckets.withColumnRenamed(id_col, "__idb")
    cands = (
        left.join(F.broadcast(right), ["band", *key_names])
        .filter(F.col("__ida") != F.col("__idb"))
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
        )
        .distinct()
    )

    if verify == "exact":
        return verify_pairs_exact_jaccard(
            corpus_text, cands, id_col, text_col, n, threshold
        ).withColumnRenamed("jaccard", "score")  # one contract, both paths

    sig_cols = [f"mh_{i}" for i in range(num_hashes)]
    sa = all_sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"a_{c}") for c in sig_cols],
    )
    sb = all_sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"b_{c}") for c in sig_cols],
    )
    agree = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
        for c in sig_cols
    )
    est = agree.cast("double") / F.lit(num_hashes)
    return (
        F.broadcast(cands).join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("score"))
        .filter(F.col("score") >= threshold)
    )


# ---------------------------------------------------------------------------
# exact-fingerprint store (VERDICT r8 item 2): the incremental form of
# operators/dedup.py::exact_duplicates
# ---------------------------------------------------------------------------


def write_fingerprint_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Fingerprint ``docs`` (md5 of whitespace-normalized lowercased
    text — functions/text.py::fingerprint, the exact-dedup key) and
    APPEND to the parquet store at ``path``, idempotently per id.
    16 bytes/doc: the store is ~10⁻⁵ of corpus bytes, so the 100 TB
    steady state keeps NO text around for exact dedup. No parameter
    sidecar: the fingerprint definition has no tunables."""
    from ..functions.text import fingerprint
    from .upsert import upsert_append

    fps = docs.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint")
    )
    written = upsert_append(
        docs.sparkSession, fps, path, keys=[id_col], allow_empty=True
    )
    _ensure_store_exists(fps, path)
    return written


def read_fingerprint_store(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def incremental_fingerprint_matches(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-duplicate pairs INVOLVING the new batch: batch×store and
    batch×batch, never store×store. Returns
    ``(id_a, id_b, fingerprint)`` with ``id_a < id_b``. Ids must be
    disjoint between batch and store (``write_fingerprint_store`` is
    idempotent per id).

    Scale shape: ONE equality join on the 16-byte fingerprint with
    the batch side broadcast BY CONTRACT (hinted) against the store
    scan — the r10 fixed-batch decade caught AQE flipping this exact
    join to a store-shuffling sort-merge at x100;
    candidate volume ∝ fingerprint collisions with the batch,
    independent of |store|²."""
    from ..functions.text import fingerprint

    new_fps = new_docs.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint")
    )
    all_fps = store.select(*new_fps.columns).unionByName(new_fps)
    left = all_fps.withColumnRenamed(id_col, "__ida")
    right = new_fps.withColumnRenamed(id_col, "__idb")
    return (
        left.join(F.broadcast(right), "fingerprint")
        .filter(F.col("__ida") != F.col("__idb"))
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            "fingerprint",
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash store (VERDICT r8 item 2): the incremental form of
# operators/dedup.py::simhash_neardup_pairs
# ---------------------------------------------------------------------------

_SIMHASH_SIDECAR = "_simhash_store_params.json"


def write_simhash_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> int:
    """SimHash ``docs`` (8 bytes/doc) and APPEND to the parquet store
    at ``path``, idempotently per id. The ``bits`` family (64 =
    xxhash64 production, 32 = md5-portable) is pinned by a sidecar —
    mixed-family stores would turn Hamming distances into noise, the
    same guard :func:`write_minhash_store` applies to (n, num_hashes,
    portable)."""
    from .upsert import upsert_append

    params = {"bits": bits}
    _validate_store_params(path, params, _SIMHASH_SIDECAR)
    sims = (simhash64 if bits == 64 else simhash32)(docs, id_col, text_col)
    written = upsert_append(
        docs.sparkSession, sims, path, keys=[id_col], allow_empty=True
    )
    _ensure_store_exists(sims, path)
    _record_store_params(path, params, _SIMHASH_SIDECAR)
    return written


def read_simhash_store(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def incremental_simhash_pairs(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs INVOLVING the new batch (Hamming ≤
    ``max_hamming``): batch×store and batch×batch, never store×store.
    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    Candidates via the same 4-band pigeonhole as the batch operator
    (recall-complete for distance ≤ 3), verified with
    ``bit_count(a XOR b)``. The batch's band rows are the SMALL side
    of the one join, broadcast BY CONTRACT (hinted) against the store
    scan; the store retains no text — only the 8-byte fingerprints
    are read."""
    new_sims = _reuse(
        (simhash64 if bits == 64 else simhash32)(new_docs, id_col, text_col)
    )
    all_sims = store.select(*new_sims.columns).unionByName(new_sims)

    left = simhash_band_rows(all_sims, id_col, bits).select(
        F.col(id_col).alias("__ida"),
        F.col("simhash").alias("sim_a"),
        "band",
        "bucket",
    )
    right = simhash_band_rows(new_sims, id_col, bits).select(
        F.col(id_col).alias("__idb"),
        F.col("simhash").alias("sim_b"),
        "band",
        "bucket",
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast(
        "int"
    )
    return (
        left.join(F.broadcast(right), ["band", "bucket"])
        .filter(F.col("__ida") != F.col("__idb"))
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# hashed-shingle store + incremental containment (VERDICT r8 item 2,
# completing the fingerprint/SimHash/MinHash family)
#
# Layout (reworked r10 — ADVICE r9 found the old two-step write could
# permanently undercount the doc-frequency sidecar if a crash landed
# between the row append and the count merge):
#
#   {path}/rows                    shingle rows (id, sh) parquet
#   {path}/_meta/ids               committed membership (one row/id)
#   {path}/_meta/df                merged per-shingle doc counts
#   {path}/_meta/meta.json         {"n_rows": committed row count}
#   {path}/_shingle_store_params.json  shingle-width regime sidecar
#
# ``_meta`` is the store's ONE commit point: ids, counts, and the
# row-count manifest are staged together as a sibling directory and
# swapped into place with a single rename (operators/compact.py —
# sibling staging also fixes the old /tmp-staging EXDEV failure on
# cross-filesystem stores). Mutation ordering keeps one invariant —
# rows ⊇ exactly the membership's complete shingle sets, plus
# possibly orphan rows of UNcommitted ids:
#
#   write:  append rows FIRST, commit _meta second
#           (crash between → orphans of never-registered ids);
#   delete: commit _meta FIRST, rewrite rows second
#           (crash between → orphans of DEregistered ids).
#
# Both crash shapes heal identically: restrict rows to the committed
# membership (:func:`_heal_shingle_store`) — rolling back half-written
# batches and rolling forward half-applied deletes. Detection is a
# row-count compare against the committed manifest: a zero-column
# parquet count, row-group-metadata cheap even on a terabyte store.
# ---------------------------------------------------------------------------

_SHINGLE_SIDECAR = "_shingle_store_params.json"


def _rows_path(path: str) -> str:
    import os

    return os.path.join(path, "rows")


def _meta_path(path: str) -> str:
    import os

    return os.path.join(path, "_meta")


def _read_meta(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, int] | None:
    """The committed ``(ids, df, n_rows)`` of the shingle store, or
    None when no commit has happened yet (fresh dir, or a crash
    before the very first ``_meta`` swap)."""
    import json
    import os

    meta = _meta_path(path)
    if not os.path.isdir(meta):
        return None
    with open(os.path.join(meta, "meta.json")) as f:
        n_rows = int(json.load(f)["n_rows"])
    ids = spark.read.parquet(os.path.join(meta, "ids"))
    df = spark.read.parquet(os.path.join(meta, "df"))
    return ids, df, n_rows


def _commit_meta(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    df: DataFrame,
    n_rows: int,
) -> None:
    """Stage ``{ids, df, meta.json}`` as a SIBLING of ``_meta`` and
    swap — the store's single commit point. Sibling staging (never a
    system temp dir) keeps the final rename on one filesystem."""
    import json
    import os
    import shutil

    from .compact import swap_directory

    meta = _meta_path(path)
    staging = meta + ".__staging"
    if os.path.isdir(staging):
        shutil.rmtree(staging)  # leftover of a crashed stage: re-stage
    ids.write.parquet(os.path.join(staging, "ids"))
    df.write.parquet(os.path.join(staging, "df"))
    with open(os.path.join(staging, "meta.json"), "w") as f:
        json.dump({"n_rows": n_rows}, f)
    swap_directory(staging, meta)


def _heal_shingle_store(spark: SparkSession, path: str) -> bool:
    """Restore the store invariant after any crash: first heal a
    half-finished ``_meta`` swap (recover_tree), then restrict the
    rows table to the committed membership if its row count disagrees
    with the committed manifest (see the layout comment above — this
    one rewrite rolls back interrupted writes AND rolls forward
    interrupted deletes). The id column is read off the membership
    table itself (its single column), so healing needs no caller
    hints. Returns True if a rows rewrite happened."""
    import os

    from .compact import recover_tree, swap_directory

    recover_tree(path)
    rows_path = _rows_path(path)
    if not os.path.isdir(rows_path):
        return False
    meta = _read_meta(spark, path)
    rows = spark.read.parquet(rows_path)
    if meta is None:
        # rows appended but the FIRST commit never happened: the
        # committed store content is empty
        if rows.isEmpty():
            return False
        kept = rows.limit(0)
    else:
        ids, _df, n_rows = meta
        if rows.count() == n_rows:
            return False
        id_col = ids.columns[0]
        kept = rows.join(ids.select(id_col), id_col, "left_semi")
    staging = rows_path + ".__heal_tmp"
    kept.write.mode("overwrite").parquet(staging)
    swap_directory(staging, rows_path)
    return True


def read_shingle_df(spark: SparkSession, path: str) -> DataFrame:
    """The maintained per-shingle doc-frequency table ``(sh, df)`` of
    the shingle store at ``path`` — always commit-consistent (it is
    part of the atomically-swapped ``_meta``), so reads only need the
    crashed-swap recovery walk, not the rows heal."""
    import os

    from .compact import recover_tree

    recover_tree(path)
    return spark.read.parquet(os.path.join(_meta_path(path), "df"))


def write_shingle_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> int:
    """Shingle ``docs`` into hashed word-n-gram rows ``(id, sh)`` —
    8 bytes per distinct shingle per doc, the densest store of the
    family (≈ token count of the corpus, ~10⁻¹–10⁻² of corpus bytes) —
    and APPEND to the parquet store at ``path``, idempotently per id.
    The shingle width ``n`` is pinned by a sidecar: mixed-width stores
    would silently zero every containment score. Returns rows
    appended (shingle rows, not docs).

    The store MAINTAINS a per-shingle doc-frequency table and an id
    membership manifest inside the atomically-swapped ``_meta`` dir
    (see the layout comment above): the hot-shingle cap of
    :func:`incremental_containment_pairs` comes from that
    vocabulary-sized table instead of re-aggregating the store's
    shingle rows on every ingest batch (the 100 TB steady-state
    shape). Crash-safe and idempotent: rows append first, the single
    ``_meta`` swap commits; a retried batch anti-joins to nothing and
    commits an unchanged ``_meta``; orphan rows of an interrupted
    append are healed (removed) before any write or store read."""
    import os

    from .barrier import counted_barrier

    spark = docs.sparkSession
    params = {"n": n}
    _validate_store_params(path, params, _SHINGLE_SIDECAR)
    os.makedirs(path, exist_ok=True)
    _heal_shingle_store(spark, path)

    sh = _hashed_shingles(docs, id_col, text_col, n)
    meta = _read_meta(spark, path)
    if meta is not None:
        ids0, df0, n_rows0 = meta
        fresh = sh.join(ids0.select(id_col), id_col, "left_anti")
    else:
        ids0, df0, n_rows0 = None, None, 0
        fresh = sh
    # materialize the delta once: it feeds the row append, the new
    # membership, and the count merge, and must not lazily re-read
    # the rows table it is being appended to
    fresh, written = counted_barrier(fresh)
    if written:
        fresh.write.mode("append").parquet(_rows_path(path))
    _ensure_store_exists(sh, _rows_path(path))

    new_ids = fresh.select(id_col).distinct()
    new_df = fresh.groupBy("sh").agg(F.count("*").cast("long").alias("df"))
    if ids0 is not None:
        new_ids = ids0.select(id_col).unionByName(new_ids)
        new_df = (
            df0.select("sh", "df")
            .unionByName(new_df)
            .groupBy("sh")
            .agg(F.sum("df").cast("long").alias("df"))
        )
    _commit_meta(spark, path, new_ids, new_df, n_rows0 + written)
    _record_store_params(path, params, _SHINGLE_SIDECAR)
    return written


def delete_from_shingle_store(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "doc_id",
) -> int:
    """Remove documents' shingle sets from the store AND decrement the
    doc-frequency table accordingly (VERDICT r9 item 1 — without the
    decrement, deleted documents would keep inflating the hot-shingle
    cap forever). Commit ordering is meta-FIRST (the inverse of the
    write path, same invariant): the swapped ``_meta`` drops the ids,
    subtracts their per-shingle counts, and lowers the row manifest;
    the rows rewrite follows, and a crash in between leaves orphan
    rows that the next heal removes. Idempotent — a retried delete
    intersects the membership to nothing. Returns documents
    removed."""
    from .barrier import barrier
    from .compact import swap_directory

    _heal_shingle_store(spark, path)
    meta = _read_meta(spark, path)
    if meta is None:
        return 0
    ids0, df0, n_rows0 = meta
    victims = barrier(
        ids.select(id_col).distinct().join(
            ids0.select(id_col), id_col, "left_semi"
        ),
    )
    n_victims = victims.count()
    if not n_victims:
        return 0
    rows_path = _rows_path(path)
    dec = barrier(
        spark.read.parquet(rows_path)
        .join(victims, id_col, "left_semi")
        .groupBy("sh")
        .agg(F.count("*").cast("long").alias("ddf")),
    )
    removed_rows = dec.agg(F.sum("ddf")).first()[0] or 0
    new_ids = ids0.select(id_col).join(victims, id_col, "left_anti")
    new_df = (
        df0.select("sh", "df")
        .join(dec, "sh", "left")
        .select(
            "sh",
            (F.col("df") - F.coalesce("ddf", F.lit(0)))
            .cast("long")
            .alias("df"),
        )
        .filter(F.col("df") > 0)
    )
    _commit_meta(spark, path, new_ids, new_df, n_rows0 - removed_rows)
    kept = spark.read.parquet(rows_path).join(victims, id_col, "left_anti")
    staging = rows_path + ".__delete_tmp"
    kept.write.mode("overwrite").parquet(staging)
    swap_directory(staging, rows_path)
    return n_victims


def read_shingle_store(spark: SparkSession, path: str) -> DataFrame:
    """The committed shingle rows. Runs the orphan heal first, so a
    read between a crashed mutation and its retry never sees
    half-written (or half-deleted) shingle sets — the cost is one
    zero-column row-count scan per read (see the layout comment)."""
    _heal_shingle_store(spark, path)
    return spark.read.parquet(_rows_path(path))


def incremental_containment_pairs(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_doc_freq: int | None = None,
    df_counts: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric containment pairs INVOLVING the new batch
    (|A∩B| / |A| ≥ threshold in either direction): batch×store and
    batch×batch, never store×store. Returns ``(contained_id,
    container_id, containment)`` — the contract of
    ``dedup.containment_pairs`` restricted to batch-involving pairs.
    Ids must be disjoint between batch and store.

    Scale shape: the batch's shingle rows are the SMALL side of the
    one store join, broadcast BY CONTRACT (hinted); candidate volume ∝ shingle
    collisions with the batch, independent of |store|². Per-doc sizes
    (the containment denominators) are aggregated ONLY for docs that
    appear in a candidate pair (semi-join restriction) — never a
    corpus-wide size table. The hot-shingle cap comes from
    ``df_counts`` when given — the store's maintained doc-frequency
    sidecar (:func:`read_shingle_df`), a vocabulary-sized table the
    operator tops up with the batch's own counts, avoiding any
    store-wide re-aggregation — else it is computed over store∪batch
    (identical semantics, one extra store scan)."""
    batch_sh = _reuse(_hashed_shingles(new_docs, id_col, text_col, n))
    store_sh = store.select(*batch_sh.columns)
    all_sh = store_sh.unionByName(batch_sh)

    if max_doc_freq is not None:
        if df_counts is not None:
            # sidecar covers the STORE; add the batch's own counts so
            # the cap sees store∪batch — the batch-recompute semantics
            batch_counts = batch_sh.groupBy("sh").agg(
                F.count("*").cast("long").alias("df")
            )
            total = (
                df_counts.select("sh", "df")
                .unionByName(batch_counts)
                .groupBy("sh")
                .agg(F.sum("df").alias("df"))
            )
            hot = total.filter(F.col("df") > max_doc_freq).select("sh")
        else:
            hot = (
                all_sh.groupBy("sh")
                .agg(F.count("*").alias("df"))
                .filter(F.col("df") > max_doc_freq)
                .select("sh")
            )
        hot = _reuse(hot)  # consumed by three anti-joins below
        batch_sh = batch_sh.join(F.broadcast(hot), "sh", "left_anti")
        store_sh = store_sh.join(F.broadcast(hot), "sh", "left_anti")
        all_sh = all_sh.join(F.broadcast(hot), "sh", "left_anti")

    # store×batch rows appear exactly once (ids disjoint by contract);
    # batch×batch pairs come from the self-join with the a<b filter —
    # unioning the two legs avoids a distinct over the candidate rows
    sb_leg = store_sh.select(F.col(id_col).alias("__ida"), "sh").join(
        F.broadcast(batch_sh.select(F.col(id_col).alias("__idb"), "sh")), "sh"
    )
    bb_leg = (
        batch_sh.select(F.col(id_col).alias("__ida"), "sh")
        .join(
            F.broadcast(batch_sh.select(F.col(id_col).alias("__idb"), "sh")),
            "sh",
        )
        .filter(F.col("__ida") < F.col("__idb"))
    )
    common = _reuse(
        sb_leg.unionByName(bb_leg)
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    # candidate-restricted sizes: |kept shingles| only for docs that
    # appear in some pair — candidates are sparse, so the agg state is
    # bounded by candidate count, not corpus size
    involved = (
        common.select(F.col("id_a").alias(id_col))
        .unionByName(common.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sizes = (
        all_sh.join(F.broadcast(involved), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shingles"))
    )
    return containment_directions(common, sizes, id_col, threshold)


# ---------------------------------------------------------------------------
# delete / maintenance for the one-row-per-id signature stores
# (VERDICT r9 item 1 — takedowns, license revocations, and re-crawled
# documents all need removal from the steady-state dedup identity)
# ---------------------------------------------------------------------------


def _delete_rows_by_id(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str
) -> int:
    """Shared eager delete for the one-row-per-id signature stores:
    anti-join rewrite behind the crash-safe sibling staged swap
    (operators/compact.py), with the parameter sidecar files carried
    into the staging dir so the swap preserves the regime guard.
    A FULL rewrite is the right call here — these stores are
    8–32 bytes/doc (~10⁻⁴–10⁻⁵ of corpus bytes), so rewriting the
    whole table costs about one ingest batch, and unlike the IVF
    lists there is no partition key to prune by (fingerprints hash
    uniformly). Idempotent: a retried delete matches nothing and
    rewrites nothing. ``ids`` is broadcast — delete batches are
    ingest-batch-sized by contract. Returns rows removed."""
    import os
    import shutil

    from .compact import recover_tree, swap_directory

    recover_tree(path)
    ids_only = ids.select(id_col).distinct()
    store = spark.read.parquet(path)
    n = store.join(F.broadcast(ids_only), id_col, "left_semi").count()
    if n == 0:
        return 0
    kept = store.join(F.broadcast(ids_only), id_col, "left_anti")
    staging = path.rstrip("/") + ".__delete_tmp"
    kept.write.mode("overwrite").parquet(staging)
    for f in os.listdir(path):
        if f.startswith("_") and f.endswith(".json"):
            shutil.copy2(os.path.join(path, f), os.path.join(staging, f))
    swap_directory(staging, path)
    return n


def delete_from_fingerprint_store(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str = "doc_id"
) -> int:
    """Remove documents from the exact-fingerprint store — after the
    delete, ``incremental_fingerprint_matches`` can never pair a new
    batch against the removed documents. Returns rows removed."""
    return _delete_rows_by_id(spark, path, ids, id_col)


def delete_from_minhash_store(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str = "doc_id"
) -> int:
    """Remove documents from the MinHash signature store. Returns
    rows removed."""
    return _delete_rows_by_id(spark, path, ids, id_col)


def delete_from_simhash_store(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str = "doc_id"
) -> int:
    """Remove documents from the SimHash store. Returns rows
    removed."""
    return _delete_rows_by_id(spark, path, ids, id_col)
