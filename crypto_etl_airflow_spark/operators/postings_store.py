"""Persisted BM25 postings store — retrieval's steady-state form.

The batch BM25 query (plans/retrieval.py::similarity_bm25_topk)
re-tokenizes the whole corpus per query — right for a one-shot sweep,
wrong for a search/curation workload at 100 TB: the postings table
``(doc_id, term, tf)`` and the document-length table ``(doc_id, dl)``
are the things you compute ONCE per ingest and query many times
(every search engine's inverted-index split; the store analogue of
operators/dedup_store.py for lexical retrieval).

Layout: ``{path}/postings`` + ``{path}/lengths`` +
``{path}/tombstones`` parquet, plus a tokenizer sidecar (a store
tokenized one way must not be extended under another — same regime
guard as the signature stores).

Ingest discipline (one commit point): ``lengths`` is the membership
record and is written LAST — the idempotence anti-join keys on it, so
a retried batch appends nothing. The crash window (postings appended,
lengths not yet) leaves orphan postings rows; they are invisible at
query time because scoring joins postings to ``lengths`` on
(doc_id, epoch) — needed anyway for the length normalizer — and the
retry's re-appended rows are EXACT copies of the orphans, which the
query path collapses with one ``dropDuplicates`` AFTER the query-term
filter (a few rows, not a corpus-wide shuffle).

Maintenance (VERDICT r9 item 1) is merge-on-read, the lakehouse
DELETE shape — an eager delete would rewrite the WHOLE postings table
because a document's rows scatter across every term, with no
partition to prune (unlike the IVF lists, which are
centroid-partitioned and delete by targeted partition rewrite):

- every ingest batch carries an ``epoch`` (monotone per store, read
  as max(lengths.epoch)+1 — deterministic, no clocks);
- ``delete_from_postings_store`` appends TOMBSTONES ``(doc_id,
  upto)``: a membership row is dead iff its epoch ≤ some tombstone's
  ``upto`` for its id. The tombstone append is the delete's entire
  commit — O(|ids|) bytes, zero store rewrite;
- ``upsert_postings_store`` = tombstone the batch's live ids, then
  ingest the batch at a fresh epoch (> every ``upto``), so re-added
  and revised documents coexist physically with their dead versions
  until compaction — the query path sees only the live ones;
- ``compact_postings_store`` physically drops dead rows (crash-safe
  staged swaps, live-filter order documented there) and clears the
  tombstones — the OPTIMIZE step a steady delete workload schedules.

Query shape at 100 TB: the query-term predicate is a scan filter on
the postings parquet (``term IN (...)`` reaches PushedFilters — only
matching row groups read, no tokenization at query time); tombstones
are delete-batch-sized and broadcast into the liveness anti-join on
the doc-count-sized lengths table; per-term document frequencies and
the (N, avgdl) scalar broadcast; the only doc-keyed join carries
matching postings; the top-k is TakeOrderedAndProject."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.local import local_frame
from .dedup import _reuse
from .dedup_store import _ensure_store_exists
from .upsert import _counted_barrier, _lineage_barrier

_PARAMS = {"tokenizer": "ws_lower", "version": 2}
_SIDECAR = "_postings_store_params.json"
_TOMB_SCHEMA = "doc_id long, upto long"

# (N, Σdl) sidecar over live docs with dl > 0 — the BM25 globals the
# query path previously re-aggregated from a full lengths scan per
# query (the r10/r11 1.74×/decade membership-pass watch item). Every
# mutation appends one row versioned by ``sver``; ``n_len_files`` /
# ``n_tomb_files`` fingerprint the filesystem state the row describes
# (pure directory metadata, no scan), so a crash BETWEEN a data
# append and its stats append is detected — the fingerprints no
# longer match — and the reader falls back to the scan-aggregation
# until the next mutation/compaction recomputes and heals. Duplicate
# rows from a retried stats append are identical at the same sver
# and collapse under max(sver).
_STATS_SCHEMA = "sver long, n long, sum_dl long, n_len_files long, n_tomb_files long"


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # the ws_lower tokenizer: identical to the batch BM25 and the
    # DuckDB oracle's string_split_regex(lower(text), '\s+')
    return docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")


def _check_sidecar(path: str) -> None:
    sc = os.path.join(path, _SIDECAR)
    if os.path.exists(sc):
        with open(sc) as f:
            existing = json.load(f)
        if existing != _PARAMS:
            raise ValueError(
                f"postings store {path} was built with {existing}; "
                f"refusing to extend with {_PARAMS}"
            )


def read_tombstones(spark: SparkSession, path: str) -> DataFrame:
    tomb_path = f"{path}/tombstones"
    if not os.path.isdir(tomb_path):
        return local_frame(spark, [], _TOMB_SCHEMA)
    # a hammered retry appends duplicate tombstone rows — harmless to
    # liveness, collapsed here so the anti-join stays minimal
    return spark.read.parquet(tomb_path).dropDuplicates(["doc_id", "upto"])


def read_live_doc_lengths(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Membership rows still alive: lengths anti-joined against the
    tombstones (dead iff epoch ≤ some tombstone's upto for the id).
    Tombstones broadcast — they are delete-batch-sized between
    compactions, while lengths is doc-count-sized. Exact-copy rows
    from an interrupted-retry append are collapsed on (id, epoch) —
    the same discipline as the postings read path; without it a
    retry-duplicated lengths file double-counts every per-doc dl and
    the scan-fallback (N, Σdl)."""
    lengths = read_doc_lengths(spark, path).dropDuplicates([id_col, "epoch"])
    tombs = read_tombstones(spark, path)
    return lengths.alias("l").join(
        F.broadcast(tombs).alias("t"),
        (F.col(f"l.{id_col}") == F.col("t.doc_id"))
        & (F.col("l.epoch") <= F.col("t.upto")),
        "left_anti",
    )


def _data_file_counts(path: str) -> tuple[int, int]:
    """Filesystem fingerprints of lengths/ and tombstones/ for the
    stats sidecar — a 63-bit digest of the sorted (relative name,
    size, mtime_ns) listing of each tree, NOT a bare file count
    (ADVICE r12): counts alone don't identify filesystem state — a
    crashed append (+1 file, no stats row) followed by a crashed
    compact can land back on the fingerprinted COUNT while holding
    different data, validating a stale (N, Σdl). Name+size alone
    misses a same-size rewrite under the same name; the modification
    time catches it, so any file added, removed, renamed, or
    rewritten invalidates the row. Pure directory metadata, no scan;
    kept as two longs so the sidecar schema is unchanged and rows
    written under an older digest simply fail validation (reader
    falls back to the lengths scan until the next mutation heals)."""
    import hashlib

    def _entry(root: str, fn: str, d: str) -> str:
        full = os.path.join(root, fn)
        st = os.stat(full)
        return f"{os.path.relpath(full, d)}:{st.st_size}:{st.st_mtime_ns}"

    def _digest(d: str) -> int:
        if not os.path.isdir(d):
            return 0
        entries = sorted(
            _entry(root, fn, d)
            for root, _dirs, files in os.walk(d)
            for fn in files
            if fn.endswith(".parquet")
        )
        h = hashlib.sha256("\n".join(entries).encode()).digest()
        return int.from_bytes(h[:8], "big") >> 1  # fits a signed long

    return _digest(f"{path}/lengths"), _digest(f"{path}/tombstones")


def read_store_stats(spark: SparkSession, path: str):
    """Latest stats sidecar row (max sver) or None if never written."""
    sp = f"{path}/stats"
    if not os.path.isdir(sp):
        return None
    rows = spark.read.parquet(sp).collect()  # a handful of tiny rows
    if not rows:
        return None
    return max(rows, key=lambda r: r.sver)


def _valid_stats(spark: SparkSession, path: str):
    """The stats row iff its filesystem fingerprint matches the store
    as it exists NOW — None means stale (crashed mutation window) or
    absent, and the caller must aggregate from the lengths scan."""
    row = read_store_stats(spark, path)
    if row is None:
        return None
    if (row.n_len_files, row.n_tomb_files) != _data_file_counts(path):
        return None
    return row


def _scan_stats(spark: SparkSession, path: str, id_col: str = "doc_id") -> tuple[int, int]:
    """(N, Σdl) over live docs with dl > 0, from the authoritative
    lengths scan — the fallback and the healing source."""
    row = (
        read_live_doc_lengths(spark, path, id_col)
        .filter(F.col("dl") > 0)
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
        )
        .first()
    )
    return int(row["n"]), int(row["s"])


def _commit_stats(spark: SparkSession, path: str, n: int, sum_dl: int) -> None:
    """Append the post-mutation stats row, fingerprinting the store's
    CURRENT directory state. Called as the LAST step of a mutation."""
    prev = read_store_stats(spark, path)
    sver = (int(prev.sver) + 1) if prev is not None else 1
    lf, tf = _data_file_counts(path)
    local_frame(
        spark, [(sver, int(n), int(sum_dl), lf, tf)], _STATS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(f"{path}/stats")


def _max_epoch(spark: SparkSession, path: str) -> int:
    lengths_path = f"{path}/lengths"
    if not os.path.isdir(lengths_path):
        return 0
    row = spark.read.parquet(lengths_path).agg(F.max("epoch")).first()
    return int(row[0]) if row and row[0] is not None else 0


def write_postings_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Tokenize and register a batch at a fresh epoch, idempotently
    per LIVE doc id (the anti-join keys on the live membership, so a
    deleted document can re-register — see the module docstring for
    the commit discipline). Documents with no tokens still get a
    ``dl = 0`` membership row, so they are never re-processed.
    Returns documents registered."""
    spark = docs.sparkSession
    _check_sidecar(path)
    os.makedirs(path, exist_ok=True)
    lengths_path = f"{path}/lengths"
    if os.path.isdir(lengths_path):
        existing = read_live_doc_lengths(spark, path, id_col).select(id_col)
        fresh = docs.join(existing, id_col, "left_anti")
    else:
        fresh = docs
    # stats base must be read against the PRE-mutation fingerprint
    base_stats = _valid_stats(spark, path)
    epoch = _max_epoch(spark, path) + 1
    fresh, n = _counted_barrier(spark, fresh, None)
    if n:
        tok = _reuse(_tokens(fresh, id_col, text_col))
        postings = tok.groupBy(id_col, "term").agg(
            F.count("*").cast("long").alias("tf")
        ).withColumn("epoch", F.lit(epoch).cast("long"))
        postings.write.mode("append").parquet(f"{path}/postings")
        lengths = (
            fresh.select(id_col)
            .join(
                tok.groupBy(id_col).agg(F.count("*").cast("long").alias("dl")),
                id_col,
                "left",
            )
            .select(
                id_col,
                F.coalesce("dl", F.lit(0)).cast("long").alias("dl"),
                F.lit(epoch).cast("long").alias("epoch"),
            )
        )
        lengths = _lineage_barrier(spark, lengths, None)
        lengths.write.mode("append").parquet(lengths_path)  # the commit
        drow = (
            lengths.filter(F.col("dl") > 0)
            .agg(
                F.count("*").alias("dn"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("ds"),
            )
            .first()
        )
        if base_stats is not None:
            new_n = int(base_stats.n) + int(drow["dn"])
            new_s = int(base_stats.sum_dl) + int(drow["ds"])
        else:
            new_n, new_s = _scan_stats(spark, path, id_col)
        _commit_stats(spark, path, new_n, new_s)
    _ensure_store_exists(
        docs.select(
            F.col(id_col),
            F.lit("").alias("term"),
            F.lit(0).cast("long").alias("tf"),
            F.lit(0).cast("long").alias("epoch"),
        ),
        f"{path}/postings",
    )
    _ensure_store_exists(
        docs.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("dl"),
            F.lit(0).cast("long").alias("epoch"),
        ),
        lengths_path,
    )
    with open(os.path.join(path, _SIDECAR), "w") as f:
        json.dump(_PARAMS, f)
    return n


def delete_from_postings_store(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "doc_id",
) -> int:
    """Remove documents from the store by TOMBSTONE — merge-on-read,
    zero store rewrite (see the module docstring for why eager delete
    is the wrong shape for an inverted index). The appended rows
    ``(doc_id, upto = current max epoch)`` kill every existing
    version of the id while leaving any FUTURE re-registration (at
    epoch max+1 or later) alive. Only currently-live ids are
    tombstoned, so the returned count is meaningful and a retried
    delete appends nothing. The single small append is the delete's
    commit point."""
    _check_sidecar(path)
    base_stats = _valid_stats(spark, path)
    live = read_live_doc_lengths(spark, path, id_col).select(
        F.col(id_col).alias("doc_id"), "dl"
    )
    victims = (
        ids.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .join(live, "doc_id")  # inner: keeps each victim's dl
    )
    victims = _lineage_barrier(spark, victims, None)
    n = victims.select("doc_id").distinct().count()
    if n:
        upto = _max_epoch(spark, path)
        victims.select("doc_id").distinct().select(
            "doc_id", F.lit(upto).cast("long").alias("upto")
        ).write.mode("append").parquet(f"{path}/tombstones")
        drow = (
            victims.filter(F.col("dl") > 0)
            .agg(
                F.count("*").alias("dn"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("ds"),
            )
            .first()
        )
        if base_stats is not None:
            new_n = int(base_stats.n) - int(drow["dn"])
            new_s = int(base_stats.sum_dl) - int(drow["ds"])
        else:
            new_n, new_s = _scan_stats(spark, path, id_col)
        _commit_stats(spark, path, new_n, new_s)
    return n


def upsert_postings_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[int, int]:
    """Replace-or-insert documents: the re-crawl / revision shape —
    ``write_postings_store`` alone is insert-if-absent, so a revised
    document would be silently skipped by its idempotence anti-join
    (the r9 gap this closes). Tombstones the batch's live ids, then
    registers the batch at a fresh epoch. NOT atomic across the two
    steps — a crash in between leaves the ids absent until the
    (idempotent) retry, the same documented window as
    ``upsert_ivf_index``; a stale version is never served because
    liveness is epoch-checked. Returns (tombstoned, added)."""
    removed = delete_from_postings_store(
        docs.sparkSession, path, docs.select(id_col), id_col
    )
    added = write_postings_store(docs, path, id_col, text_col)
    return removed, added


def compact_postings_store(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> int:
    """Physically drop dead rows and clear the tombstones — the
    OPTIMIZE step that bounds merge-on-read debt. Rewrite order is
    the safety argument: postings first (a crash after leaves dead
    lengths rows + live tombstones — queries still correct), lengths
    second (now fully live; tombstones match nothing), tombstones
    cleared last. Each rewrite is a crash-safe staged sibling swap.
    ``id_col`` must match the name the store was written with (the
    write/delete/query paths all take it; a mismatch previously
    surfaced as an AnalysisException on the hardcoded ``doc_id``).
    Returns live membership rows remaining."""
    import shutil

    from .compact import recover_tree, swap_directory

    _check_sidecar(path)
    recover_tree(path)
    live = _lineage_barrier(
        spark,
        read_live_doc_lengths(spark, path, id_col).select(id_col, "epoch"),
        None,
    )
    for table in ("postings", "lengths"):
        tpath = f"{path}/{table}"
        kept = spark.read.parquet(tpath).join(
            live, [id_col, "epoch"], "left_semi"
        )
        staging = tpath + ".__compact_tmp"
        kept.write.mode("overwrite").parquet(staging)
        swap_directory(staging, tpath)
    tomb_path = f"{path}/tombstones"
    if os.path.isdir(tomb_path):
        shutil.rmtree(tomb_path)
    # heal the stats sidecar from the now-fully-live store (also the
    # recovery path after a crashed mutation left the sidecar stale)
    new_n, new_s = _scan_stats(spark, path, id_col)
    _commit_stats(spark, path, new_n, new_s)
    return live.count()


def read_postings_store(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/postings")


def read_doc_lengths(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/lengths")


def bm25_topk_indexed(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 top-k against the persisted store — no tokenization
    at query time; same output contract as the batch query:
    ``(doc_id, bm25, n_hit_terms)`` ordered by (bm25 DESC, doc_id).
    Scoring joins postings to the LIVE membership on
    (doc_id, epoch), so tombstoned versions never score and dead
    lengths never enter (N, avgdl).

    Query plan since r12 (the 1.74×/decade membership-pass fix): the
    corpus globals (N, avgdl) come from the maintained stats sidecar
    as LITERALS — no per-query lengths aggregation — and liveness +
    length attachment is ONE join of the term-matched postings to the
    lengths table, materialized once (query-term-bounded) and reused
    by both the per-term document frequencies and the scoring, so
    lengths is scanned once per query instead of three times. A stale
    sidecar (crashed mutation window, detected by its filesystem
    fingerprint) falls back to the scan aggregation — exact either
    way."""
    qtf = (
        read_postings_store(spark, path)
        .filter(F.col("term").isin(*terms))
        # collapse exact-copy rows from an interrupted-retry append;
        # runs on the filtered slice only
        .dropDuplicates([id_col, "term", "epoch"])
    )
    dl = read_live_doc_lengths(spark, path, id_col).filter(F.col("dl") > 0)
    # liveness + dl in ONE pass over lengths; bounded by matching
    # postings, persisted (lineage kept — executor-loss-safe, and the
    # plan stays live for pushdown audits) so both consumers below
    # reuse it without re-scanning the store
    qdl = _reuse(qtf.join(dl, [id_col, "epoch"]))
    dfreq = qdl.groupBy("term").agg(
        F.count_distinct(id_col).alias("dfq")
    )
    stats_row = _valid_stats(spark, path)
    if stats_row is not None and int(stats_row.n) > 0:
        n_col = F.lit(int(stats_row.n))
        avgdl_col = F.lit(int(stats_row.sum_dl) / int(stats_row.n))
        base = qdl.join(F.broadcast(dfreq), "term")
    else:
        stats = dl.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n"))
        n_col, avgdl_col = F.col("n"), F.col("avgdl")
        base = (
            qdl.join(F.broadcast(dfreq), "term")
            .crossJoin(F.broadcast(stats))
        )
    scored = base.select(
        id_col,
        (
            F.log(
                (n_col - F.col("dfq") + F.lit(0.5))
                / (F.col("dfq") + F.lit(0.5))
                + F.lit(1.0)
            )
            * (F.col("tf") * F.lit(k1 + 1))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1 - b) + F.lit(b) * F.col("dl") / avgdl_col)
            )
        ).alias("sc"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.round(F.sum("sc"), 6).alias("bm25"),
            F.count("*").cast("int").alias("n_hit_terms"),
        )
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )
