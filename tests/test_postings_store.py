"""Persisted BM25 postings store (operators/postings_store.py):
idempotent ingest, indexed == batch equality, retry-orphan collapse,
empty-doc membership, term-filter pushdown, tokenizer regime guard."""

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from crypto_etl_airflow_spark.operators import postings_store as ps

DOCS = [
    (1, "spark streams merge window join stream data"),
    (2, "window functions rank rows over a window"),
    (3, "join join join merge"),
    (4, "unrelated prose about glaciers"),
    (5, ""),  # tokenless doc: membership row, never scored
]
TERMS = ("join", "merge", "window", "stream")


def _docs(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _batch_bm25(spark, docs, k=10):
    """The certified batch dataflow, as the reference."""
    from crypto_etl_airflow_spark.plans.retrieval import _bm25_agg

    return (
        _bm25_agg(spark, docs)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def test_write_is_idempotent_and_empty_docs_are_members(spark, tmp_path):
    path = str(tmp_path / "idx")
    docs = _docs(spark)
    assert ps.write_postings_store(docs, path) == len(DOCS)
    assert ps.write_postings_store(docs, path) == 0  # retry-safe
    lengths = {r.doc_id: r.dl for r in ps.read_doc_lengths(spark, path).collect()}
    assert lengths[5] == 0  # registered, dl=0
    assert lengths[3] == 4


def test_indexed_equals_batch_operator(spark, tmp_path):
    path = str(tmp_path / "idx")
    docs = _docs(spark)
    ps.write_postings_store(docs.filter(F.col("doc_id") % 2 == 0), path)
    ps.write_postings_store(docs.filter(F.col("doc_id") % 2 == 1), path)
    got = [tuple(r) for r in ps.bm25_topk_indexed(spark, path, TERMS, k=10).collect()]
    want = [tuple(r) for r in _batch_bm25(spark, docs).collect()]
    assert got == want and got


def test_orphan_postings_and_retry_copies_are_harmless(spark, tmp_path):
    """Simulate the crash window: duplicate every postings file (as if
    a crashed append were retried) — query answers must not change,
    and tf must not double."""
    path = str(tmp_path / "idx")
    docs = _docs(spark)
    ps.write_postings_store(docs, path)
    before = [tuple(r) for r in ps.bm25_topk_indexed(spark, path, TERMS).collect()]
    for f in glob.glob(f"{path}/postings/part-*.parquet"):
        shutil.copy(f, f.replace("part-", "copy-"))
    after = [tuple(r) for r in ps.bm25_topk_indexed(spark, path, TERMS).collect()]
    assert after == before


def test_term_filter_reaches_parquet_scan(spark, tmp_path):
    path = str(tmp_path / "idx")
    ps.write_postings_store(_docs(spark), path)
    df = ps.bm25_topk_indexed(spark, path, TERMS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "In(term" in plan


def test_tokenizer_regime_guard(spark, tmp_path):
    path = str(tmp_path / "idx")
    ps.write_postings_store(_docs(spark), path)
    import json

    sc = f"{path}/{ps._SIDECAR}"
    with open(sc, "w") as f:
        json.dump({"tokenizer": "bpe", "version": 1}, f)
    with pytest.raises(ValueError, match="refusing"):
        ps.write_postings_store(_docs(spark), path)


def test_empty_first_write_creates_queryable_store(spark, tmp_path):
    path = str(tmp_path / "idx")
    empty = _docs(spark).filter(F.col("doc_id") < 0)
    assert ps.write_postings_store(empty, path) == 0
    assert ps.bm25_topk_indexed(spark, path, TERMS).count() == 0


# ---------------------------------------------------------------------------
# r10: merge-on-read maintenance (tombstones + epochs) — delete,
# upsert, compaction
# ---------------------------------------------------------------------------


def test_delete_is_tombstone_only_and_idempotent(spark, tmp_path):
    path = str(tmp_path / "idx")
    docs = _docs(spark)
    ps.write_postings_store(docs, path)
    victims = docs.filter(F.col("doc_id").isin(2, 3)).select("doc_id")
    assert ps.delete_from_postings_store(spark, path, victims) == 2
    assert ps.delete_from_postings_store(spark, path, victims) == 0  # retry
    # physically nothing was rewritten — merge-on-read
    assert ps.read_doc_lengths(spark, path).count() == len(DOCS)
    got = {r.doc_id for r in ps.bm25_topk_indexed(spark, path, TERMS).collect()}
    want = {
        r.doc_id
        for r in _batch_bm25(
            spark, docs.filter(~F.col("doc_id").isin(2, 3))
        ).collect()
    }
    assert got == want and 2 not in got and 3 not in got


def test_deleted_doc_can_reregister(spark, tmp_path):
    path = str(tmp_path / "idx")
    docs = _docs(spark)
    ps.write_postings_store(docs, path)
    ps.delete_from_postings_store(
        spark, path, docs.filter(F.col("doc_id") == 1).select("doc_id")
    )
    assert ps.write_postings_store(docs.filter(F.col("doc_id") == 1), path) == 1
    got = [tuple(r) for r in ps.bm25_topk_indexed(spark, path, TERMS).collect()]
    want = [tuple(r) for r in _batch_bm25(spark, docs).collect()]
    assert got == want


def test_upsert_replaces_revised_document(spark, tmp_path):
    """The r9 gap: a revised document was silently skipped by the
    write path's idempotence anti-join. Upsert must serve the NEW
    text's postings, never the stale version's."""
    path = str(tmp_path / "idx")
    docs = _docs(spark)
    ps.write_postings_store(docs, path)
    revised_rows = [(3, "glaciers and prose"), (9, "a brand new window doc")]
    revised = _docs(spark, revised_rows)
    removed, added = ps.upsert_postings_store(revised, path)
    assert (removed, added) == (1, 2)  # 3 was live; 9 is an insert
    want_docs = _docs(
        spark, [r for r in DOCS if r[0] != 3] + revised_rows
    )
    got = [tuple(r) for r in ps.bm25_topk_indexed(spark, path, TERMS).collect()]
    want = [tuple(r) for r in _batch_bm25(spark, want_docs).collect()]
    assert got == want
    # upsert retry converges (idempotent end state)
    ps.upsert_postings_store(revised, path)
    again = [tuple(r) for r in ps.bm25_topk_indexed(spark, path, TERMS).collect()]
    assert again == want


def test_compact_drops_dead_rows_and_clears_tombstones(spark, tmp_path):
    path = str(tmp_path / "idx")
    docs = _docs(spark)
    ps.write_postings_store(docs, path)
    ps.delete_from_postings_store(
        spark, path, docs.filter(F.col("doc_id").isin(2, 4)).select("doc_id")
    )
    ps.upsert_postings_store(_docs(spark, [(3, "merge stream")]), path)
    before = [tuple(r) for r in ps.bm25_topk_indexed(spark, path, TERMS).collect()]
    live = ps.compact_postings_store(spark, path)
    assert live == len(DOCS) - 2
    # dead versions physically gone, tombstones cleared
    assert ps.read_doc_lengths(spark, path).count() == live
    assert ps.read_tombstones(spark, path).count() == 0
    lengths = ps.read_doc_lengths(spark, path)
    assert lengths.join(
        ps.read_postings_store(spark, path), ["doc_id", "epoch"], "left_anti"
    ).filter(F.col("dl") > 0).count() == 0
    after = [tuple(r) for r in ps.bm25_topk_indexed(spark, path, TERMS).collect()]
    assert after == before  # compaction never changes answers


def test_custom_id_col_full_lifecycle(spark, tmp_path):
    """write → delete → upsert → COMPACT → query with id_col='page_id'
    — compaction previously hardcoded doc_id and threw
    AnalysisException on any custom-id store (round-11 ADVICE)."""
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(i, t) for i, t in DOCS], "page_id long, text string"
    )
    ps.write_postings_store(docs, path, id_col="page_id")
    ps.delete_from_postings_store(
        spark,
        path,
        docs.filter(F.col("page_id").isin(2, 4)).select("page_id"),
        id_col="page_id",
    )
    ps.upsert_postings_store(
        spark.createDataFrame([(3, "merge stream")], "page_id long, text string"),
        path,
        id_col="page_id",
    )
    before = [
        tuple(r)
        for r in ps.bm25_topk_indexed(
            spark, path, TERMS, id_col="page_id"
        ).collect()
    ]
    live = ps.compact_postings_store(spark, path, id_col="page_id")
    assert live == len(DOCS) - 2
    assert ps.read_tombstones(spark, path).count() == 0
    after = [
        tuple(r)
        for r in ps.bm25_topk_indexed(
            spark, path, TERMS, id_col="page_id"
        ).collect()
    ]
    assert after == before and before


def test_stats_sidecar_tracks_mutations_and_query_drops_scan(spark, tmp_path):
    """(N, Σdl) sidecar (r12, the 1.74×/decade membership-pass fix):
    every mutation leaves stats equal to the scan-computed truth, the
    query answers identically with the sidecar deleted (fallback), a
    STALE sidecar (simulated crash window: data file appended without
    a stats row) is detected by the filesystem fingerprint, and
    compaction heals it."""
    import shutil as _sh

    path = str(tmp_path / "idx")
    docs = _docs(spark)

    def scan():
        return ps._scan_stats(spark, path)

    def sidecar():
        r = ps._valid_stats(spark, path)
        assert r is not None, "sidecar unexpectedly stale/absent"
        return (int(r.n), int(r.sum_dl))

    ps.write_postings_store(docs, path)
    assert sidecar() == scan()
    ps.delete_from_postings_store(
        spark, path, docs.filter(F.col("doc_id").isin(2, 4)).select("doc_id")
    )
    assert sidecar() == scan()
    ps.upsert_postings_store(_docs(spark, [(3, "merge stream")]), path)
    assert sidecar() == scan()

    with_stats = [
        tuple(r) for r in ps.bm25_topk_indexed(spark, path, TERMS).collect()
    ]
    assert with_stats

    # fallback: no sidecar at all -> same answers
    _sh.rmtree(f"{path}/stats")
    assert ps._valid_stats(spark, path) is None
    no_stats = [
        tuple(r) for r in ps.bm25_topk_indexed(spark, path, TERMS).collect()
    ]
    assert no_stats == with_stats

    # rebuild, then simulate the crash window: a lengths file appears
    # with no stats row -> fingerprint mismatch -> stale -> fallback
    ps.compact_postings_store(spark, path)
    assert ps._valid_stats(spark, path) is not None
    lfiles = [
        f
        for f in glob.glob(f"{path}/lengths/**/*.parquet", recursive=True)
    ]
    _sh.copy(lfiles[0], lfiles[0].replace(".parquet", "_retry.parquet"))
    assert ps._valid_stats(spark, path) is None  # detected
    stale = [
        tuple(r) for r in ps.bm25_topk_indexed(spark, path, TERMS).collect()
    ]
    # the duplicated file is an exact-copy retry: collapsed by the
    # query path, so answers are still correct via the scan fallback
    assert stale == with_stats
    ps.compact_postings_store(spark, path)  # heals
    assert ps._valid_stats(spark, path) is not None
    assert sidecar() == scan()


def test_stats_fingerprint_detects_same_count_divergence(spark, tmp_path):
    """ADVICE r12: a crashed append (+1 file) followed by a crashed
    compact can land lengths back on the SAME file count while
    holding different data — bare counts would validate the stale
    (N, Σdl). The digest must catch a content change at constant
    count, down to a same-name, same-size rewrite of one file."""
    path = str(tmp_path / "store")
    ps.write_postings_store(_docs(spark), path)
    assert ps._valid_stats(spark, path) is not None
    lfiles = sorted(
        glob.glob(f"{path}/lengths/**/*.parquet", recursive=True)
    )
    assert lfiles
    import os as _os

    # rewrite one file in place with the same name and size; the
    # explicit mtime step keeps the rewrite visible on filesystems
    # with coarse timestamps
    target = lfiles[0]
    st = _os.stat(target)
    data = open(target, "rb").read()
    with open(target, "wb") as f:
        f.write(data)
    _os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert _os.path.getsize(target) == st.st_size
    assert ps._valid_stats(spark, path) is None  # detected
