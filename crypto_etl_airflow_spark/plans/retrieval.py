"""Lexical retrieval + exact-substring dedup queries.

Two more pillars of an LLM training-data pipeline:

- **BM25 top-k retrieval** (``similarity_bm25_topk``): the lexical
  complement to the embedding ANN family in operators/similarity.py —
  data-curation pipelines use BM25 both for quality-aware selection
  (retrieve documents similar to a trusted seed set) and for eval-set
  decontamination by lexical overlap. Pure dataflow: one tokenize
  pass feeds term frequencies AND document lengths; query terms and
  the per-term document frequencies are broadcast; the final top-k is
  an ORDER BY + LIMIT (TakeOrderedAndProject — per-partition heaps,
  no global sort).

- **Exact-substring dedup** (``dedup_substring_spans``,
  ``dedup_substring_removal``): the distributed re-expression of Lee
  et al.'s suffix-array dedup (operators/substrings.py) — repeated
  k-char windows found by ONE hash shuffle, merged into maximal spans
  per document, optionally excised keep-first.

The fixture corpus is random-word text, so verbatim cross-document
repeats ≥32 chars are not guaranteed; the substring queries therefore
plant deterministic boilerplate IN-PLAN (the _augment technique of
plans/curation.py): docs with ``doc_id % 5 = 0`` get a newsletter
banner prepended, docs with ``doc_id % 7 = 3`` get a rights notice
appended. Spark builder and DuckDB oracle construct byte-identical
corpora, so the span offsets and the RECONSTRUCTED CLEAN TEXT are
hash-compared value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.substrings import remove_repeated_spans, repeated_window_spans
from ..sources.local import local_frame
from ..sources.tables import load_table
from .extensions import _V_CTE, _cosine
from .registry import register

# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

BM25_QUERY_TERMS = ("join", "merge", "window", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20

_TERMS_SQL = "[" + ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS) + "]"


@register(
    "similarity_bm25_topk",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
        FROM documents
    ),
    tok2 AS (SELECT * FROM tok WHERE term != ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
    q AS (SELECT unnest({_TERMS_SQL}) AS term),
    qtf AS (SELECT tf.* FROM tf JOIN q USING (term)),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS dfq FROM qtf GROUP BY 1),
    scored AS (
        SELECT qtf.doc_id,
               ln((s.n - d.dfq + 0.5) / (d.dfq + 0.5) + 1)
               * (qtf.tf * ({BM25_K1} + 1))
               / (qtf.tf + {BM25_K1}
                  * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)) AS sc
        FROM qtf
        JOIN dfreq d USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    )
    SELECT doc_id, round(sum(sc), 6) AS bm25,
           CAST(count(*) AS INTEGER) AS n_hit_terms
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
    """,
    tags=("similarity", "text", "retrieval"),
    bench=True,
)
def similarity_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a fixed 4-term query (k1=1.2, b=0.75,
    idf = ln((N−df+0.5)/(df+0.5)+1)).

    100 TB shape: tokenization is one explode (linear); the query-term
    filter runs BEFORE the tf groupBy, so the wide (doc, term) shuffle
    carries only matching postings — the full-vocabulary postings
    never shuffle; document lengths are one narrow doc-keyed groupBy;
    per-term document frequencies and the (avgdl, N) scalar are
    broadcast, so scoring adds no shuffle beyond the tf⋈dl doc-key
    join; the top-k is ORDER BY + LIMIT, which Spark executes as
    TakeOrderedAndProject (per-partition heaps — never a global
    sort). The exploded token stream is deliberately NOT persisted
    across its two consumers: re-reading the parquet text column is
    cheaper at scale than materializing a token stream ~10× the
    corpus size. At a real deployment the (doc_id, term, tf) postings
    table is the thing you persist once and query many times.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _bm25_agg(spark, docs).orderBy(
        F.desc("bm25"), F.asc("doc_id")
    ).limit(BM25_TOPK)


def _bm25_agg(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """(doc_id, bm25, n_hit_terms) for every document with ≥1 query
    term — the un-truncated BM25 aggregate the top-k and the hybrid
    fusion both rank."""
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    # the term filter comes BEFORE the tf groupBy: only query-term
    # hits enter the wide (doc, term) shuffle — at 100 TB the
    # difference between shuffling the full postings table and
    # shuffling the handful of matching postings (grouping the whole
    # vocabulary and joining the query terms after computes identical
    # counts, just 10⁴× more of them)
    qtf = (
        tok.filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n"))
    dfreq = qtf.groupBy("term").agg(F.count_distinct("doc_id").alias("dfq"))
    scored = (
        qtf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    (F.col("n") - F.col("dfq") + F.lit(0.5))
                    / (F.col("dfq") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (F.col("tf") * F.lit(BM25_K1 + 1))
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1 - BM25_B)
                        + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("sc"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("sc"), 6).alias("bm25"),
        F.count("*").cast("int").alias("n_hit_terms"),
    )


@register(
    "similarity_bm25_indexed",
    # store ∪ batch = the full corpus under the identical tokenizer,
    # so the batch query's full-corpus oracle certifies the indexed
    # path verbatim
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
        FROM documents
    ),
    tok2 AS (SELECT * FROM tok WHERE term != ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
    q AS (SELECT unnest({_TERMS_SQL}) AS term),
    qtf AS (SELECT tf.* FROM tf JOIN q USING (term)),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS dfq FROM qtf GROUP BY 1),
    scored AS (
        SELECT qtf.doc_id,
               ln((s.n - d.dfq + 0.5) / (d.dfq + 0.5) + 1)
               * (qtf.tf * ({BM25_K1} + 1))
               / (qtf.tf + {BM25_K1}
                  * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)) AS sc
        FROM qtf
        JOIN dfreq d USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    )
    SELECT doc_id, round(sum(sc), 6) AS bm25,
           CAST(count(*) AS INTEGER) AS n_hit_terms
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
    """,
    tags=("similarity", "text", "retrieval", "incremental", "extension"),
)
def similarity_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k against a PERSISTED postings store
    (operators/postings_store.py) — the steady-state form of
    ``similarity_bm25_topk``: the corpus is tokenized ONCE per ingest
    into ``(doc_id, term, tf)`` postings + ``(doc_id, dl)`` lengths
    (store slice doc_id % 4 != 0 first, then the batch, idempotently);
    the query reads only the query terms' postings rows (the
    ``term IN (...)`` predicate reaches the parquet scan — zero
    query-time tokenization) and must equal the batch query's
    full-corpus answer, which the oracle recomputes."""
    import os
    import tempfile

    from ..operators import postings_store

    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(prefix="bm25_store_") as tmp:
        path = os.path.join(tmp, "index")
        postings_store.write_postings_store(
            docs.filter(F.col("doc_id") % 4 != 0), path
        )
        postings_store.write_postings_store(
            docs.filter(F.col("doc_id") % 4 == 0), path
        )
        out = postings_store.bm25_topk_indexed(
            spark, path, BM25_QUERY_TERMS, k=BM25_TOPK, k1=BM25_K1, b=BM25_B
        )
        rows = out.collect()
    return local_frame(spark, rows, out.schema)


# the store after delete(doc_id % 20 = 0) + upsert(doc_id % 7 = 0 with
# doubled text) serves exactly this corpus — deleted docs are gone
# UNLESS the upsert re-added them, and upserted docs score their
# REVISED text (the stale version is tombstoned)
_MAINTAINED_CORPUS_SQL = """
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text
                    ELSE text END AS text
        FROM documents
        WHERE doc_id % 20 != 0 OR doc_id % 7 = 0
"""


@register(
    "similarity_bm25_maintained",
    oracle=f"""
    WITH corpus AS ({_MAINTAINED_CORPUS_SQL}),
    tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
        FROM corpus
    ),
    tok2 AS (SELECT * FROM tok WHERE term != ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
    q AS (SELECT unnest({_TERMS_SQL}) AS term),
    qtf AS (SELECT tf.* FROM tf JOIN q USING (term)),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS dfq FROM qtf GROUP BY 1),
    scored AS (
        SELECT qtf.doc_id,
               ln((s.n - d.dfq + 0.5) / (d.dfq + 0.5) + 1)
               * (qtf.tf * ({BM25_K1} + 1))
               / (qtf.tf + {BM25_K1}
                  * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)) AS sc
        FROM qtf
        JOIN dfreq d USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    )
    SELECT doc_id, round(sum(sc), 6) AS bm25,
           CAST(count(*) AS INTEGER) AS n_hit_terms
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
    """,
    tags=("similarity", "text", "retrieval", "incremental", "extension"),
)
def similarity_bm25_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The postings store through its FULL maintenance lifecycle in
    one certified path (VERDICT r9 item 1 — the
    ``similarity_topk_ivf_maintained`` pattern, for lexical
    retrieval): register the corpus, DELETE doc_id % 20 = 0 (pure
    tombstone append — merge-on-read, zero rewrite), UPSERT
    doc_id % 7 = 0 with REVISED text (doubled — its tf and dl
    change, so a stale answer is value-detectable, and the %140
    overlap re-adds deleted docs), then COMPACT (physical drop of
    dead versions + tombstone clear), and answer the fixed BM25
    query. The oracle recomputes BM25 over the logically-surviving
    corpus, so tombstone liveness, epoch replacement, AND compaction
    are all certified value-for-value
    (operators/postings_store.py)."""
    import os
    import tempfile

    from ..operators import postings_store

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    with tempfile.TemporaryDirectory(prefix="bm25_maint_") as tmp:
        path = os.path.join(tmp, "index")
        postings_store.write_postings_store(docs, path)
        postings_store.delete_from_postings_store(
            spark, path, docs.filter(did % 20 == 0).select("doc_id")
        )
        revised = docs.filter(did % 7 == 0).withColumn(
            "text", F.concat_ws(" ", F.col("text"), F.col("text"))
        )
        postings_store.upsert_postings_store(revised, path)
        postings_store.compact_postings_store(spark, path)
        out = postings_store.bm25_topk_indexed(
            spark, path, BM25_QUERY_TERMS, k=BM25_TOPK, k1=BM25_K1, b=BM25_B
        )
        rows = out.collect()
    return local_frame(spark, rows, out.schema)


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 ⊕ dense-cosine, fused by Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
HYBRID_N = 50  # depth of each input ranking
HYBRID_TOPK = 10
HYBRID_PROBE_ID = 0  # the dense query = embedding of doc 0

# BM25 ranking CTEs shared verbatim with the top-k oracle above
_BM25_CTE = f"""
    tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
        FROM documents
    ),
    tok2 AS (SELECT * FROM tok WHERE term != ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1),
    stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
    q AS (SELECT unnest({_TERMS_SQL}) AS term),
    qtf AS (SELECT tf.* FROM tf JOIN q USING (term)),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS dfq FROM qtf GROUP BY 1),
    scored AS (
        SELECT qtf.doc_id,
               ln((s.n - d.dfq + 0.5) / (d.dfq + 0.5) + 1)
               * (qtf.tf * ({BM25_K1} + 1))
               / (qtf.tf + {BM25_K1}
                  * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl)) AS sc
        FROM qtf
        JOIN dfreq d USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN stats s
    ),
    bm AS (
        SELECT doc_id, round(sum(sc), 6) AS bm25 FROM scored GROUP BY doc_id
    )
"""


@register(
    "similarity_hybrid_rrf_topk",
    oracle=f"""
    WITH {_BM25_CTE},
    lex AS (
        SELECT doc_id, CAST(rn AS INT) AS lex_rank FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
            FROM bm
        ) WHERE rn <= {HYBRID_N}
    ),
    {_V_CTE},
    p AS (SELECT e AS pe FROM v WHERE vec_id = {HYBRID_PROBE_ID}),
    dscored AS (
        SELECT c.vec_id AS doc_id, {_cosine("pe", "c.e")} AS cosine_sim
        FROM v c CROSS JOIN p WHERE c.vec_id != {HYBRID_PROBE_ID}
    ),
    dense AS (
        SELECT doc_id, CAST(rn AS INT) AS dense_rank FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cosine_sim DESC, doc_id) AS rn
            FROM dscored
        ) WHERE rn <= {HYBRID_N}
    ),
    fused AS (
        SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
               l.lex_rank, d.dense_rank,
               round(coalesce(1.0::DOUBLE / ({RRF_K} + l.lex_rank), 0)
                     + coalesce(1.0::DOUBLE / ({RRF_K} + d.dense_rank), 0),
                     6) AS rrf_score
        FROM lex l FULL JOIN dense d ON l.doc_id = d.doc_id
    )
    SELECT doc_id, lex_rank, dense_rank, rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {HYBRID_TOPK}
    """,
    tags=("similarity", "text", "retrieval", "extension"),
    bench=True,  # joined the headline set in r9 once the bruteforce
    # broadcast fix made its plan decade-stable (SCALE.md third decade)
)
def similarity_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval fused by Reciprocal Rank Fusion
    (Cormack et al. 2009): rank the corpus by BM25 for the fixed term
    query AND by cosine to a probe embedding (doc 0's vector —
    ``vec_id`` is the document's embedding id in the fixture), take
    the top-{HYBRID_N} of each, and fuse with
    ``score = Σ 1/(k + rank)`` (k=60); documents absent from one list
    contribute nothing from it. The standard zero-tuning fusion for
    RAG / curation retrieval stacks — it needs only ranks, so the two
    scores' incompatible scales never matter.

    100 TB shape: both input rankings end in ORDER BY + LIMIT
    (TakeOrderedAndProject — per-partition heaps, no global sort);
    the global ``row_number`` then runs on {HYBRID_N} rows, not the
    corpus; the fusion is a per-document aggregate over the union of
    the two rankings (≤ 2·{HYBRID_N} rows), so no join. Rank ties
    break on doc_id in both engines, and ranks are computed on
    ROUNDED scores, so the certified-equal BM25/cosine values yield
    identical ranks."""
    from ..operators import similarity

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    order = (F.desc("bm25"), F.asc("doc_id"))
    lex_top = (
        _bm25_agg(spark, docs)
        .select("doc_id", "bm25")
        .orderBy(*order)
        .limit(HYBRID_N)
    )
    # row_number over HYBRID_N rows (post-limit), not the corpus
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(*order))
        .cast("int")
        .alias("lex_rank"),
    )

    probe = emb.filter(F.col("vec_id") == HYBRID_PROBE_ID)
    dense = similarity.cosine_topk_bruteforce(
        probe, emb, k=HYBRID_N
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("int").alias("dense_rank"),
    )

    # RRF is a per-document sum over the rankings, so fuse by a
    # group-by over the union of the two legs, not a join. This equals
    # a full-outer join on doc_id because each leg holds unique
    # non-NULL doc_ids: the lex leg's inner joins drop NULL ids, and
    # the dense leg's probe_id != neighbor_id predicate implies
    # isnotnull.
    fused = (
        lex.unionByName(dense, allowMissingColumns=True)
        .groupBy("doc_id")
        .agg(
            F.max("lex_rank").alias("lex_rank"),
            F.max("dense_rank").alias("dense_rank"),
        )
    )
    rrf = F.round(
        F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K) + F.col("dense_rank")), F.lit(0.0)
        ),
        6,
    )
    return (
        fused.select(
            "doc_id", "lex_rank", "dense_rank", rrf.alias("rrf_score")
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(HYBRID_TOPK)
    )


# ---------------------------------------------------------------------------
# exact-substring dedup (Lee et al. re-expressed as window hashing)
# ---------------------------------------------------------------------------

SUBSTR_W = 8  # tokens per window

_B1 = "subscribe to our newsletter for updates and exclusive offers today"
_B2 = "all rights reserved unauthorized reproduction is strictly prohibited"


def _augment_boilerplate(docs: DataFrame) -> DataFrame:
    """Plant two boilerplate strings: the newsletter banner (10 tokens)
    prepended to doc_id % 5 == 0, the rights notice (exactly
    ``SUBSTR_W`` = 8 tokens) appended to doc_id % 7 == 3. Both are
    ≥ w tokens, so at least one w-token window sits fully inside each
    copy and detection is complete regardless of character offset —
    token boundaries are content-defined anchors."""
    t0 = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit(_B1 + " "), F.col("text")),
    ).otherwise(F.col("text"))
    t1 = F.when(
        F.col("doc_id") % 7 == 3, F.concat(t0, F.lit(" " + _B2))
    ).otherwise(t0)
    return docs.select("doc_id", t1.alias("text"))


_AUG_SQL = f"""
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 3 THEN t0 || ' {_B2}' ELSE t0 END AS text
    FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN '{_B1} ' || text
                    ELSE text END AS t0
        FROM documents
    )
"""

# shared CTE chain: token windows -> repeated hashes (the two queries
# differ only in which occurrences feed the island merge). Mirrors
# operators/substrings.py:_window_table exactly: split on the literal
# single space (text == ' '.join(tokens)), per-doc prefix-sum char
# offsets, and h = first 16 hex chars of md5 of the space-joined
# w-token gram. Since the gram IS the covered substring,
# wend = pos + len(gram) - 1.
_WIN_SQL = f"""
    aug AS ({_AUG_SQL}),
    tl AS (
        SELECT doc_id, string_split(text, ' ') AS tk
        FROM aug WHERE text IS NOT NULL
    ),
    tok AS (
        SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
        FROM tl
    ),
    off AS (
        SELECT doc_id, tk, i,
               coalesce(sum(len(tk[i]) + 1) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + 1 AS pos
        FROM tok
    ),
    win AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS idx,
               CAST(pos AS BIGINT) AS pos,
               CAST(pos + len(gram) - 1 AS BIGINT) AS wend,
               substr(md5(gram), 1, 16) AS h
        FROM (
            SELECT doc_id, i, pos,
                   array_to_string(tk[i : i + {SUBSTR_W - 1}], ' ')
                       AS gram
            FROM off WHERE i + {SUBSTR_W - 1} <= len(tk)
        )
    ),
    rep AS (
        SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    )
"""

_ISLAND_SQL = f"""
    flg AS (
        SELECT doc_id, idx, pos, wend,
               CASE WHEN idx - lag(idx) OVER (
                        PARTITION BY doc_id ORDER BY idx) <= {SUBSTR_W}
                    THEN 0 ELSE 1 END AS f
        FROM cand
    ),
    isl AS (
        SELECT doc_id, idx, pos, wend,
               sum(f) OVER (PARTITION BY doc_id ORDER BY idx
                            ROWS UNBOUNDED PRECEDING) AS g
        FROM flg
    ),
    spans AS (
        SELECT doc_id, min(pos) AS span_start,
               max(wend) AS span_end,
               count(*) AS n_windows
        FROM isl GROUP BY doc_id, g
    )
"""


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH {_WIN_SQL},
    cand AS (
        SELECT DISTINCT win.doc_id, win.idx, win.pos, win.wend
        FROM win JOIN rep USING (h)
    ),
    {_ISLAND_SQL}
    SELECT doc_id, span_start, span_end,
           span_end - span_start + 1 AS span_len, n_windows
    FROM spans
    """,
    tags=("dedup", "substring", "llm"),
    bench=True,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal character spans repeated verbatim across ≥2 documents
    (w=8-token windows — complete for any cross-document repeat of
    ≥8 whitespace tokens, at any character offset). See
    operators/substrings.py for the 100 TB shape: one hash shuffle
    over O(tokens) window rows, island merge partitioned by document.
    The planted boilerplate guarantees the fixture exercises both the
    prepended and the appended repeat position."""
    docs = _augment_boilerplate(load_table(spark, sf_dir, "documents"))
    return repeated_window_spans(
        docs, "doc_id", "text", w=SUBSTR_W, min_docs=2
    )


@register(
    "dedup_substring_removal",
    oracle=f"""
    WITH {_WIN_SQL},
    hits AS (
        SELECT win.doc_id, win.idx, win.pos, win.wend, win.h
        FROM win JOIN rep USING (h)
    ),
    rk AS (
        SELECT doc_id, idx, pos, wend,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
        FROM hits
    ),
    cand AS (SELECT DISTINCT doc_id, idx, pos, wend FROM rk WHERE rn > 1),
    {_ISLAND_SQL},
    seg AS (
        SELECT doc_id, span_start, span_end,
               coalesce(lag(span_end) OVER (
                   PARTITION BY doc_id ORDER BY span_start), 0) + 1
                   AS seg_start
        FROM spans
    ),
    reb AS (
        SELECT s.doc_id,
               string_agg(substring(a.text, s.seg_start,
                                    s.span_start - s.seg_start),
                          '' ORDER BY s.span_start) AS head,
               max(s.span_end) AS last_end,
               count(*) AS n_spans,
               sum(s.span_end - s.span_start + 1) AS removed_chars
        FROM seg s JOIN aug a USING (doc_id)
        GROUP BY s.doc_id
    )
    SELECT a.doc_id,
           CASE WHEN r.n_spans IS NULL THEN a.text
                ELSE r.head || substring(a.text, r.last_end + 1,
                                         greatest(len(a.text) - r.last_end,
                                                  0))
           END AS clean_text,
           CAST(coalesce(r.n_spans, 0) AS INTEGER) AS n_spans,
           CAST(coalesce(r.removed_chars, 0) AS BIGINT) AS removed_chars
    FROM aug a LEFT JOIN reb r USING (doc_id)
    """,
    tags=("dedup", "substring", "llm"),
)
def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first exact-substring dedup: the globally first occurrence
    of each repeated window survives; every other occurrence's spans
    are excised and each document is reconstructed (oracle checks the
    full clean text byte-for-byte). Lee et al.'s semantics — one copy
    survives — not C4's drop-all."""
    docs = _augment_boilerplate(load_table(spark, sf_dir, "documents"))
    return remove_repeated_spans(docs, "doc_id", "text", w=SUBSTR_W)
