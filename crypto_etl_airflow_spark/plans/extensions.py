"""North-star extension surface: dedup, similarity search, text
analysis, multimodal columns (BASELINE.json ``north_star``; SURVEY.md
§7.5) — declared queries over the ``documents`` and ``embeddings``
fixture tables, oracle-checked wherever ANSI SQL can express the
semantics (MinHash/SimHash/LSH internals get rows-only checks; their
recall is asserted against exact baselines in tests/test_dedup.py and
tests/test_similarity.py).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import (
    bpe_ish_token_count,
    language_id,
    language_scores,
    mean_token_length,
    punct_ratio,
    quality_score,
    stopword_ratio,
    whitespace_token_count,
)
from ..operators import dedup, multimodal, similarity
from ..sources.local import local_frame
from ..sources.tables import load_table
from .registry import register

# DuckDB fragments mirroring functions/text.py definitions
# Process-lifetime store cache per (query family, sf_dir) — the
# `_ivfpq_cached_index` pattern generalized (VERDICT r12 item 5):
# deterministic store builds happen ONCE per process, and the
# registered query returns a LIVE plan over the persisted store
# instead of collecting inside a TemporaryDirectory (whose plan is an
# opaque `Scan ExistingRDD` that neither bench.py nor plan_audit can
# see through). Mutation chains in `build` (add / delete / rebalance)
# are idempotent-by-construction, so a cached post-mutation store is
# a fixed point and reuse cannot change any certified value. Dirs die
# at interpreter exit.
_STORE_BENCH_CACHE: dict[tuple[str, str], str] = {}
_STORE_BENCH_LOCKS: dict[tuple[str, str], threading.Lock] = {}
_STORE_BENCH_LOCKS_GUARD = threading.Lock()


def _cached_store(key: str, sf_dir: str, build) -> str:
    import atexit
    import os
    import shutil
    import tempfile

    # per-key lock (dedup.py's _REUSE_HANDLES discipline): parallel
    # sweep/bench runners share this process, and an unguarded
    # check-then-build runs the expensive store build twice and leaks
    # the loser's tempdir until interpreter exit
    with _STORE_BENCH_LOCKS_GUARD:
        lock = _STORE_BENCH_LOCKS.setdefault((key, sf_dir), threading.Lock())
    with lock:
        root = _STORE_BENCH_CACHE.get((key, sf_dir))
        if root and os.path.exists(os.path.join(root, "_BENCH_READY")):
            return os.path.join(root, "store")
        root = tempfile.mkdtemp(prefix=f"{key}_bench_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        path = os.path.join(root, "store")
        build(path)
        with open(os.path.join(root, "_BENCH_READY"), "w") as f:
            f.write("ok")
        _STORE_BENCH_CACHE[(key, sf_dir)] = root
        return path


_TOKS = "string_split_regex(lower(text), '\\s+')"
_STOPS = "['the','and','is','of','to','a','in','that']"


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({_TOKS}) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
               AS n_bpe_tokens,
           length(text) AS n_chars_measured,
           round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                 / length(text), 6) AS punct_ratio,
           round(len(list_filter({_TOKS}, x -> list_contains({_STOPS}, x)))
                 / len({_TOKS}), 6) AS stopword_ratio,
           round(list_aggregate(list_transform({_TOKS}, x -> length(x)), 'sum')
                 / len({_TOKS}), 6) AS mean_token_len
    FROM documents
    """,
    tags=("text", "extension"),
    bench=True,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + character-level quality signals per document —
    whitespace tokens, BPE-ish regex tokens, punctuation/stopword
    ratios, mean token length. Pure column expressions (SURVEY.md
    §7.5 text analysis). The input is widened first (guide §2): a
    shuffle-free projection otherwise runs in the scan's partitioning
    — ONE file partition at fixture scale, so the regex chain used one
    core of N (measured 0.54 → 0.41 s at sf0.1; no-op on wide scans)."""
    from ..operators.parallel import widen_small_input

    docs = widen_small_input(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        whitespace_token_count(t).alias("n_ws_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        F.length(t).alias("n_chars_measured"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t).alias("stopword_ratio"),
        mean_token_length(t).alias("mean_token_len"),
    )


def _accent_oracle() -> str:
    """DuckDB mirror of functions/text.py::strip_accents_latin, built
    from the SAME mapping constants so the two engines cannot drift."""
    from ..functions.text import ACCENT_EXPANSIONS, ACCENT_FROM, ACCENT_TO

    expr = f"translate(text, '{ACCENT_FROM}', '{ACCENT_TO}')"
    for src, dst in ACCENT_EXPANSIONS:
        expr = f"replace({expr}, '{src}', '{dst}')"
    return f"""
    WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 2
                    THEN 'Électricité générale déjà vu: ÀÇÑß æŒ naïveté — '
                         || text
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id, {expr} AS text_norm,
           CAST(({expr} != text) AS BOOLEAN) AS changed
    FROM aug
    """


@register(
    "text_strip_accents",
    oracle=_accent_oracle(),
    tags=("text", "curation", "extension"),
)
def text_strip_accents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latin diacritic folding (functions/text.py::
    strip_accents_latin) — the CCNet-style normalization run before
    fingerprinting so 'café'/'cafe' deduplicate. The fixture corpus is
    pure ASCII, so every 10th document gets an accented banner
    injected (doc_id % 10 = 2) and the normalized text is certified
    BYTE-FOR-BYTE against a DuckDB oracle generated from the same
    mapping constants. Shuffle-free projection; non-Latin scripts
    (the zh arm) pass through untouched."""
    from ..functions.text import strip_accents_latin

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 2,
            F.concat(
                F.lit("Électricité générale déjà vu: ÀÇÑß æŒ naïveté — "),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    norm = strip_accents_latin(F.col("text"))
    return aug.select(
        "doc_id",
        norm.alias("text_norm"),
        (norm != F.col("text")).alias("changed"),
    )


@register(
    "text_language_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter({_TOKS}, x -> list_contains(['the','and','is','of','to','a','in','that'], x))) AS en_score,
               len(list_filter({_TOKS}, x -> list_contains(['der','die','und','ist','das','nicht','ein'], x))) AS de_score,
               len(list_filter({_TOKS}, x -> list_contains(['el','la','de','que','los','una','por'], x))) AS es_score,
               len(list_filter({_TOKS}, x -> list_contains(['le','la','et','les','des','une','dans'], x))) AS fr_score,
               len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) AS zh_score
        FROM documents
    )
    SELECT doc_id, lang, en_score, de_score, es_score, fr_score, zh_score,
           CASE WHEN zh_score > 0 THEN 'zh'
                WHEN en_score >= de_score AND en_score >= es_score
                     AND en_score >= fr_score AND en_score > 0 THEN 'en'
                WHEN de_score >= es_score AND de_score >= fr_score
                     AND de_score > 0 THEN 'de'
                WHEN es_score >= fr_score AND es_score > 0 THEN 'es'
                WHEN fr_score > 0 THEN 'fr'
                ELSE 'unknown' END AS lang_pred
    FROM scored
    """,
    tags=("text", "extension"),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic with per-language scores and
    a deterministic argmax (CJK presence dominates)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    scores = language_scores(t)
    return docs.select(
        "doc_id",
        "lang",
        scores["en"].alias("en_score"),
        scores["de"].alias("de_score"),
        scores["es"].alias("es_score"),
        scores["fr"].alias("fr_score"),
        scores["zh"].alias("zh_score"),
        language_id(t).alias("lang_pred"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH q AS (
        SELECT doc_id,
               length(text) AS n,
               round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                     / length(text), 6) AS p_ratio,
               round(len(list_filter({_TOKS}, x -> list_contains({_STOPS}, x)))
                     / len({_TOKS}), 6) AS s_ratio,
               round(list_aggregate(list_transform({_TOKS}, x -> length(x)), 'sum')
                     / len({_TOKS}), 6) AS mtl
        FROM documents
    )
    SELECT doc_id,
           round(((CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                        WHEN n >= 30 THEN 0.5 ELSE 0.0 END)
                  + (CASE WHEN p_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN s_ratio >= 0.05 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN mtl >= 2.5 AND mtl <= 12 THEN 1.0 ELSE 0.0 END)
                 ) / 4.0, 6) AS quality
    FROM q
    """,
    tags=("text", "extension"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (length band, punctuation,
    stopword presence, mean word length) — the filter stage of a
    training-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


@register(
    "dedup_exact_fingerprint",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
        FROM (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        )
    )
    SELECT doc_id, fingerprint,
           min(doc_id) OVER (PARTITION BY fingerprint) AS keep_id,
           CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS group_size,
           doc_id != min(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
    FROM fp
    """,
    tags=("dedup", "extension"),
    bench=True,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-text md5 fingerprint. The fixture
    corpus has no exact dups, so every 10th document is re-injected
    with a shifted id — the dedup must flag exactly those copies
    (same trick the driver's idempotency contract uses)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup_injected = docs.unionAll(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return dedup.exact_duplicates(dup_injected, "doc_id", "text")


# Shingle CTEs shared by the dedup oracles — mirror
# operators/dedup.py::word_shingles (distinct word-3-grams).
# ``corpus_where`` restricts which documents exist at all — the
# store-delete contract (removed docs stop producing shingles).
def _shingle_ctes(corpus_where: str | None = None) -> str:
    where = f" WHERE {corpus_where}" if corpus_where else ""
    return f"""
    toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
        FROM documents{where}
    ),
    shingles AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS sh
        FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    )
"""


_SHINGLE_CTES = _shingle_ctes()

_NGRAM_DF_CAP = 50  # mirror of max_doc_freq in the registered query


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    freq AS (SELECT sh, count(*) AS d FROM shingles GROUP BY sh),
    kept AS (
        SELECT s.doc_id, s.sh FROM shingles s
        JOIN freq USING (sh) WHERE freq.d <= {_NGRAM_DF_CAP}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(c / (na.n + nb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE c / (na.n + nb.n - c) >= 0.8
    """,
    tags=("dedup", "extension"),
    bench=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: word-3-gram shingle sets, Jaccard ≥ 0.8.
    Self-join on shingle — never a cross-product — with stop-shingle
    capping (document frequency > 50 drops the shingle before the
    join, the guard against quadratic fan-out on hot phrases at
    100 TB; the oracle applies the identical predicate)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_doc_freq=_NGRAM_DF_CAP
    )


@register(
    "dedup_ngram_jaccard_lsh",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    freq AS (SELECT sh, count(*) AS d FROM shingles GROUP BY sh),
    kept AS MATERIALIZED (
        SELECT s.doc_id, s.sh FROM shingles s
        JOIN freq USING (sh) WHERE freq.d <= {_NGRAM_DF_CAP}
    ),
    hashed AS (
        SELECT doc_id,
               CAST(CONCAT('0x', substr(md5(sh), 1, 12)) AS BIGINT) % 2147483647
                   AS h
        FROM kept
    ),
    nsig AS MATERIALIZED (
        SELECT doc_id,
               min((1865203534 * h + 168748302) % 2147483647) AS mh_0,
               min((962415516 * h + 1078208171) % 2147483647) AS mh_1,
               min((1816261065 * h + 363332344) % 2147483647) AS mh_2,
               min((12053569 * h + 652213977) % 2147483647) AS mh_3,
               min((1198821210 * h + 316760798) % 2147483647) AS mh_4,
               min((1037323448 * h + 1280077824) % 2147483647) AS mh_5,
               min((863341097 * h + 1160165498) % 2147483647) AS mh_6,
               min((2130631427 * h + 1579535068) % 2147483647) AS mh_7,
               min((938785873 * h + 981268993) % 2147483647) AS mh_8,
               min((1195543213 * h + 1654877952) % 2147483647) AS mh_9,
               min((4307558 * h + 210149026) % 2147483647) AS mh_10,
               min((343227643 * h + 2092422779) % 2147483647) AS mh_11,
               min((1806962964 * h + 1386658011) % 2147483647) AS mh_12,
               min((970198099 * h + 1968036127) % 2147483647) AS mh_13,
               min((756889588 * h + 28500702) % 2147483647) AS mh_14,
               min((1573970638 * h + 771835785) % 2147483647) AS mh_15,
               min((1675676991 * h + 619798390) % 2147483647) AS mh_16,
               min((299574205 * h + 305947782) % 2147483647) AS mh_17,
               min((720245147 * h + 1807666864) % 2147483647) AS mh_18,
               min((309925675 * h + 1030865774) % 2147483647) AS mh_19,
               min((1976990685 * h + 296818020) % 2147483647) AS mh_20,
               min((2011971979 * h + 1204328739) % 2147483647) AS mh_21,
               min((1489594781 * h + 2067628578) % 2147483647) AS mh_22,
               min((1998122837 * h + 1086939470) % 2147483647) AS mh_23,
               min((914434942 * h + 254927699) % 2147483647) AS mh_24,
               min((985578890 * h + 1367716259) % 2147483647) AS mh_25,
               min((563946814 * h + 381849833) % 2147483647) AS mh_26,
               min((495900369 * h + 1243334709) % 2147483647) AS mh_27,
               min((1130832686 * h + 345922960) % 2147483647) AS mh_28,
               min((669196560 * h + 2033352808) % 2147483647) AS mh_29,
               min((1633737823 * h + 1117479897) % 2147483647) AS mh_30,
               min((89706433 * h + 1944661737) % 2147483647) AS mh_31
        FROM hashed GROUP BY doc_id
    ),
    nbands AS MATERIALIZED (
        SELECT doc_id, 0 AS band, mh_0 AS k_0, mh_1 AS k_1, mh_2 AS k_2, mh_3 AS k_3 FROM nsig
        UNION ALL SELECT doc_id, 1 AS band, mh_4 AS k_0, mh_5 AS k_1, mh_6 AS k_2, mh_7 AS k_3 FROM nsig
        UNION ALL SELECT doc_id, 2 AS band, mh_8 AS k_0, mh_9 AS k_1, mh_10 AS k_2, mh_11 AS k_3 FROM nsig
        UNION ALL SELECT doc_id, 3 AS band, mh_12 AS k_0, mh_13 AS k_1, mh_14 AS k_2, mh_15 AS k_3 FROM nsig
        UNION ALL SELECT doc_id, 4 AS band, mh_16 AS k_0, mh_17 AS k_1, mh_18 AS k_2, mh_19 AS k_3 FROM nsig
        UNION ALL SELECT doc_id, 5 AS band, mh_20 AS k_0, mh_21 AS k_1, mh_22 AS k_2, mh_23 AS k_3 FROM nsig
        UNION ALL SELECT doc_id, 6 AS band, mh_24 AS k_0, mh_25 AS k_1, mh_26 AS k_2, mh_27 AS k_3 FROM nsig
        UNION ALL SELECT doc_id, 7 AS band, mh_28 AS k_0, mh_29 AS k_1, mh_30 AS k_2, mh_31 AS k_3 FROM nsig
    ),
    ncand AS (
        SELECT DISTINCT l.doc_id AS id_a, rr.doc_id AS id_b
        FROM nbands l JOIN nbands rr ON l.band = rr.band AND l.k_0 = rr.k_0 AND l.k_1 = rr.k_1 AND l.k_2 = rr.k_2 AND l.k_3 = rr.k_3
        WHERE l.doc_id < rr.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    common AS (
        SELECT c.id_a, c.id_b, count(*) AS c2
        FROM ncand c
        JOIN kept a ON a.doc_id = c.id_a
        JOIN kept b ON b.doc_id = c.id_b AND b.sh = a.sh
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(c2 / (na.n + nb.n - c2), 6) AS jaccard
    FROM common
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE c2 / (na.n + nb.n - c2) >= 0.8
    """,
    tags=("dedup", "extension", "approx"),
)
def dedup_ngram_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_ngram_jaccard`` behind the LSH-first candidate gate
    (r13, the VERDICT r12 candidate-volume lever): MinHash(32)/8-band
    agreement over the SAME df-capped shingle universe selects the
    candidate pairs; only those pairs pay the exact-Jaccard
    verification — the shingle self-join whose candidate volume grew
    exactly ×10/decade in the r12 attribution never runs. Surviving
    values are exact Jaccards (output ⊆ the exact query's; miss
    probability (1 − j⁴)⁸ per true pair, ≈1.5% at j = 0.8 and ~0 on
    near-identical pairs). Portable md5 hash family end-to-end, so
    the oracle recomputes signatures, banding, candidates, and
    verification value-for-value."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8,
        max_doc_freq=_NGRAM_DF_CAP, prefilter="lsh", num_hashes=32,
        bands=8, portable=True,
    )


def _containment_oracle(
    batch_mod: int | None = None, corpus_where: str | None = None
) -> str:
    """DuckDB mirror of the excerpt-injected containment pipeline;
    ``batch_mod`` restricts to pairs INVOLVING the batch
    (doc_id % batch_mod = 0) — the incremental-store contract
    (operators/dedup_store.py::incremental_containment_pairs).
    ``corpus_where`` restricts which documents survive into the
    shingle sets, sizes, AND doc-frequency cap — the shingle-store
    delete contract (removed docs stop contributing to everything,
    including the maintained df sidecar)."""
    batch_clause = (
        f" AND (a.doc_id % {batch_mod} = 0 OR b.doc_id % {batch_mod} = 0)"
        if batch_mod is not None
        else ""
    )
    corpus_clause = f"WHERE {corpus_where}" if corpus_where else ""
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000,
               array_to_string(list_slice(
                   string_split_regex(text, '\\s+'), 1, 30), ' ')
        FROM documents WHERE doc_id % 10 = 0
    ),
    toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
        FROM corpus {corpus_clause}
    ),
    shingles AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(t, i, i + 2), ' ') AS sh
        FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),
    freq AS (SELECT sh, count(*) AS d FROM shingles GROUP BY sh),
    kept AS (
        SELECT s.doc_id, s.sh FROM shingles s
        JOIN freq USING (sh) WHERE freq.d <= {_NGRAM_DF_CAP}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
            {batch_clause}
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT id_a, id_b, c, na.n AS n_a, nb.n AS n_b
        FROM common
        JOIN sizes na ON na.doc_id = id_a
        JOIN sizes nb ON nb.doc_id = id_b
    )
    SELECT contained_id, container_id, containment FROM (
        SELECT id_a AS contained_id, id_b AS container_id,
               round(c / n_a, 6) AS containment FROM scored
        UNION ALL
        SELECT id_b, id_a, round(c / n_b, 6) FROM scored
    ) WHERE containment >= 0.9
    """


@register(
    "dedup_containment",
    oracle=_containment_oracle(),
    tags=("dedup", "extension"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: |A∩B|/|A| ≥ 0.9 over word-3-gram
    shingle sets flags excerpt/quoted-in-full pages that symmetric
    Jaccard misses. The fixture has no containment pairs, so every
    10th document is re-injected as its own first-30-token excerpt
    (id + 2000000) — each excerpt must be flagged as contained in its
    source (operators/dedup.py::containment_pairs for the 100 TB
    shape: same hashed-shingle self-join + hot-cap as ngram Jaccard,
    both directions emitted from ONE unordered pair table)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), r"\s+"), 1, 30), " "
        ).alias("text"),
    )
    corpus = docs.unionAll(excerpts)
    return dedup.containment_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.9,
        max_doc_freq=_NGRAM_DF_CAP,
    )


@register(
    "dedup_incremental_containment",
    oracle=_containment_oracle(batch_mod=4),
    tags=("dedup", "extension", "incremental"),
)
def dedup_incremental_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental containment against a persisted hashed-shingle
    store (operators/dedup_store.py::incremental_containment_pairs) —
    the steady-state ingest twin of ``dedup_containment``, completing
    the incremental family (MinHash r7, fingerprint/SimHash r9): the
    excerpt-injected corpus (same construction as the batch query)
    splits into a store (doc_id % 4 != 0), shingled ONCE into 8-byte
    hashed rows, and a batch (doc_id % 4 = 0) that shingles only
    itself, joins the store's rows, and scores both containment
    directions. Excerpt ids (+2000000 ≡ 0 mod 4) keep their source's
    residue, so store-excerpt×batch-source and batch×batch legs are
    both exercised. The sidecar pins the shingle width n; the
    hot-shingle cap reads the store's MAINTAINED doc-frequency
    sidecar (read_shingle_df) — the steady-state path that never
    re-aggregates the store's shingle rows — so the sidecar
    maintenance itself is inside the certified pipeline."""
    import os
    import tempfile

    from ..operators import dedup_store

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), r"\s+"), 1, 30), " "
        ).alias("text"),
    )
    corpus = docs.unionAll(excerpts)
    store_docs = corpus.filter(F.col("doc_id") % 4 != 0)
    batch = corpus.filter(F.col("doc_id") % 4 == 0)
    with tempfile.TemporaryDirectory(prefix="sh_shingles_") as tmp:
        path = os.path.join(tmp, "shingles")
        dedup_store.write_shingle_store(store_docs, path, n=3)
        store = dedup_store.read_shingle_store(spark, path)
        out = dedup_store.incremental_containment_pairs(
            batch, store, n=3, threshold=0.9, max_doc_freq=_NGRAM_DF_CAP,
            df_counts=dedup_store.read_shingle_df(spark, path),
        )
        rows = out.collect()
    return local_frame(spark, rows, out.schema)


@register(
    "dedup_incremental_containment_maintained",
    # the store loses doc_id % 6 = 1 before the batch arrives: those
    # docs must stop contributing pairs, sizes, AND df-cap counts
    oracle=_containment_oracle(
        batch_mod=4,
        corpus_where="NOT (doc_id % 4 != 0 AND doc_id % 6 = 1)",
    ),
    tags=("dedup", "extension", "incremental"),
)
def dedup_incremental_containment_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The shingle store through its maintenance lifecycle in one
    certified path (VERDICT r9 item 1): build on the store slice
    (doc_id % 4 != 0), ``delete_from_shingle_store`` the
    doc_id % 6 = 1 subset — which must ALSO decrement the maintained
    doc-frequency sidecar, or the hot-shingle cap would keep counting
    ghosts — then run the incremental batch (doc_id % 4 = 0) against
    the surviving store WITH the decremented sidecar as the cap
    source. The oracle recomputes containment over the surviving
    corpus, so the delete, the df decrement, and the single-commit
    ``_meta`` swap are all value-certified
    (operators/dedup_store.py::delete_from_shingle_store)."""
    import os
    import tempfile

    from ..operators import dedup_store

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), r"\s+"), 1, 30), " "
        ).alias("text"),
    )
    corpus = docs.unionAll(excerpts)
    store_docs = corpus.filter(F.col("doc_id") % 4 != 0)
    batch = corpus.filter(F.col("doc_id") % 4 == 0)
    doomed = corpus.filter(F.col("doc_id") % 6 == 1).select("doc_id")
    with tempfile.TemporaryDirectory(prefix="sh_maint_") as tmp:
        path = os.path.join(tmp, "shingles")
        dedup_store.write_shingle_store(store_docs, path, n=3)
        dedup_store.delete_from_shingle_store(spark, path, doomed)
        store = dedup_store.read_shingle_store(spark, path)
        out = dedup_store.incremental_containment_pairs(
            batch, store, n=3, threshold=0.9, max_doc_freq=_NGRAM_DF_CAP,
            df_counts=dedup_store.read_shingle_df(spark, path),
        )
        rows = out.collect()
    return local_frame(spark, rows, out.schema)


def _minhash_band_ctes(
    shingles: str, num_hashes: int = 32, bands: int = 8
) -> tuple[str, str]:
    """The portable MinHash signatures and LSH band rows over the
    relation ``shingles`` (doc_id, sh), as DuckDB CTEs — the
    construction of operators/dedup.py::minhash_lsh_pairs(portable=True):
    md5-48 shingle hashes and the same Python-literal (a_i, b_i)
    constants. Emits ``mh_hashed``, ``mh_sig`` (doc_id, mh_0..) and
    ``mh_bands`` (doc_id, band, k_0..), and returns them with the
    band-key equality between the aliases ``l`` and ``rr``. Each
    oracle adds its own candidate rule and scoring on top."""
    p = dedup.MERSENNE_P
    r = num_hashes // bands
    sig = ",\n               ".join(
        f"min(({a} * h + {b}) % {p}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.minhash_constants(num_hashes))
    )
    band_rows = "\n        UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, "
        + ", ".join(f"mh_{bi * r + j} AS k_{j}" for j in range(r))
        + " FROM mh_sig"
        for bi in range(bands)
    )
    key_eq = " AND ".join(f"l.k_{j} = rr.k_{j}" for j in range(r))
    ctes = f"""
    mh_hashed AS (
        SELECT doc_id,
               CAST(CONCAT('0x', substr(md5(sh), 1, 12)) AS BIGINT) % {p} AS h
        FROM {shingles}
    ),
    mh_sig AS MATERIALIZED (
        SELECT doc_id,
               {sig}
        FROM mh_hashed GROUP BY doc_id
    ),
    mh_bands AS MATERIALIZED (
        {band_rows}
    )"""
    return ctes, key_eq


def _minhash_oracle(
    n: int = 3, threshold: float = 0.8, num_hashes: int = 32, bands: int = 8
) -> str:
    """DuckDB mirror of the FULL portable MinHash-LSH pipeline
    (operators/dedup.py::minhash_lsh_pairs(portable=True)): md5-48
    shingle hashes, the same Python-literal (a_i, b_i) constants,
    banded candidates, exact-Jaccard verification. Value-for-value —
    the approximation itself is certified, not just its recall."""
    band_ctes, key_eq = _minhash_band_ctes("shingles", num_hashes, bands)
    return f"""
    WITH {_SHINGLE_CTES},{band_ctes},
    cand AS (
        SELECT DISTINCT l.doc_id AS id_a, rr.doc_id AS id_b
        FROM mh_bands l JOIN mh_bands rr ON l.band = rr.band AND {key_eq}
        WHERE l.doc_id < rr.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
        SELECT c.id_a, c.id_b, count(*) AS cnt
        FROM cand c
        JOIN shingles a ON a.doc_id = c.id_a
        JOIN shingles b ON b.doc_id = c.id_b AND b.sh = a.sh
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(cnt / (na.n + nb.n - cnt), 6) AS jaccard
    FROM common
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE cnt / (na.n + nb.n - cnt) >= {threshold}
    """


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    tags=("dedup", "extension", "approx"),
    # benched alongside the exact baseline: this is the path a 100 TB
    # user actually runs (candidates ∝ collisions, never n²)
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH(8 bands) near-dup pairs, candidates verified
    with exact Jaccard — the sub-quadratic scale path for dedup. Runs
    in md5-portable hash mode so the DuckDB oracle recomputes the
    ENTIRE pipeline (signatures, banding, verification) value-for-
    value; production keeps the xxhash64 fast path
    (operators/dedup.py::minhash_signatures)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, num_hashes=32, bands=8,
        portable=True,
    )


@register(
    "dedup_minhash_lsh_xxhash",
    # DuckDB cannot recompute xxhash64 (JVM-only), but it doesn't need
    # to: the query's OUTPUT is the exact-Jaccard-verified pair set,
    # which is hash-family-independent wherever the two families'
    # LSH recall coincides — and tests/test_dedup.py proves pair-set
    # equality with the portable twin on the fixture corpus (and the
    # cross-scale sweep proves it at sf0.001 and sf0.01). So the
    # production path is certified value-for-value against the SAME
    # portable-md5 oracle as its twin (VERDICT r6 item 4): a recall
    # divergence between the hash families on the certification
    # corpus would surface as a driver row/hash mismatch.
    oracle=_minhash_oracle(),
    tags=("dedup", "extension", "approx"),
    bench=True,
)
def dedup_minhash_lsh_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH(8 bands) near-dup pairs on the PRODUCTION
    xxhash64 fast path (portable=False) — same pipeline as
    `dedup_minhash_lsh`, same exact-Jaccard verification of
    candidates, different (faster, JVM-codegen'd) base hash family.
    Certified against the portable twin's DuckDB oracle: the verified
    pair set is hash-family-independent on the fixture (asserted by
    tests/test_dedup.py), so the exact-Jaccard output must match
    value-for-value."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, num_hashes=32, bands=8,
        portable=False,
    )


def _incremental_minhash_oracle(
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    batch_mod: int = 4,
    corpus_where: str | None = None,
) -> str:
    """DuckDB mirror of the incremental store pipeline
    (operators/dedup_store.py): portable signatures for every doc,
    banded buckets, candidates restricted to pairs INVOLVING the
    batch (doc_id % batch_mod = 0), scored by signature agreement —
    exactly what the engine computes after the store roundtrip, so
    the parquet store + idempotent append + incremental join are all
    on the certified path. ``corpus_where`` restricts which documents
    exist at all — the store-delete contract (removed store members
    stop producing pairs)."""
    band_ctes, key_eq = _minhash_band_ctes("shingles", num_hashes, bands)
    agree = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
    WITH {_shingle_ctes(corpus_where)},{band_ctes},
    cand AS (
        SELECT DISTINCT least(l.doc_id, rr.doc_id) AS id_a,
                        greatest(l.doc_id, rr.doc_id) AS id_b
        FROM mh_bands l JOIN mh_bands rr ON l.band = rr.band AND {key_eq}
        WHERE l.doc_id <> rr.doc_id AND rr.doc_id % {batch_mod} = 0
    )
    SELECT c.id_a, c.id_b,
           round(({agree}) / {num_hashes}.0, 6) AS score
    FROM cand c
    JOIN mh_sig sa ON sa.doc_id = c.id_a
    JOIN mh_sig sb ON sb.doc_id = c.id_b
    WHERE ({agree}) / {num_hashes}.0 >= {threshold}
    """


@register(
    "dedup_incremental_minhash",
    oracle=_incremental_minhash_oracle(),
    tags=("dedup", "extension", "approx"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a persisted MinHash signature store
    (operators/dedup_store.py) — the 100 TB steady-state shape: the
    corpus (doc_id % 4 != 0) is signatured ONCE into a parquet store;
    the ingest batch (doc_id % 4 = 0) signatures only itself, joins
    its band keys against the store's, and scores candidates by
    signature agreement (estimate path: the store retains no text).
    The store write + idempotent append + readback are inside this
    certified path. Threshold 0.5 = at least 16 of 32 permutations
    agree."""
    from ..operators import dedup_store

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 4 == 0)

    def _build(path: str) -> None:
        dedup_store.write_minhash_store(
            docs.filter(F.col("doc_id") % 4 != 0), path, portable=True
        )

    path = _cached_store("mh_store", sf_dir, _build)
    store = dedup_store.read_minhash_store(spark, path)
    return dedup_store.incremental_minhash_pairs(
        batch, store, threshold=0.5, portable=True, verify="estimate"
    )


@register(
    "dedup_incremental_minhash_maintained",
    # the store loses doc_id % 7 = 2 before the batch arrives: those
    # docs must stop producing near-dup pairs entirely
    oracle=_incremental_minhash_oracle(
        corpus_where="NOT (doc_id % 4 != 0 AND doc_id % 7 = 2)"
    ),
    tags=("dedup", "extension", "incremental", "approx"),
)
def dedup_incremental_minhash_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MinHash signature store through delete maintenance in one
    certified path — the LAST store family whose delete was only
    unit-tested (fingerprint/simhash/shingle/postings/IVF were
    certified earlier in r10/r9): build on the store slice
    (doc_id % 4 != 0), ``delete_from_minhash_store`` the
    doc_id % 7 = 2 subset (shared ``_delete_rows_by_id`` staged
    anti-join rewrite, 32 B/doc), then run the incremental batch
    (doc_id % 4 = 0). The oracle recomputes signatures, banding, and
    agreement scoring over the surviving corpus, so pairs whose store
    member was removed must vanish value-for-value. The post-delete
    store is a deterministic fixed point, so it builds once per
    process (``_cached_store``) and the query returns the LIVE
    incremental plan — plan-auditable, steady-state benchable."""
    from ..operators import dedup_store

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 4 == 0)

    def _build(path: str) -> None:
        dedup_store.write_minhash_store(
            docs.filter(F.col("doc_id") % 4 != 0), path, portable=True
        )
        dedup_store.delete_from_minhash_store(
            spark, path, docs.filter(F.col("doc_id") % 7 == 2).select("doc_id")
        )

    path = _cached_store("mh_maint", sf_dir, _build)
    store = dedup_store.read_minhash_store(spark, path)
    return dedup_store.incremental_minhash_pairs(
        batch, store, threshold=0.5, portable=True, verify="estimate"
    )


# The fingerprint-store fixture needs exact duplicates the plain
# corpus doesn't have (500 docs, 500 distinct fingerprints at sf0.01),
# so the BATCH is built from verbatim copies of corpus documents:
# +10000 ids copy every doc_id % 5 = 0 document, +20000 ids copy every
# doc_id % 25 = 0 document — giving batch×store matches AND
# batch×batch matches (the +10000/+20000 copies of the same source
# collide with each other).
_FP_STORE_SQL = """
    batch AS (
        SELECT doc_id + 10000 AS doc_id, text FROM documents
        WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 20000 AS doc_id, text FROM documents
        WHERE doc_id % 25 = 0
    ),
    allfp AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS fingerprint
        FROM (SELECT doc_id, text FROM documents UNION ALL
              SELECT doc_id, text FROM batch)
    )
"""


@register(
    "dedup_incremental_fingerprint",
    oracle=f"""
    WITH {_FP_STORE_SQL}
    SELECT DISTINCT least(l.doc_id, r.doc_id) AS id_a,
           greatest(l.doc_id, r.doc_id) AS id_b, l.fingerprint
    FROM allfp l
    JOIN (SELECT * FROM allfp WHERE doc_id >= 10000) r
      ON l.fingerprint = r.fingerprint AND l.doc_id <> r.doc_id
    """,
    tags=("dedup", "extension", "incremental"),
)
def dedup_incremental_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT dedup against a persisted fingerprint store
    (operators/dedup_store.py::incremental_fingerprint_matches) — the
    steady-state ingest twin of ``dedup_exact_rows``: the corpus is
    fingerprinted ONCE into a 16-bytes/doc parquet store; the ingest
    batch (verbatim copies of corpus docs, see ``_FP_STORE_SQL``)
    fingerprints only itself and joins against the store — one
    equality join, batch side broadcast, no text retained. The store
    write + idempotent append + readback are inside this certified
    path."""
    import os
    import tempfile

    from ..operators import dedup_store

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    batch = (
        docs.filter(did % 5 == 0).select((did + 10000).alias("doc_id"), "text")
    ).unionByName(
        docs.filter(did % 25 == 0).select((did + 20000).alias("doc_id"), "text")
    )
    with tempfile.TemporaryDirectory(prefix="fp_store_") as tmp:
        path = os.path.join(tmp, "fps")
        dedup_store.write_fingerprint_store(docs, path)
        store = dedup_store.read_fingerprint_store(spark, path)
        out = dedup_store.incremental_fingerprint_matches(batch, store)
        rows = out.collect()
    return local_frame(spark, rows, out.schema)




@register(
    "dedup_incremental_fingerprint_maintained",
    # store loses doc_id % 3 = 0 before the batch arrives: pairs
    # against removed docs must vanish, batch×batch pairs survive
    oracle="""
    WITH batch AS (
        SELECT doc_id + 10000 AS doc_id, text FROM documents
        WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 20000 AS doc_id, text FROM documents
        WHERE doc_id % 25 = 0
    ),
    store AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0
    ),
    allfp AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS fingerprint
        FROM (SELECT doc_id, text FROM store UNION ALL
              SELECT doc_id, text FROM batch)
    )
    SELECT DISTINCT least(l.doc_id, r.doc_id) AS id_a,
           greatest(l.doc_id, r.doc_id) AS id_b, l.fingerprint
    FROM allfp l
    JOIN (SELECT * FROM allfp WHERE doc_id >= 10000) r
      ON l.fingerprint = r.fingerprint AND l.doc_id <> r.doc_id
    """,
    tags=("dedup", "extension", "incremental"),
)
def dedup_incremental_fingerprint_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The exact-fingerprint store through delete maintenance in one
    certified path (VERDICT r9 item 1): register the corpus,
    ``delete_from_fingerprint_store`` the doc_id % 3 = 0 slice
    (anti-join rewrite behind the crash-safe staged swap — the store
    is 16 B/doc, so a full rewrite IS the cheap move, unlike the
    tombstoned postings store), then run the planted-copy ingest
    batch. Pairs whose store member was removed must vanish from the
    answer; the oracle recomputes the match set over the surviving
    store (operators/dedup_store.py::delete_from_fingerprint_store)."""
    import os
    import tempfile

    from ..operators import dedup_store

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    batch = (
        docs.filter(did % 5 == 0).select((did + 10000).alias("doc_id"), "text")
    ).unionByName(
        docs.filter(did % 25 == 0).select((did + 20000).alias("doc_id"), "text")
    )
    with tempfile.TemporaryDirectory(prefix="fp_maint_") as tmp:
        path = os.path.join(tmp, "fps")
        dedup_store.write_fingerprint_store(docs, path)
        dedup_store.delete_from_fingerprint_store(
            spark, path, docs.filter(did % 3 == 0).select("doc_id")
        )
        store = dedup_store.read_fingerprint_store(spark, path)
        out = dedup_store.incremental_fingerprint_matches(batch, store)
        rows = out.collect()
    return local_frame(spark, rows, out.schema)


def _simhash_oracle(
    max_hamming: int = 3,
    batch_mod: int | None = None,
    corpus_where: str | None = None,
) -> str:
    """DuckDB mirror of the portable 32-bit SimHash pipeline
    (operators/dedup.py::simhash_neardup_pairs(bits=32)): md5-32
    token hashes, per-bit ±1 votes, sign fold, 4×8-bit pigeonhole
    bands, bit_count(xor) verification. ``batch_mod`` restricts the
    pair set to pairs INVOLVING the batch (doc_id % batch_mod = 0) —
    the incremental-store contract (operators/dedup_store.py).
    ``corpus_where`` restricts which documents exist at all — the
    store-delete contract (removed docs stop producing pairs)."""
    votes = ",\n               ".join(
        f"sum(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(32)
    )
    fold = "\n                 + ".join(
        f"(CASE WHEN v_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    batch_clause = (
        f"\n              AND (l.doc_id % {batch_mod} = 0"
        f" OR rr.doc_id % {batch_mod} = 0)"
        if batch_mod is not None
        else ""
    )
    corpus_clause = f"WHERE {corpus_where}" if corpus_where else ""
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
        FROM documents {corpus_clause}
    ),
    hashed AS (
        SELECT doc_id,
               CAST(CONCAT('0x', substr(md5(token), 1, 8)) AS BIGINT) AS h
        FROM tok
    ),
    votes AS (
        SELECT doc_id,
               {votes}
        FROM hashed GROUP BY doc_id
    ),
    sims AS (
        SELECT doc_id,
               CAST({fold} AS BIGINT) AS simhash
        FROM votes
    ),
    bands AS (
        SELECT doc_id, simhash, band,
               ((simhash >> (band * 8)) & 255) AS bucket
        FROM sims, unnest([0, 1, 2, 3]) AS bt(band)
    ),
    pairs AS (
        SELECT DISTINCT l.doc_id AS id_a, rr.doc_id AS id_b,
               CAST(bit_count(xor(l.simhash, rr.simhash)) AS INT) AS hamming
        FROM bands l
        JOIN bands rr ON l.band = rr.band AND l.bucket = rr.bucket
        WHERE l.doc_id < rr.doc_id{batch_clause}
    )
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(max_hamming=1),
    tags=("dedup", "extension", "approx"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via equal-width band candidates
    (pigeonhole-complete for d ≤ 3). Runs the md5-portable 32-bit
    fingerprint so the DuckDB oracle recomputes hash → votes → fold →
    bands → verify value-for-value; the Hamming cutoff tightens to 1
    at 32 bits (3/64 ≈ 1/32 relative distance — same selectivity as
    the 64-bit xxhash64 production default at d ≤ 3)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_neardup_pairs(
        docs, "doc_id", "text", max_hamming=1, bits=32
    )


@register(
    "dedup_incremental_simhash",
    oracle=_simhash_oracle(max_hamming=1, batch_mod=4),
    tags=("dedup", "extension", "incremental", "approx"),
)
def dedup_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash near-dup against a persisted 8-bytes/doc
    fingerprint store (operators/dedup_store.py::
    incremental_simhash_pairs) — the steady-state ingest twin of
    ``dedup_simhash``: the corpus (doc_id % 4 != 0) is SimHashed ONCE
    into the store; the batch (doc_id % 4 = 0) hashes only itself,
    bands 4-way, joins its band rows against the store's, and
    verifies bit_count(xor) ≤ 1. Runs the md5-portable 32-bit family
    so the oracle recomputes every stage; the sidecar pins ``bits``
    per store."""
    import os
    import tempfile

    from ..operators import dedup_store

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store_docs = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    with tempfile.TemporaryDirectory(prefix="sh_store_") as tmp:
        path = os.path.join(tmp, "sims")
        dedup_store.write_simhash_store(store_docs, path, bits=32)
        store = dedup_store.read_simhash_store(spark, path)
        out = dedup_store.incremental_simhash_pairs(
            batch, store, max_hamming=1, bits=32
        )
        rows = out.collect()
    return local_frame(spark, rows, out.schema)


@register(
    "dedup_incremental_simhash_maintained",
    # the store loses doc_id % 5 = 1 before the batch arrives: those
    # docs must stop producing near-dup pairs entirely
    oracle=_simhash_oracle(
        max_hamming=1,
        batch_mod=4,
        corpus_where="NOT (doc_id % 4 != 0 AND doc_id % 5 = 1)",
    ),
    tags=("dedup", "extension", "incremental", "approx"),
)
def dedup_incremental_simhash_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SimHash store through delete maintenance in one certified
    path (the per-store delete certification family: fingerprint r10,
    shingle r10, postings r10, IVF r9, MinHash r10 —
    ``dedup_incremental_minhash_maintained``): build on the store
    slice (doc_id % 4 != 0),
    ``delete_from_simhash_store`` the doc_id % 5 = 1 subset (staged
    anti-join rewrite, 8 B/doc), then run the incremental batch
    (doc_id % 4 = 0). The oracle recomputes the banded pipeline over
    the surviving corpus, so pairs whose store member was removed
    must vanish value-for-value. Post-delete store = deterministic
    fixed point → built once per process (``_cached_store``); the
    query returns the LIVE incremental plan."""
    from ..operators import dedup_store

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 4 == 0)

    def _build(path: str) -> None:
        dedup_store.write_simhash_store(
            docs.filter(F.col("doc_id") % 4 != 0), path, bits=32
        )
        dedup_store.delete_from_simhash_store(
            spark, path, docs.filter(F.col("doc_id") % 5 == 1).select("doc_id")
        )

    path = _cached_store("sh_maint", sf_dir, _build)
    store = dedup_store.read_simhash_store(spark, path)
    return dedup_store.incremental_simhash_pairs(
        batch, store, max_hamming=1, bits=32
    )


_COSINE_ORACLE_BASE = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
"""


@register(
    "similarity_topk_bruteforce",
    oracle=_COSINE_ORACLE_BASE
    + """
    , p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < 50),
    scored AS (
        SELECT probe_id, c.vec_id AS neighbor_id,
               round(list_dot_product(pe, c.e)
                     / (sqrt(list_dot_product(pe, pe))
                        * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine_sim
        FROM p JOIN v c ON c.vec_id != p.probe_id
    )
    SELECT probe_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    tags=("similarity", "extension"),
    bench=True,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 50 vectors —
    the ANN baseline (zip_with/aggregate dot product, JVM-side)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50)
    return similarity.cosine_topk_bruteforce(probes, emb, k=5)


@register(
    "embedding_neardup_pairs",
    oracle=_COSINE_ORACLE_BASE
    + """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(b.e, b.e))) >= 0.45
    """,
    tags=("similarity", "dedup", "extension"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.45 — the
    fixture corpus tops out ~0.51)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.neardup_pairs_cosine(emb, threshold=0.45)


def _lsh_oracle(k: int = 5, num_planes: int = 4, num_tables: int = 8) -> str:
    """DuckDB mirror of the FULL random-hyperplane LSH pipeline
    (operators/similarity.py::cosine_topk_lsh): the hyperplanes are
    re-derived in SQL from the same md5 formula whose Python twin
    (``hyperplane_components``) inlines them into the Spark plan —
    dyadic-rational components, so both engines hold bit-identical
    planes — then bucketing, multi-table candidate union, scoring and
    ranking are recomputed value-for-value."""
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    planes AS (
        SELECT t, i,
               list((CAST(CONCAT('0x', substr(md5('rhp-' || t || '-' || i
                                               || '-' || j), 1, 12)) AS BIGINT)
                     % 2049 - 1024) / 1024.0 ORDER BY j) AS pw
        FROM generate_series(0, {num_tables - 1}) tt(t),
             generate_series(0, {num_planes - 1}) ii(i),
             generate_series(0, 63) jj(j)
        GROUP BY t, i
    ),
    buckets AS (
        SELECT v.vec_id, pl.t,
               sum(CASE WHEN list_dot_product(v.e, pl.pw) >= 0
                        THEN (1 << pl.i) ELSE 0 END) AS bucket
        FROM v, planes pl GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
        FROM buckets p JOIN buckets c ON p.t = c.t AND p.bucket = c.bucket
        WHERE p.vec_id < 50 AND p.vec_id != c.vec_id
    ),
    scored AS (
        SELECT probe_id, neighbor_id,
               round(list_dot_product(pe.e, ce.e)
                     / (sqrt(list_dot_product(pe.e, pe.e))
                        * sqrt(list_dot_product(ce.e, ce.e))), 6) AS cosine_sim
        FROM cand
        JOIN v pe ON pe.vec_id = probe_id
        JOIN v ce ON ce.vec_id = neighbor_id
    )
    SELECT probe_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


def _neardup_lsh_oracle(
    num_planes: int, num_tables: int,
    threshold: float = 0.45, planted: bool = False,
) -> str:
    """DuckDB mirror of neardup_pairs_cosine_lsh, parameterized on the
    LSH configuration: re-derives the identical md5 dyadic-rational
    hyperplanes, bucketing, candidate generation and scoring (see
    _lsh_oracle for the top-k twin). ``planted=True`` augments the
    corpus with deterministic near-dup copies (vec_id+100000,
    every component +0.05 → cosine ≈0.93) of the first 25 vectors —
    exact double arithmetic mirrored by the Spark builder, so the
    approximate pipeline certifies on NONZERO output."""
    v_cte = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings"
    if planted:
        v_cte = f"""
        WITH base AS ({v_cte})
        SELECT * FROM base
        UNION ALL
        SELECT vec_id + 100000, list_transform(e, x -> x + 0.05)
        FROM base WHERE vec_id < 25
        """
    return f"""
    WITH v AS ({v_cte}),
    planes AS (
        SELECT t, i,
               list((CAST(CONCAT('0x', substr(md5('rhp-' || t || '-' || i
                                               || '-' || j), 1, 12)) AS BIGINT)
                     % 2049 - 1024) / 1024.0 ORDER BY j) AS pw
        FROM generate_series(0, {num_tables - 1}) tt(t),
             generate_series(0, {num_planes - 1}) ii(i),
             generate_series(0, 63) jj(j)
        GROUP BY t, i
    ),
    buckets AS (
        SELECT v.vec_id, pl.t,
               sum(CASE WHEN list_dot_product(v.e, pl.pw) >= 0
                        THEN (1 << pl.i) ELSE 0 END) AS bucket
        FROM v, planes pl GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
        WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           round(list_dot_product(va.e, vb.e)
                 / (sqrt(list_dot_product(va.e, va.e))
                    * sqrt(list_dot_product(vb.e, vb.e))), 6) AS cosine_sim
    FROM cand
    JOIN v va ON va.vec_id = id_a
    JOIN v vb ON vb.vec_id = id_b
    WHERE list_dot_product(va.e, vb.e)
          / (sqrt(list_dot_product(va.e, va.e))
             * sqrt(list_dot_product(vb.e, vb.e))) >= {threshold}
    """


# The planes=4/tables=8 RECALL DEMONSTRATOR configuration (keeps ~40%
# of all n² pairs as candidates — near-exhaustive recall, a constant-
# factor cost reduction only, measured 20.8× at 10× data) is
# deliberately NOT a registered query (VERDICT r7 item 5): its only
# remaining role is the recall comparison, which
# tests/test_similarity.py::test_neardup_lsh_is_subset_with_recall
# pins against the exact pair set at the operator defaults. The 100 TB
# operating point is the scaled configuration below.
@register(
    "embedding_neardup_pairs_lsh_scaled",
    oracle=_neardup_lsh_oracle(num_planes=12, num_tables=16),
    tags=("similarity", "dedup", "extension", "approx"),
    bench=True,
)
def embedding_neardup_pairs_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at the SCALE operating point:
    planes=12/tables=16 keeps only ~0.4% of random pairs as
    candidates — candidate volume tracks true near-dup volume instead
    of n², which is what survives a 100× corpus. The trade is recall
    at moderate similarity: a cosine-0.45 pair (θ≈63°) collides in
    some table with only ~9% probability, while true near-dups
    (cosine ≥0.9) are found with ~93% probability
    (tests/test_similarity.py measures both). The oracle recomputes
    the IDENTICAL pipeline — planes, buckets, candidates, scores — so
    certification is value-for-value on the approximation itself, not
    on the exact pair set."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.neardup_pairs_cosine_lsh(
        emb, threshold=0.45, num_planes=12, num_tables=16, dim=64
    )


@register(
    "embedding_neardup_pairs_lsh_scaled_planted",
    oracle=_neardup_lsh_oracle(
        num_planes=12, num_tables=16, threshold=0.9, planted=True
    ),
    tags=("similarity", "dedup", "extension", "approx"),
)
def embedding_neardup_pairs_lsh_scaled_planted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The scale LSH configuration certified on NONZERO output: the
    corpus is augmented with deterministic near-dup copies of its
    first 25 vectors (vec_id+100000, each component +0.05 → cosine
    ≈0.93 to the original), and planes=12/tables=16 at threshold 0.9
    must recover them. The fixture corpus itself tops out at cosine
    ~0.51, so `embedding_neardup_pairs_lsh_scaled` legitimately
    returns zero pairs — this query proves the same configuration
    FINDS true near-dups when they exist (the ~93% per-pair collision
    probability is deterministic for a fixed corpus; the oracle
    recomputes the identical pipeline over the identical augmented
    corpus, planted copies derived by exact double arithmetic in both
    engines)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.05)).alias("embedding"),
    )
    return similarity.neardup_pairs_cosine_lsh(
        emb.unionByName(planted),
        threshold=0.9, num_planes=12, num_tables=16, dim=64,
    )


@register(
    "similarity_topk_lsh",
    oracle=_lsh_oracle(),
    tags=("similarity", "extension", "approx"),
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane-LSH-bucketed cosine top-5 — the scale path:
    each probe scores only same-bucket candidates across 8 hash
    tables (~8/2^4 of the corpus instead of all of it). The planes
    are md5-derived literals shared with the DuckDB oracle, which
    recomputes bucketing, candidates and ranking value-for-value."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50)
    return similarity.cosine_topk_lsh(
        probes, emb, k=5, num_planes=4, num_tables=8, dim=64
    )


_MEDIA_SQL = """
    SELECT doc_id AS media_id,
           encode(text) AS payload,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(n_chars % 64 + 16 AS INT) AS width,
           CAST(n_chars % 48 + 16 AS INT) AS height,
           CAST(n_chars % 10 + 1 AS INT) AS n_frames
    FROM documents
"""


@register(
    "multimodal_binary_stats",
    oracle=f"""
    WITH media AS ({_MEDIA_SQL})
    SELECT media_type,
           count(*) AS n_items,
           CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
           CAST(round(CAST(sum(octet_length(payload)) AS DOUBLE)
                      / count(*) * 1e6) AS BIGINT) AS avg_micro_bytes,
           max(width) AS max_width,
           max(height) AS max_height
    FROM media GROUP BY media_type
    """,
    tags=("multimodal", "extension"),
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media columns with typed metadata: size/shape
    profile per media type, no decode (SURVEY.md §7.5 multimodal)."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.binary_stats(multimodal.documents_as_media(docs))


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH media AS ({_MEDIA_SQL})
    SELECT media_id, n_frames AS total_frames,
           CAST(frame_idx AS INT) AS frame_idx
    FROM media, unnest(generate_series(0, n_frames - 1, 2)) AS t(frame_idx)
    WHERE media_type = 'video'
    """,
    tags=("multimodal", "extension"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: video rows explode to every-2nd frame
    indices (metadata-driven; the decode stage is the stubbed
    mapInPandas in operators/multimodal.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.sample_frames(
        multimodal.documents_as_media(docs), every_nth=2
    )


@register(
    "multimodal_features",
    # The stub decoder is sha256-based (operators/multimodal.py::
    # fake_features), and DuckDB's sha256(VARCHAR) hashes the same
    # UTF-8 bytes Python's hashlib sees — so the Arrow mapInPandas
    # stage is value-checkable end to end: f0 is the first 4 digest
    # bytes over 2^32 (an exact dyadic double in both engines).
    oracle=f"""
    WITH media AS ({_MEDIA_SQL})
    SELECT media_id, media_type,
           CAST(octet_length(payload) AS BIGINT) AS payload_bytes,
           round(CAST(CONCAT('0x', substr(sha256(decode(payload)), 1, 8))
                      AS BIGINT) / 4294967296.0, 6) AS f0
    FROM media
    """,
    tags=("multimodal", "extension", "approx"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature-extract over binary payloads
    (deterministic fake decoder; real codecs plug into ``decoder=``)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id",
        "media_type",
        "payload_bytes",
        F.round(F.element_at("features", 1), 6).alias("f0"),
    )


@register(
    "multimodal_audio_windows",
    oracle=f"""
    WITH media AS ({_MEDIA_SQL})
    SELECT media_id,
           CAST(n_frames * 1000 AS INT) AS duration_ms,
           CAST(ws AS INT) AS window_start_ms,
           CAST(ws + 1000 AS INT) AS window_end_ms
    FROM media,
         unnest(generate_series(0, n_frames * 1000 - 1000, 500)) AS t(ws)
    WHERE media_type = 'audio' AND n_frames * 1000 >= 1000
    """,
    tags=("multimodal", "extension"),
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 s analysis windows, 500 ms hop, over audio rows — the
    metadata-driven window plumbing for STFT/feature stages
    (operators/multimodal.py::audio_windows)."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.audio_windows(
        multimodal.documents_as_media(docs), window_ms=1000, hop_ms=500
    )


@register(
    "multimodal_resize_images",
    # The stub resizer (operators/multimodal.py::resize_images) emits
    # sha256(payload) repeated and truncated to exactly w*h bytes —
    # reproducible in DuckDB in the HEX domain (its md5/substr are
    # VARCHAR-only): repeat the lowercase sha256 hex and truncate to
    # 2*w*h chars. Comparing the full hex certifies the resized
    # payload BYTE-FOR-BYTE, including the non-multiple-of-32
    # truncation tail (20*17=340 = 10 full digests + 20 bytes).
    oracle=f"""
    WITH media AS ({_MEDIA_SQL})
    SELECT media_id, media_type,
           CAST(20 AS INT) AS width,
           CAST(17 AS INT) AS height,
           CAST(340 AS BIGINT) AS out_bytes,
           substr(repeat(sha256(decode(payload)), 11), 1, 680) AS payload_hex
    FROM media WHERE media_type = 'image'
    """,
    tags=("multimodal", "extension"),
)
def multimodal_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode→resize→re-encode plumbing for image payloads: the
    Arrow-batched mapInPandas stage rewrites each image to a 20×17
    pseudo-bitmap (deterministic sha256-derived stub; a real codec
    plugs into ``resizer=``), metadata updated to the target shape.
    Emits the resized payload as hex so the driver value-checks every
    output byte."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    resized = multimodal.resize_images(media, target_w=20, target_h=17)
    return resized.select(
        "media_id",
        "media_type",
        "width",
        "height",
        F.octet_length("payload").cast("long").alias("out_bytes"),
        F.lower(F.hex("payload")).alias("payload_hex"),
    )


@register(
    "multimodal_wav_features",
    # Payload bytes are synthesized in closed form from (doc_id,
    # n_chars) — operators/multimodal.py::synthesize_codec_media — so
    # the oracle predicts the DECODED stats analytically while the
    # Spark side genuinely builds and then chunk-walks RIFF bytes
    # (struct-unpacked PCM frames, word-aligned LIST junk chunk
    # included). All outputs are exact integers: hash-stable.
    oracle="""
    WITH wav AS (
        SELECT doc_id,
               8000 + (doc_id % 8) * 1000 AS sample_rate,
               n_chars % 240 + 16 AS n_samples
        FROM documents WHERE doc_id % 2 = 0
    ),
    samples AS (
        SELECT w.doc_id,
               abs((w.doc_id * 31 + t.i * 17) % 65536 - 32768) AS a
        FROM wav w, unnest(generate_series(0, w.n_samples - 1)) AS t(i)
    )
    SELECT w.doc_id AS media_id,
           CAST(w.sample_rate AS BIGINT) AS sample_rate,
           CAST(w.n_samples AS BIGINT) AS n_samples,
           CAST(max(s.a) AS BIGINT) AS peak_abs,
           CAST(sum(s.a) AS BIGINT) AS sum_abs,
           CAST(w.n_samples * 1000000 // w.sample_rate AS BIGINT)
               AS duration_us
    FROM wav w JOIN samples s ON s.doc_id = w.doc_id
    GROUP BY w.doc_id, w.sample_rate, w.n_samples
    """,
    tags=("multimodal", "extension", "codec"),
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode in the mapInPandas stage: synthesize PCM-16
    RIFF/WAV payloads from document metadata, then parse them back —
    magic validation, word-aligned chunk walk past a junk LIST chunk,
    struct-unpacked frames — and emit sample-accurate stats
    (SURVEY.md §7.5 multimodal; stdlib-only, no codec libraries)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    media = multimodal.synthesize_codec_media(docs)
    feats = multimodal.extract_features(media, strict=True)
    f = feats["features"]
    return feats.select(
        "media_id",
        F.element_at(f, 1).cast("long").alias("sample_rate"),
        F.element_at(f, 4).cast("long").alias("n_samples"),
        F.element_at(f, 5).cast("long").alias("peak_abs"),
        F.element_at(f, 6).cast("long").alias("sum_abs"),
        F.element_at(f, 7).cast("long").alias("duration_us"),
    )


@register(
    "multimodal_ppm_features",
    oracle="""
    WITH ppm AS (
        SELECT doc_id,
               doc_id % 16 + 4 AS width,
               doc_id % 12 + 3 AS height
        FROM documents WHERE doc_id % 2 = 1
    ),
    px AS (
        SELECT p.doc_id, t.k, (p.doc_id * 13 + t.k * 7) % 256 AS b
        FROM ppm p,
             unnest(generate_series(0, 3 * p.width * p.height - 1)) AS t(k)
    )
    SELECT p.doc_id AS media_id,
           CAST(p.width AS BIGINT) AS width,
           CAST(p.height AS BIGINT) AS height,
           CAST(p.width * p.height AS BIGINT) AS n_pixels,
           CAST(sum(CASE WHEN px.k % 3 = 0 THEN px.b ELSE 0 END) AS BIGINT)
               AS sum_r,
           CAST(sum(CASE WHEN px.k % 3 = 1 THEN px.b ELSE 0 END) AS BIGINT)
               AS sum_g,
           CAST(sum(CASE WHEN px.k % 3 = 2 THEN px.b ELSE 0 END) AS BIGINT)
               AS sum_b
    FROM ppm p JOIN px ON px.doc_id = p.doc_id
    GROUP BY p.doc_id, p.width, p.height
    """,
    tags=("multimodal", "extension", "codec"),
)
def multimodal_ppm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode in the mapInPandas stage: synthesize binary
    PPM (P6) payloads — header with a comment line + raw RGB bytes —
    then tokenize the header and sum per-channel pixel values
    (SURVEY.md §7.5 multimodal; stdlib-only)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 1
    )
    media = multimodal.synthesize_codec_media(docs)
    feats = multimodal.extract_features(media, strict=True)
    f = feats["features"]
    return feats.select(
        "media_id",
        F.element_at(f, 1).cast("long").alias("width"),
        F.element_at(f, 2).cast("long").alias("height"),
        F.element_at(f, 4).cast("long").alias("n_pixels"),
        F.element_at(f, 5).cast("long").alias("sum_r"),
        F.element_at(f, 6).cast("long").alias("sum_g"),
        F.element_at(f, 7).cast("long").alias("sum_b"),
    )


@register(
    "multimodal_png_features",
    # Pixel bytes are closed-form in doc_id (operators/multimodal.py
    # ::synthesize_png_media), so the oracle predicts the DECODED
    # channel sums analytically while the Spark side round-trips real
    # PNG bytes: deflate + CRC-32 chunk framing with a split IDAT on
    # encode; signature/CRC validation, IDAT concatenation, inflate,
    # and five-filter scanline reconstruction (rows cycle filter
    # r % 5) on decode. A single wrong filter reconstruction changes
    # the sums — the oracle is a value check on the filter math, not
    # just the header walk. Channel sums: byte k belongs to channel
    # k % ch; alpha (ch 4) counts only in sum_all.
    oracle="""
    WITH png AS (
        SELECT doc_id,
               doc_id % 13 + 4 AS w,
               doc_id % 9 + 3 AS h,
               CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
        FROM documents
    ),
    px AS (
        SELECT p.doc_id, t.k, p.ch, (p.doc_id * 11 + t.k * 5) % 256 AS b
        FROM png p,
             unnest(generate_series(0, p.w * p.h * p.ch - 1)) AS t(k)
    )
    SELECT p.doc_id AS media_id,
           CAST(p.w AS BIGINT) AS width,
           CAST(p.h AS BIGINT) AS height,
           CAST(p.ch AS BIGINT) AS channels,
           CAST(p.w * p.h AS BIGINT) AS n_pixels,
           CAST(sum(CASE WHEN px.k % px.ch = 0 THEN px.b ELSE 0 END)
                AS BIGINT) AS sum_c0,
           CAST(sum(CASE WHEN px.k % px.ch = 1 THEN px.b ELSE 0 END)
                AS BIGINT) AS sum_c1,
           CAST(sum(CASE WHEN px.k % px.ch = 2 THEN px.b ELSE 0 END)
                AS BIGINT) AS sum_c2,
           CAST(sum(px.b) AS BIGINT) AS sum_all
    FROM png p JOIN px ON px.doc_id = p.doc_id
    GROUP BY p.doc_id, p.w, p.h, p.ch
    """,
    tags=("multimodal", "extension", "codec"),
)
def multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode in the mapInPandas stage (stdlib zlib+struct —
    VERDICT r13 item 4: PNG was only half env-blocked): synthesize
    8-bit gray/RGB/RGBA non-interlaced PNGs with per-row filter
    cycling, then parse them back — CRC-checked chunk walk, IDAT
    reassembly, inflate, Sub/Up/Average/Paeth reconstruction — and
    emit per-channel pixel sums (SURVEY.md §7.5 multimodal)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_png_media(docs)
    feats = multimodal.extract_features(media, strict=True)
    f = feats["features"]
    return feats.select(
        "media_id",
        F.element_at(f, 1).cast("long").alias("width"),
        F.element_at(f, 2).cast("long").alias("height"),
        F.element_at(f, 3).cast("long").alias("channels"),
        F.element_at(f, 4).cast("long").alias("n_pixels"),
        F.element_at(f, 5).cast("long").alias("sum_c0"),
        F.element_at(f, 6).cast("long").alias("sum_c1"),
        F.element_at(f, 7).cast("long").alias("sum_c2"),
        F.element_at(f, 8).cast("long").alias("sum_all"),
    )


@register(
    "multimodal_jpeg_features",
    # The fixture's 8×8 blocks are FLAT (operators/multimodal.py::
    # synthesize_jpeg_media), so every AC coefficient is exactly zero
    # and the encoder's DC quant step of 8 makes the DC path
    # bit-exact through the lossy format: block b of doc d decodes to
    # exactly v = (d*7 + b*13) % 256 in every pixel (R=G=B keeps the
    # JFIF YCbCr transform exact for the color half). The oracle
    # therefore predicts the DECODED channel sums analytically while
    # the Spark side genuinely Huffman-codes DC differences and
    # byte-stuffs on encode, and walks markers, rebuilds the
    # stream-declared Huffman tables, dequantizes and runs the
    # numpy IDCT on decode — a wrong table walk, zigzag, magnitude
    # extension, or IDCT is a value mismatch, not a crash.
    oracle="""
    WITH jp AS (
        SELECT doc_id,
               8 * (doc_id % 3 + 1) AS w,
               8 * (doc_id % 2 + 1) AS h,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch,
               (doc_id % 3 + 1) * (doc_id % 2 + 1) AS nb
        FROM documents
    ),
    blk AS (
        SELECT j.doc_id, (j.doc_id * 7 + t.b * 13) % 256 AS v
        FROM jp j, unnest(generate_series(0, j.nb - 1)) AS t(b)
    ),
    sums AS (SELECT doc_id, 64 * sum(v) AS s FROM blk GROUP BY doc_id)
    SELECT j.doc_id AS media_id,
           CAST(j.w AS BIGINT) AS width,
           CAST(j.h AS BIGINT) AS height,
           CAST(j.ch AS BIGINT) AS channels,
           CAST(j.w * j.h AS BIGINT) AS n_pixels,
           CAST(s.s AS BIGINT) AS sum_c0,
           CAST(CASE WHEN j.ch = 3 THEN s.s ELSE 0 END AS BIGINT)
               AS sum_c1,
           CAST(CASE WHEN j.ch = 3 THEN s.s ELSE 0 END AS BIGINT)
               AS sum_c2,
           CAST(j.ch * s.s AS BIGINT) AS sum_all
    FROM jp j JOIN sums s ON s.doc_id = j.doc_id
    """,
    tags=("multimodal", "extension", "codec"),
)
def multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode in the mapInPandas stage (VERDICT
    r13's last missing-list item: the container lacks libjpeg, but
    baseline DCT needs only Huffman coding + an IDCT — ITU T.81
    implemented directly with stdlib struct + numpy): synthesize
    gray/YCbCr 4:4:4 JPEGs with per-block-varying flat values, then
    parse them back — marker walk, stream-declared Huffman tables,
    byte-unstuffing, dequant, IDCT, color reconstruction — and emit
    per-channel pixel sums (SURVEY.md §7.5 multimodal)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_jpeg_media(docs)
    feats = multimodal.extract_features(media, strict=True)
    f = feats["features"]
    return feats.select(
        "media_id",
        F.element_at(f, 1).cast("long").alias("width"),
        F.element_at(f, 2).cast("long").alias("height"),
        F.element_at(f, 3).cast("long").alias("channels"),
        F.element_at(f, 4).cast("long").alias("n_pixels"),
        F.element_at(f, 5).cast("long").alias("sum_c0"),
        F.element_at(f, 6).cast("long").alias("sum_c1"),
        F.element_at(f, 7).cast("long").alias("sum_c2"),
        F.element_at(f, 8).cast("long").alias("sum_all"),
    )


# shared by dedup_clusters (min-label propagation) and
# dedup_clusters_star (large-star/small-star contraction): two
# algorithms, one fixed point, one oracle
_CLUSTERS_ORACLE = """
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    shingles AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS sh
        FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT id_a, id_b FROM common
        JOIN sizes na ON na.doc_id = id_a
        JOIN sizes nb ON nb.doc_id = id_b
        WHERE c / (na.n + nb.n - c) >= 0.6
    ),
    und AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION SELECT id_b, id_a FROM edges
    ),
    reach(id, r) AS (
        SELECT a, a FROM und
        UNION
        SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id
    )
    SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
"""


@register(
    "dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "graph", "extension"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: word-3-gram Jaccard ≥ 0.6 pairs form
    the similarity graph; min-label connected components
    (operators/graph.py) turn pairs into keep-one-per-component
    groups. The DuckDB oracle recomputes components with a recursive
    CTE — iterative DataFrame algorithm vs recursive SQL, same fixed
    point."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6)
    return connected_components(
        pairs.select("id_a", "id_b"), src="id_a", dst="id_b"
    ).select(F.col("id").alias("doc_id"), "component")


@register(
    "dedup_clusters_star",
    oracle=_CLUSTERS_ORACLE,
    tags=("dedup", "graph", "extension"),
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate clusters as ``dedup_clusters``, computed by
    large-star/small-star contraction
    (operators/graph.py::connected_components_star) instead of
    min-label propagation — O(log diameter) rounds, so chain-shaped
    similarity graphs don't stretch the iteration count at 100 TB.
    Oracle identical: both algorithms share one fixed point."""
    from ..operators.graph import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6)
    return connected_components_star(
        pairs.select("id_a", "id_b"), src="id_a", dst="id_b"
    ).select(F.col("id").alias("doc_id"), "component")


@register(
    "dedup_decontaminate",
    oracle="""
    WITH corpus_toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
        FROM documents WHERE doc_id % 20 != 0
    ),
    corpus_sh AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS sh
        FROM corpus_toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),
    bench_toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
        FROM documents WHERE doc_id % 20 = 0
    ),
    bench_sh AS (
        SELECT DISTINCT array_to_string(list_slice(t, i, i + 2), ' ') AS sh
        FROM bench_toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM corpus_sh GROUP BY doc_id),
    ov AS (
        SELECT c.doc_id, count(*) AS n_ov
        FROM corpus_sh c JOIN bench_sh b USING (sh)
        GROUP BY c.doc_id
    )
    SELECT s.doc_id,
           CAST(s.n_sh AS BIGINT) AS n_shingles,
           CAST(coalesce(ov.n_ov, 0) AS BIGINT) AS n_overlap,
           round(coalesce(ov.n_ov, 0) / s.n_sh, 6) AS overlap_ratio,
           coalesce(ov.n_ov, 0) / s.n_sh >= 0.1 AS contaminated
    FROM sizes s LEFT JOIN ov USING (doc_id)
    """,
    tags=("dedup", "decontamination", "extension"),
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION: every 20th document plays the eval
    benchmark; each remaining corpus document reports the fraction of
    its word-3-gram shingles that appear anywhere in the benchmark
    and is flagged at ≥ 10% overlap — the eval-leakage guard a
    pretraining pipeline runs before trusting its benchmarks
    (operators/dedup.py::benchmark_overlap: the benchmark shingle set
    broadcasts; the corpus never shuffles its shingles)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return dedup.benchmark_overlap(
        corpus, bench, "doc_id", "text", n=3, threshold=0.1
    )


@register(
    "sample_stratified_by_lang",
    oracle="""
    WITH b AS (
        SELECT lang,
               CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 10000 AS bucket
        FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (WHERE bucket <
                CASE lang WHEN 'en' THEN 1000
                          WHEN 'zh' THEN 10000
                          ELSE 5000 END) AS BIGINT) AS n_sampled
    FROM b GROUP BY lang
    """,
    tags=("sampling", "extension"),
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling — the corpus-rebalancing
    primitive: keep 10% of English (dominant), all of Chinese (rare),
    half of everything else, by the same engine-reproducible md5
    bucket as the train/val/test split; the oracle re-derives which
    exact rows survive (operators/sampling.py::stratified_sample)."""
    from ..operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    sampled = stratified_sample(
        docs, "doc_id", "lang", {"en": 0.1, "zh": 1.0}, default=0.5
    )
    totals = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    kept = sampled.groupBy("lang").agg(F.count("*").alias("n_sampled"))
    return totals.join(kept, "lang", "left").na.fill({"n_sampled": 0})


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    shingles AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS sh
        FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT id_a, id_b FROM common
        JOIN sizes na ON na.doc_id = id_a
        JOIN sizes nb ON nb.doc_id = id_b
        WHERE c / (na.n + nb.n - c) >= 0.6
    ),
    und AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION SELECT id_b, id_a FROM edges
    ),
    reach(id, r) AS (
        SELECT a, a FROM und
        UNION
        SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id
    ),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
    qa AS (
        SELECT doc_id,
               length(text) AS n,
               round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
                     / length(text), 6) AS p_ratio,
               round(len(list_filter({_TOKS}, x -> list_contains({_STOPS}, x)))
                     / len({_TOKS}), 6) AS s_ratio,
               round(list_aggregate(list_transform({_TOKS}, x -> length(x)), 'sum')
                     / len({_TOKS}), 6) AS mtl
        FROM documents
    ),
    q AS (
        SELECT doc_id,
               round(((CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                            WHEN n >= 30 THEN 0.5 ELSE 0.0 END)
                      + (CASE WHEN p_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
                      + (CASE WHEN s_ratio >= 0.05 THEN 1.0 ELSE 0.0 END)
                      + (CASE WHEN mtl >= 2.5 AND mtl <= 12 THEN 1.0 ELSE 0.0 END)
                     ) / 4.0, 6) AS quality
        FROM qa
    ),
    j AS (
        SELECT c.component, c.id, q.quality
        FROM comp c JOIN q ON q.doc_id = c.id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY component
                                     ORDER BY quality DESC, id) AS rn
        FROM j
    )
    SELECT r.component, r.id AS kept_id, r.quality AS best_quality, m.n_members
    FROM ranked r
    JOIN (SELECT component, CAST(count(*) AS BIGINT) AS n_members
          FROM j GROUP BY component) m USING (component)
    WHERE r.rn = 1
    """,
    tags=("dedup", "graph", "extension"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: near-dup clusters (Jaccard ≥ 0.6
    connected components) each keep their HIGHEST-QUALITY member
    (ties → lowest id) — the policy step that turns duplicate
    clusters into a training set, composing graph components with the
    quality score (operators/graph.py::keep_best_per_cluster)."""
    from ..operators.graph import connected_components, keep_best_per_cluster

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6)
    comp = connected_components(
        pairs.select("id_a", "id_b"), src="id_a", dst="id_b"
    )
    scores = docs.select(
        F.col("doc_id").alias("id"), quality_score(F.col("text")).alias("quality")
    )
    best = keep_best_per_cluster(comp, scores, id_col="id", score_col="quality")
    return best.select(
        "component",
        "kept_id",
        F.col("best_score").alias("best_quality"),
        "n_members",
    )


@register(
    "text_repetition_stats",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS g
        FROM toks, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(count(DISTINCT g) AS BIGINT) AS n_distinct_bigrams,
           round(1 - count(DISTINCT g) / count(*), 6) AS dup_fraction
    FROM grams GROUP BY doc_id
    """,
    tags=("text", "quality", "extension"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signal: fraction of word bigrams
    that are duplicates (1 − distinct/total) — the standard
    repetitive-boilerplate filter a pretraining quality pipeline
    applies alongside the length/punct/stopword scores. One grouped
    aggregation over the (non-distinct) bigram explode."""
    docs = load_table(spark, sf_dir, "documents")
    grams = dedup.word_shingles(docs, "doc_id", "text", n=2, distinct=False)
    return grams.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.count_distinct("shingle").alias("n_distinct_bigrams"),
        F.round(
            1 - F.count_distinct("shingle") / F.count("*"), 6
        ).alias("dup_fraction"),
    )


@register(
    "text_chunk_windows",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    )
    SELECT doc_id,
           CAST((s - 1) // 24 AS INT) AS chunk_idx,
           CAST(s AS INT) AS start_tok,
           CAST(len(list_slice(t, s, s + 31)) AS INT) AS n_tokens,
           array_to_string(list_slice(t, s, s + 31), ' ') AS chunk_text
    FROM toks, unnest(generate_series(1, len(t), 24)) AS u(s)
    """,
    tags=("text", "chunking", "extension"),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: every document explodes into 32-token
    windows with stride 24 (8-token overlap; final window may be
    short) — the training-sequence preparation primitive, pure array
    expressions, each chunk string reproduced byte-for-byte by the
    oracle (operators/chunking.py)."""
    from ..operators.chunking import chunk_token_windows

    docs = load_table(spark, sf_dir, "documents")
    return chunk_token_windows(docs, "doc_id", "text", chunk_size=32, stride=24)


@register(
    "split_train_val_test",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 10000 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM b GROUP BY 1
    """,
    tags=("sampling", "extension"),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by document-key hash
    (operators/sampling.py): the same doc lands in the same split on
    every engine and every run — the md5 bucket is reproduced exactly
    by the DuckDB oracle."""
    from ..operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    labeled = hash_split(
        docs, "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05}
    )
    return labeled.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "vocab_top_terms",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_TOKS}) AS term FROM documents
    )
    SELECT term, CAST(cnt AS BIGINT) AS term_freq, CAST(rank AS INT) AS rank
    FROM (
        SELECT term, count(*) AS cnt,
               row_number() OVER (ORDER BY count(*) DESC, term) AS rank
        FROM tok WHERE term != '' GROUP BY term
    ) t
    WHERE rank <= 100
    """,
    tags=("text", "vocab", "extension"),
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: corpus-wide term frequencies, top-100
    (count DESC, term ASC tiebreak) — explode + grouped count +
    TakeOrdered; at corpus scale the term count is a map-side-combined
    aggregation and only the top-k crosses the final exchange."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    counts = tok.groupBy("term").agg(F.count("*").alias("term_freq"))
    w = F.row_number().over(W.orderBy(F.desc("term_freq"), F.asc("term")))
    return (
        counts.withColumn("rank", w.cast("int"))
        .filter(F.col("rank") <= 100)
        .select("term", "term_freq", "rank")
    )


@register(
    "embedding_centroids_by_label",
    oracle="""
    WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    u AS (
        SELECT label, i - 1 AS pos, e[i] AS x
        FROM v, unnest(generate_series(1, len(e))) AS t(i)
    )
    SELECT label, CAST(pos AS INT) AS pos,
           round(avg(x), 6) AS centroid_component,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM u GROUP BY label, pos
    """,
    tags=("similarity", "ml", "extension"),
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, one row per (label, dimension) —
    the class-prototype / k-means-update primitive: posexplode spreads
    components, the mean is a grouped agg on (label, pos). At scale
    this shuffles (labels × dims) partial sums, never whole vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .groupBy("label", F.col("pos").cast("int").alias("pos"))
        .agg(
            F.round(F.avg("col"), 6).alias("centroid_component"),
            F.count("*").alias("n_vectors"),
        )
    )


def _ivf_oracle(
    k: int = 5, nlist: int = 16, nprobe: int = 4,
    train_mod: int | None = None,
    train_where: str | None = None,
    lists_where: str | None = None,
) -> str:
    """DuckDB mirror of the FULL deterministic IVF-flat pipeline
    (operators/similarity.py::cosine_topk_ivf): lowest-id seed
    centroids, one k-means refinement whose per-component means are
    rounded to 6 decimals in BOTH engines (identical doubles from
    then on), nearest-list assignment with lowest-centroid tiebreak,
    nprobe search, scoring, ranking — value-for-value. ``train_mod``
    restricts quantizer TRAINING to vec_id % train_mod != 0 while
    assignment covers every vector — the frozen-quantizer
    build+add contract of the persisted index
    (operators/ann_index.py); ``train_where`` takes an arbitrary
    training predicate instead (e.g. the first arrival wave of the
    streaming ingest form). ``lists_where`` restricts which vectors
    remain IN the inverted lists (the delete-maintenance contract:
    deleted ids leave the lists, the quantizer stays frozen, probes
    still search everything)."""
    pred = None
    if train_mod is not None:
        pred = f"vec_id % {train_mod} != 0"
    if train_where is not None:
        pred = train_where
    train = f"WHERE {pred}" if pred else ""
    train_and = f"WHERE v.{pred}" if pred else ""
    lists_and = f"WHERE v.{lists_where}" if lists_where else ""
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    seeds AS (
        SELECT vec_id AS centroid_id, e AS c_vec
        FROM v {train} ORDER BY vec_id LIMIT {nlist}
    ),
    assign0 AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, s.centroid_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.e, s.c_vec)
                                / sqrt(list_dot_product(s.c_vec, s.c_vec)) DESC,
                                s.centroid_id) AS rn
            FROM v, seeds s {train_and}
        ) WHERE rn = 1
    ),
    comp AS (
        SELECT a.centroid_id, j - 1 AS pos, round(avg(v.e[j]), 6) AS m
        FROM assign0 a
        JOIN v USING (vec_id), unnest(generate_series(1, len(v.e))) AS u(j)
        GROUP BY 1, 2
    ),
    cents AS (
        SELECT centroid_id, list(m ORDER BY pos) AS c_vec
        FROM comp GROUP BY centroid_id
    ),
    clists AS (
        SELECT vec_id AS neighbor_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.e, c.c_vec)
                                / sqrt(list_dot_product(c.c_vec, c.c_vec)) DESC,
                                c.centroid_id) AS rn
            FROM v, cents c {lists_and}
        ) WHERE rn = 1
    ),
    plists AS (
        SELECT vec_id AS probe_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.e, c.c_vec)
                                / sqrt(list_dot_product(c.c_vec, c.c_vec)) DESC,
                                c.centroid_id) AS rn
            FROM v, cents c WHERE v.vec_id < 50
        ) WHERE rn <= {nprobe}
    ),
    scored AS (
        SELECT p.probe_id, c.neighbor_id,
               round(list_dot_product(pv.e, cv.e)
                     / (sqrt(list_dot_product(pv.e, pv.e))
                        * sqrt(list_dot_product(cv.e, cv.e))), 6) AS cosine_sim
        FROM plists p
        JOIN clists c USING (centroid_id)
        JOIN v pv ON pv.vec_id = p.probe_id
        JOIN v cv ON cv.vec_id = c.neighbor_id
        WHERE p.probe_id != c.neighbor_id
    )
    SELECT probe_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "similarity_topk_ivf",
    oracle=_ivf_oracle(),
    tags=("similarity", "extension", "approx"),
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat cosine top-5 — the cluster-pruned scale path: corpus
    vectors in 16 nearest-centroid inverted lists, each probe searches
    its 4 nearest lists (~1/4 of the corpus instead of all of it).
    Fully deterministic (lowest-id seeds, rounded refined centroids),
    so the DuckDB oracle recomputes the whole pipeline value-for-
    value."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50)
    return similarity.cosine_topk_ivf(probes, emb, k=5, nlist=16, nprobe=4)


@register(
    "similarity_topk_ivf_indexed",
    oracle=_ivf_oracle(train_mod=4),
    tags=("similarity", "extension", "approx", "incremental"),
)
def similarity_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search against a PERSISTED IVF index
    (operators/ann_index.py) — the steady-state form of
    ``similarity_topk_ivf``: the quantizer trains ONCE on the store
    slice (vec_id % 4 != 0) and the index persists as centroids +
    per-centroid-partitioned inverted lists; the ingest batch
    (vec_id % 4 = 0) is ADDED with the frozen quantizer (no retrain —
    FAISS add semantics); queries probe 4 of 16 lists with the lists
    scan pruned to the probed partitions. Build + idempotent add +
    partition-pruned query are all inside this certified path."""
    import os
    import tempfile

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    store_vecs = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    probes = emb.filter(F.col("vec_id") < 50)
    with tempfile.TemporaryDirectory(prefix="ivf_index_") as tmp:
        path = os.path.join(tmp, "index")
        ann_index.build_ivf_index(store_vecs, path, nlist=16)
        ann_index.add_to_ivf_index(batch, path)
        out = ann_index.query_ivf_index(probes, path, k=5, nprobe=4)
        rows = out.collect()
    return local_frame(spark, rows, out.schema)


@register(
    "similarity_topk_ivf_rebalanced",
    # Full-probe invariance is the rebalance CONTRACT: after hot-list
    # splits, probing every list must still equal exact brute force —
    # so the oracle is the plain brute-force top-k, with no knowledge
    # of the split geometry. A rebalance that lost, duplicated, or
    # mis-assigned one vector fails this hash.
    oracle=_COSINE_ORACLE_BASE
    + """
    , p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < 20),
    scored AS (
        SELECT probe_id, c.vec_id AS neighbor_id,
               round(list_dot_product(pe, c.e)
                     / (sqrt(list_dot_product(pe, pe))
                        * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine_sim
        FROM p JOIN v c ON c.vec_id != p.probe_id
    )
    SELECT probe_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    tags=("similarity", "extension", "approx", "incremental"),
)
def similarity_topk_ivf_rebalanced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The nlist re-dial in the certified path (VERDICT r10 item 3):
    build at a deliberately coarse nlist=4 (hot lists by
    construction), split every list above corpus/6 with
    ``rebalance_ivf_index`` (deterministic two-seed split, staged
    crash-ordered commit — operators/ann_index.py), then FULL-PROBE
    query the rebalanced index. Certified against the brute-force
    oracle: full-probe answers are invariant under rebalance, which
    pins that no vector was lost, duplicated, or orphaned by the
    split. The partial-probe payoff (per-list size bounded as the
    store grows) is measured in SCALE.md; invariance is what an
    oracle can pin exactly."""
    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)

    def _build(path: str) -> None:
        ann_index.build_ivf_index(emb, path, nlist=4)
        total = emb.count()
        ann_index.rebalance_ivf_index(
            spark, path, max_list_size=max(1, total // 6)
        )

    path = _cached_store("ivf_rebal", sf_dir, _build)
    nl = ann_index.read_ivf_centroids(spark, path).count()
    return ann_index.query_ivf_index(probes, path, k=5, nprobe=nl)


@register(
    "similarity_topk_ivf_maintained",
    # full lifecycle: train on the store slice, add the batch frozen,
    # DELETE a subset, query — the oracle assigns everything under the
    # frozen quantizer but keeps only non-deleted ids in the lists
    oracle=_ivf_oracle(train_mod=4, lists_where="vec_id % 20 != 0"),
    tags=("similarity", "extension", "approx", "incremental"),
)
def similarity_topk_ivf_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The persisted IVF index through its FULL maintenance
    lifecycle inside one certified path: build on the store slice
    (vec_id % 4 != 0), add the batch frozen, then
    ``delete_from_ivf_index`` the vec_id % 20 == 0 subset (targeted
    partition rewrites — operators/ann_index.py) before answering
    probes. The oracle recomputes the frozen quantizer and restricts
    the inverted lists to the surviving ids, so a green row certifies
    delete semantics value-for-value, not just by unit test."""
    import os
    import tempfile

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    store_vecs = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    doomed = emb.filter(F.col("vec_id") % 20 == 0).select("vec_id")
    probes = emb.filter(F.col("vec_id") < 50)
    with tempfile.TemporaryDirectory(prefix="ivf_maint_") as tmp:
        path = os.path.join(tmp, "index")
        ann_index.build_ivf_index(store_vecs, path, nlist=16)
        ann_index.add_to_ivf_index(batch, path)
        ann_index.delete_from_ivf_index(spark, path, doomed)
        out = ann_index.query_ivf_index(probes, path, k=5, nprobe=4)
        rows = out.collect()
    return local_frame(spark, rows, out.schema)


def _ivfpq_oracle(
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    ds: int = 8,
    train_mod: int = 4,
    train_where: str | None = None,
    lists_where: str | None = None,
    refined_kprime: int | None = None,
) -> str:
    """DuckDB mirror of the FULL deterministic IVF-PQ pipeline
    (operators/pq.py): the shared coarse quantizer CTEs (lowest-id
    seeds, one rounded refinement — identical to ``_ivf_oracle``),
    then RESIDUAL encoding (r12, the FAISS IVFPQ default): every
    vector's residual to its assigned coarse centroid is what the
    per-subspace codebooks train on and the codes quantize (lowest-id
    seed residual subvectors, code = seed-id rank, L2 assignment via
    the monotone ``<c,c> − 2<x,c>`` key, rounded per-component means,
    empty codes keeping their seed). Scoring adds the exact
    ``round(<probe, centroid>, 6)`` term of the probed list back to
    the LUT chain: ``cdot + (0.0 + l0 + l1 + …)`` — the same
    association order as Spark's ``cdot + aggregate(...)`` —
    normalized by true RAW norms. ``refined_kprime``
    switches the output to the shortlist + exact re-rank form
    (``query_ivfpq_index_refined``): the top-kprime ADC shortlist
    re-scored with exact cosine. ``train_where`` overrides the
    train_mod predicate (e.g. the first arrival wave of the
    streaming ingest form)."""
    pred = train_where or f"vec_id % {train_mod} != 0"
    train = f"WHERE {pred}"
    train_and = f"WHERE v.{pred}"
    lists_and = f"WHERE v.{lists_where}" if lists_where else ""
    code_joins = "\n        ".join(
        f"JOIN codes cd{mm} ON cd{mm}.vec_id = c.neighbor_id"
        f" AND cd{mm}.m = {mm}\n        "
        f"JOIN lut l{mm} ON l{mm}.probe_id = c.probe_id"
        f" AND l{mm}.m = {mm} AND l{mm}.code = cd{mm}.code"
        for mm in range(m)
    )
    chain = "cd.cdot + (0.0 + " + " + ".join(
        f"l{mm}.ip" for mm in range(m)
    ) + ")"
    final = f"""
    SELECT probe_id, neighbor_id, adc_sim, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY adc_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """
    if refined_kprime is not None:
        final = f"""
    , short AS (
        SELECT probe_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id
                                         ORDER BY adc_sim DESC, neighbor_id) AS rnk
            FROM scored
        ) WHERE rnk <= {refined_kprime}
    ),
    rescored AS (
        SELECT s.probe_id, s.neighbor_id,
               round(list_dot_product(pv.e, nv.e)
                     / (sqrt(list_dot_product(pv.e, pv.e))
                        * sqrt(list_dot_product(nv.e, nv.e))), 6) AS cosine_sim
        FROM short s
        JOIN v pv ON pv.vec_id = s.probe_id
        JOIN v nv ON nv.vec_id = s.neighbor_id
    )
    SELECT probe_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS rank
        FROM rescored
    ) WHERE rank <= {k}
    """
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    seeds AS (
        SELECT vec_id AS centroid_id, e AS c_vec
        FROM v {train} ORDER BY vec_id LIMIT {nlist}
    ),
    assign0 AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, s.centroid_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.e, s.c_vec)
                                / sqrt(list_dot_product(s.c_vec, s.c_vec)) DESC,
                                s.centroid_id) AS rn
            FROM v, seeds s {train_and}
        ) WHERE rn = 1
    ),
    comp AS (
        SELECT a.centroid_id, j - 1 AS pos, round(avg(v.e[j]), 6) AS mval
        FROM assign0 a
        JOIN v USING (vec_id), unnest(generate_series(1, len(v.e))) AS u(j)
        GROUP BY 1, 2
    ),
    cents AS (
        SELECT centroid_id, list(mval ORDER BY pos) AS c_vec
        FROM comp GROUP BY centroid_id
    ),
    clists AS (
        SELECT vec_id AS neighbor_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.e, c.c_vec)
                                / sqrt(list_dot_product(c.c_vec, c.c_vec)) DESC,
                                c.centroid_id) AS rn
            FROM v, cents c {lists_and}
        ) WHERE rn = 1
    ),
    plists AS (
        SELECT vec_id AS probe_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.e, c.c_vec)
                                / sqrt(list_dot_product(c.c_vec, c.c_vec)) DESC,
                                c.centroid_id) AS rn
            FROM v, cents c WHERE v.vec_id < 50
        ) WHERE rn <= {nprobe}
    ),
    rassign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.e, c.c_vec)
                                / sqrt(list_dot_product(c.c_vec, c.c_vec)) DESC,
                                c.centroid_id) AS rn
            FROM v, cents c
        ) WHERE rn = 1
    ),
    resid AS (
        SELECT a.vec_id,
               list_transform(generate_series(1, len(v.e)),
                              j -> v.e[j] - ct.c_vec[j]) AS re
        FROM rassign a
        JOIN v USING (vec_id)
        JOIN cents ct USING (centroid_id)
    ),
    subv AS (
        SELECT vec_id, mm AS m,
               list_slice(re, mm * {ds} + 1, (mm + 1) * {ds}) AS sv
        FROM resid, unnest(generate_series(0, {m - 1})) AS tt(mm)
    ),
    pq_seed_ids AS (
        SELECT vec_id,
               CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
        FROM (SELECT vec_id FROM v {train} ORDER BY vec_id LIMIT {ksub})
    ),
    pq_seeds AS (
        SELECT s.m, p.code, s.sv AS c_vec
        FROM subv s JOIN pq_seed_ids p USING (vec_id)
    ),
    passign AS (
        SELECT vec_id, m, code FROM (
            SELECT sv.vec_id, sv.m, ps.code,
                   row_number() OVER (
                       PARTITION BY sv.vec_id, sv.m
                       ORDER BY list_dot_product(ps.c_vec, ps.c_vec)
                                - 2 * list_dot_product(sv.sv, ps.c_vec),
                                ps.code) AS rn
            FROM subv sv JOIN pq_seeds ps ON ps.m = sv.m
            WHERE sv.{pred}
        ) WHERE rn = 1
    ),
    pcomp AS (
        SELECT a.m, a.code, j - 1 AS pos, round(avg(sv.sv[j]), 6) AS mval
        FROM passign a
        JOIN subv sv ON sv.vec_id = a.vec_id AND sv.m = a.m,
             unnest(generate_series(1, {ds})) AS u(j)
        GROUP BY 1, 2, 3
    ),
    pmeans AS (
        SELECT m, code, list(mval ORDER BY pos) AS c_vec
        FROM pcomp GROUP BY m, code
    ),
    codebook AS (
        SELECT s.m, s.code, coalesce(r.c_vec, s.c_vec) AS c_vec
        FROM pq_seeds s
        LEFT JOIN pmeans r ON r.m = s.m AND r.code = s.code
    ),
    codes AS (
        SELECT vec_id, m, code FROM (
            SELECT sv.vec_id, sv.m, cb.code,
                   row_number() OVER (
                       PARTITION BY sv.vec_id, sv.m
                       ORDER BY list_dot_product(cb.c_vec, cb.c_vec)
                                - 2 * list_dot_product(sv.sv, cb.c_vec),
                                cb.code) AS rn
            FROM subv sv JOIN codebook cb ON cb.m = sv.m
        ) WHERE rn = 1
    ),
    vnorm AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS v_nrm FROM v),
    lut AS (
        SELECT p.vec_id AS probe_id, cb.m, cb.code,
               round(list_dot_product(
                   list_slice(p.e, cb.m * {ds} + 1, (cb.m + 1) * {ds}),
                   cb.c_vec), 6) AS ip
        FROM v p JOIN codebook cb ON p.vec_id < 50
    ),
    cand AS (
        SELECT pl.probe_id, cl.neighbor_id, cl.centroid_id
        FROM plists pl JOIN clists cl USING (centroid_id)
        WHERE pl.probe_id != cl.neighbor_id
    ),
    cdots AS (
        SELECT pl.probe_id, pl.centroid_id,
               round(list_dot_product(pv.e, ct.c_vec), 6) AS cdot
        FROM plists pl
        JOIN v pv ON pv.vec_id = pl.probe_id
        JOIN cents ct USING (centroid_id)
    ),
    scored AS (
        SELECT c.probe_id, c.neighbor_id,
               round(({chain}) / (pn.v_nrm * nn.v_nrm), 6) AS adc_sim
        FROM cand c
        JOIN cdots cd ON cd.probe_id = c.probe_id
                     AND cd.centroid_id = c.centroid_id
        JOIN vnorm pn ON pn.vec_id = c.probe_id
        JOIN vnorm nn ON nn.vec_id = c.neighbor_id
        {code_joins}
    )
    {final}
    """


def _ivfsq_oracle(
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    train_mod: int = 4,
    lists_where: str | None = None,
) -> str:
    """DuckDB mirror of the IVF-SQ8 pipeline (operators/sq_index.py):
    the shared coarse CTEs (identical to ``_ivf_oracle`` — coarse
    assignment uses RAW vectors, quantization is storage-only), then
    scoring against the int8 reconstruction ``mn + code·scale`` with
    the TRUE stored norm. The quantization formula is the
    already-certified operators/quantize.py arithmetic
    (floor(x+0.5), clamp, identical IEEE doubles in both engines)."""
    train = f"WHERE vec_id % {train_mod} != 0"
    train_and = f"WHERE v.vec_id % {train_mod} != 0"
    lists_and = f"WHERE v.{lists_where}" if lists_where else ""
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    seeds AS (
        SELECT vec_id AS centroid_id, e AS c_vec
        FROM v {train} ORDER BY vec_id LIMIT {nlist}
    ),
    assign0 AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, s.centroid_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.e, s.c_vec)
                                / sqrt(list_dot_product(s.c_vec, s.c_vec)) DESC,
                                s.centroid_id) AS rn
            FROM v, seeds s {train_and}
        ) WHERE rn = 1
    ),
    comp AS (
        SELECT a.centroid_id, j - 1 AS pos, round(avg(v.e[j]), 6) AS mval
        FROM assign0 a
        JOIN v USING (vec_id), unnest(generate_series(1, len(v.e))) AS u(j)
        GROUP BY 1, 2
    ),
    cents AS (
        SELECT centroid_id, list(mval ORDER BY pos) AS c_vec
        FROM comp GROUP BY centroid_id
    ),
    clists AS (
        SELECT vec_id AS neighbor_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.e, c.c_vec)
                                / sqrt(list_dot_product(c.c_vec, c.c_vec)) DESC,
                                c.centroid_id) AS rn
            FROM v, cents c {lists_and}
        ) WHERE rn = 1
    ),
    plists AS (
        SELECT vec_id AS probe_id, centroid_id FROM (
            SELECT v.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.e, c.c_vec)
                                / sqrt(list_dot_product(c.c_vec, c.c_vec)) DESC,
                                c.centroid_id) AS rn
            FROM v, cents c WHERE v.vec_id < 50
        ) WHERE rn <= {nprobe}
    ),
    q AS (
        SELECT vec_id,
               list_transform(e, x -> mn + LEAST(255, GREATEST(0,
                   floor((x - mn) / scale + 0.5))) * scale) AS recon,
               sqrt(list_dot_product(e, e)) AS v_nrm
        FROM (
            SELECT vec_id, e, list_min(e) AS mn,
                   CASE WHEN list_max(e) > list_min(e)
                        THEN (list_max(e) - list_min(e)) / 255.0
                        ELSE 1.0 END AS scale
            FROM v
        )
    ),
    scored AS (
        SELECT p.probe_id, c.neighbor_id,
               round(list_dot_product(pv.e, q.recon)
                     / (sqrt(list_dot_product(pv.e, pv.e)) * q.v_nrm), 6)
                   AS sq_sim
        FROM plists p
        JOIN clists c USING (centroid_id)
        JOIN v pv ON pv.vec_id = p.probe_id
        JOIN q ON q.vec_id = c.neighbor_id
        WHERE p.probe_id != c.neighbor_id
    )
    SELECT probe_id, neighbor_id, sq_sim, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY sq_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "similarity_topk_ivfsq_rebalanced",
    # The SQ8 rebalance contract mirrors the flat one: full-probe
    # answers equal the int8-RECONSTRUCTION brute force — per-vector
    # quantization is centroid-independent, so the oracle needs no
    # knowledge of the split geometry, and a row lost, duplicated,
    # or orphaned by the split fails the hash.
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (
        SELECT vec_id,
               list_transform(e, x -> mn + LEAST(255, GREATEST(0,
                   floor((x - mn) / scale + 0.5))) * scale) AS recon,
               sqrt(list_dot_product(e, e)) AS v_nrm
        FROM (
            SELECT vec_id, e, list_min(e) AS mn,
                   CASE WHEN list_max(e) > list_min(e)
                        THEN (list_max(e) - list_min(e)) / 255.0
                        ELSE 1.0 END AS scale
            FROM v
        )
    ),
    scored AS (
        SELECT p.vec_id AS probe_id, q.vec_id AS neighbor_id,
               round(list_dot_product(p.e, q.recon)
                     / (sqrt(list_dot_product(p.e, p.e)) * q.v_nrm), 6)
                   AS sq_sim
        FROM v p JOIN q ON q.vec_id != p.vec_id
        WHERE p.vec_id < 20
    )
    SELECT probe_id, neighbor_id, sq_sim, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY sq_sim DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    tags=("similarity", "extension", "approx", "incremental"),
)
def similarity_topk_ivfsq_rebalanced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SQ8 rung's nlist re-dial in the certified path: build at a
    deliberately coarse nlist=4, split every list above corpus/6 with
    ``rebalance_ivfsq_lists`` (median split over the int8
    reconstructions — rows are self-contained, no corpus access),
    FULL-PROBE query the rebalanced index, and match the
    reconstruction brute force exactly. The companion pytest pins
    before == after; this row pins after == ground truth under the
    driver's hash."""
    from ..operators import sq_index

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)

    def _build(path: str) -> None:
        sq_index.build_ivfsq_index(emb, path, nlist=4)
        total = emb.count()
        sq_index.rebalance_ivfsq_lists(
            spark, path, max_list_size=max(1, total // 6)
        )

    path = _cached_store("sq_rebal", sf_dir, _build)
    nl = spark.read.parquet(f"{path}/centroids").count()
    return sq_index.query_ivfsq_index(probes, path, k=5, nprobe=nl)


@register(
    "similarity_topk_ivfsq",
    oracle=_ivfsq_oracle(),
    tags=("similarity", "extension", "approx", "incremental"),
)
def similarity_topk_ivfsq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search against a PERSISTED IVF-SQ8 index
    (operators/sq_index.py) — the middle rung of the compression
    ladder (flat / SQ8 4× / PQ ~32×): int8-coded inverted lists with
    per-vector range metadata and true norms, coarse assignment on
    raw vectors (list membership identical to flat), queries scoring
    the dequantized reconstruction. Build on the store slice
    (vec_id % 4 != 0) + frozen add + partition-pruned query, all
    inside the certified path; the oracle recomputes training,
    quantization, and scoring value-for-value."""
    from ..operators import sq_index

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50)

    def _build(path: str) -> None:
        sq_index.build_ivfsq_index(
            emb.filter(F.col("vec_id") % 4 != 0), path, nlist=16
        )
        sq_index.add_to_ivfsq_index(
            emb.filter(F.col("vec_id") % 4 == 0), path
        )

    path = _cached_store("ivfsq", sf_dir, _build)
    return sq_index.query_ivfsq_index(probes, path, k=5, nprobe=4)


@register(
    "similarity_topk_ivfsq_maintained",
    oracle=_ivfsq_oracle(lists_where="vec_id % 20 != 0"),
    tags=("similarity", "extension", "approx", "incremental"),
)
def similarity_topk_ivfsq_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The IVF-SQ8 index through its maintenance lifecycle in one
    certified path: build on the store slice, add the batch frozen,
    ``delete_from_ivfsq_index`` the vec_id % 20 == 0 subset (targeted
    partition rewrites of int8 rows), query. The oracle restricts the
    coded lists to surviving ids under the frozen quantizer. The
    post-lifecycle index is a deterministic fixed point → built once
    per process (``_cached_store``); the query returns the LIVE
    DPP-probed plan."""
    from ..operators import sq_index

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50)

    def _build(path: str) -> None:
        sq_index.build_ivfsq_index(
            emb.filter(F.col("vec_id") % 4 != 0), path, nlist=16
        )
        sq_index.add_to_ivfsq_index(emb.filter(F.col("vec_id") % 4 == 0), path)
        sq_index.delete_from_ivfsq_index(
            spark, path, emb.filter(F.col("vec_id") % 20 == 0).select("vec_id")
        )

    path = _cached_store("ivfsq_maint", sf_dir, _build)
    return sq_index.query_ivfsq_index(probes, path, k=5, nprobe=4)


@register(
    "similarity_topk_ivfpq",
    oracle=_ivfpq_oracle(),
    tags=("similarity", "extension", "approx", "incremental"),
)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search against a PERSISTED IVF-PQ index (operators/pq.py)
    — the compressed-index scale path: coarse quantizer + per-subspace
    codebooks train ONCE on the store slice (vec_id % 4 != 0); every
    vector persists as 8 one-byte codes + its true norm (~32× smaller
    rows than the flat index); the ingest batch (vec_id % 4 = 0) is
    ADDED under the frozen quantizers; queries probe 4 of 16 coarse
    lists and score candidates by ADC lookup — O(m) per candidate.
    Build + idempotent add + LUT query are all inside this certified
    path; the oracle recomputes coarse training, codebook training,
    encoding, and the ADC sum value-for-value. Output values are
    ``adc_sim`` — the PQ approximation itself is what is certified."""
    from ..operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50)
    path = _ivfpq_cached_index(spark, sf_dir)
    return pq.query_ivfpq_index(probes, path, k=5, nprobe=4)


def _ivfpq_cached_index(spark: SparkSession, sf_dir: str) -> str:
    """The build+frozen-add IVF-PQ index shared by the ADC and the
    BENCHED refined query — on the process-lifetime `_cached_store`:
    the build is a once-per-corpus cold cost (the class bench.py's
    warm-up pass amortizes), so timed runs measure the per-query-batch
    hot path, not a rebuild."""
    from ..operators import pq

    emb = load_table(spark, sf_dir, "embeddings")

    def _build(path: str) -> None:
        pq.build_ivfpq_index(
            emb.filter(F.col("vec_id") % 4 != 0), path, nlist=16, m=8,
            ksub=16,
        )
        pq.add_to_ivfpq_index(emb.filter(F.col("vec_id") % 4 == 0), path)

    return _cached_store("ivfpq", sf_dir, _build)


@register(
    "similarity_topk_ivfpq_refined",
    oracle=_ivfpq_oracle(refined_kprime=50),
    tags=("similarity", "extension", "approx", "incremental"),
    # benched: this is the ANN shape a 100 TB user actually runs —
    # compressed scan + exact re-rank of a bounded shortlist
    bench=True,
)
def similarity_topk_ivfpq_refined(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-PQ shortlist + exact re-rank
    (operators/pq.py::query_ivfpq_index_refined — the FAISS
    refine shape): the compressed index produces a 50-deep ADC
    shortlist per probe; only those rows fetch raw vectors and
    re-score with exact cosine. The heavy scan stays on ~16-byte
    coded rows; the exact stage touches 50 rows per probe — and
    recall@5 vs brute force recovers to 0.90+ at this fixture size
    (kprime and nprobe are the two recall dials; measured table in
    SCALE.md r10 — the random fixture is PQ's worst case). The oracle
    recomputes the whole pipeline INCLUDING the shortlist boundary —
    build on the store slice (vec_id % 4 != 0) + frozen add of the
    rest — so the certified values are true cosines over the
    certified shortlist. The index builds once per process and is
    reused across calls (``_ivfpq_cached_index``): the returned
    DataFrame is the LIVE steady-state query plan, which is also
    what bench.py times and tools/plan_audit.py audits."""
    from ..operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50)
    path = _ivfpq_cached_index(spark, sf_dir)
    return pq.query_ivfpq_index_refined(
        probes, path, emb, k=5, kprime=50, nprobe=4
    )


@register(
    "similarity_topk_ivfpq_maintained",
    # full lifecycle under frozen quantizers: build, add, DELETE the
    # vec_id % 20 == 0 subset, query — the oracle encodes everything
    # but keeps only surviving ids in the coded lists
    oracle=_ivfpq_oracle(lists_where="vec_id % 20 != 0"),
    tags=("similarity", "extension", "approx", "incremental"),
)
def similarity_topk_ivfpq_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The persisted IVF-PQ index through its full maintenance
    lifecycle in one certified path: build on the store slice, add
    the batch frozen, ``delete_from_ivfpq_index`` the vec_id % 20 == 0
    subset (targeted partition rewrites of the coded lists — the
    ann_index.py delete shape over ~16-byte rows), then answer
    probes. The oracle restricts the coded lists to surviving ids
    under the same frozen quantizers, so delete semantics are
    value-certified, not just unit-tested. The post-lifecycle index
    is a deterministic fixed point → built once per process
    (``_cached_store``); the query returns the LIVE ADC plan."""
    from ..operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 50)

    def _build(path: str) -> None:
        pq.build_ivfpq_index(
            emb.filter(F.col("vec_id") % 4 != 0), path, nlist=16, m=8, ksub=16
        )
        pq.add_to_ivfpq_index(emb.filter(F.col("vec_id") % 4 == 0), path)
        pq.delete_from_ivfpq_index(
            spark, path, emb.filter(F.col("vec_id") % 20 == 0).select("vec_id")
        )

    path = _cached_store("ivfpq_maint", sf_dir, _build)
    return pq.query_ivfpq_index(probes, path, k=5, nprobe=4)


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM tok WHERE term != '' GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
    tags=("text", "vocab", "extension"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — term frequency from one
    explode+group pass, document frequency from a grouped distinct
    over the same relation, idf = ln(N/df); keyword extraction /
    sparse-featurization, all JVM expressions."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = tf.select(F.count_distinct("doc_id").alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )


@register(
    "language_confusion_matrix",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               len(list_filter({_TOKS}, x -> list_contains(['the','and','is','of','to','a','in','that'], x))) AS en_s,
               len(list_filter({_TOKS}, x -> list_contains(['der','die','und','ist','das','nicht','ein'], x))) AS de_s,
               len(list_filter({_TOKS}, x -> list_contains(['el','la','de','que','los','una','por'], x))) AS es_s,
               len(list_filter({_TOKS}, x -> list_contains(['le','la','et','les','des','une','dans'], x))) AS fr_s,
               len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) AS zh_s
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE WHEN zh_s > 0 THEN 'zh'
                    WHEN en_s >= de_s AND en_s >= es_s AND en_s >= fr_s
                         AND en_s > 0 THEN 'en'
                    WHEN de_s >= es_s AND de_s >= fr_s AND de_s > 0 THEN 'de'
                    WHEN es_s >= fr_s AND es_s > 0 THEN 'es'
                    WHEN fr_s > 0 THEN 'fr'
                    ELSE 'unknown' END AS lang_pred
        FROM scored
    )
    SELECT lang,
           CAST(count(*) FILTER (WHERE lang_pred = 'en') AS BIGINT) AS en,
           CAST(count(*) FILTER (WHERE lang_pred = 'de') AS BIGINT) AS de,
           CAST(count(*) FILTER (WHERE lang_pred = 'es') AS BIGINT) AS es,
           CAST(count(*) FILTER (WHERE lang_pred = 'fr') AS BIGINT) AS fr,
           CAST(count(*) FILTER (WHERE lang_pred = 'zh') AS BIGINT) AS zh,
           CAST(count(*) FILTER (WHERE lang_pred = 'unknown') AS BIGINT) AS unknown
    FROM pred GROUP BY lang
    """,
    tags=("text", "pivot", "extension"),
)
def language_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: actual ``lang`` rows × predicted
    columns via explicit-values pivot — the evaluation readout for
    the classifier heuristic (no distinct-values driver job because
    the pivot values are declared)."""
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select("lang", language_id(F.col("text")).alias("lang_pred"))
    return (
        pred.groupBy("lang")
        .pivot("lang_pred", ["en", "de", "es", "fr", "zh", "unknown"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


_WINNOW_FPS_SQL = """
    WITH t AS (SELECT doc_id,
                      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
               FROM documents),
    g AS (
        SELECT doc_id, i,
               CAST(CONCAT('0x', substr(md5(substr(s, i, 8)), 1, 8)) AS BIGINT) AS h,
               length(s) - 8 + 1 AS n_g
        FROM t, unnest(generate_series(1, length(s) - 8 + 1)) AS gs(i)
        WHERE length(s) - 8 + 1 >= 4
    ),
    wins AS (
        SELECT doc_id, i, n_g,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM g
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE i <= n_g - 4 + 1)
"""


@register(
    "text_winnow_profile",
    oracle=_WINNOW_FPS_SQL
    + """
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
           min(fp) AS min_fp, max(fp) AS max_fp,
           CAST(sum(fp) AS BIGINT) AS sum_fp
    FROM fps GROUP BY doc_id
    """,
    tags=("text", "dedup", "extension"),
)
def text_winnow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (rolling k-gram hash + window
    minimum, Schleimer et al. SIGMOD 2003 — operators/fingerprint.py),
    k=8, w=4: per-document profile (count/min/max/sum of the selected
    hashes). The oracle re-derives every gram hash and window minimum
    value-for-value."""
    from ..operators.fingerprint import winnow_profile

    docs = load_table(spark, sf_dir, "documents")
    return winnow_profile(docs, k=8, w=4)


@register(
    "text_winnow_shared_pairs",
    oracle=_WINNOW_FPS_SQL
    + """
    , kept AS (
        SELECT doc_id, fp FROM fps
        WHERE fp NOT IN (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 50)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 30
    """,
    tags=("text", "dedup", "extension"),
)
def text_winnow_shared_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copied-passage detection: document pairs sharing ≥30 winnowed
    fingerprints after dropping boilerplate fingerprints present in
    >50 documents. Two documents sharing ANY ≥11-char run share a
    fingerprint (the winnowing guarantee at k=8/w=4); a sustained
    copied passage shares many — this is the cross-document signal
    n-gram Jaccard misses when the rest of the documents differ."""
    from ..operators.fingerprint import winnow_shared_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_shared_pairs(docs, k=8, w=4, min_shared=30, max_doc_freq=50)


@register(
    "embedding_quantize_error_by_label",
    oracle="""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    p AS (SELECT vec_id, label, e, list_min(e) AS mn,
                 CASE WHEN list_max(e) > list_min(e)
                      THEN (list_max(e) - list_min(e)) / 255.0
                      ELSE 1.0 END AS scale
          FROM v),
    comp AS (
        SELECT label, scale,
               abs(x - (mn + LEAST(255, GREATEST(0,
                            floor((x - mn) / scale + 0.5))) * scale)) AS err
        FROM p, unnest(e) AS u(x)
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_components,
           round(avg(err), 6) AS avg_abs_err,
           round(max(err), 6) AS max_abs_err,
           round(avg(scale), 6) AS avg_scale
    FROM comp GROUP BY label
    """,
    tags=("similarity", "extension"),
)
def embedding_quantize_error_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization reconstruction profile per label
    (operators/quantize.py): the storage/shuffle-width scale lever
    for 100 TB embedding tables (~4x narrower vectors through every
    ANN join). Codes use floor(x+0.5) instead of round() so both
    engines quantize with identical IEEE arithmetic; the oracle
    recomputes codes and errors value-for-value."""
    from ..operators.quantize import quantization_error_by_label

    emb = load_table(spark, sf_dir, "embeddings")
    return quantization_error_by_label(emb)


@register(
    "dedup_fuzzy_levenshtein",
    oracle=_WINNOW_FPS_SQL
    + """
    , kept AS (
        SELECT doc_id, fp FROM fps
        WHERE fp NOT IN (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 50)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    n AS (SELECT doc_id,
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
          FROM documents)
    SELECT id_a, id_b, CAST(levenshtein(na.s, nb.s) AS INT) AS edit_distance
    FROM cand
    JOIN n na ON na.doc_id = id_a
    JOIN n nb ON nb.doc_id = id_b
    WHERE abs(length(na.s) - length(nb.s)) <= 5
      AND levenshtein(na.s, nb.s) <= 5
    """,
    tags=("text", "dedup", "extension"),
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-identical pairs (Levenshtein ≤ 5 on
    normalized text) — typo/OCR-level dedup, candidate-blocked by
    shared winnowed fingerprints + length difference
    (operators/fingerprint.py::fuzzy_pairs_levenshtein). The fixture
    generator plants pairs at distance exactly 4; both engines run
    the identical blocking and the identical unit-cost Levenshtein,
    so the oracle matches value-for-value.

    RECALL PRECONDITION (ADVICE r6): the winnowing block guarantees
    pairs only when the shorter side has ≥ (max_dist+1)(w+k−1) = 66
    normalized chars; shorter near-pairs need the exact Pass-Join
    fallback — certified separately as `dedup_fuzzy_short_docs`, and
    available fused via ``short_fallback=True``."""
    from ..operators.fingerprint import fuzzy_pairs_levenshtein

    docs = load_table(spark, sf_dir, "documents")
    return fuzzy_pairs_levenshtein(docs, max_dist=5, max_doc_freq=50)


@register(
    "dedup_fuzzy_short_docs",
    # Brute-force oracle: ALL length-compatible pairs of the short
    # corpus are Levenshtein-scored with no blocking at all, so this
    # row certifies the Pass-Join segment blocking's RECALL
    # empirically — a pair the blocking misses is a driver mismatch,
    # not just a slower run. The corpus is deterministic: every 7th
    # document truncated to 20..59 normalized chars (all BELOW the
    # winnowing-block guarantee length of 66), plus a planted twin
    # (8th char replaced by 'q') for each such doc under id 2000 —
    # guaranteed nonzero output at distance ≤ 1.
    oracle=r"""
    WITH n0 AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
        FROM documents WHERE doc_id % 7 = 0
    ),
    trunc AS (
        SELECT doc_id, substr(s, 1, CAST(20 + doc_id % 40 AS INT)) AS t
        FROM n0
    ),
    corp AS (
        SELECT doc_id AS sid, t FROM trunc
        UNION ALL
        SELECT doc_id + 1000000,
               concat(substr(t, 1, 7), 'q', substr(t, 9))
        FROM trunc WHERE doc_id < 2000
    ),
    norm AS (
        SELECT sid, trim(regexp_replace(lower(t), '\s+', ' ', 'g')) AS s
        FROM corp
    )
    SELECT a.sid AS id_a, b.sid AS id_b,
           CAST(levenshtein(a.s, b.s) AS INT) AS edit_distance
    FROM norm a JOIN norm b
      ON a.sid < b.sid AND abs(length(a.s) - length(b.s)) <= 5
    WHERE levenshtein(a.s, b.s) <= 5
    """,
    tags=("text", "dedup", "extension"),
)
def dedup_fuzzy_short_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance pairs over documents BELOW the winnowing-block
    guarantee length (ADVICE r6): exact Pass-Join segment-pigeonhole
    blocking (operators/fingerprint.py::passjoin_pairs) — the
    short-doc fallback path of ``fuzzy_pairs_levenshtein(
    short_fallback=True)`` — certified against a no-blocking
    brute-force oracle, so blocking recall itself is driver-checked."""
    from ..operators.fingerprint import passjoin_pairs

    docs = load_table(spark, sf_dir, "documents")
    s = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    trunc = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.substr(s, F.lit(1), F.lit(20) + F.col("doc_id") % 40).alias("t"),
    )
    twins = trunc.filter(F.col("doc_id") < 2000).select(
        (F.col("doc_id") + F.lit(1000000)).alias("sid"),
        F.concat(
            F.substr(F.col("t"), F.lit(1), F.lit(7)),
            F.lit("q"),
            F.substr(F.col("t"), F.lit(9), F.length("t")),
        ).alias("t"),
    )
    corp = trunc.select(F.col("doc_id").alias("sid"), "t").unionByName(twins)
    return passjoin_pairs(corp, id_col="sid", text_col="t", max_dist=5)


@register(
    "dedup_clusters_fuzzy",
    # the winnow CTE chain needs RECURSIVE hoisted to its WITH for the
    # reach CTE appended below
    oracle=_WINNOW_FPS_SQL.replace("WITH t AS", "WITH RECURSIVE t AS", 1)
    + """
    , kept AS (
        SELECT doc_id, fp FROM fps
        WHERE fp NOT IN (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 50)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    n AS (SELECT doc_id,
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
          FROM documents),
    edges AS (
        SELECT id_a, id_b FROM cand
        JOIN n na ON na.doc_id = id_a
        JOIN n nb ON nb.doc_id = id_b
        WHERE abs(length(na.s) - length(nb.s)) <= 5
          AND levenshtein(na.s, nb.s) <= 5
    ),
    und AS (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION SELECT id_b, id_a FROM edges
    ),
    reach(id, r) AS (
        SELECT a, a FROM und
        UNION
        SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id
    )
    SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
    """,
    tags=("text", "dedup", "graph", "extension"),
)
def dedup_clusters_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters over EDIT-DISTANCE edges: the fuzzy
    Levenshtein pairs feed the same min-label connected-components
    operator the Jaccard clusters use — composition evidence that
    every pair-producing dedup modality plugs into the
    cluster → keep-best pipeline unchanged. Oracle recomputes
    blocking, verification and components (recursive CTE)."""
    from ..operators.fingerprint import fuzzy_pairs_levenshtein
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = fuzzy_pairs_levenshtein(docs, max_dist=5, max_doc_freq=50)
    return connected_components(
        pairs.select("id_a", "id_b"), src="id_a", dst="id_b"
    ).select(F.col("id").alias("doc_id"), "component")


@register(
    "upsert_transactional_lifecycle",
    oracle="""
    SELECT c_custkey AS k,
           c_mktsegment AS seg,
           CASE WHEN c_custkey % 7 = 0 THEN round(c_acctbal - 500, 2)
                WHEN c_custkey % 5 = 0 THEN round(c_acctbal + 1000, 2)
                WHEN c_custkey % 3 = 0 THEN round(c_acctbal, 2)
                ELSE round(c_acctbal * 2, 2) END AS val
    FROM customer
    WHERE (c_custkey % 7 = 0 AND c_custkey % 2 = 1)
       OR (c_custkey % 7 != 0
           AND (c_custkey % 3 = 0 OR c_custkey % 2 = 0
                OR c_custkey % 5 = 0))
    """,
    tags=("upsert", "transactions", "sink", "extension"),
)
def upsert_transactional_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full lifecycle of the MULTI-WRITER transactional table
    (operators/txlog.py — the concurrency-safe form of the
    reference's Postgres ``ON CONFLICT`` sink, reference
    dags/crypto-etl-pipeline-psql.py:85-89): five commits exercise
    every action and the oracle pins the RESOLVED end state.

    1. append-if-absent  custkey %3 == 0  at acctbal        (insert)
    2. append-if-absent  custkey %2 == 0  at acctbal × 2    — the
       %6 overlap must KEEP commit 1's value (DO NOTHING, not UPDATE)
    3. merge             custkey %5 == 0  at acctbal + 1000 — must
       OVERRIDE every earlier value and insert the %5-only keys
    4. delete            custkey %7 == 0  (tombstone)
    5. append-if-absent  custkey %7 == 0 AND odd at acctbal − 500 —
       re-insert after delete must be visible again

    The store builds once per process (`_cached_store` — the
    lifecycle is deterministic, so the post-commit table is a fixed
    point) and the query returns the LIVE ``tx_read`` resolution
    plan: per-commit parquet scans unioned, the max-effect-version
    key join, the visibility filter — the plan a reader runs at any
    scale. Protocol-level concurrency (claim races, orphan deltas,
    compaction folding) is pinned by tests/test_txlog.py."""
    from ..operators.txlog import (
        tx_append_if_absent,
        tx_delete,
        tx_merge,
        tx_read,
    )

    def _build(path: str) -> None:
        cust = load_table(spark, sf_dir, "customer")
        k = F.col("c_custkey")
        base = cust.select(
            k.alias("k"),
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("c_acctbal"), 2).alias("val"),
        )
        tx_append_if_absent(
            spark, base.filter(k % 3 == 0), path, ["k"]
        )
        tx_append_if_absent(
            spark,
            cust.filter(k % 2 == 0).select(
                k.alias("k"),
                F.col("c_mktsegment").alias("seg"),
                F.round(F.col("c_acctbal") * 2, 2).alias("val"),
            ),
            path,
            ["k"],
        )
        tx_merge(
            spark,
            cust.filter(k % 5 == 0).select(
                k.alias("k"),
                F.col("c_mktsegment").alias("seg"),
                F.round(F.col("c_acctbal") + 1000, 2).alias("val"),
            ),
            path,
            ["k"],
        )
        tx_delete(
            spark, cust.filter(k % 7 == 0).select(k.alias("k")), path, ["k"]
        )
        tx_append_if_absent(
            spark,
            cust.filter((k % 7 == 0) & (k % 2 == 1)).select(
                k.alias("k"),
                F.col("c_mktsegment").alias("seg"),
                F.round(F.col("c_acctbal") - 500, 2).alias("val"),
            ),
            path,
            ["k"],
        )

    path = _cached_store("txlife", sf_dir, _build)
    return tx_read(spark, path)


@register(
    "upsert_transactional_time_travel",
    oracle="""
    SELECT c_custkey AS k,
           c_mktsegment AS seg,
           CASE WHEN c_custkey % 5 = 0 THEN round(c_acctbal + 1000, 2)
                WHEN c_custkey % 3 = 0 THEN round(c_acctbal, 2)
                ELSE round(c_acctbal * 2, 2) END AS val
    FROM customer
    WHERE c_custkey % 3 = 0 OR c_custkey % 2 = 0 OR c_custkey % 5 = 0
    """,
    tags=("upsert", "transactions", "sink", "extension"),
)
def upsert_transactional_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot isolation as a QUERY: the same committed lifecycle as
    ``upsert_transactional_lifecycle`` (same process-cached store —
    five commits), read AS OF version 3, i.e. after both inserts and
    the merge but BEFORE the delete and the re-insert. The oracle is
    the version-3 state recomputed from the fixture: the delete's
    tombstone and the post-delete insert must be invisible even
    though both are committed in the log being read — the
    time-travel contract a transactional table adds over plain
    parquet (operators/txlog.py ``tx_read(version=)``)."""
    import os

    from ..operators.txlog import tx_read

    # reuse (or build) the exact store the lifecycle query certifies
    root = _STORE_BENCH_CACHE.get(("txlife", sf_dir))
    if root is None or not os.path.exists(
        os.path.join(root, "_BENCH_READY")
    ):
        upsert_transactional_lifecycle(spark, sf_dir).count()
        root = _STORE_BENCH_CACHE[("txlife", sf_dir)]
    return tx_read(spark, os.path.join(root, "store"), version=3)
