"""THE end-to-end curation pipeline, as ONE certified dataflow —
every stage a 100 TB pretraining-data run chains, composed in
execution order and value-certified by a single full-pipeline DuckDB
oracle (VERDICT r10/r11 top item: the stages were individually
certified, but their COMPOSITION — schema drift between stages, gate
ordering, token double-counting after dedup — had no oracle).

Stage order (each consumes the previous stage's survivors):

1. normalize   — Latin accent fold (functions/text.py)
2. PII redact  — regexp chain over the normalized text (functions/pii.py)
3. gate: Gopher composite filter (word/char/stopword/repetition bands)
4. gate: hashed bag-of-words classifier with TRAINED weights, kept =
   margin ≥ 0 — the NB log-odds fit (operators/classify.py
   train_bucket_weights) learned IN-PIPELINE from blocklist weak
   supervision (positive = no junk-lexicon hit), weights dyadic-
   quantized k/1024 so margins are association-order-exact
5. gate: unigram-LM perplexity percentile ≤ 0.8 — the CCNet move;
   the LM trains on the gate-surviving 'en' slice (operators/lm.py)
6. dedup: exact fingerprint, keep min doc_id (operators/dedup.py)
7. dedup: MinHash(32)+LSH(8 bands) verified near-dups, drop the
   larger id of each pair ≥ 0.8 Jaccard (portable hash family)
8. dedup: SemDeDup verdicts from the embedding space (cluster-blocked
   cosine ≥ 0.4, operators/semdedup.py) applied by id
9. sample: per-language token-budget admission in deterministic md5
   order (the data-recipe mixture weights of sample_mixture_weights)
10. layout: global md5-order packing into 512-token bins + 50-doc
    shards; the output is the SHARD MANIFEST a training job reads.

Planted signals (so every stage demonstrably fires): PII items by
doc_id % 7 arm (curation.py's certified plant), an accented banner on
doc_id % 10 == 2, a junk-lexicon tail on % 10 == 7 (the low-quality
class the trained classifier gate must drop), byte-identical clones
(+1e6) of % 10 == 0 and one-token-tail near-dup clones (+2e6) of
% 10 == 5 — cloned AFTER planting so the exact copies stay
byte-identical through the transform stages.

Scale posture: the transform/gate stages are shuffle-free
projections; dedup stages are banded/cluster-blocked (never n²); the
gate/dedup/admission chain is NARROW (r14 — the first ×1000 funnel
run filled the node's 79 GB spill disk because corpus text rode
through every id-filter sort-merge join; the chain now carries
~40 B/row of (id, lang, n_tokens, h, fp) and text joins back exactly
twice: at the g4/MinHash barrier and at final packing); the
admission and packing ranks are two-phase distributed prefix sums
over order-aligned hash buckets (certified equivalent by
``sample_token_budget_distributed``), so no single-task window
touches corpus-sized data.
Cross-engine exactness: every double that feeds a comparison is
rounded or dyadic-quantized in BOTH engines (the registry-wide
discipline), so the oracle compares value-for-value.

Reference parity note: the reference repo (dags/crypto-etl-pipeline-
psql.py) has no curation surface — this family is the commissioned
LLM-training-data extension (SURVEY.md §2.9 / ADVICE r4+).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.pii import redact_pii
from ..functions.text import (
    ACCENT_EXPANSIONS,
    ACCENT_FROM,
    ACCENT_TO,
    STOPWORDS,
    fingerprint,
    mean_token_length,
    strip_accents_latin,
    tokens,
)
from ..operators import dedup as dedup_ops
from ..operators.barrier import barrier
from ..operators.classify import feature_bucket
from ..operators.semdedup import semdedup_keep
from ..sources.tables import load_table
from .curation import (
    _AUG_PII_SQL,
    _MIX_WEIGHTS,
    _SEMDEDUP_CLUSTERS_SQL,
    _STOPS,
    _TOKS,
    _admission_hash,
    _augment_pii,
)
from .extensions import _minhash_band_ctes
from .registry import register

_BANNER = "Électricité générale déjà vu: ÀÇÑß æŒ naïveté — "
_TAIL = "zzduptail"
#: Junk-lexicon marker planted on the low-quality arm (doc_id % 10 ==
#: 7) — same lexicon family as curation.py's certified classifier
#: eval plant. The pipeline's classifier gate trains IN-PIPELINE on
#: blocklist weak supervision (positive = no junk hit) and must
#: demonstrably drop this class (VERDICT r12 item 2).
_JUNK = "spamlex"
_SHARD_DOCS = 50
_BIN_TOKENS = 512
_PPL_KEEP = 0.8


# ---------------------------------------------------------------------------
# DuckDB oracle fragments (assembled from the same constants as the
# Spark operators, the registry-wide no-drift discipline)
# ---------------------------------------------------------------------------


def _fold_sql(col: str = "text") -> str:
    expr = f"translate({col}, '{ACCENT_FROM}', '{ACCENT_TO}')"
    for src, dst in ACCENT_EXPANSIONS:
        expr = f"replace({expr}, '{src}', '{dst}')"
    return expr


def _redact_sql(col: str = "text") -> str:
    from ..functions.pii import PII_PATTERNS, PII_TOKENS

    expr = col
    for cat, pat in PII_PATTERNS.items():
        expr = f"regexp_replace({expr}, '{pat}', '{PII_TOKENS[cat]}', 'g')"
    return expr


def _minhash_pairs_sql(src: str, threshold: float = 0.8,
                       num_hashes: int = 32, bands: int = 8) -> str:
    """Portable MinHash-LSH verified near-dup pairs over ``src``
    (must expose doc_id, text): this pipeline's tokenization feeding
    the shared signature/band CTEs (``_minhash_band_ctes``), then the
    `_minhash_oracle` candidate rule and exact-Jaccard check. Final
    CTE ``mh_pairs`` holds (id_a, id_b) at exact Jaccard ≥
    threshold."""
    band_ctes, key_eq = _minhash_band_ctes("msh", num_hashes, bands)
    return f"""
    mtoks AS (SELECT doc_id, {_TOKS} AS t FROM {src}),
    msh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(t, i, i + 2), ' ') AS sh
        FROM mtoks,
             unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),{band_ctes},
    mh_cand AS (
        SELECT DISTINCT l.doc_id AS id_a, rr.doc_id AS id_b
        FROM mh_bands l JOIN mh_bands rr ON l.band = rr.band AND {key_eq}
        WHERE l.doc_id < rr.doc_id
    ),
    mh_sizes AS (SELECT doc_id, count(*) AS n FROM msh GROUP BY doc_id),
    mh_common AS (
        SELECT c.id_a, c.id_b, count(*) AS cnt2
        FROM mh_cand c
        JOIN msh a ON a.doc_id = c.id_a
        JOIN msh b ON b.doc_id = c.id_b AND b.sh = a.sh
        GROUP BY 1, 2
    ),
    mh_pairs AS MATERIALIZED (
        SELECT id_a, id_b
        FROM mh_common
        JOIN mh_sizes na ON na.doc_id = id_a
        JOIN mh_sizes nb ON nb.doc_id = id_b
        WHERE cnt2 / (na.n + nb.n - cnt2) >= {threshold}
    )"""


_MIX_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_WEIGHTS.items())
    + " ELSE 0 END"
)

_MD5_H = ("CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
          "AS BIGINT)")


def _pipeline_ctes() -> str:
    """The full WITH-clause body: plant → clone → normalize → redact
    → Gopher → classifier → perplexity → exact → MinHash → semantic
    → mixture admission → packing. Final CTEs: ``feat``/``g1``..
    ``g6``/``adm`` (funnel stages) and ``packed`` (manifest input)."""
    return f"""
    aug0 AS ({_AUG_PII_SQL}),
    base AS (
        SELECT doc_id, lang,
               CASE WHEN doc_id % 10 = 2 THEN '{_BANNER}' || text
                    WHEN doc_id % 10 = 7 THEN text
                         || ' {_JUNK}' || CAST(doc_id % 4 AS VARCHAR)
                         || ' {_JUNK}' || CAST((doc_id + 1) % 4 AS VARCHAR)
                         || ' {_JUNK}' || CAST((doc_id + 2) % 4 AS VARCHAR)
                    ELSE text END AS text
        FROM aug0
    ),
    corpus AS (
        SELECT * FROM base
        UNION ALL
        SELECT doc_id + 1000000, lang, text FROM base WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2000000, lang, text || ' {_TAIL}' FROM base
        WHERE doc_id % 10 = 5
    ),
    norm AS (SELECT doc_id, lang, {_fold_sql()} AS text FROM corpus),
    red AS (SELECT doc_id, lang, {_redact_sql()} AS text FROM norm),
    feat AS MATERIALIZED (
        SELECT doc_id, lang, text, len({_TOKS}) AS n_tokens,
               {_MD5_H} AS h
        FROM red
    ),
    gop AS (
        SELECT doc_id, lang, text, n_tokens, h,
               len({_TOKS}) AS n_words,
               round(list_aggregate(list_transform({_TOKS}, x -> length(x)),
                                    'sum') / len({_TOKS}), 6) AS mwl,
               round(len(list_filter({_TOKS},
                                     x -> regexp_matches(x, '[A-Za-z]')))
                     / len({_TOKS}), 6) AS fra,
               len(list_filter({_TOKS}, x -> list_contains({_STOPS}, x)))
                   AS nst,
               CASE WHEN len({_TOKS}) < 2 THEN 0.0
                    ELSE round(1 - len(list_distinct(list_transform(
                             range(1, len({_TOKS})),
                             i -> {_TOKS}[i] || ' ' || {_TOKS}[i + 1])))
                         / (len({_TOKS}) - 1), 6) END AS dbf
        FROM feat
    ),
    g1 AS MATERIALIZED (
        SELECT doc_id, lang, text, n_tokens, h FROM gop
        WHERE n_words >= 20 AND n_words <= 100000
          AND mwl >= 3 AND mwl <= 10
          AND fra >= 0.8 AND nst >= 2 AND dbf <= 0.5
    ),
    cls_tok AS (
        SELECT (text NOT LIKE '%{_JUNK}%') AS pos,
               unnest({_TOKS}) AS tok
        FROM g1
    ),
    cls_counts AS (
        SELECT (CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                % 4096) AS bucket,
               sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos,
               sum(CASE WHEN pos THEN 0 ELSE 1 END) AS n_neg
        FROM cls_tok WHERE tok != '' GROUP BY 1
    ),
    cls_tot AS (
        SELECT sum(n_pos) AS tot_pos, sum(n_neg) AS tot_neg FROM cls_counts
    ),
    cls_w AS MATERIALIZED (
        SELECT bucket,
               round((ln((n_pos + 0.5) / (t.tot_pos + 0.5))
                      - ln((n_neg + 0.5) / (t.tot_neg + 0.5))) * 1024)
                   / 1024 AS weight
        FROM cls_counts CROSS JOIN cls_tot t
    ),
    ctok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM g1),
    cmar AS (
        SELECT d.doc_id, avg(coalesce(w.weight, 0.0)) AS margin
        FROM (
            SELECT doc_id,
                   (CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                    % 4096) AS bucket
            FROM ctok WHERE tok != ''
        ) d
        LEFT JOIN cls_w w USING (bucket)
        GROUP BY d.doc_id
    ),
    g2 AS MATERIALIZED (SELECT g1.* FROM g1 JOIN cmar USING (doc_id) WHERE margin >= 0),
    rtok AS (
        SELECT unnest({_TOKS}) AS tok FROM g2 WHERE lang = 'en'
    ),
    cnt AS MATERIALIZED (SELECT tok, count(*) AS c FROM rtok WHERE tok != '' GROUP BY tok),
    tot AS (SELECT sum(c) AS t, least(count(*), 4096) AS v FROM cnt),
    top AS MATERIALIZED (
        SELECT tok, c FROM (
            SELECT tok, c,
                   row_number() OVER (ORDER BY c DESC, tok) AS rn
            FROM cnt
        ) WHERE rn <= 4096
    ),
    topmass AS (SELECT sum(c) AS tc FROM top),
    vocab AS (
        SELECT tok,
               round(ln((c + 0.5) / (t.t + 0.5 * (t.v + 1))) * 1024) / 1024
                   AS lnp
        FROM top CROSS JOIN tot t
    ),
    oov AS (
        SELECT round(ln((t - tc + 0.5) / (t + 0.5 * (v + 1))) * 1024) / 1024
                   AS oov_lnp
        FROM tot CROSS JOIN topmass
    ),
    sc AS (
        SELECT d.doc_id, coalesce(v.lnp, o.oov_lnp) AS lnp
        FROM (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM g2
        ) d
        LEFT JOIN vocab v USING (tok) CROSS JOIN oov o
        WHERE d.tok != ''
    ),
    pplt AS (
        SELECT doc_id, round(exp(-sum(lnp) / count(*)), 6) AS ppl
        FROM sc GROUP BY doc_id
    ),
    prk AS (
        SELECT doc_id, percent_rank() OVER (ORDER BY ppl) AS pr FROM pplt
    ),
    g3 AS MATERIALIZED (SELECT g2.* FROM g2 JOIN prk USING (doc_id) WHERE pr <= {_PPL_KEEP}),
    fpx AS (
        SELECT doc_id, lang, text, n_tokens, h,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        FROM g3
    ),
    g4 AS MATERIALIZED (
        SELECT doc_id, lang, text, n_tokens, h FROM (
            SELECT *, min(doc_id) OVER (PARTITION BY f) AS keep_id FROM fpx
        ) WHERE doc_id = keep_id
    ),
    {_minhash_pairs_sql('g4')},
    g5 AS MATERIALIZED (SELECT * FROM g4 WHERE doc_id NOT IN (SELECT id_b FROM mh_pairs)),
    {_SEMDEDUP_CLUSTERS_SQL},
    g6 AS MATERIALIZED (
        SELECT * FROM g5
        WHERE doc_id NOT IN (SELECT id_b FROM pairs WHERE cosine_sim >= 0.4)
    ),
    samp AS (
        SELECT doc_id, lang, text, n_tokens, h,
               CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               {_MIX_SQL} AS budget
        FROM g6
    ),
    adm AS MATERIALIZED (
        SELECT doc_id, lang, text, n_tokens, h FROM samp
        WHERE cum - n_tokens < budget
    ),
    packed AS (
        SELECT doc_id, n_tokens, text,
               CAST(sum(n_tokens) OVER wg AS BIGINT) AS gcum,
               row_number() OVER (ORDER BY h, doc_id) AS rn
        FROM adm
        WINDOW wg AS (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
    )"""


_MANIFEST_ORACLE = f"""
    WITH {_pipeline_ctes()}
    SELECT CAST((rn - 1) // {_SHARD_DOCS} AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc,
           CAST(min(gcum - n_tokens) // {_BIN_TOKENS} AS BIGINT) AS first_bin,
           CAST((max(gcum) - 1) // {_BIN_TOKENS} AS BIGINT) AS last_bin,
           CAST(sum(CAST(CONCAT('0x', substr(md5(CONCAT(
                CAST(doc_id AS VARCHAR), ':', text)), 1, 8)) AS BIGINT))
                AS BIGINT) AS content_checksum
    FROM packed GROUP BY 1
"""

_FUNNEL_STAGES = (
    ("0_input", "feat"),
    ("1_gate_gopher", "g1"),
    ("2_gate_classifier", "g2"),
    ("3_gate_perplexity", "g3"),
    ("4_dedup_exact", "g4"),
    ("5_dedup_minhash", "g5"),
    ("6_dedup_semantic", "g6"),
    ("7_sampled", "adm"),
)

_FUNNEL_ORACLE = f"""
    WITH {_pipeline_ctes()}
    {' UNION ALL '.join(
        f"SELECT '{name}' AS stage, CAST(count(*) AS BIGINT) AS n_docs, "
        f"CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM {cte}"
        for name, cte in _FUNNEL_STAGES
    )}
"""


# ---------------------------------------------------------------------------
# Spark dataflow (the actual engine operators, chained)
# ---------------------------------------------------------------------------


def _plant(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    junk_tail = F.concat(
        F.col("text"),
        F.lit(f" {_JUNK}"), (did % 4).cast("string"),
        F.lit(f" {_JUNK}"), ((did + 1) % 4).cast("string"),
        F.lit(f" {_JUNK}"), ((did + 2) % 4).cast("string"),
    )
    base = _augment_pii(docs)
    base = base.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 10 == 2,
            F.concat(F.lit(_BANNER), F.col("text")),
        )
        .when(F.col("doc_id") % 10 == 7, junk_tail)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    clones = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "lang", "text"
    )
    near = base.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        "lang",
        F.concat(F.col("text"), F.lit(" " + _TAIL)).alias("text"),
    )
    return base.unionByName(clones).unionByName(near)


def _reclaim_shuffle_disk(spark: SparkSession) -> None:
    """Trigger a driver GC after an eager barrier so Spark can delete
    the shuffle files the barrier just made dead.

    A barrier truncates lineage, so the pre-barrier job's shuffle
    files are dead the moment it returns — but Spark's ContextCleaner
    only reclaims them when the JVM garbage-collects the dropped
    shuffle dependencies. Across the pipeline's chain of barrier jobs
    the dead files otherwise ACCUMULATE; measured at the ×1000 decade
    (r14): 39 GB of superseded shuffle data from the token-table
    chains filled the node's spill disk. The GC bounds peak disk at
    max-single-job instead of sum-of-jobs, at ~0.1-0.3 s per barrier
    — which is why :func:`_build_stages` gates it on input size. The
    JVM handle is classic-Spark-only (ADVICE r14): the sparkContext
    PROPERTY itself raises under Spark Connect (ADVICE r15), so the
    whole access chain is guarded and the nudge degrades to a no-op
    instead of failing the pipeline."""
    try:
        jvm = getattr(spark.sparkContext, "_jvm", None)
    except Exception:
        jvm = None
    if jvm is not None:
        jvm.System.gc()


def _stages(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str | None = None,
    semdedup_nlist: int = 16,
) -> dict[str, DataFrame]:
    """Build every pipeline stage. The narrow (text-free) stage frames
    are keyed by their oracle CTE names (``feat``, ``g1``..``g6``,
    ``adm``); ``g1_text`` and ``g6_text`` carry the Gopher and
    semantic-dedup survivors with their text, and ``packed`` is the
    manifest input. ``checkpoint_dir`` selects reliable phase
    barriers (:func:`barrier`; default local). ``semdedup_nlist`` is
    SemDeDup's cluster count — 16 fits the certification fixture; the
    scale contract is nlist ∝ corpus size so clusters stay
    constant-sized (the decade harness re-dials it per scale,
    tools/pipeline_scale_bench.py).

    The SemDeDup branch is built on a one-thread pool owned here: on
    success its result has been joined; if the text chain raises, the
    pool is shut down with pending work cancelled, and the in-flight
    fit (bounded driver jobs) finishes and its thread exits."""
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)
    try:
        return _build_stages(spark, sf_dir, checkpoint_dir, semdedup_nlist, pool)
    finally:
        pool.shutdown(wait=False, cancel_futures=True)


def _build_stages(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str | None,
    semdedup_nlist: int,
    pool,
) -> dict[str, DataFrame]:
    """:func:`_stages` body; ``pool`` runs the SemDeDup branch."""
    from ..operators.parallel import widen_small_input
    from ..session import SMALL_INPUT_BYTES, input_dir_bytes

    # disk-reclaim GC only when the input is big enough that dead
    # shuffle files are a disk hazard (the r14 ×1000 lesson); at
    # few-MB scale the per-barrier GC pause is pure overhead. An
    # unstattable input (remote FS — input_dir_bytes sees 0) keeps
    # the reclaim ON: at unknown scale the safe failure mode is a
    # short GC pause, not a filled disk.
    _in_bytes = input_dir_bytes(sf_dir)
    reclaim_disk = _in_bytes == 0 or _in_bytes >= SMALL_INPUT_BYTES

    def _bar(df: DataFrame) -> DataFrame:
        out = barrier(df, checkpoint_dir)
        if reclaim_disk:
            _reclaim_shuffle_disk(spark)
        return out

    # Stage 8's SemDeDup branch, submitted EARLY from a driver thread
    # (guide §2.6 — overlap independent jobs): it reads a DIFFERENT
    # table (embeddings) and shares nothing with the text chain until
    # its verdict ids anti-join at g6, but BUILDING it runs eager
    # model-fit jobs (the dimension probe, the nlist seed selection,
    # the k-means refinement collect inside ivf_centroids →
    # _nearest_centroid). Called inline after the g4 barrier — its
    # position in the dataflow — those jobs SERIALIZE behind the text
    # chain's five eager barrier jobs (~6 s of the flagship's sf0.1
    # cost, r16 §7b attribution) even though the scheduler could run
    # both branches at once; at decade scale the seed/refine passes
    # are full corpus scans, so the serialization grows with the
    # input. A single driver thread submits the branch up front and
    # the barrier jobs' straggler tails back-fill with embedding-side
    # work. Results are identical — the same DataFrame comes back,
    # and the similarity/dedup memo layers are lock-guarded. r17
    # measured this overlap 0.5 s faster than the inline build in two
    # interleaved A/Bs, so it is the only path.

    def _semdedup_verdicts() -> DataFrame:
        return semdedup_keep(
            load_table(spark, sf_dir, "embeddings"),
            "vec_id",
            "embedding",
            nlist=semdedup_nlist,
            threshold=0.4,
        )

    try:
        # documented way to run driver threads so JVM thread-local
        # properties (job group/description/tags) are inherited
        # and cleaned up under pinned-thread mode; Spark 4 wants
        # the session for tag inheritance
        from pyspark import inheritable_thread_target

        _target = inheritable_thread_target(spark)(_semdedup_verdicts)
    except Exception:
        _target = _semdedup_verdicts
    _fut = pool.submit(_target)

    # widen BEFORE the transform: the documents table arrives in a
    # handful of file partitions, and the regexp redaction chain is
    # the pipeline's CPU-heaviest per-row work — without the widen it
    # runs on 3 cores of 32 (measured 8.2 s vs ~1 s at sf0.1)
    corpus = widen_small_input(
        _plant(load_table(spark, sf_dir, "documents"))
    )

    # 1-2: normalize + redact (shuffle-free projections)
    norm = corpus.select(
        "doc_id", "lang", strip_accents_latin(F.col("text")).alias("text")
    )
    red = norm.select(
        "doc_id", "lang", redact_pii(F.col("text")).alias("text")
    )
    # PHASE BARRIER: materialize the transformed corpus. Without it,
    # Catalyst's projection collapse re-inlines the fold+redact
    # expression chain into EVERY downstream consumer (the Gopher
    # signals alone reference the token array ~8×, MinHash adds 32
    # signature aggregations over shingles of it) and the plan/codegen
    # blows the driver heap — observed, not hypothetical. A real
    # pipeline materializes between phases for the same reason; at
    # cluster scale this barrier is a reliable checkpoint beneath
    # ``checkpoint_dir``.
    #
    # The Gopher signals (same expressions as text_gopher_filter)
    # ride in this SAME materialization pass: the token array is
    # built once for n_tokens AND the four quality signals, and the
    # downstream gate degenerates to a constant-width comparison
    # filter — so g1 needs no barrier of its own (its three consumers
    # re-apply a cheap filter over the feat cache instead of a
    # tokenize-heavy expression chain). One corpus scan, one barrier
    # job, and one tokenization replace the former two of each.
    t = F.col("text")
    toks = tokens(t)
    n_words = F.size(toks)
    mwl = mean_token_length(t)
    fra = F.round(
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))) / n_words, 6
    )
    nst = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    bigrams = F.transform(
        F.sequence(F.lit(1), n_words - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    dbf = F.when(n_words < 2, F.lit(0.0)).otherwise(
        F.round(1 - F.size(F.array_distinct(bigrams)) / (n_words - 1), 6)
    )
    # The exact-dedup fingerprint also rides the barrier (32-char md5
    # — computed once here so the dedup stage downstream is a NARROW
    # window over (doc_id, fp), never a text shuffle: the r14 ×1000
    # disk lesson below).
    feat_wide = _bar(
        red.select(
            "doc_id",
            "lang",
            "text",
            n_words.alias("n_tokens"),
            _admission_hash().alias("h"),
            fingerprint(F.col("text")).alias("fp"),
            mwl.alias("__mwl"),
            fra.alias("__fra"),
            nst.alias("__nst"),
            dbf.alias("__dbf"),
        )
    )

    # NARROW DATAFLOW through the gates — the r14 ×1000 lesson. The
    # first ×1000 funnel run filled 79 GB of spill disk and died: the
    # text column (the corpus itself) was riding through every
    # id-filter sort-merge join (g2, g3, g4, g5, g6) and both
    # admission prefix-sum shuffles, so each gate re-shuffled the
    # whole corpus and the accumulated shuffle files exceeded the
    # node's disk. The gates only DECIDE ids — so the chain below
    # carries (doc_id, lang, n_tokens, h, fp) at ~40 B/row and text
    # is joined back exactly TWICE: once building the g4 barrier
    # (MinHash needs shingles) and once at final packing. At 100 TB
    # the same math holds: id+meta rows are ~3 orders smaller than
    # documents, and the two text joins are the irreducible ones.

    # 3: Gopher gate — a pure comparison filter over the materialized
    # signals (n_words ≡ n_tokens, computed once above)
    nt = F.col("n_tokens")
    _gopher = (
        (nt >= 20)
        & (nt <= 100000)
        & (F.col("__mwl") >= 3)
        & (F.col("__mwl") <= 10)
        & (F.col("__fra") >= 0.8)
        & (F.col("__nst") >= 2)
        & (F.col("__dbf") <= 0.5)
    )
    g1n = feat_wide.filter(_gopher).select(
        "doc_id", "lang", "n_tokens", "h", "fp"
    )
    # text view of the same survivors: a pure FILTER over the barrier
    # (narrow lineage, no shuffle) — the only text source downstream
    g1 = feat_wide.filter(_gopher).select(
        "doc_id", "lang", "text", "n_tokens", "h"
    )

    # 4: classifier gate with TRAINED weights (VERDICT r12 item 2):
    # blocklist weak supervision — the seed label is "no junk-lexicon
    # hit" (the way production quality filters bootstrap from a
    # blocklist/heuristic seed), the NB log-odds fit is
    # train_bucket_weights' certified closed form, and the learned
    # weights generalize the junk signal to the whole spam vocabulary
    # rather than just the literal blocklist. Weights are dyadic-
    # quantized (k/1024, the lm.py discipline) so per-doc margin sums
    # are association-order-exact in both engines.
    # Fit and inference share ONE exploded bucket table (persisted):
    # the train aggregation and the per-doc margin scoring consume the
    # same (doc_id, label, bucket) rows instead of each re-tokenizing
    # and re-hashing the gate survivors — one corpus-tokens pass where
    # :func:`train_bucket_weights` + :func:`classifier_scores` chained
    # naively would take two. Same closed form, same dyadic-quantized
    # weights, same kept set (a no-token doc appears in no bucket row
    # and is dropped by the inner join, exactly classifier_scores'
    # kept=false verdict — and cannot occur post-Gopher anyway).
    from ..operators.dedup import _reuse

    # ONE exploded token table serves the classifier gate AND the LM
    # gate (r14: formerly two separate persisted explodes — btok from
    # g1's text, ltok from g2's text-join — i.e. two corpus tokenize
    # passes and one corpus-text shuffle; now the LM slice is a
    # narrow id join against this shared cache).
    seed_pos = ~F.col("text").contains(_JUNK)
    exploded = _reuse(
        g1.select(
            "doc_id",
            (F.col("lang") == "en").alias("__en"),
            seed_pos.alias("__pos"),
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
        ).filter(F.col("tok") != "")
    )
    btok = exploded.select(
        "doc_id", "__pos", feature_bucket(F.col("tok")).alias("bucket")
    )
    counts = btok.groupBy("bucket").agg(
        F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("__pos"), 0).otherwise(1)).alias("n_neg"),
    )
    totals = counts.agg(
        F.sum("n_pos").alias("tot_pos"), F.sum("n_neg").alias("tot_neg")
    )
    raw_w = (
        F.log((F.col("n_pos") + F.lit(0.5)) / (F.col("tot_pos") + F.lit(0.5)))
        - F.log((F.col("n_neg") + F.lit(0.5)) / (F.col("tot_neg") + F.lit(0.5)))
    )
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (F.round(raw_w * F.lit(1024)) / F.lit(1024)).alias("weight"),
    )
    kept_ids = (
        btok.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(F.avg(F.coalesce("weight", F.lit(0.0))).alias("margin"))
        .filter(F.col("margin") >= 0)
        .select("doc_id")
    )
    # barrier the ID LIST, not a text-bearing join result (the r12
    # driver-heap rationale was cutting recomputation of the
    # classifier chain per consumer — an id barrier gives the same
    # protection at ~1/1000 the block size)
    kept_ids = _bar(kept_ids)
    g2n = g1n.join(kept_ids, "doc_id")

    # 5: perplexity percentile gate; LM trains on surviving 'en' docs.
    # Same shared-token-pass fusion as the classifier gate above: ONE
    # exploded token table (persisted) feeds both the LM fit (its 'en'
    # slice) and the scoring of every survivor, where
    # :func:`train_unigram_lm` + :func:`unigram_logppl` chained
    # naively each re-tokenize g2. Identical closed form: add-α
    # smoothing over the top-4096 types of the 'en' slice, proper OOV
    # tail mass, dyadic-quantized ln-probabilities (operators/lm.py) —
    # a tokenless doc appears in no token row, gets no ppl, and is
    # dropped exactly as the isNotNull filter on unigram_logppl's
    # NULL-ppl row dropped it.
    _VOCAB_SIZE, _ALPHA = 4096, 0.5
    _dy = lambda x: F.round(x * F.lit(1024)) / F.lit(1024)  # noqa: E731
    # LM token slice: narrow id join against the SHARED exploded
    # cache — token rows only, never a corpus-text shuffle
    ltok = exploded.join(kept_ids, "doc_id").select(
        "doc_id", "__en", "tok"
    )
    lm_counts = (
        ltok.filter(F.col("__en")).groupBy("tok").agg(F.count("*").alias("c"))
    )
    ranked = lm_counts.withColumn(
        "__rn", F.row_number().over(W.orderBy(F.desc("c"), F.asc("tok")))
    )
    lm_totals = ranked.agg(
        F.sum("c").alias("t"),
        F.least(F.count("*"), F.lit(_VOCAB_SIZE)).alias("v"),
        F.sum(
            F.when(F.col("__rn") <= _VOCAB_SIZE, F.col("c")).otherwise(F.lit(0))
        ).alias("tc"),
    )
    a = F.lit(_ALPHA)
    denom = F.col("t") + a * (F.col("v") + F.lit(1))
    vocab = (
        ranked.filter(F.col("__rn") <= _VOCAB_SIZE)
        .crossJoin(F.broadcast(lm_totals))
        .select("tok", _dy(F.log((F.col("c") + a) / denom)).alias("lnp"))
    )
    stats = lm_totals.select(
        _dy(F.log((F.col("t") - F.col("tc") + a) / denom)).alias("oov_lnp")
    )
    ppl = (
        ltok.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.coalesce("lnp", F.col("oov_lnp")).alias("lnp"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.exp(-F.sum("lnp") / F.count("*")), 6
            ).alias("ppl")
        )
    )
    # percentile gate WITHOUT the global percent_rank window (which
    # funnels one (doc_id, ppl) row per surviving document through a
    # single sort task): two-phase rank, same decomposition as the
    # packing stages — buckets from a MONOTONE function of ppl are
    # order-aligned, ties share a value hence a bucket, so
    # bucket-offset + local rank() reproduces global rank() exactly
    # and percent_rank = (rank−1)/(n−1) is arithmetic on top.
    n_ppl = ppl.agg(F.count("*").alias("__n"))
    pplb = ppl.withColumn("__pb", F.floor("ppl").cast("long"))
    pb_off = (
        pplb.groupBy("__pb")
        .agg(F.count("*").alias("__c"))
        .select(
            "__pb",
            F.coalesce(
                F.sum("__c").over(
                    W.orderBy("__pb").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("__roff"),
        )
    )
    grank = (
        F.col("__roff")
        + F.rank().over(W.partitionBy("__pb").orderBy("ppl"))
        - 1
    )
    pr = F.when(F.col("__n") == 1, F.lit(0.0)).otherwise(
        grank / (F.col("__n") - 1)
    )
    # id barrier, symmetric with kept_ids: every downstream consumer
    # (g3n count, g4n build) would otherwise re-run the whole LM +
    # perplexity chain — at ×1000 that is another full round of
    # token-table shuffles per consumer (r14 disk lesson)
    keep_ids = _bar(
        pplb.join(F.broadcast(pb_off), "__pb")
        .crossJoin(F.broadcast(n_ppl))
        .select("doc_id", pr.alias("pr"))
        .filter(F.col("pr") <= _PPL_KEEP)
        .select("doc_id")
    )
    # both token-table consumers (classifier fit via kept_ids, LM fit
    # via keep_ids) are now materialized — the exploded cache is dead
    # weight from here; free its blocks before the dedup stages start
    # filling the same disk.
    # INVARIANT (ADVICE r14): this unpersist runs at PLAN-BUILD time
    # and is correct only because every barrier is EAGER — the
    # kept_ids and keep_ids barriers above have already consumed the
    # cache by the time control reaches here. A lazy barrier would
    # silently turn both gate stages into full re-tokenize
    # passes; refuse it here rather than degrade.
    assert exploded.storageLevel.useMemory or exploded.storageLevel.useDisk, (
        "exploded token cache was never persisted — the shared-token-"
        "pass optimization is broken"
    )
    exploded.unpersist()
    g3n = g2n.join(keep_ids, "doc_id")

    # 6: exact dedup (min-id canonical) — a NARROW window over the
    # barrier-precomputed fingerprint (dedup_ops.exact_duplicates'
    # exact shape, minus its text pass: fp is the same md5 of the
    # normalized text, computed once in the feat barrier)
    wfp = W.partitionBy("fp")
    # barriered like its text twin below: g5n/g6n/adm all build on
    # g4n, and without the cut each would re-inline the whole
    # classifier+LM subplan (driver-heap blowup — the r12 lesson,
    # re-observed on the narrow chain in r14). Rows are ~32 B, so
    # this barrier is effectively free.
    g4n = _bar(
        g3n.withColumn("__keep", F.min("doc_id").over(wfp))
        .filter(F.col("doc_id") == F.col("__keep"))
        .select("doc_id", "lang", "n_tokens", "h")
    )
    # TEXT JOIN #1 (of exactly two): the MinHash stage needs shingles,
    # so the surviving ids pull text from the g1 filter view over the
    # feat barrier. Barriered: the banded self-join would otherwise
    # recompute the entire upstream once per band side.
    g4 = _bar(
        g1.select("doc_id", "text").join(g4n, "doc_id").select(
            "doc_id", "lang", "text", "n_tokens", "h"
        )
    )

    # 7: MinHash-LSH verified near-dups — drop the larger id
    mh = dedup_ops.minhash_lsh_pairs(
        g4, "doc_id", "text", n=3, threshold=0.8, num_hashes=32, bands=8,
        portable=True,
    )
    mh_ids = mh.select(F.col("id_b").alias("doc_id")).distinct()
    g5n = g4n.join(mh_ids, "doc_id", "left_anti")

    # 8: SemDeDup verdicts from the embedding space, applied by id —
    # built concurrently with the barrier chain above (see the
    # submit at the top of this function); join the thread here, at
    # the branch's dataflow position
    verd = _fut.result()
    verd_ids = verd.filter(F.col("is_duplicate")).select(
        F.col("vec_id").alias("doc_id")
    )
    g6n = g5n.join(verd_ids, "doc_id", "left_anti")
    g6 = g4.join(mh_ids, "doc_id", "left_anti").join(  # text view (DSIR)
        verd_ids, "doc_id", "left_anti"
    )

    # 9: mixture-weighted token-budget admission (md5 order, per lang).
    # NOT a per-lang window — that sorts each language's ENTIRE corpus
    # (text column included) through one task, the serial stage the
    # r14 ×100 warm re-measure exposed as the corpus query's 4×-over-
    # funnel overhang. Two-phase distributed prefix sum instead, the
    # decomposition sample_token_budget_distributed value-certifies:
    # order-aligned buckets from the top bits of the order hash
    # (h < 2³² → 256 buckets), per-(lang, bucket) offsets through a
    # ≤256-row window, local cumsum per bucket — identical values,
    # every sort bounded to 1/256 of the corpus and fully parallel.
    budget = F.lit(0)
    for k, v in _MIX_WEIGHTS.items():
        budget = F.when(F.col("lang") == k, v).otherwise(budget)
    g6b = g6n.withColumn("__b", F.shiftright("h", 24))
    adm_off = (
        g6b.groupBy("lang", "__b")
        .agg(F.sum("n_tokens").alias("__bt"))
        .select(
            "lang",
            "__b",
            F.coalesce(
                F.sum("__bt").over(
                    W.partitionBy("lang")
                    .orderBy("__b")
                    .rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("__off"),
        )
    )
    wadm = (
        W.partitionBy("lang", "__b")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.col("__off") + F.sum("n_tokens").over(wadm)
    adm = (
        g6b.join(F.broadcast(adm_off), ["lang", "__b"])
        .withColumn("cum", cum)
        .filter(F.col("cum") - F.col("n_tokens") < budget)
        .drop("cum", "__b", "__off")
    )

    # 10: global packing + sharding — same two-phase decomposition for
    # the GLOBAL running sum and row_number (the unpartitioned window
    # form funnels the whole admitted corpus, text and all, through a
    # single sort task)
    admb = adm.withColumn("__b", F.shiftright("h", 24))
    pack_off = (
        admb.groupBy("__b")
        .agg(F.sum("n_tokens").alias("__bt"), F.count("*").alias("__bc"))
        .select(
            "__b",
            F.coalesce(
                F.sum("__bt").over(
                    W.orderBy("__b").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("__toff"),
            F.coalesce(
                F.sum("__bc").over(
                    W.orderBy("__b").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("__roff"),
        )
    )
    wg = (
        W.partitionBy("__b")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # gcum/rn are computed over NARROW rows; TEXT JOIN #2 (the last)
    # attaches the document bytes to the admitted set only after the
    # packing windows have sorted 16-byte rows, not documents
    packedn = admb.join(F.broadcast(pack_off), "__b").select(
        "doc_id",
        "n_tokens",
        (F.col("__toff") + F.sum("n_tokens").over(wg)).alias("gcum"),
        (
            F.col("__roff")
            + F.row_number().over(
                W.partitionBy("__b").orderBy("h", "doc_id")
            )
        ).alias("rn"),
    )
    packed = packedn.join(g4.select("doc_id", "text"), "doc_id").select(
        "doc_id", "n_tokens", "text", "gcum", "rn"
    )
    return {
        "feat": feat_wide.select("doc_id", "lang", "n_tokens", "h"),
        "g1": g1n, "g2": g2n, "g3": g3n, "g4": g4n, "g5": g5n, "g6": g6n,
        "adm": adm, "g1_text": g1, "g6_text": g6, "packed": packed,
    }


@register(
    "pipeline_curate_corpus",
    oracle=_MANIFEST_ORACLE,
    tags=("curation", "pipeline", "dedup", "quality", "sampling",
          "layout", "extension"),
    bench=True,
)
def pipeline_curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    *,
    checkpoint_dir: str | None = None,
    semdedup_nlist: int = 16,
) -> DataFrame:
    """The full curation pipeline's OUTPUT: the training-shard
    manifest of the surviving corpus — per 50-doc shard (deterministic
    md5 shuffle order) its doc/token counts, id range, first/last
    512-token packed bin, and an order-insensitive content checksum
    over ``doc_id:text`` that pins the final TEXT BYTES — so a
    divergence ANYWHERE upstream (fold table, redaction order, gate
    thresholds, dedup verdicts, admission cumsums) fails the hash.
    See the module docstring for the stage chain and scale notes;
    ``checkpoint_dir`` selects the cluster-safe (reliable) phase
    barrier."""
    s = _stages(
        spark, sf_dir, checkpoint_dir=checkpoint_dir,
        semdedup_nlist=semdedup_nlist,
    )
    packed = s["packed"]
    chk = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"), F.col("text")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        packed.withColumn(
            "shard_id", F.floor((F.col("rn") - 1) / _SHARD_DOCS)
        )
        .withColumn("start", F.col("gcum") - F.col("n_tokens"))
        .withColumn("chk", chk)
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.floor(F.min("start") / _BIN_TOKENS).alias("first_bin"),
            F.floor((F.max("gcum") - 1) / _BIN_TOKENS).alias("last_bin"),
            F.sum("chk").cast("long").alias("content_checksum"),
        )
    )


_DSIR_STAGE_SQL = """
    drtok AS MATERIALIZED (
        SELECT doc_id,
               (CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                % 4096) AS bucket
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM g6
        ) WHERE tok != ''
    ),
    dttok AS (
        SELECT (CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                % 4096) AS bucket
        FROM (
            SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM g6 WHERE lang = 'en'
        ) WHERE tok != ''
    ),
    drc AS (SELECT bucket, count(*) AS c_r FROM drtok GROUP BY bucket),
    dtc AS (SELECT bucket, count(*) AS c_t FROM dttok GROUP BY bucket),
    dtot AS (
        SELECT (SELECT sum(c_r) FROM drc) AS t_r,
               (SELECT sum(c_t) FROM dtc) AS t_t
    ),
    dlam AS (
        SELECT drc.bucket,
               round((ln((coalesce(dtc.c_t, 0) + 0.5) / (t.t_t + 0.5 * 4096))
                      - ln((drc.c_r + 0.5) / (t.t_r + 0.5 * 4096)))
                     * 1024) / 1024 AS lam
        FROM drc LEFT JOIN dtc USING (bucket) CROSS JOIN dtot t
    ),
    dlw AS (
        SELECT r.doc_id, sum(l.lam) AS lw
        FROM drtok r JOIN dlam l USING (bucket) GROUP BY r.doc_id
    ),
    dkeyed AS (
        SELECT doc_id, round(lw, 6) AS log_weight,
               round(round(lw, 6)
                     + round(-ln(-ln((CAST(CONCAT('0x',
                           substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                           AS BIGINT) + 1) / 281474976710657.0))
                             * 1024) / 1024, 6) AS sample_key
        FROM dlw
    )
"""


@register(
    "pipeline_curate_dsir_sample",
    oracle=f"""
    WITH {_pipeline_ctes()},
    {_DSIR_STAGE_SQL}
    SELECT doc_id, log_weight, sample_key, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (ORDER BY sample_key DESC, doc_id)
                      AS rank
        FROM dkeyed
    ) WHERE rank <= 100
    """,
    tags=("curation", "pipeline", "sampling", "ml", "extension"),
)
def pipeline_curate_dsir_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The pipeline's OTHER sampling arm (VERDICT r10 named 'DSIR or
    token-budget'; ``pipeline_curate_corpus`` runs the mixture
    budget): the gate+dedup survivors (stage g6) are DSIR-weighted
    toward the surviving 'en' slice and Gumbel-top-100 resampled —
    importance resampling composed downstream of the full transform/
    gate/dedup chain, so the λ table is fit on CURATED text, not raw
    (the ordering a real recipe uses: clean first, then match the
    target distribution). Same full-pipeline oracle discipline: the
    DuckDB mirror recomputes the entire chain plus the DSIR buckets,
    dyadic λ, exact Σλ, and deterministic Gumbel keys."""
    from ..operators.dsir import dsir_log_weights, dsir_resample_topk

    g6 = _stages(spark, sf_dir)["g6_text"]
    weights = dsir_log_weights(g6, g6.filter(F.col("lang") == "en"))
    return dsir_resample_topk(weights, k=100)


@register(
    "pipeline_curate_funnel",
    oracle=_FUNNEL_ORACLE,
    tags=("curation", "pipeline", "dedup", "quality", "sampling",
          "extension"),
)
def pipeline_curate_funnel(
    spark: SparkSession,
    sf_dir: str,
    *,
    semdedup_nlist: int = 16,
) -> DataFrame:
    """The pipeline's FUNNEL: documents and (post-normalization)
    tokens surviving after each stage — the audit row a data-curation
    run reports, and the bisection tool when the end-to-end manifest
    diverges: the first stage whose counts move is the broken one.
    Token counts are measured on the normalized+redacted text at
    EVERY stage, so no stage double-counts tokens the transform
    changed (the r10 verdict's token-double-counting concern)."""
    s = _stages(spark, sf_dir, semdedup_nlist=semdedup_nlist)
    rows = None
    for name, cte in _FUNNEL_STAGES:
        r = (
            s[cte]
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.coalesce(F.sum("n_tokens"), F.lit(0))
                .cast("long")
                .alias("n_tokens"),
            )
            .select(F.lit(name).alias("stage"), "n_docs", "n_tokens")
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows
