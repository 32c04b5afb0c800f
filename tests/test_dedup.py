"""Dedup operators: exact correctness on constructed dups, and
MinHash-LSH / SimHash recall against the exact n-gram Jaccard pairs."""

import ast
from pathlib import Path

from pyspark.sql import functions as F

from crypto_etl_airflow_spark.operators import dedup
from crypto_etl_airflow_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


def test_exact_duplicates_flags_injected_copies(spark):
    docs = _docs(spark).select("doc_id", "text")
    injected = docs.unionAll(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 10_000).alias("doc_id"), "text"
        )
    )
    out = dedup.exact_duplicates(injected, "doc_id", "text")
    dups = out.filter("is_duplicate").collect()
    # every injected copy (and only those) is flagged; originals kept
    assert {r.doc_id for r in dups} == {
        r.doc_id + 10_000 for r in docs.filter("doc_id % 10 = 0").collect()
    }
    assert all(r.keep_id == r.doc_id - 10_000 for r in dups)


def test_exact_duplicates_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, " HELLO\tWORLD ")],
        "doc_id long, text string",
    )
    out = dedup.exact_duplicates(df, "doc_id", "text")
    assert out.filter("is_duplicate").count() == 2
    assert out.filter("group_size = 3").count() == 3


def test_minhash_lsh_recall_vs_exact(spark):
    """LSH(32 hashes, 8 bands) must recover ≥90% of the true
    Jaccard≥0.8 pairs, and every reported pair must be true (the
    candidates are verified with exact Jaccard, so precision is 1)."""
    docs = _docs(spark)
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text", 3, 0.8).collect()
    }
    assert exact, "fixture should contain near-dup pairs"
    assert lsh <= exact  # verified candidates: no false positives
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9 ({len(lsh)}/{len(exact)})"


def test_simhash_is_deterministic_and_near_dups_have_small_hamming(spark):
    docs = _docs(spark)
    s1 = {r[0]: r[1] for r in dedup.simhash64(docs, "doc_id", "text").collect()}
    s2 = {r[0]: r[1] for r in dedup.simhash64(docs, "doc_id", "text").collect()}
    assert s1 == s2  # reproducible across runs (no RNG state)

    # identical texts must collide exactly (hamming 0)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_neardup_pairs(df, "doc_id", "text", max_hamming=3).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_word_shingles_short_doc_is_empty(spark):
    df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    assert dedup.word_shingles(df, "doc_id", "text", n=3).count() == 0


def test_benchmark_overlap_flags_copied_docs(spark):
    from crypto_etl_airflow_spark.operators.dedup import benchmark_overlap

    bench = spark.createDataFrame(
        [(100, "the secret eval answer is forty two exactly")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the secret eval answer is forty two exactly"),  # verbatim copy
            (2, "a completely different document about weather patterns today"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in benchmark_overlap(corpus, bench, "doc_id", "text").collect()}
    assert out[1].contaminated and out[1].overlap_ratio == 1.0
    assert not out[2].contaminated and out[2].n_overlap == 0


def test_minhash_portable_mode_recall_vs_exact(spark):
    """The md5-portable hash mode (the one the DuckDB oracle
    certifies) must meet the same recall bar as the xxhash64
    production mode — different hash family, same banding math."""
    docs = _docs(spark)
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", 3, 0.8, portable=True
        ).collect()
    }
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"portable recall {recall:.2f} < 0.9"


def test_minhash_xxhash_and_portable_agree_on_fixture(spark):
    """The production (xxhash64) and portable (md5) hash families run
    the identical banding + exact-Jaccard-verify pipeline; on the
    fixture corpus both recover the same verified pair set (candidate
    generation can differ per family, but the verify step makes any
    difference a pure recall difference — and at 32 hashes / 8 bands
    both clear every true pair here). This is the value anchor for the
    rows-only `dedup_minhash_lsh_xxhash` bench query."""
    docs = _docs(spark)
    prod = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", 3, 0.8, portable=False
        ).collect()
    }
    portable = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", 3, 0.8, portable=True
        ).collect()
    }
    assert prod == portable


def test_reuse_handles_bounded_and_released(spark):
    """_REUSE_HANDLES is bounded at _REUSE_MAX (oldest evicted, its
    blocks unpersisted, the DataFrame still computable from lineage)
    and release_reuse_caches() drains it completely — a session that
    never releases cannot accumulate cache blocks without bound
    (ADVICE r4)."""
    dedup.release_reuse_caches()  # start clean
    dfs = [dedup._reuse(spark.range(i + 1)) for i in range(dedup._REUSE_MAX + 4)]
    assert len(dedup._REUSE_HANDLES) == dedup._REUSE_MAX
    # the 4 oldest were evicted: unpersisted but still computable
    for old in dfs[:4]:
        assert not old.storageLevel.useMemory
        assert old.count() >= 1
    assert dfs[-1].storageLevel.useMemory  # newest still cached
    released = dedup.release_reuse_caches()
    assert released == dedup._REUSE_MAX
    assert not dedup._REUSE_HANDLES
    assert dedup.release_reuse_caches() == 0  # idempotent


def _persist_callers(node, fn="<module>"):
    """Names of the innermost functions under ``node`` that call
    ``.persist(`` or ``.cache()``."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _persist_callers(child, child.name)
            continue
        if (
            isinstance(child, ast.Call)
            and isinstance(child.func, ast.Attribute)
            and child.func.attr in ("persist", "cache")
        ):
            yield fn
        yield from _persist_callers(child, fn)


def test_only_reuse_and_split_persist():
    """The storage level is chosen in one place: no engine module
    calls ``.persist(`` or ``.cache()`` except ``dedup._reuse`` and
    ``sources/files._split``."""
    pkg = Path(dedup.__file__).resolve().parents[1]
    owners = {
        f"{path.relative_to(pkg).as_posix()}:{fn}"
        for path in pkg.rglob("*.py")
        for fn in _persist_callers(ast.parse(path.read_text(), str(path)))
    }
    assert owners == {"operators/dedup.py:_reuse", "sources/files.py:_split"}


def test_shingle_reuse_point_keeps_lineage(spark):
    """The multi-consumer shingle set is persisted (MEMORY_ONLY),
    NOT localCheckpoint'd: cached blocks keep their lineage, so an
    executor lost mid-query recomputes instead of failing the job at
    cluster scale (VERDICT r2 #2). Plan shows an InMemoryTableScan
    (persist) and no checkpoint-RDD scan."""
    from crypto_etl_airflow_spark.operators.dedup import ngram_jaccard_pairs
    from crypto_etl_airflow_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert "ExistingRDD" not in plan  # the old localCheckpoint shape


def test_containment_flags_excerpt_not_symmetric(spark):
    """A 4-token excerpt of a 12-token doc: excerpt⊂doc has
    containment 1.0 (flagged); doc⊂excerpt is far below threshold
    (absent). An exact duplicate pair is flagged in BOTH directions."""
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    rows = [
        (1, base),
        (2, "w1 w2 w3 w4"),  # excerpt: 2 shingles, both in doc 1
        (3, "z1 z2 z3 z4 z5"),
        (4, "z1 z2 z3 z4 z5"),  # exact dup of 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.contained_id, r.container_id): r.containment
        for r in dedup.containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.9
        ).collect()
    }
    assert got[(2, 1)] == 1.0
    assert (1, 2) not in got  # 2/10 shingles — not contained
    assert got[(3, 4)] == 1.0 and got[(4, 3)] == 1.0
    assert set(got) == {(2, 1), (3, 4), (4, 3)}


def test_lsh_prefilter_recall_on_fixture_corpus(spark):
    """prefilter='lsh' (r13 candidate-volume lever): output must be a
    SUBSET of the exact query's pairs with identical jaccard values
    (never approximate scores), and on the fixture corpus — whose
    true pairs are near-identical (j → 1, band-miss prob → 0) — it
    must recover EVERY exact pair."""
    from crypto_etl_airflow_spark.operators.dedup import ngram_jaccard_pairs
    from crypto_etl_airflow_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.8, max_doc_freq=50
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.8, max_doc_freq=50,
            prefilter="lsh", portable=True,
        ).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]  # exact jaccard, same capped universe
    assert set(lsh) == set(exact), "fixture true pairs are j≈1 — full recall expected"
    assert exact  # non-vacuous


def test_lsh_prefilter_rejects_unknown_mode(spark):
    import pytest

    from crypto_etl_airflow_spark.operators.dedup import ngram_jaccard_pairs
    from crypto_etl_airflow_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    with pytest.raises(ValueError, match="unknown prefilter"):
        ngram_jaccard_pairs(docs, "doc_id", "text", prefilter="bogus")
