"""Incremental MinHash signature store (operators/dedup_store.py):
roundtrip + idempotent accretion, and equivalence of the incremental
batch join with the full-corpus recompute restricted to
batch-involving pairs."""

import pytest

from crypto_etl_airflow_spark.operators import dedup_store
from crypto_etl_airflow_spark.operators.dedup import minhash_lsh_pairs

DOCS = [
    # family A: three near-identical long docs
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),
    # unrelated docs
    (4, "completely different content about oceanic thermal circulation patterns"),
    (5, "yet another unrelated document describing alpine glacier dynamics"),
    # family B: identical pair split across store/batch
    (6, "training data pipelines deduplicate documents before tokenization runs"),
    (8, "training data pipelines deduplicate documents before tokenization runs"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_store_write_is_idempotent_per_id(spark, tmp_path):
    path = str(tmp_path / "sigs")
    docs = _df(spark, DOCS)
    n1 = dedup_store.write_minhash_store(docs, path)
    assert n1 == len(DOCS)
    # re-registering the same docs appends nothing (retry-safe)
    assert dedup_store.write_minhash_store(docs, path) == 0
    store = dedup_store.read_minhash_store(spark, path)
    assert store.count() == len(DOCS)
    assert {c for c in store.columns if c.startswith("mh_")} == {
        f"mh_{i}" for i in range(32)
    }


def test_incremental_exact_matches_full_recompute(spark, tmp_path):
    """Incremental(batch vs store, verify=exact) == full-corpus
    minhash_lsh_pairs restricted to pairs involving the batch."""
    path = str(tmp_path / "sigs")
    docs = _df(spark, DOCS)
    batch_ids = {2, 8}
    store_docs = docs.filter(~docs.doc_id.isin(*batch_ids))
    batch = docs.filter(docs.doc_id.isin(*batch_ids))
    dedup_store.write_minhash_store(store_docs, path)
    store = dedup_store.read_minhash_store(spark, path)

    got = {
        (r.id_a, r.id_b, r.score)  # exact verify shares the estimate
        for r in dedup_store.incremental_minhash_pairs(  # path's 'score'
            batch, store, threshold=0.5, verify="exact", corpus_text=docs
        ).collect()
    }
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    want = {p for p in full if p[0] in batch_ids or p[1] in batch_ids}
    assert got == want
    assert got, "fixture must produce at least one batch-involving pair"
    # and no store×store pair leaks through
    assert all(p[0] in batch_ids or p[1] in batch_ids for p in got)


def test_incremental_estimate_scores_identical_and_disjoint(spark, tmp_path):
    path = str(tmp_path / "sigs")
    docs = _df(spark, DOCS)
    store_docs = docs.filter(docs.doc_id != 8)
    batch = docs.filter(docs.doc_id == 8)  # exact copy of doc 6
    dedup_store.write_minhash_store(store_docs, path)
    store = dedup_store.read_minhash_store(spark, path)
    got = {
        (r.id_a, r.id_b): r.score
        for r in dedup_store.incremental_minhash_pairs(
            batch, store, threshold=0.5, verify="estimate"
        ).collect()
    }
    assert got[(6, 8)] == 1.0  # identical doc: all 32 permutations agree
    # disjoint-content docs never reach the threshold
    assert all(a == 6 or b == 6 for (a, b) in got)


def test_incremental_validates_arguments(spark, tmp_path):
    docs = _df(spark, DOCS[:2])
    with pytest.raises(ValueError, match="estimate.*exact|exact.*estimate"):
        dedup_store.incremental_minhash_pairs(
            docs, docs, verify="bogus"
        )
    with pytest.raises(ValueError, match="corpus_text"):
        dedup_store.incremental_minhash_pairs(
            docs, docs, verify="exact"
        )


def test_store_refuses_mixed_hash_families(spark, tmp_path):
    import pytest

    from crypto_etl_airflow_spark.operators import dedup_store

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "sigs")
    dedup_store.write_minhash_store(docs, path, portable=True)
    with pytest.raises(ValueError, match="refusing to append"):
        dedup_store.write_minhash_store(docs, path, portable=False)
    # same params append stays idempotent and silent
    dedup_store.write_minhash_store(docs, path, portable=True)


# ---------------------------------------------------------------------------
# exact-fingerprint store (VERDICT r8 item 2)
# ---------------------------------------------------------------------------

FP_DOCS = [
    (1, "alpha beta gamma"),
    (2, "ALPHA   beta GAMMA"),  # normalizes equal to doc 1
    (3, "something else entirely"),
    (4, "alpha beta gamma"),  # equal to 1 and 2
    (5, "unique content five"),
]


def test_fingerprint_store_roundtrip_and_idempotence(spark, tmp_path):
    path = str(tmp_path / "fps")
    docs = _df(spark, FP_DOCS)
    assert dedup_store.write_fingerprint_store(docs, path) == len(FP_DOCS)
    assert dedup_store.write_fingerprint_store(docs, path) == 0  # retry-safe
    store = dedup_store.read_fingerprint_store(spark, path)
    assert sorted(store.columns) == ["doc_id", "fingerprint"]
    assert store.count() == len(FP_DOCS)


def test_incremental_fingerprint_matches_batch_only(spark, tmp_path):
    path = str(tmp_path / "fps")
    docs = _df(spark, FP_DOCS)
    store_docs = docs.filter(docs.doc_id < 4)
    batch = docs.filter(docs.doc_id >= 4)
    dedup_store.write_fingerprint_store(store_docs, path)
    store = dedup_store.read_fingerprint_store(spark, path)
    got = {
        (r.id_a, r.id_b)
        for r in dedup_store.incremental_fingerprint_matches(
            batch, store
        ).collect()
    }
    # doc 4 matches store docs 1 and 2 (normalized-equal); the 1-2
    # store×store pair is NEVER emitted
    assert got == {(1, 4), (2, 4)}


def test_fingerprint_store_order_invariance(spark, tmp_path):
    """The accumulated pair set over all ingest waves is the same for
    every arrival order — the contract the streaming form relies on."""
    import itertools
    import os

    from crypto_etl_airflow_spark.functions.text import fingerprint

    docs = _df(spark, FP_DOCS)
    waves = [[1, 2], [3, 4], [5]]
    results = []
    for wi, perm in enumerate(itertools.permutations(waves)):
        path = str(tmp_path / f"fps_{wi}")
        pairs = set()
        for ids in perm:
            batch = docs.filter(docs.doc_id.isin(*ids))
            if os.path.exists(path):
                store = dedup_store.read_fingerprint_store(spark, path)
            else:
                store = docs.limit(0).select(
                    "doc_id", fingerprint(docs.text).alias("fingerprint")
                )
            pairs |= {
                (r.id_a, r.id_b)
                for r in dedup_store.incremental_fingerprint_matches(
                    batch, store
                ).collect()
            }
            dedup_store.write_fingerprint_store(batch, path)
        results.append(pairs)
    assert all(p == results[0] for p in results)
    assert results[0] == {(1, 2), (1, 4), (2, 4)}


# ---------------------------------------------------------------------------
# SimHash store (VERDICT r8 item 2)
# ---------------------------------------------------------------------------


def test_simhash_store_roundtrip_and_sidecar_guard(spark, tmp_path):
    path = str(tmp_path / "sims")
    docs = _df(spark, DOCS)
    assert dedup_store.write_simhash_store(docs, path, bits=64) == len(DOCS)
    assert dedup_store.write_simhash_store(docs, path, bits=64) == 0
    store = dedup_store.read_simhash_store(spark, path)
    assert sorted(store.columns) == ["doc_id", "simhash"]
    # mixed bit families are refused: 32-bit hashes never agree with
    # 64-bit ones, an append would silently poison Hamming distances
    with pytest.raises(ValueError, match="refusing to append"):
        dedup_store.write_simhash_store(docs, path, bits=32)


def test_incremental_simhash_matches_full_recompute(spark, tmp_path):
    """Incremental(batch vs store) == full-corpus
    simhash_neardup_pairs restricted to pairs involving the batch."""
    from crypto_etl_airflow_spark.operators.dedup import simhash_neardup_pairs

    path = str(tmp_path / "sims")
    docs = _df(spark, DOCS)
    batch_ids = {2, 8}
    store_docs = docs.filter(~docs.doc_id.isin(*batch_ids))
    batch = docs.filter(docs.doc_id.isin(*batch_ids))
    dedup_store.write_simhash_store(store_docs, path)
    store = dedup_store.read_simhash_store(spark, path)
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup_store.incremental_simhash_pairs(
            batch, store, max_hamming=3
        ).collect()
    }
    full = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_neardup_pairs(
            docs, "doc_id", "text", max_hamming=3
        ).collect()
    }
    want = {p for p in full if p[0] in batch_ids or p[1] in batch_ids}
    assert got == want
    assert got, "fixture must produce at least one batch-involving pair"
    assert all(p[0] in batch_ids or p[1] in batch_ids for p in got)


def test_simhash_store_order_invariance(spark, tmp_path):
    """Accumulated simhash pair set is arrival-order-invariant."""
    import itertools
    import os

    from crypto_etl_airflow_spark.operators.dedup import simhash64

    docs = _df(spark, DOCS)
    waves = [[1, 4], [2, 6], [3, 5, 8]]
    results = []
    for wi, perm in enumerate(itertools.permutations(waves)):
        path = str(tmp_path / f"sims_{wi}")
        pairs = set()
        for ids in perm:
            batch = docs.filter(docs.doc_id.isin(*ids))
            if os.path.exists(path):
                store = dedup_store.read_simhash_store(spark, path)
            else:
                store = simhash64(docs.limit(0), "doc_id", "text")
            pairs |= {
                (r.id_a, r.id_b, r.hamming)
                for r in dedup_store.incremental_simhash_pairs(
                    batch, store, max_hamming=3
                ).collect()
            }
            dedup_store.write_simhash_store(batch, path)
        results.append(pairs)
    assert all(p == results[0] for p in results)
    assert results[0], "fixture must produce pairs"


def test_exact_verify_uses_score_column(spark, tmp_path):
    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.operators import dedup_store

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "sigs")
    dedup_store.write_minhash_store(docs.filter(F.col("doc_id") == 1), path)
    store = dedup_store.read_minhash_store(spark, path)
    out = dedup_store.incremental_minhash_pairs(
        docs.filter(F.col("doc_id") == 2), store,
        threshold=0.8, verify="exact", corpus_text=docs,
    )
    assert out.columns == ["id_a", "id_b", "score"]  # same contract as estimate
    assert out.first().score == 1.0


# ---------------------------------------------------------------------------
# hashed-shingle store / incremental containment (VERDICT r8 item 2)
# ---------------------------------------------------------------------------

CONT_DOCS = [
    # 10 is an excerpt (prefix) of 11; 12 is an exact copy of 11
    (10, "alpha beta gamma delta epsilon zeta"),
    (11, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi"),
    (12, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi"),
    (13, "totally unrelated content about something else entirely here"),
]


def test_shingle_store_roundtrip_idempotence_and_sidecar(spark, tmp_path):
    path = str(tmp_path / "shingles")
    docs = _df(spark, CONT_DOCS)
    n1 = dedup_store.write_shingle_store(docs, path, n=3)
    assert n1 > len(CONT_DOCS)  # multi-row per doc
    assert dedup_store.write_shingle_store(docs, path, n=3) == 0  # retry-safe
    store = dedup_store.read_shingle_store(spark, path)
    assert sorted(store.columns) == ["doc_id", "sh"]
    with pytest.raises(ValueError, match="refusing to append"):
        dedup_store.write_shingle_store(docs, path, n=5)  # width pinned


def test_incremental_containment_matches_full_recompute(spark, tmp_path):
    """Incremental(batch vs store) == full-corpus containment_pairs
    restricted to pairs involving the batch."""
    from crypto_etl_airflow_spark.operators.dedup import containment_pairs

    path = str(tmp_path / "shingles")
    docs = _df(spark, CONT_DOCS)
    batch_ids = {10, 12}
    store_docs = docs.filter(~docs.doc_id.isin(*batch_ids))
    batch = docs.filter(docs.doc_id.isin(*batch_ids))
    dedup_store.write_shingle_store(store_docs, path, n=3)
    store = dedup_store.read_shingle_store(spark, path)
    got = {
        (r.contained_id, r.container_id, r.containment)
        for r in dedup_store.incremental_containment_pairs(
            batch, store, n=3, threshold=0.9
        ).collect()
    }
    full = {
        (r.contained_id, r.container_id, r.containment)
        for r in containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.9
        ).collect()
    }
    want = {
        p for p in full if p[0] in batch_ids or p[1] in batch_ids
    }
    assert got == want
    # the excerpt and the exact copy must be found against the store
    assert (10, 11, 1.0) in got and (11, 12, 1.0) in got and (12, 11, 1.0) in got
    # batch×batch leg: excerpt 10 is contained in its batch-mate 12
    assert (10, 12, 1.0) in got
    assert all(p[0] in batch_ids or p[1] in batch_ids for p in got)


def test_shingle_store_order_invariance(spark, tmp_path):
    """Accumulated containment pair set is arrival-order-invariant."""
    import itertools
    import os

    from crypto_etl_airflow_spark.operators.dedup import _hashed_shingles

    docs = _df(spark, CONT_DOCS)
    waves = [[10], [11, 13], [12]]
    results = []
    for wi, perm in enumerate(itertools.permutations(waves)):
        path = str(tmp_path / f"sh_{wi}")
        pairs = set()
        for ids in perm:
            batch = docs.filter(docs.doc_id.isin(*ids))
            if os.path.exists(path):
                store = dedup_store.read_shingle_store(spark, path)
            else:
                store = _hashed_shingles(docs.limit(0), "doc_id", "text", 3)
            pairs |= {
                (r.contained_id, r.container_id, r.containment)
                for r in dedup_store.incremental_containment_pairs(
                    batch, store, n=3, threshold=0.9
                ).collect()
            }
            dedup_store.write_shingle_store(batch, path, n=3)
        results.append(pairs)
    assert all(p == results[0] for p in results)
    assert (10, 11, 1.0) in results[0]


def test_shingle_df_sidecar_matches_recompute(spark, tmp_path):
    """The maintained doc-frequency sidecar must equal a from-scratch
    aggregation of the store's shingle rows after ANY append sequence,
    and a retried batch must not double-count."""
    path = str(tmp_path / "shingles")
    docs = _df(spark, CONT_DOCS)
    for ids in ([10], [11, 13], [12]):
        dedup_store.write_shingle_store(
            docs.filter(docs.doc_id.isin(*ids)), path, n=3
        )
    # retry the middle wave: appends nothing, merges nothing
    dedup_store.write_shingle_store(
        docs.filter(docs.doc_id.isin(11, 13)), path, n=3
    )
    maintained = {
        (r.sh, r.df)
        for r in dedup_store.read_shingle_df(spark, path).collect()
    }
    from pyspark.sql import functions as F

    recomputed = {
        (r.sh, r.df)
        for r in dedup_store.read_shingle_store(spark, path)
        .groupBy("sh")
        .agg(F.count("*").cast("long").alias("df"))
        .collect()
    }
    assert maintained == recomputed
    assert maintained  # non-trivial


def test_incremental_containment_df_sidecar_path_equal(spark, tmp_path):
    """df_counts (sidecar) and recompute paths must produce identical
    pairs — the property that licenses the no-store-reaggregation
    fast path."""
    path = str(tmp_path / "shingles")
    docs = _df(spark, CONT_DOCS)
    batch_ids = {10, 12}
    store_docs = docs.filter(~docs.doc_id.isin(*batch_ids))
    batch = docs.filter(docs.doc_id.isin(*batch_ids))
    dedup_store.write_shingle_store(store_docs, path, n=3)
    store = dedup_store.read_shingle_store(spark, path)
    kw = dict(n=3, threshold=0.5, max_doc_freq=2)  # cap actually bites
    a = {
        tuple(r)
        for r in dedup_store.incremental_containment_pairs(
            batch, store, **kw
        ).collect()
    }
    b = {
        tuple(r)
        for r in dedup_store.incremental_containment_pairs(
            batch, store,
            df_counts=dedup_store.read_shingle_df(spark, path), **kw
        ).collect()
    }
    assert a == b
    assert a  # the cap at 2 must still leave pairs


# ---------------------------------------------------------------------------
# r10: crash-window healing (the _meta single-commit redesign) and the
# delete/maintenance family
# ---------------------------------------------------------------------------


def _sidecar_df(spark, path):
    return {
        (r.sh, r.df)
        for r in dedup_store.read_shingle_df(spark, path).collect()
    }


def _recomputed_df(spark, path):
    from pyspark.sql import functions as F

    return {
        (r.sh, r.df)
        for r in dedup_store.read_shingle_store(spark, path)
        .groupBy("sh")
        .agg(F.count("*").cast("long").alias("df"))
        .collect()
    }


def test_shingle_crash_between_append_and_commit_heals(spark, tmp_path):
    """The ADVICE r9 window: rows appended, _meta commit never ran.
    The retry must converge to exactly the committed-write state —
    rows, membership, AND doc-frequency counts (the old design
    silently undercounted _df forever)."""
    path = str(tmp_path / "shingles")
    docs = _df(spark, CONT_DOCS)
    dedup_store.write_shingle_store(docs.filter(docs.doc_id < 12), path, n=3)

    # simulate the crash: append the second batch's rows WITHOUT
    # committing _meta (exactly what a dead process leaves behind)
    from crypto_etl_airflow_spark.operators.dedup import _hashed_shingles

    batch = docs.filter(docs.doc_id >= 12)
    _hashed_shingles(batch, "doc_id", "text", 3).write.mode("append").parquet(
        dedup_store._rows_path(path)
    )
    # a read between crash and retry must NOT see the orphan rows
    seen_ids = {
        r.doc_id
        for r in dedup_store.read_shingle_store(spark, path)
        .select("doc_id").distinct().collect()
    }
    assert seen_ids == {10, 11}

    # the retried batch registers cleanly and the sidecar is exact
    n = dedup_store.write_shingle_store(batch, path, n=3)
    assert n > 0
    assert _sidecar_df(spark, path) == _recomputed_df(spark, path)
    seen_ids = {
        r.doc_id
        for r in dedup_store.read_shingle_store(spark, path)
        .select("doc_id").distinct().collect()
    }
    assert seen_ids == {10, 11, 12, 13}


def test_shingle_delete_counts_on_its_barrier_job(spark, tmp_path):
    """The shingle-store delete takes its victim count from the
    barrier's own job (``counted_barrier``), not from a second
    ``count()`` over the checkpoint: a delete runs 29 jobs and its
    no-op retry 8, where a separate count made them 31 and 9."""
    path = str(tmp_path / "shingles")
    docs = _df(spark, CONT_DOCS)
    dedup_store.write_shingle_store(docs, path, n=3)
    victims = docs.filter(docs.doc_id.isin(11, 13)).select("doc_id")
    sc = spark.sparkContext
    got = []
    for i in range(2):
        group = f"shingle-delete-{i}"
        sc.setJobGroup(group, "shingle delete")
        try:
            n = dedup_store.delete_from_shingle_store(spark, path, victims)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got.append((n, len(sc.statusTracker().getJobIdsForGroup(group))))
    assert got == [(2, 29), (0, 8)], got


def test_shingle_delete_decrements_df_and_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "shingles")
    docs = _df(spark, CONT_DOCS)
    dedup_store.write_shingle_store(docs, path, n=3)
    victims = docs.filter(docs.doc_id.isin(11, 13)).select("doc_id")
    assert dedup_store.delete_from_shingle_store(spark, path, victims) == 2
    # retry removes nothing
    assert dedup_store.delete_from_shingle_store(spark, path, victims) == 0
    seen_ids = {
        r.doc_id
        for r in dedup_store.read_shingle_store(spark, path)
        .select("doc_id").distinct().collect()
    }
    assert seen_ids == {10, 12}
    # the decremented sidecar equals a from-scratch recompute
    assert _sidecar_df(spark, path) == _recomputed_df(spark, path)
    # and a deleted id can re-register (delete really deregisters)
    assert dedup_store.write_shingle_store(
        docs.filter(docs.doc_id == 11), path, n=3
    ) > 0
    assert _sidecar_df(spark, path) == _recomputed_df(spark, path)


def test_shingle_delete_crash_window_heals(spark, tmp_path):
    """Delete commits _meta FIRST; simulate dying before the rows
    rewrite by calling the commit path directly, then verify a plain
    read heals the orphan rows."""
    path = str(tmp_path / "shingles")
    docs = _df(spark, CONT_DOCS)
    dedup_store.write_shingle_store(docs, path, n=3)
    from pyspark.sql import functions as F

    ids0, df0, n_rows0 = dedup_store._read_meta(spark, path)
    rows = spark.read.parquet(dedup_store._rows_path(path))
    victim_rows = rows.filter(F.col("doc_id") == 13).count()
    # commit the delete's _meta without touching rows (the crash)
    dedup_store._commit_meta(
        spark,
        path,
        ids0.filter(F.col("doc_id") != 13),
        df0.join(
            rows.filter(F.col("doc_id") == 13)
            .groupBy("sh").agg(F.count("*").cast("long").alias("ddf")),
            "sh", "left",
        ).select(
            "sh",
            (F.col("df") - F.coalesce("ddf", F.lit(0))).cast("long").alias("df"),
        ).filter(F.col("df") > 0),
        n_rows0 - victim_rows,
    )
    seen_ids = {
        r.doc_id
        for r in dedup_store.read_shingle_store(spark, path)
        .select("doc_id").distinct().collect()
    }
    assert seen_ids == {10, 11, 12}  # heal removed 13's orphan rows
    assert _sidecar_df(spark, path) == _recomputed_df(spark, path)


def test_fingerprint_store_delete(spark, tmp_path):
    path = str(tmp_path / "fps")
    docs = _df(spark, DOCS)
    dedup_store.write_fingerprint_store(docs, path)
    victims = docs.filter(docs.doc_id == 6).select("doc_id")
    assert dedup_store.delete_from_fingerprint_store(spark, path, victims) == 1
    assert dedup_store.delete_from_fingerprint_store(spark, path, victims) == 0
    store = dedup_store.read_fingerprint_store(spark, path)
    assert store.filter(store.doc_id == 6).count() == 0
    # 8 (6's identical twin) no longer matches anything in the store
    batch = _df(spark, [(100, DOCS[5][1])])
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup_store.incremental_fingerprint_matches(
            batch, store
        ).collect()
    }
    assert pairs == {(8, 100)}
    # the regime sidecar survived the swap: re-register is accepted
    assert dedup_store.write_fingerprint_store(
        docs.filter(docs.doc_id == 6), path
    ) == 1


def test_minhash_and_simhash_store_delete(spark, tmp_path):
    docs = _df(spark, DOCS)
    mh_path = str(tmp_path / "mh")
    dedup_store.write_minhash_store(docs, mh_path)
    victims = docs.filter(docs.doc_id.isin(1, 2)).select("doc_id")
    assert dedup_store.delete_from_minhash_store(spark, mh_path, victims) == 2
    left = {r.doc_id for r in dedup_store.read_minhash_store(spark, mh_path).collect()}
    assert left == {3, 4, 5, 6, 8}
    # sidecar guard survives: a different param family is still refused
    with pytest.raises(ValueError, match="refusing"):
        dedup_store.write_minhash_store(docs, mh_path, num_hashes=16)

    sh_path = str(tmp_path / "sh")
    dedup_store.write_simhash_store(docs, sh_path, bits=32)
    assert dedup_store.delete_from_simhash_store(
        spark, sh_path, docs.filter(docs.doc_id == 4).select("doc_id")
    ) == 1
    left = {r.doc_id for r in dedup_store.read_simhash_store(spark, sh_path).collect()}
    assert left == {1, 2, 3, 5, 6, 8}
