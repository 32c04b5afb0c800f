"""Incremental semantic dedup against the persisted IVF index
(operators/semdedup.py::incremental_semantic_pairs): frozen-quantizer
equivalence with the batch-restricted full pair search, idempotent
wave accretion with arrival-order invariance, and the empty-batch
guard — the same contracts the four signature stores pin
(tests/test_dedup_store.py)."""

from pyspark.sql import functions as F

from crypto_etl_airflow_spark.operators import ann_index
from crypto_etl_airflow_spark.operators.semdedup import (
    _nearest_centroid,
    _pairs_from_assigned,
    incremental_semantic_pairs,
)
from crypto_etl_airflow_spark.functions.vector import norm as _norm

NLIST = 4
THRESHOLD = 0.4


def _vecs(spark, n=40, dim=8):
    """Deterministic fixture: a few exact-duplicate directions plus
    spread-out fillers (no RNG — index-derived components)."""
    rows = []
    for i in range(n):
        base = i % 10  # ten directions, each repeated 4x -> near-dups
        v = [float((base * (j + 3)) % 7 - 3) + 0.01 * j for j in range(dim)]
        if all(abs(x) < 1e-9 for x in v):
            v[0] = 1.0
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _frozen_full_pairs(spark, path, corpus):
    """Reference: assign the WHOLE corpus with the index's frozen
    centroids and run the batch operator's pair search."""
    cents = ann_index.read_ivf_centroids(spark, path)
    assigned = _nearest_centroid(
        corpus.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        cents,
        "vec_id",
        "v",
    ).withColumn("nrm", _norm(F.col("v")))
    return _pairs_from_assigned(assigned, "vec_id", THRESHOLD)


def _pairset(df):
    return {(r.centroid_id, r.id_a, r.id_b, r.cosine_sim) for r in df.collect()}


def test_incremental_matches_frozen_full_restricted(spark, tmp_path):
    path = str(tmp_path / "idx")
    corpus = _vecs(spark)
    store = corpus.filter(F.col("vec_id") % 4 != 0)
    batch = corpus.filter(F.col("vec_id") % 4 == 0)
    ann_index.build_ivf_index(store, path, nlist=NLIST)

    got = _pairset(incremental_semantic_pairs(batch, path, threshold=THRESHOLD))
    batch_ids = {r.vec_id for r in batch.select("vec_id").collect()}
    want = {
        p
        for p in _pairset(_frozen_full_pairs(spark, path, corpus))
        if p[1] in batch_ids or p[2] in batch_ids
    }
    assert got == want and got  # non-trivial fixture


def test_wave_accretion_is_order_invariant(spark, tmp_path):
    """Ingesting the batch as waves (dedup each wave, then add it)
    accumulates the same pair set in any arrival order, and equals the
    one-shot batch run plus nothing (store×store never regenerated)."""
    corpus = _vecs(spark)
    store = corpus.filter(F.col("vec_id") % 4 != 0)
    wave_a = corpus.filter(F.col("vec_id") % 8 == 0)
    wave_b = corpus.filter((F.col("vec_id") % 4 == 0) & (F.col("vec_id") % 8 != 0))

    def run(waves, path):
        ann_index.build_ivf_index(store, path, nlist=NLIST)
        acc = set()
        for w in waves:
            acc |= _pairset(
                incremental_semantic_pairs(w, path, threshold=THRESHOLD)
            )
            ann_index.add_to_ivf_index(w, path)
        return acc

    ab = run([wave_a, wave_b], str(tmp_path / "ab"))
    ba = run([wave_b, wave_a], str(tmp_path / "ba"))
    assert ab == ba and ab

    # one-shot run over the merged batch sees the identical pair set
    one = str(tmp_path / "one")
    ann_index.build_ivf_index(store, one, nlist=NLIST)
    batch = corpus.filter(F.col("vec_id") % 4 == 0)
    assert _pairset(
        incremental_semantic_pairs(batch, one, threshold=THRESHOLD)
    ) == ab


def test_empty_batch_yields_no_pairs(spark, tmp_path):
    path = str(tmp_path / "idx")
    corpus = _vecs(spark)
    ann_index.build_ivf_index(corpus, path, nlist=NLIST)
    empty = corpus.filter(F.col("vec_id") < 0)
    out = incremental_semantic_pairs(empty, path, threshold=THRESHOLD)
    assert out.count() == 0


def test_cogroup_kernel_bit_identical_to_join_form(spark, tmp_path):
    """The cogroup Arrow kernel (store×batch normalized to
    least/greatest, plus the batch×batch upper triangle) must emit
    exactly the join form's pairs, cosines compared as raw double
    bits. Reference: the legacy unrolled join over store ∪ batch
    under the index's frozen quantizer, restricted to batch-involving
    pairs — both legs of the incremental search."""
    import math

    from .test_semdedup import _legacy_pairs

    path = str(tmp_path / "idx")
    corpus = _vecs(spark, n=24)
    store = corpus.filter(F.col("vec_id") % 3 != 0)
    batch = corpus.filter(F.col("vec_id") % 3 == 0)
    ann_index.build_ivf_index(store, path, nlist=NLIST)

    out = incremental_semantic_pairs(batch, path, threshold=THRESHOLD)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan, plan[:2000]
    got = sorted(map(tuple, out.collect()))
    cents = ann_index.read_ivf_centroids(spark, path)
    assigned = _nearest_centroid(
        corpus.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        cents,
        "vec_id",
        "v",
        dim=8,
    ).withColumn("nrm", _norm(F.col("v")))
    batch_ids = {r.vec_id for r in batch.select("vec_id").collect()}
    want = sorted(
        tuple(r)
        for r in _legacy_pairs(assigned, "vec_id", THRESHOLD, 8).collect()
        if r.id_a in batch_ids or r.id_b in batch_ids
    )
    assert [r[:3] for r in got] == [r[:3] for r in want]
    # store×batch pairs present, not just the batch×batch triangle
    assert any((r[1] in batch_ids) != (r[2] in batch_ids) for r in got)
    for g, w in zip(got, want):
        assert not math.isnan(g[3]) and g[3].hex() == w[3].hex()
