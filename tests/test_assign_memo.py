"""Cross-call reuse memo for kernel-bearing plans
(operators/similarity.py::_plan_key/_memo_*, VERDICT r15 item 2):
same-object reuse restores canonical-plan cache matching that the
Python-kernel closure breaks, WITHOUT ever serving a wrong or stale
DataFrame."""

import shutil

from pyspark.sql import functions as F

from crypto_etl_airflow_spark.operators.dedup import release_reuse_caches
from crypto_etl_airflow_spark.operators.similarity import (
    _nearest_centroid,
    _plan_key,
    ivf_centroids,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_memo_same_object_and_param_distinct(spark):
    release_reuse_caches()
    emb = _emb(spark)
    c16a = ivf_centroids(emb, nlist=16)
    c16b = ivf_centroids(emb, nlist=16)
    c32 = ivf_centroids(emb, nlist=32)
    assert c16a is c16b
    assert c16a is not c32
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    n16 = _nearest_centroid(v, c16a, "vec_id", "v", dim=8)
    n16b = _nearest_centroid(v, c16a, "vec_id", "v", dim=8)
    n32 = _nearest_centroid(v, c32, "vec_id", "v", dim=8)
    assert n16 is n16b
    # cents tokens keep nlist=16 vs 32 distinct even though BOTH cents
    # plans contain a kernel whose canonical string is identical
    assert n16 is not n32
    a16 = sorted((r.vec_id, r.centroid_id) for r in n16.collect())
    a32 = sorted((r.vec_id, r.centroid_id) for r in n32.collect())
    assert a16 != a32
    release_reuse_caches()
    assert ivf_centroids(_emb(spark), nlist=16) is not c16a  # cleared


def test_plan_key_refuses_in_memory_relations(spark):
    # LocalRelation canonical form prints schema but NOT data — two
    # different in-memory tables would collide (the r16 test bite)
    df = spark.createDataFrame([(1, [1.0])], "vec_id long, v array<double>")
    assert _plan_key(df) is None


def test_plan_key_refuses_arrow_group_kernels(spark):
    # applyInArrow group/cogroup nodes print FlatMapGroupsInArrow /
    # FlatMapCoGroupsInArrow — no "MapInArrow" substring — and two
    # closures print identically there, so a plan holding one (e.g.
    # pair searches at different thresholds) must never key the memo
    emb = _emb(spark)

    def first(table):
        return table

    def left(lt, rt):
        return lt

    grouped = emb.groupBy("vec_id").applyInArrow(first, schema=emb.schema)
    cogrouped = (
        emb.groupBy("vec_id")
        .cogroup(emb.groupBy("vec_id"))
        .applyInArrow(left, schema=emb.schema)
    )
    assert _plan_key(emb) is not None
    assert _plan_key(grouped) is None
    assert _plan_key(cogrouped) is None


def test_plan_key_distinguishes_paths_and_rewrites(spark, tmp_path):
    # same schema, different storage → different keys (the canonical
    # string alone prints identically for both)
    a = spark.read.parquet(f"{SF}/embeddings.parquet")
    k_src = _plan_key(a)
    p = str(tmp_path / "emb")
    a.limit(5).write.parquet(p)
    b = spark.read.parquet(p)
    k1 = _plan_key(b)
    assert k_src is not None and k1 is not None and k1 != k_src
    # rewriting the path changes the part listing → the key moves on
    # (a memoized plan over the old files is never served stale)
    shutil.rmtree(p)
    a.limit(3).write.parquet(p)
    k2 = _plan_key(spark.read.parquet(p))
    assert k2 is not None and k2 != k1


def test_probe_dim_memoized_per_plan(spark):
    from unittest.mock import patch

    from crypto_etl_airflow_spark.operators.similarity import _probe_dim

    release_reuse_caches()
    emb = _emb(spark)
    dim = _probe_dim(emb, "embedding")
    assert isinstance(dim, int) and dim > 0
    # second probe over the same plan must not run another job
    with patch.object(type(emb), "head", side_effect=AssertionError):
        assert _probe_dim(_emb(spark), "embedding") == dim
    release_reuse_caches()


def test_fast_assignment_bit_identical_to_column_form(spark):
    """The r16 BLAS candidate-selection fast path must pick the SAME
    centroid as the pure-Column argmax (`_nearest_centroid_expr`,
    the engine's bit-exactness reference) on data designed to stress
    it: near-duplicate centroids (ties → lowest id), near-tie scores,
    NaN-element vectors (routed to the sequential fallback), NULL
    vectors (lowest id)."""
    import math
    import random

    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.functions.vector import norm as _norm
    from crypto_etl_airflow_spark.operators.similarity import (
        _nearest_centroid,
        _nearest_centroid_expr,
    )

    random.seed(16)
    dim = 64

    def vec(seed):
        rng = random.Random(seed)
        return [rng.uniform(-1, 1) for _ in range(dim)]

    rows = [(i, vec(i)) for i in range(400)]
    rows += [(1000, None), (1001, [float("nan")] * dim)]
    # exact-duplicate of row 3's vector → ties with whichever
    # centroid row 3 picks must resolve identically
    rows += [(1002, vec(3))]
    # finite inputs, INFINITE intermediates (the r16 overflow-guard
    # rows): 1.4e154² overflows the norm-square, so vnorm = inf and
    # the BLAS path must route the row to the exact fold instead of
    # emitting an empty candidate mask; the 1e150 row is huge but
    # all-finite end-to-end (stays on the fast path)
    rows += [(1003, [1.4e154] + [0.0] * (dim - 1))]
    rows += [(1004, [1.0e150] * dim)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, v array<double>"
    )

    # centroids: 32 regular + one exact duplicate pair (ties) + one
    # near-duplicate pair (1e-15 apart → candidate-bound stress)
    cvecs = [vec(10_000 + i) for i in range(32)]
    cvecs.append(list(cvecs[0]))  # duplicate of centroid 0
    near = list(cvecs[1])
    near[0] = math.nextafter(near[0], 2.0)
    cvecs.append(near)
    cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cvecs)],
        "centroid_id long, c_vec array<double>",
    ).withColumn("c_norm", _norm(F.col("c_vec")))

    got = {
        r.vec_id: r.centroid_id
        for r in _nearest_centroid(corpus, cents, "vec_id", "v", dim=dim)
        .collect()
    }
    want = {
        r.vec_id: r.centroid_id
        for r in _nearest_centroid_expr(corpus, cents, "vec_id", "v")
        .collect()
    }
    assert got == want
    assert len(got) == len(rows)


def test_fp32_candidate_gemm_decision_parity(spark):
    """r17: the candidate GEMM runs in fp32 when provably safe. The
    DECISION must stay bit-identical to the Column argmax on data
    built to stress the fp32 bound: components at the subnormal
    underflow scale (fp32 products flush to 0 — covered by the ABS32
    floor), rows with norms near 1e-15, rows past the F32_MAG
    representability gate (tile falls back to the fp64 GEMM), and
    exact-duplicate and 1-ulp near-tie centroids (rows equal to them
    tie) — at dim 16 and at the real embedding widths 768 and 1536,
    where the bound scales with dim."""
    import math
    import random

    from crypto_etl_airflow_spark.functions.vector import norm as _norm
    from crypto_etl_airflow_spark.operators.similarity import (
        _nearest_centroid_expr,
    )

    for dim in (16, 768, 1536):
        random.seed(17)

        def vec(seed, scale=1.0):
            rng = random.Random(seed)
            return [rng.uniform(-1, 1) * scale for _ in range(dim)]

        rows = [(i, vec(i)) for i in range(64)]
        # fp32-underflow scale: products ~1e-30 and below
        rows += [(200 + i, vec(1000 + i, scale=1e-30)) for i in range(8)]
        # norms near 1e-15, then the same with every component but
        # the first at fp32-subnormal scale (products flush in fp32)
        tiny = 1e-15 / math.sqrt(dim / 3)
        rows += [(250 + i, vec(1500 + i, scale=tiny)) for i in range(8)]
        rows += [
            (260 + i, [1e-15 * v[0]] + [1e-40 * x for x in v[1:]])
            for i, v in enumerate(vec(1700 + i) for i in range(8))
        ]
        # past F32_MAG (1e15): the whole tile must take the fp64 GEMM
        rows += [(300 + i, vec(2000 + i, scale=1e16)) for i in range(8)]
        # near-tie stress: exact duplicate of row 0's vector
        rows += [(400, list(vec(0)))]
        corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")

        cvecs = [vec(50_000 + i) for i in range(12)]
        cvecs.append(list(cvecs[0]))  # exact duplicate → tie to lowest id
        near = list(cvecs[1])
        near[0] = math.nextafter(near[0], 2.0)  # 1-ulp near-tie
        cvecs.append(near)
        # rows ON the tied centroids: the best score ties exactly
        # (0 vs 12) or within an ulp (1 vs 13)
        corpus = corpus.unionByName(
            spark.createDataFrame(
                [(401, list(cvecs[0])), (402, list(cvecs[1]))],
                "vec_id long, v array<double>",
            )
        )
        cents = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cvecs)],
            "centroid_id long, c_vec array<double>",
        ).withColumn("c_norm", _norm(F.col("c_vec")))

        want = {
            r.vec_id: r.centroid_id
            for r in _nearest_centroid_expr(
                corpus, cents, "vec_id", "v"
            ).collect()
        }
        got = {
            r.vec_id: r.centroid_id
            for r in _nearest_centroid(
                corpus, cents, "vec_id", "v", dim=dim
            ).collect()
        }
        assert got == want, f"dim={dim}"
        assert got[401] == 0, f"dim={dim}"


def test_fp32_disabled_for_out_of_range_centroids(spark):
    """A centroid set outside the fp32 representable gate (tiny
    norms) must disable the fp32 path entirely — decisions still
    match the Column form through the fp64 GEMM / sequential fold."""
    from crypto_etl_airflow_spark.functions.vector import norm as _norm
    from crypto_etl_airflow_spark.operators.similarity import (
        _nearest_centroid_expr,
    )

    import random

    random.seed(18)
    dim = 8
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(dim)]) for i in range(32)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    # norms ~1e-20 < 1/F32_MAG → use32 must be False
    cvecs = [
        [random.uniform(-1, 1) * 1e-20 for _ in range(dim)] for _ in range(4)
    ]
    cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cvecs)],
        "centroid_id long, c_vec array<double>",
    ).withColumn("c_norm", _norm(F.col("c_vec")))
    got = {
        r.vec_id: r.centroid_id
        for r in _nearest_centroid(corpus, cents, "vec_id", "v", dim=dim)
        .collect()
    }
    want = {
        r.vec_id: r.centroid_id
        for r in _nearest_centroid_expr(corpus, cents, "vec_id", "v").collect()
    }
    assert got == want
