"""Similarity search: brute-force exactness properties and LSH recall."""

from pyspark.sql import functions as F

from crypto_etl_airflow_spark.operators import similarity
from crypto_etl_airflow_spark.operators.similarity import _nearest_centroid
from crypto_etl_airflow_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def _emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_bruteforce_topk_shape_and_selfexclusion(spark):
    emb = _emb(spark)
    probes = emb.filter(F.col("vec_id") < 10)
    out = similarity.cosine_topk_bruteforce(probes, emb, k=5)
    rows = out.collect()
    assert len(rows) == 10 * 5
    assert all(r.probe_id != r.neighbor_id for r in rows)
    assert all(1 <= r.rank <= 5 for r in rows)
    # ranks ordered by descending similarity within each probe
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append(r)
    for group in by_probe.values():
        group.sort(key=lambda r: r.rank)
        sims = [r.cosine_sim for r in group]
        assert sims == sorted(sims, reverse=True)


def test_identical_vector_has_cosine_one(spark):
    emb = _emb(spark).limit(1)
    clone = emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    out = similarity.cosine_topk_bruteforce(emb, emb.unionByName(clone), k=1).collect()
    assert out[0].cosine_sim == 1.0


def test_lsh_recall_vs_bruteforce(spark):
    """Bucketed ANN: of the true top-5 per probe, a 4-plane LSH must
    recover a reasonable fraction (same-bucket probability for the
    nearest neighbors is high)."""
    emb = _emb(spark)
    probes = emb.filter(F.col("vec_id") < 50)
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.cosine_topk_bruteforce(probes, emb, k=5).collect()
    }
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.cosine_topk_lsh(
            probes, emb, k=5, num_planes=4, num_tables=8, dim=64
        ).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"LSH top-k recall {recall:.2f} too low"
    # and the LSH results it does return must be real cosine scores:
    # every approx neighbor of a probe is in that probe's bucket, so
    # scores are exact for those pairs (verified by construction)


def test_lsh_bucket_is_deterministic(spark):
    emb = _emb(spark).limit(20).select(
        "vec_id", F.col("embedding").alias("vec")
    )
    def buckets():
        return {
            (r.vec_id, r.t): r.bucket
            for r in similarity.rhp_bucket_rows(
                emb, num_planes=4, num_tables=8, dim=64
            ).collect()
        }
    b1, b2 = buckets(), buckets()
    assert b1 == b2
    assert all(0 <= v < 16 for v in b1.values())
    # one row per (vector, table)
    assert len(b1) == 20 * 8


def test_scaled_lsh_collapses_candidate_volume(spark):
    """planes=12/tables=16 is the scale configuration: a random pair
    collides with p ≈ 1-(1-2^-12)^16 ≈ 0.4%, vs ~40% for the
    planes=4/tables=8 demonstrator. Assert both ends on real data."""
    emb = _emb(spark).select("vec_id", F.col("embedding").alias("vec"))
    n = emb.count()
    total_pairs = n * (n - 1) // 2

    def cand_fraction(num_planes: int, num_tables: int) -> float:
        b = similarity.rhp_bucket_rows(
            emb, num_planes=num_planes, num_tables=num_tables, dim=64
        ).select("t", "bucket", "vec_id")
        pairs = (
            b.alias("a")
            .join(b.alias("b"), ["t", "bucket"])
            .filter(F.col("a.vec_id") < F.col("b.vec_id"))
            .select("a.vec_id", "b.vec_id")
            .distinct()
            .count()
        )
        return pairs / total_pairs

    demo = cand_fraction(4, 8)
    scaled = cand_fraction(12, 16)
    assert demo > 0.2, f"planes=4 demonstrator keeps ~40% of pairs, got {demo:.3f}"
    assert scaled < 0.05, f"scaled config must collapse candidates, got {scaled:.3f}"
    assert scaled < demo / 10


def test_scaled_lsh_recall_on_planted_neardups(spark):
    """At the true near-dup operating point (cosine ≥ ~0.9, the 100 TB
    dedup regime) the scaled planes=12/tables=16 config must keep
    recall high: per-plane agreement for angle θ≈0.45 rad is ~0.86,
    per-table p≈0.86^12≈0.16, over 16 tables recall ≈ 1-(1-p)^16 ≈
    0.94. Plant perturbed copies and check."""
    import math
    import random

    rng = random.Random(20260813)
    dim = 64
    rows = []
    true_pairs = set()
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i * 2, [float(x) for x in base]))
        # small perturbation => cosine ~0.97
        pert = [x + rng.gauss(0, 0.18) for x in base]
        rows.append((i * 2 + 1, [float(x) for x in pert]))
        a = sum(x * y for x, y in zip(base, pert))
        na = math.sqrt(sum(x * x for x in base))
        nb = math.sqrt(sum(x * x for x in pert))
        if a / (na * nb) >= 0.9:
            true_pairs.add((i * 2, i * 2 + 1))
    vecs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    found = {
        (r.id_a, r.id_b)
        for r in similarity.neardup_pairs_cosine_lsh(
            vecs, threshold=0.9, num_planes=12, num_tables=16, dim=dim
        ).collect()
    }
    assert true_pairs, "fixture generation produced no true near-dups"
    recall = len(found & true_pairs) / len(true_pairs)
    assert recall >= 0.85, f"scaled-LSH recall {recall:.2f} below floor"


def test_ivf_recall_vs_bruteforce(spark):
    from crypto_etl_airflow_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )
    from crypto_etl_airflow_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    probes = emb.filter(F.col("vec_id") < 30)
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(probes, emb, k=5).collect()
    }
    approx_rows = cosine_topk_ivf(probes, emb, k=5, nlist=16, nprobe=4).collect()
    approx = {(r.probe_id, r.neighbor_id) for r in approx_rows}
    # every returned score must be a real cosine (spot check determinism)
    assert len(approx_rows) <= 30 * 5
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_deterministic(spark):
    from crypto_etl_airflow_spark.operators.similarity import cosine_topk_ivf
    from crypto_etl_airflow_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    a = sorted(map(tuple, cosine_topk_ivf(probes, emb, k=3).collect()))
    b = sorted(map(tuple, cosine_topk_ivf(probes, emb, k=3).collect()))
    assert a == b


def test_neardup_lsh_is_subset_with_recall(spark):
    from crypto_etl_airflow_spark.operators.similarity import (
        neardup_pairs_cosine,
        neardup_pairs_cosine_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in neardup_pairs_cosine(emb, threshold=0.45).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in neardup_pairs_cosine_lsh(emb, threshold=0.45).collect()
    }
    assert lsh <= exact  # scored candidates: no false positives
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.5  # multi-table recall floor


def test_dot_unrolled_bit_identical_to_hof_dot(spark):
    """dot_unrolled must reproduce dot's left-to-right IEEE fold
    EXACTLY — the nearest-centroid assignment relies on bit-identical
    sims between the two passes and against the HOF form."""
    import random

    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.functions.vector import dot, dot_unrolled

    rng = random.Random(13)
    rows = [
        ([rng.uniform(-2, 2) for _ in range(64)],
         [rng.uniform(-2, 2) for _ in range(64)])
        for _ in range(50)
    ]
    df = spark.createDataFrame(rows, "a: array<double>, b: array<double>")
    out = df.select(
        dot("a", "b").alias("hof"), dot_unrolled("a", "b", 64).alias("unr")
    ).collect()
    for r in out:
        assert r.hof == r.unr  # exact double equality, not approx
    # the Column-input construction path must agree with the SQL-string
    # fast path term for term
    out2 = df.select(
        dot_unrolled(F.col("a"), F.col("b"), 64).alias("col_form"),
        dot_unrolled("a", "b", 64).alias("str_form"),
    ).collect()
    for r in out2:
        assert r.col_form == r.str_form


def test_probe_dim_guards_null_and_empty(spark):
    """ADVICE r14: an unguarded head(1) probe turned a NULL first
    vector into dim=-1 (F.size legacy sizeOfNull) and silently scored
    every vector 0.0. The guarded probe must return None for NULL /
    empty samples and the true dim otherwise."""
    from crypto_etl_airflow_spark.operators.similarity import _probe_dim

    null_first = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0])], "id int, v array<double>"
    )
    assert _probe_dim(null_first.orderBy("id"), "v") is None
    empty_first = spark.createDataFrame(
        [(1, []), (2, [1.0, 2.0])], "id int, v array<double>"
    )
    assert _probe_dim(empty_first.orderBy("id"), "v") is None
    good = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "id int, v array<double>")
    assert _probe_dim(good, "v") == 3
    assert _probe_dim(good.filter("id < 0"), "v") is None  # empty table


def test_nearest_centroid_total_over_null_vectors(spark):
    """ADVICE r14: the two-pass argmax must emit one verdict row per
    input vector even when every similarity is NULL (NULL embedding)
    — a vanished row would silently read as 'not duplicate' in
    SemDeDup. NULL sims coalesce to -Inf, so the all-NULL vector
    resolves to the lowest centroid id."""
    from crypto_etl_airflow_spark.operators.similarity import (
        _nearest_centroid,
        _norm,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id int, v array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])],
        "centroid_id int, c_vec array<double>",
    ).withColumn("c_norm", _norm(F.col("c_vec")))
    out = {
        r.vec_id: r.centroid_id
        for r in _nearest_centroid(vecs, cents, "vec_id", "v").collect()
    }
    assert set(out) == {1, 2, 3}  # total: no silent drops
    assert out[1] == 10 and out[3] == 20
    assert out[2] == 10  # all-(-Inf) ties resolve to the lowest id


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
