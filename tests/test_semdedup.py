"""SemDeDup-style semantic dedup (operators/semdedup.py): cluster
containment, pair symmetry/canonicalization, and the keep policy."""

import math

from crypto_etl_airflow_spark.operators.semdedup import (
    assign_clusters,
    semdedup_keep,
    semdedup_pairs,
)


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _unit(angle):
    return [math.cos(angle), math.sin(angle), 0.0, 0.0]


def test_near_identical_vectors_pair_up(spark):
    # two tight groups far apart; nlist=2 puts each group in its own
    # cluster; within-group cosines ~1, across ~0
    rows = (
        [(i, _unit(0.02 * i)) for i in range(3)]  # group A near angle 0
        + [(10 + i, _unit(math.pi / 2 + 0.02 * i)) for i in range(3)]  # group B
    )
    pairs = semdedup_pairs(
        _emb(spark, rows), nlist=2, threshold=0.99
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert got == {(0, 1), (0, 2), (1, 2), (10, 11), (10, 12), (11, 12)}
    assert all(r.cosine_sim >= 0.99 for r in pairs)


def test_pairs_never_cross_clusters(spark):
    rows = [(i, _unit(0.02 * i)) for i in range(3)] + [
        (10 + i, _unit(math.pi / 2 + 0.02 * i)) for i in range(3)
    ]
    df = _emb(spark, rows)
    assigned = {r.vec_id: r.centroid_id for r in assign_clusters(df, nlist=2).collect()}
    for r in semdedup_pairs(df, nlist=2, threshold=0.0).collect():
        assert assigned[r.id_a] == assigned[r.id_b]


def test_keep_policy_keeps_lowest_id(spark):
    rows = [(i, _unit(0.02 * i)) for i in range(3)] + [
        (10 + i, _unit(math.pi / 2 + 0.02 * i)) for i in range(3)
    ]
    verdicts = {
        r.vec_id: r.is_duplicate
        for r in semdedup_keep(_emb(spark, rows), nlist=2, threshold=0.99).collect()
    }
    assert verdicts == {
        0: False, 1: True, 2: True, 10: False, 11: True, 12: True
    }
    assert len(verdicts) == 6  # every vector gets a verdict


def test_dissimilar_corpus_all_kept(spark):
    # near-orthogonal vectors: no pairs at a high threshold
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = _emb(spark, rows)
    assert semdedup_pairs(df, nlist=2, threshold=0.9).count() == 0
    kept = semdedup_keep(df, nlist=2, threshold=0.9)
    assert kept.filter("is_duplicate").count() == 0


def _legacy_pairs(assigned, id_col, threshold, dim):
    """The exact JVM join form the Arrow pair kernel replaced
    (dot_unrolled + Spark round + >= filter) — kept here as the
    bit-parity reference for _pair_score_kernel. Past 64 dims the
    unrolled chain overflows Spark's SQL parser and Column converter,
    so the interpreted ``dot`` HOF — the same left-to-right fold,
    identical on exact-``dim`` vectors — stands in."""
    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.functions.vector import dot, dot_unrolled

    a = assigned.select(
        "centroid_id", F.col(id_col).alias("id_a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = assigned.select(
        "centroid_id", F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    d = dot_unrolled("va", "vb", dim) if dim <= 64 else dot("va", "vb")
    sim = F.round(d / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("centroid_id", "id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def test_pair_kernel_bit_identical_to_join_form(spark):
    """The Arrow pair kernel must reproduce the legacy join form
    BIT-exactly on adversarial inputs: NULL vectors and NULL-element
    vectors (NULL norm → no pairs), short vectors (< dim → no
    pairs), long vectors (scored on the first dim components), and
    sims landing at/near the 6-decimal rounding boundary (Spark
    rounds doubles via BigDecimal.valueOf = SHORTEST repr, HALF_UP —
    the kernel's Decimal(repr(x)) path)."""
    import math

    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.functions.vector import norm as _norm
    from crypto_etl_airflow_spark.operators.semdedup import (
        _pairs_from_assigned,
    )

    dim = 4
    rows = [
        # cluster 1: a tight pair + a near-threshold geometry
        (1, [1.0, 0.0, 0.0, 0.0], 1),
        (2, [1.0, 1e-7, 0.0, 0.0], 1),
        (3, [0.7, 0.3, 0.1, 0.05], 1),
        (4, [0.700001, 0.299999, 0.100001, 0.05], 1),
        # adversarial rows (same cluster so they meet everything)
        (5, None, 1),                      # NULL vector
        (6, [1.0, None, 0.0, 0.0], 1),     # NULL element → NULL norm
        (8, [1.0, 0.0, 0.0, 0.0, 9.9], 1),  # longer than dim
        # cluster 2: must never pair with cluster 1
        (9, [0.0, 1.0, 0.0, 0.0], 2),
        (10, [0.0, 1.0, 1e-8, 0.0], 2),
    ]
    short_row = [(7, [1.0, 0.0], 1)]  # shorter than dim
    schema = "vec_id long, v array<double>, centroid_id int"
    assigned = spark.createDataFrame(rows, schema).withColumn(
        "nrm", _norm(F.col("v"))
    )
    # legacy runs WITHOUT the short vector: ANSI element_at past the
    # array end THROWS in the join form — the kernel instead excludes
    # the row (a malformed vector must not kill a 100 TB job)
    with_short = spark.createDataFrame(rows + short_row, schema).withColumn(
        "nrm", _norm(F.col("v"))
    )

    for thr in (0.0, 0.4, 0.99, 0.9999995):
        legacy = sorted(
            map(tuple, _legacy_pairs(assigned, "vec_id", thr, dim).collect())
        )
        kernel = sorted(
            map(
                tuple,
                _pairs_from_assigned(with_short, "vec_id", thr, dim=dim)
                .collect(),
            )
        )
        assert kernel == legacy, f"threshold={thr}"
        assert not any(7 in (r[1], r[2]) for r in kernel)
        # bitwise, not approximate: compare raw double bits
        for krow, lrow in zip(kernel, legacy):
            ks, ls = krow[3], lrow[3]
            assert math.isnan(ks) == math.isnan(ls)
            if not math.isnan(ks):
                assert ks.hex() == ls.hex()


def _wide_cluster_rows(dim, thr, seed):
    """Clusters 4-6 for the wide-dim parity cases: pairs within 1e-6
    of ``thr`` (a base direction x and vectors at cosθ = thr + k·1e-7,
    k = −10..10, which also lands on the 6-decimal HALF_UP boundary),
    then the same geometry at norm ~1e-15 with every other component
    at the fp32 product-underflow scale (2.6e-23² < 2⁻¹⁵⁰)."""
    import random

    rng = random.Random(seed)
    x = [rng.gauss(0, 1) for _ in range(dim)]
    nx = math.sqrt(sum(t * t for t in x))
    x = [t / nx for t in x]
    z = [rng.gauss(0, 1) for _ in range(dim)]
    xz = sum(a * b for a, b in zip(x, z))
    z = [b - xz * a for a, b in zip(x, z)]
    nz = math.sqrt(sum(t * t for t in z))
    z = [t / nz for t in z]
    rows = [(1000, x, 4)]
    tiny = [2.6e-23] * (dim - 2)
    rows.append((2000, [1.01e-15, 0.0] + tiny, 5))
    for k in range(-10, 11):
        c = thr + k * 1e-7
        sn = math.sqrt(1.0 - c * c)
        rows.append((1011 + k, [c * a + sn * b for a, b in zip(x, z)], 4))
        rows.append((2011 + k, [1.01e-15 * c, 1.01e-15 * sn] + tiny, 5))
    # cluster 6: one large product first, then dim − 2 products just
    # under half an fp32 ulp of the running sum — a GEMM's fp32
    # accumulator swamps them, so its score sits ~1e-6 BELOW the
    # exact cosine, tuned to land just above the HALF_UP boundary
    # thr − 5e-7 (emitted)
    t = math.sqrt(0.45 * 2.0**-25)
    a = [1.0, 0.0] + [t] * (dim - 2)
    rows.append((3000, a, 6))

    def cos(c0):
        b = [c0, math.sqrt(0.84)] + [t] * (dim - 2)
        dot = na2 = nb2 = 0.0
        for p, q in zip(a, b):
            dot, na2, nb2 = dot + p * q, na2 + p * p, nb2 + q * q
        return dot / (math.sqrt(na2) * math.sqrt(nb2)), b

    lo, hi = 0.3, 0.5
    for _ in range(60):
        mid = (lo + hi) / 2
        lo, hi = (mid, hi) if cos(mid)[0] < thr - 4.5e-7 else (lo, mid)
    rows.append((3001, cos(hi)[1], 6))
    return rows


def test_pair_kernel_fp32_parity_on_pathological_magnitudes(spark):
    """r17 fp32 candidate pass: emissions must stay bit-identical to
    the legacy join form on data built to break the fp32 bound — zero
    norms (0/0 → NaN sims, emitted under NaN-largest >=),
    fp32-subnormal component scales (products flush to 0 in fp32),
    magnitudes past the F32_MAG gate (the group takes the all-pairs
    exact fold) and near-threshold geometry — at dim 4 and at the
    real embedding widths 768 and 1536, where the bound scales with
    dim (pairs within 1e-6 of the threshold, norms near 1e-15)."""
    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.functions.vector import norm as _norm
    from crypto_etl_airflow_spark.operators.semdedup import (
        _pairs_from_assigned,
    )

    thr = 0.4
    base = [
        # cluster 1: normal near-threshold geometry
        (1, [1.0, 0.0, 0.0, 0.0], 1),
        (2, [1.0, 1e-7, 0.0, 0.0], 1),
        (3, [0.0, 0.0, 0.0, 0.0], 1),        # zero norm → NaN sims
        # cluster 2: fp32-underflow scale (products ~1e-60)
        (10, [1e-30, 1e-30, 0.0, 0.0], 2),
        (11, [1e-30, 1.0000001e-30, 0.0, 0.0], 2),
        # cluster 3: past F32_MAG → whole group takes the fp64 fold
        (20, [1e16, 0.0, 0.0, 0.0], 3),
        (21, [1e16, 1e9, 0.0, 0.0], 3),
    ]
    schema = "vec_id long, v array<double>, centroid_id int"
    for dim in (4, 768, 1536):
        rows = [(i, v + [0.0] * (dim - 4), c) for i, v, c in base]
        if dim > 4:
            rows += _wide_cluster_rows(dim, thr, seed=dim)
        assigned = spark.createDataFrame(rows, schema).withColumn(
            "nrm", _norm(F.col("v"))
        )
        got = sorted(
            map(
                tuple,
                _pairs_from_assigned(assigned, "vec_id", thr, dim=dim)
                .collect(),
            )
        )
        # the legacy join form CRASHES on the zero-norm row (ANSI
        # DIVIDE_BY_ZERO on dot/(0·0)) — tolerating it with NaN sims
        # is the kernel's documented robustness deviation, so the
        # legacy comparison runs without row 3
        legacy_in = spark.createDataFrame(
            [r for r in rows if r[0] != 3], schema
        ).withColumn("nrm", _norm(F.col("v")))
        legacy = sorted(
            map(tuple, _legacy_pairs(legacy_in, "vec_id", thr, dim).collect())
        )
        kernel_cmp = [r for r in got if 3 not in (r[1], r[2])]
        assert len(kernel_cmp) == len(legacy), f"dim={dim}"
        for krow, lrow in zip(kernel_cmp, legacy):
            assert krow[:3] == lrow[:3], f"dim={dim}"
            ks, ls = krow[3], lrow[3]
            assert math.isnan(ks) == math.isnan(ls)
            if not math.isnan(ks):
                assert ks.hex() == ls.hex(), f"dim={dim}"
        if dim > 4:
            # both wide clusters straddle the threshold: some of the
            # k = −10..10 pairs are emitted and some are not
            for c, x in ((4, 1000), (5, 2000)):
                hit = {r[2] for r in got if r[0] == c and r[1] == x}
                assert 0 < len(hit) < 21, f"dim={dim} cluster={c}"
            assert any(r[1:3] == (3000, 3001) for r in got), f"dim={dim}"
        # the zero-norm row must appear in a kept pair: the kernel
        # emits its 0/0 sims (NaN under NaN-largest >=, surfaced as
        # NULL) instead of crashing like the ANSI join form
        assert any(3 in (r[1], r[2]) and r[3] is None for r in got)


def test_pair_kernel_warns_on_skewed_cluster(monkeypatch):
    """VERDICT r16 item 5: a giant cluster (an atomic applyInArrow
    task AQE cannot split) must be detected at runtime. The warning
    fires above SKEW_WARN_ROWS and NEVER changes emitted pairs."""
    import warnings

    import pyarrow as pa
    import pytest
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from crypto_etl_airflow_spark.operators import semdedup

    schema = StructType(
        [
            StructField("centroid_id", IntegerType()),
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine_sim", DoubleType()),
        ]
    )
    monkeypatch.setattr(semdedup, "SKEW_WARN_ROWS", 4)
    kern = semdedup._pair_score_kernel(2, 0.99, schema, cogroup=False)
    big = pa.table(
        {
            "centroid_id": pa.array([1] * 6, type=pa.int32()),
            "__id": pa.array(range(6), type=pa.int64()),
            "v": [[1.0, 0.0]] * 3 + [[0.0, 1.0]] * 3,
            "nrm": [1.0] * 6,
        }
    )
    with pytest.warns(RuntimeWarning, match="grow nlist"):
        warned = kern(big)
    monkeypatch.setattr(semdedup, "SKEW_WARN_ROWS", 32768)
    kern2 = semdedup._pair_score_kernel(2, 0.99, schema, cogroup=False)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # no warning below the bound
        quiet = kern2(big)
    # identical emissions with and without the warning, typed exactly
    # as the declared schema (applyInArrow rejects any mismatch)
    assert warned.to_pylist() == quiet.to_pylist()
    assert warned.schema.field("centroid_id").type == pa.int32()
    assert len(warned) == 6  # 3 collinear pairs per direction group
