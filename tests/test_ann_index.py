"""Persisted IVF index (operators/ann_index.py): build/add/query
roundtrip equality with the batch operator, idempotent add, frozen
quantizer, partition layout, params guard."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from crypto_etl_airflow_spark.operators import ann_index
from crypto_etl_airflow_spark.operators.similarity import cosine_topk_ivf

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_index_query_equals_batch_operator(spark, emb, tmp_path):
    """Built on the FULL corpus, the persisted index must answer
    exactly like the one-shot operator (same quantizer, same lists)."""
    path = str(tmp_path / "idx")
    ann_index.build_ivf_index(emb, path, nlist=8)
    probes = emb.filter(F.col("vec_id") < 20)
    got = sorted(
        tuple(r)
        for r in ann_index.query_ivf_index(
            probes, path, k=3, nprobe=2
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in cosine_topk_ivf(probes, emb, k=3, nlist=8, nprobe=2).collect()
    )
    assert got == want and got


def test_lists_are_partitioned_by_centroid(spark, emb, tmp_path):
    path = str(tmp_path / "idx")
    ann_index.build_ivf_index(emb, path, nlist=8)
    parts = glob.glob(f"{path}/lists/centroid_id=*")
    assert len(parts) >= 2  # physically co-located inverted lists
    # every corpus vector is in exactly one list
    n = ann_index.read_ivf_lists(spark, path).count()
    assert n == emb.count()


def test_add_is_idempotent_and_quantizer_frozen(spark, emb, tmp_path):
    path = str(tmp_path / "idx")
    store = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    ann_index.build_ivf_index(store, path, nlist=8)
    cents_before = sorted(
        tuple(r) for r in ann_index.read_ivf_centroids(spark, path).collect()
    )
    n1 = ann_index.add_to_ivf_index(batch, path)
    assert n1 == batch.count()
    assert ann_index.add_to_ivf_index(batch, path) == 0  # retry-safe
    # add never retrains: centroids byte-identical
    cents_after = sorted(
        tuple(r) for r in ann_index.read_ivf_centroids(spark, path).collect()
    )
    assert cents_before == cents_after
    assert ann_index.read_ivf_lists(spark, path).count() == emb.count()
    # added vectors landed in their frozen-quantizer-nearest list:
    # querying an added vector as its own probe finds it impossible
    # (self excluded) but its exact duplicates/neighbors still rank
    out = ann_index.query_ivf_index(
        emb.filter(F.col("vec_id") < 10), path, k=3, nprobe=2
    )
    assert out.count() > 0
    assert out.filter(F.col("probe_id") == F.col("neighbor_id")).count() == 0


def test_index_params_guard(spark, emb, tmp_path):
    path = str(tmp_path / "idx")
    ann_index.build_ivf_index(emb, path, nlist=8)
    with pytest.raises(ValueError, match="refusing to mix"):
        ann_index.build_ivf_index(emb, path, nlist=16)


def test_query_plan_prunes_list_partitions(spark, emb, tmp_path):
    """The lists scan must carry a dynamic-partition-pruning filter on
    centroid_id — the property that makes per-query reads
    ~nprobe/nlist of the index instead of a full scan."""
    path = str(tmp_path / "idx")
    ann_index.build_ivf_index(emb, path, nlist=8)
    probes = emb.filter(F.col("vec_id") < 5)
    out = ann_index.query_ivf_index(probes, path, k=3, nprobe=2)
    plan = out._jdf.queryExecution().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_compact_preserves_layout_and_results(spark, emb, tmp_path):
    """Compaction must collapse per-add file accretion to one file per
    inverted list WITHOUT flattening the partition layout or changing
    query answers."""
    from crypto_etl_airflow_spark.operators.compact import (
        parquet_file_count,
    )

    path = str(tmp_path / "idx")
    ann_index.build_ivf_index(emb.filter(F.col("vec_id") % 4 == 1), path,
                              nlist=8)
    for r in (2, 3, 0):
        ann_index.add_to_ivf_index(emb.filter(F.col("vec_id") % 4 == r), path)
    probes = emb.filter(F.col("vec_id") < 10)
    before = sorted(
        tuple(r)
        for r in ann_index.query_ivf_index(probes, path, k=3, nprobe=2).collect()
    )
    n_before = parquet_file_count(f"{path}/lists")
    n_after = ann_index.compact_ivf_lists(spark, path)
    assert n_after < n_before  # the per-add accretion is gone
    parts = glob.glob(f"{path}/lists/centroid_id=*")
    assert parts  # layout preserved -> partition pruning still works
    assert all(
        len(glob.glob(f"{p}/*.parquet")) == 1 for p in parts
    )  # one file per inverted list
    after = sorted(
        tuple(r)
        for r in ann_index.query_ivf_index(probes, path, k=3, nprobe=2).collect()
    )
    assert after == before


def test_delete_rewrites_only_affected_partitions(spark, emb, tmp_path):
    """delete == build(train)+add(batch minus deleted) under the SAME
    frozen quantizer; untouched inverted-list partitions keep their
    files byte-for-byte; a retried delete removes nothing."""
    train = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    # small doomed set so SOME of the 8 list partitions stay untouched
    doomed = batch.filter(F.col("vec_id") % 200 == 0).select("vec_id")

    path = str(tmp_path / "idx")
    ann_index.build_ivf_index(train, path, nlist=8)
    ann_index.add_to_ivf_index(batch, path)

    # partitions that contain no doomed id, with their file listings
    lists = ann_index.read_ivf_lists(spark, path)
    doomed_ids = {r.vec_id for r in doomed.collect()}
    hit_cids = {
        r.centroid_id
        for r in lists.filter(F.col("neighbor_id").isin(doomed_ids))
        .select("centroid_id")
        .distinct()
        .collect()
    }
    untouched = {
        p: sorted(os.listdir(p))
        for p in glob.glob(f"{path}/lists/centroid_id=*")
        if int(p.rsplit("=", 1)[1]) not in hit_cids
    }
    assert untouched  # fixture must leave some partitions alone

    removed = ann_index.delete_from_ivf_index(spark, path, doomed)
    assert removed == len(doomed_ids)
    assert ann_index.delete_from_ivf_index(spark, path, doomed) == 0

    for p, files in untouched.items():
        assert sorted(os.listdir(p)) == files  # byte-for-byte untouched

    # reference: same frozen quantizer, batch minus the deleted ids
    ref = str(tmp_path / "ref")
    ann_index.build_ivf_index(train, ref, nlist=8)
    ann_index.add_to_ivf_index(
        batch.join(doomed, "vec_id", "left_anti"), ref
    )
    probes = emb.filter(F.col("vec_id") < 10)
    got = sorted(
        tuple(r)
        for r in ann_index.query_ivf_index(probes, path, k=3, nprobe=2).collect()
    )
    want = sorted(
        tuple(r)
        for r in ann_index.query_ivf_index(probes, ref, k=3, nprobe=2).collect()
    )
    assert got == want
    # deleted ids are really gone from the lists
    remaining = {
        r.neighbor_id
        for r in ann_index.read_ivf_lists(spark, path)
        .select("neighbor_id")
        .collect()
    }
    assert not (remaining & doomed_ids)


def test_upsert_replaces_changed_vectors(spark, emb, tmp_path):
    """Re-embedded vectors must REPLACE their old entries (add alone
    would drop them via the idempotence anti-join); untouched ids
    keep their original entries; retry converges."""
    path = str(tmp_path / "idx")
    train = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    ann_index.build_ivf_index(train, path, nlist=8)
    ann_index.add_to_ivf_index(batch, path)

    # re-embed: negate a slice of the batch (valid, distinct vectors)
    reemb = batch.filter(F.col("vec_id") % 8 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    n_reemb = reemb.count()
    removed, added = ann_index.upsert_ivf_index(reemb, path)
    assert removed == n_reemb and added == n_reemb
    # retry: same batch again -> same result (delete + re-add)
    removed2, added2 = ann_index.upsert_ivf_index(reemb, path)
    assert removed2 == n_reemb and added2 == n_reemb

    lists = ann_index.read_ivf_lists(spark, path)
    stored = {
        r.neighbor_id: tuple(r.c_v)
        for r in lists.filter(F.col("neighbor_id") % 8 == 0).collect()
    }
    fresh = {
        r.vec_id: tuple(float(x) for x in r.embedding)
        for r in reemb.collect()
    }
    assert stored == fresh  # new values, not the originals
    # an untouched id still carries its original embedding
    keep = {
        r.neighbor_id
        for r in lists.filter(
            (F.col("neighbor_id") % 4 == 0) & (F.col("neighbor_id") % 8 != 0)
        ).collect()
    }
    assert keep  # fixture sanity


def test_dim_guard_refuses_mismatched_vectors(spark, emb, tmp_path):
    """ADVICE r9: a batch with a different embedding dimension would
    produce NULL zip-dot similarities — silent mis-assignment on add,
    silently dropped candidates on query. Both must refuse loudly."""
    path = str(tmp_path / "idx")
    ann_index.build_ivf_index(emb, path, nlist=8)
    short = emb.withColumn("embedding", F.slice("embedding", 1, 8))
    with pytest.raises(ValueError, match="refusing to add"):
        ann_index.add_to_ivf_index(short.filter(F.col("vec_id") < 5), path)
    with pytest.raises(ValueError, match="refusing to query"):
        ann_index.query_ivf_index(short.filter(F.col("vec_id") < 5), path)
    # upsert goes through the same add-path guard
    with pytest.raises(ValueError, match="refusing to add"):
        ann_index.upsert_ivf_index(short.filter(F.col("vec_id") < 5), path)


def test_dim_guard_empty_built_index_skips(spark, emb, tmp_path):
    """An empty-built index records dim=null: the guard stays out of
    the way (there are no centroids, so adds assign nothing anyway —
    rebuild is the only route to a quantizer)."""
    path = str(tmp_path / "idx")
    ann_index.build_ivf_index(emb.filter(F.col("vec_id") < 0), path, nlist=4)
    short = emb.withColumn("embedding", F.slice("embedding", 1, 8))
    assert ann_index.add_to_ivf_index(
        short.filter(F.col("vec_id") < 10), path
    ) == 0  # no quantizer -> nothing assignable, but no crash either


def test_ivf_recall_floor_vs_exact(spark, tmp_path):
    """Retrieval-quality pin (VERDICT r9 item 3): recall@5 of the
    persisted index vs brute-force ground truth on the sf0.01
    fixture. The whole pipeline is deterministic, so these are fixed
    numbers, pinned with a small safety margin below the measured
    values (0.680 at the certified nlist=16/nprobe=4 shape, 0.848 at
    nprobe=8 — the full grid and the scale trend live in SCALE.md
    r10). Also pins monotonicity: more probes never lose recall."""
    from crypto_etl_airflow_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 50)
    exact = {}
    for r in cosine_topk_bruteforce(probes, emb, k=5).collect():
        exact.setdefault(r.probe_id, set()).add(r.neighbor_id)

    path = str(tmp_path / "idx")
    ann_index.build_ivf_index(emb, path, nlist=16)

    def recall(nprobe):
        approx = {}
        for r in ann_index.query_ivf_index(
            probes, path, k=5, nprobe=nprobe
        ).collect():
            approx.setdefault(r.probe_id, set()).add(r.neighbor_id)
        return sum(
            len(exact[p] & approx.get(p, set())) / len(exact[p])
            for p in exact
        ) / len(exact)

    r4, r8 = recall(4), recall(8)
    assert r4 >= 0.65, r4
    assert r8 >= 0.80, r8
    assert r8 >= r4


def test_probe_guard_falls_back_unhinted(spark, emb, tmp_path):
    """ADVICE r11: a probe batch past the broadcast bound must NOT be
    force-broadcast into the lists join — the hint drops and AQE
    plans a memory-safe join; results are identical either way."""
    path = str(tmp_path / "idx")
    ann_index.build_ivf_index(emb, path, nlist=8)
    probes = emb.filter(F.col("vec_id") < 20)
    guarded = ann_index.query_ivf_index(
        probes, path, k=3, nprobe=2, max_broadcast_probes=4
    )
    got = sorted(tuple(r) for r in guarded.collect())
    want = sorted(
        tuple(r)
        for r in ann_index.query_ivf_index(
            probes, path, k=3, nprobe=2
        ).collect()
    )
    assert got == want and got


def test_rebalance_splits_hot_lists_full_probe_invariant(spark, emb, tmp_path):
    """rebalance_ivf_index (r12): hot lists split into two, every
    vector stays in exactly one probed-reachable list, and FULL-PROBE
    answers are invariant — before, after, and vs brute force."""
    from crypto_etl_airflow_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    path = str(tmp_path / "idx")
    ann_index.build_ivf_index(emb, path, nlist=4)
    total = emb.count()
    probes = emb.filter(F.col("vec_id") < 15)
    before = sorted(
        tuple(r)
        for r in ann_index.query_ivf_index(
            probes, path, k=3, nprobe=4
        ).collect()
    )
    sizes0 = [
        r.n
        for r in ann_index.read_ivf_lists(spark, path)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    n_split = ann_index.rebalance_ivf_index(
        spark, path, max_list_size=max(1, total // 6)
    )
    assert n_split >= 1
    cents = ann_index.read_ivf_centroids(spark, path)
    nl = cents.count()
    assert nl == 4 + n_split
    lists = ann_index.read_ivf_lists(spark, path)
    assert lists.count() == total  # no vector lost or duplicated
    assert lists.select("neighbor_id").distinct().count() == total
    sizes1 = [
        r.n
        for r in lists.groupBy("centroid_id").agg(F.count("*").alias("n")).collect()
    ]
    assert max(sizes1) < max(sizes0)  # the hot list genuinely shrank
    after = sorted(
        tuple(r)
        for r in ann_index.query_ivf_index(
            probes, path, k=3, nprobe=nl
        ).collect()
    )
    assert after == before  # full probe: rebalance never changes answers
    brute = sorted(
        tuple(r)
        for r in cosine_topk_bruteforce(probes, emb, k=3).collect()
    )
    assert after == brute
    # a threshold nothing exceeds is a no-op
    assert ann_index.rebalance_ivf_index(spark, path, max_list_size=10**9) == 0
