"""The shared IVF list store (operators/ivf_store.py) under all three
index rungs — flat, SQ8 and PQ — over a tiny in-test corpus: a
crashed centroids swap heals on the next read, a planted orphan
partition is query-invisible and swept, and the add's count rides on
its barrier's job."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from crypto_etl_airflow_spark.operators import ann_index, ivf_store, pq, sq_index
from crypto_etl_airflow_spark.sources.local import local_frame

DIM = 8
N = 48

# rung -> (layout, build(corpus, path), query, rebalance(spark, path, corpus, cap))
RUNGS = {
    "flat": (
        ann_index.LAYOUT,
        lambda c, p: ann_index.build_ivf_index(c, p, nlist=4),
        ann_index.query_ivf_index,
        lambda s, p, c, cap: ann_index.rebalance_ivf_index(s, p, cap),
    ),
    "sq8": (
        sq_index.LAYOUT,
        lambda c, p: sq_index.build_ivfsq_index(c, p, nlist=4),
        sq_index.query_ivfsq_index,
        lambda s, p, c, cap: sq_index.rebalance_ivfsq_lists(s, p, cap),
    ),
    "pq": (
        pq.LAYOUT,
        lambda c, p: pq.build_ivfpq_index(c, p, nlist=4, m=4, ksub=8),
        pq.query_ivfpq_index,
        lambda s, p, c, cap: pq.rebalance_ivfpq_index(s, p, c, cap),
    ),
}


@pytest.fixture(scope="module")
def corpus(spark):
    """Four loose clusters of 8-dim vectors, deterministic."""
    rows = [
        (i, [float(i % 4 == j // 2) + ((i * 7 + j * 3) % 11) / 40 for j in range(DIM)])
        for i in range(N)
    ]
    return local_frame(spark, rows, "vec_id long, embedding array<double>")


def _answers(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("rung", sorted(RUNGS))
def test_centroids_swap_crash_heals_on_read(spark, corpus, tmp_path, rung):
    """The rebalance commit point swaps the centroids table; a crash
    between its two renames leaves the only copy aside, and the next
    centroid read must heal it, keeping queries alive without manual
    repair."""
    _, build, query, _ = RUNGS[rung]
    path = str(tmp_path / "idx")
    build(corpus, path)
    probes = corpus.filter(F.col("vec_id") < 3)
    before = _answers(query(probes, path, k=3))
    os.rename(f"{path}/centroids", f"{path}/.__aside.centroids")
    assert _answers(query(probes, path, k=3)) == before
    assert os.path.isdir(f"{path}/centroids")


@pytest.mark.parametrize("rung", sorted(RUNGS))
def test_rebalance_orphan_cleanup_and_partial_probe(spark, corpus, tmp_path, rung):
    """Crash-window leftovers (a list partition no centroid
    references) are query-invisible and swept by the orphan sweep;
    partial-probe queries on the rebalanced index stay well-formed."""
    layout, build, query, rebalance = RUNGS[rung]
    path = str(tmp_path / "idx")
    build(corpus, path)
    assert rebalance(spark, path, corpus, N // 6) >= 1
    table = f"{path}/{layout.table}"
    live = sorted(e for e in os.listdir(table) if e.startswith("centroid_id="))
    shutil.copytree(f"{table}/{live[0]}", f"{table}/centroid_id=999999")
    probes = corpus.filter(F.col("vec_id") < 10)
    before = _answers(query(probes, path, k=3, nprobe=2))
    assert before  # the orphan is never probed: the query is well-formed
    assert ivf_store.clean_orphans(layout, spark, path) == 1
    assert not os.path.isdir(f"{table}/centroid_id=999999")
    assert _answers(query(probes, path, k=3, nprobe=2)) == before


def test_sq8_add_counts_on_its_barrier_job(spark, corpus, tmp_path):
    """The SQ8 add takes its row count from the barrier's own job
    (``counted_barrier``), not from a second ``count()`` over the
    checkpoint, which under AQE costs two jobs (its shuffle map stage
    and its result): an add runs 6 jobs and its no-op retry 5, where
    a separate count made them 8 and 7."""
    path = str(tmp_path / "idx")
    sq_index.build_ivfsq_index(corpus.filter(F.col("vec_id") % 4 != 0), path, nlist=4)
    batch = corpus.filter(F.col("vec_id") % 4 == 0)
    sc = spark.sparkContext
    got = []
    for i in range(2):
        group = f"sq8-add-{i}"
        sc.setJobGroup(group, "sq8 add")
        try:
            n = sq_index.add_to_ivfsq_index(batch, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got.append((n, len(sc.statusTracker().getJobIdsForGroup(group))))
    assert got == [(N // 4, 6), (0, 5)], got
