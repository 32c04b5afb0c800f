"""Driver-built frames plan as local relations: the empty-frame
fallbacks of the index readers and of the centroid assignment, and the
store queries' collected answers, are ``LocalTableScan`` frames, never
a PythonRDD (``Scan ExistingRDD``) whose every action starts Python
workers. The index rebalances and the postings-store stats commit,
which write their driver-built rows straight to parquet, build no
PythonRDD at all."""

import os
import time

import pytest
from pyspark.sql import functions as F

from crypto_etl_airflow_spark.plans.registry import all_specs
from crypto_etl_airflow_spark.sources.local import local_frame

from .conftest import SF_SMOKE


def _assert_local_relation(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def _empty_ivf_lists(spark, path):
    from crypto_etl_airflow_spark.operators.ann_index import read_ivf_lists

    os.makedirs(f"{path}/lists")
    return read_ivf_lists(spark, path)


def _empty_ivfpq_codes(spark, path):
    from crypto_etl_airflow_spark.operators.pq import read_ivfpq_codes

    os.makedirs(f"{path}/codes")
    return read_ivfpq_codes(spark, path)


def _empty_ivfsq_lists(spark, path):
    from crypto_etl_airflow_spark.operators.sq_index import read_ivfsq_lists

    os.makedirs(f"{path}/lists")
    return read_ivfsq_lists(spark, path)


def _no_tombstones(spark, path):
    from crypto_etl_airflow_spark.operators.postings_store import (
        read_tombstones,
    )

    return read_tombstones(spark, path)


def _empty_quantizer(spark, path):
    from crypto_etl_airflow_spark.operators.similarity import (
        _nearest_centroid,
    )

    vecs = local_frame(spark, [(1, [1.0, 0.0])], "id long, v array<double>")
    cents = local_frame(
        spark, [], "centroid_id long, c_vec array<double>, c_norm double"
    )
    return _nearest_centroid(vecs, cents, "id", "v", dim=2)


@pytest.mark.parametrize(
    "build",
    [
        _empty_ivf_lists,
        _empty_ivfpq_codes,
        _empty_ivfsq_lists,
        _no_tombstones,
        _empty_quantizer,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_empty_fallback_is_local_relation(spark, tmp_path, build):
    df = build(spark, str(tmp_path / "index"))
    _assert_local_relation(df)
    assert df.count() == 0


@pytest.mark.parametrize(
    "name", ["similarity_bm25_indexed", "similarity_bm25_maintained"]
)
def test_bm25_store_answer_is_local_relation(spark, name):
    _assert_local_relation(all_specs()[name].builder(spark, SF_SMOKE))


@pytest.mark.parametrize(
    "name",
    [
        "join_range_size_buckets",
        "rollup_incremental_hourly",
        "dedup_incremental_fingerprint",
        "similarity_topk_ivf_indexed",
        "dedup_incremental_semantic",
    ],
)
def test_collected_answer_is_local_relation(spark, name):
    _assert_local_relation(all_specs()[name].builder(spark, SF_SMOKE))


@pytest.fixture
def python_rdds(spark, monkeypatch):
    """Every ``sc.parallelize`` call, the step through which
    ``createDataFrame(<python list>)`` builds its PythonRDD."""
    sc = spark.sparkContext
    calls = []
    real = sc.parallelize

    def recording(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(sc, "parallelize", recording)
    return calls


def _ivf_rebalance(spark, emb, path):
    from crypto_etl_airflow_spark.operators import ann_index

    ann_index.build_ivf_index(emb, path, nlist=4)
    return lambda cap: ann_index.rebalance_ivf_index(spark, path, cap)


def _ivfpq_rebalance(spark, emb, path):
    from crypto_etl_airflow_spark.operators import pq

    pq.build_ivfpq_index(emb, path, nlist=4, m=8, ksub=16)
    return lambda cap: pq.rebalance_ivfpq_index(spark, path, emb, cap)


def _ivfsq_rebalance(spark, emb, path):
    from crypto_etl_airflow_spark.operators import sq_index

    sq_index.build_ivfsq_index(emb, path, nlist=4)
    return lambda cap: sq_index.rebalance_ivfsq_lists(spark, path, cap)


@pytest.mark.parametrize(
    "prepare",
    [_ivf_rebalance, _ivfpq_rebalance, _ivfsq_rebalance],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_rebalance_builds_no_python_rdd(spark, tmp_path, request, prepare):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    rebalance = prepare(spark, emb, str(tmp_path / "index"))
    cap = max(1, emb.count() // 6)
    calls = request.getfixturevalue("python_rdds")
    assert rebalance(cap) >= 1
    assert calls == []


def test_postings_stats_commit_builds_no_python_rdd(spark, tmp_path, python_rdds):
    from crypto_etl_airflow_spark.operators import postings_store

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        F.col("doc_id") < 50
    )
    path = str(tmp_path / "store")
    postings_store.write_postings_store(docs, path)
    postings_store.delete_from_postings_store(
        spark, path, docs.filter(F.col("doc_id") < 10).select("doc_id")
    )
    assert python_rdds == []
    stats = postings_store.read_store_stats(spark, path)
    assert stats.sver == 2
    assert (stats.n, stats.sum_dl) == postings_store._scan_stats(spark, path)


def test_timestamps_keep_their_instant_off_utc(spark, monkeypatch):
    """A collected TimestampType value is a naive datetime in the
    host's local time; the local relation must hold the same instant,
    as ``createDataFrame(<python list>)`` does."""
    src = spark.sql(
        "SELECT timestamp'2024-01-01 05:00:00.123456' AS ts,"
        " timestamp_ntz'2024-01-01 05:00:00' AS ntz"
        " UNION ALL SELECT NULL, NULL"
    )
    want = sorted(
        map(tuple, src.selectExpr("string(ts)", "string(ntz)").collect()), key=str
    )
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rows = src.collect()
        got = local_frame(spark, rows, src.schema).selectExpr(
            "string(ts)", "string(ntz)"
        )
        assert sorted(map(tuple, got.collect()), key=str) == want
    finally:
        monkeypatch.undo()
        time.tzset()
