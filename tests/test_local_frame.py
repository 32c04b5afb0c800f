"""Driver-built frames plan as local relations: the empty-frame
fallbacks of the index readers and of the centroid assignment, and the
BM25 store queries' collected answer, are ``LocalTableScan`` frames,
never a PythonRDD (``Scan ExistingRDD``) whose every action starts
Python workers."""

import os

import pytest

from crypto_etl_airflow_spark.plans.registry import all_specs
from crypto_etl_airflow_spark.sources.local import local_frame

from .conftest import SF_SMOKE


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
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert df.count() == 0


@pytest.mark.parametrize(
    "name", ["similarity_bm25_indexed", "similarity_bm25_maintained"]
)
def test_bm25_store_answer_is_local_relation(spark, name):
    df = all_specs()[name].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
