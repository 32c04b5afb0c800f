"""Ingest transform: payload JSON → (crypto_id, price_usd, extracted_at).

Mirrors the reference's transform stage semantics
(dags/crypto-etl-pipeline-psql.py:35-65): explode nested payload,
constant per-batch timestamp, raise on empty input.
"""

import datetime as dt

import pytest

from crypto_etl_airflow_spark.sources.json_ingest import (
    json_payload_to_df,
    payloads_to_df,
)

PAYLOAD = (
    '{"bitcoin": {"usd": 60123.5}, "ethereum": {"usd": 2987.25},'
    ' "tether": {"usd": 1.0}, "solana": {"usd": 151.75}}'
)
TS = dt.datetime(2024, 1, 1, 12, 0, 0)


def test_payload_explodes_to_rows(spark):
    df = json_payload_to_df(spark, PAYLOAD, extracted_at=TS)
    rows = {r.crypto_id: r for r in df.collect()}
    assert set(rows) == {"bitcoin", "ethereum", "tether", "solana"}
    assert rows["bitcoin"].price_usd == 60123.5
    assert all(r.extracted_at == TS for r in rows.values())
    assert df.columns == ["crypto_id", "price_usd", "extracted_at"]


def test_default_timestamp_is_constant_per_batch(spark):
    df = json_payload_to_df(spark, PAYLOAD)
    stamps = {r.extracted_at for r in df.collect()}
    assert len(stamps) == 1  # reference :56 assigns one scalar per batch


def test_empty_payload_raises(spark):
    for bad in ("", "{}", "null", "  "):
        with pytest.raises(ValueError, match="No data to transform"):
            json_payload_to_df(spark, bad)


def test_missing_currency_yields_null_not_error(spark):
    df = json_payload_to_df(spark, '{"bitcoin": {"eur": 5.0}}', currency="usd")
    [row] = df.collect()
    assert row.price_usd is None


def test_distributed_payloads_variant(spark):
    src = spark.createDataFrame(
        [(PAYLOAD, "batch1"), ('{"dogecoin": {"usd": 0.1}}', "batch2")],
        "payload string, batch string",
    )
    out = payloads_to_df(src).collect()
    assert len(out) == 5
    assert {r.batch for r in out} == {"batch1", "batch2"}


def test_payload_is_a_local_relation(spark):
    """The driver-fetched payload enters as a LocalRelation, not a
    PythonRDD (``Scan ExistingRDD``), so actions over the batch start
    no Python workers."""
    df = json_payload_to_df(spark, PAYLOAD, extracted_at=TS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert df.count() == 4
