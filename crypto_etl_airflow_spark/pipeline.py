"""The reference pipeline, end to end, as one Spark driver program.

Reference DAG (dags/crypto-etl-pipeline-psql.py:200)::

    check_api >> create_table >> extract >> transform >> load >> quality

Here (SURVEY.md §3.1 "Spark restatement"): the sensor is a driver-side
precondition, DDL is implicit in the parquet write, extract/transform
is :func:`json_payload_to_df`, load is the idempotent
:func:`upsert_append`, and the quality gate is one aggregate job that
raises on violation. Stages hand each other a lazy DataFrame — XCom,
Celery and the metadata DB have no equivalent because nothing is
serialized between stages.

A tick stays inside the JVM and runs few Spark jobs: the payload is a
driver-local relation (no Python workers), the load is one barrier
job whose observed count is the rows written, plus the append, and
the gate reads the warehouse with the schema the batch carries, so
neither read runs a footer-inference job. Under the posture
``session.tune_execution`` picks for a tick's few-KB input (AQE off),
a steady tick runs 4 jobs (the anti-join's broadcast, barrier,
append, gate) and the first runs 3.
"""

from __future__ import annotations

import datetime as dt
import time
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

from .operators.upsert import upsert_append
from .quality.checks import ScanResult, freshness, min_value, run_scan
from .sources.http import (
    DEFAULT_BASE_URL,
    DEFAULT_COINS,
    DEFAULT_CURRENCY,
    Fetcher,
    _urllib_fetch,
    fetch_price_payload,
    wait_for_source,
)
from .sources.json_ingest import json_payload_to_df

UPSERT_KEYS = ["crypto_id", "extracted_at"]

_T = TypeVar("_T")


def with_retries(
    fn: Callable[[], _T],
    retries: int = 2,
    delay: float = 120.0,
    retry_on: tuple[type[BaseException], ...] = (Exception,),
    sleep: Callable[[float], None] = time.sleep,
) -> _T:
    """Run ``fn``, retrying transient failures — the reference's
    task-level ``retries: 2`` / ``retry_delay: 2 min`` (reference
    dags/crypto-etl-pipeline-psql.py:31-32) as an explicit wrapper.
    ``sleep`` is injectable so tests don't wait wall-clock minutes.
    Raises the last failure once ``retries`` re-attempts are spent."""
    attempt = 0
    while True:
        try:
            return fn()
        except retry_on:
            attempt += 1
            if attempt > retries:
                raise
            sleep(delay)


def run_ingest_pipeline(
    spark: SparkSession,
    warehouse_path: str,
    base_url: str = DEFAULT_BASE_URL,
    coins: tuple[str, ...] = DEFAULT_COINS,
    currency: str = DEFAULT_CURRENCY,
    fetch: Fetcher = _urllib_fetch,
    extracted_at: dt.datetime | None = None,
    now: dt.datetime | None = None,
    sensor_poke_interval: float = 10.0,
    sensor_timeout: float = 60.0,
    retries: int = 2,
    retry_delay: float = 120.0,
    retry_sleep: Callable[[float], None] = time.sleep,
) -> tuple[int, ScanResult]:
    """One pipeline run: sensor → extract → transform → load → gate.

    Returns (rows_written, scan_result). Raises
    SourceUnavailableError / ValueError / QualityGateError exactly
    where the reference's tasks fail. The extract and load stages
    retry ``retries`` times with ``retry_delay`` between attempts
    (the reference's per-task ``retries: 2`` / ``retry_delay: 2 min``,
    dags/crypto-etl-pipeline-psql.py:31-32); the load is safe to
    retry because :func:`upsert_append` is idempotent per key, so a
    failure after a partial append cannot double-insert.
    """
    # availability sensor (reference :143-151: ping, body contains "gecko")
    wait_for_source(
        f"{base_url}/ping",
        check=lambda body: "gecko" in body,
        poke_interval=sensor_poke_interval,
        timeout=sensor_timeout,
        fetch=fetch,
    )

    # extract (reference :168-179) + transform (reference :35-65)
    payload = with_retries(
        lambda: fetch_price_payload(base_url, coins, currency, fetch=fetch),
        retries=retries, delay=retry_delay, sleep=retry_sleep,
    )
    batch = json_payload_to_df(spark, payload, currency, extracted_at)

    # load: idempotent insert-if-absent (reference :67-107) — retry-safe
    written = with_retries(
        lambda: upsert_append(spark, batch, warehouse_path, keys=UPSERT_KEYS),
        retries=retries, delay=retry_delay, sleep=retry_sleep,
    )

    # quality gate over the whole warehouse (reference :109-130 +
    # include/soda/checks.yml)
    table = spark.read.schema(batch.schema).parquet(warehouse_path)
    scan = run_scan(
        table,
        [
            min_value("price_usd", fail_when_lt=0),
            freshness("extracted_at", warn_after="2 hours",
                      fail_after="6 hours", now=now),
        ],
    )
    scan.enforce()
    return written, scan
