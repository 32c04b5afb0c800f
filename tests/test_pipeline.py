"""End-to-end pipeline run with an injected fetcher (no network):
sensor → extract → transform → idempotent load → quality gate —
the reference DAG (dags/crypto-etl-pipeline-psql.py:200) in one
driver program."""

import datetime as dt

import pytest

from crypto_etl_airflow_spark.pipeline import run_ingest_pipeline
from crypto_etl_airflow_spark.quality import QualityGateError
from crypto_etl_airflow_spark.sources.http import SourceUnavailableError

PAYLOAD = (
    '{"bitcoin": {"usd": 60123.5}, "ethereum": {"usd": 2987.25},'
    ' "tether": {"usd": 1.0}, "solana": {"usd": 151.75}}'
)
NOW = dt.datetime(2024, 1, 1, 12, 0)


def fake_fetch(url: str) -> str:
    if url.endswith("/ping"):
        return '{"gecko_says": "(V3) To the Moon!"}'
    return PAYLOAD


def test_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    wh = str(tmp_path / "crypto_prices")
    ts = NOW - dt.timedelta(minutes=30)

    written, scan = run_ingest_pipeline(
        spark, wh, fetch=fake_fetch, extracted_at=ts, now=NOW
    )
    assert written == 4
    assert not scan.failed

    # re-run of the same batch: idempotent, no growth
    written2, _ = run_ingest_pipeline(
        spark, wh, fetch=fake_fetch, extracted_at=ts, now=NOW
    )
    assert written2 == 0
    assert spark.read.parquet(wh).count() == 4


def test_pipeline_halts_when_source_down(spark, tmp_path):
    def dead_fetch(url):
        raise ConnectionError("down")

    with pytest.raises(SourceUnavailableError):
        run_ingest_pipeline(
            spark,
            str(tmp_path / "wh"),
            fetch=dead_fetch,
            sensor_timeout=0.05,
            sensor_poke_interval=0.01,
        )


def test_pipeline_quality_gate_halts_on_stale_data(spark, tmp_path):
    wh = str(tmp_path / "crypto_prices")
    stale_ts = NOW - dt.timedelta(hours=7)
    with pytest.raises(QualityGateError, match="freshness"):
        run_ingest_pipeline(
            spark, wh, fetch=fake_fetch, extracted_at=stale_ts, now=NOW
        )


def test_with_retries_recovers_and_exhausts():
    """Reference parity (dags/crypto-etl-pipeline-psql.py:31-32):
    retries=2 with a delay between attempts — a twice-failing callable
    still succeeds on the third try; a thrice-failing one raises."""
    from crypto_etl_airflow_spark.pipeline import with_retries

    slept: list[float] = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] <= 2:
            raise ConnectionError("transient")
        return "ok"

    assert with_retries(flaky, retries=2, delay=120.0, sleep=slept.append) == "ok"
    assert calls["n"] == 3 and slept == [120.0, 120.0]

    calls["n"] = -1  # now fails 3 times: attempts exhausted
    with pytest.raises(ConnectionError):
        with_retries(flaky, retries=2, delay=1.0, sleep=slept.append)


def test_pipeline_retries_transient_extract_failure(spark, tmp_path):
    """A fetcher that dies twice on the price endpoint (after the
    sensor passed) must still complete the run — no wall-clock wait
    (injected sleep)."""
    wh = str(tmp_path / "crypto_prices")
    ts = NOW - dt.timedelta(minutes=30)
    fails = {"n": 0}

    def flaky_fetch(url: str) -> str:
        if url.endswith("/ping"):
            return '{"gecko_says": "(V3) To the Moon!"}'
        fails["n"] += 1
        if fails["n"] <= 2:
            raise ConnectionError("transient price-endpoint failure")
        return PAYLOAD

    slept: list[float] = []
    written, scan = run_ingest_pipeline(
        spark, wh, fetch=flaky_fetch, extracted_at=ts, now=NOW,
        retry_sleep=slept.append,
    )
    assert written == 4 and not scan.failed
    assert fails["n"] == 3 and slept == [120.0, 120.0]


@pytest.fixture
def tiny_posture(spark):
    """The size-aware posture ``session.tune_execution`` picks for an
    hourly tick's few-KB input (AQE off, one shuffle partition),
    restored afterwards."""
    confs = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "1"}
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_tick_job_budget(spark, tmp_path, tiny_posture):
    """A tick is a handful of Spark jobs: the first (no table yet) runs
    the barrier, the append and the gate; a steady one adds the anti-
    join's broadcast. No second count and no footer-inference read;
    only a re-sent hour, which writes nothing, trades the append for
    the emptiness probe."""
    wh = str(tmp_path / "crypto_prices")
    sc = spark.sparkContext
    jobs = []
    for i, (minutes, expected) in enumerate(((90, 4), (60, 4), (30, 4), (30, 0))):
        group = f"tick-budget-{i}"
        sc.setJobGroup(group, "hourly tick")
        try:
            written, scan = run_ingest_pipeline(
                spark, wh, fetch=fake_fetch,
                extracted_at=NOW - dt.timedelta(minutes=minutes), now=NOW,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert written == expected and not scan.failed
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[0] <= 3, jobs
    assert max(jobs[1:]) <= 4, jobs
