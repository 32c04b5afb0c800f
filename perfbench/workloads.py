"""The benchmark workloads.

Each workload turns ``(seed, seconds)`` into a fixed pass of ops and a
number of timed repeats of that pass, and runs one op at a time (a
closed loop with one client). It calls the
engine only through its public entry points: ``pipeline.run_ingest_pipeline``,
``operators.compact.compact``, ``plans.registry.query_map`` and
``operators.dedup.release_reuse_caches``. Output checks run when
``check`` is set (the untimed pass) and turn a wrong answer into a
failed op.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

import numpy as np
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")


def repeats(seconds: float, pass_s: float) -> int:
    """Timed repeats of a pass of nominal ``pass_s`` seconds that fill
    ``seconds``; at least two."""
    return max(2, round(seconds / pass_s))


class HourlyIngest:
    """The reference DAG's hourly tick: sensor → extract → normalize →
    idempotent upsert → quality gate, with periodic compaction."""

    name = "hourly_ingest"
    ticks_per_pass = 4
    pass_s = 6.0  # a warm pass on a 4-core host
    coins_per_tick = 300
    coin_universe = 400
    resend_every = 4  # one tick in four re-sends an hour already loaded
    compact_every = 4

    def __init__(self, seed: int, seconds: float, work: str) -> None:
        rng = random.Random(seed)
        n = self.ticks_per_pass
        self.repeats = repeats(seconds, self.pass_s)
        universe = [f"coin-{i:04d}" for i in range(self.coin_universe)]
        # exactly n // resend_every re-sends, at seeded positions after the first
        resend = set(rng.sample(range(1, n), n // self.resend_every))
        base = dt.datetime(2024, 1, 1)
        self.ticks: list[dict] = []
        loaded: list[dict] = []
        for i in range(n):
            if i in resend:
                tick = dict(rng.choice(loaded), expected=0)
            else:
                coins = sorted(rng.sample(universe, self.coins_per_tick))
                tick = {
                    "coins": coins,
                    "hour": base + dt.timedelta(hours=len(loaded)),
                    "payload": json.dumps(
                        {c: {"usd": round(rng.uniform(0.01, 70_000.0), 6)} for c in coins}
                    ),
                    "expected": self.coins_per_tick,
                }
                loaded.append(tick)
            tick["now"] = loaded[-1]["hour"]
            tick["compact"] = (i + 1) % self.compact_every == 0
            self.ticks.append(tick)
        self.offered = {(c, t["hour"]) for t in loaded for c in t["coins"]}
        self.ops = self.ticks
        self.data_dir = os.path.join(work, "ticks")
        self.warehouse = os.path.join(work, "warehouse")
        os.makedirs(self.data_dir, exist_ok=True)
        for i, t in enumerate(self.ticks):
            with open(os.path.join(self.data_dir, f"tick-{i:03d}.json"), "w") as f:
                f.write(t["payload"])
        self.written = 0
        self.offered_rows = 0
        self.files_listed: list[int] = []

    def setup(self, spark, tracer) -> None:
        from crypto_etl_airflow_spark import pipeline
        from crypto_etl_airflow_spark.operators.compact import compact
        from crypto_etl_airflow_spark.quality.checks import ScanResult

        if tracer.enabled:
            # spans around the calls run_ingest_pipeline makes
            pipeline.json_payload_to_df = tracer.wrap(
                "sources.parse", pipeline.json_payload_to_df
            )
            pipeline.upsert_append = tracer.wrap(
                "operators.upsert", self._count_files(pipeline.upsert_append)
            )
            pipeline.run_scan = tracer.wrap("quality.gate", pipeline.run_scan)
            ScanResult.enforce = tracer.wrap("quality.gate", ScanResult.enforce)
        self._pipeline, self._compact, self._tracer = pipeline, compact, tracer

    def _count_files(self, upsert):
        def counted(spark, batch, path, **kw):
            n = 0
            for _root, _dirs, files in os.walk(path):
                n += sum(f.endswith(".parquet") for f in files)
            self.files_listed.append(n)
            return upsert(spark, batch, path, **kw)

        return counted

    @staticmethod
    def label(tick: dict) -> str:
        return f"{tick['hour']:%H}h{'+compact' if tick['compact'] else ''}" + (
            "" if tick["expected"] else " resend"
        )

    def begin_pass(self, spark) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)
        self.written = self.offered_rows = 0
        self.files_listed = []

    def run_op(self, spark, tick: dict, check: bool) -> bool:
        body = tick["payload"]

        def fetch(url: str) -> str:
            return "(V3) To the Moon! gecko" if url.endswith("/ping") else body

        written, scan = self._pipeline.run_ingest_pipeline(
            spark, self.warehouse, coins=tuple(tick["coins"]), fetch=fetch,
            extracted_at=tick["hour"], now=tick["now"],
            sensor_poke_interval=0.0, retry_sleep=lambda _s: None,
        )
        if tick["compact"]:
            with self._tracer.span("operators.compact"):
                self._compact(spark, self.warehouse)
        self.written += written
        self.offered_rows += len(tick["coins"])
        return written == tick["expected"] and not (scan.failed or scan.warned)

    def end_pass(self, spark, check: bool) -> int:
        """Failed checks over the whole pass: the warehouse holds exactly
        the distinct keys offered, and the written rows sum to that."""
        if not check:
            return 0
        rows = spark.read.parquet(self.warehouse).select("crypto_id", "extracted_at").collect()
        keys = [(r[0], r[1]) for r in rows]
        ok = (
            len(keys) == len(set(keys))
            and set(keys) == self.offered
            and self.written == len(self.offered)
        )
        return 0 if ok else 1


class CurateCorpus:
    """The flagship curation pipeline, built through ``query_map()``
    (the posture-bound entry) and materialized to the noop sink."""

    name = "curate_corpus"
    query = "pipeline_curate_corpus"
    pass_s = 12.0
    shuffled = ("documents", "embeddings")

    def __init__(self, seed: int, seconds: float, work: str) -> None:
        self.ops = [self.query]
        self.repeats = repeats(seconds, self.pass_s)
        self.data_dir = os.path.join(work, "data")
        os.makedirs(self.data_dir)
        # the repository's sf0.001 fixture, with the rows of the two
        # tables the pipeline reads in a seeded order; the other eight
        # tables exist for the oracle's views
        rng = np.random.default_rng(seed)
        for f in sorted(os.listdir(FIXTURE)):
            src, dst = os.path.join(FIXTURE, f), os.path.join(self.data_dir, f)
            if f.removesuffix(".parquet") in self.shuffled:
                table = pq.read_table(src)
                pq.write_table(table.take(rng.permutation(table.num_rows)), dst)
            else:
                shutil.copyfile(src, dst)

    def setup(self, spark, tracer) -> None:
        from crypto_etl_airflow_spark.operators.dedup import release_reuse_caches
        from crypto_etl_airflow_spark.plans import registry

        self._build = registry.query_map()[self.query]
        self._oracle = registry.get(self.query).oracle
        self._release, self._tracer = release_reuse_caches, tracer
        self._checked = False
        # the first untimed op acts through collect(); load the noop sink too
        spark.range(1).write.format("noop").mode("overwrite").save()

    @staticmethod
    def label(name: str) -> str:
        return name

    def begin_pass(self, spark) -> None:
        pass

    def run_op(self, spark, name: str, check: bool) -> bool:
        tr = self._tracer
        try:
            with tr.span("plans.build"):
                df = self._build(spark, self.data_dir)
            if check and not self._checked:
                # the check's collect() is this op's action, in place
                # of the noop sink, so the plan runs once either way
                from tests.oracle import compare

                self._checked = True
                compare(df, self._oracle, self.data_dir, name)
            else:
                with tr.span("spark.run"):
                    df.write.format("noop").mode("overwrite").save()
        finally:
            with tr.span("operators.release"):
                self._release()
        return True

    def end_pass(self, spark, check: bool) -> int:
        return 0


WORKLOADS = {w.name: w for w in (HourlyIngest, CurateCorpus)}
