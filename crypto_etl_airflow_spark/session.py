"""SparkSession factory.

One place to set the execution posture for the whole engine:

- **AQE on** (runtime re-planning, partition coalescing, skew-join
  splitting) so join strategy and shuffle sizing adapt to real data
  sizes rather than estimates — essential at 100 TB where static plans
  mis-size.
- **UTC session timezone** — the reference stamps naive local wall
  clock (reference dags/crypto-etl-pipeline-psql.py:56) while its
  README claims UTC; we standardize on UTC and document the deviation.
- **Arrow enabled** for any pandas interchange (Pandas UDFs, toPandas).
- **shuffle.partitions** sized from the env; at cluster scale this is a
  deploy-time config (partitions ≈ 2-3× total cores), never code.
- **Generated-class cache** sized to the engine's working set
  (:data:`CODEGEN_CACHE_ENTRIES`), so a repeated query reuses its
  compiled whole-stage code instead of recompiling it.

:func:`tune_execution` is the one size-aware adjustment on top: the
caller applies it once per input, and no query overrides it — a
builder never writes session conf, so what a plan runs under is what
the caller set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Input bytes per shuffle partition for the size-aware heuristic
#: below. Deliberately SMALL relative to the classic 128 MB-per-
#: partition rule because it counts COMPRESSED parquet input, and the
#: engine's heavy operators (shingle/token explodes) expand that
#: ~20–50× into shuffle rows; and because with AQE partition
#: coalescing ON, ``spark.sql.shuffle.partitions`` is effectively an
#: UPPER bound — over-provisioning costs a cheap runtime coalesce,
#: under-provisioning costs the measured fixed-partition sort term
#: (SCALE.md r9: the 1000× ngram decade ran ×15.1 at 32 partitions
#: vs ×8.5 at 128 — this heuristic picks ~150 there).
PARTITION_INPUT_BYTES = 4 * 1024 * 1024
MAX_SHUFFLE_PARTITIONS = 65536

#: Below this TOTAL input size a workload is scheduling-bound, not
#: data-bound: a multi-stage plan over a few MB spends its wall-clock
#: launching 32-task stages and (with AQE) re-planning after every
#: exchange, not computing. Measured r15 on the 17 MB sf0.1 set: the
#: curation pipeline ran ~35 s with AQE + a 32-partition floor and
#: ~18 s with AQE off + size-proportional partitions — identical
#: values either way (AQE and partition count never change results).
#: At or above this size the classic posture (AQE on, core floor)
#: wins and is essential at 100 TB.
SMALL_INPUT_BYTES = 64 * 1024 * 1024

#: Session conf naming the StorageLevel ``operators/dedup._reuse``
#: persists multi-consumer intermediates at (an engine conf key —
#: Spark carries arbitrary session confs). Part of the size-aware
#: posture because the right level flips with scale (see
#: :func:`tune_execution`).
REUSE_LEVEL_CONF = "spark.crypto_etl.reuse.storageLevel"

#: At or above this input size (or unknown = 0), ``_reuse`` persists
#: MEMORY_ONLY instead of MEMORY_AND_DISK — the SAME boundary as the
#: AQE/partition regimes (``SMALL_INPUT_BYTES``), so the posture has
#: exactly two regimes. The persisted intermediates (exploded
#: shingle/token tables, semdedup assignments) run ~10–50× the
#: compressed input, so past the tiny regime they exceed executor
#: storage memory BY CONSTRUCTION and MEMORY_AND_DISK writes nearly
#: the whole intermediate to executor disk. Measured r16 at ×100
#: (112 MB compressed input, isolated A/B, fresh session per level):
#: the disk tier buys NOTHING — tK_first 191.1 vs 192.5 s, tK_steady
#: 134.0 vs 132.5 s (inside noise) — because re-reading spilled
#: blocks runs at the same speed as recomputing the Arrow-kernel
#: lineage. What the disk tier DOES do is accumulate: the r16
#: full-session decade run (funnel's ×100 persists still spilled
#: when the corpus query ran) measured corpus tK_steady 178.8 s vs
#: tK_first 131.9 s — cache reads SLOWER than the uncached run.
#: MEMORY_ONLY keeps the cache-assist for whatever fits, silently
#: recomputes the rest, and never owns executor disk — the
#: scale-safe default; the disk-backed level stays for tiny inputs
#: where spill-read is cheap and cache-assist dominates
#: repeated-analytics latency.
REUSE_SPILL_INPUT_BYTES = SMALL_INPUT_BYTES

#: Entries in Spark's LRU cache of compiled generated classes
#: (``spark.sql.codegen.cache.maxEntries``, default 100). Sized to the
#: engine's working sets, counted with :func:`codegen_stats` on 4
#: cores: one ``pipeline_curate_corpus`` run over the sf0.001 fixture
#: needs 332 distinct classes under :func:`tune_execution`'s posture;
#: the 17 bench queries in one session at sf0.01 need 810 (a
#: second pass then compiles 12); an ``hourly_ingest`` tick needs at
#: most 17, and none once warm. At the default size every warm
#: flagship run evicted its own classes and recompiled ~342 of them
#: (10–20 ms of Janino each), and each run got fresh classes the JIT
#: had never compiled.
CODEGEN_CACHE_ENTRIES = 2048


def codegen_stats(spark: SparkSession) -> tuple[int, float] | None:
    """``(compilations, compile_ms)`` of generated code in this JVM so
    far: Spark's ``CodegenMetrics`` compilation count and
    ``CodeGenerator.compileTime``. Both are process-wide and only
    grow, so callers difference two readings. ``None`` when the
    session has no ``_jvm`` (Spark Connect)."""
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        return None
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6


def reuse_level_for_bytes(n_bytes: int) -> str:
    """The ``_reuse`` StorageLevel name for an input size — ONE
    definition shared by :func:`tune_execution` and the decade bench
    (a harness that re-derived it could silently measure a different
    posture than production applies)."""
    if 0 < n_bytes < REUSE_SPILL_INPUT_BYTES:
        return "MEMORY_AND_DISK"
    return "MEMORY_ONLY"  # large or unknown: drop, don't spill


def shuffle_partitions_for_bytes(
    n_bytes: int, cpus: int | None = None
) -> int:
    """Size-aware shuffle-partition count: one partition per
    ~``PARTITION_INPUT_BYTES`` of compressed input, floored at the
    core count (never idle a core) and capped to bound scheduler
    overhead. On a real cluster the same formula runs with the
    cluster's total core count — partitions scale with BOTH the data
    and the machine, which is what the fixed-resource scale harness
    exists to emulate.

    EXCEPT for tiny inputs (< ``SMALL_INPUT_BYTES``): there the core
    floor inverts — 32 tasks per shuffle stage costs more scheduler
    latency than the parallelism recovers on a few MB, so partitions
    stay proportional to the data (≥1). Expression-heavy narrow
    stages are independently widened to the core count by
    ``operators/parallel.py::widen_small_input``, so CPU-bound scans
    keep their parallelism; this bound governs only post-shuffle
    stages.

    ``n_bytes == 0`` means UNKNOWN, not tiny (ADVICE r15):
    :func:`input_dir_bytes` returns 0 for remote-FS URIs, nonexistent
    dirs, and anything ``os.walk`` can't traverse — a 100 TB s3://
    input stats as 0. At unknown scale the safe posture is the
    classic one (core floor; callers keep AQE on), never the
    single-partition/AQE-off tiny regime — the same gating
    ``pipeline_curate._stages`` applies to ``reclaim_disk``."""
    cpus = cpus or DEFAULT_SHUFFLE_PARTITIONS
    raw = max(1, n_bytes // PARTITION_INPUT_BYTES)
    if 0 < n_bytes < SMALL_INPUT_BYTES:
        return min(cpus, raw)
    return max(cpus, min(MAX_SHUFFLE_PARTITIONS, raw))


def input_dir_bytes(*paths: str) -> int:
    """Total on-disk bytes of the given table dirs/files."""
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
            continue
        for root, _dirs, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(root, f)) for f in files
            )
    return total


def tune_execution(spark: SparkSession, *paths: str) -> dict:
    """Size-aware execution posture, set from the ACTUAL input size
    (both confs are runtime-settable; they affect every plan compiled
    afterwards and never change query RESULTS — only physical
    strategy):

    - ``spark.sql.shuffle.partitions`` — proportional for tiny
      inputs, core-floored otherwise (:func:`shuffle_partitions_for_bytes`).
    - ``spark.sql.adaptive.enabled`` — OFF below
      ``SMALL_INPUT_BYTES``: AQE materializes every exchange as its
      own query stage and re-plans between them, which is pure
      latency when the statically-chosen plan is already right
      (everything broadcastable, nothing skewed — guaranteed by
      construction on a few-MB input). ON at or above the bound,
      where runtime re-planning (BHJ flips, skew splits, partition
      coalescing) is the thing that keeps 100 TB plans honest.
    - ``REUSE_LEVEL_CONF`` — the StorageLevel for ``_reuse``
      persists: disk-backed below ``REUSE_SPILL_INPUT_BYTES``,
      MEMORY_ONLY at scale (see the constant's rationale).

    An input that stats as 0 bytes is UNKNOWN scale (remote FS /
    unreadable path — see :func:`shuffle_partitions_for_bytes`):
    unknown gets the classic posture (core floor, AQE ON), because
    mis-classifying a 100 TB remote input as tiny would run every
    shuffle single-partition with no AQE to rescue it, while
    mis-classifying a tiny input as big costs only scheduler latency.

    Returns the chosen posture for logging."""
    n_bytes = input_dir_bytes(*paths)
    n = shuffle_partitions_for_bytes(n_bytes)
    adaptive = n_bytes == 0 or n_bytes >= SMALL_INPUT_BYTES
    reuse_level = reuse_level_for_bytes(n_bytes)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set("spark.sql.adaptive.enabled", str(adaptive).lower())
    spark.conf.set(REUSE_LEVEL_CONF, reuse_level)
    return {
        "input_bytes": n_bytes,
        "shuffle_partitions": n,
        "adaptive": adaptive,
        "reuse_level": reuse_level,
    }


def get_spark(
    app_name: str = "crypto_etl_airflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local runs default to ``local[$SPARK_GRAFT_CPUS]``; on a real
    cluster the master comes from spark-submit and this factory only
    contributes the SQL posture.

    ``spark.sql.codegen.cache.maxEntries`` is set to
    :data:`CODEGEN_CACHE_ENTRIES`. It is a static conf: only a session
    that starts a new JVM takes it, and a session this call merely
    reuses keeps the size its JVM started with.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
