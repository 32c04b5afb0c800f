"""Idempotent insert-if-absent writer.

Re-expresses the reference's ``INSERT ... ON CONFLICT (crypto_id,
extracted_at) DO NOTHING`` (reference dags/crypto-etl-pipeline-psql.py:85-89;
SURVEY.md §2.1 S6): re-running an ingest batch must not grow the
table or alter existing rows — exactly-once-per-key append.

Spark realization:

1. within-batch dedup: ``dropDuplicates(keys)``;
2. against-table dedup: **left-anti join** of the new batch against
   the existing table's key projection, read with the batch's own key
   schema (no footer-inference job);
3. read-before-write barrier: ONE checkpoint job materializes the
   fresh rows, and an ``Observation`` on top of its plan counts them
   — that observed count is the written count, no second ``count()``;
4. append write.

Scale posture: the anti-join reads ONLY the key columns of the
existing table (column pruning reaches the parquet scan), and when
the table is date-partitioned and the batch spans few partitions, a
partition-pruning filter on the key range cuts the read further
(``prune_filter``). Join strategy is left to AQE: a small key slice
broadcasts, a huge one sort-merges. Like the reference (single
Airflow DAG writer), this assumes a single writer — a read-append
race under concurrent writers needs a commit protocol. The
MULTI-WRITER form lives in :mod:`.txlog` (optimistic-concurrency
commit log over plain parquet, ``tx_append_if_absent`` /
``tx_merge``); a managed deployment can equally swap onto
Delta/Iceberg ``MERGE INTO`` (SURVEY.md §7.4).
"""

from __future__ import annotations

import functools
import os
import shutil

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class EmptyBatchError(ValueError):
    """No rows to load — mirrors the reference's guard (:76-77)."""


def table_exists(spark: SparkSession, path: str) -> bool:
    # local-fs check is enough for this engine's warehouse layout;
    # on cloud storage this would go through the Hadoop FileSystem API
    return os.path.exists(path)


def upsert_append(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
    prune_filter: Column | None = None,
    allow_empty: bool = False,
    checkpoint_dir: str | None = None,
) -> int:
    """Append ``batch`` to the parquet table at ``path``, skipping
    rows whose key already exists. Returns the number of rows written.

    ``prune_filter`` optionally restricts the existing-table read
    (e.g. a date-range predicate over the partition column) so the
    anti-join scans only the partitions the batch can collide with.
    The existing keys are read with the key schema the batch already
    carries, so no footer-inference job runs; a warehouse whose key
    columns cannot be read as the batch's types fails the read.

    The write costs one barrier job plus the append (see
    :func:`_counted_barrier`): the barrier's observed row count IS the
    written count, and the batch is probed for emptiness only when
    that count is 0 — an empty batch raises :class:`EmptyBatchError`
    unless ``allow_empty``.

    ``checkpoint_dir`` switches the read-before-write barrier to a
    RELIABLE checkpoint beneath that directory: ``localCheckpoint``
    blocks live on executor storage, so an executor lost between the
    checkpoint and the append write would fail the batch (safe but
    fragile); a reliable checkpoint survives it. Default keeps the
    single-node zero-IO path.
    """
    fresh = batch.dropDuplicates(keys)

    # heal any crashed swap (table-level or leaf-partition aside dirs)
    # BEFORE the anti-join read: a crashed leaf swap may have left the
    # partition's only copy under its .__aside. sibling (hidden from
    # the scan), the anti-join would miss those keys, and this append
    # would insert duplicates
    from .compact import recover_tree

    recover_tree(path)

    if table_exists(spark, path):
        existing_keys = (
            spark.read.schema(batch.select(*keys).schema).parquet(path).select(*keys)
        )
        if prune_filter is not None:
            existing_keys = existing_keys.filter(prune_filter)
        fresh = fresh.join(existing_keys, on=keys, how="left_anti")

    # the barrier truncates lineage: the append must not lazily
    # re-read the very path it is writing into (read-before-write)
    fresh, n = _counted_barrier(spark, fresh, checkpoint_dir)
    if n:
        writer = fresh.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
    elif not allow_empty and batch.isEmpty():
        raise EmptyBatchError("No data to load: empty batch")
    return n


def _lineage_barrier(
    spark: SparkSession, df: DataFrame, checkpoint_dir: str | None
) -> DataFrame:
    """Materialize ``df`` so later actions can't lazily re-read a path
    the caller is about to rewrite. ``checkpoint_dir`` selects a
    RELIABLE checkpoint (survives executor loss at cluster scale);
    default is the single-node zero-IO ``localCheckpoint``."""
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _counted_barrier(
    spark: SparkSession, df: DataFrame, checkpoint_dir: str | None
) -> tuple[DataFrame, int]:
    """:func:`_lineage_barrier`, plus ``df``'s row count from the same
    job: an :class:`Observation` on the top of the checkpointed plan,
    collected by the checkpoint's own job instead of a second
    ``count()``. On top, it counts exactly the rows the checkpoint
    holds, after every join or filter in ``df``."""
    obs = Observation()
    out = _lineage_barrier(
        spark, df.observe(obs, F.count(F.lit(1)).alias("n")), checkpoint_dir
    )
    return out, obs.get["n"]


def _swap_partition_dirs(staging: str, path: str, depth: int) -> None:
    """Swap each leaf partition directory of ``staging`` (nested
    ``col=value`` dirs, ``depth`` levels) into the same relative spot
    under ``path``, leaving partitions absent from staging untouched
    (their files stay byte-identical)."""
    from .compact import swap_directory

    if depth == 0:
        os.makedirs(os.path.dirname(path.rstrip("/")) or "/", exist_ok=True)
        swap_directory(staging, path)
        return
    for entry in sorted(os.listdir(staging)):
        sub = os.path.join(staging, entry)
        if os.path.isdir(sub) and "=" in entry:
            _swap_partition_dirs(sub, os.path.join(path, entry), depth - 1)


def merge_replace_keys(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[int, int]:
    """The UPDATE half of MERGE: rows whose key matches the batch are
    REPLACED by the batch's version; new keys are inserted — the
    reference's ``ON CONFLICT DO NOTHING`` upgraded to ``DO UPDATE``.

    Plan: keep the current table's non-matching rows (left-anti join
    against the deduped batch's keys), union the batch, write to a
    staging path, crash-safe swap into place. Returns
    (n_replaced, n_inserted); ``n_replaced`` counts DISTINCT existing
    keys matched by the batch (correct even if the existing table
    carries duplicate keys written outside :func:`upsert_append`).

    Scale posture — partition-pruned rewrite: when ``partition_by``
    is set, only the partitions the batch touches are rewritten and
    swapped; untouched partitions' files are never read for the merge
    output nor replaced (byte-identical after the merge). At 100 TB
    that turns a full-table rewrite into one proportional to the
    batch's partition span. PRECONDITION for the pruned path: the
    partition columns are a function of the merge keys (a key's row
    always lives in the partition its batch version maps to) — true
    for the reference layout (day-partitioned by the keyed
    ``extracted_at``). A transactional format (Delta/Iceberg MERGE
    INTO) would replace the swap with a metadata commit. Single
    writer, like the reference. ``checkpoint_dir`` selects reliable
    checkpoints as in :func:`upsert_append`.
    """
    from .compact import recover_tree, swap_directory

    # a prior merge that crashed mid-swap leaves the table (or, for a
    # partition-pruned merge, one LEAF partition) only under its
    # .__aside. sibling — hidden from partition discovery. Heal the
    # whole tree BEFORE the existence check and the existing-table
    # read, or this merge would rebuild from the batch alone /
    # clobber the crashed partition's rows.
    recover_tree(path)

    fresh, n_fresh = _counted_barrier(
        spark, batch.dropDuplicates(keys), checkpoint_dir
    )
    if not n_fresh:
        return (0, 0)

    staging = path.rstrip("/") + ".__merge_tmp"

    if not table_exists(spark, path):
        writer = fresh.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        swap_directory(staging, path)
        return (0, n_fresh)

    existing = spark.read.parquet(path)

    pruned = bool(partition_by)
    if pruned:
        # partitions the batch touches: a tiny control-plane set
        # (distinct partition-tuple values of the deduped batch)
        touched = fresh.select(*partition_by).distinct().collect()
        clause = lambda row: functools.reduce(  # noqa: E731
            lambda a, b: a & b,
            [F.col(c).eqNullSafe(F.lit(row[c])) for c in partition_by],
        )
        pred = functools.reduce(lambda a, b: a | b, [clause(r) for r in touched])
        # static partition pruning: the predicate is on the partition
        # columns only, so the scan plans just the touched directories
        existing = existing.filter(pred)

    n_replaced = (
        existing.select(*keys)
        .distinct()
        .join(fresh.select(*keys), on=keys, how="semi")
        .count()
    )
    kept = existing.join(fresh.select(*keys), on=keys, how="left_anti")
    merged = kept.unionByName(fresh)
    n_inserted = n_fresh - n_replaced

    writer = merged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    if pruned:
        _swap_partition_dirs(staging, path, len(partition_by))
        # staging now holds only non-partition leftovers (_SUCCESS)
        shutil.rmtree(staging, ignore_errors=True)
    else:
        swap_directory(staging, path)
    return (n_replaced, n_inserted)


class JdbcSink:
    """Relational batch sink — the reference's load stage writes
    Postgres via psycopg2 ``execute_batch`` with ``INSERT ... ON
    CONFLICT (crypto_id, extracted_at) DO NOTHING`` (reference
    dags/crypto-etl-pipeline-psql.py:85-97). Spark form: read the
    table's key projection back through JDBC for the anti-join, then
    ``df.write.format("jdbc")`` in append mode; ``batchsize`` plays
    the role of execute_batch's page_size (rows per executemany
    round-trip per partition).

    Scale posture: the write parallelism is the DataFrame's partition
    count — each partition opens one connection; coalesce the batch
    if the database can't take hundreds of writers. The key read-back
    pushes the column projection into the database via ``query``.
    """

    def __init__(
        self,
        url: str,
        table: str,
        properties: dict[str, str] | None = None,
        batchsize: int = 10_000,
    ) -> None:
        self.url = url
        self.table = table
        self.properties = dict(properties or {})
        self.batchsize = batchsize

    def reader_options(self, keys: list[str]) -> dict[str, str]:
        # ANSI-quote the key columns: Spark's JDBC writer creates
        # columns as QUOTED (case-exact) identifiers, so an unquoted
        # projection gets case-folded by the engine (Derby → upper,
        # Postgres → lower) and misses them — caught by the first
        # real-database run of this sink (embedded Derby, r12)
        cols = ", ".join('"' + k.replace('"', '""') + '"' for k in keys)
        return {
            "url": self.url,
            "query": f"SELECT {cols} FROM {self.table}",
            **self.properties,
        }

    def writer_options(self) -> dict[str, str]:
        return {
            "url": self.url,
            "dbtable": self.table,
            "batchsize": str(self.batchsize),
            **self.properties,
        }

    def read_keys(self, spark: SparkSession, keys: list[str]) -> DataFrame:
        return (
            spark.read.format("jdbc").options(**self.reader_options(keys)).load()
        )

    def append(self, df: DataFrame) -> None:
        df.write.format("jdbc").options(**self.writer_options()).mode(
            "append"
        ).save()


def upsert_append_sink(
    spark: SparkSession,
    batch: DataFrame,
    sink: JdbcSink,
    keys: list[str],
    allow_empty: bool = False,
) -> int:
    """The idempotent-append pipeline of :func:`upsert_append`
    (within-batch dropDuplicates → anti-join vs the sink's existing
    keys → append) against a relational sink — the engine's parity
    path for the reference's transactional Postgres load. Returns
    rows written. An empty batch is refused before the database is
    touched (its table may not exist yet)."""
    if batch.isEmpty():
        if allow_empty:
            return 0
        raise EmptyBatchError("No data to load: empty batch")
    fresh = batch.dropDuplicates(keys)
    existing_keys = sink.read_keys(spark, keys)
    if existing_keys is not None:
        fresh = fresh.join(existing_keys.select(*keys), on=keys, how="left_anti")
    fresh, n = _counted_barrier(spark, fresh, None)
    if n:
        sink.append(fresh)
    return n
