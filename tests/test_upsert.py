"""Idempotent insert-if-absent writer — the ON CONFLICT DO NOTHING
contract (reference dags/crypto-etl-pipeline-psql.py:85-89)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from crypto_etl_airflow_spark.operators.upsert import (
    EmptyBatchError,
    upsert_append,
)

KEYS = ["crypto_id", "extracted_at"]
SCHEMA = "crypto_id string, price_usd double, extracted_at timestamp"


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


T0 = dt.datetime(2024, 1, 1, 0, 0)
T1 = dt.datetime(2024, 1, 1, 1, 0)


def test_first_write_creates_table(spark, tmp_path):
    path = str(tmp_path / "t")
    n = upsert_append(spark, _batch(spark, [("btc", 1.0, T0)]), path, KEYS)
    assert n == 1
    assert spark.read.parquet(path).count() == 1


def test_rerun_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    batch = _batch(spark, [("btc", 1.0, T0), ("eth", 2.0, T0)])
    assert upsert_append(spark, batch, path, KEYS) == 2
    # identical re-run: nothing inserted, no growth (reference :88)
    assert upsert_append(spark, batch, path, KEYS) == 0
    assert spark.read.parquet(path).count() == 2


def test_overlapping_batch_inserts_only_new_keys(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_append(spark, _batch(spark, [("btc", 1.0, T0)]), path, KEYS)
    n = upsert_append(
        spark,
        _batch(spark, [("btc", 999.0, T0), ("btc", 1.5, T1), ("eth", 2.0, T0)]),
        path,
        KEYS,
    )
    assert n == 2
    table = spark.read.parquet(path)
    assert table.count() == 3
    # existing row untouched: DO NOTHING, not DO UPDATE
    [btc_t0] = table.filter(
        "crypto_id = 'btc' and extracted_at = timestamp'2024-01-01 00:00:00'"
    ).collect()
    assert btc_t0.price_usd == 1.0


def test_within_batch_duplicates_collapse(spark, tmp_path):
    path = str(tmp_path / "t")
    n = upsert_append(
        spark,
        _batch(spark, [("btc", 1.0, T0), ("btc", 1.0, T0)]),
        path,
        KEYS,
    )
    assert n == 1


def test_empty_batch_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(EmptyBatchError):
        upsert_append(spark, _batch(spark, []), path, KEYS)
    assert upsert_append(spark, _batch(spark, []), path, KEYS, allow_empty=True) == 0


def _parquet_files(path):
    return sorted(
        os.path.relpath(os.path.join(root, f), path)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


@pytest.fixture(params=["true", "false"], ids=["aqe_on", "aqe_off"])
def aqe(spark, request):
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", request.param)
    yield
    spark.conf.set("spark.sql.adaptive.enabled", saved)


def test_resend_and_empty_batch_leave_table_untouched(spark, tmp_path, aqe):
    """The written count is observed on top of the barrier's plan; with
    AQE on and off a re-sent batch (every row anti-joined away) counts
    0 and an empty batch still raises, and neither adds a file."""
    path = str(tmp_path / "t")
    batch = _batch(spark, [("btc", 1.0, T0), ("eth", 2.0, T0)])
    assert upsert_append(spark, batch, path, KEYS) == 2
    files = _parquet_files(path)
    assert upsert_append(spark, batch, path, KEYS) == 0
    assert _parquet_files(path) == files
    for empty in (_batch(spark, []), batch.filter(F.lit(False))):
        with pytest.raises(EmptyBatchError):
            upsert_append(spark, empty, path, KEYS)
        assert upsert_append(spark, empty, path, KEYS, allow_empty=True) == 0
    assert _parquet_files(path) == files


def test_reliable_checkpoint_counts_match_default_barrier(spark, tmp_path):
    batches = [
        _batch(spark, [("btc", 1.0, T0), ("eth", 2.0, T0)]),
        _batch(spark, [("btc", 1.0, T0)]),
        _batch(spark, [("btc", 1.0, T0), ("sol", 3.0, T1), ("sol", 3.0, T1)]),
    ]
    local = [upsert_append(spark, b, str(tmp_path / "a"), KEYS) for b in batches]
    reliable = [
        upsert_append(
            spark, b, str(tmp_path / "b"), KEYS, checkpoint_dir=str(tmp_path / "ck")
        )
        for b in batches
    ]
    assert local == reliable == [2, 0, 1]
    assert spark.read.parquet(str(tmp_path / "b")).count() == 3


def test_partitioned_prune_filter_counts(spark, tmp_path):
    """The batch-schema read of a partitioned table still discovers the
    partition column, so ``prune_filter`` on it resolves and the
    anti-join sees the keys of the partitions it keeps."""
    path = str(tmp_path / "t")
    T2 = dt.datetime(2024, 1, 2, 0, 0)

    def dated(rows):
        return _batch(spark, rows).withColumn("dt", F.to_date("extracted_at"))

    first = dated([("btc", 1.0, T0), ("eth", 2.0, T0), ("btc", 1.5, T2)])
    assert upsert_append(spark, first, path, KEYS, partition_by=["dt"]) == 3
    later = F.col("dt") >= F.lit("2024-01-02").cast("date")
    again = dated([("btc", 9.0, T2), ("eth", 2.5, T2)])
    assert upsert_append(
        spark, again, path, KEYS, partition_by=["dt"], prune_filter=later
    ) == 1
    assert upsert_append(
        spark, again, path, KEYS, partition_by=["dt"], prune_filter=later
    ) == 0
    got = sorted((r.crypto_id, str(r.dt)) for r in spark.read.parquet(path).collect())
    assert got == [
        ("btc", "2024-01-01"), ("btc", "2024-01-02"),
        ("eth", "2024-01-01"), ("eth", "2024-01-02"),
    ]


def test_key_type_mismatch_raises(spark, tmp_path):
    """The warehouse's keys are read as the batch's key types; a table
    whose key column has another type fails that read instead of
    counting 0 (or appending a second schema) silently."""
    path = str(tmp_path / "t")
    longs = spark.createDataFrame(
        [(1, 1.0, T0)], "crypto_id long, price_usd double, extracted_at timestamp"
    )
    assert upsert_append(spark, longs, path, KEYS) == 1
    files = _parquet_files(path)
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        upsert_append(spark, _batch(spark, [("1", 1.0, T0)]), path, KEYS)
    assert _parquet_files(path) == files


def test_partitioned_write(spark, tmp_path):
    path = str(tmp_path / "t")
    batch = _batch(spark, [("btc", 1.0, T0), ("eth", 2.0, T1)]).withColumn(
        "dt", F.to_date("extracted_at")
    )
    upsert_append(spark, batch, path, KEYS, partition_by=["dt"])
    assert spark.read.parquet(path).count() == 2


class _FakeJdbc:
    """JdbcSink test double: same read_keys/append surface, backed by
    an in-memory list of rows — proves the anti-join dedup wiring
    without a database."""

    def __init__(self, spark, schema, keys):
        from pyspark.sql import functions as F  # noqa: F401

        self.spark = spark
        self.schema = schema
        self.rows = []

    def read_keys(self, spark, keys):
        return spark.createDataFrame(
            [tuple(r[k] for k in keys) for r in self.rows],
            ", ".join(f"{k} {dict(id='long', day='string')[k]}" for k in keys),
        )

    def append(self, df):
        self.rows.extend(r.asDict() for r in df.collect())


def test_jdbc_sink_options_carry_mode_batchsize_and_projection():
    from crypto_etl_airflow_spark.operators.upsert import JdbcSink

    sink = JdbcSink(
        "jdbc:postgresql://db/warehouse",
        "crypto_prices",
        properties={"driver": "org.postgresql.Driver"},
        batchsize=500,
    )
    w = sink.writer_options()
    assert w["url"] == "jdbc:postgresql://db/warehouse"
    assert w["dbtable"] == "crypto_prices"
    assert w["batchsize"] == "500"
    assert w["driver"] == "org.postgresql.Driver"
    r = sink.reader_options(["crypto_id", "extracted_at"])
    # quoted since r12: unquoted identifiers get case-folded by real
    # engines (see tests/test_jdbc_derby.py)
    assert (
        r["query"] == 'SELECT "crypto_id", "extracted_at" FROM crypto_prices'
    )


def test_jdbc_upsert_is_idempotent_via_fake_sink(spark):
    from crypto_etl_airflow_spark.operators.upsert import upsert_append_sink

    batch = spark.createDataFrame(
        [(1, "a", 1.0), (1, "a", 1.0), (2, "a", 2.0)],
        "id long, day string, v double",
    )
    sink = _FakeJdbc(spark, batch.schema, ["id", "day"])
    assert upsert_append_sink(spark, batch, sink, keys=["id", "day"]) == 2
    # re-run: every key already present -> nothing written
    assert upsert_append_sink(spark, batch, sink, keys=["id", "day"]) == 0
    assert sorted(r["id"] for r in sink.rows) == [1, 2]


def test_merge_replace_keys_updates_and_inserts(spark, tmp_path):
    from crypto_etl_airflow_spark.operators.upsert import merge_replace_keys

    path = str(tmp_path / "t")
    first = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0)], "id long, day string, v double"
    )
    assert merge_replace_keys(spark, first, path, keys=["id", "day"]) == (0, 2)
    # overlap on (1, a) with a NEW value, plus a new key
    second = spark.createDataFrame(
        [(1, "a", 99.0), (3, "a", 3.0)], "id long, day string, v double"
    )
    assert merge_replace_keys(spark, second, path, keys=["id", "day"]) == (1, 1)
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 99.0, 2: 2.0, 3: 3.0}  # updated, untouched, inserted
    # idempotent re-merge: replaces itself, inserts nothing, same data
    assert merge_replace_keys(spark, second, path, keys=["id", "day"]) == (2, 0)
    assert {r.id: r.v for r in spark.read.parquet(path).collect()} == got


def test_merge_recovers_from_crashed_swap(spark, tmp_path):
    """A merge rerun after a mid-swap crash must see the renamed-aside
    table, not rebuild from the batch alone (ADVICE r2)."""
    import os

    from crypto_etl_airflow_spark.operators.upsert import merge_replace_keys

    path = str(tmp_path / "t")
    first = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0)], "id long, day string, v double"
    )
    merge_replace_keys(spark, first, path, keys=["id", "day"])
    # simulate the crash window: live dir renamed aside, new never landed
    os.rename(path, os.path.join(os.path.dirname(path), ".__aside.t"))
    second = spark.createDataFrame([(3, "a", 3.0)], "id long, day string, v double")
    assert merge_replace_keys(spark, second, path, keys=["id", "day"]) == (0, 1)
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}  # old rows survived the crash


def test_merge_n_replaced_counts_distinct_keys_with_duplicates(spark, tmp_path):
    """If the existing table carries duplicate keys (written outside
    upsert_append), n_replaced counts MATCHED KEYS, and n_inserted
    stays non-negative (ADVICE r2)."""
    from crypto_etl_airflow_spark.operators.upsert import merge_replace_keys

    path = str(tmp_path / "t")
    # duplicate key (1, a) written directly, bypassing the upsert path
    spark.createDataFrame(
        [(1, "a", 1.0), (1, "a", 1.5), (2, "a", 2.0)],
        "id long, day string, v double",
    ).write.parquet(path)
    batch = spark.createDataFrame([(1, "a", 99.0)], "id long, day string, v double")
    n_replaced, n_inserted = merge_replace_keys(spark, batch, path, keys=["id", "day"])
    assert (n_replaced, n_inserted) == (1, 0)  # one KEY replaced, not two rows
    got = sorted((r.id, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(1, 99.0), (2, 2.0)]  # both duplicate rows collapsed


def test_merge_partition_pruned_leaves_untouched_partitions_byte_identical(
    spark, tmp_path
):
    """Partition-pruned merge: only partitions the batch touches are
    rewritten; other partitions' files are bit-for-bit untouched."""
    import os

    from crypto_etl_airflow_spark.operators.upsert import merge_replace_keys

    path = str(tmp_path / "t")
    first = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "b", 4.0)],
        "id long, day string, v double",
    )
    merge_replace_keys(spark, first, path, keys=["id", "day"], partition_by=["day"])

    def _files(part):
        d = os.path.join(path, f"day={part}")
        return {
            f: open(os.path.join(d, f), "rb").read()
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        }

    before_b = _files("b")
    batch = spark.createDataFrame(
        [(1, "a", 99.0), (5, "a", 5.0)], "id long, day string, v double"
    )
    assert merge_replace_keys(
        spark, batch, path, keys=["id", "day"], partition_by=["day"]
    ) == (1, 1)
    assert _files("b") == before_b  # untouched partition: same files, same bytes
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 99.0, 2: 2.0, 3: 3.0, 4: 4.0, 5: 5.0}


def test_merge_with_reliable_checkpoint_dir(spark, tmp_path):
    from crypto_etl_airflow_spark.operators.upsert import merge_replace_keys

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    first = spark.createDataFrame([(1, "a", 1.0)], "id long, day string, v double")
    assert merge_replace_keys(
        spark, first, path, keys=["id", "day"], checkpoint_dir=ckpt
    ) == (0, 1)
    second = spark.createDataFrame([(1, "a", 2.0)], "id long, day string, v double")
    assert merge_replace_keys(
        spark, second, path, keys=["id", "day"], checkpoint_dir=ckpt
    ) == (1, 0)
    assert [r.v for r in spark.read.parquet(path).collect()] == [2.0]


def test_merge_partitioned_swap_kill_at_every_fs_op(spark, tmp_path):
    """Kill-point property test (VERDICT r5 item 7): interrupt the
    partition-pruned merge swap at EVERY python-side filesystem
    operation (rename/rmtree — exhaustive, strictly stronger than a
    random sample), then assert:

    1. after crash + recover_tree, every partition reads as wholly
       PRE-merge or wholly POST-merge rows — never mixed, never lost;
    2. re-running the identical merge converges to exactly the
       post-merge table.
    """
    import os as _os
    import shutil as _shutil

    from crypto_etl_airflow_spark.operators.compact import recover_tree
    from crypto_etl_airflow_spark.operators.upsert import merge_replace_keys

    schema = "id long, day string, v double"
    pre_rows = [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "c", 4.0)]
    batch_rows = [(2, "a", 20.0), (3, "b", 30.0), (5, "b", 5.0)]
    pre = {"a": {(1, 1.0), (2, 2.0)}, "b": {(3, 3.0)}, "c": {(4, 4.0)}}
    post = {"a": {(1, 1.0), (2, 20.0)}, "b": {(3, 30.0), (5, 5.0)}, "c": {(4, 4.0)}}

    def read_state(path):
        state: dict[str, set] = {}
        for r in spark.read.parquet(path).collect():
            state.setdefault(r.day, set()).add((r.id, r.v))
        return state

    class Kill(Exception):
        pass

    base = str(tmp_path)
    real_rename, real_rmtree = _os.rename, _shutil.rmtree
    killed_any = False
    kill_at = 0
    while kill_at < 50:  # safety bound; loop exits when a run completes
        kill_at += 1
        path = str(tmp_path / f"t{kill_at}")
        spark.createDataFrame(pre_rows, schema).write.partitionBy(
            "day"
        ).parquet(path)
        counter = {"n": 0}

        def fault():
            counter["n"] += 1
            if counter["n"] >= kill_at:
                raise Kill()

        def rename(src, dst, *a, **k):
            if str(src).startswith(base):
                fault()
            return real_rename(src, dst, *a, **k)

        def rmtree(p, *a, **k):
            if str(p).startswith(base):
                fault()
            return real_rmtree(p, *a, **k)

        batch = spark.createDataFrame(batch_rows, schema)
        _os.rename, _shutil.rmtree = rename, rmtree
        try:
            merge_replace_keys(
                spark, batch, path, keys=["id", "day"], partition_by=["day"]
            )
            survived = True
        except Kill:
            survived = False
        finally:
            _os.rename, _shutil.rmtree = real_rename, real_rmtree

        if survived:
            assert read_state(path) == post
            break
        killed_any = True
        # crash landed at fs-op #kill_at. Inspect a COPY of the
        # crashed tree (heal + per-partition pre-XOR-post: no
        # partition may be mixed, partial, or lost)...
        snap = str(tmp_path / f"t{kill_at}__snap")
        real_copytree = _shutil.copytree
        real_copytree(path, snap)
        recover_tree(snap)
        state = read_state(snap)
        assert set(state) == {"a", "b", "c"}, f"kill@{kill_at}: lost a partition"
        for day in state:
            assert state[day] in (pre[day], post[day]), (
                f"kill@{kill_at}: partition {day} mixed: {state[day]}"
            )
        # ...and re-run the identical merge on the UNHEALED original:
        # merge_replace_keys must self-heal the crashed swap and
        # converge to exactly the post-merge table
        merge_replace_keys(
            spark,
            spark.createDataFrame(batch_rows, schema),
            path,
            keys=["id", "day"],
            partition_by=["day"],
        )
        assert read_state(path) == post, f"kill@{kill_at}: rerun diverged"
    assert killed_any  # the fault injector actually exercised kill points


def test_upsert_append_heals_crashed_partition_swap(spark, tmp_path):
    """upsert_append must heal a crashed leaf-partition swap before
    its anti-join read: the partition's only copy sits hidden under
    its .__aside. sibling, the existing keys go unseen, and the
    append would insert duplicate keys."""
    import os

    path = str(tmp_path / "t")
    first = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, day string, v double"
    )
    assert upsert_append(
        spark, first, path, keys=["id", "day"], partition_by=["day"]
    ) == 2
    # simulate the leaf crash window: partition dir renamed aside
    os.rename(f"{path}/day=a", f"{path}/.__aside.day=a")
    again = spark.createDataFrame(
        [(1, "a", 99.0), (3, "a", 3.0)], "id long, day string, v double"
    )
    # key (1, a) exists (behind the aside dir) -> only (3, a) inserts
    assert upsert_append(
        spark, again, path, keys=["id", "day"], partition_by=["day"]
    ) == 1
    got = sorted((r.id, r.day, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]
