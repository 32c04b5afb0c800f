"""The engine's one lineage barrier (operators/barrier.py): both fault
postures give the same rows and count, and no other module takes a
checkpoint of its own."""

import ast
import os
from pathlib import Path

from pyspark.sql import functions as F

from crypto_etl_airflow_spark.operators.barrier import counted_barrier

PKG = Path(__file__).resolve().parents[1] / "crypto_etl_airflow_spark"
_CHECKPOINT_CALLS = {"localCheckpoint", "checkpoint", "setCheckpointDir"}


def _frame(spark):
    return (
        spark.range(0, 200, numPartitions=4)
        .withColumn("k", F.col("id") % 7)
        .filter(F.col("id") % 3 != 0)
    )


def test_local_and_reliable_barriers_agree(spark, tmp_path):
    ckpt = tmp_path / "ckpt"
    want = sorted(map(tuple, _frame(spark).collect()))

    local, n_local = counted_barrier(_frame(spark))
    reliable, n_reliable = counted_barrier(_frame(spark), str(ckpt))
    assert n_local == n_reliable == len(want) == 133
    assert sorted(map(tuple, local.collect())) == want
    assert sorted(map(tuple, reliable.collect())) == want
    # the reliable checkpoint's data files live beneath checkpoint_dir
    assert [f for _, _, fs in os.walk(ckpt) for f in fs]


def test_only_the_barrier_module_checkpoints():
    """Every local or reliable checkpoint in the package goes through
    operators/barrier.py: no other module calls ``localCheckpoint``,
    ``checkpoint`` or ``setCheckpointDir``."""
    owners = set()
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _CHECKPOINT_CALLS
            ):
                owners.add(str(path.relative_to(PKG)))
    assert owners == {os.path.join("operators", "barrier.py")}
