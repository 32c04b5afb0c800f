"""S3 conditional-put claim backend
(operators/txlog.py::S3ConditionalPutClaim) against moto's S3: the
``If-None-Match: *`` CAS must admit exactly one writer per name,
never clobber the winner's payload, and surface environment failures
instead of reporting them as lost races."""

import threading

import pytest

boto3 = pytest.importorskip("boto3")
moto = pytest.importorskip("moto")

from moto import mock_aws  # noqa: E402

from crypto_etl_airflow_spark.operators.txlog import (  # noqa: E402
    S3ConditionalPutClaim,
)

BUCKET = "txlog-test"


@pytest.fixture()
def s3(monkeypatch):
    # moto checks ``If-None-Match`` and stores the key in two separate
    # steps of S3Response.put_object, so two racing threads can both
    # pass the check; real S3 makes the conditional put atomic. One
    # lock around moto's put restores that, so the race tests check
    # the claim backend rather than the mock.
    from moto.s3.responses import S3Response

    lock = threading.Lock()
    put_object = S3Response.put_object

    def atomic_put_object(self):
        with lock:
            return put_object(self)

    monkeypatch.setattr(S3Response, "put_object", atomic_put_object)
    with mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket=BUCKET)
        yield client


def test_single_claim_roundtrip(s3):
    backend = S3ConditionalPutClaim(BUCKET, prefix="tables/t1", client=s3)
    assert backend.claim("_txlog", "000001.json", '{"v": 1}') is True
    body = s3.get_object(
        Bucket=BUCKET, Key="tables/t1/_txlog/000001.json"
    )["Body"].read()
    assert body == b'{"v": 1}'


def test_loser_reports_false_and_never_clobbers(s3):
    backend = S3ConditionalPutClaim(BUCKET, client=s3)
    assert backend.claim("_txlog", "000002.json", "winner") is True
    assert backend.claim("_txlog", "000002.json", "loser") is False
    body = s3.get_object(Bucket=BUCKET, Key="_txlog/000002.json")[
        "Body"
    ].read()
    assert body == b"winner"


def test_distinct_names_all_win(s3):
    backend = S3ConditionalPutClaim(BUCKET, client=s3)
    assert backend.claim("_txlog", "000003.json", "a") is True
    assert backend.claim("_txlog", "000004.json", "b") is True


def test_racing_writers_exactly_one_winner(s3):
    backend = S3ConditionalPutClaim(BUCKET, client=s3)
    results: dict[int, bool] = {}
    barrier = threading.Barrier(4)

    def writer(i: int) -> None:
        barrier.wait()
        results[i] = backend.claim("_txlog", "000005.json", f"writer-{i}")

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sum(results.values()) == 1
    winner = next(i for i, won in results.items() if won)
    body = s3.get_object(Bucket=BUCKET, Key="_txlog/000005.json")[
        "Body"
    ].read()
    assert body == f"writer-{winner}".encode()


def test_environment_failure_surfaces_not_false(s3):
    from botocore.exceptions import ClientError

    backend = S3ConditionalPutClaim("no-such-bucket", client=s3)
    with pytest.raises(ClientError):
        backend.claim("_txlog", "000001.json", "x")


def test_list_and_read_log_protocol(s3):
    backend = S3ConditionalPutClaim(BUCKET, prefix="tables/t2", client=s3)
    assert backend.claim("/data/tbl/_txlog", "000001.json", "one")
    assert backend.claim("/data/tbl/_txlog", "000002.json", "two")
    # a DirRenameClaim-form key from a migrated log lists as its
    # first path segment, exactly like os.listdir
    s3.put_object(
        Bucket=BUCKET,
        Key="tables/t2/data/tbl/_txlog/000003.json.d/payload",
        Body=b"three",
    )
    names = sorted(backend.list_log("/data/tbl/_txlog"))
    assert names == ["000001.json", "000002.json", "000003.json.d"]
    assert backend.read_log_text("/data/tbl/_txlog", "000002.json") == "two"
    assert (
        backend.read_log_text("/data/tbl/_txlog", "000003.json.d/payload")
        == "three"
    )
    assert backend.read_log_text("/data/tbl/_txlog", "missing.json") is None


def test_end_to_end_append_read_with_s3_log(s3, spark, tmp_path):
    """The full protocol with the LOG in S3 and delta parquet on the
    engine's filesystem: append-if-absent twice (second batch half
    duplicate), snapshot + history resolve from S3, version
    allocation sees S3 state — no commit JSON ever touches the local
    log dir."""
    import os

    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.operators.txlog import (
        tx_append_if_absent,
        tx_history,
        tx_read,
    )

    backend = S3ConditionalPutClaim(BUCKET, prefix="tables/e2e", client=s3)
    path = str(tmp_path / "tbl")
    b1 = spark.range(0, 4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    r1 = tx_append_if_absent(spark, b1, path, ["k"], backend=backend)
    assert r1["version"] == 1 and r1["rows_written"] == 4
    b2 = spark.range(2, 6).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    r2 = tx_append_if_absent(spark, b2, path, ["k"], backend=backend)
    assert r2["version"] == 2 and r2["rows_written"] == 2  # 4,5 only
    snap = tx_read(spark, path, backend=backend)
    assert sorted(r["k"] for r in snap.collect()) == [0, 1, 2, 3, 4, 5]
    hist = tx_history(path, backend=backend)
    assert [c["version"] for c in hist] == [1, 2]
    # the local log dir stayed empty — S3 holds the commits
    assert os.listdir(os.path.join(path, "_txlog")) == []
    assert tx_read(spark, path) is None  # default backend sees no log


def test_vacuum_refuses_without_the_right_backend(s3, spark, tmp_path):
    """The data-loss footgun: vacuuming an S3-logged table WITHOUT
    its backend resolves zero commits and would classify every
    committed delta dir as an aged orphan. The guard refuses
    (returns []) whenever no commit is visible but data dirs exist;
    with the right backend the live set resolves and committed data
    survives any retention window."""
    import os

    from pyspark.sql import functions as F

    from crypto_etl_airflow_spark.operators.txlog import (
        tx_append_if_absent,
        tx_read,
        tx_vacuum,
    )

    backend = S3ConditionalPutClaim(BUCKET, prefix="tables/vac", client=s3)
    path = str(tmp_path / "tbl")
    b = spark.range(0, 3).select(
        F.col("id").alias("k"), F.col("id").alias("val")
    )
    assert tx_append_if_absent(spark, b, path, ["k"], backend=backend)[
        "version"
    ] == 1
    # wrong (default POSIX) backend + zero retention: must refuse
    assert tx_vacuum(path, retain_seconds=0.0) == []
    # right backend + zero retention: the delta is LIVE, not residue
    assert tx_vacuum(path, retain_seconds=0.0, backend=backend) == []
    assert sorted(
        r["k"] for r in tx_read(spark, path, backend=backend).collect()
    ) == [0, 1, 2]
    assert len(os.listdir(os.path.join(path, "delta"))) == 1
