"""The vector-family DuckDB oracles, checked with DuckDB alone (no
Spark session), so the IVF mirrors whose Spark parity cases sit in
the slow tier still have a fast-tier guard.

Full-probe invariance: probing every list of an IVF index searches
every vector, so the IVF oracles assembled from the shared emitters
must reproduce the exhaustive oracles row for row."""

from pathlib import Path

import pytest

from crypto_etl_airflow_spark.plans.extensions import _ivf_oracle, _ivfsq_oracle
from crypto_etl_airflow_spark.plans.registry import get

from .conftest import SF_SMOKE
from .oracle import _sorted_rows, duckdb_rows

PLANS = Path(__file__).resolve().parents[1] / "crypto_etl_airflow_spark" / "plans"


def _rows(sql: str) -> list[tuple]:
    return _sorted_rows(*duckdb_rows(sql, SF_SMOKE))


def test_full_probe_ivf_equals_bruteforce():
    ivf = _rows(_ivf_oracle(nprobe=16))
    assert len(ivf) == 250
    assert ivf == _rows(get("similarity_topk_bruteforce").oracle)


def test_full_probe_ivfsq_equals_reconstruction_bruteforce():
    cols, rows = duckdb_rows(_ivfsq_oracle(nprobe=16), SF_SMOKE)
    probe = cols.index("probe_id")
    sliced = _sorted_rows(cols, [r for r in rows if r[probe] < 20])
    assert len(sliced) == 100
    assert sliced == _rows(get("similarity_topk_ivfsq_rebalanced").oracle)


@pytest.mark.parametrize(
    "fragment",
    [
        "PARTITION BY v.vec_id",  # nearest-centroid window
        "/ (sqrt(list_dot_product(",  # cosine
        "DESC, neighbor_id) AS rank",  # per-probe top-k tail
        "floor((x - mn) / scale + 0.5)",  # SQ8 reconstruction
        "md5('rhp-'",  # random-hyperplane planes
    ],
)
def test_vector_oracle_fragment_is_written_once(fragment):
    hits = [
        f"{p.name}:{i}"
        for p in sorted(PLANS.glob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if fragment in line
    ]
    assert len(hits) == 1, hits
