"""Declared query surface: one named entry per engine operator.

Every operator the engine claims (SURVEY.md §2) registers here as a
``QuerySpec``: a Spark builder ``(spark, sf_dir) -> DataFrame`` plus,
where the semantics are ANSI-SQL-expressible, an equivalent DuckDB
oracle SQL string. The driver harness compares the two at sf=0.01
(row count + schema + order-insensitive value hash), so:

- every computed column is aliased to the SAME name in both forms;
- double aggregates are rounded in both forms (identical IEEE inputs
  can still sum in different orders across engines);
- ordered-with-LIMIT queries always order by a total key so top-k is
  deterministic in both engines.

Builders take ``sf_dir`` and read parquet directly — no shared session
state, so any subset of queries can run in any order.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None = None  # DuckDB SQL; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[Builder], Builder]:
    """Decorator: register a builder under ``name``."""

    def wrap(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""),
            tags=tags, bench=bench,
        )
        return fn

    return wrap


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from . import (  # noqa: F401
        analytics,
        curation,
        extensions,
        parity,
        pipeline_curate,
        relational,
        retrieval,
        streaming_plans,
        tpch_more,
    )


# Certification priority: the external driver verifies queries in the
# order this registry emits them and caps how many it runs per round
# (50 in every round so far), so ordering IS the rotation policy.
# Through round 8 this was a hand-maintained list, which VERDICT r7
# item 3 correctly called structurally unable to keep a growing
# surface fresh. It is now COMPUTED from the driver's own
# CORRECTNESS_r*.json artifacts at the repo root:
#
#   1. queries with no driver row yet, or whose LATEST row is red
#      (new or broken — must certify first);
#   2. everything else by ascending latest-green round (stalest
#      first), registration order as the tiebreak.
#
# Each round's certifications age the freshest queries to the back
# automatically, so with a 50-slot cap and N queries the maximum
# staleness is bounded at ceil(N/50) rounds with zero upkeep.
# `_PIN_FIRST` remains as a manual escape hatch (jump the queue
# without waiting for a red row to land).
_PIN_FIRST: list[str] = []


# cache keyed on (root, artifact paths+mtimes): all_specs() is called
# by every sweep/bench/driver entry point, and re-globbing + re-parsing
# every CORRECTNESS_r*.json per call is wasted work (ADVICE r8). A
# changed/added artifact changes the key, so freshness is preserved.
_ROWS_CACHE: dict[tuple, dict[str, tuple[int, bool]]] = {}


def _latest_driver_rows(root: Path) -> dict[str, tuple[int, bool]]:
    """query name → (round, green) of its most recent driver row.
    Green = hash match, or rows-only match for queries the driver
    checks without an oracle."""
    paths = sorted(root.glob("CORRECTNESS_r*.json"))
    if not paths:
        # installed outside a repo checkout (no artifacts): rotation
        # degrades to registration order — say so once rather than
        # silently (ADVICE r8)
        import warnings

        warnings.warn(
            f"no CORRECTNESS_r*.json under {root}; certification "
            "rotation falls back to registration order",
            stacklevel=2,
        )
        return {}
    key = (str(root), tuple((str(p), p.stat().st_mtime_ns) for p in paths))
    hit = _ROWS_CACHE.get(key)
    if hit is not None:
        return hit
    out = _scan_driver_rows(paths)
    _ROWS_CACHE.clear()  # keep at most one entry per process
    _ROWS_CACHE[key] = out
    return out


def _scan_driver_rows(paths: list[Path]) -> dict[str, tuple[int, bool]]:
    out: dict[str, tuple[int, bool]] = {}
    for p in paths:
        m = re.search(r"r(\d+)$", p.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") is True or (
                row.get("hash_match") is None
                and row.get("rows_match") is True
            )
            prev = out.get(name)
            if prev is None or rnd >= prev[0]:
                out[name] = (rnd, green)
    return out


def certification_order(
    names: list[str], root: Path | None = None
) -> list[str]:
    if root is None:
        root = Path(__file__).resolve().parents[2]
    latest = _latest_driver_rows(Path(root))
    reg_rank = {n: i for i, n in enumerate(names)}
    pin = {n: i for i, n in enumerate(_PIN_FIRST)}

    def key(n: str) -> tuple[int, int, int]:
        if n in pin:
            return (0, pin[n], 0)
        row = latest.get(n)
        if row is None or not row[1]:  # never certified / latest red
            return (1, 0, reg_rank[n])
        return (2, row[0], reg_rank[n])  # stalest green first

    return sorted(names, key=key)


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    ordered = certification_order(list(_REGISTRY))
    return {name: _REGISTRY[name] for name in ordered}


def get(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]


def query_map() -> dict[str, Builder]:
    """name → builder for every registered query. The builders are
    the registered functions themselves: building a query never
    writes session conf, so any subset can run in any order (or from
    concurrent threads) under the caller's own session settings."""
    return {name: spec.builder for name, spec in all_specs().items()}


def oracle_map() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
