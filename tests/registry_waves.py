"""Per-module checks on the query registry, shared by
test_registry_integrity.py and the test_queries_r14..r17 files.

A "wave" is the set of queries one ``queries_rN`` module defines: the
registry entries whose builder lives in that module.
"""

from __future__ import annotations

import importlib

import duckdb

from gan_deeplearning4j_spark.io import TABLES
from gan_deeplearning4j_spark.queries import (
    REGISTRY,
    _verification_evidence,
    queries,
)

# How many queries each module defines; a dropped registration shows up
# as a short wave.
WAVE_SIZES = {
    "queries_r7": 50, "queries_r8": 47, "queries_r9": 36, "queries_r10": 33,
    "queries_r11": 17, "queries_r12": 11, "queries_r13": 8, "queries_r14": 8,
    "queries_r15": 10, "queries_r16": 6, "queries_r17": 4,
}


def wave(module: str):
    mod = importlib.import_module(f"gan_deeplearning4j_spark.{module}")
    return mod, {name: q for name, q in REGISTRY.items()
                 if q.fn.__module__ == mod.__name__}


def assert_wave_registered(module: str) -> None:
    """Every query of ``module`` is live: the full count, each with an
    oracle and a doc, registered with the module's own builder object."""
    mod, qs = wave(module)
    assert len(qs) == WAVE_SIZES[module], sorted(qs)
    for name, q in qs.items():
        assert q.oracle and q.doc, name
        assert getattr(mod, q.fn.__name__) is q.fn, name


def assert_wave_in_window(*modules: str) -> None:
    """The driver checks the first ~50 `queries()` entries per round:
    never-green entries form a strict prefix of at most 50, and every
    query of ``modules`` is either green or inside it."""
    ordered = list(queries())
    ev = _verification_evidence()
    never = [n for n in ordered if n not in ev]
    assert len(never) <= 50, (
        f"{len(never)} unverified entries exceed the ~50/round driver "
        "window; the tail would slip to the next round"
    )
    assert ordered[: len(never)] == never
    for module in modules:
        for name in wave(module)[1]:
            assert name in ev or name in never[:50], name


def assert_wave_oracles_bind(module: str, sf_dir: str) -> None:
    """Every oracle of ``module`` binds in DuckDB (EXPLAIN only)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    bad = []
    for name, q in wave(module)[1].items():
        assert q.oracle, name
        try:
            con.sql("EXPLAIN " + q.oracle)
        except Exception as exc:  # noqa: BLE001
            bad.append((name, str(exc)[:120]))
    assert not bad, bad
