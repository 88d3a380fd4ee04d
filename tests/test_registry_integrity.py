"""Registry-wide integrity net: every entry documented, every oracle
binds in DuckDB (EXPLAIN only — catches SQL bitrot without running
anything), names stay stable snake_case and unique, and the registry
order does not depend on which query module is imported first."""

from __future__ import annotations

import re

import duckdb
import pytest

from gan_deeplearning4j_spark.io import TABLES
from gan_deeplearning4j_spark.queries import REGISTRY

from registry_waves import (
    assert_wave_in_window,
    assert_wave_oracles_bind,
    assert_wave_registered,
)


def test_every_query_is_documented_and_named_sanely():
    for name, q in REGISTRY.items():
        assert re.fullmatch(r"[a-z][a-z0-9_]+", name), name
        assert q.doc and len(q.doc) > 40, f"{name} lacks a real doc"


def test_every_oracle_binds_in_duckdb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    bad = []
    for name, q in REGISTRY.items():
        if not q.oracle:
            continue
        try:
            con.sql("EXPLAIN " + q.oracle)
        except Exception as exc:  # noqa: BLE001
            bad.append((name, str(exc)[:120]))
    assert not bad, bad


def test_rows_only_queries_are_the_documented_set():
    rows_only = {n for n, q in REGISTRY.items() if not q.oracle}
    # bpe_train_merges / bpe_tokenize_stats retired in r9 (rows-only
    # shadows of the hash-grade *_fixed twins; r8 verdict ask #7).
    # r10 (r9 verdict ask #7): pq_topk/ivfpq_topk retired (coverage folded
    # into the hash-grade fixed twins + operator recall tests),
    # multimodal_features/audio_features promoted to golden fixed-point
    # oracles. r12 (r11 verdict ask #1): the final five promoted to
    # guarantee-bracket / shape-bracket oracles in place (the
    # ★hll_sketch_union_bracket house pattern) — approx_quantiles
    # (accuracy=1000 rank-error band at p50/p95/p99), approx_distinct
    # (global rsd=0.01 5-sigma band), hll_mergeable_daily_users (weekly
    # re-union 5% band), heavy_hitters_approx (KSP superset-recall flag
    # over the exact top-20), gan_grid_inference (shape/range/order
    # bracket; exact values stay pinned by the ★ fixed twin). The
    # registry is now 100% oracled: no driver window can record an
    # `err: no_oracle` row.
    assert rows_only == set()


def test_queries_ordering_contract():
    """queries() must return every registered query exactly once, with the
    documented least-verified-first policy: all never-green entries before
    any green one, oracled never-green before rows-only never-green."""
    from gan_deeplearning4j_spark.queries import (
        REGISTRY,
        _verification_evidence,
        queries,
    )

    ordered = list(queries())
    assert sorted(ordered) == sorted(REGISTRY)  # a permutation, no loss
    ev = _verification_evidence()
    seen_green = False
    seen_rows_only_never = False
    for name in ordered:
        green = name in ev
        if green:
            seen_green = True
        else:
            assert not seen_green, f"never-green {name} after a green entry"
            if REGISTRY[name].oracle is None:
                seen_rows_only_never = True
            else:
                assert not seen_rows_only_never, (
                    f"oracled never-green {name} after rows-only never-green"
                )


def test_headline_set_is_stable_and_registered():
    """bench.py times REGISTRY entries flagged headline; the set must stay
    non-trivial and every member must be a registered, runnable query (the
    driver's BENCH_r{N} comparisons depend on name stability)."""
    from gan_deeplearning4j_spark.queries import REGISTRY, headline_queries

    hs = headline_queries()
    assert len(hs) >= 10
    assert set(hs) <= set(REGISTRY)
    # the long-standing comparison anchors must never be renamed
    for anchor in ("tpch_q1_pricing", "tpch_q3_shipping", "minhash_dedup",
                   "embedding_neardup_lsh", "topk_per_group"):
        assert anchor in hs, anchor


def test_driver_window_covers_every_unverified_entry():
    """Window contract: the driver checks the first ~50 `queries()` entries
    per round, so every entry without a green driver row must sit inside
    them — never-green entries form a strict prefix of at most 50."""
    assert_wave_in_window()
    # the five bracket-oracle promotions stay oracled: their old
    # rows-only evidence must not count as green for an oracled query
    for name in ("approx_quantiles", "approx_distinct",
                 "heavy_hitters_approx", "hll_mergeable_daily_users",
                 "gan_grid_inference"):
        assert REGISTRY[name].oracle is not None, name


def test_register_rejects_duplicate_name():
    """A second registration under a live name raises and leaves the
    registry untouched — an overwrite would ship one query under another
    query's name."""
    from gan_deeplearning4j_spark.registry import register

    before = dict(REGISTRY)
    try:
        with pytest.raises(ValueError, match="argmax_accuracy"):
            register("argmax_accuracy", oracle="SELECT 1",
                     doc="duplicate")(lambda spark, sf_dir: None)
        assert list(REGISTRY.items()) == list(before.items())
    finally:
        REGISTRY.clear()
        REGISTRY.update(before)


def test_r7_wave_is_registered():
    """Every queries_r7 query is live in the registry with an oracle and
    a doc, registered with the module's own builder object."""
    assert_wave_registered("queries_r7")


def test_r7_driver_window_covers_every_unverified_entry():
    """Every unverified queries_r7 query sits inside the driver's first
    50 `queries()` positions."""
    assert_wave_in_window("queries_r7")


def test_r8_wave_is_registered():
    """Every queries_r8 query is live in the registry with an oracle and
    a doc, registered with the module's own builder object."""
    assert_wave_registered("queries_r8")


def test_r8_driver_window_covers_every_unverified_entry():
    """Every unverified queries_r8 query sits inside the driver's first
    50 `queries()` positions."""
    assert_wave_in_window("queries_r8")


def test_r9_wave_is_registered():
    """Every queries_r9 query is live in the registry with an oracle and
    a doc, registered with the module's own builder object."""
    assert_wave_registered("queries_r9")


def test_r9_driver_window_covers_every_unverified_entry():
    """Every unverified queries_r9 query sits inside the driver's first
    50 `queries()` positions."""
    assert_wave_in_window("queries_r9")


def test_r10_wave_is_registered():
    """Every queries_r10 query is live in the registry with an oracle and
    a doc, registered with the module's own builder object."""
    assert_wave_registered("queries_r10")


def test_r10_driver_window_covers_every_unverified_entry():
    """Every unverified queries_r10 query sits inside the driver's first
    50 `queries()` positions."""
    assert_wave_in_window("queries_r10")


def test_r11_wave_is_registered():
    """Every queries_r11 query is live in the registry with an oracle and
    a doc, registered with the module's own builder object."""
    assert_wave_registered("queries_r11")


def test_r11_driver_window_covers_every_unverified_entry():
    """Every unverified queries_r11 query sits inside the driver's first
    50 `queries()` positions."""
    assert_wave_in_window("queries_r11")


def test_r11_staged_oracles_bind_in_duckdb(sf_dir):
    """Every queries_r11 oracle binds in DuckDB (EXPLAIN only)."""
    assert_wave_oracles_bind("queries_r11", sf_dir)


def test_r12_wave_is_registered():
    """Every queries_r12 query is live in the registry with an oracle and
    a doc, registered with the module's own builder object."""
    assert_wave_registered("queries_r12")


def test_r12_driver_window_covers_every_unverified_entry():
    """Every unverified queries_r12 query sits inside the driver's first
    50 `queries()` positions."""
    assert_wave_in_window("queries_r12")


def test_r13_wave_is_registered():
    """Every queries_r13 query is live in the registry with an oracle and
    a doc, registered with the module's own builder object."""
    assert_wave_registered("queries_r13")


def test_r13_driver_window_covers_every_unverified_entry():
    """Every unverified queries_r13 query sits inside the driver's first
    50 `queries()` positions."""
    assert_wave_in_window("queries_r13")


# Ordered registry fingerprint: name, oracle, headline flag, doc, defining
# function and its bytecode, in REGISTRY order.
_FINGERPRINT = r"""
import hashlib
from gan_deeplearning4j_spark.queries import REGISTRY
h = hashlib.sha256()
for name, q in REGISTRY.items():
    h.update("\x1f".join([name, q.oracle or "", str(q.headline), q.doc,
                           q.fn.__module__, q.fn.__qualname__]).encode()
             + q.fn.__code__.co_code + b"\x1e")
print(len(REGISTRY), h.hexdigest()[:16])
"""


def test_direct_import_of_any_query_module_works():
    """Whichever query module a fresh interpreter imports first, the
    registry ends up complete and in the same order: same names, oracles,
    docs and builders, position by position."""
    import pathlib
    import subprocess
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from gan_deeplearning4j_spark.queries import QUERY_MODULES

    mods = ["gan_deeplearning4j_spark.queries"] + [
        m.__name__ for m in QUERY_MODULES]
    assert len(mods) == 16

    def run(mod):
        return subprocess.run(
            [sys.executable, "-c", f"import {mod}\n" + _FINGERPRINT],
            cwd=str(pathlib.Path(__file__).resolve().parents[1]),
            capture_output=True, text=True, timeout=300,
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        outs = dict(zip(mods, pool.map(run, mods)))
    for mod, out in outs.items():
        assert out.returncode == 0, (mod, out.stderr[-1500:])
    prints = {mod: out.stdout.strip() for mod, out in outs.items()}
    want = prints["gan_deeplearning4j_spark.queries"]
    assert want.split()[0] == str(len(REGISTRY)), want
    assert {m: p for m, p in prints.items() if p != want} == {}, want
