"""Deterministic benchmark inputs.

Two kinds of input, both written under the benchmark's own data directory:

* ``build_tables(scale)`` - the ten TPC-H-shaped + curation tables the registry's
  queries read (``region`` ... ``embeddings``), generated from a FIXED seed
  so every checkout builds the same corpus and the recorded oracle digests
  in ``expected.json`` apply.  ``scale`` follows the TPC-H scale factor:
  0.1 gives 600,000 lineitem rows, 5,000 documents and 2,000 embeddings.
  Column types, value domains and the near-duplicate structure of the
  documents (5% are an earlier document plus the token ``dup``) mirror the
  synthetic tables the registry's oracles were verified on.
* ``gan_arrays(seed, n)`` + ``write_csv`` - MNIST-shaped headerless CSVs (784 pixels in
  [0, 1] with three decimals, then the integer label), generated from the
  benchmark seed, the way ``gan.ipynb`` exports its train/test sets.

Every build records a content digest: a sha256 over the canonical row
content (not the file bytes), so two builds with equal digests hold equal
data whatever parquet writer produced them.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42  # fixed: the corpus never depends on the benchmark seed

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
_NOUN = ["ring", "bolt", "plate", "anvil", "gear", "nut", "pipe", "spring"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _int32(a):
    return pa.array(np.asarray(a, dtype=np.int32))


def build_tables(scale: float, seed: int = CORPUS_SEED) -> dict[str, pa.Table]:
    """The ten registry tables at TPC-H scale factor ``scale``."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 100)
    n_line = max(int(6_000_000 * scale), 400)
    n_ev = max(int(1_000_000 * scale), 500)
    n_users = max(int(15_000 * scale), 20)
    n_docs = max(int(50_000 * scale), 200)
    n_vec = max(int(20_000 * scale), 200)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": _int32(range(5)), "r_name": pa.array(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": _int32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": _int32([i % 5 for i in range(25)])})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": _int32(rng.integers(0, 25, n_cust)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": _int32(rng.integers(0, 25, n_supp)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _TYPES, n_part),
        "p_size": _int32(rng.integers(1, 51, n_part)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": _int32(rng.integers(1, 8, n_line)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array((start_us + offs).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.asarray([len(x) for x in texts], dtype=np.int64))})
    v = rng.standard_normal((n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": _int32(rng.integers(0, 10, n_vec))})
    return t


def table_digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over every table's name, schema and Arrow IPC row content."""
    h = hashlib.sha256()
    for name in sorted(tables):
        tab = tables[name].combine_chunks()
        h.update(name.encode())
        h.update(str(tab.schema).encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tab.schema) as w:
            w.write_table(tab)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group snappy parquet file per table, written to a
    sibling temp dir and renamed into place, so a half-built corpus never
    looks complete."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(tab.num_rows, 1))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def gan_arrays(seed: int, n_rows: int) -> tuple[np.ndarray, np.ndarray]:
    """MNIST-shaped rows: ten class templates of ~20% lit pixels plus
    per-row noise, rounded to three decimals (the CSV's precision)."""
    rng = np.random.default_rng(seed)
    templates = (rng.random((10, 784)) < 0.2) * rng.uniform(0.5, 1.0, (10, 784))
    labels = rng.integers(0, 10, n_rows)
    noise = (rng.random((n_rows, 784)) < 0.05) * rng.random((n_rows, 784))
    px = np.clip(templates[labels] * rng.uniform(0.7, 1.0, (n_rows, 1)) + noise, 0.0, 1.0)
    return np.round(px, 3), labels


def write_csv(path: str, px: np.ndarray, labels: np.ndarray) -> str:
    """Headerless CSV, 784 pixel columns then the label; returns the
    sha256 of the file bytes."""
    os.makedirs(path, exist_ok=True)
    lines = [
        ",".join(f"{v:.3f}" for v in row) + f",{int(lab)}\n"
        for row, lab in zip(px, labels)
    ]
    data = "".join(lines).encode()
    with open(os.path.join(path, "part-00000.csv"), "wb") as fh:
        fh.write(data)
    return hashlib.sha256(data).hexdigest()
