#!/usr/bin/env python3
"""Record the reference outputs ``run.py`` checks against, into expected.json.

    python3 perfbench/record.py queries [name ...] --scale full
    python3 perfbench/record.py gan --scale full --seeds 0-99

``queries``: builds the corpus, runs each query on Spark and its registered
DuckDB oracle over the same parquet files, and records the digest of the
Spark result only when it matches the oracle (``checks.oracle_compare``).
A mismatch is printed and nothing is recorded for that query, so
``run.py`` then counts it as failed.

``gan``: runs the gan_train read + fit steps for each seed at this
machine's k and records the loss history.

Recording is a maintenance step, run when the corpus generator, a query or
the training loop changes on purpose; a benchmark run never records.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import run as R  # also puts perfbench/ on sys.path

import checks  # noqa: E402
import workloads as W  # noqa: E402


# the columns whose ROUND(x, d) may split on a half-way tie between the two
# engines (checks.oracle_compare), with their d
ROUND_COLUMNS = {"events_tumbling": {"avg_value": 6}}


def _save(update) -> None:
    """Read-modify-write expected.json."""
    path = os.path.join(R.HERE, "expected.json")
    data = R.load_expected() if os.path.exists(path) else {"corpus": {}, "gan_history": {}}
    update(data)
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


def record_queries(spark, scale: str, names: list[str], no_oracle: bool = False) -> None:
    import duckdb

    from gan_deeplearning4j_spark.queries import REGISTRY

    data_dir, corpus, rows = R.build_corpus(scale)
    con = duckdb.connect()
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name in names:
        t0 = time.perf_counter()
        got = REGISTRY[name].fn(spark, data_dir).toPandas()
        t1 = time.perf_counter()
        if no_oracle:
            # digest of the Spark result alone, for an oracle too slow to run
            # at this scale; the oracle comparison stays pending
            ok, splits = True, -1
        else:
            ok, splits = checks.oracle_compare(got, con.sql(REGISTRY[name].oracle).df(),
                                               ROUND_COLUMNS.get(name))
        print(f"{name}: spark {t1 - t0:.1f} s, oracle {time.perf_counter() - t1:.1f} s, "
              f"{len(got)} rows, {'match' if ok else 'MISMATCH'}"
              + (f" ({splits} rounding splits)" if splits else ""), flush=True)
        if not ok:
            continue
        entry = {"digest": checks.digest(got), "rows": len(got),
                 "oracle": {0: "exact", -1: "pending"}.get(splits, f"rounding_splits={splits}")}
        _save(lambda d: d["corpus"].setdefault(corpus, {"scale": scale, "queries": {}})
              ["queries"].__setitem__(name, entry))


def record_gan(spark, scale: str, k: int, seeds: list[int]) -> None:
    from gan_deeplearning4j_spark import io as gio
    from gan_deeplearning4j_spark.pipeline import GanPipeline
    import numpy as np

    _, _, epochs = W.GAN_SIZES[scale]
    for seed in seeds:
        train = R.build_gan_inputs(scale, seed)[0]
        pdf = gio.read_mnist_csv(spark, train).toPandas()
        x = np.stack(pdf["features"].to_numpy()).astype(np.float32)
        hist = GanPipeline(feature_dim=784, seed=seed).fit(
            spark, x, pdf["label"].to_numpy(), epochs=epochs, n_workers=k)
        hist = [dict(h) for h in hist]
        print(f"seed {seed}: {hist}", flush=True)
        _save(lambda d: d.setdefault("gan_history", {}).setdefault(R.gan_key(scale, k), {})
              .__setitem__(str(seed), hist))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("what", choices=("queries", "gan"))
    ap.add_argument("names", nargs="*", help="queries to record (default: all)")
    ap.add_argument("--scale", choices=tuple(R.CORPUS_SCALE), default="full")
    ap.add_argument("--seeds", default="0-9", help="gan seeds, e.g. 0-99")
    ap.add_argument("--no-oracle", action="store_true",
                    help="record Spark digests without the oracle comparison")
    args = ap.parse_args()
    k = R.cores()
    R.prepare_env(k)
    sys.path.insert(0, R.ROOT)
    spark, _, _ = R.start_session(k)
    try:
        if args.what == "queries":
            record_queries(spark, args.scale, args.names or W.TABULAR + W.CURATION,
                           args.no_oracle)
        else:
            lo, _, hi = args.seeds.partition("-")
            record_gan(spark, args.scale, k, list(range(int(lo), int(hi or lo) + 1)))
    finally:
        R.shutdown(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
