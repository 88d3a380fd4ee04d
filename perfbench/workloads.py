"""The three workloads: what one pass calls, how many input rows it reads,
and how its outputs are checked.

A pass is a list of calls issued one after another (closed loop, one
client).  Each call is timed as a root span; inside it, the construction
(``q.fn``) and the action (``toPandas``) are child spans, so the traced run
can split every call into layers.  Outputs are kept and checked after the
pass, outside the timed window.
"""

from __future__ import annotations

import glob
import math
import os
import random

import numpy as np

TABULAR = [
    "tpch_q1_pricing", "tpch_q3_shipping", "tpch_q5_volume", "topk_per_group",
    "heavy_hitters_exact", "events_tumbling", "argmax_accuracy", "param_average",
]
CURATION = [
    "doc_stats", "minhash_dedup", "dedup_clusters", "bigram_top20",
    "quality_filter_funnel", "contamination_13gram_audit", "token_window_packing",
    "cosine_topk", "embedding_neardup_lsh", "ivfpq_fixed_topk", "pagerank_fixed_topk",
]
# the tables each query scans: its input rows are these tables' row counts
QUERY_TABLES = {
    "tpch_q1_pricing": ["lineitem"],
    "tpch_q3_shipping": ["customer", "lineitem", "orders"],
    "tpch_q5_volume": ["customer", "lineitem", "nation", "orders", "region", "supplier"],
    "topk_per_group": ["customer", "orders"],
    "heavy_hitters_exact": ["lineitem"],
    "events_tumbling": ["events"],
    "argmax_accuracy": ["embeddings"],
    "param_average": ["embeddings"],
    "pagerank_fixed_topk": ["lineitem", "orders"],
    "cosine_topk": ["embeddings"],
    "embedding_neardup_lsh": ["embeddings"],
    "ivfpq_fixed_topk": ["embeddings"],
    **{q: ["documents"] for q in (
        "doc_stats", "minhash_dedup", "dedup_clusters", "bigram_top20",
        "quality_filter_funnel", "contamination_13gram_audit", "token_window_packing")},
}
WORKLOADS = ("tabular", "curation", "gan_train")

# gan_train sizes per scale: (train rows, test rows, epochs)
GAN_SIZES = {"full": (1000, 500, 1), "tiny": (200, 100, 1)}


class Call:
    __slots__ = ("name", "wall", "rows_in", "ok", "error", "output")

    def __init__(self, name, rows_in):
        self.name, self.rows_in = name, rows_in
        self.wall, self.ok, self.error, self.output = 0.0, True, "", None


def query_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The tabular workload shuffles its queries per seed and pass; the
    curation workload keeps its listed order, because the first query of a
    fresh JVM pays the shared JIT warm-up and curation's queries differ too
    much in that cost for a shuffled order to give steady pass times."""
    order = list(names)
    if names is TABULAR:
        random.Random(seed * 1009 + pass_no).shuffle(order)
    return order


def query_pass(ctx, names: list[str], pass_no: int) -> list[Call]:
    from gan_deeplearning4j_spark.queries import REGISTRY

    calls = []
    for name in query_order(names, ctx.seed, pass_no):
        call = Call(name, sum(ctx.table_rows[t] for t in QUERY_TABLES[name]))
        with ctx.tracer.span("bench", name) as root:
            try:
                with ctx.tracer.span("queries", "construct"):
                    df = REGISTRY[name].fn(ctx.spark, ctx.data_dir)
                with ctx.tracer.span("spark", "action"):
                    call.output = df.toPandas()
            except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
                call.ok, call.error = False, f"{type(exc).__name__}: {exc}"[:300]
        call.wall = root.dur
        calls.append(call)
    return calls


def check_queries(calls: list[Call], expected: dict) -> None:
    from checks import digest

    for call in calls:
        if call.ok:
            want = expected.get(call.name)
            got = digest(call.output)
            if want is None or got != want["digest"]:
                call.ok, call.error = False, f"digest {got[:12]} != expected"
        call.output = None


# ---------------------------------------------------------------------------
# gan_train
# ---------------------------------------------------------------------------

def gan_pass(ctx, pass_no: int) -> tuple[list[Call], dict]:
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark import io as gio
    from gan_deeplearning4j_spark.pipeline import GanPipeline

    n_train, n_test, epochs = GAN_SIZES[ctx.scale]
    out_dir = os.path.join(ctx.work_dir, f"gan-pass{pass_no}")
    calls: list[Call] = []
    state: dict = {}

    def step(name, rows_in, fn):
        call = Call(name, rows_in)
        with ctx.tracer.span("bench", name) as root:
            try:
                call.output = fn()
            except Exception as exc:  # noqa: BLE001
                call.ok, call.error = False, f"{type(exc).__name__}: {exc}"[:300]
        call.wall = root.dur
        calls.append(call)
        return call.ok

    def read():
        df = gio.read_mnist_csv(ctx.spark, ctx.gan_train)
        with ctx.tracer.span("spark", "action"):
            pdf = df.toPandas()
        state["x"] = np.stack(pdf["features"].to_numpy()).astype(np.float32)
        state["y"] = pdf["label"].to_numpy()

    def fit():
        pipe = GanPipeline(feature_dim=784, seed=ctx.seed)
        state["pipe"] = pipe
        return [dict(h) for h in pipe.fit(ctx.spark, state["x"], state["y"],
                                          epochs=epochs, n_workers=ctx.k)]

    def predict_write():
        test = gio.read_mnist_csv(ctx.spark, ctx.gan_test)
        pred = state["pipe"].predict(test)
        cols = [F.col("label")] + [F.col("output")[i].alias(f"p{i}") for i in range(10)]
        gio.write_headerless_csv(pred.select(*cols), os.path.join(out_dir, "predictions"))

    def checkpoint():
        state["pipe"].checkpoint(ctx.spark, os.path.join(out_dir, "checkpoint"))

    if step("gan.read", n_train, read) and step("gan.fit", 0, fit):
        step("gan.predict_write", n_test, predict_write)
        step("gan.checkpoint", 0, checkpoint)
    state["out_dir"] = out_dir
    return calls, state


def _param_counts(pipe) -> dict[str, int]:
    nets = {"dis": pipe.dis, "gen": pipe.gen, "gan": pipe.gan}
    if pipe.cv is not None:
        nets["cv"] = pipe.cv
    return {name: int(sum(a.size for ps in net.weights.values() for a in ps.values()))
            for name, net in nets.items()}


def _close(a: float, b: float) -> bool:
    return a == b or (math.isfinite(a) and math.isfinite(b) and abs(a - b) <= 1e-6 * max(1.0, abs(b)))


def same_history(got: list[dict], want: list[dict]) -> bool:
    """Equal loss histories, to 1e-6 relative."""
    keys = ("dis_loss", "gan_loss", "cv_loss")
    return len(got) == len(want) and all(
        _close(h[k], e[k]) for h, e in zip(got, want) for k in keys)


def check_gan(calls: list[Call], state: dict, test_labels) -> tuple[Call | None, list[dict] | None]:
    """Returns the pass's fit call and its loss history, which the caller
    checks (``run.check_histories``); marks calls failed on any mismatch of

    - the prediction CSV holds one row per test row, the test labels, and
      ten class probabilities per row summing to 1;
    - each checkpoint table holds one row per network parameter.
    """
    import pyarrow.parquet as pq

    by_name = {c.name: c for c in calls}
    fit = by_name.get("gan.fit")
    history = fit.output if fit is not None and fit.ok else None
    out_dir = state["out_dir"]
    pw = by_name.get("gan.predict_write")
    if pw is not None and pw.ok:
        rows = []
        for path in sorted(glob.glob(os.path.join(out_dir, "predictions", "part-*"))):
            with open(path) as fh:
                rows += [line.rstrip("\n").split(",") for line in fh if line.strip()]
        probs = np.asarray([[float(v) for v in r[1:]] for r in rows]) if rows else np.zeros((0, 10))
        labels = sorted(int(float(r[0])) for r in rows)
        if (len(rows) != len(test_labels) or labels != sorted(int(v) for v in test_labels)
                or probs.shape[1] != 10 or not np.allclose(probs.sum(axis=1), 1.0, atol=1e-4)):
            pw.ok, pw.error = False, "prediction CSV does not match the test set"
    ck = by_name.get("gan.checkpoint")
    if ck is not None and ck.ok:
        for name, n in _param_counts(state["pipe"]).items():
            got = pq.read_table(os.path.join(out_dir, "checkpoint", f"{name}_weights.parquet")).num_rows
            if got != n:
                ck.ok, ck.error = False, f"checkpoint {name}: {got} rows != {n} parameters"
    for c in calls:
        c.output = None
    return fit, history
