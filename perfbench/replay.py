"""The reference gan_train's loss history is checked against, for any seed and k.

``GanPipeline.fit`` runs three distributed rounds per epoch (discriminator,
GAN, classifier head).  Each round (``pipeline.fit_distributed``) shards the
rows over ``n_workers`` by a hash of the row id, runs local RMSProp steps per
shard in a Python worker, shuffles every trained parameter as one long-form
row per worker, averages them and collects the mean to the driver.

``replay_history`` runs ``GanPipeline.fit`` with that round replaced by
``local_round``: the shard of each row is read from the same Spark
expression, then the local steps run in this process and the parameters are
averaged in numpy.  The replay shares the pipeline's driver loop and numpy
kernels, and none of the round's data path (broadcast, ``applyInPandas``,
long-form shuffle, average, collect, ``rows_to_weights``).  Its input rows
come from ``inputs.gan_arrays``, not from the CSV reader.  A change to the
data path or the reader that alters training shows as a loss history that
differs from the replay's.

The Python workers run numpy with one BLAS thread (Spark sets
``OMP_NUM_THREADS`` to a task's cores), and a matrix product's rounding
depends on the thread count, so the replay's local steps run with one
OpenBLAS thread too.  With that, its history equals the pipeline's bit for
bit.
"""

from __future__ import annotations

import contextlib
import ctypes

import numpy as np


@contextlib.contextmanager
def one_blas_thread():
    """Every OpenBLAS this process has loaded runs one thread inside the block."""
    with open("/proc/self/maps") as fh:
        paths = sorted({line.split()[-1] for line in fh if "openblas" in line.lower()})
    saved = []
    for path in paths:
        lib = ctypes.CDLL(path)
        for suffix in ("", "64_", "_64"):
            get = getattr(lib, f"openblas_get_num_threads{suffix}", None)
            put = getattr(lib, f"openblas_set_num_threads{suffix}", None)
            if get is not None and put is not None:
                saved.append((put, get()))
                put(1)
                break
    if not saved:
        raise RuntimeError("no OpenBLAS loaded: cannot match the workers' BLAS threading")
    try:
        yield
    finally:
        for put, n in saved:
            put(n)


def local_round(df, net, n_workers: int = 4, local_steps: int = 10,
                batch_size: int = 200, features_col: str = "features",
                label_col: str = "label_vec", seed: int | None = None) -> float:
    """``pipeline.fit_distributed`` in one process; same arguments, same
    effect on ``net.weights``, same return value (the mean final loss)."""
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark import DEFAULT_SEED
    from gan_deeplearning4j_spark.pipeline import mlp_grads, rmsprop_update

    seed = DEFAULT_SEED if seed is None else seed
    pdf = df.withColumn(
        "__worker", F.pmod(F.xxhash64(F.monotonically_increasing_id(), F.lit(seed)),
                           F.lit(n_workers))
    ).toPandas()
    trained, losses = [], []
    for key in sorted(pdf["__worker"].unique()):
        shard = pdf[pdf["__worker"] == key]
        w = {layer: {p: a.copy() for p, a in ps.items()} for layer, ps in net.weights.items()}
        cache: dict = {}
        x = np.stack(shard[features_col].to_numpy()).astype(np.float32)
        y = np.stack(shard[label_col].to_numpy()).astype(np.float32)
        rng = np.random.default_rng(seed + int(key))
        loss = float("nan")
        with one_blas_thread():
            for _ in range(local_steps):
                idx = rng.choice(len(x), size=min(batch_size, len(x)), replace=False)
                grads, loss = mlp_grads(x[idx], y[idx], net.specs, w)
                rmsprop_update(w, grads, cache, net.lr_by_layer)
        trained.append(w)
        losses.append(loss)
    for layer, params in net.weights.items():
        if net.lr_by_layer.get(layer, 0.0) == 0.0:
            continue
        net.weights[layer] = {
            p: np.mean([np.asarray(w[layer][p], dtype=np.float64) for w in trained],
                       axis=0).astype(np.float32)
            for p in params
        }
    return float(np.mean(losses))


def replay_history(spark, x: np.ndarray, y: np.ndarray, seed: int, epochs: int,
                   n_workers: int) -> list[dict]:
    """The loss history ``GanPipeline(feature_dim=784, seed=seed).fit``
    gives on (x, y) with every distributed round replayed by ``local_round``."""
    from gan_deeplearning4j_spark import pipeline

    real_round = pipeline.fit_distributed
    pipeline.fit_distributed = local_round
    try:
        pipe = pipeline.GanPipeline(feature_dim=784, seed=seed)
        return [dict(h) for h in pipe.fit(spark, x, y, epochs=epochs, n_workers=n_workers)]
    finally:
        pipeline.fit_distributed = real_round
