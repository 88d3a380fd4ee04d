"""E2E pipeline test (SURVEY §5.2): deterministic 2-epoch adversarial loop on
a small fixture, mirroring numIterations=2 / seed=666 (java:72,75)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from gan_deeplearning4j_spark.pipeline import (
    WEIGHTS_SCHEMA,
    GanPipeline,
    Network,
    build_mlp,
    fit_distributed,
    mlp_grads,
    rmsprop_update,
    rows_to_weights,
    tensor_rows,
)
from gan_deeplearning4j_spark.kernels import forward, init_weights


def _toy_data(n=400, dim=16, n_classes=4, seed=666):
    rng = np.random.default_rng(seed)
    y = rng.integers(0, n_classes, n)
    centers = rng.uniform(0.2, 0.8, (n_classes, dim))
    x = (centers[y] + rng.normal(0, 0.05, (n, dim))).clip(0, 1).astype(np.float32)
    return x, y


def _weights_digest(weights) -> str:
    h = hashlib.sha256()
    for layer, param, values in sorted(tensor_rows(weights), key=lambda r: r[:2]):
        for pos, v in enumerate(values):
            h.update(f"{layer}|{param}|{pos}|{v:.6f};".encode())
    return h.hexdigest()


def _toy_df(spark, x, yv):
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("features", T.ArrayType(T.FloatType())),
            T.StructField("label_vec", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(pd.DataFrame({"features": list(x), "label_vec": list(yv)}), schema)


def test_mlp_grads_match_numeric():
    """Backprop vs central finite differences on a tiny net."""
    specs = build_mlp("t", 5, [4], 1, "sigmoid")
    w = init_weights(specs, 5, seed=666)
    rng = np.random.default_rng(0)
    x = rng.standard_normal((8, 5)).astype(np.float64)
    y = rng.integers(0, 2, (8, 1)).astype(np.float64)

    grads, _ = mlp_grads(x, y, specs, w)

    def loss_at(wmod):
        p = forward(x.astype(np.float32), specs, wmod)
        eps = 1e-7
        return float(-(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).mean())

    eps = 1e-4
    for layer in ["t_dense_0", "t_output"]:
        W = w[layer]["W"]
        for idx in [(0, 0), (1, 2) if W.shape[1] > 2 else (1, 0)]:
            w_plus = {l: {p: a.copy() for p, a in ps.items()} for l, ps in w.items()}
            w_minus = {l: {p: a.copy() for p, a in ps.items()} for l, ps in w.items()}
            w_plus[layer]["W"][idx] += eps
            w_minus[layer]["W"][idx] -= eps
            num = (loss_at(w_plus) - loss_at(w_minus)) / (2 * eps)
            assert abs(num - grads[layer]["W"][idx]) < 1e-2, (layer, idx)


def test_fit_distributed_reduces_loss(spark):
    """Map-fit + average-reduce actually learns on a separable toy task."""
    x, y = _toy_data(n=300, dim=8, n_classes=2)
    specs = build_mlp("clf", 8, [16], 1, "sigmoid")
    net = Network(specs, init_weights(specs, 8, 666), {s.name: 0.05 for s in specs})
    df = _toy_df(spark, x, y.reshape(-1, 1).astype(np.float32))
    first = fit_distributed(df, net, n_workers=2, local_steps=5, batch_size=64)
    losses = [first]
    for _ in range(5):
        losses.append(fit_distributed(df, net, n_workers=2, local_steps=5, batch_size=64))
    assert losses[-1] < losses[0], losses


def _numpy_round(df, net, n_workers, local_steps, batch_size, seed):
    """fit_distributed in this process: the same shard expression, local
    steps per worker in worker-key order, then a float64 mean."""
    from pyspark.sql import functions as F

    pdf = df.withColumn(
        "__worker", F.pmod(F.xxhash64(F.monotonically_increasing_id(), F.lit(seed)), F.lit(n_workers))
    ).toPandas()
    trained, losses = [], []
    for key in sorted(pdf["__worker"].unique()):
        shard = pdf[pdf["__worker"] == key]
        w = {l: {p: a.copy() for p, a in ps.items()} for l, ps in net.weights.items()}
        cache = {}
        x = np.stack(shard["features"].to_numpy()).astype(np.float32)
        y = np.stack(shard["label_vec"].to_numpy()).astype(np.float32)
        rng = np.random.default_rng(seed + int(key))
        for _ in range(local_steps):
            idx = rng.choice(len(x), size=min(batch_size, len(x)), replace=False)
            grads, loss = mlp_grads(x[idx], y[idx], net.specs, w)
            rmsprop_update(w, grads, cache, net.lr_by_layer)
        trained.append(w)
        losses.append(loss)
    weights = {
        l: {p: np.mean([np.asarray(w[l][p], dtype=np.float64) for w in trained], axis=0).astype(np.float32)
            for p in ps}
        if net.lr_by_layer.get(l, 0.0) != 0.0 else ps
        for l, ps in net.weights.items()
    }
    return weights, float(np.mean(losses))


def test_fit_distributed_matches_numpy_replay(spark):
    """Equivalence pin: two rounds at k=3 leave weights and loss
    bit-identical to an in-process numpy replay of the same rounds (same
    shard expression, worker-key order); frozen layers keep their weights."""
    x, y = _toy_data(n=240, dim=8, n_classes=2)
    specs = build_mlp("clf", 8, [16, 8], 1, "sigmoid")
    lr = {"clf_dense_0": 0.0, "clf_dense_1": 0.05, "clf_output": 0.05}
    df = _toy_df(spark, x, y.reshape(-1, 1).astype(np.float32))
    net = Network(specs, init_weights(specs, 8, 666), lr)
    replay = Network(specs, init_weights(specs, 8, 666), lr)
    for _ in range(2):
        loss = fit_distributed(df, net, n_workers=3, local_steps=4, batch_size=32, seed=7)
        replay.weights, want = _numpy_round(df, replay, 3, 4, 32, seed=7)
        assert loss == want
        assert net.weights.keys() == replay.weights.keys()
        for layer, params in replay.weights.items():
            for p, arr in params.items():
                got = net.weights[layer][p]
                assert got.dtype == np.float32 and got.shape == arr.shape
                np.testing.assert_array_equal(got, arr)
    init = init_weights(specs, 8, 666)
    np.testing.assert_array_equal(net.weights["clf_dense_0"]["W"], init["clf_dense_0"]["W"])
    assert not np.array_equal(net.weights["clf_output"]["W"], init["clf_output"]["W"])


def _tensor_frame(rows):
    import pandas as pd

    return pd.DataFrame(rows, columns=["worker", "layer", "param", "value"])


def test_rows_to_weights_averages_in_worker_order():
    """Rows are summed in worker-key order, whatever order they arrive in:
    (1 + 1e16) - 1e16 == 0 in float64, where the reverse order gives 1/3."""
    shapes = {"d": {"W": (2, 2), "b": (1,)}}
    a = np.array([0.1, 0.2, 0.3, 0.4])
    rows = _tensor_frame([(2, "d", "b", np.array([-1e16])), (1, "d", "W", a * 3),
                          (0, "d", "b", np.array([1.0])), (2, "d", "W", a * 5),
                          (0, "d", "W", a), (1, "d", "b", np.array([1e16]))])
    w = rows_to_weights(rows, shapes)
    np.testing.assert_array_equal(
        w["d"]["W"], np.mean([a, a * 3, a * 5], axis=0).astype(np.float32).reshape(2, 2))
    np.testing.assert_array_equal(w["d"]["b"], np.zeros(1, dtype=np.float32))


@pytest.mark.parametrize(
    "rows, match",
    [
        ([(0, "d", "W", np.zeros(3)), (0, "d", "b", np.zeros(2))], "3 values for shape"),
        ([(0, "d", "W", np.zeros(4))], "missing"),
        ([(0, "d", "W", np.zeros(4)), (0, "d", "b", np.zeros(2)), (0, "e", "W", np.zeros(1))], "unknown"),
        ([(0, "d", "W", np.zeros(4)), (0, "d", "W", np.zeros(4)), (0, "d", "b", np.zeros(2))],
         r"rows from workers \[0, 0\]"),
        ([(0, "d", "W", np.zeros(4)), (0, "d", "b", np.zeros(2)), (1, "d", "W", np.zeros(4))],
         r"d.b: rows from workers \[0\], expected one from each of \[0, 1\]"),
    ],
    ids=["bad_length", "missing", "unknown", "duplicate", "worker_short"],
)
def test_rows_to_weights_rejects_bad_rows(rows, match):
    with pytest.raises(ValueError, match=match):
        rows_to_weights(_tensor_frame(rows), {"d": {"W": (2, 2), "b": (2,)}})


def test_dcgan_rejects_side_not_divisible_by_4():
    with pytest.raises(ValueError, match="divisible by 4"):
        GanPipeline.dcgan(side=10)


def test_gan_pipeline_two_epochs_deterministic(spark):
    """Full adversarial loop: 2 epochs, seed 666 — runs end-to-end, trains
    all four networks, and is bitwise-reproducible across runs."""
    x, y = _toy_data(n=300, dim=16, n_classes=4)

    def run():
        p = GanPipeline(feature_dim=16, latent_dim=2, dis_hidden=[32, 16],
                        gen_hidden=[16, 32], n_classes=4, seed=666)
        hist = p.fit(spark, x, y, epochs=2, batch_rows=128, n_workers=2, avg_freq=5)
        return p, hist

    p1, h1 = run()
    p2, h2 = run()
    assert len(h1) == 2
    for h in h1:
        assert np.isfinite(h["dis_loss"]) and np.isfinite(h["gan_loss"])
    assert _weights_digest(p1.dis.weights) == _weights_digest(p2.dis.weights)
    assert _weights_digest(p1.gen.weights) == _weights_digest(p2.gen.weights)
    assert h1 == h2

    # O5 observers: grid generation preserves row-major order and shape
    grid = p1.generate_grid(spark, side=4).toPandas()
    assert list(grid["grid_id"]) == list(range(16))
    assert len(grid["output"][0]) == 16

    # transfer-learned classifier predicts valid probability rows
    pred = p1.predict(
        spark.createDataFrame(
            [(i, [float(v) for v in x[i]]) for i in range(20)],
            "id: long, features: array<float>",
        )
    ).toPandas()
    probs = np.stack(pred["output"].to_numpy())
    np.testing.assert_allclose(probs.sum(axis=1), 1.0, rtol=1e-4)


def test_checkpoint_roundtrip(spark, tmp_path):
    """Each network's checkpoint holds exactly the long form of its weights
    (one row per parameter), under WEIGHTS_SCHEMA with every field nullable,
    with Arrow on or off."""
    import json

    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    x, y = _toy_data(n=100, dim=8, n_classes=2)
    p = GanPipeline(feature_dim=8, latent_dim=2, dis_hidden=[8], gen_hidden=[8],
                    n_classes=2, seed=666)
    p.fit(spark, x, y, epochs=1, batch_rows=64, n_workers=2, avg_freq=2)
    arrow_conf = "spark.sql.execution.arrow.pyspark.enabled"
    arrow = spark.conf.get(arrow_conf)
    for setting in ("true", "false"):
        path = str(tmp_path / f"ckpt-arrow-{setting}")
        spark.conf.set(arrow_conf, setting)
        try:
            p.checkpoint(spark, path)
        finally:
            spark.conf.set(arrow_conf, arrow)
        for name, net in [("dis", p.dis), ("gen", p.gen), ("gan", p.gan), ("cv", p.cv)]:
            table = pq.read_table(f"{path}/{name}_weights.parquet")
            spark_schema = T.StructType.fromJson(
                json.loads(table.schema.metadata[b"org.apache.spark.sql.parquet.row.metadata"]))
            assert spark_schema == WEIGHTS_SCHEMA
            got = table.to_pandas().sort_values(["layer", "param", "pos"], ignore_index=True)
            want = pd.DataFrame(
                [(l, pn, pos, float(v)) for l, pn, vals in tensor_rows(net.weights)
                 for pos, v in enumerate(vals)],
                columns=["layer", "param", "pos", "value"],
            ).astype({"pos": np.int32}).sort_values(["layer", "param", "pos"], ignore_index=True)
            pd.testing.assert_frame_equal(got, want)
            with open(f"{path}/{name}_config.json") as fh:
                assert [c["name"] for c in json.load(fh)] == [s.name for s in net.specs]


def test_dcgan_conv_two_epochs_deterministic(spark):
    """The reference's headline behavior end-to-end: the full adversarial
    alternation (O4) over the CONV topology (K2 conv, K3 pool-stride, K5
    upsample) — dis conv stack, gen dense→reshape→upsample→conv stack,
    transfer-learned conv classifier head — 2 epochs, seed 666, with
    weight-hash stability across runs (dl4jGANComputerVision.java:408-621).
    """
    side, n = 8, 96
    x, y = _toy_data(n=n, dim=side * side, n_classes=3)

    def run():
        p = GanPipeline.dcgan(side=side, latent_dim=2, base_filters=2,
                              n_classes=3, seed=666)
        hist = p.fit(spark, x, y, epochs=2, batch_rows=48, n_workers=2,
                     avg_freq=4)
        return p, hist

    p1, h1 = run()
    p2, h2 = run()
    assert len(h1) == 2
    for h in h1:
        assert np.isfinite(h["dis_loss"]) and np.isfinite(h["gan_loss"])
        assert np.isfinite(h["cv_loss"])
    assert h1 == h2
    assert _weights_digest(p1.dis.weights) == _weights_digest(p2.dis.weights)
    assert _weights_digest(p1.gen.weights) == _weights_digest(p2.gen.weights)
    # training moved the conv weights (not a frozen no-op)
    p0 = GanPipeline.dcgan(side=side, latent_dim=2, base_filters=2,
                           n_classes=3, seed=666)
    assert _weights_digest(p1.dis.weights) != _weights_digest(p0.dis.weights)

    # W3 grid inference through the conv generator: row-major, side² pixels
    grid = p1.generate_grid(spark, side=3).toPandas()
    assert list(grid["grid_id"]) == list(range(9))
    assert len(grid["output"][0]) == side * side

    # transfer-learned conv classifier emits valid probability rows
    pred = p1.predict(
        spark.createDataFrame(
            [(i, [float(v) for v in x[i]]) for i in range(10)],
            "id: long, features: array<float>",
        )
    ).toPandas()
    probs = np.stack(pred["output"].to_numpy())
    np.testing.assert_allclose(probs.sum(axis=1), 1.0, rtol=1e-4)


def test_write_png_grid_roundtrip(spark, tmp_path):
    """S12 sink: the PNG mosaic decodes back to exactly the tile layout of
    the ordered grid DataFrame (row-major by grid_id, min-max scaled)."""
    from gan_deeplearning4j_spark.functions.imagecodec import decode_png

    p = GanPipeline(feature_dim=16, latent_dim=2, dis_hidden=[8],
                    gen_hidden=[8], n_classes=2, seed=666)
    path = str(tmp_path / "grid.png")
    png = p.write_png_grid(spark, path, side=3)
    assert open(path, "rb").read() == png

    img = decode_png(png)
    assert img.shape == (12, 12)  # 3×3 tiles of 4×4 (16 = 4*4 outputs)

    grid = p.generate_grid(spark, side=3).toPandas()
    vecs = np.asarray([np.asarray(v, dtype=np.float64)
                       for v in grid["output"]])
    lo, hi = vecs.min(), vecs.max()
    scaled = np.zeros_like(vecs) if hi == lo else (vecs - lo) / (hi - lo)
    expect = (scaled * 255.0).round().astype(np.uint8).reshape(3, 3, 4, 4)
    expect = expect.transpose(0, 2, 1, 3).reshape(12, 12)
    np.testing.assert_array_equal(img, expect)


def test_fit_distributed_conv_topology(spark):
    """O3 over K2/K3/K4: fit_distributed drives the full conv stack (conv →
    maxpool → batchnorm → dense head) — parameter-averaged conv training
    reduces loss and is bit-reproducible across runs (the distributed
    conv-GAN evidence, dl4jGANComputerVision.java:408-621 topology family).
    """
    from gan_deeplearning4j_spark.kernels import LayerSpec

    side, n = 8, 192
    x, y = _toy_data(n=n, dim=side * side, n_classes=2)
    yv = y.reshape(-1, 1).astype(np.float32)
    specs = [
        LayerSpec("c_reshape", "reshape", {"shape": (1, side, side)}),
        LayerSpec("c_conv", "conv2d",
                  {"filters": 2, "kernel": 5, "stride": 1, "pad": 2,
                   "activation": "tanh"}),
        LayerSpec("c_pool", "maxpool", {"kernel": 2, "stride": 2}),
        LayerSpec("c_bn", "batchnorm", {}),
        LayerSpec("c_flat", "flatten"),
        LayerSpec("c_out", "dense", {"units": 1, "activation": "sigmoid"}),
    ]
    df = _toy_df(spark, x, yv)

    def run():
        net = Network(
            specs, init_weights(specs, (1, side, side), 666),
            {s.name: 0.05 for s in specs},
        )
        losses = [fit_distributed(df, net, n_workers=2, local_steps=5,
                                  batch_size=64) for _ in range(4)]
        return net, losses

    n1, l1 = run()
    n2, l2 = run()
    assert l1 == l2                     # distributed conv fit is deterministic
    assert l1[-1] < l1[0], l1           # and it learns
    assert _weights_digest(n1.weights) == _weights_digest(n2.weights)
