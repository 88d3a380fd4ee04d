"""GAN pipeline orchestration (SURVEY §2.9 O1-O5, §2.8 K8; reference entry
point E1 = dl4jGANComputerVision.main :94-621).

Re-expression of the reference's distributed adversarial training:

- O1 graph builder  → ``build_mlp`` producing a list[LayerSpec] (the logical
  plan; named layers like addLayer(name, ...) java:132).
- O3 distributed fit → ``fit_distributed``: workers run local minibatch SGD
  on their shard (map), then the driver takes the element-wise mean of worker
  parameters (reduce) — exactly ParameterAveragingTrainingMaster semantics
  (java:324-330, averagingFrequency=10, batchSizePerWorker=200). The map side
  is ``applyInPandas`` over a worker-id grouping that returns one tensor row
  per trained tensor; the reduce side is the A1 average, a numpy mean over the
  k collected rows of each tensor (``rows_to_weights``). The driver receives
  k × P float64 values per round, P = trained parameter count.
- J1 weight sync    → ``copy_weights_dict`` (name-mapped parameter copy,
  java:429-460/:474-510/:516-542); the DataFrame form lives in
  operators/weights.py.
- O2 transfer learning → ``transfer_classifier``: freeze feature layers
  (lr=0, java:84 frozen_learning_rate + :350 setFeatureExtractor), drop the
  old head (:351 removeVertexKeepConnections), add a softmax(10) head
  (:352-363).
- O4 adversarial loop → ``GanPipeline.fit``: dis step on [real+smoothed-1 ∥
  fake+smoothed-0] (java:412-426), sync dis→gan, gan step on (noise, 1)
  fooling batch (:462-471), sync gan→gen, classifier step (:512-545).
- O5 observers      → ``generate_grid`` (latent grid → gen forward → ordered
  image rows, :550-570) and ``predict`` (chunked test inference, :572-597).
- K8 RMSProp        → ``rmsprop_update`` (new RmsProp(lr, 1e-8, 1e-8),
  java:133; decay/epsilon defaults mirror the reference's).

Training scope note: trainable layers are dense (+activations) — an MLP GAN.
The conv/pool/upsample/batchnorm kernels are inference-complete (kernels.py)
but their backward passes are future work; the reference's *distributed
semantics* (map-fit, average-reduce, freeze, sync, observe) are fully
re-expressed here and are architecture-independent.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import DEFAULT_SEED
from .kernels import LayerSpec, Weights, clip_grad, forward, init_weights


# ---------------------------------------------------------------------------
# network spec builders (O1)
# ---------------------------------------------------------------------------

def build_mlp(
    prefix: str,
    input_dim: int,
    hidden: list[int],
    out_units: int,
    out_activation: str,
    hidden_activation: str = "tanh",
) -> list[LayerSpec]:
    """Named dense stack: {prefix}_dense_{i} ... {prefix}_output — the naming
    convention the weight-sync maps key on (java:135 'dis_conv2d_layer_2')."""
    specs = []
    for i, units in enumerate(hidden):
        specs.append(
            LayerSpec(
                f"{prefix}_dense_{i}",
                "dense",
                {"units": units, "activation": hidden_activation},
            )
        )
    specs.append(
        LayerSpec(
            f"{prefix}_output", "dense", {"units": out_units, "activation": out_activation}
        )
    )
    return specs


# ---------------------------------------------------------------------------
# local training step: dense backprop + RMSProp (K8) + clip (K9)
# ---------------------------------------------------------------------------

def net_grads(
    x: np.ndarray,
    y: np.ndarray,
    specs: list[LayerSpec],
    weights: Weights,
    bn_momentum: float = 0.9,
) -> tuple[Weights, float]:
    """Backprop through an arbitrary layer stack (dense/conv2d/maxpool/
    upsample/batchnorm/reshape/flatten) via kernels.forward_cached +
    kernels.backward.

    Output-layer loss pairing follows the reference: sigmoid→XENT
    (java:159-163), softmax→MCXENT (:357-363); both give dL/dpre = (p - y)/n,
    which is the convention kernels.backward expects for a dense last layer.

    Side effect: batchnorm running mean/var in ``weights`` are updated with
    the batch statistics (momentum ``bn_momentum``) — the A5 running-average
    contract.
    """
    from .kernels import backward, forward_cached

    x = x.astype(np.float32)
    p, caches = forward_cached(x, specs, weights, training=True)
    eps = 1e-7
    out_act = specs[-1].cfg.get("activation")
    if out_act == "softmax":
        loss = float(-(y * np.log(p + eps)).sum(axis=1).mean())
    else:
        loss = float(-(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).mean())
    dout = (p - y) / x.shape[0]
    grads, _ = backward(dout, specs, weights, caches)
    for spec, cache in zip(specs, caches):
        if cache.get("kind") == "batchnorm":
            w = weights[spec.name]
            w["mean"] = (bn_momentum * w["mean"] + (1 - bn_momentum) * cache["batch_mu"]).astype(np.float32)
            w["var"] = (bn_momentum * w["var"] + (1 - bn_momentum) * cache["batch_var"]).astype(np.float32)
    return grads, loss


# dense-only call sites and tests use the same generic implementation
mlp_grads = net_grads


def rmsprop_update(
    weights: Weights,
    grads: Weights,
    cache: Weights,
    lr_by_layer: dict[str, float],
    decay: float = 1e-8,
    eps: float = 1e-8,
    l2: float = 1e-4,
    clip: float = 1.0,
) -> None:
    """K8 in-place update. Defaults mirror the reference: RmsProp(lr, 1e-8,
    1e-8) java:133, L2 1e-4 :125, clip ±1.0 :123-124, frozen layers lr=0.0
    :84 (skipped entirely)."""
    for layer, g in grads.items():
        lr = lr_by_layer.get(layer, 0.0)
        if lr == 0.0:
            continue
        for pname, grad in g.items():
            grad = grad + l2 * weights[layer][pname]
            grad = clip_grad(grad, clip)
            c = cache.setdefault(layer, {}).get(pname)
            c = grad * grad if c is None else decay * c + (1 - decay) * grad * grad
            cache[layer][pname] = c
            weights[layer][pname] = (
                weights[layer][pname] - lr * grad / (np.sqrt(c) + eps)
            ).astype(np.float32)


# ---------------------------------------------------------------------------
# weights dict ⇄ tensor rows (the J1/A1 data model)
# ---------------------------------------------------------------------------

# A tensor row is one parameter tensor, flattened: (layer, param, value).
TENSOR_SCHEMA = T.StructType(
    [
        T.StructField("layer", T.StringType()),
        T.StructField("param", T.StringType()),
        T.StructField("value", T.ArrayType(T.DoubleType())),
    ]
)

# The checkpoint's long form: one row per scalar parameter.
WEIGHTS_SCHEMA = T.StructType(
    [
        T.StructField("layer", T.StringType()),
        T.StructField("param", T.StringType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def tensor_rows(weights: Weights) -> list[tuple[str, str, np.ndarray]]:
    """One (layer, param, float64 values) row per parameter tensor."""
    return [
        (layer, pname, np.asarray(arr, dtype=np.float64).ravel())
        for layer, params in weights.items()
        for pname, arr in params.items()
    ]


def rows_to_weights(rows: pd.DataFrame, shapes: dict[str, dict[str, tuple]]) -> Weights:
    """A1 average of one round's tensor rows (columns worker, layer, param,
    value): each tensor's rows are stacked in worker-key order and averaged
    in float64, then cast to float32. ``shapes`` names exactly the tensors
    the round trained. Raises ValueError unless every worker sent one row of
    the right length for each of those tensors and nothing else."""
    rows = rows.sort_values("worker", kind="stable")
    workers = rows["worker"].unique().tolist()
    want = {(layer, p) for layer, ps in shapes.items() for p in ps}
    got = set(zip(rows["layer"], rows["param"]))
    if got != want:
        raise ValueError(f"tensor rows missing {sorted(want - got)}, unknown {sorted(got - want)}")
    out: Weights = {}
    for (layer, pname), group in rows.groupby(["layer", "param"], sort=False):
        if group["worker"].tolist() != workers:
            raise ValueError(f"{layer}.{pname}: rows from workers {group['worker'].tolist()}, "
                             f"expected one from each of {workers}")
        shape = shapes[layer][pname]
        values = group["value"].tolist()
        for v in values:
            if len(v) != math.prod(shape):
                raise ValueError(f"{layer}.{pname}: {len(v)} values for shape {shape}")
        mean = np.mean(np.stack(values).astype(np.float64), axis=0)
        out.setdefault(layer, {})[pname] = mean.astype(np.float32).reshape(shape)
    return out


def copy_weights_dict(dst: Weights, src: Weights, layer_map: dict[str, str]) -> None:
    """J1 parameter copy, dict form (java:429-460). The DataFrame broadcast-
    join form is operators.weights.copy_weights; at weight scale (MB) the
    driver dict is the faster physical plan."""
    for src_layer, dst_layer in layer_map.items():
        if src_layer not in src:
            continue  # parameterless layer (reshape/flatten/pool/upsample)
        dst[dst_layer] = {k: v.copy() for k, v in src[src_layer].items()}


# ---------------------------------------------------------------------------
# distributed fit (O3): map = local SGD per worker shard, reduce = A1 average
# ---------------------------------------------------------------------------

@dataclass
class Network:
    specs: list[LayerSpec]
    weights: Weights
    lr_by_layer: dict[str, float]
    cache: Weights = field(default_factory=dict)

    def shapes(self) -> dict[str, dict[str, tuple]]:
        return {
            layer: {p: arr.shape for p, arr in params.items()}
            for layer, params in self.weights.items()
        }


def fit_distributed(
    df: DataFrame,
    net: Network,
    n_workers: int = 4,
    local_steps: int = 10,
    batch_size: int = 200,
    features_col: str = "features",
    label_col: str = "label_vec",
    seed: int = DEFAULT_SEED,
) -> float:
    """One averaging round (averagingFrequency=local_steps, java:326):
    shard → local RMSProp steps per worker → element-wise parameter mean.

    Each worker returns one tensor row per trained tensor with its key and
    final local loss; the driver collects them through Arrow and averages
    them with ``rows_to_weights``. Driver-side bound: k × P float64 values
    per round, P = trained parameter count (about 1.7 MB per network of the
    784-feature GAN at k=2).

    Returns the mean final local loss across workers, in worker-key order.
    Updates net.weights in place (the reference's TrainingMaster mutates the
    wrapped net); an empty ``df`` leaves them as they are and returns nan.
    """
    spark = df.sparkSession
    specs, lr_by_layer = net.specs, net.lr_by_layer
    trained = {layer: s for layer, s in net.shapes().items() if lr_by_layer.get(layer, 0.0) != 0.0}
    bc_w = spark.sparkContext.broadcast(net.weights)

    sharded = df.withColumn(
        "__worker", F.pmod(F.xxhash64(F.monotonically_increasing_id(), F.lit(seed)), F.lit(n_workers))
    )
    out_schema = T.StructType(
        [T.StructField("worker", T.LongType()), *TENSOR_SCHEMA.fields, T.StructField("loss", T.DoubleType())]
    )

    def local_fit(key, pdf):
        w = {l: {p: a.copy() for p, a in ps.items()} for l, ps in bc_w.value.items()}
        cache: Weights = {}
        x = np.stack(pdf[features_col].to_numpy()).astype(np.float32)
        y = np.stack(pdf[label_col].to_numpy()).astype(np.float32)
        rng = np.random.default_rng(seed + int(key[0]))
        loss = math.nan
        for _ in range(local_steps):
            idx = rng.choice(len(x), size=min(batch_size, len(x)), replace=False)
            grads, loss = mlp_grads(x[idx], y[idx], specs, w)
            rmsprop_update(w, grads, cache, lr_by_layer)
        out = pd.DataFrame(tensor_rows({l: w[l] for l in trained}), columns=TENSOR_SCHEMA.names)
        out.insert(0, "worker", int(key[0]))
        out["loss"] = loss
        return out

    rows = sharded.groupBy("__worker").applyInPandas(local_fit, out_schema).toPandas()
    bc_w.unpersist()
    if rows.empty:
        return math.nan
    net.weights.update(rows_to_weights(rows, trained))
    return float(np.mean(rows.drop_duplicates("worker").sort_values("worker")["loss"].to_numpy()))


# ---------------------------------------------------------------------------
# the composite pipeline (O2/O4/O5, E1)
# ---------------------------------------------------------------------------

class GanPipeline:
    """The reference's three-graph adversarial pipeline as engine objects.

    dis:  features → hidden → sigmoid(1)        (java:118-165)
    gen:  latent   → hidden → sigmoid(features) (java:173-221)
    gan:  gen ⊕ frozen dis                      (java:228-310)
    cv:   frozen dis features ⊕ softmax head    (java:337-364)
    """

    def __init__(
        self,
        feature_dim: int,
        latent_dim: int = 2,
        dis_hidden: list[int] | None = None,
        gen_hidden: list[int] | None = None,
        n_classes: int = 10,
        dis_lr: float = 0.002,   # java:83
        gen_lr: float = 0.004,   # java:85 (gan_learning_rate drives gen)
        seed: int = DEFAULT_SEED,
    ):
        dis_specs = build_mlp("dis", feature_dim, dis_hidden or [128, 64], 1, "sigmoid")
        gen_specs = build_mlp("gen", latent_dim, gen_hidden or [64, 128], feature_dim, "sigmoid")
        self._assemble(dis_specs, feature_dim, gen_specs, feature_dim, latent_dim,
                       n_classes, dis_lr, gen_lr, seed)

    def _assemble(self, dis_specs, dis_input, gen_specs, feature_dim, latent_dim,
                  n_classes, dis_lr, gen_lr, seed) -> None:
        self.feature_dim = feature_dim
        self.latent_dim = latent_dim
        self.n_classes = n_classes
        self.seed = seed
        self.dis = Network(
            dis_specs, init_weights(dis_specs, dis_input, seed), {s.name: dis_lr for s in dis_specs}
        )
        self.gen = Network(
            gen_specs, init_weights(gen_specs, latent_dim, seed + 1), {s.name: gen_lr for s in gen_specs}
        )
        # gan = gen stack + dis stack with dis frozen (lr 0.0, java:84 + :277-308)
        gan_weights = {
            k: {p: a.copy() for p, a in v.items()}
            for k, v in {**self.gen.weights, **self.dis.weights}.items()
        }
        self.gan = Network(
            gen_specs + dis_specs, gan_weights,
            {**{s.name: gen_lr for s in gen_specs}, **{s.name: 0.0 for s in dis_specs}},
        )
        self.cv: Network | None = None
        self.history: list[dict] = []

    @classmethod
    def dcgan(
        cls,
        side: int = 28,
        latent_dim: int = 2,
        base_filters: int = 64,
        n_classes: int = 10,
        dis_lr: float = 0.002,
        gen_lr: float = 0.004,
        seed: int = DEFAULT_SEED,
    ) -> "GanPipeline":
        """The reference's conv topology family (dl4jGANComputerVision.java):

        dis: (1,S,S) → conv5×5/2 F → conv5×5/2 2F → flatten → dense 1024 →
             sigmoid(1)                                   (java:118-165)
        gen: latent → dense 2F·(S/4)² → reshape (2F,S/4,S/4) → up×2 →
             conv5×5 F → up×2 → conv5×5 1 sigmoid → flatten (java:173-221)

        (BatchNorm layers of the reference are representable via
        LayerSpec("...", "batchnorm"); kept out of the default topology for
        step-time economy — add them to the spec lists to match exactly.)
        """
        if side % 4:
            raise ValueError(f"side must be divisible by 4 (two stride/upsample 2s), got {side}")
        f = base_filters
        dis_specs = [
            LayerSpec("dis_reshape", "reshape", {"shape": (1, side, side)}),
            LayerSpec("dis_conv2d_0", "conv2d", {"filters": f, "kernel": 5, "stride": 2, "pad": 2, "activation": "tanh"}),
            LayerSpec("dis_conv2d_1", "conv2d", {"filters": 2 * f, "kernel": 5, "stride": 2, "pad": 2, "activation": "tanh"}),
            LayerSpec("dis_flat", "flatten"),
            LayerSpec("dis_dense_0", "dense", {"units": 256, "activation": "tanh"}),
            LayerSpec("dis_output", "dense", {"units": 1, "activation": "sigmoid"}),
        ]
        q = side // 4
        gen_specs = [
            LayerSpec("gen_dense_0", "dense", {"units": 2 * f * q * q, "activation": "tanh"}),
            LayerSpec("gen_reshape", "reshape", {"shape": (2 * f, q, q)}),
            LayerSpec("gen_up_0", "upsample", {"factor": 2}),
            LayerSpec("gen_conv2d_0", "conv2d", {"filters": f, "kernel": 5, "stride": 1, "pad": 2, "activation": "tanh"}),
            LayerSpec("gen_up_1", "upsample", {"factor": 2}),
            LayerSpec("gen_conv2d_1", "conv2d", {"filters": 1, "kernel": 5, "stride": 1, "pad": 2, "activation": "sigmoid"}),
            LayerSpec("gen_flat", "flatten"),
        ]
        self = cls.__new__(cls)
        self._assemble(dis_specs, (1, side, side), gen_specs, side * side, latent_dim,
                       n_classes, dis_lr, gen_lr, seed)
        return self

    # -- O4 steps -----------------------------------------------------------

    def _label_df(self, spark: SparkSession, feats: np.ndarray, label: float, noise_seed: int) -> pd.DataFrame:
        rng = np.random.default_rng(noise_seed)
        # P6 label smoothing: ±N(0, 0.05) (java:405-406); engine default =
        # fresh noise per batch (reference reuses one draw — compat quirk)
        y = label + rng.normal(0, 0.05, (len(feats), 1))
        return pd.DataFrame(
            {"features": list(feats.astype(np.float32)), "label_vec": list(y.astype(np.float32))}
        )

    def _to_df(self, spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
        schema = T.StructType(
            [
                T.StructField("features", T.ArrayType(T.FloatType())),
                T.StructField("label_vec", T.ArrayType(T.FloatType())),
            ]
        )
        return spark.createDataFrame(pdf, schema)

    def fit(
        self,
        spark: SparkSession,
        real: np.ndarray,
        labels: np.ndarray | None = None,
        epochs: int = 2,            # numIterations=2, java:72
        batch_rows: int = 200,      # batchSizePerWorker, java:66
        n_workers: int = 2,
        avg_freq: int = 10,         # averagingFrequency, java:326
    ) -> list[dict]:
        """The adversarial alternation (java:408-621)."""
        rng = np.random.default_rng(self.seed)
        for epoch in range(epochs):
            take = rng.choice(len(real), size=min(batch_rows, len(real)), replace=False)
            real_batch = real[take]

            # (a) fake batch via gen forward (K10), uniform latent → [-1,1] (P5)
            z = rng.uniform(0, 1, (len(real_batch), self.latent_dim)) * 2.0 - 1.0
            fake_batch = forward(z.astype(np.float32), self.gen.specs, self.gen.weights)

            # (b) dis fit on [real:1+ε ∥ fake:0+ε] (java:412-426)
            dis_pdf = pd.concat(
                [
                    self._label_df(spark, real_batch, 1.0, self.seed + epoch * 7),
                    self._label_df(spark, fake_batch, 0.0, self.seed + epoch * 7 + 1),
                ],
                ignore_index=True,
            )
            dis_loss = fit_distributed(
                self._to_df(spark, dis_pdf), self.dis, n_workers, avg_freq, batch_rows
            )

            # (c) sync dis → gan (J1, java:429-460)
            copy_weights_dict(
                self.gan.weights, self.dis.weights,
                {s.name: s.name for s in self.dis.specs},
            )

            # (d) gan fit: fooling batch (noise, label 1) (java:462-471)
            z2 = rng.uniform(0, 1, (2 * len(real_batch), self.latent_dim)) * 2.0 - 1.0
            gan_pdf = self._label_df(spark, z2.astype(np.float32), 1.0, self.seed + epoch * 7 + 2)
            gan_loss = fit_distributed(
                self._to_df(spark, gan_pdf), self.gan, n_workers, avg_freq, batch_rows
            )

            # (e) sync gan → gen (J1, java:474-510)
            copy_weights_dict(
                self.gen.weights, self.gan.weights,
                {s.name: s.name for s in self.gen.specs},
            )

            # (f) transfer-learned classifier step (O2 + java:512-545)
            cv_loss = math.nan
            if labels is not None:
                cv_loss = self._fit_classifier(
                    spark, real_batch, labels[take], n_workers, avg_freq, batch_rows
                )

            self.history.append(
                {"epoch": epoch, "dis_loss": dis_loss, "gan_loss": gan_loss, "cv_loss": cv_loss}
            )
        return self.history

    # -- O2 transfer learning ----------------------------------------------

    def _fit_classifier(self, spark, x, y, n_workers, avg_freq, batch_rows) -> float:
        if self.cv is None:
            feature_specs = [
                LayerSpec(s.name.replace("dis_", "cv_"), s.kind, dict(s.cfg))
                for s in self.dis.specs[:-1]  # drop old head (java:351)
            ]
            head = LayerSpec(
                "cv_output", "dense", {"units": self.n_classes, "activation": "softmax"}
            )  # java:357-363
            specs = feature_specs + [head]
            weights = init_weights(specs, self.feature_dim, self.seed + 2)
            lr = {s.name: 0.0 for s in feature_specs}  # frozen (java:84,350)
            lr["cv_output"] = 0.01
            self.cv = Network(specs, weights, lr)
        # sync dis features → cv (J1, java:516-542)
        copy_weights_dict(
            self.cv.weights, self.dis.weights,
            {s.name: s.name.replace("dis_", "cv_") for s in self.dis.specs[:-1]},
        )
        onehot = np.eye(self.n_classes, dtype=np.float32)[np.asarray(y, dtype=int)]
        pdf = pd.DataFrame(
            {"features": list(x.astype(np.float32)), "label_vec": list(onehot)}
        )
        return fit_distributed(
            self._to_df(spark, pdf), self.cv, n_workers, avg_freq, batch_rows
        )

    # -- O5 observers -------------------------------------------------------

    def generate_grid(self, spark: SparkSession, side: int = 10) -> DataFrame:
        """R3 grid → gen forward → ordered rows (java:550-570 / W3)."""
        from .functions.random import latent_grid
        from .kernels import apply_network

        grid = latent_grid(spark, side).select(
            "grid_id", F.array("zi", "zj").cast("array<float>").alias("features")
        )
        out = apply_network(grid, self.gen.specs, self.gen.weights, keep_cols=["grid_id"])
        return out.orderBy("grid_id")

    def write_png_grid(self, spark: SparkSession, path: str,
                       side: int = 10) -> bytes:
        """S12 image sink: render the ``generate_grid`` output as one
        side×side PNG mosaic (gan.ipynb raw 425-438 — the reference's
        matplotlib 10×10 figure of generated digits — re-expressed through
        the engine's own pure-stdlib PNG encoder).

        The collect is bounded by contract (side² rows, one generated image
        each — a sink artifact, not a data path). Generator outputs are in
        tanh/sigmoid range; values are min-max scaled per-mosaic to uint8,
        matching matplotlib's default imshow normalization. Non-square
        outputs take the widest h≤w factorization. Returns the PNG bytes
        (also written to ``path``)."""
        from .functions.imagecodec import encode_png

        rows = self.generate_grid(spark, side).collect()
        vecs = np.asarray(
            [np.asarray(r["output"], dtype=np.float64) for r in rows]
        )
        d = vecs.shape[1]
        h = int(math.sqrt(d))
        while d % h:
            h -= 1
        w = d // h
        lo, hi = float(vecs.min()), float(vecs.max())
        scaled = np.zeros_like(vecs) if hi == lo else (vecs - lo) / (hi - lo)
        tiles = (scaled * 255.0).round().astype(np.uint8).reshape(side, side, h, w)
        mosaic = tiles.transpose(0, 2, 1, 3).reshape(side * h, side * w)
        png = encode_png(mosaic)
        with open(path, "wb") as fh:
            fh.write(png)
        return png

    def predict(self, df: DataFrame, net: Network | None = None,
                features_col: str = "features") -> DataFrame:
        """Chunked distributed inference (java:572-597; chunk = Arrow batch)."""
        from .kernels import apply_network

        net = net or self.cv or self.dis
        return apply_network(df, net.specs, net.weights, features_col=features_col)

    # -- S10 checkpoints ----------------------------------------------------

    def checkpoint(self, spark: SparkSession, path: str) -> None:
        """Weights → parquet + config JSON (engine artifact format; replaces
        ModelSerializer zips, java:605-618). Each network's tensor rows are
        exploded in the JVM into the long form: one ``WEIGHTS_SCHEMA`` row
        per parameter."""
        os.makedirs(path, exist_ok=True)
        for name, net in [("dis", self.dis), ("gen", self.gen), ("gan", self.gan)] + (
            [("cv", self.cv)] if self.cv else []
        ):
            # list values: createDataFrame takes them with Arrow on or off
            rows = [(layer, p, v.tolist()) for layer, p, v in tensor_rows(net.weights)]
            spark.createDataFrame(pd.DataFrame(rows, columns=TENSOR_SCHEMA.names), TENSOR_SCHEMA).select(
                "layer", "param", F.posexplode_outer("value").alias("pos", "value")
            ).write.mode("overwrite").parquet(f"{path}/{name}_weights.parquet")
            cfg = [
                {"name": s.name, "kind": s.kind, "cfg": s.cfg} for s in net.specs
            ]
            with open(f"{path}/{name}_config.json", "w") as f:
                json.dump(cfg, f)
