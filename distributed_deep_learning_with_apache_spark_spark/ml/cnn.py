"""CNN-capability pipeline: conv feature extraction → MLlib classifier.

SURVEY §7 lists the reference's LeNet-style CNN (ML3,
`MnistClassification.java:90-137`: conv5×5×20 → maxpool → conv5×5×50 →
maxpool → dense → softmax) as the hard part with no MLlib equivalent. This
module closes the capability gap the Spark way: the convolutional feature
extractor runs as an Arrow-batched `mapInPandas` stage (NumPy, vectorized
over the whole batch — the Pandas-UDF analog of a frozen conv backbone),
and the trainable classifier head is MLlib's MultilayerPerceptronClassifier.

Two variants close the gap:
 1. frozen conv backbone (deterministic edge/line/corner kernels) +
    MLlib MLP head — `ml_cnn_features_mlp`;
 2. FULLY TRAINED conv net (`DistributedConvClassifier`): conv3×3×K →
    ReLU → maxpool2×2 → tanh dense → softmax, every layer trained by the
    same synchronous parameter-averaging loop as ml/distributed.py —
    the mechanism the reference uses for its LeNet (conv kernels learned
    by SGD), realized Spark-first. `ml_cnn_trained_conv` trains it on the
    real decoded-PNG corpus (sources/pngcodec.py) and must beat the
    frozen-backbone baseline (tests/test_cnn.py).

Scale posture: featurization is embarrassingly parallel (mapInPandas, no
shuffle, Arrow batches of whole partitions); training communication is
O(model size × epochs) — data never moves, weights do.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table

# A cluster's executors need not have this package installed — serialize
# this module's helpers by value (same pattern as ml/distributed.py).
try:  # pragma: no cover - import location varies across pyspark versions
    from pyspark import cloudpickle as _cp
except ImportError:
    import cloudpickle as _cp
_cp.register_pickle_by_value(sys.modules[__name__])

SEED = 42
SIDE = 8          # 64-dim embedding reshaped to an 8×8 single-channel "image"
N_KERNELS = 4
POOLED = N_KERNELS * 3 * 3  # 4 maps × (6×6 valid conv → 2×2 max-pool → 3×3)

# Deterministic 3×3 kernels: horizontal edge, vertical edge, Laplacian, identity-blur.
KERNELS = [
    [[1, 1, 1], [0, 0, 0], [-1, -1, -1]],
    [[1, 0, -1], [1, 0, -1], [1, 0, -1]],
    [[0, 1, 0], [1, -4, 1], [0, 1, 0]],
    [[1, 2, 1], [2, 4, 2], [1, 2, 1]],
]


def conv_featurize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """conv3×3×4 (valid) → ReLU → maxpool2×2 over the reshaped 8×8 grid,
    as one Arrow-batched mapInPandas stage. Returns (vec_id, label,
    features array<double>[36]).

    The kernel loop is over 4 kernels only; the batch dimension is fully
    vectorized via sliding_window_view + einsum, so per-row Python cost is
    amortized to nothing (the pickle-by-value closure keeps executors
    import-free).
    """
    out_schema = "vec_id bigint, label int, features array<double>"
    kernels = KERNELS  # captured by value in the closure below

    def batches(it):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        ks = np.asarray(kernels, dtype=np.float64)  # [4, 3, 3]
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # [n, 64]
            imgs = x.reshape(-1, SIDE, SIDE)  # [n, 8, 8]
            win = sliding_window_view(imgs, (3, 3), axis=(1, 2))  # [n, 6, 6, 3, 3]
            conv = np.einsum("nxyij,kij->nkxy", win, ks)  # [n, 4, 6, 6]
            relu = np.maximum(conv, 0.0)
            # 2×2 max-pool, stride 2: [n, 4, 3, 2, 3, 2] → max over the 2×2 cells
            pooled = relu.reshape(-1, N_KERNELS, 3, 2, 3, 2).max(axis=(3, 5))
            feats = pooled.reshape(-1, POOLED)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "features": list(feats),
                }
            )

    return df.select("vec_id", "label", vec_col).mapInPandas(batches, out_schema)


@register(
    "ml_cnn_features_mlp",
    oracle=None,  # iterative MLP fit on conv features; rows-only (structure asserted in tests)
    tags=("ml", "classify", "cnn", "multimodal"),
)
def ml_cnn_features_mlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML3 capability (CNN classification) Spark-first: frozen conv
    backbone via mapInPandas (conv3×3×4 → ReLU → maxpool2×2) over the
    embeddings-as-8×8-images, then an MLlib MLP [36, 24, 10] head; output
    is the distributed confusion matrix (A7), same contract as
    ml_mlp_confusion."""
    from pyspark.ml.classification import MultilayerPerceptronClassifier
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    feats = conv_featurize(e).select(
        array_to_vector("features").alias("features"), F.col("label").cast("double").alias("label")
    )
    train, test = feats.randomSplit([0.8, 0.2], seed=SEED)
    mlp = MultilayerPerceptronClassifier(layers=[POOLED, 24, 10], maxIter=30, seed=SEED)
    model = mlp.fit(train)
    return (
        model.transform(test)
        .groupBy("label", "prediction")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Fully trained conv net via synchronous parameter averaging
# ---------------------------------------------------------------------------
def _cnn_init(side: int, n_kernels: int, hidden: int, n_classes: int, seed: int):
    """params = [K(k,3,3), bk(k), W1(D,h), b1(h), W2(h,C), b2(C)]."""
    rng = np.random.default_rng(seed)
    ph = (side - 2) // 2
    d = n_kernels * ph * ph
    return [
        rng.normal(0.0, 1.0 / 3.0, size=(n_kernels, 3, 3)),
        np.zeros(n_kernels),
        rng.normal(0.0, 1.0 / np.sqrt(d), size=(d, hidden)),
        np.zeros(hidden),
        rng.normal(0.0, 1.0 / np.sqrt(hidden), size=(hidden, n_classes)),
        np.zeros(n_classes),
    ]


def _cnn_forward(params, x):
    """x [n, side, side] -> (cache, logits). conv3x3(valid) -> ReLU ->
    maxpool2x2 -> tanh dense -> linear logits. Fully vectorized over the
    batch (sliding_window_view + einsum) — no per-row Python."""
    from numpy.lib.stride_tricks import sliding_window_view

    k, bk, w1, b1, w2, b2 = params
    n, side = x.shape[0], x.shape[1]
    ph = (side - 2) // 2
    win = sliding_window_view(x, (3, 3), axis=(1, 2))  # [n, s-2, s-2, 3, 3]
    conv = np.einsum("nxyij,kij->nkxy", win, k) + bk[None, :, None, None]
    relu = np.maximum(conv, 0.0)
    cells = relu[:, :, : 2 * ph, : 2 * ph].reshape(n, -1, ph, 2, ph, 2)
    pooled = cells.max(axis=(3, 5))  # [n, K, ph, ph]
    flat = pooled.reshape(n, -1)
    h = np.tanh(flat @ w1 + b1)
    logits = h @ w2 + b2
    return (win, conv, relu, pooled, flat, h), logits


def _cnn_loss_grads(params, x, y_onehot):
    """Softmax cross-entropy loss + gradients for every parameter
    (textbook backprop through dense, pool — gradient routed to cell
    maxima — ReLU and the conv kernels)."""
    cache, logits = _cnn_forward(params, x)
    win, conv, relu, pooled, flat, h = cache
    k, bk, w1, b1, w2, b2 = params
    n, side = x.shape[0], x.shape[1]
    ph = (side - 2) // 2

    z = logits - logits.max(axis=1, keepdims=True)
    ez = np.exp(z)
    probs = ez / ez.sum(axis=1, keepdims=True)
    loss = float(-np.log(np.clip(probs[np.arange(n), y_onehot.argmax(1)], 1e-12, None)).mean())

    g = (probs - y_onehot) / n  # dL/dlogits
    gw2 = h.T @ g
    gb2 = g.sum(axis=0)
    gh = (g @ w2.T) * (1.0 - h**2)  # tanh'
    gw1 = flat.T @ gh
    gb1 = gh.sum(axis=0)
    gpool = (gh @ w1.T).reshape(pooled.shape)
    # max-unpool: route gradient to each 2x2 cell's maxima (ties share)
    cells = relu[:, :, : 2 * ph, : 2 * ph].reshape(n, -1, ph, 2, ph, 2)
    mask = cells == pooled[:, :, :, None, :, None]
    grelu = np.zeros_like(relu)
    grelu[:, :, : 2 * ph, : 2 * ph] = (mask * gpool[:, :, :, None, :, None]).reshape(
        n, -1, 2 * ph, 2 * ph
    )
    gconv = grelu * (conv > 0)
    gk = np.einsum("nxyij,nkxy->kij", win, gconv)
    gbk = gconv.sum(axis=(0, 2, 3))
    return loss, [gk, gbk, gw1, gb1, gw2, gb2]


def _cnn_local_sgd(params, x, y_onehot, lr, batch_size, seed, freeze_conv=False, momentum=0.0):
    """Minibatch SGD from the given start point (one local epoch).
    freeze_conv skips the conv kernel/bias updates (params 0-1) — the
    frozen-backbone baseline the trained net must beat.  momentum > 0
    enables Nesterov momentum (the reference's updater,
    `MnistClassification.java:101`: Nesterovs(lr, 0.9)); velocity is
    partition-local and resets each epoch — it never crosses the
    parameter-averaging barrier, so communication stays O(model size)."""
    rng = np.random.default_rng(seed)
    p = [w.copy() for w in params]
    vel = [np.zeros_like(w) for w in params]
    order = rng.permutation(len(x))
    first = 2 if freeze_conv else 0
    for start in range(0, len(x), batch_size):
        idx = order[start : start + batch_size]
        if momentum > 0.0:
            # Nesterov: evaluate the gradient at the look-ahead point
            ahead = [p[i] + momentum * vel[i] for i in range(len(p))]
            _, grads = _cnn_loss_grads(ahead, x[idx], y_onehot[idx])
            for i in range(first, len(p)):
                vel[i] = momentum * vel[i] - lr * grads[i]
                p[i] += vel[i]
        else:
            _, grads = _cnn_loss_grads(p, x[idx], y_onehot[idx])
            for i in range(first, len(p)):
                p[i] -= lr * grads[i]
    return p


class DistributedConvClassifier:
    """Parameter-averaging conv-net classifier — ALL layers trained,
    including the conv kernels (the reference trains its LeNet kernels:
    `chapter_4/MnistClassification.java:90-137`).

    fit() expects (`pixels array<double>` row-major side×side in [0,1],
    `label int`); data stays partitioned on executors for the whole run —
    per epoch only the O(model-size) weights move.
    """

    def __init__(
        self,
        side: int,
        n_classes: int,
        n_kernels: int = 4,
        hidden: int = 32,
        epochs: int = 12,
        lr: float = 0.5,
        batch_size: int = 32,
        seed: int = SEED,
        freeze_conv: bool = False,
        momentum: float = 0.0,
        lr_schedule: dict[int, float] | None = None,
    ) -> None:
        self.side = side
        self.n_classes = n_classes
        self.n_kernels = n_kernels
        self.hidden = hidden
        self.epochs = epochs
        self.lr = lr
        self.batch_size = batch_size
        self.seed = seed
        self.freeze_conv = freeze_conv
        self.momentum = momentum
        # {epoch: lr} step schedule — the reference's per-iteration LR map
        # (`MnistClassification.java:92-97`) rebased to epochs; the last
        # entry at or below the current epoch wins.
        self.lr_schedule = lr_schedule
        self.params = None
        self.loss_history: list[float] = []

    def _lr_at(self, epoch: int) -> float:
        if not self.lr_schedule:
            return self.lr
        steps = [e for e in self.lr_schedule if e <= epoch]
        return self.lr_schedule[max(steps)] if steps else self.lr

    def fit(self, df: DataFrame) -> "DistributedConvClassifier":
        sc = df.sparkSession.sparkContext
        side, n_classes = self.side, self.n_classes
        rdd = df.select("pixels", "label").rdd.map(
            lambda r: (np.asarray(r[0], dtype=np.float64).reshape(side, side), int(r[1]))
        ).cache()
        params = _cnn_init(side, self.n_kernels, self.hidden, n_classes, self.seed)
        if self.freeze_conv:
            # Frozen-backbone baseline: the deterministic edge/line/corner
            # kernels of conv_featurize, unit-normalized so the fixed maps
            # land in the dense layer's useful range (a fair baseline, not
            # a saturated one), never updated.
            k = np.asarray(KERNELS, dtype=np.float64)[: self.n_kernels]
            norms = np.linalg.norm(k.reshape(len(k), -1), axis=1)
            params[0] = k / norms[:, None, None]
        bs, freeze, mom = self.batch_size, self.freeze_conv, self.momentum

        for epoch in range(self.epochs):
            bc = sc.broadcast(params)
            ep_seed = self.seed + epoch
            lr = self._lr_at(epoch)

            def train_partition(split_idx, rows, _bc=bc, _seed=ep_seed, _lr=lr):
                data = list(rows)
                if not data:
                    return
                x = np.stack([d[0] for d in data])
                y = np.zeros((len(data), n_classes))
                y[np.arange(len(data)), [d[1] for d in data]] = 1.0
                p = _cnn_local_sgd(
                    _bc.value, x, y, _lr, bs, _seed * 1000 + split_idx, freeze, mom
                )
                loss, _ = _cnn_loss_grads(p, x, y)
                yield (p, len(x), loss * len(x))

            results = rdd.mapPartitionsWithIndex(train_partition).collect()
            total = sum(n for _, n, _ in results)
            params = [
                sum(p[i] * (n / total) for p, n, _ in results) for i in range(len(params))
            ]
            self.loss_history.append(sum(l for _, _, l in results) / total)
            bc.destroy()
        rdd.unpersist()
        self.params = params
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        """Distributed inference: broadcast weights, argmax logits per
        Arrow batch."""
        assert self.params is not None, "fit first"
        from pyspark.sql import types as T

        bc = df.sparkSession.sparkContext.broadcast(self.params)
        side = self.side

        @F.pandas_udf(T.IntegerType())
        def predict(pixels: pd.Series) -> pd.Series:
            x = np.stack([np.asarray(v, dtype=np.float64).reshape(side, side) for v in pixels])
            _, logits = _cnn_forward(bc.value, x)
            return pd.Series(logits.argmax(axis=1).astype("int32"))

        return df.withColumn("prediction", predict(F.col("pixels")))

    def save(self, path: str) -> None:
        """S15 parity for the custom trainer (the reference persists its
        net: `MnistClassification.java` writeModel): weights + hyperparams
        to one .npz — KB-sized, driver-side by design (model artifacts are
        metadata, not data)."""
        assert self.params is not None, "fit first"
        meta = np.array(
            [self.side, self.n_classes, self.n_kernels, self.hidden], dtype=np.int64
        )
        np.savez(
            path,
            meta=meta,
            **{f"p{i}": w for i, w in enumerate(self.params)},
        )

    @classmethod
    def load(cls, path: str) -> "DistributedConvClassifier":
        with np.load(path) as z:
            side, n_classes, n_kernels, hidden = (int(v) for v in z["meta"])
            model = cls(side=side, n_classes=n_classes, n_kernels=n_kernels, hidden=hidden)
            model.params = [z[f"p{i}"] for i in range(6)]
        return model


def png_pixels_df(spark: SparkSession) -> DataFrame:
    """Decoded REAL pixels of the seeded PNG corpus: (path, label,
    pixels array<double>[side²] in [0,1]). binaryFile scan → by-value
    PNG-decode closure in one Arrow hop (sources/pngcodec.py)."""
    from ..sources.binary import read_binary_dir
    from ..sources.pngcodec import ensure_fixture_corpus, make_gray_png_decoder

    root = ensure_fixture_corpus()
    decode = make_gray_png_decoder()

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = {"path": [], "label": [], "pixels": []}
            for path, label, buf in zip(pdf["path"], pdf["label"], pdf["content"]):
                _, _, px = decode(buf)
                out["path"].append(path)
                out["label"].append(int(label))
                out["pixels"].append((np.asarray(px, dtype=np.float64) / 255.0).tolist())
            yield pd.DataFrame(out)

    return (
        read_binary_dir(spark, root)
        .select("path", F.col("label").cast("int").alias("label"), "content")
        .mapInPandas(kernel, "path string, label int, pixels array<double>")
    )


@register(
    "ml_cnn_trained_conv",
    oracle=None,  # SGD trajectory; rows-only (accuracy asserted in tests)
    tags=("ml", "classify", "cnn", "multimodal", "distributed"),
)
def ml_cnn_trained_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML3 end-to-end the way the reference does it — PNG files → decoded
    pixel grids → conv net with TRAINED kernels — but distributed: decode
    is an Arrow-batched scan stage, training is synchronous parameter
    averaging. Returns the test-split confusion matrix (A7 contract,
    same shape as ml_mlp_confusion)."""
    from ..sources.pngcodec import IMG_SIZE, N_LABELS

    data = png_pixels_df(spark).repartition(4, "path")
    train = data.filter(F.crc32(F.col("path")) % 5 < 4)
    test = data.filter(F.crc32(F.col("path")) % 5 >= 4)
    model = DistributedConvClassifier(side=IMG_SIZE, n_classes=N_LABELS).fit(train)
    return (
        model.transform(test)
        .groupBy("label", "prediction")
        .agg(F.count(F.lit(1)).alias("n"))
    )
