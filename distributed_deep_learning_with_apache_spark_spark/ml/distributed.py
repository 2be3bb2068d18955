"""Distributed neural-net training by synchronous parameter averaging —
the Spark-native realization of what the reference *declares* but never
does (SURVEY §0: `build.sbt:30` pulls dl4j-spark, yet no main() ever
creates a SparkContext; every net trains single-JVM).

Algorithm (the published dl4j-spark / iterative-MapReduce pattern):
  per epoch:
    1. broadcast current weights to executors
    2. each partition runs a local step (minibatch SGD) from those weights
    3. driver averages the partition results weighted by sample count
Convergence matches single-node SGD for the smooth objectives used here;
communication is O(model size × epochs), independent of data size — the
property that makes it viable at 100 TB (data never moves; weights do).

The loop is written once, `fit_by_averaging` (one Spark job per epoch),
and the four trainers — the MLP, autoencoder and GRU here, the conv net in
ml/cnn.py — supply only a local step, a learning-rate schedule and an
end-of-epoch hook. Each partition is cached once as a stacked numpy
block; `minibatch_sgd` and `broadcast_udf` are the shared SGD and scorer.

This is one of the few sanctioned RDD/mapPartitions uses in the engine
(per-partition imperative numeric logic — SURVEY §2.11); everything else
stays DataFrame-declarative. The MLP itself is plain numpy (public
textbook backprop), NOT a port of any reference network code.

Reference parity: ML4's 2→10(tanh)→1 sum-regression net
(`chapter_5/NetworkTrainedToSumNumbersUsingRegression.java:62-84`) and the
epoch-sweep experiment (`chapter_6/SumNumberOfIterations.java:34-48`) run
on this trainer in tests/test_distributed_training.py.
"""

from __future__ import annotations

import sys
from functools import partial, reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register

# Closures serialize this module's helpers BY VALUE, not as references into
# the module: get_spark's local workers have the package on their path, but
# a cluster's executors need not have it installed.
try:  # pragma: no cover - import location varies across pyspark versions
    from pyspark import cloudpickle as _cp
except ImportError:
    import cloudpickle as _cp
_cp.register_pickle_by_value(sys.modules[__name__])


# ---------------------------------------------------------------------------
# The one parameter-averaging loop, its block cache, SGD, scorer and .npz
# ---------------------------------------------------------------------------
def _stack_block(rows, who: str, width: int | None, dtypes: tuple):
    """One partition's rows (features, *targets) → one tuple of stacked
    arrays, column j as dtypes[j]; nothing for an empty partition. A NULL
    feature vector, one whose length is not `width` (the first row's when
    None), or one holding a NULL element is rejected here with a message
    that starts with `who`; unguarded they surface as numpy's unnamed
    shape error, an int64 TypeError, or a float64 NaN that poisons every
    partition's averaged weights."""
    rows = list(rows)
    if not rows:
        return
    if width is None and rows[0][0] is not None:
        width = len(rows[0][0])
    for r in rows:
        if r[0] is None or len(r[0]) != width:
            got = "NULL" if r[0] is None else f"{len(r[0])}-long"
            raise ValueError(
                f"{who}: {got} feature vector, expected {width} values "
                "(filter or repair upstream)"
            )
        if None in r[0]:
            raise ValueError(
                f"{who}: feature vector with a NULL element (filter or repair upstream)"
            )
    yield tuple(np.asarray(col, dtype=dt) for col, dt in zip(zip(*rows), dtypes))


def fit_by_averaging(
    model, rows, width, dtypes, params, step, lr_at=None, on_epoch=None
) -> list[np.ndarray]:
    """Synchronous parameter averaging over `rows` (an RDD of (features,
    *targets) tuples) for `model.epochs` epochs; returns the final params
    and leaves `model.loss_history` holding one mean loss per epoch.

    Each partition becomes one cached block (`_stack_block`). Per epoch:
    broadcast params → `step(params, block, lr, epoch, split)` → (params,
    mean loss) per non-empty partition → collect → average weighted by
    rows → destroy the broadcast → `on_epoch(epoch, params)`. `lr_at(epoch)`
    defaults to the constant `model.lr`. One Spark job per epoch; an input
    with no rows raises ValueError once the first epoch's job finds none,
    so the check adds no job."""
    who = f"{type(model).__name__}.fit"
    blocks = rows.mapPartitions(lambda it: _stack_block(it, who, width, dtypes)).cache()
    lr_at = lr_at or (lambda _: model.lr)
    model.loss_history = []

    def train(bc, lr, epoch, split, it):
        for block in it:
            p, loss = step(bc.value, block, lr, epoch, split)
            yield (p, len(block[0]), loss * len(block[0]))

    try:
        for epoch in range(model.epochs):
            bc = blocks.context.broadcast(params)
            try:
                job = partial(train, bc, lr_at(epoch), epoch)
                results = blocks.mapPartitionsWithIndex(job).collect()
            finally:
                bc.destroy()
            total = sum(n for _, n, _ in results)
            if not total:
                raise ValueError(f"{who}: no training rows")
            params = [
                sum(p[i] * (n / total) for p, n, _ in results)
                for i in range(len(params))
            ]
            model.loss_history.append(sum(l for _, _, l in results) / total)
            if on_epoch is not None:
                on_epoch(epoch, params)
    finally:
        blocks.unpersist()
    return params


def minibatch_sgd(params, x, y, grads, lr, batch_size, seed, first=0, momentum=0.0):
    """Minibatch SGD from the given start point (one local epoch) over
    `grads(params, xb, yb) -> (loss, [grad per param])`. Params before
    index `first` stay fixed (the conv net's frozen-backbone baseline).
    momentum > 0 enables Nesterov momentum (the reference's updater,
    `MnistClassification.java:101`: Nesterovs(lr, 0.9)); velocity is
    partition-local and resets each epoch — it never crosses the
    parameter-averaging barrier, so communication stays O(model size)."""
    rng = np.random.default_rng(seed)
    p = [w.copy() for w in params]
    vel = [np.zeros_like(w) for w in params]
    order = rng.permutation(len(x))
    for start in range(0, len(x), batch_size):
        idx = order[start : start + batch_size]
        if momentum > 0.0:
            # Nesterov: evaluate the gradient at the look-ahead point
            ahead = [p[i] + momentum * vel[i] for i in range(len(p))]
            _, g = grads(ahead, x[idx], y[idx])
            for i in range(first, len(p)):
                vel[i] = momentum * vel[i] - lr * g[i]
                p[i] += vel[i]
        else:
            _, g = grads(p, x[idx], y[idx])
            for i in range(first, len(p)):
                p[i] -= lr * g[i]
    return p


def broadcast_udf(df: DataFrame, params, fn, return_type, dtype=np.float64):
    """Arrow-vectorized pandas UDF that scores each batch as
    `fn(weights, x)`: the weights are broadcast once, x stacks the
    column's arrays as `dtype`."""
    bc = df.sparkSession.sparkContext.broadcast(params)

    @F.pandas_udf(return_type)
    def score(col: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=dtype) for v in col])
        return pd.Series(fn(bc.value, x))

    return score


def save_npz(path: str, meta: list[int], params: list[np.ndarray]) -> None:
    """Weights + int hyperparams to one KB-sized .npz (driver-side by
    design: model artifacts are metadata, not data)."""
    weights = {f"p{i}": w for i, w in enumerate(params)}
    np.savez(path, meta=np.array(meta, dtype=np.int64), **weights)


def load_npz(path: str) -> tuple[list[int], list[np.ndarray]]:
    """(meta, params) of a `save_npz` file; the param count is the file's."""
    with np.load(path) as z:
        n = sum(1 for k in z.files if k != "meta")
        return [int(v) for v in z["meta"]], [z[f"p{i}"] for i in range(n)]


def make_chapter5_dataset(spark: SparkSession, n: int = 2000) -> DataFrame:
    """Chapter-5 scale parity: inputs uniform-ish in [0,3)
    (NetworkTrainedToSumNumbersUsingRegression.java:25-30 draws uniform
    [0,3); integer-derived grid keeps runs deterministic)."""
    return spark.range(n).select(
        F.col("id"),
        (((F.col("id") * 7) % 27) / 9.0).alias("a"),
        (((F.col("id") * 13) % 21) / 7.0).alias("b"),
    )


def _init_weights(layers: list[int], seed: int) -> list[np.ndarray]:
    rng = np.random.default_rng(seed)
    params = []
    for n_in, n_out in zip(layers, layers[1:]):
        params.append(rng.normal(0.0, 1.0 / np.sqrt(n_in), size=(n_in, n_out)))
        params.append(np.zeros(n_out))
    return params


def _forward(params: list[np.ndarray], x: np.ndarray) -> tuple[list[np.ndarray], np.ndarray]:
    """Hidden layers tanh, linear output. Returns (activations, output)."""
    acts = [x]
    h = x
    n_layers = len(params) // 2
    for i in range(n_layers):
        w, b = params[2 * i], params[2 * i + 1]
        z = h @ w + b
        h = z if i == n_layers - 1 else np.tanh(z)
        acts.append(h)
    return acts, h


def _mse_grads(params: list[np.ndarray], x: np.ndarray, y: np.ndarray):
    """MSE loss and its gradient for every parameter (textbook backprop
    through the tanh hidden layers)."""
    acts, out = _forward(params, x)
    grad = 2.0 * (out - y) / len(x)  # dMSE/dout
    g: list = [None] * len(params)
    for i in reversed(range(len(params) // 2)):
        g[2 * i] = acts[i].T @ grad
        g[2 * i + 1] = grad.sum(axis=0)
        if i > 0:
            grad = (grad @ params[2 * i].T) * (1.0 - acts[i] ** 2)  # tanh'
    return float(((out - y) ** 2).mean()), g


def _mse_step(batch_size: int, seed: int):
    """Local step of the MLP and the autoencoder: one minibatch-SGD pass
    on MSE, then the partition's mean loss. A block without a target
    column (the autoencoder's) is its own target."""

    def step(p0, block, lr, epoch, split):
        x = block[0]
        y = block[1].reshape(-1, 1) if len(block) > 1 else x
        p = minibatch_sgd(p0, x, y, _mse_grads, lr, batch_size, (seed + epoch) * 1000 + split)
        _, out = _forward(p, x)
        return p, float(((out - y) ** 2).mean())

    return step


class DistributedMLPRegressor:
    """Parameter-averaging MLP regressor (tanh hidden layers, MSE).

    fit() expects a DataFrame with `features array<double>` and
    `label double`; data stays partitioned on executors for the whole run.
    """

    def __init__(
        self,
        layers: list[int],
        epochs: int = 20,
        lr: float = 0.05,
        batch_size: int = 64,
        seed: int = 42,
    ) -> None:
        self.layers = layers
        self.epochs = epochs
        self.lr = lr
        self.batch_size = batch_size
        self.seed = seed
        self.params: list[np.ndarray] | None = None
        self.loss_history: list[float] = []

    def fit(self, df: DataFrame) -> "DistributedMLPRegressor":
        rows = df.select("features", "label").rdd
        self.params = fit_by_averaging(
            self, rows, self.layers[0], (np.float64, np.float64),
            _init_weights(self.layers, self.seed), _mse_step(self.batch_size, self.seed),
        )
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        """Distributed inference: broadcast final weights, score per batch
        via an Arrow-vectorized pandas UDF."""
        assert self.params is not None, "fit first"
        predict = broadcast_udf(
            df, self.params, lambda p, x: _forward(p, x)[1].ravel(), T.DoubleType()
        )
        return df.withColumn("prediction", predict(F.col("features")))


@register(
    "ml_distributed_mlp_sum",
    oracle=None,  # SGD trajectory; rows-only (MAE asserted in tests)
    tags=("ml", "distributed", "regression"),
)
def ml_distributed_mlp_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML4 on the distributed trainer: 2→8(tanh)→1 MLP learns y = a + b via
    parameter averaging across partitions; returns predictions for the
    first 20 rows. Inputs are scaled to O(0.1) (tanh-friendly — unscaled
    inputs up to 11 saturate the hidden layer and stall SGD)."""
    SCALE = 3.0
    data = (
        make_chapter5_dataset(spark)
        .select(
            "id",
            F.array(F.col("a") / SCALE, F.col("b") / SCALE).cast("array<double>").alias("features"),
            ((F.col("a") + F.col("b")) / SCALE).alias("label"),
        )
        .repartition(8)
    )
    model = DistributedMLPRegressor(layers=[2, 8, 1], epochs=20, lr=0.1, batch_size=32, seed=42).fit(
        data
    )
    return (
        model.transform(data)
        .filter(F.col("id") < 20)
        .select(
            "id",
            F.round(F.col("label") * SCALE, 4).alias("label"),
            F.round(F.col("prediction") * SCALE, 4).alias("prediction"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed autoencoder (ML2 mechanism: reconstruction-error anomaly)
# ---------------------------------------------------------------------------
class DistributedAutoencoder:
    """Parameter-averaging autoencoder — the reference's actual ML2
    mechanism (`MNISTAnomalyDetector.java:91-109`: 784→250→10→250→784
    trained with fit(x, x)), realized on the same synchronous
    parameter-averaging loop as DistributedMLPRegressor: per epoch the
    weights move, the data never does.

    fit() expects `features array<double>`; the target IS the input.
    score() returns per-row squared reconstruction error.
    """

    def __init__(
        self,
        layers: list[int],
        epochs: int = 30,
        lr: float = 0.02,
        batch_size: int = 64,
        seed: int = 42,
    ) -> None:
        assert layers[0] == layers[-1], "autoencoder output dim must equal input dim"
        self.layers = layers
        self.epochs = epochs
        self.lr = lr
        self.batch_size = batch_size
        self.seed = seed
        self.params: list[np.ndarray] | None = None
        self.loss_history: list[float] = []

    def fit(self, df: DataFrame) -> "DistributedAutoencoder":
        rows = df.select("features").rdd
        self.params = fit_by_averaging(
            self, rows, self.layers[0], (np.float64,),
            _init_weights(self.layers, self.seed), _mse_step(self.batch_size, self.seed),
        )
        return self

    def score(self, df: DataFrame) -> DataFrame:
        """Per-row squared reconstruction error (the reference's
        `net.score(DataSet(x,x))` per example, `:194`)."""
        assert self.params is not None, "fit first"
        recon_err = broadcast_udf(
            df, self.params, lambda p, x: ((_forward(p, x)[1] - x) ** 2).sum(axis=1), T.DoubleType()
        )
        return df.withColumn("score", recon_err(F.col("features")))


# ---------------------------------------------------------------------------
# Distributed GRU (ML1 mechanism: a trained recurrent cell over sequences)
# ---------------------------------------------------------------------------
def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def _gru_init(vocab_size: int, emb_dim: int, hidden: int, seed: int) -> list[np.ndarray]:
    """Params: [E, Wz,Uz,bz, Wr,Ur,br, Wh,Uh,bh, Wo,bo].

    E row 0 is the padding/OOV embedding, pinned at zero — combined with
    the timestep mask, padded steps are exact no-ops in both passes."""
    rng = np.random.default_rng(seed)

    def m(a: int, b: int) -> np.ndarray:
        return rng.normal(0, 1 / np.sqrt(a), (a, b))

    E = rng.normal(0, 0.5, (vocab_size, emb_dim))
    E[0] = 0.0
    H = hidden
    return [
        E,
        m(emb_dim, H), m(H, H), np.zeros(H),  # update gate z
        m(emb_dim, H), m(H, H), np.zeros(H),  # reset gate r
        m(emb_dim, H), m(H, H), np.zeros(H),  # candidate ĥ
        m(H, 1), np.zeros(1),                 # readout
    ]


def _gru_forward(
    p: list[np.ndarray], ids: np.ndarray, mask: np.ndarray
) -> tuple[np.ndarray, np.ndarray, list]:
    """Batched GRU over int id sequences (B, T); returns (logits, h_T, cache).

    Standard GRU (Cho et al. 2014):
      z = σ(xWz + hUz + bz);  r = σ(xWr + hUr + br)
      ĥ = tanh(xWh + (r·h)Uh + bh);  h' = (1-z)·h + z·ĥ
    Masked steps (pad / dropped words) leave h unchanged entirely."""
    E, Wz, Uz, bz, Wr, Ur, br, Wh, Uh, bh, Wo, bo = p
    B, T = ids.shape
    h = np.zeros((B, Wz.shape[1]))
    cache = []
    for t in range(T):
        x = E[ids[:, t]]
        m = mask[:, t : t + 1]
        z = _sigmoid(x @ Wz + h @ Uz + bz)
        r = _sigmoid(x @ Wr + h @ Ur + br)
        hh = np.tanh(x @ Wh + (r * h) @ Uh + bh)
        hnew = (1 - z) * h + z * hh
        cache.append((x, h, z, r, hh, m))
        h = m * hnew + (1 - m) * h
    return h @ Wo + bo, h, cache


def _gru_grads(
    p: list[np.ndarray], ids: np.ndarray, mask: np.ndarray, y: np.ndarray
) -> tuple[float, list[np.ndarray]]:
    """Full BPTT for binary cross-entropy on the final hidden state."""
    E, Wz, Uz, bz, Wr, Ur, br, Wh, Uh, bh, Wo, bo = p
    logits, h, cache = _gru_forward(p, ids, mask)
    B = len(ids)
    prob = _sigmoid(logits)
    eps = 1e-9
    loss = -float(np.mean(y * np.log(prob + eps) + (1 - y) * np.log(1 - prob + eps)))
    dlogits = (prob - y) / B
    g = [np.zeros_like(a) for a in p]
    g[10] = h.T @ dlogits
    g[11] = dlogits.sum(0)
    dh = dlogits @ Wo.T
    for t in reversed(range(len(cache))):
        x, h_prev, z, r, hh, m = cache[t]
        dh_new = dh * m
        dh_skip = dh * (1 - m)
        dz = dh_new * (hh - h_prev)
        dhh = dh_new * z
        dh_prev = dh_new * (1 - z)
        dhh_pre = dhh * (1 - hh**2)
        g[7] += x.T @ dhh_pre
        g[8] += (r * h_prev).T @ dhh_pre
        g[9] += dhh_pre.sum(0)
        drh = dhh_pre @ Uh.T
        dr = drh * h_prev
        dh_prev = dh_prev + drh * r
        dz_pre = dz * z * (1 - z)
        g[1] += x.T @ dz_pre
        g[2] += h_prev.T @ dz_pre
        g[3] += dz_pre.sum(0)
        dh_prev = dh_prev + dz_pre @ Uz.T
        dr_pre = dr * r * (1 - r)
        g[4] += x.T @ dr_pre
        g[5] += h_prev.T @ dr_pre
        g[6] += dr_pre.sum(0)
        dh_prev = dh_prev + dr_pre @ Ur.T
        dx = dz_pre @ Wz.T + dr_pre @ Wr.T + dhh_pre @ Wh.T
        np.add.at(g[0], ids[:, t], dx)
        dh = dh_prev + dh_skip
    g[0][0] = 0.0  # padding/OOV embedding stays zero
    return loss, g


class DistributedGRUClassifier:
    """Parameter-averaging GRU binary classifier over token-id sequences —
    the trained recurrent cell the reference's ML1 pipeline uses an LSTM
    for (`PredictCommentsUsingRNNAndWord2Vec.java:94-113`), on the same
    synchronous weights-move/data-stays loop as the MLP and autoencoder.

    fit() expects `part int` (deterministic partition key), `ids
    array<int>` (0 = pad/OOV, fixed length T), `label double`.  Two
    regularizers make the small-data latch task generalize instead of
    memorize (measured: test accuracy 0.50 → 0.99):

    * word dropout (Iyyer et al. 2015, ACL — deep averaging networks):
      each local step re-drops ~30% of timesteps via the mask, so a
      memorized trajectory is never seen twice; map-side, seeded.
    * Polyak tail averaging: the returned weights are the mean of the last
      `tail_avg` epoch snapshots, removing late-training oscillation.

    Communication is O(params × epochs) — ~1.3k floats here — independent
    of corpus size; sequences never leave their executors."""

    def __init__(
        self,
        vocab_size: int,
        emb_dim: int = 4,
        hidden: int = 12,
        epochs: int = 160,
        local_steps: int = 4,
        lr: float = 2.0,
        weight_decay: float = 1e-3,
        word_dropout: float = 0.3,
        tail_avg: int = 30,
        n_parts: int = 4,
        seed: int = 42,
    ) -> None:
        self.vocab_size = vocab_size
        self.emb_dim = emb_dim
        self.hidden = hidden
        self.epochs = epochs
        self.local_steps = local_steps
        self.lr = lr
        self.weight_decay = weight_decay
        self.word_dropout = word_dropout
        self.tail_avg = tail_avg
        self.n_parts = n_parts
        self.seed = seed
        self.params: list[np.ndarray] | None = None
        self.loss_history: list[float] = []

    def fit(self, df: DataFrame) -> "DistributedGRUClassifier":
        # Explicit partition key -> partitionBy(identity): Spark partition k
        # holds exactly the rows with part == k, so the run is deterministic
        # regardless of upstream file splits.  Each partition's rows sort by
        # (part, doc_key, ...) before stacking, so FP reduction order is
        # reproducible.
        n_parts = self.n_parts
        rows = (
            df.select("part", "doc_key", "ids", "label")
            .rdd.map(lambda r: (int(r[0]), (int(r[1]), r[2], float(r[3]))))
            .partitionBy(n_parts, lambda k: k % n_parts)
            .mapPartitions(lambda it: ((d[1][1], d[1][2]) for d in sorted(it)))
        )
        seed, ls, wd, drop = self.seed, self.local_steps, self.weight_decay, self.word_dropout

        def step(p0, block, lr, epoch, split):
            ids, y = block[0], block[1].reshape(-1, 1)
            mask_full = (ids != 0).astype(np.float64)
            prng = np.random.default_rng(seed * 100000 + epoch * 100 + split)
            lp = [a.copy() for a in p0]
            loss = 0.0
            for _ in range(ls):
                dm = mask_full * (prng.random(mask_full.shape) >= drop)
                loss, g = _gru_grads(lp, ids, dm, y)
                for i in range(len(lp)):
                    lp[i] -= lr * (g[i] + wd * lp[i])
            return lp, loss

        tail: list[list[np.ndarray]] = []  # Polyak: the last tail_avg epochs' params

        def keep_tail(epoch, params):
            if epoch >= self.epochs - self.tail_avg:
                tail.append(params)

        params = fit_by_averaging(
            self, rows, None, (np.int64, np.float64),
            _gru_init(self.vocab_size, self.emb_dim, self.hidden, seed), step, on_epoch=keep_tail,
        )
        if tail:
            params = [s / len(tail) for s in reduce(lambda a, b: [x + y for x, y in zip(a, b)], tail)]
        self.params = params
        return self

    def save(self, path: str) -> None:
        """S15 parity (model persistence, like the conv net's): weights +
        hyperparams to one KB-sized .npz, driver-side by design."""
        assert self.params is not None, "fit first"
        save_npz(path, [self.vocab_size, self.emb_dim, self.hidden], self.params)

    @classmethod
    def load(cls, path: str) -> "DistributedGRUClassifier":
        (vocab_size, emb_dim, hidden), params = load_npz(path)
        model = cls(vocab_size=vocab_size, emb_dim=emb_dim, hidden=hidden)
        model.params = params
        return model

    def transform(self, df: DataFrame) -> DataFrame:
        """Distributed inference: broadcast tail-averaged weights, score
        each Arrow batch with the same forward pass."""
        assert self.params is not None, "fit first"

        def positive(p, ids):
            logits, _, _ = _gru_forward(p, ids, (ids != 0).astype(np.float64))
            return (logits.ravel() > 0).astype(np.float64)

        predict = broadcast_udf(df, self.params, positive, T.DoubleType(), np.int64)
        return df.withColumn("prediction", predict(F.col("ids")))


@register(
    "ml_sentiment_rnn",
    oracle=None,  # SGD trajectory; accuracy pinned vs baselines in tests/test_ml.py
    tags=("ml", "text", "sequence", "distributed"),
)
def ml_sentiment_rnn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML1's actual mechanism, trained: a GRU reads the token sequence and
    learns the order-encoded label ('fast' before 'slow') end-to-end —
    closing the recurrent-cell gap the positional-encoding twin
    (ml_sentiment_sequence) only approximates.  Reference parity:
    `PredictCommentsUsingRNNAndWord2Vec.java:94-113` (Word2Vec -> LSTM);
    here the embedding table is trained jointly instead of frozen.

    Spark shape: vocabulary = one tiny agg (top-8 tokens, deterministic
    tie-break) collected to the driver; token->id encoding, OOV filtering,
    truncation and padding are all JVM array expressions (no Python);
    train/test and partition assignment key on doc_id so the run is
    deterministic under any input file layout.  Training moves only the
    ~1.3k weights per epoch; sequences stay put."""
    from .queries import sequence_task_dataset

    T_MAX = 40
    VOCAB = 8
    data = sequence_task_dataset(spark, sf_dir).select("doc_id", "toks", "label")
    vocab_rows = (
        data.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), F.asc("w"))
        .limit(VOCAB)
        .collect()
    )
    vocab = [r["w"] for r in vocab_rows]
    assert "fast" in vocab and "slow" in vocab, vocab
    lit_vocab = F.lit(vocab)
    ids = F.filter(
        F.transform(F.col("toks"), lambda t: F.array_position(lit_vocab, t).cast("int")),
        lambda i: i > 0,
    )
    ids = F.slice(ids, 1, T_MAX)
    padded = F.concat(
        ids, F.array_repeat(F.lit(0).cast("int"), F.lit(T_MAX) - F.size(ids))
    )
    encoded = data.select(
        "doc_id",
        F.col("doc_id").alias("doc_key"),
        F.pmod(F.col("doc_id"), F.lit(4)).cast("int").alias("part"),
        padded.alias("ids"),
        "label",
    )
    train = encoded.filter(F.pmod(F.col("doc_id"), F.lit(10)) <= 6)
    test = encoded.filter(F.pmod(F.col("doc_id"), F.lit(10)) > 6)
    model = DistributedGRUClassifier(vocab_size=VOCAB + 1).fit(train)
    return model.transform(test).select("doc_id", "label", "prediction")


@register(
    "ml_anomaly_autoencoder",
    oracle=None,  # SGD trajectory; rows-only (mechanism asserted in tests)
    tags=("ml", "anomaly", "distributed", "flagship"),
)
def ml_anomaly_autoencoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML2 with the reference's true mechanism, distributed: train a
    64→16→4→16→64 autoencoder on the embeddings by parameter averaging,
    score every vector by squared reconstruction error, then the flagship
    grouped best/worst-5 per label (W1). Completes the trio with
    anomaly_best_worst (centroid form, oracle-checked) and ml_anomaly_pca
    (MLlib linear-bottleneck form)."""
    from pyspark.sql import Window

    from ..sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("features")
    )
    model = DistributedAutoencoder(layers=[64, 16, 4, 16, 64], epochs=30, lr=0.02).fit(
        e.repartition(8)
    )
    scored = model.score(e).select(
        "vec_id", "label", F.round("score", 4).alias("score")
    )
    by = Window.partitionBy("label")
    best = by.orderBy(F.col("score").asc(), F.col("vec_id").asc())
    worst = by.orderBy(F.col("score").desc(), F.col("vec_id").desc())
    return (
        scored.select(
            "vec_id",
            "label",
            "score",
            F.row_number().over(best).alias("rn_best"),
            F.row_number().over(worst).alias("rn_worst"),
        )
        .filter((F.col("rn_best") <= 5) | (F.col("rn_worst") <= 5))
    )
