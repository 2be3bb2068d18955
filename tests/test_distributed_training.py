"""Parameter-averaging distributed trainer: convergence + determinism +
the chapter-6 epoch-sweep experiment, with metric thresholds (the
reference eyeballs 0.111+0.333≈0.444 — chapter_5/...Regression.java:45-53)."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_deep_learning_with_apache_spark_spark.ml.cnn import DistributedConvClassifier
from distributed_deep_learning_with_apache_spark_spark.ml.distributed import (
    DistributedAutoencoder,
    DistributedGRUClassifier,
    DistributedMLPRegressor,
)
from distributed_deep_learning_with_apache_spark_spark.ml.distributed import make_chapter5_dataset

SCALE = 3.0  # inputs are [0,3) per chapter-5; scaled to [0,1) for tanh


@pytest.fixture(scope="module")
def sum_data(spark):
    return (
        make_chapter5_dataset(spark)
        .select(
            "id",
            F.array(F.col("a") / SCALE, F.col("b") / SCALE).cast("array<double>").alias("features"),
            ((F.col("a") + F.col("b")) / SCALE).alias("label"),
        )
        .repartition(8)
        .cache()
    )


def _mae(model, data):
    return (
        model.transform(data)
        .agg(F.avg(F.abs(F.col("prediction") - F.col("label"))))
        .first()[0]
    )


def test_converges_on_sum_task(spark, sum_data):
    model = DistributedMLPRegressor(layers=[2, 8, 1], epochs=20, lr=0.1, batch_size=32, seed=42).fit(
        sum_data
    )
    assert model.loss_history[-1] < model.loss_history[0] / 10, model.loss_history
    assert _mae(model, sum_data) * SCALE < 0.25  # unscaled MAE on targets up to ~6
    # the reference's spot check: predict 0.111.. + 0.333.. ≈ 0.444
    probe = spark.createDataFrame(
        [([0.111111 / SCALE, 0.333333 / SCALE],)], "features array<double>"
    )
    pred = model.transform(probe).first().prediction * SCALE
    assert pred == pytest.approx(0.444444, abs=0.3)


def test_training_is_deterministic(spark, sum_data):
    m1 = DistributedMLPRegressor(layers=[2, 4, 1], epochs=3, lr=0.1, seed=7).fit(sum_data)
    m2 = DistributedMLPRegressor(layers=[2, 4, 1], epochs=3, lr=0.1, seed=7).fit(sum_data)
    assert m1.loss_history == m2.loss_history


def test_epoch_sweep_improves(spark, sum_data):
    # chapter-6 SumNumberOfIterations.java:34-48: more epochs → better fit
    maes = []
    for epochs in [2, 20]:
        m = DistributedMLPRegressor(
            layers=[2, 8, 1], epochs=epochs, lr=0.1, batch_size=32, seed=42
        ).fit(sum_data)
        maes.append(_mae(m, sum_data))
    assert maes[1] < maes[0]


def test_autoencoder_learns_reconstruction(spark, sf_dir):
    """ML2 mechanism: training must reduce reconstruction error vs the
    untrained network, and the flagship query must produce a valid
    per-label best/worst-5."""
    import numpy as np
    import pyspark.sql.functions as F

    from distributed_deep_learning_with_apache_spark_spark.ml.distributed import (
        DistributedAutoencoder,
    )
    from distributed_deep_learning_with_apache_spark_spark.registry import load_all
    from distributed_deep_learning_with_apache_spark_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("features")
    )
    model = DistributedAutoencoder(layers=[64, 16, 4, 16, 64], epochs=30, lr=0.02).fit(
        e.repartition(8)
    )
    assert model.loss_history[-1] < model.loss_history[0] * 0.9, model.loss_history

    out = load_all()["ml_anomaly_autoencoder"].fn(spark, sf_dir).collect()
    assert {r.label for r in out} == set(range(10))
    assert all(r.score >= 0 for r in out)
    from collections import Counter

    per = Counter(r.label for r in out)
    assert all(c <= 10 for c in per.values())


# ---------------------------------------------------------------------------
# The shared parameter-averaging loop: bit-pinned fits of all four trainers,
# one Spark job per epoch, a fresh history per fit, named input errors.
# Inputs are parallelize(rows, k) frames: no shuffle, fixed partitions, so
# the averaged trajectory does not depend on the session's core count.
# The MLP and GRU partitions are unequal in size, so the pins also cover
# the row weighting of the average.
# ---------------------------------------------------------------------------
MLP_SCHEMA = "features array<double>, label double"
AE_SCHEMA = "features array<double>"


def _frame(spark, rows, schema, k):
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, k), schema)


def _mlp_rows(spark):
    rng = np.random.default_rng(1)
    a, b = rng.uniform(0.0, 1.0, (2, 200))
    rows = [([float(a[i]), float(b[i])], float(a[i] + b[i])) for i in range(200)]
    return _frame(spark, rows, MLP_SCHEMA, 3)


def _ae_rows(spark):
    x = np.random.default_rng(2).normal(0.0, 1.0, (120, 8))
    return _frame(spark, [(row.tolist(),) for row in x], AE_SCHEMA, 3)


def _gru_rows(spark):
    """Label: token 1 occurs before token 2 (an order-encoded latch)."""
    rng = np.random.default_rng(3)
    rows = []
    for d in range(75):
        ids = [int(v) for v in rng.integers(0, 5, 6)]
        label = float(1 in ids and 2 in ids and ids.index(1) < ids.index(2))
        rows.append((d % 2, d, ids, label))
    return _frame(spark, rows, "part int, doc_key long, ids array<int>, label double", 2)


def _cnn_rows(spark):
    """6×6 images whose bright band position is the class."""
    rng = np.random.default_rng(4)
    rows = []
    for i in range(90):
        img = rng.uniform(0.0, 0.2, (6, 6))
        img[(i % 3) * 2 : (i % 3) * 2 + 2, :] += 0.8
        rows.append((img.ravel().tolist(), i % 3))
    return _frame(spark, rows, "pixels array<double>, label int", 3)


CNN_KW = dict(side=6, n_classes=3, hidden=8, batch_size=16)
PINNED_FITS = {
    "mlp": (lambda: DistributedMLPRegressor(layers=[2, 8, 1], epochs=3, lr=0.1, batch_size=32), _mlp_rows),
    "mlp_deep": (
        lambda: DistributedMLPRegressor(layers=[2, 6, 5, 1], epochs=2, lr=0.05, batch_size=16, seed=7),
        _mlp_rows,
    ),
    "ae": (lambda: DistributedAutoencoder(layers=[8, 4, 2, 4, 8], epochs=2, batch_size=16), _ae_rows),
    "gru": (
        lambda: DistributedGRUClassifier(
            vocab_size=5, emb_dim=3, hidden=4, epochs=3, local_steps=2, tail_avg=2, n_parts=2
        ),
        _gru_rows,
    ),
    "cnn": (lambda: DistributedConvClassifier(epochs=2, **CNN_KW), _cnn_rows),
    "cnn_nesterov": (
        lambda: DistributedConvClassifier(
            epochs=3, momentum=0.9, lr=0.1, lr_schedule={0: 0.1, 2: 0.05}, **CNN_KW
        ),
        _cnn_rows,
    ),
    "cnn_frozen": (lambda: DistributedConvClassifier(epochs=2, freeze_conv=True, **CNN_KW), _cnn_rows),
}

# sha256 over repr(loss_history) + every final param's bytes. Recorded
# before the four trainers shared one loop; the shared loop must not move
# a single bit of any trajectory.
PINNED_DIGESTS = {
    "mlp": "d32604b7dcadac8b32e58d1ecf164fdb3321e63e70f284ea83fe768d63f2166e",
    "mlp_deep": "aaf45a642cc412cca9122a038b8e6b70b3ef66d13fa804fba6917ae27a3563fe",
    "ae": "c9f5394c9fe24b9e80749d5738604ee8caf9487b10f6de5f7c73dc5cb0f851f1",
    "gru": "19b48b3a332de9cc11bdd818d36602834a44fe41a2ee92dc0e56893068151e9e",
    "cnn": "1fe09088c3510824e91737ffdad4d33918b23bbe4faf95ec82ae7d7e109819da",
    "cnn_nesterov": "9c72ab03e0be030913ae2c1d6ac79c4482a97a4caa0ba7dc23be9d9328afa998",
    "cnn_frozen": "ead928966d27f50ff6426433443ccdb9aec02a854c79610e7bd8cb075b4865b2",
}


def _fit_counting_jobs(spark, model, df, group):
    """Fit, returning the Spark jobs it ran (setJobGroup + statusTracker)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        model.fit(df)
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()


@pytest.fixture(scope="module")
def pinned_fits(spark):
    out = {}
    for name, (make, rows) in PINNED_FITS.items():
        model = make()
        jobs = _fit_counting_jobs(spark, model, rows(spark), f"pinned_fit_{name}")
        out[name] = (model, jobs)
    return out


@pytest.mark.parametrize("name", sorted(PINNED_FITS))
def test_fit_trajectory_is_pinned(pinned_fits, name):
    model, _ = pinned_fits[name]
    h = hashlib.sha256(repr(model.loss_history).encode())
    for p in model.params:
        h.update(np.ascontiguousarray(p).tobytes())
    assert h.hexdigest() == PINNED_DIGESTS[name], (name, model.loss_history)


@pytest.mark.parametrize("name", sorted(PINNED_FITS))
def test_one_spark_job_per_epoch(pinned_fits, name):
    model, jobs = pinned_fits[name]
    assert jobs == model.epochs == len(model.loss_history), (name, jobs)


def test_refit_starts_a_fresh_loss_history(spark):
    df = _mlp_rows(spark)
    model = DistributedMLPRegressor(layers=[2, 4, 1], epochs=3, lr=0.1)
    first = list(model.fit(df).loss_history)
    second = model.fit(df).loss_history
    assert len(first) == len(second) == 3
    assert first == second


@pytest.mark.parametrize(
    "cls,schema,layers",
    [(DistributedMLPRegressor, MLP_SCHEMA, [2, 3, 1]), (DistributedAutoencoder, AE_SCHEMA, [2, 3, 2])],
    ids=["mlp", "ae"],
)
def test_empty_input_is_a_named_error(spark, cls, schema, layers):
    """A zero-row frame is rejected by name after the first epoch's job,
    without a separate emptiness check."""
    model = cls(layers=layers, epochs=2)
    with pytest.raises(ValueError, match=f"{cls.__name__}.fit: no training rows"):
        _fit_counting_jobs(spark, model, _frame(spark, [], schema, 2), f"empty_{cls.__name__}")
    sc = spark.sparkContext
    assert len(sc.statusTracker().getJobIdsForGroup(f"empty_{cls.__name__}")) == 1


@pytest.mark.parametrize(
    "bad", [None, [0.5], [0.5, None]], ids=["null", "short", "null_element"]
)
@pytest.mark.parametrize(
    "cls,schema,layers",
    [(DistributedMLPRegressor, MLP_SCHEMA, [2, 3, 1]), (DistributedAutoencoder, AE_SCHEMA, [2, 3, 2])],
    ids=["mlp", "ae"],
)
def test_bad_feature_vector_names_the_trainer(spark, cls, schema, layers, bad):
    good, broken = ([0.1, 0.2], 1.0), (bad, 1.0)
    if cls is DistributedAutoencoder:
        good, broken = good[:1], broken[:1]
    df = _frame(spark, [good] * 5 + [broken], schema, 2)
    with pytest.raises(Exception) as err:
        cls(layers=layers, epochs=2).fit(df)
    assert f"{cls.__name__}.fit: " in str(err.value)


@pytest.mark.parametrize("dtype", [np.float64, np.int64], ids=["float64", "int64"])
def test_null_element_is_rejected_for_every_block_dtype(dtype):
    """float64 would stack a NULL element as NaN and int64 would fail in
    numpy without the trainer's name; both are refused by name."""
    from distributed_deep_learning_with_apache_spark_spark.ml.distributed import _stack_block

    rows = [([1, 2], 1.0), ([3, None], 0.0)]
    with pytest.raises(ValueError, match="Trainer.fit: "):
        list(_stack_block(iter(rows), "Trainer.fit", None, (dtype, np.float64)))
