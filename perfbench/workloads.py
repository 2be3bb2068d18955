"""The benchmark's operations and the workloads that group them.

An op is built (``build``: the registered ``fn(spark, sf_dir)`` call, or
the model/DataFrame setup of an ML step) and then executed (``execute``:
the full materialization, which computes every output column with
``collect()``; a ``count()`` would let Catalyst prune columns nobody
reads). ``execute`` returns (columns, rows); the runner digests them.

Ops are grouped into units that keep their order inside a round (fit
before score, index build before probe); the runner shuffles units with
the run's seed each round.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np

ANALYTICS = "analytics_headline"
DRIVER = "driver_orchestrated"

# Eight of the twenty ``bench=True`` queries, one or two per layer they
# stress: a scan-and-aggregate, broadcast joins, a window, the Arrow/pandas
# UDF boundary (text, image bytes, embeddings), an n-gram explode that
# ``count()`` would prune, and the warm ANN serve. All twenty do not fit a
# run: see README.md, "Run budget".
ANALYTICS_OPS = [
    "pricing_summary",
    "shipping_priority",
    "events_sessionized",
    "text_quality",
    "image_decode_png",
    "doc_embedding_avg",
    "decontaminate_ngram_overlap",
    "ann_ivf_persisted",
]

DRIVER_OPS = [
    "quantile_two_pass_exact",
    "stream_kmv_distinct_running",
]

# Length of one warm round on a 4-vCPU host. A run times
# round(seconds / nominal) whole rounds (at least one): a fixed count, since
# later rounds run faster than earlier ones and a count that followed the
# clock would move the medians.
NOMINAL_ROUND_S = {ANALYTICS: 6.5, DRIVER: 11.0}

MLP_EPOCHS = 2
MLP_ROWS = 2000


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work: str
    seed: int
    registry: dict
    state: dict = field(default_factory=dict)


class Op:
    name = ""
    oracle: str | None = None
    # "fit": execute returns the loss history; "score": rows scored by a
    # trained model or the ANN probe; "query": anything else.
    kind = "query"

    def build(self, ctx: Ctx):
        raise NotImplementedError

    def execute(self, ctx: Ctx, built) -> tuple[list[str], list[tuple]]:
        df = built
        return list(df.columns), [tuple(r) for r in df.collect()]

    def check(self, columns: list[str], rows: list[tuple]) -> str | None:
        """An op-specific sanity check beyond digest equality."""
        return None if rows else "empty result"


class RegisteredQuery(Op):
    def __init__(self, name: str, oracle: str | None) -> None:
        self.name = name
        self.oracle = oracle

    def build(self, ctx: Ctx):
        return ctx.registry[self.name].fn(ctx.spark, ctx.data_dir)


# ---------------------------------------------------------------------------
# ML steps: the ch. 5 MLP regressor, trained by parameter averaging, and
# seeded IVF + PQ index training into a private root.
# ---------------------------------------------------------------------------
def regression_rows(seed: int, n: int = MLP_ROWS) -> list[tuple]:
    """Ch. 5's sum-of-two-numbers set: a, b uniform in [0, 3), target a+b,
    all scaled by 1/3 (tanh-friendly), drawn from the run's seed."""
    rng = np.random.default_rng(seed)
    a, b = rng.uniform(0.0, 3.0, (2, n))
    return [
        (i, [float(a[i] / 3.0), float(b[i] / 3.0)], float((a[i] + b[i]) / 3.0))
        for i in range(n)
    ]


def _regression_df(ctx: Ctx):
    rows = ctx.state.setdefault("regression_rows", regression_rows(ctx.seed))
    # Fixed partitioning (8 slices, no shuffle) keeps the averaged
    # trajectory, and so the loss, bit-identical run to run.
    rdd = ctx.spark.sparkContext.parallelize(rows, 8)
    return ctx.spark.createDataFrame(rdd, "id long, features array<double>, label double")


class _Fit(Op):
    kind = "fit"
    epochs = 0

    def execute(self, ctx: Ctx, built):
        model, df = built
        model.fit(df)
        ctx.state[self.name] = (model, df)
        # repr keeps every digit: a repeat must reproduce the loss exactly.
        return ["epoch", "loss"], [(i, repr(x)) for i, x in enumerate(model.loss_history)]

    def check(self, columns, rows):
        losses = [float(r[1]) for r in rows]
        if len(losses) != self.epochs or not all(np.isfinite(losses)):
            return f"bad loss history {losses}"
        if not losses[-1] < losses[0]:
            return f"loss did not fall: {losses}"
        return None


class MlpFit(_Fit):
    name = "ml.mlp_fit"
    epochs = MLP_EPOCHS

    def build(self, ctx):
        from distributed_deep_learning_with_apache_spark_spark.ml.distributed import (
            DistributedMLPRegressor,
        )

        model = DistributedMLPRegressor(
            layers=[2, 8, 1], epochs=self.epochs, lr=0.1, batch_size=32, seed=42
        )
        return model, _regression_df(ctx)


class MlpScore(Op):
    name = "ml.mlp_score"
    kind = "score"

    def build(self, ctx):
        model, df = ctx.state["ml.mlp_fit"]
        return model.transform(df).select("id", "label", "prediction")


class AnnBuild(Op):
    """Train a fresh IVF coarse quantizer and PQ codebooks into a private
    root (the shared corpus-keyed cache is never touched)."""

    name = "ann.build"

    def build(self, ctx):
        root = os.path.join(ctx.work, "ann")
        shutil.rmtree(root, ignore_errors=True)  # every build starts empty
        os.makedirs(root)
        return root

    def execute(self, ctx, root):
        from distributed_deep_learning_with_apache_spark_spark.operators import similarity

        ivf = similarity.build_ivf_index(ctx.spark, ctx.data_dir, root=os.path.join(root, "ivf"))
        pq_root = os.path.join(root, "pq")
        similarity.pq_encode_df(ctx.spark, ctx.data_dir, root=pq_root)
        ctx.state["ann_roots"] = (ivf, pq_root)
        import pyarrow.parquet as pq

        cent = pq.read_table(os.path.join(ivf, "centroids")).to_pylist()
        with open(os.path.join(pq_root, "codebooks.json")) as f:
            books = json.load(f)
        rows = [(c["cell"], json.dumps(c["cv"])) for c in cent]
        rows.append((-1, json.dumps(books)))
        return ["cell", "vector"], rows


class AnnProbe(Op):
    """Serve the composed IVF x PQ (ADC) probe from the private index."""

    name = "ann.probe"
    kind = "score"

    def build(self, ctx):
        from distributed_deep_learning_with_apache_spark_spark.operators import similarity

        ivf, pq_root = ctx.state["ann_roots"]
        return similarity._ivf_pq_adc_scored(
            ctx.spark, ctx.data_dir, ivf_root=ivf, pq_root=pq_root
        )


def units(workload: str, registry: dict) -> list[list[Op]]:
    """The workload's ops, grouped into order-preserving units."""

    def q(name: str) -> list[Op]:
        return [RegisteredQuery(name, registry[name].oracle)]

    if workload == ANALYTICS:
        assert all(registry[n].bench for n in ANALYTICS_OPS)
        return [q(n) for n in ANALYTICS_OPS]
    if workload == DRIVER:
        return [q(n) for n in DRIVER_OPS] + [[MlpFit(), MlpScore()], [AnnBuild(), AnnProbe()]]
    raise KeyError(workload)


WORKLOADS = (ANALYTICS, DRIVER)


def timed_rounds(workload: str, seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_ROUND_S[workload]))
