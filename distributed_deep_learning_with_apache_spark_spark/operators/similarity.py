"""Similarity search over embedding columns ([EXT], SURVEY §2.13).

Three tiers:
- brute-force cosine top-k (exact baseline; broadcast the query set)
- LSH-bucketed ANN (deterministic integer hyperplanes → sign buckets →
  search only within bucket; the 100 TB scale path)
- near-dup pair mining by cosine threshold

Everything is built from `zip_with`/`aggregate` folds (JVM-side, Arrow-free)
with array<float> cast to array<double> so the DuckDB oracle
(`::DOUBLE[]` + list_dot_product) is numerically aligned; outputs round to
6 decimals.

Precondition: the cosine-scoring operators assume nonzero vectors — a
production pipeline runs `embedding_l2_normalized` first and drops rows
with `l2_norm == 0` (dead embeddings), which is why that op is the one
place the zero vector is explicitly handled (NULL unit_dot) rather than
an error.

Reference parity: generalizes the embedding-lookup join J1
(`Word2VecTransformingIterator.java:123`) from exact key equality to
nearest-neighbor retrieval — the same dimension-table pattern the course's
Word2Vec table embodies.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.arrays import as_double, cosine, dot, squared_error
from ..registry import register
from ..sources.catalog import load_table, prune_stale_cache_siblings

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5

# --- deterministic LSH hyperplanes (integer weights, engine-exact) ---------
N_PLANES = 4
DIM = 64


def _plane(b: int) -> list[int]:
    """Integer hyperplane weights in [-3, 3]: w[i] = ((i*31 + b*17) % 7) - 3."""
    return [((i * 31 + b * 17) % 7) - 3 for i in range(DIM)]


def _bucket_expr(vec: Column) -> Column:
    """LSH bucket id: sign bit of each of the 4 plane projections."""
    acc = F.lit(0)
    for b in range(N_PLANES):
        plane = F.lit(_plane(b)).cast("array<double>")
        proj = dot(vec, plane)
        acc = acc + F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return acc


def _duck_bucket(vec_sql: str) -> str:
    parts = []
    for b in range(N_PLANES):
        plane = "[" + ", ".join(str(w) for w in _plane(b)) + "]::DOUBLE[]"
        parts.append(f"(CASE WHEN list_dot_product({vec_sql}, {plane}) > 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(parts)


# ---------------------------------------------------------------------------
# Brute-force exact cosine top-k (the correctness baseline)
# ---------------------------------------------------------------------------
@register(
    "cosine_topk_exact",
    oracle=f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
          FROM q JOIN e ON e.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) + 0.0 AS cosine_sim, rnk FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
          FROM scored
        ) WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "ext"),
    bench=True,
)
def cosine_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: broadcast the query set against every candidate,
    cosine via zip_with/aggregate fold, rank-window top-k per query.

    Scale: candidates never shuffle — the query block broadcasts, scores
    compute map-side, and only (n_queries × n_candidates → top-k) rank rows
    shuffle on query_id. For large query sets switch to the LSH variant.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("v"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            (F.round("cos", 6) + 0.0).alias("cosine_sim"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path: search only same-bucket candidates)
# ---------------------------------------------------------------------------
@register(
    "ann_lsh_bucketed",
    oracle=f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          {_duck_bucket("embedding::DOUBLE[]")} AS bucket
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < {N_QUERIES}),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
          FROM q JOIN e ON q.bucket = e.bucket AND e.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) + 0.0 AS cosine_sim, rnk FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
          FROM scored
        ) WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "ext", "lsh"),
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: 4 deterministic integer hyperplanes → 16 sign
    buckets; candidates join queries on bucket equality (equi-join, shuffle
    on bucket) and only same-bucket pairs are scored — ~16× less compute
    than brute force, the ratio growing with plane count at scale.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    e = e.withColumn("bucket", _bucket_expr(F.col("v")))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    scored = e.join(
        F.broadcast(q), (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("query_id"))
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("v")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            (F.round("cos", 6) + 0.0).alias("cosine_sim"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pair mining
# ---------------------------------------------------------------------------
@register(
    "near_dup_cosine_pairs",
    oracle="""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) + 0.0 AS cosine_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
    """,
    tags=("similarity", "dedup", "ext"),
)
def near_dup_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup mining: all pairs ≥ 0.3 cosine.

    Locally a self-join (n small); at 100 TB the identical semantics run
    through the LSH bucket join (ann_lsh_bucketed's plan) — this exact
    variant is the oracle-checkable ground truth for it.
    """
    from ..functions.arrays import l2_norm

    # Two plan choices that cut the warm all-pairs pass 68 s → ~4 s at
    # sf0.1 (2 000 vectors) with bit-identical output:
    # 1. norms are computed ONCE per vector (a column on each side) so
    #    each of the n²/2 pairs pays one dot-product fold, not three —
    #    cos = dot(a,b) / (‖a‖·‖b‖) with the same IEEE ops the inline
    #    form and the DuckDB oracle evaluate;
    # 2. the streamed side of the nested-loop join is repartitioned to
    #    session parallelism — the embeddings scan is a single split, and
    #    an unpartitioned BNLJ stream runs the whole O(n²) scoring loop
    #    on one core.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    e = e.select("vec_id", "v", l2_norm(F.col("v")).alias("nrm"))
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    ).repartition(n_part)
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= 0.3)
        .select("vec_a", "vec_b", (F.round("cos", 6) + 0.0).alias("cosine_sim"))
    )


# ---------------------------------------------------------------------------
# L2 normalization (the preprocessing step every cosine index wants)
# ---------------------------------------------------------------------------
@register(
    "embedding_l2_normalized",
    oracle="""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT vec_id,
               round(sqrt(list_dot_product(v, v)), 6) AS l2_norm,
               CASE WHEN list_dot_product(v, v) > 0 THEN
                 round(list_dot_product(
                     list_transform(v, x -> x / sqrt(list_dot_product(v, v))),
                     list_transform(v, x -> x / sqrt(list_dot_product(v, v)))), 6)
               END AS unit_dot
        FROM e
    """,
    tags=("similarity", "ext"),
)
def embedding_l2_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embeddings; checks ‖x/‖x‖‖² = 1 to 6 decimals — the
    invariant the IVF/LSH paths rely on to reduce cosine to dot product."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("v"))
    from ..functions.arrays import l2_norm

    norm = l2_norm(F.col("v"))
    # Zero vectors (dead embeddings) are a legitimate production edge: the
    # unit vector is undefined there, so emit NULL rather than tripping
    # ANSI DIVIDE_BY_ZERO (caught by the corpus fuzz suite).
    unit = F.transform(F.col("v"), lambda x: x / norm)
    return e.select(
        "vec_id",
        F.round(norm, 6).alias("l2_norm"),
        F.when(norm > 0, F.round(dot(unit, unit), 6)).alias("unit_dot"),
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH ANN: also search the buckets one bit-flip away
# ---------------------------------------------------------------------------
_PROBE_MASKS = [0] + [1 << b for b in range(N_PLANES)]  # self + 4 single-bit flips


@register(
    "ann_lsh_multiprobe",
    oracle=f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          {_duck_bucket("embedding::DOUBLE[]")} AS bucket
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv,
                     xor(bucket, m) AS probe_bucket
              FROM e, (SELECT unnest({_PROBE_MASKS}) AS m)
              WHERE vec_id < {N_QUERIES}),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
          FROM q JOIN e ON q.probe_bucket = e.bucket AND e.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) + 0.0 AS cosine_sim, rnk FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
          FROM scored
        ) WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "ext", "lsh"),
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: each query also searches the 4 buckets whose code
    differs by one hyperplane sign — the standard recall fix (candidates
    near a hyperplane land just across it). 5× the candidates of single-
    probe, still ~3× less work than brute force at 16 buckets, and the
    probe fan-out is an explode + the same equi-join — no new shuffle
    shape."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    e = e.withColumn("bucket", _bucket_expr(F.col("v")))
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(F.lit(_PROBE_MASKS)).alias("m"),
            F.col("bucket").alias("qb"),
        )
        .select(
            "query_id", "qv", F.expr("qb ^ m").alias("probe_bucket")
        )
    )
    scored = e.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("probe_bucket")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cosine(F.col("qv"), F.col("v")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            (F.round("cos", 6) + 0.0).alias("cosine_sim"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# IVF with a LEARNED coarse quantizer (k-means cells + multi-cell probing)
# ---------------------------------------------------------------------------
IVF_K = 16
IVF_NPROBE = 4
IVF_TRAIN_SAMPLE = 65536  # coarse-quantizer training sample bound (driver-side)


def _training_sample(e: DataFrame, n: int):
    """The bounded, deterministic training sample of (vec_id, v) rows as
    an (n, dim) numpy array, shared by the IVF coarse quantizer and the
    PQ codebooks: the n rows with the smallest (xxhash64(42, vec_id),
    vec_id) — a seeded hash order, so a corpus larger than n is sampled
    across its whole id range, not as a vec_id prefix (partitioning
    quality follows sample representativeness — Odyssey, VLDB 2023) —
    then re-sorted by vec_id on the driver. A corpus that fits under n
    is therefore the whole corpus in vec_id order."""
    import numpy as np

    rows = e.orderBy(F.xxhash64(F.lit(42), "vec_id"), "vec_id").limit(n).collect()
    return np.array([r["v"] for r in sorted(rows, key=lambda r: r["vec_id"])])


def _lloyd(x, init, iters: int):
    """Seeded Lloyd k-means on the driver, the one loop behind both the
    IVF coarse quantizer and every PQ subspace: starts from rows `init`
    of x, runs at most `iters` rounds, ties break to the lowest centroid
    index (argmin).

    The assignment math (sequential per-dimension squared-distance
    accumulation) is bit-identical to the SQL l2sq fold the append/probe
    paths use (`squared_error`), so build-time and append-time
    assignment agree exactly."""
    import numpy as np

    cent = x[init].copy()
    prev_assign = None
    for _ in range(iters):
        # d2 accumulated per dimension, in the SQL fold's order, with
        # (n, K) temporaries instead of one (n, K, dim) block.
        d2 = (x[:, None, 0] - cent[None, :, 0]) ** 2
        for j in range(1, x.shape[1]):
            d2 += (x[:, None, j] - cent[None, :, j]) ** 2
        assign = d2.argmin(1)
        if prev_assign is not None and (assign == prev_assign).all():
            # Fixed point: unchanged assignments re-derive the exact
            # same centroids, so every remaining iteration is a no-op
            # — skipping them is bit-identical, not an approximation.
            break
        prev_assign = assign
        # Centroid update via ONE stable argsort instead of K boolean
        # masks: x[order] groups each cluster's members in ascending row
        # order — the same rows in the same order as x[assign == k] — so
        # each group's .mean(0) is bit-identical to the masked form.
        order = np.argsort(assign, kind="stable")
        ks, starts = np.unique(assign[order], return_index=True)
        bounds = np.append(starts[1:], len(order))
        xs = x[order]
        for c, s, t in zip(ks, starts, bounds):
            cent[c] = xs[s:t].mean(0)
    return cent


def _train_ivf_centroids(e: DataFrame, seed: int = 42, iters: int = 20):
    """IVF coarse quantizer: `_lloyd` with k=IVF_K on the bounded
    `_training_sample` of the (vec_id, v) rows, driver-side — the same
    recipe as the PQ codebooks (`_pq_train_codebooks`).

    Why: the MLlib fit it replaced (r13 re-baseline, VERDICT r12 #4) ran
    ~25 driver-scheduled jobs over the one-split embeddings input —
    2.3-7.6 s of almost pure scheduling per fit, serialized inside every
    index build and every append lifecycle. A coarse quantizer is
    KB-sized global metadata that production systems (FAISS et al.)
    train on a bounded sample by design; the data-proportional work —
    CELL ASSIGNMENT — stays distributed (`_assign_cells`).
    Deterministic: seeded sample order, fixed seed, fixed iteration
    bound, Lloyd fixed-point early exit.
    """
    import numpy as np

    vecs = _training_sample(e, IVF_TRAIN_SAMPLE)
    n = len(vecs)
    if n == 0:
        raise ValueError(
            "_train_ivf_centroids: empty training sample — the IVF build "
            "requires a non-empty embeddings corpus"
        )
    rng = np.random.default_rng(seed)
    return _lloyd(vecs, rng.choice(n, size=min(IVF_K, n), replace=False), iters)


def _vectors(src: DataFrame, who: str) -> DataFrame:
    """(vec_id, v) rows of a (vec_id, embedding) frame, v cast to
    array<double>, with a loud reject of any vector that is NULL, empty
    or not DIM long — the one input guard of the index build
    (`build_ivf_index`, `pq_encode_df`) and append (`append_ivf_index`,
    `append_pq_codes`) paths. Unguarded, a NULL or short vector is a
    silent corruption: the l2sq fold over it yields NULL d2 (`zip_with`
    pads a short side with NULL), and row_number over d2 ASC (NULLS
    FIRST) hands it rank 1 in an ARBITRARY cell; numpy's stack/argmin
    either throws an opaque shape error or encodes garbage codes.
    Same NULL-reject-on-identity convention as bitmap_distinct_users:
    assert_true returns NULL on pass (preserving v via the when-wrap)
    and ALSO raises when the condition itself is NULL, which covers
    v IS NULL (size(NULL) is NULL). The message starts with `who`."""
    guarded_v = F.when(
        F.assert_true(
            F.size(F.col("v")) == DIM,
            F.lit(
                f"{who}: NULL, empty or non-{DIM}-dim embedding — "
                "the ANN index requires a populated vector of the corpus "
                "dimension (filter or repair upstream)"
            ),
        ).isNull(),
        F.col("v"),
    )
    return src.select("vec_id", as_double("embedding").alias("v")).withColumn(
        "v", guarded_v
    )


def _assign_cells(spark: SparkSession, e: DataFrame, cent) -> DataFrame:
    """Distributed nearest-centroid cell assignment of (vec_id, v) rows
    against the FIXED trained centroids: vectorized Arrow-batched kernel
    (guide §4.2), map-only, no shuffle. Distances accumulate per
    dimension in the same order as the SQL l2sq fold (0.0 + d_0 + d_1 +
    ... — bit-identical since 0.0 + d_0 == d_0), ties break to the
    lowest cell id (np.argmin), matching `append_ivf_index`'s
    row_number ordering exactly.

    The cell is made non-nullable (the kernel never emits NULL; -1 is
    unreachable): otherwise the probe's equi-join infers an
    isnotnull(cell) filter that clones the UDF into a second
    ArrowEvalPython node, evaluating it twice per row."""
    import pandas as pd
    from pyspark.sql import types as T

    bc = spark.sparkContext.broadcast([list(c) for c in cent])

    @F.pandas_udf(T.IntegerType())
    def nearest(vs: pd.Series) -> pd.Series:
        import numpy as _np

        c = _np.asarray(bc.value)
        x = _np.stack([_np.asarray(v) for v in vs])
        d2 = (x[:, None, 0] - c[None, :, 0]) ** 2
        for j in range(1, x.shape[1]):
            d2 += (x[:, None, j] - c[None, :, j]) ** 2
        return pd.Series(d2.argmin(1).astype("int32"))

    return e.withColumn("cell", F.coalesce(nearest("v"), F.lit(-1)))


def _ivf_probe_topk(assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """The standard IVF serve plan over a (vec_id, v, cell) assignments
    view — in-memory (`ann_ivf_kmeans`), the persisted store, a grown,
    tombstone-overlaid or compacted store — and its (cell, cv) centroid
    table: the broadcast centroids pick each query's nprobe nearest
    cells (l2sq, ties to the lower cell), the cell equi-join scores
    candidates by exact cosine, a per-query window keeps top-k. One plan
    for every IVF serve, so the equality pins between them compare
    STORES, not divergent plans."""
    qw = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("cell").asc())
    probes = (
        assigned.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .crossJoin(F.broadcast(centroids))
        .select("query_id", "qv", "cell", squared_error(F.col("qv"), F.col("cv")).alias("d2"))
        .select("query_id", "qv", "cell", F.row_number().over(qw).alias("cell_rnk"))
        .filter(F.col("cell_rnk") <= IVF_NPROBE)
        .select("query_id", "qv", F.col("cell").alias("qcell"))
    )
    scored = assigned.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cosine(F.col("qv"), F.col("v")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            (F.round("cos", 6) + 0.0).alias("cosine_sim"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= TOP_K)
    )


@register(
    "ann_ivf_kmeans",
    oracle=None,  # k-means fit is iterative; rows-only (recall vs exact asserted in tests)
    tags=("similarity", "ext", "ivf", "ml"),
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a learned coarse quantizer: seeded k-means (k=16) over
    the corpus assigns every vector a cell; each query probes its 4
    nearest cells (by centroid L2 distance) and runs exact cosine inside
    them — the production IVF layout (ann_ivf_by_label is the same plan
    with a given partition key instead of a learned one).

    Scale: the quantizer trains on a bounded seeded sample
    (`_train_ivf_centroids`, driver-side — r13: replaces the MLlib fit,
    which serialized ~25 driver-scheduled jobs over the one-split input;
    same `_lloyd` as the PQ codebooks), its 16×64 centroid matrix is model
    metadata (broadcast, KB-sized, independent of corpus size), cell
    assignment is one vectorized map-side pass (`_assign_cells`), and
    the probe is an equi-join on cell id — candidates scanned ≈ nprobe/k
    of the corpus. Recall vs the exact baseline is asserted in
    tests/test_ann_recall.py.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    cent = _train_ivf_centroids(e)
    assigned = _assign_cells(spark, e, cent).select("vec_id", "v", "cell")
    # Centroids are model metadata (k×dim doubles) — a broadcastable tiny dim
    # table, NOT a data-dependent collect.
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cent)],
        "cell int, cv array<double>",
    )
    return _ivf_probe_topk(assigned, centroids)


# ---------------------------------------------------------------------------
# int8 quantization (4× memory cut for vector indexes at 100 TB)
# ---------------------------------------------------------------------------
@register(
    "embedding_quantize_int8",
    oracle="""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (
          SELECT vec_id, v,
                 greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 1e-12) AS max_abs
          FROM e
        )
        SELECT vec_id,
               round(max_abs, 6) AS scale_max_abs,
               list_transform(v, x -> round(x * 127.0 / max_abs)::INTEGER)[1] AS q_first,
               round(list_aggregate(
                 list_transform(v, x -> abs(x - (round(x * 127.0 / max_abs) * max_abs / 127.0))),
                 'max'), 6) AS max_abs_err
        FROM s
    """,
    tags=("similarity", "ext", "scale"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric max-abs int8 quantization: q = round(127·x/max|x|), with the
    per-vector scale kept for dequantization. The 4× memory cut is what lets
    a 100 TB embedding corpus fit an in-memory ANN tier; max_abs_err bounds
    the dequantization error (≤ max|x|/254)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", as_double("embedding").alias("v"))
    max_abs = F.greatest(
        F.array_max(F.transform(F.col("v"), F.abs)), F.lit(1e-12)
    )
    s = e.select("vec_id", "v", max_abs.alias("max_abs"))
    q = F.transform(F.col("v"), lambda x: F.round(x * 127.0 / F.col("max_abs")).cast("int"))
    deq_err = F.transform(
        F.col("v"),
        lambda x: F.abs(x - (F.round(x * 127.0 / F.col("max_abs")) * F.col("max_abs") / 127.0)),
    )
    return s.select(
        "vec_id",
        F.round("max_abs", 6).alias("scale_max_abs"),
        F.element_at(q, 1).alias("q_first"),
        F.round(F.array_max(deq_err), 6).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse quantizer (per-label centroids) → in-cluster search
# ---------------------------------------------------------------------------
@register(
    "ann_ivf_by_label",
    oracle=f"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
          FROM q JOIN e ON e.label = q.qlabel AND e.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) + 0.0 AS cosine_sim, rnk FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
          FROM scored
        ) WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "ext", "ivf"),
)
def ann_ivf_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: the label column acts as the coarse quantizer's
    cluster assignment (in production: k-means cell ids); each query probes
    only its own cell. The search join is an equi-join on the cell id —
    partition-pruned, shuffle-partitionable, ~|cells|× less compute than
    brute force."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"), F.col("v").alias("qv")
    )
    scored = e.join(
        F.broadcast(q), (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id"))
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cosine(F.col("qv"), F.col("v")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            (F.round("cos", 6) + 0.0).alias("cosine_sim"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# Persisted IVF index: build once, probe many (with dynamic partition pruning)
# ---------------------------------------------------------------------------
IVF_INDEX_ROOT = "/tmp/ddl_spark_ivf_index_v1"


def _build_once(sf_dir: str, cache_root: str, root: str | None, marker: str, write) -> str:
    """Build a persisted ANN store at most once and publish it atomically;
    shared by `build_ivf_index` and `pq_encode_df`.

    The default root (root=None) lives under `cache_root`, keyed by the
    embeddings file's identity so a regenerated fixture invalidates the
    store (mtime-keying, same as catalog's ts-unit sniff and the lake
    snapshot table). An existing `marker` returns the root untouched.
    Otherwise `write(stage)` fills a process-private stage dir, which
    gets the marker and is atomically renamed into place: a concurrent
    process (pytest alongside the driver) must never read a half-written
    tree. Obsolete default-root siblings are then swept (one full copy
    per fixture generation otherwise accumulates under /tmp — round-3
    ADVICE); a caller-chosen root has no slug siblings, and pruning
    "siblings" of it would delete the still-valid default cache."""
    import os
    import shutil

    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    slug = sf_dir.strip("/").replace("/", "_")
    default_root = root is None
    root = root or os.path.join(cache_root, f"{slug}_{st.st_mtime_ns}_{st.st_size}")
    done = os.path.join(root, marker)
    if os.path.exists(done):
        return root
    stage = f"{root}.tmp.{os.getpid()}"
    write(stage)
    with open(os.path.join(stage, marker), "w") as f:
        f.write("ok")
    try:
        os.rename(stage, root)  # atomic publish (same filesystem)
    except OSError:
        if os.path.exists(done):  # lost the race to a complete store
            shutil.rmtree(stage, ignore_errors=True)
        else:  # stale half-built tree from a crashed run: replace it
            shutil.rmtree(root, ignore_errors=True)
            os.rename(stage, root)
    if default_root:
        prune_stale_cache_siblings(cache_root, slug, root)
    return root


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    root: str | None = None,
    source: DataFrame | None = None,
) -> str:
    """Materialize the IVF layout a production vector store keeps on disk:
    assignments parquet PARTITIONED BY cell (so probing nprobe cells reads
    only those directories) + the KB-sized centroid table. Built once per
    corpus (idempotent marker, `_build_once`); amortized across every
    subsequent query — the ann_ivf_kmeans query instead re-fits per call,
    which is the right demo shape but not the production shape.

    Same `_train_ivf_centroids` + `_assign_cells` as ann_ivf_kmeans, so
    both layouts agree (asserted in tests/test_ann_recall.py).

    `source` (r11): index a caller-chosen (vec_id, embedding) subset —
    the history side of the append lifecycle — instead of the full
    table. Only sensible with an explicit root (the default cache key is
    corpus-wide). NULL, empty or non-DIM vectors raise (`_vectors`)."""

    def write(stage: str) -> None:
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq_

        src = source if source is not None else load_table(spark, sf_dir, "embeddings")
        e = _vectors(src, "build_ivf_index")
        cent = _train_ivf_centroids(e)
        assigned = _assign_cells(spark, e, cent).select("vec_id", "v", "cell")
        # repartition on cell first: one file per cell directory, not one per
        # (writer task × cell) — same small-file discipline as lake.py.
        (
            assigned.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(os.path.join(stage, "assignments"))
        )
        # The centroid table is KB-sized driver-resident metadata; writing it
        # through a Spark job cost 0.7-2.4 s of pure scheduling per build
        # (r13; guide §2.6 — same driver-side pyarrow pattern as the r12
        # stream sentinel staging). Schema parity with the old Spark write:
        # cell int32, cv list<double> — consumers spark.read.parquet it
        # unchanged.
        os.makedirs(os.path.join(stage, "centroids"), exist_ok=True)
        pq_.write_table(
            pa.table(
                {
                    "cell": pa.array(range(len(cent)), type=pa.int32()),
                    "cv": pa.array(
                        [[float(x) for x in c] for c in cent],
                        type=pa.list_(pa.float64()),
                    ),
                }
            ),
            os.path.join(stage, "centroids", "part-00000.parquet"),
        )

    return _build_once(sf_dir, IVF_INDEX_ROOT, root, "_INDEX_COMPLETE", write)


@register(
    "ann_ivf_persisted",
    oracle=None,  # k-means fit is iterative; layout-equality asserted in tests
    tags=("similarity", "ext", "ivf", "scale"),
    bench=True,
)
def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over the PERSISTED IVF index: read centroids (tiny), pick each
    query's nprobe nearest cells, then join the cell-partitioned
    assignments on `cell` — Spark's dynamic partition pruning turns the
    broadcast probe set into a partition filter, so only nprobe/k of the
    index directories are read at all. This is the at-scale I/O shape:
    index build amortized, per-query work ∝ probed cells, scan skips the
    rest of the corpus on disk, not just in memory."""
    import os

    root = build_ivf_index(spark, sf_dir)
    assigned = spark.read.parquet(os.path.join(root, "assignments"))
    centroids = spark.read.parquet(os.path.join(root, "centroids"))
    return _ivf_probe_topk(assigned, centroids)


# ---------------------------------------------------------------------------
# [EXT r11] Incremental IVF maintenance: append a new embedding batch to
# the persisted cells WITHOUT re-running k-means — kills the full index
# rebuild (the repo's most expensive op) as the only refresh path.
# ---------------------------------------------------------------------------
def _walk_parquet(root: str) -> dict:
    """{path: size} for every parquet data file under root."""
    import glob as _g
    import os as _o

    return {
        p: _o.path.getsize(p)
        for p in _g.glob(_o.path.join(root, "**", "*.parquet"), recursive=True)
    }


def append_ivf_index(spark: SparkSession, root: str, batch: DataFrame) -> None:
    """Grow the persisted IVF index by a new (vec_id, embedding) batch:
    assign each vector to its nearest EXISTING centroid (broadcast of the
    KB-sized centroid table — no k-means re-fit, no history re-read) and
    append the assignments under the matching cell directories. Existing
    index files are never rewritten (the append-only discipline of
    `append_band_index` / the snapshot table's data dir).

    Centroids drift from the true corpus means as the store grows;
    production re-clusters on a maintenance schedule (= re-run
    `build_ivf_index`), exactly like small-file compaction — the append
    path is the cheap steady-state, the rebuild the periodic repair.

    NULL, empty or non-DIM vectors raise (`_vectors`, the same guard the
    build path applies): a NULL d2 would otherwise take rank 1 in an
    arbitrary cell — silent index corruption."""
    import os

    centroids = spark.read.parquet(os.path.join(root, "centroids"))
    w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cell").asc())
    assigned = (
        _vectors(batch, "append_ivf_index")
        .crossJoin(F.broadcast(centroids))
        .select("vec_id", "v", "cell", squared_error(F.col("v"), F.col("cv")).alias("d2"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "v", "cell")
    )
    # repartition on cell: one appended file per touched cell directory,
    # not one per (writer task x cell) — the build-time small-file rule.
    (
        assigned.repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(os.path.join(root, "assignments"))
    )


@register(
    "ann_ivf_append_batch",
    oracle=None,  # k-means fit is iterative; lifecycle + recall pinned in tests
    tags=("similarity", "ext", "ivf", "scale", "lifecycle"),
)
def ann_ivf_append_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index LIFECYCLE op the r10 verdict ordered (missing #4),
    symmetric to `near_dup_index_append_cycle`: build the IVF index over
    the HISTORY 90% of the corpus (private root), append the remaining
    10% as a new batch via `append_ivf_index` (broadcast-centroid assign,
    append-only files, no rebuild), then serve the standard top-k probe
    from the GROWN index — `ann_ivf_persisted`'s exact plan shape, with
    the appended vectors now retrievable.

    In-operator gates (loud, WAP-style):
    - immutability: every pre-append index file must be byte-identical
      in size after the append (only additions allowed);
    - completeness: every appended vec_id must be present in the
      read-back assignments.
    tests/test_r11_new_ops.py additionally pins post-append recall at
    the standing >= 0.5 * nprobe/k floor and the appended-neighbor
    reachability.

    Scale: the append touches O(batch) rows + one broadcast of k
    centroids; the 14 s full rebuild (`ann_ivf_pq_build`) drops out of
    the steady-state ingest path entirely.
    """
    import os
    import shutil
    import tempfile

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = (F.col("vec_id") % 10 == 9) & (F.col("vec_id") >= N_QUERIES)
    hist = e.filter(~is_batch)
    batch = e.filter(is_batch)
    work = tempfile.mkdtemp(prefix="sg_ivf_append_")
    shutil.rmtree(work)  # build_ivf_index wants to create it atomically
    try:
        root = build_ivf_index(spark, sf_dir, root=work, source=hist)
        before = _walk_parquet(root)
        append_ivf_index(spark, root, batch)
        after = _walk_parquet(root)
        rewritten = [p for p, sz in before.items() if after.get(p) != sz]
        if rewritten:
            raise RuntimeError(
                f"ann_ivf_append_batch rewrote existing index files: "
                f"{rewritten[:3]} (append-only contract)"
            )
        assigned = spark.read.parquet(os.path.join(root, "assignments"))
        n_batch = batch.count()
        n_found = assigned.join(
            batch.select("vec_id"), "vec_id", "left_semi"
        ).count()
        if n_found != n_batch:
            raise RuntimeError(
                f"ann_ivf_append_batch lost vectors: {n_found} of {n_batch} "
                "appended ids present in the grown index"
            )
        centroids = spark.read.parquet(os.path.join(root, "centroids"))
        out = _ivf_probe_topk(assigned, centroids)
        # the private index root is reclaimed in finally: materialize
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance (ADC) — the 100 TB ANN
# memory story (Jégou, Douze, Schmid 2011, "Product Quantization for
# Nearest Neighbor Search", IEEE TPAMI)
# ---------------------------------------------------------------------------
PQ_M = 16      # subspaces: 64-dim vectors -> 16 subvectors of 4 dims
PQ_K = 256     # centroids per subspace (8-bit codes, the standard config)
PQ_SAMPLE = 4096  # codebook-training sample bound (driver-side k-means)


def _pq_train_codebooks(e: DataFrame, seed: int = 42, iters: int = 12):
    """PQ codebooks: `_lloyd` with k=PQ_K on each of the PQ_M subspaces
    of the bounded `_training_sample`, driver-side.

    Codebook training on a sample is the standard production recipe (the
    codebook is KB-sized and global); ENCODING — the data-proportional
    part — is distributed below. Deterministic: seeded sample order,
    fixed seed, fixed iteration count.

    The PQ_M subspaces are independent, so their Lloyd loops run on a
    thread pool (numpy releases the GIL for the distance kernels) — the
    r12 optimization pass measured the serial m-loop at ~8-17 s of pure
    driver time inside every ann_ivf_pq_build/append. Bit-identical to
    the serial form: the init draws consume the shared rng SEQUENTIALLY
    in subspace order before any thread starts (the draw depends only on
    rng state, not on x), and each subspace's iteration math is
    untouched."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    vecs = _training_sample(e, PQ_SAMPLE)
    n, dim = vecs.shape
    sub = dim // PQ_M
    rng = np.random.default_rng(seed)
    inits = [rng.choice(n, size=PQ_K, replace=False) for _ in range(PQ_M)]
    with ThreadPoolExecutor(max_workers=PQ_M) as pool:
        books = list(
            pool.map(
                lambda m: _lloyd(vecs[:, m * sub : (m + 1) * sub], inits[m], iters),
                range(PQ_M),
            )
        )
    return books  # list of (PQ_K, sub) arrays


PQ_CODES_ROOT = "/tmp/ddl_spark_pq_codes_v1"


def _pq_encode_with_books(spark: SparkSession, e: DataFrame, books) -> DataFrame:
    """Distributed PQ encode of (vec_id, v) rows against FIXED codebooks:
    the Arrow-batched pandas UDF assigns each of the PQ_M subvectors its
    nearest codebook centroid. Shared by the corpus build
    (`pq_encode_df`) and the incremental append (`append_pq_codes`) so
    appended codes are bit-identical to a fresh encode with the same
    persisted codebooks (pinned by
    test_append_pq_codes_bit_identical_to_fresh_encode in
    tests/test_r12_new_ops.py; the corpus codes themselves by the
    digest pins in tests/test_ann_recall.py)."""
    import pandas as pd
    from pyspark.sql import types as T

    bc = spark.sparkContext.broadcast([b.tolist() for b in books])

    # ShortType carries the 0..255 code portably (ByteType is signed);
    # the at-rest footprint is still 1 byte/code in a production layout
    # (parquet dictionary/bit-packing encodes the 256-value domain).
    @F.pandas_udf(T.ArrayType(T.ShortType()))
    def encode(vs: pd.Series) -> pd.Series:
        import numpy as _np

        bks = [_np.asarray(b) for b in bc.value]
        x = _np.stack([_np.asarray(v) for v in vs])
        sub = x.shape[1] // len(bks)
        codes = _np.empty((len(x), len(bks)), dtype=_np.int16)
        for m, cent in enumerate(bks):
            xm = x[:, m * sub : (m + 1) * sub]
            d2 = ((xm[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            codes[:, m] = d2.argmin(1)
        return pd.Series(list(codes))

    return e.select("vec_id", encode("v").alias("codes"))


def pq_encode_df(
    spark: SparkSession,
    sf_dir: str,
    root: str | None = None,
    source: DataFrame | None = None,
):
    """(vec_id, codes) + the codebooks: 64 float32 dims (256 B) compress
    to PQ_M byte-sized codes — 16× — which is what lets a 100 TB embedding
    corpus live in cluster RAM for ANN serving.  Measured recall@5 vs
    exact cosine on the uniform-random fixture: 0.74 (worst-case data —
    same caveat as the LSH family, SCALE.md delta #3; clustered real
    embeddings quantize far better).

    Codes + codebooks persist under a corpus-mtime-keyed cache (same
    contract as `build_ivf_index`): a production PQ index trains ONCE per
    corpus and every query serves from the stored codes — re-encoding the
    whole corpus per query call was costing more than the ADC scan itself
    (measured ~8 s of the composed IVF×PQ query at sf0.1). Training is
    seeded, so cached and fresh codes are bit-identical (pinned by
    test_pq_adc_deterministic across the cache boundary)."""
    import json
    import os

    import numpy as np

    def write(stage: str) -> None:
        # `source` (r12): encode a caller-chosen (vec_id, embedding) subset
        # — the history side of the PQ append lifecycle — instead of the
        # full table. Only sensible with an explicit root (the default
        # cache key is corpus-wide); ann_ivf_pq_append_batch is the caller.
        src = source if source is not None else load_table(spark, sf_dir, "embeddings")
        e = _vectors(src, "pq_encode_df")
        books = _pq_train_codebooks(e)
        # The encode input rides an explicit repartition: the embeddings
        # fixture scans as ONE split, so the Arrow encode kernel — the
        # data-proportional half of the build — would otherwise run as a
        # single task (measured 36 s of the 59 s sf0.1 build). Row-wise
        # encode against fixed codebooks is partition-independent, so codes
        # are bit-identical. Width is capped at the same small-file bound as
        # `append_pq_codes` (min(conf, 8)): a full-width write left 32 tiny
        # files whose per-task scan+Arrow overhead measurably slowed every
        # warm ADC serve; at cluster scale the corpus is large enough that
        # the cap binds on neither encode parallelism nor file sizing.
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        _pq_encode_with_books(spark, e.repartition(min(n_part, 8)), books).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, "codes"))
        with open(os.path.join(stage, "codebooks.json"), "w") as f:
            json.dump([b.tolist() for b in books], f)

    root = _build_once(sf_dir, PQ_CODES_ROOT, root, "_PQ_COMPLETE", write)
    with open(os.path.join(root, "codebooks.json")) as f:
        books = [np.asarray(b) for b in json.load(f)]
    return spark.read.parquet(os.path.join(root, "codes")), books


def append_pq_codes(spark: SparkSession, root: str, batch: DataFrame) -> None:
    """Grow the persisted PQ code store by a new (vec_id, embedding) batch:
    encode the batch with the PERSISTED codebooks (no re-train, no history
    re-read — the codebook is the KB-sized global artifact PQ trains once
    per corpus) and append the codes as new parquet files. Existing store
    files are never rewritten (the append-only discipline of
    `append_ivf_index` / `append_band_index`).

    This closes the IVF×PQ serve-after-append lifecycle (r11 verdict #2):
    with both stores appendable, `ann_ivf_pq_adc`'s plan serves appended
    vectors without the full-corpus re-encode (`ann_ivf_pq_build`,
    11.7-18 s at sf0.1) — append cost is O(batch) encode + file append.
    Codebooks drift from the corpus distribution as the store grows;
    production re-trains on the same maintenance schedule as the IVF
    re-cluster (= re-run `pq_encode_df`), the steady state is append.

    Same loud NULL/empty/non-DIM reject as every build and append path
    (`_vectors`): a bad vector would make numpy's stack/argmin either
    throw an opaque shape error or (worse, for an all-NULL Arrow batch
    typed object) encode garbage codes — surface it as a data-contract
    violation instead."""
    import json
    import os

    import numpy as np

    with open(os.path.join(root, "codebooks.json")) as f:
        books = [np.asarray(b) for b in json.load(f)]
    e = _vectors(batch, "append_pq_codes")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # bounded repartition: a handful of appended files per batch, not one
    # per writer task — append_band_index's small-file rule; the store is
    # compacted on the lake schedule (lake_compact_small_files).
    (
        _pq_encode_with_books(spark, e, books)
        .repartition(min(n_part, 8))
        .write.mode("append")
        .parquet(os.path.join(root, "codes"))
    )


@register(
    "ann_ivf_pq_append_batch",
    oracle=None,  # k-means fit + codebooks are iterative; gates pinned in tests
    tags=("similarity", "ext", "pq", "ivf", "scale", "lifecycle"),
)
def ann_ivf_pq_append_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED index lifecycle (r11 verdict #2, closing the last ANN
    gap): build the IVF index AND the PQ code store over the HISTORY 90%
    of the corpus (private roots), append the remaining 10% to BOTH via
    `append_ivf_index` + `append_pq_codes` (broadcast-centroid assign,
    persisted-codebook encode — no k-means re-fit, no corpus re-encode),
    then serve the standard IVF×PQ/ADC top-k from the GROWN stores —
    `ann_ivf_pq_adc`'s exact plan shape, with appended vectors now
    ADC-retrievable without the 11.7-18 s full rebuild.

    In-operator gates (loud, WAP-style):
    - immutability: every pre-append file in BOTH stores byte-stable
      after the append (only additions allowed);
    - completeness: every appended vec_id present in both the read-back
      assignments and the read-back code store.
    tests/test_r12_new_ops.py additionally pins: appended codes
    bit-identical to a fresh encode with the persisted codebooks,
    post-append recall at the standing >= 0.5 * nprobe/k floor, and the
    append≪rebuild cost asymmetry (SCALE.md r12).

    Scale: the append touches O(batch) rows + two KB-sized broadcasts
    (centroids, codebooks); serving I/O stays ∝ nprobe/k of the grown
    store. This is the steady-state ingest path of a production vector
    store — rebuild (`ann_ivf_pq_build`) drops to a maintenance-schedule
    repair, exactly like compaction."""
    import os
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_batch = (F.col("vec_id") % 10 == 9) & (F.col("vec_id") >= N_QUERIES)
    hist = e.filter(~is_batch)
    batch = e.filter(is_batch)
    ivf_work = tempfile.mkdtemp(prefix="sg_ivfpq_append_ivf_")
    pq_work = tempfile.mkdtemp(prefix="sg_ivfpq_append_pq_")
    shutil.rmtree(ivf_work)  # both builders publish by atomic rename
    shutil.rmtree(pq_work)
    try:
        # The IVF build and the PQ build over the SAME history are fully
        # independent (separate private roots, separate outputs); run them
        # as two concurrent driver threads (guide §2.6 — overlap
        # independent jobs) so the PQ codebook train + encode back-fills
        # the cores the build stages leave idle. Each build's
        # internal math is untouched, so both stores stay bit-identical
        # to the sequential form (pinned in tests/test_r12_new_ops.py).
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_ivf = pool.submit(
                build_ivf_index, spark, sf_dir, root=ivf_work, source=hist
            )
            f_pq = pool.submit(
                pq_encode_df, spark, sf_dir, root=pq_work, source=hist
            )
            ivf_root = f_ivf.result()
            f_pq.result()
        before = {**_walk_parquet(ivf_root), **_walk_parquet(pq_work)}
        # The two appends are independent too (disjoint stores, both
        # consume only `batch` + a KB-sized broadcast); same overlap.
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_a = pool.submit(append_ivf_index, spark, ivf_root, batch)
            f_b = pool.submit(append_pq_codes, spark, pq_work, batch)
            f_a.result()
            f_b.result()
        after = {**_walk_parquet(ivf_root), **_walk_parquet(pq_work)}
        rewritten = [p for p, sz in before.items() if after.get(p) != sz]
        if rewritten:
            raise RuntimeError(
                f"ann_ivf_pq_append_batch rewrote existing store files: "
                f"{rewritten[:3]} (append-only contract)"
            )
        codes_df, _books = pq_encode_df(spark, sf_dir, root=pq_work)
        assignments = spark.read.parquet(os.path.join(ivf_root, "assignments"))
        # The three completeness counts (batch size + the two read-back
        # semi-joins) are independent scans; overlap them the same way.
        with ThreadPoolExecutor(max_workers=3) as pool:
            f_n = pool.submit(batch.count)
            gate_futs = [
                (
                    label,
                    pool.submit(
                        df.join(batch.select("vec_id"), "vec_id", "left_semi").count
                    ),
                )
                for label, df in (("assignments", assignments), ("codes", codes_df))
            ]
            n_batch = f_n.result()
            for label, fut in gate_futs:
                n_found = fut.result()
                if n_found != n_batch:
                    raise RuntimeError(
                        f"ann_ivf_pq_append_batch lost vectors: {n_found} of "
                        f"{n_batch} appended ids present in the grown {label}"
                    )
        out = _adc_topk(
            _ivf_pq_adc_scored(spark, sf_dir, ivf_root=ivf_root, pq_root=pq_work)
        )
        # the private store roots are reclaimed in finally: materialize
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ivf_work, ignore_errors=True)
        shutil.rmtree(pq_work, ignore_errors=True)


def _adc_luts(spark: SparkSession, sf_dir: str, books):
    """The N_QUERIES full-precision query vectors {vec_id: v} and their
    per-query ADC lookup tables, lut[q][m][k] = ||q_m - c_mk||^2
    (PQ_M*PQ_K floats per query — KB-sized, broadcast by the caller)."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    queries = {
        int(r["vec_id"]): np.asarray(r["v"])
        for r in e.filter(F.col("vec_id") < N_QUERIES).collect()
    }
    sub = next(iter(queries.values())).shape[0] // PQ_M
    luts = {
        qid: [
            (((qv[m * sub : (m + 1) * sub] - books[m]) ** 2).sum(1)).tolist()
            for m in range(PQ_M)
        ]
        for qid, qv in queries.items()
    }
    return queries, luts


def _adc_topk(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """Per-query top-k of (query_id, neighbor_id, adc_dist) rows by
    (adc_dist ASC, neighbor_id ASC), adc_dist rounded to 6 decimals —
    the ranking tail of every ADC serve."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.round("adc_dist", 6).alias("adc_dist"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= k)
    )


@register(
    "ann_pq_adc",
    oracle=None,  # k-means codebooks; recall + compression pinned in tests
    tags=("similarity", "ext", "pq", "scale"),
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over PQ codes with asymmetric distance computation: queries stay
    full-precision; per query a (PQ_M × PQ_K) lookup table of
    subvector-to-centroid distances broadcasts (KB), and each candidate's
    approximate distance is PQ_M table lookups summed — no float vector is
    ever read at query time.

    Scale: candidates scan as M-byte codes (32× less I/O than raw
    vectors), scoring is table lookups (no dot products), and the only
    shuffle is the final per-query top-k window.  Composes with the IVF
    index (probe cells first, then ADC within the cell)."""
    codes_df, books = pq_encode_df(spark, sf_dir)
    _queries, luts = _adc_luts(spark, sf_dir, books)
    bc = spark.sparkContext.broadcast(luts)

    import pandas as pd

    def adc(batches):
        import numpy as _np

        lut = {q: _np.asarray(t) for q, t in bc.value.items()}  # (M, K)
        for pdf in batches:
            codes = _np.stack([_np.asarray(c, dtype=_np.int64) for c in pdf["codes"]])
            m_idx = _np.arange(codes.shape[1])
            out = []
            for qid, t in lut.items():
                dist = t[m_idx, codes].sum(1)  # (n,)
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": pdf["vec_id"].to_numpy(),
                            "adc_dist": dist,
                        }
                    )
                )
            yield pd.concat(out)

    scored = codes_df.mapInPandas(
        adc, "query_id long, neighbor_id long, adc_dist double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return _adc_topk(scored)


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup: cluster, then prune within-cluster)
# ---------------------------------------------------------------------------
SEMDEDUP_TAU = 0.35  # fixture-calibrated: prunes ~9% of vectors


@register(
    "semantic_dedup",
    oracle=f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {_duck_bucket('embedding::DOUBLE[]')} AS cell
          FROM embeddings
        ),
        sim AS (
          SELECT b.vec_id,
                 max(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v)))) AS max_sim
          FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
          GROUP BY b.vec_id
        )
        SELECT e.vec_id, e.cell,
               round(coalesce(sim.max_sim, -1.0), 6) + 0.0 AS max_sim_smaller,
               coalesce(sim.max_sim, -1.0) < {SEMDEDUP_TAU} AS is_kept
        FROM e LEFT JOIN sim ON e.vec_id = sim.vec_id
    """,
    doc="SemDeDup: coarse-cluster embeddings, prune within-cluster cosine near-dups",
    tags=("similarity", "dedup", "ext"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    assign every embedding to a coarse cluster, compare only within-cluster
    pairs, and drop any vector whose cosine to a LOWER-id cluster-mate
    reaches tau — the deterministic min-id survivor rule, so the output is
    a reproducible keep/drop decision per vector, not just candidate pairs.

    Here the coarse quantizer is the engine-exact 16-cell LSH bucket (the
    same deterministic hyperplanes as ann_lsh_bucketed); in production it
    is the persisted IVF k-means assignment (ann_ivf_persisted) with ~100k
    cells, so the within-cell self-join is an equi-join whose per-cell
    fan-out is corpus_size/n_cells — quadratic only inside a cell, never
    across the corpus. The join shuffles on the cell id; a skewed giant
    cell is handled the same way IVF handles it: split cells until balanced
    (AQE skew-join locally). Reference parity: generalizes the course's
    exact-key Word2Vec lookup join (Word2VecTransformingIterator.java:123)
    to similarity-keyed self-matching.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    e = e.withColumn("cell", _bucket_expr(F.col("v")))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("cell").alias("ca"))
    sim = (
        a.join(e, (F.col("ca") == F.col("cell")) & (F.col("id_a") < F.col("vec_id")))
        .groupBy("vec_id")
        .agg(F.max(cosine(F.col("va"), F.col("v"))).alias("max_sim"))
    )
    return e.join(sim, "vec_id", "left").select(
        "vec_id",
        "cell",
        (F.round(F.coalesce("max_sim", F.lit(-1.0)), 6) + 0.0).alias("max_sim_smaller"),
        (F.coalesce("max_sim", F.lit(-1.0)) < SEMDEDUP_TAU).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# [EXT r4] Matryoshka prefix-dim coarse search + exact refine
# ---------------------------------------------------------------------------
MRL_PREFIX = 16   # coarse stage scores only the first 16 of 64 dims
MRL_SHORTLIST = 50  # candidates surviving into the exact refine


@register(
    "ann_matryoshka_refine",
    oracle=f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
        coarse AS (
          SELECT q.query_id, e.vec_id AS neighbor_id, q.qv, e.v,
                 list_dot_product(q.qv[1:{MRL_PREFIX}], e.v[1:{MRL_PREFIX}]) AS cscore
          FROM q JOIN e ON e.vec_id != q.query_id
        ),
        short AS (
          SELECT query_id, neighbor_id, qv, v FROM (
            SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY cscore DESC, neighbor_id ASC) AS crnk
            FROM coarse
          ) WHERE crnk <= {MRL_SHORTLIST}
        ),
        refined AS (
          SELECT query_id, neighbor_id,
                 list_dot_product(qv, v)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
          FROM short
        )
        SELECT query_id, neighbor_id, round(cos, 6) + 0.0 AS cosine_sim, rnk FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
          FROM refined
        ) WHERE rnk <= {TOP_K}
    """,
    doc="Matryoshka two-stage ANN: prefix-dim dot-product shortlist, exact cosine refine (Kusupati et al. 2022 retrieval recipe).",
    tags=("similarity", "ext", "scale"),
)
def ann_matryoshka_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN over nested (matryoshka) representations: stage 1
    scores every candidate with a dot product over only the FIRST
    MRL_PREFIX dims (4× less compute and memory traffic per candidate at
    64→16; MRL-trained embeddings concentrate signal in the prefix —
    Kusupati et al. 2022, public recipe), keeps a per-query shortlist of
    MRL_SHORTLIST; stage 2 re-scores only the shortlist with the full-dim
    exact cosine and emits top-k.

    Scale shape: the query block broadcasts (same contract as
    cosine_topk_exact), stage-1 scores compute map-side against the scan,
    and only shortlist rows — MRL_SHORTLIST per query, not the corpus —
    reach the refine. The rank windows shuffle (query_id, score) pairs
    only. At a billion vectors the coarse stage is the bandwidth win:
    reading 16/64 dims is a 4× column-bytes cut, realized by storing the
    prefix as its own column family (here: F.slice on the scan).

    Cross-engine determinism: both stages order by (score DESC, id ASC)
    with bit-identical left-to-right fold dot products, so the shortlist
    boundary and final ranks agree exactly with the DuckDB oracle.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.slice(F.col("v"), 1, MRL_PREFIX).alias("qp"),
    )
    coarse = (
        e.withColumn("vp", F.slice(F.col("v"), 1, MRL_PREFIX))
        .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "qv",
            "v",
            dot(F.col("qp"), F.col("vp")).alias("cscore"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("cscore").desc(), F.col("neighbor_id").asc()
    )
    short = (
        coarse.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= MRL_SHORTLIST)
        .select("query_id", "neighbor_id", "qv", "v")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        short.select(
            "query_id", "neighbor_id", cosine(F.col("qv"), F.col("v")).alias("cos")
        )
        .select(
            "query_id",
            "neighbor_id",
            (F.round("cos", 6) + 0.0).alias("cosine_sim"),
            F.row_number().over(wr).alias("rnk"),
        )
        .filter(F.col("rnk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# [EXT r4] IVF × PQ composition: the full production ANN serving stack
# ---------------------------------------------------------------------------
@register(
    "ann_ivf_pq_adc",
    oracle=None,  # k-means codebooks + probing; recall pinned in tests
    tags=("similarity", "ext", "pq", "ivf", "scale"),
)
def ann_ivf_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production ANN stack (FAISS's IVFPQ layout, from the
    same two public recipes the parts cite): the persisted IVF index
    prunes WHICH vectors are candidates (only nprobe cells of the
    cell-partitioned index are read — I/O ∝ nprobe/k of the corpus), and
    PQ/ADC prunes WHAT is read per candidate (16 one-byte codes instead
    of 256 B of floats, scored by per-query lookup tables — no float
    vector touched at query time).

    Composition shape: codes join the cell-partitioned assignments on
    vec_id ONCE (in production the codes are simply stored inside the
    index files — this join is the build step, not the query path), the
    per-query probe set broadcasts, and ADC runs inside the probed
    partitions' scan. The only shuffle is the final top-k window on
    (query_id, dist) pairs.

    Recall composes multiplicatively (IVF may prune a true neighbor's
    cell, PQ may misrank within a cell). Measured nprobe curve (r5,
    recall@5 vs exact cosine, sf0.001/sf0.01): 1→0.28/0.32, 2→0.34/0.42,
    4→0.56/0.58, 8→0.66/0.68; PQ-only 0.76/0.74, IVF-only 0.64/0.72.
    nprobe=4 is the operating point; tests pin recall@5 ≥ 0.5 there and
    require every emitted candidate to come from a probed cell.
    """
    return _adc_topk(_ivf_pq_adc_scored(spark, sf_dir))


def _ivf_pq_adc_scored(
    spark: SparkSession,
    sf_dir: str,
    ivf_root: str | None = None,
    pq_root: str | None = None,
) -> DataFrame:
    """Shared IVF-probe + PQ/ADC scoring stage: (query_id, neighbor_id,
    adc_dist) for every candidate in a probed cell. Both the direct top-k
    (`ann_ivf_pq_adc`) and the exact-rerank form (`ann_ivf_pq_refined`)
    consume this. Explicit `ivf_root`/`pq_root` serve a caller-managed
    (e.g. freshly appended) store instead of the corpus-keyed caches —
    the serve-after-append path of `ann_ivf_pq_append_batch`."""
    import os

    import numpy as np

    root = ivf_root or build_ivf_index(spark, sf_dir)
    assigned = spark.read.parquet(os.path.join(root, "assignments")).select(
        "vec_id", "cell"
    )
    centroids = spark.read.parquet(os.path.join(root, "centroids"))
    codes_df, books = pq_encode_df(spark, sf_dir, root=pq_root)
    indexed = assigned.join(codes_df, "vec_id")  # build-time co-location

    queries, luts = _adc_luts(spark, sf_dir, books)
    cents = {int(r["cell"]): np.asarray(r["cv"]) for r in centroids.collect()}
    # Driver-side probe pick: K centroids are KB-sized and global.
    probe_rows = []
    for qid, qv in queries.items():
        d2 = sorted((float(((qv - cv) ** 2).sum()), c) for c, cv in cents.items())
        for _, c in d2[:IVF_NPROBE]:
            probe_rows.append((qid, c))
    probes = spark.createDataFrame(probe_rows, "query_id long, qcell int")
    bc = spark.sparkContext.broadcast(luts)

    import pandas as pd

    def adc(batches):
        import numpy as _np

        lut = {q: _np.asarray(t) for q, t in bc.value.items()}
        for pdf in batches:
            if not len(pdf):
                continue
            codes = _np.stack([_np.asarray(c, dtype=_np.int64) for c in pdf["codes"]])
            m_idx = _np.arange(codes.shape[1])
            qids = pdf["query_id"].to_numpy()
            dist = _np.empty(len(pdf))
            for q in _np.unique(qids):
                mask = qids == q
                dist[mask] = lut[int(q)][m_idx, codes[mask]].sum(1)
            yield pd.DataFrame(
                {
                    "query_id": qids,
                    "neighbor_id": pdf["vec_id"].to_numpy(),
                    "adc_dist": dist,
                }
            )

    cand = indexed.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id", "codes")
    return cand.mapInPandas(adc, "query_id long, neighbor_id long, adc_dist double")


# ADC shortlist size for the exact-rerank stage: 10× the final k, so any
# true neighbor that survives IVF cell pruning is virtually always inside
# the shortlist and the exact rerank removes ALL PQ quantization misranking.
REFINE_SHORTLIST = 50


@register(
    "ann_ivf_pq_refined",
    oracle=None,  # k-means codebooks + probing; recall pinned in tests
    tags=("similarity", "ext", "pq", "ivf", "scale"),
)
def ann_ivf_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ with an exact-rerank refine stage — the standard trick for
    raising recall at constant index I/O (FAISS `IndexRefineFlat` shape):
    the ADC scan keeps a REFINE_SHORTLIST (= 10k) shortlist per query
    instead of top-k, then ONLY those shortlist ids fetch their full float
    vectors (an equi-join on vec_id — at 100 TB this reads
    |queries|×shortlist vectors, not the corpus) and exact L2 re-ranks to
    the final top-k.

    Effect on the composed stack's recall: PQ's within-cell misranking is
    fully removed, so recall rises to the IVF cell-pruning ceiling
    (measured r5: 0.64/0.72 at sf0.001/sf0.01 vs 0.56/0.58 unrefined —
    exactly matching IVF-only at the same nprobe, i.e. every remaining
    miss is a pruned cell, none is quantization — for +50 vector reads
    per query). Tests pin refined ≥ unrefined and refined recall@5 ≥ 0.6.
    """
    shortlist = _adc_topk(_ivf_pq_adc_scored(spark, sf_dir), REFINE_SHORTLIST).select(
        "query_id", "neighbor_id"
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    # Refine reads: only shortlist ids fetch float vectors. The query
    # block (N_QUERIES rows) broadcasts; the shortlist joins the corpus on
    # vec_id — an equi-join sized |queries|×shortlist, never a corpus scan
    # at serving time.
    qvec = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    refined = (
        shortlist.join(e, shortlist.neighbor_id == e.vec_id)
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            squared_error(F.col("v"), F.col("qv")).alias("l2_dist"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        refined.select(
            "query_id",
            "neighbor_id",
            F.round("l2_dist", 6).alias("l2_dist"),
            F.row_number().over(wr).alias("rnk"),
        )
        .filter(F.col("rnk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# [EXT r6] Filtered ANN: metadata predicate + vector search composed
# ---------------------------------------------------------------------------
FILTER_LABEL_MOD = 4  # candidates restricted to label % 4 == 1 (~25% of corpus)


@register(
    "cosine_topk_filtered",
    oracle=f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
        cand AS (
          SELECT vec_id, v FROM e WHERE label % {FILTER_LABEL_MOD} = 1
        ),
        scored AS (
          SELECT q.query_id, cand.vec_id AS neighbor_id,
                 list_dot_product(q.qv, cand.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(cand.v, cand.v))) AS cos
          FROM q JOIN cand ON cand.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) + 0.0 AS cosine_sim, rnk FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id ASC) AS rnk
          FROM scored
        ) WHERE rnk <= {TOP_K}
    """,
    doc="Filtered vector search: metadata predicate (label % 4 == 1) pushed to the parquet scan BEFORE scoring — pre-filtered ANN, the semantics every production vector store must pick a side on.",
    tags=("similarity", "ext", "scale"),
)
def cosine_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — top-k cosine among ONLY the candidates
    passing a metadata predicate. The composition every real retrieval
    system needs (tenant/language/recency filters) and where naive ANN
    breaks: POST-filtering an index's top-k can return < k (or zero)
    survivors when the filter is selective. This operator pins the
    PRE-filtering semantics: the predicate prunes candidates at the scan
    (PushedFilters, plan-gated in tests/test_r6_new_ops.py), scoring and
    ranking see only qualifying vectors, so k results survive whenever k
    qualifying candidates exist.

    Scale: same broadcast-query/map-side-score shape as
    `cosine_topk_exact`, but the candidate scan is cut by the predicate's
    selectivity BEFORE any arithmetic — with a label-partitioned or
    z-ordered layout the pruning happens at I/O, not post-decode. The IVF
    composition (probe cells, then filter in-cell) trades that for
    possible under-fill; the exact form here is the semantics oracle.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v"), "label"
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cand = e.filter(F.col("label") % FILTER_LABEL_MOD == 1).select("vec_id", "v")
    scored = cand.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("v")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            (F.round("cos", 6) + 0.0).alias("cosine_sim"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# [EXT r6] Cluster-quality gate: silhouette over the persisted IVF layout
# ---------------------------------------------------------------------------
@register(
    "ivf_silhouette_gate",
    oracle=None,  # squared-euclidean silhouette over a k-means fit; pins in tests
    tags=("similarity", "ivf", "ml", "ext"),
)
def ivf_silhouette_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality gating: the silhouette coefficient of the persisted
    IVF cell assignment vs a hash-random assignment of the same k — the
    health check a vector store runs before trusting an index build
    (a silhouette near the random baseline means the centroids collapsed
    or the data shifted, and recall pins will follow it down).

    MLlib surface: ClusteringEvaluator (squared-euclidean silhouette) —
    the evaluator family member the ML pillar still lacked (Regression
    and Binary evaluators are exercised elsewhere). On the
    UNIFORM-random fixture the absolute silhouette is near zero by
    construction (64-dim uniform data has no real cluster structure —
    measured ≈ -0.01 for k-means vs ≈ -0.04 random), so the gate is the
    MARGIN over the random baseline, pinned strictly positive in
    tests/test_r6_new_ops.py; clustered production embeddings would
    separate far more.

    Scale: the evaluator is one pass over (features, prediction) with a
    broadcast of per-cluster feature sums — the same map-side-combinable
    shape as the index build itself; both run on the PERSISTED
    assignments, never re-fitting.
    """
    import os

    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.functions import array_to_vector

    root = build_ivf_index(spark, sf_dir)
    assigned = (
        spark.read.parquet(os.path.join(root, "assignments"))
        .select("vec_id", "v", F.col("cell").cast("int").alias("cell"))
        .withColumn("features", array_to_vector("v"))
    )
    n = assigned.count()
    ev = ClusteringEvaluator(
        featuresCol="features", predictionCol="cell", metricName="silhouette"
    )
    sil_kmeans = ev.evaluate(assigned)
    rand = assigned.withColumn(
        "cell", F.pmod(F.xxhash64("vec_id"), F.lit(IVF_K)).cast("int")
    )
    sil_random = ev.evaluate(rand)
    return spark.createDataFrame(
        [
            (
                float(round(sil_kmeans, 6)),
                float(round(sil_random, 6)),
                int(n),
                int(IVF_K),
            )
        ],
        "silhouette_kmeans double, silhouette_random double, n_vectors long, k long",
    )


# ---------------------------------------------------------------------------
# [EXT r8] k-NN classification by embedding neighborhood — the label-
# propagation use of the similarity index (auto-labeling / weak
# supervision over an embedding column).
# ---------------------------------------------------------------------------
@register(
    "knn_classify_embeddings",
    oracle=f"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
        scored AS (
          SELECT q.query_id, e.label,
                 row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_dot_product(q.qv, e.v)
                            / (sqrt(list_dot_product(q.qv, q.qv))
                               * sqrt(list_dot_product(e.v, e.v))) DESC,
                            e.vec_id ASC) AS rnk
          FROM q JOIN e ON e.vec_id != q.query_id
        ),
        votes AS (
          SELECT query_id, label, CAST(count(*) AS BIGINT) AS n_votes
          FROM scored WHERE rnk <= {TOP_K}
          GROUP BY query_id, label
        )
        SELECT query_id, CAST(label AS BIGINT) AS predicted_label, n_votes
        FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY n_votes DESC, label ASC) AS vr
          FROM votes
        ) WHERE vr = 1
    """,
    doc=f"k-NN classification: each query vector takes the majority label of its {TOP_K} nearest neighbors by exact cosine (ties: smallest label) — the auto-labeling/weak-supervision read of the similarity index, hash-exact end to end.",
    tags=("similarity", "ml", "ext", "scale"),
)
def knn_classify_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation through the embedding space — the third use of
    the similarity family after retrieval (`cosine_topk_exact`) and
    near-dup mining: classify an unlabeled vector by the MAJORITY LABEL
    of its k nearest neighbors. This is how production corpora bootstrap
    labels (weak supervision, data programming) before any model exists.

    Determinism: the neighbor set is the proven portable-cosine top-k
    (identical doubles both engines, vec_id tie-break); votes are integer
    counts; the winning label breaks ties on (votes DESC, label ASC) —
    every step exact, so the prediction is hash-checked, not eyeballed.

    Scale: identical shape to `cosine_topk_exact` — the query block
    broadcasts, scores compute map-side against candidates that never
    shuffle, and only top-k rank rows + |queries|x|labels| vote rows move.
    The vote aggregate is map-side combinable. For large query sets the
    IVF/LSH variants supply the candidate set; the voting tail is
    unchanged.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    topk = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "label", cosine(F.col("qv"), F.col("v")).alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )
    votes = topk.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("label").cast("long").alias("predicted_label"),
            "n_votes",
        )
    )


# ---------------------------------------------------------------------------
# [EXT r8] Top principal component by POWER ITERATION on an integer-
# quantized covariance — iterative numerics held as scaled BIGINTs (the
# pagerank discipline), so an 8-round eigenvector hunt is hash-exact.
# ---------------------------------------------------------------------------
PCA_ROUNDS = 8
PCA_QSCALE = 100  # embedding components quantized to q = floor(v*100+.5)
PCA_WSCALE = 1_000  # iterate vector renormalized to max|w| = 1000
# Shared renormalization template (used verbatim by BOTH engines): one
# long->double conversion + one multiply + one divide + floor — every op
# IEEE-identical on identical integer inputs.
_PCA_RENORM = (
    "CAST(floor(CAST({v} AS DOUBLE) * {s}.0 / CAST(greatest({m}, 1) AS DOUBLE)"
    " + 0.5) AS BIGINT)"
)


def _pca_oracle_sql() -> str:
    """Unrolled power iteration (MATERIALIZED round CTEs — the r6
    iterative-oracle lesson: plain CTEs inline and explode 3^k)."""
    rounds = []
    prev = "w0"
    for k in range(1, PCA_ROUNDS + 1):
        rounds.append(
            f"""cw{k} AS MATERIALIZED (
              SELECT c.i, CAST(sum(c.c * w.w) AS BIGINT) AS v
              FROM c JOIN {prev} w ON w.i = c.j GROUP BY c.i
            ),
            m{k} AS MATERIALIZED (SELECT greatest(max(abs(v)), 1) AS m FROM cw{k}),
            w{k} AS MATERIALIZED (
              SELECT i, {_PCA_RENORM.format(v="v", s=PCA_WSCALE, m="m")} AS w
              FROM cw{k}, m{k}
            )"""
        )
        prev = f"w{k}"
    return f"""
        WITH emb AS (
          SELECT list_transform(embedding::DOUBLE[],
                                x -> CAST(floor(x * {PCA_QSCALE} + 0.5) AS BIGINT))
                   AS q
          FROM embeddings
        ),
        idx AS (SELECT i FROM range(0, {DIM}) t(i)),
        s AS (
          SELECT ii.i AS i, jj.i AS j,
                 CAST(sum(q[ii.i + 1] * q[jj.i + 1]) AS BIGINT) AS s
          FROM emb, idx ii, idx jj GROUP BY 1, 2
        ),
        d AS (SELECT ii.i AS i, CAST(sum(q[ii.i + 1]) AS BIGINT) AS si
              FROM emb, idx ii GROUP BY 1),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM emb),
        c AS MATERIALIZED (
          SELECT s.i, s.j, nn.n * s.s - di.si * dj.si AS c
          FROM s, nn
          JOIN d di ON di.i = s.i JOIN d dj ON dj.i = s.j
        ),
        diag AS (SELECT i, c FROM c WHERE i = j),
        md AS (SELECT greatest(max(c), 1) AS m FROM diag),
        w0 AS MATERIALIZED (
          SELECT i, {_PCA_RENORM.format(v="c", s=PCA_WSCALE, m="m")} AS w
          FROM diag, md
        ),
        {", ".join(rounds)},
        fin AS MATERIALIZED (
          SELECT c.i, CAST(sum(c.c * w.w) AS BIGINT) AS v
          FROM c JOIN w{PCA_ROUNDS} w ON w.i = c.j GROUP BY c.i
        ),
        lam AS (SELECT greatest(max(abs(v)), 1) AS m FROM fin)
        SELECT w.i AS dim_idx, w.w AS loading_q, lam.m AS lam_maxabs
        FROM w{PCA_ROUNDS} w, lam
    """


@register(
    "pca_power_iteration_quantized",
    oracle=_pca_oracle_sql(),
    doc=f"Top principal component of the embedding cloud by {PCA_ROUNDS} fixed power-iteration rounds on the INTEGER-EXACT centered scatter matrix (n*S_ij - S_i*S_j of {PCA_QSCALE}x-quantized components), the iterate held as max-{PCA_WSCALE} scaled BIGINTs — iterative linear algebra with a hash oracle.",
    tags=("similarity", "ml", "iterative", "ext", "scale"),
)
def pca_power_iteration_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimensionality-reduction primitive, built so two engines agree
    to the BIT: drift analysis, whitening, and index tuning all start
    from the top principal direction of the embedding cloud, but float
    power iteration can never hash cross-engine (FP matrix-vector
    accumulation order). The pagerank discipline (r6: state as scaled
    BIGINTs, integer-exact updates, fixed round count) applies:

    - components quantize to q = floor(v*{PCA_QSCALE}+0.5) — BIGINT;
    - the CENTERED scatter matrix is C = n*S_ij - S_i*S_j, computed from
      integer moment sums only (no FP mean subtraction);
    - each round's matrix-vector product is an integer-SUM aggregate
      (order-free); renormalization to max|w| = {PCA_WSCALE} is ONE
      identical double expression (shared template) on identical
      integers;
    - both engines run EXACTLY {PCA_ROUNDS} rounds — equality is
      per-round-exact, independent of convergence, while the test pins
      that a synthetic dominant direction IS recovered.

    Eigenvalue readout: lam_maxabs = max|C w| of the final iterate
    (~ lambda * {PCA_WSCALE} in scatter units as w converges) — a max,
    not an FP inner product, so it stays integer-exact. Overflow budget:
    |C| <= n^2*(q_max^2 + ...) ~ 1.5e12 at n=2e4, so |Cw| <= 64*|C|*1e3
    ~ 1e17 << 2^63; safe to n ~ 1.5e5 at these scales — beyond that,
    lower PCA_WSCALE or pre-aggregate (documented contract, asserted in
    tests via the fixture bound).

    Scale: the scatter moments are ONE map-side-combinable aggregate
    over rows x {DIM}^2 products (the classic d^2-per-row PCA cost — at
    100 TB this is the dominant, embarrassingly parallel scan); every
    round after that runs on {DIM}^2 + {DIM} rows — metadata scale.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        F.transform(
            as_double("embedding"),
            lambda x: F.floor(x * PCA_QSCALE + F.lit(0.5)).cast("long"),
        ).alias("q")
    )
    pairs = q.select(
        F.explode(
            F.expr(
                "flatten(transform(q, (x, i) ->"
                " transform(q, (y, j) -> struct(i AS i, j AS j, x * y AS p))))"
            )
        ).alias("t")
    ).select("t.i", "t.j", "t.p")
    s = pairs.groupBy("i", "j").agg(F.sum("p").cast("long").alias("s"))
    d = (
        q.select(F.posexplode("q").alias("i", "qi"))
        .groupBy("i")
        .agg(F.sum("qi").cast("long").alias("si"))
    )
    nn = q.agg(F.count(F.lit(1)).cast("long").alias("n"))
    c = (
        s.join(F.broadcast(d.select(F.col("i").alias("di"), "si")), F.col("i") == F.col("di"))
        .join(
            F.broadcast(d.select(F.col("i").alias("dj"), F.col("si").alias("sj"))),
            F.col("j") == F.col("dj"),
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            (F.col("n") * F.col("s") - F.col("si") * F.col("sj"))
            .cast("long")
            .alias("c"),
        )
        .localCheckpoint(eager=True)  # C is reused every round
    )
    renorm = lambda: F.expr(_PCA_RENORM.format(v="v", s=PCA_WSCALE, m="m"))  # noqa: E731
    diag = c.filter(F.col("i") == F.col("j")).select("i", F.col("c").alias("v"))
    md = diag.agg(F.greatest(F.max("v"), F.lit(1)).alias("m"))
    w = diag.crossJoin(F.broadcast(md)).select("i", renorm().alias("w"))
    for _ in range(PCA_ROUNDS):
        cw = (
            c.join(F.broadcast(w.select(F.col("i").alias("j2"), "w")), F.col("j") == F.col("j2"))
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("w")).cast("long").alias("v"))
        )
        m = cw.agg(F.greatest(F.max(F.abs(F.col("v"))), F.lit(1)).alias("m"))
        w = (
            cw.crossJoin(F.broadcast(m))
            .select("i", renorm().alias("w"))
            .localCheckpoint(eager=True)
        )
    fin = (
        c.join(F.broadcast(w.select(F.col("i").alias("j2"), "w")), F.col("j") == F.col("j2"))
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("w")).cast("long").alias("v"))
    )
    lam = fin.agg(F.greatest(F.max(F.abs(F.col("v"))), F.lit(1)).alias("lam_maxabs"))
    return w.select(F.col("i").alias("dim_idx"), F.col("w").alias("loading_q")).crossJoin(
        F.broadcast(lam)
    )

# ---------------------------------------------------------------------------
# [EXT r9b] Binary-quantized ANN — 248-bit sign-random-projection codes
# (4 x 62-bit BIGINT words), Hamming shortlist by popcount(xor), exact
# cosine rerank of the shortlist: the binary-quantization serving stack.
# ---------------------------------------------------------------------------
BQ_WORDS = 4
BQ_WORD_BITS = 62  # bits 0..61 per word: never the BIGINT sign bit
BQ_BITS = BQ_WORDS * BQ_WORD_BITS  # 248
BQ_SHORTLIST = 100  # Hamming survivors fetched for exact rerank, per query
BQ_DIM = 64
BQ_QSCALE = 10_000  # embedding components quantized to 1e-4 before any dot
BQ_P = 2_147_483_647
BQ_A = 950_706_376  # Fishman-Moore optimal multiplier for mod 2^31-1
BQ_C = 12_345
BQ_WRANGE = 2_001  # centered weights in [-1000, 1000]


def _bq_weight_sql(j: str, d: str) -> str:
    """Portable signed projection weight for (bit j, dim d) — identical
    integer arithmetic in Spark SQL and DuckDB."""
    return (
        f"((({j} * {BQ_DIM} + {d}) % {BQ_P} * {BQ_A} + {BQ_C}) % {BQ_P})"
        f" % {BQ_WRANGE} - {(BQ_WRANGE - 1) // 2}"
    )


# each bit_count is cast up front: DuckDB's bit_count returns TINYINT,
# and 93 + 42 overflows INT8 (found live at sf0.001)
_BQ_HAM = " + ".join(
    f"CAST(bit_count(xor(q.qw{w}, c.w{w})) AS BIGINT)" for w in range(BQ_WORDS)
)


@register(
    "ann_binary_hamming",
    oracle=f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 list_transform(embedding::DOUBLE[],
                                x -> floor(x * {BQ_QSCALE} + 0.5)) AS qv
          FROM embeddings
        ),
        expl AS (
          SELECT e.vec_id, d.d, e.qv[d.d + 1] AS x
          FROM e CROSS JOIN (SELECT unnest(range({BQ_DIM})) AS d) d
        ),
        dots AS (
          SELECT x.vec_id, j.j,
                 CAST(sum(x.x * ({_bq_weight_sql('j.j', 'x.d')})) AS BIGINT)
                   AS dot
          FROM expl x CROSS JOIN (SELECT unnest(range({BQ_BITS})) AS j) j
          GROUP BY 1, 2
        ),
        codes AS (
          SELECT vec_id,
                 {", ".join(
                     f"CAST(sum(CASE WHEN dot >= 0 AND j // {BQ_WORD_BITS} = {w} "
                     f"THEN CAST(1 AS BIGINT) << CAST(j % {BQ_WORD_BITS} AS INTEGER) "
                     f"ELSE 0 END) AS BIGINT) AS w{w}"
                     for w in range(BQ_WORDS)
                 )}
          FROM dots GROUP BY vec_id
        ),
        q AS (SELECT vec_id AS query_id,
                     {", ".join(f"w{w} AS qw{w}" for w in range(BQ_WORDS))}
              FROM codes WHERE vec_id < {N_QUERIES}),
        shortlist AS (
          SELECT query_id, neighbor_id, hamming FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   CAST({_BQ_HAM} AS BIGINT) AS hamming,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {_BQ_HAM}, c.vec_id) AS hrnk
            FROM q JOIN codes c ON c.vec_id != q.query_id
          ) WHERE hrnk <= {BQ_SHORTLIST}
        ),
        rerank AS (
          SELECT s.query_id, s.neighbor_id, s.hamming,
                 list_dot_product(eq.v, en.v)
                   / (sqrt(list_dot_product(eq.v, eq.v))
                      * sqrt(list_dot_product(en.v, en.v))) AS cos
          FROM shortlist s
          JOIN e eq ON eq.vec_id = s.query_id
          JOIN e en ON en.vec_id = s.neighbor_id
        )
        SELECT query_id, neighbor_id, hamming,
               round(cos, 6) + 0.0 AS cosine_sim, rnk FROM (
          SELECT query_id, neighbor_id, hamming, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rnk
          FROM rerank
        ) WHERE rnk <= {TOP_K}
    """,
    doc=f"Two-tier binary-quantization ANN: {BQ_BITS}-bit sign-random-projection codes packed into {BQ_WORDS} sign-safe BIGINT words (portable integer weights over 1e-4-quantized components, so every code bit is engine-identical), Hamming = summed popcount(xor) shortlists {BQ_SHORTLIST} candidates per query, exact cosine reranks the shortlist — float vectors are read for 100 rows per query instead of the whole corpus.",
    tags=("similarity", "ext", "scale"),
)
def ann_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binary-quantization serving stack (the cheap tier modern
    vector stores put in front of float vectors): collapse each
    embedding to {BQ_BITS} sign bits (bit j = sign of a fixed random
    projection), shortlist by Hamming distance — {BQ_WORDS} xor+popcount
    BIGINT ops per candidate, ~8x less IO than the float vector — then
    fetch float vectors ONLY for the {BQ_SHORTLIST}-row shortlist and
    rerank with exact cosine. Measured recall@5 vs the exact scan: 0.54
    at sf0.01 (pinned >= 0.4) — the sign-code tier is coarse by design
    at this corpus's ~0.3 top-5 cosines; widening the shortlist, not the
    code, is the recall knob (50 -> 0.40, 100 -> 0.54).

    Exactness: components quantize to integers (floor(x*1e4+0.5), double
    ops correctly rounded identically in both engines); projection
    weights are portable Lehmer integers in [-1000, 1000]; every dot is
    an exact BIGINT (|dot| <= {BQ_DIM}*1e5*1e3 = 6.4e9, also exact in
    the oracle's DOUBLE list path), so code bits NEVER straddle an FP
    boundary. Bits pack 62 per word, away from the sign bit (the
    simhash64 1<<63 lesson); the rerank cosine reuses the
    cosine_topk_exact expression shape.

    Plan: codes build as posexplode -> broadcast (j,d)-weight join ->
    two map-side-combinable aggregates (at production scale swap this
    stage for a mapInArrow int64 matmul — same integers); scoring
    broadcasts the {N_QUERIES}-row query block, map-side popcounts, and
    only shortlist rank rows shuffle on query_id; the float-vector fetch
    is a {BQ_SHORTLIST}-per-query semi-join, never a corpus scan.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    qv = e.select(
        "vec_id",
        F.posexplode(
            F.transform("v", lambda x: F.floor(x * BQ_QSCALE + 0.5).cast("long"))
        ).alias("d", "x"),
    )
    jd = (
        spark.range(BQ_BITS)
        .select(F.col("id").alias("j"))
        .crossJoin(spark.range(BQ_DIM).select(F.col("id").alias("d")))
        .withColumn("w", F.expr(_bq_weight_sql("j", "d")))
    )
    dots = (
        qv.join(F.broadcast(jd), "d")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("x") * F.col("w")).cast("long").alias("dot"))
    )
    codes = dots.groupBy("vec_id").agg(
        *[
            F.sum(
                F.when(
                    (F.col("dot") >= 0)
                    & (F.expr(f"j div {BQ_WORD_BITS}") == w),
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT), "
                        f"CAST(j % {BQ_WORD_BITS} AS INT))"
                    ),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias(f"w{w}")
            for w in range(BQ_WORDS)
        ]
    )
    codes = codes.localCheckpoint(eager=True)  # reused: query + candidate side
    q = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"w{w}").alias(f"qw{w}") for w in range(BQ_WORDS)],
    )
    ham = sum(
        F.bit_count(F.expr(f"qw{w} ^ w{w}")) for w in range(BQ_WORDS)
    ).cast("long")
    scored = codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), ham.alias("hamming")
    )
    wh = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        scored.withColumn("hrnk", F.row_number().over(wh))
        .filter(F.col("hrnk") <= BQ_SHORTLIST)
        .drop("hrnk")
    )
    rerank = (
        shortlist.join(
            e.select(F.col("vec_id").alias("query_id"), F.col("v").alias("vq")),
            "query_id",
        )
        .join(
            e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vn")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            cosine(F.col("vq"), F.col("vn")).alias("cos"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        rerank.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            # + 0.0 folds -0.0 to 0.0 (the sibling cosine ops' discipline:
            # the driver's pandas hasher distinguishes the two zeros)
            (F.round("cos", 6) + 0.0).alias("cosine_sim"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# [EXT r12] Retraction through the ANN index: tombstoned vectors excluded
# from serving with ZERO store rewrites (deletion-vector overlay), then
# folded away by touched-cells-only compaction.
# ---------------------------------------------------------------------------
ANN_RETRACT_MOD = 7  # tombstone set: vec_id % 7 == 3 (queries exempt)


@register(
    "ann_ivf_delete_serve",
    oracle=None,  # k-means fit is iterative; exclusion + recall pinned in tests
    tags=("similarity", "ext", "ivf", "scale", "lifecycle"),
)
def ann_ivf_delete_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delete verb of the ANN store lifecycle (build → append →
    DELETE), completing what `ann_ivf_append_batch` started: a
    takedown/GDPR delete of indexed vectors must not rewrite the
    cell-partitioned store (at 100 TB a per-delete rewrite is a
    compaction, not a delete) yet deleted vectors must stop being
    servable IMMEDIATELY.

    Mechanism: the delete commit writes a tombstone vec_id sidecar (the
    `lake_deletion_vectors` / `near_dup_retract_reprobe` convention —
    identity-keyed, O(|deleted|) bytes); serving overlays it with one
    broadcast anti join on the probed cells' scan, so the exclusion cost
    is ∝ candidates read, not corpus. Maintenance folds tombstones into
    the cell files on the compaction schedule.

    In-op gate: every pre-delete index file byte-stable after the commit.
    tests/test_r12_new_ops.py pins: no tombstoned id is ever emitted,
    results equal `ann_ivf_persisted` restricted to retained neighbors
    (the overlay IS deletion, not a post-filter of a shorter list), and
    recall vs exact-over-retained holds the standing floor."""
    import os
    import shutil
    import tempfile

    root = build_ivf_index(spark, sf_dir)  # shared corpus cache, never mutated
    side = tempfile.mkdtemp(prefix="sg_ivf_tombstones_")
    try:
        e = load_table(spark, sf_dir, "embeddings")
        before = _walk_parquet(root)
        (
            e.filter(
                (F.col("vec_id") % ANN_RETRACT_MOD == 3)
                & (F.col("vec_id") >= N_QUERIES)
            )
            .select("vec_id")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(side, "tombstones"))
        )
        after = _walk_parquet(root)
        rewritten = [p for p, sz in before.items() if after.get(p) != sz]
        if rewritten:
            raise RuntimeError(
                f"ann_ivf_delete_serve touched index files: {rewritten[:3]} "
                "(deletion must be sidecar-only)"
            )
        tomb = spark.read.parquet(os.path.join(side, "tombstones"))

        assigned = spark.read.parquet(os.path.join(root, "assignments"))
        live = assigned.join(F.broadcast(tomb), "vec_id", "left_anti")
        centroids = spark.read.parquet(os.path.join(root, "centroids"))
        out = _ivf_probe_topk(live, centroids)
        # the sidecar dir is reclaimed in finally: materialize
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(side, ignore_errors=True)


@register(
    "ann_ivf_compact_tombstones",
    oracle=None,  # k-means fit is iterative; equality-with-overlay pinned in tests
    tags=("similarity", "ext", "ivf", "scale", "lifecycle"),
)
def ann_ivf_compact_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance verb that FOLDS tombstones into the store (the
    compaction `ann_ivf_delete_serve`'s docstring promises): rewrite ONLY
    the cell partitions that contain tombstoned rows — dropping those
    rows — via dynamic partition overwrite, leave every other cell's
    files untouched, then serve WITHOUT the overlay. After compaction
    the deletion-vector sidecar is empty and readers stop paying the
    anti join.

    In-op gates (loud, WAP-style):
    - locality: every file in an UNTOUCHED cell byte-stable (the
      touched-cells-only rewrite claim, `lake_zorder_recluster`'s gate);
    - completeness: zero tombstoned ids and exactly corpus−deleted rows
      in the read-back store.
    tests/test_r12_new_ops.py additionally pins the semantics: serving
    the compacted store (no overlay) == `ann_ivf_delete_serve` (overlay
    on the uncompacted store) — compaction changes the layout, never the
    answer.

    Scale: rewrite cost ∝ rows in touched cells (with k=16 cells and a
    spread delete-set that is the corpus here, but a production delete
    batch touches few cells of thousands); the touched-cell list is a
    k-bounded driver list, the rewrite one shuffle of touched-cell rows.
    The pattern at 100 TB: serve with the overlay between maintenance
    windows, compact on the lake schedule."""
    import os
    import shutil
    import tempfile

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="sg_ivf_compact_")
    shutil.rmtree(work)  # build_ivf_index publishes by atomic rename
    try:
        root = build_ivf_index(spark, sf_dir, root=work, source=e)
        tomb = (
            e.filter(
                (F.col("vec_id") % ANN_RETRACT_MOD == 3)
                & (F.col("vec_id") >= N_QUERIES)
            )
            .select("vec_id")
            .localCheckpoint(eager=True)
        )
        n_tomb = tomb.count()
        assigned = spark.read.parquet(os.path.join(root, "assignments"))
        n_before = assigned.count()
        touched = sorted(
            r.cell
            for r in assigned.join(F.broadcast(tomb), "vec_id", "left_semi")
            .select("cell")
            .distinct()
            .collect()  # bounded by k = IVF_K cells
        )
        before = _walk_parquet(root)
        # materialize the touched cells' LIVE rows before overwriting the
        # very partitions the lazy read references (the zorder_recluster
        # self-overwrite rule); input is ∝ touched-cell rows
        live_touched = (
            assigned.filter(F.col("cell").isin([int(c) for c in touched]))
            .join(F.broadcast(tomb), "vec_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        (
            live_touched.repartition(max(len(touched), 1), "cell")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell")
            .parquet(os.path.join(root, "assignments"))
        )
        # Dynamic overwrite replaces only partitions PRESENT in the write;
        # a touched cell whose EVERY row was tombstoned has no live rows,
        # so its dead files would silently survive (caught live at sf0.01:
        # a 1-row cell, fully deleted). Drop those partitions explicitly —
        # the metastore DROP PARTITION a real lake issues, O(k) dir ops.
        live_cells = {
            int(r.cell) for r in live_touched.select("cell").distinct().collect()
        }
        for c in touched:
            if int(c) not in live_cells:
                shutil.rmtree(
                    os.path.join(root, "assignments", f"cell={c}"),
                    ignore_errors=True,
                )
        after = _walk_parquet(root)
        touched_dirs = tuple(f"cell={c}" for c in touched)
        broken = [
            p
            for p, sz in before.items()
            if not any(t in p for t in touched_dirs) and after.get(p) != sz
        ]
        if broken:
            raise RuntimeError(
                f"ann_ivf_compact_tombstones rewrote untouched-cell files: "
                f"{broken[:3]} (touched-cells-only contract)"
            )
        compacted = spark.read.parquet(os.path.join(root, "assignments"))
        n_after = compacted.count()
        n_dead = compacted.join(F.broadcast(tomb), "vec_id", "left_semi").count()
        if n_dead != 0 or n_after != n_before - n_tomb:
            raise RuntimeError(
                f"ann_ivf_compact_tombstones fold incomplete: {n_dead} dead "
                f"rows, {n_after} of expected {n_before - n_tomb}"
            )
        centroids = spark.read.parquet(os.path.join(root, "centroids"))
        out = _ivf_probe_topk(compacted, centroids)
        # the private store root is reclaimed in finally: materialize
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
