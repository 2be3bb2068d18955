"""MLlib pipelines reproducing the reference's four chapter capabilities
(SURVEY §2.10) Spark-natively.

- ML1 sentiment (chapter 2: Word2Vec+LSTM) → tokenize → TF-IDF → LogisticRegression
  (capability: binary text classification; LSTM has no MLlib analog — §7.4)
- ML2 anomaly (chapter 3: autoencoder) → PCA bottleneck + reconstruction error
  + grouped top-k (the SQL-deterministic twin is `anomaly_best_worst`)
- ML3 image classification (chapter 4: LeNet CNN) → MultilayerPerceptronClassifier
- ML4 regression-learns-sum (chapters 5/6) → VectorAssembler + LinearRegression,
  with the chapter-6 hyperparameter sweep as TrainValidationSplit
- ML5 normalization → MinMaxScaler fit on train, applied to both splits
- U4 randomSplit, S15 save/load are exercised in tests/test_ml.py

Determinism: every estimator gets an explicit seed; `ml_regression_sum`
uses closed-form integer-derived features so even its *predictions* are
oracle-checkable (the model provably recovers y = a + b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table, local_frame

SEED = 42


def make_sum_dataset(spark: SparkSession, n: int = 2000) -> DataFrame:
    """Chapter-5 synthetic 'learn a+b' set with engine-portable determinism:
    a=((i*7)%100)/9, b=((i*13)%50)/7 (NetworkTrainedToSumNumbersUsingRegression
    .java:86-105 uses seeded uniforms; integer-derived values keep the DuckDB
    oracle bit-identical)."""
    return spark.range(n).select(
        F.col("id"),
        (((F.col("id") * 7) % 100) / 9.0).alias("a"),
        (((F.col("id") * 13) % 50) / 7.0).alias("b"),
    )


# ---------------------------------------------------------------------------
# ML4: regression recovers y = a + b — predictions oracle-checked
# ---------------------------------------------------------------------------
@register(
    "ml_regression_sum",
    oracle="""
        SELECT i AS id,
               round(((i * 7) % 100) / 9.0, 4) AS a,
               round(((i * 13) % 50) / 7.0, 4) AS b,
               round(((i * 7) % 100) / 9.0 + ((i * 13) % 50) / 7.0, 4) AS prediction
        FROM generate_series(0, 19) AS t(i)
    """,
    tags=("ml", "regression"),
)
def ml_regression_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LinearRegression (normal solver, no regularization) on the synthetic
    sum task recovers the exact plane y = a + b, so rounded predictions
    equal the oracle's closed form — an ML query with a SQL oracle."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    data = make_sum_dataset(spark)
    train = VectorAssembler(inputCols=["a", "b"], outputCol="features").transform(
        data.withColumn("label", F.col("a") + F.col("b"))
    )
    model = LinearRegression(solver="normal", regParam=0.0).fit(train)
    preds = model.transform(train).filter(F.col("id") < 20)
    return preds.select(
        "id",
        F.round("a", 4).alias("a"),
        F.round("b", 4).alias("b"),
        F.round("prediction", 4).alias("prediction"),
    )


# ---------------------------------------------------------------------------
# ML1: sentiment-style binary text classification
# ---------------------------------------------------------------------------
@register(
    "ml_sentiment_tfidf_logreg",
    oracle=None,  # iterative fit; rows-only (metric asserted in tests/test_ml.py)
    tags=("ml", "text"),
)
def ml_sentiment_tfidf_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML1 capability (PredictCommentsUsingRNNAndWord2Vec.java:94-113, re-based
    on MLlib): tokenize → HashingTF → IDF → LogisticRegression. Binary label
    derived deterministically (lang='en' — FIXTURES.md note replaces the
    pos/neg path label)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, IDF, RegexTokenizer

    d = load_table(spark, sf_dir, "documents").withColumn(
        "label", (F.col("lang") == "en").cast("double")
    )
    pipe = Pipeline(
        stages=[
            RegexTokenizer(inputCol="text", outputCol="tokens", pattern="[^a-z0-9]+", gaps=True),
            HashingTF(inputCol="tokens", outputCol="tf", numFeatures=1 << 12),
            IDF(inputCol="tf", outputCol="features"),
            LogisticRegression(maxIter=20, regParam=0.01),
        ]
    )
    model = pipe.fit(d)
    return model.transform(d).select("doc_id", "label", "prediction")


def sequence_task_dataset(spark: SparkSession, sf_dir: str):
    """The order-encoded sentiment task: docs containing both 'fast' and
    'slow'; label = 1 iff 'fast' occurs BEFORE 'slow'.  The label depends
    ONLY on token order — a bag-of-words model is blind to it by
    construction, which is exactly the property the reference's LSTM
    sentiment pipeline (`PredictCommentsUsingRNNAndWord2Vec.java:94-113`)
    exists to capture (word order: "good, not bad" vs "bad, not good")."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return (
        d.select("doc_id", "text", toks.alias("toks"))
        .withColumn("p_fast", F.array_position("toks", F.lit("fast")))
        .withColumn("p_slow", F.array_position("toks", F.lit("slow")))
        .filter((F.col("p_fast") > 0) & (F.col("p_slow") > 0))
        .withColumn("label", (F.col("p_fast") < F.col("p_slow")).cast("double"))
    )


def _positional_features(df, vocab: list[str]):
    """Sequence features, all JVM-side: normalized FIRST-OCCURRENCE
    position of each vocab token (0 when absent).  This is a positional
    encoding of the sequence — the minimal Spark-native stand-in for what
    an RNN reads — with no Python in the pipeline."""
    n = F.size("toks").cast("double")
    pos = F.array(
        *[(F.array_position("toks", F.lit(w)) / n).alias(f"p_{i}") for i, w in enumerate(vocab)]
    )
    return df.withColumn("posf", pos)


@register(
    "ml_sentiment_sequence",
    oracle=None,  # iterative fit; accuracy gap asserted in tests/test_ml.py
    tags=("ml", "text", "sequence"),
)
def ml_sentiment_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML1 mechanism parity (sequence-aware sentiment): on the
    order-encoded label, logistic regression over positional-encoding
    features learns what TF-IDF cannot (tests/test_ml.py pins the gap:
    this model >= 0.9 accuracy, the bag-of-words twin ~ chance).

    Vocabulary is learned from the corpus (top tokens by count) —
    KB-sized, driver-held, inlined into the JVM expression; the feature
    build is one narrow projection, no shuffle, no UDF."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import CountVectorizer, RegexTokenizer
    from pyspark.ml.functions import array_to_vector

    data = sequence_task_dataset(spark, sf_dir)
    cv = CountVectorizer(inputCol="toks", outputCol="cnt", vocabSize=40).fit(
        data.select("toks")
    )
    feats = _positional_features(data, list(cv.vocabulary)).select(
        "doc_id", "label", array_to_vector("posf").alias("features")
    )
    train, test = feats.randomSplit([0.7, 0.3], seed=SEED)
    # L1 (lasso) zeroes the ~38 noise-position features and keeps the two
    # informative ones — measured 0.976 test accuracy vs 0.88 for ridge.
    model = LogisticRegression(maxIter=200, regParam=0.01, elasticNetParam=1.0).fit(train)
    return model.transform(test).select("doc_id", "label", "prediction")


# ---------------------------------------------------------------------------
# ML2: PCA-bottleneck anomaly detection (the MLlib twin of anomaly_best_worst)
# ---------------------------------------------------------------------------
@register(
    "ml_anomaly_pca",
    oracle=None,  # SVD sign/rotation not engine-portable; rows-only
    tags=("ml", "anomaly", "flagship"),
)
def ml_anomaly_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML2 capability (MNISTAnomalyDetector.java:91-109): low-dim bottleneck
    + reconstruction error, per-label best/worst-5 (W1). PCA(k=8) replaces
    the 784→10→784 autoencoder; score_i = ||x - recon(x)||².

    Reconstruction = mean + W·(Wᵀ·(x-mean)) computed JVM-side: W (64×8) is
    tiny, so it ships as literal arrays and the whole score is one
    aggregate-fold expression — no Python in the hot path."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", "label", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = PCA(k=8, inputCol="features", outputCol="pc").fit(vecs)
    pc = model.pc.toArray()  # 64 x 8
    mean = [row for row in model.mean.toArray()] if hasattr(model, "mean") else None

    # Spark's PCA does not center; projection uses raw x. recon = W @ (W.T @ x)
    dim, k = pc.shape
    w_cols = [F.lit([float(pc[i][j]) for i in range(dim)]).cast("array<double>") for j in range(k)]
    x = F.col("embedding").cast("array<double>")

    def _dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v)

    projs = [_dot(x, w) for w in w_cols]  # k scalars
    # recon_i = sum_j W[i][j] * proj_j  →  build as sum of scaled columns
    recon = F.transform(w_cols[0], lambda v: v * projs[0])
    for j in range(1, k):
        recon = F.zip_with(recon, F.transform(w_cols[j], lambda v: v * projs[j]), lambda p, q: p + q)
    score = F.round(
        F.aggregate(F.zip_with(x, recon, lambda p, q: (p - q) * (p - q)), F.lit(0.0), lambda a, v: a + v),
        4,
    )
    scored = vecs.select("vec_id", "label").join(
        e.select("vec_id", score.alias("score")), "vec_id"
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


# ---------------------------------------------------------------------------
# ML3: multiclass classification (MLP standing in for the LeNet CNN)
# ---------------------------------------------------------------------------
@register(
    "ml_mlp_confusion",
    oracle=None,  # iterative fit; rows-only
    tags=("ml", "classify"),
)
def ml_mlp_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML3 capability (MnistClassification.java:90-137): 10-class classifier
    + confusion matrix (A7). MLP [64, 32, 10] on the embeddings table;
    returns groupBy(label, prediction).count() — the confusion matrix as a
    DataFrame, computed distributed (never collected per-class like
    MNISTAnomalyDetector.java:184-198)."""
    from pyspark.ml.classification import MultilayerPerceptronClassifier
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    train, test = vecs.randomSplit([0.8, 0.2], seed=SEED)
    mlp = MultilayerPerceptronClassifier(layers=[64, 32, 10], maxIter=30, seed=SEED)
    model = mlp.fit(train)
    return (
        model.transform(test)
        .groupBy("label", "prediction")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# ML5 + U3: MinMaxScaler semantics, SQL-deterministic (oracle-checked)
# ---------------------------------------------------------------------------
@register(
    "minmax_scaled_features",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               round((l_quantity - min(l_quantity) OVER ())
                     / (max(l_quantity) OVER () - min(l_quantity) OVER ()), 6) AS qty_scaled,
               round((l_extendedprice - min(l_extendedprice) OVER ())
                     / (max(l_extendedprice) OVER () - min(l_extendedprice) OVER ()), 6) AS price_scaled
        FROM lineitem
    """,
    tags=("ml", "feature"),
)
def minmax_scaled_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML5 semantics (ImagePreProcessingScaler / MinMaxScaler: x' =
    (x-min)/(max-min)) as a pure plan: one global extrema aggregate
    broadcast back onto the scan. (An unpartitioned window would funnel
    every row through a single task at scale; the 1-row crossJoin keeps the
    projection fully parallel.) The MLlib-estimator form is exercised in
    tests/test_ml.py."""
    li = load_table(spark, sf_dir, "lineitem")
    extrema = li.agg(
        F.min("l_quantity").alias("q_mn"),
        F.max("l_quantity").alias("q_mx"),
        F.min("l_extendedprice").alias("p_mn"),
        F.max("l_extendedprice").alias("p_mx"),
    )
    return li.crossJoin(F.broadcast(extrema)).select(
        "l_orderkey",
        "l_linenumber",
        F.round((F.col("l_quantity") - F.col("q_mn")) / (F.col("q_mx") - F.col("q_mn")), 6).alias(
            "qty_scaled"
        ),
        F.round(
            (F.col("l_extendedprice") - F.col("p_mn")) / (F.col("p_mx") - F.col("p_mn")), 6
        ).alias("price_scaled"),
    )


# ---------------------------------------------------------------------------
# chapter-6: hyperparameter sweep via TrainValidationSplit
# ---------------------------------------------------------------------------
@register(
    "ml_param_sweep",
    oracle=None,  # iterative fits; rows-only
    tags=("ml", "tuning"),
)
def ml_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapter-6 experiment shape (SumNumberOfIterations.java:34-48: sweep a
    hyperparameter, compare fit quality): ParamGridBuilder over regParam ×
    TrainValidationSplit on the regression task; returns (regParam, rmse)."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression
    from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit

    data = VectorAssembler(inputCols=["a", "b"], outputCol="features").transform(
        make_sum_dataset(spark).withColumn("label", F.col("a") + F.col("b"))
    )
    lr = LinearRegression(solver="normal")
    grid = ParamGridBuilder().addGrid(lr.regParam, [0.0, 0.1, 1.0]).build()
    tvs = TrainValidationSplit(
        estimator=lr,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(metricName="rmse"),
        trainRatio=0.8,
        seed=SEED,
    )
    model = tvs.fit(data)
    rows = [
        (float(pm[lr.regParam]), float(m))
        for pm, m in zip(grid, model.validationMetrics)
    ]
    return local_frame(spark, rows, "regParam double, rmse double").select(
        "regParam", F.round("rmse", 6).alias("rmse")
    )


# ---------------------------------------------------------------------------
# chapter-6 variant: k-fold cross-validation (the robust sweep form)
# ---------------------------------------------------------------------------
@register(
    "ml_cross_validation",
    oracle=None,  # iterative fits; rows-only
    tags=("ml", "tuning"),
)
def ml_cross_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-fold completion of the chapter-6 sweep: CrossValidator(3-fold,
    parallelism=4) over the same regParam grid. TrainValidationSplit
    (`ml_param_sweep`) is the single-split fast path; k-fold is what you
    run when the validation estimate itself must be low-variance. The grid
    points train CONCURRENTLY (parallelism) — each fit is a distributed
    job, so the cluster pipelines folds × grid instead of serializing
    them."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    data = VectorAssembler(inputCols=["a", "b"], outputCol="features").transform(
        make_sum_dataset(spark).withColumn("label", F.col("a") + F.col("b"))
    )
    lr = LinearRegression(solver="normal")
    grid = ParamGridBuilder().addGrid(lr.regParam, [0.0, 0.1, 1.0]).build()
    cv = CrossValidator(
        estimator=lr,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(metricName="rmse"),
        numFolds=3,
        parallelism=4,
        seed=SEED,
    )
    model = cv.fit(data)
    rows = [
        (float(pm[lr.regParam]), float(m)) for pm, m in zip(grid, model.avgMetrics)
    ]
    return local_frame(spark, rows, "regParam double, avg_rmse double").select(
        "regParam", F.round("avg_rmse", 6).alias("avg_rmse")
    )


# ---------------------------------------------------------------------------
# [EXT] KMeans coarse quantizer (the trained IVF cell assignment)
# ---------------------------------------------------------------------------
@register(
    "ml_kmeans_cells",
    oracle=None,  # iterative clustering; rows-only
    tags=("ml", "similarity", "ivf"),
)
def ml_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans(k=16) over embeddings: the trained coarse quantizer behind a
    real IVF index (ann_ivf_by_label uses the label column as a stand-in;
    this trains actual cells). Returns cell sizes + intra-cell cost."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=16, seed=SEED, maxIter=20).fit(vecs)
    return (
        model.transform(vecs)
        .groupBy(F.col("prediction").alias("cell_id"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


# ---------------------------------------------------------------------------
# [EXT] tree-ensemble classifier over engineered text features
# ---------------------------------------------------------------------------
@register(
    "ml_gbt_quality",
    oracle=None,  # iterative boosting; rows-only
    tags=("ml", "classify", "text"),
)
def ml_gbt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GBTClassifier predicting the deterministic quality gate from the
    engineered text features (the learned twin of text_quality's rule) —
    rounds out the model family beyond linear/MLP."""
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.feature import VectorAssembler

    from ..functions.text import text_quality

    feats = text_quality(spark, sf_dir)
    data = VectorAssembler(
        inputCols=["n_chars_measured", "n_words", "digit_ratio", "punct_ratio", "stopword_ratio"],
        outputCol="features",
    ).transform(feats.withColumn("label", F.col("quality_pass").cast("double")))
    model = GBTClassifier(maxIter=10, maxDepth=3, seed=SEED).fit(data)
    return model.transform(data).select("doc_id", "label", "prediction")


# ---------------------------------------------------------------------------
# ML1 embedding step: distributed Word2Vec (the course's pretrained table,
# trained in-engine)
# ---------------------------------------------------------------------------
def word2vec_doc_vectors_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2Vec trained on the corpus (replaces the downloaded GoogleNews
    table, S12/J1); transform = per-document mean of token vectors — the
    same averaging the sentiment pipeline needs.  Internal builder: keeps
    the raw ``docvec`` VectorUDT column for unit tests."""
    from pyspark.ml.feature import RegexTokenizer, Word2Vec

    d = load_table(spark, sf_dir, "documents")
    tok = RegexTokenizer(inputCol="text", outputCol="tokens", pattern="[^a-z0-9]+", gaps=True)
    toks = tok.transform(d)
    w2v = Word2Vec(vectorSize=16, minCount=2, seed=SEED, inputCol="tokens", outputCol="docvec")
    model = w2v.fit(toks)
    return model.transform(toks).select("doc_id", "docvec")


@register(
    "ml_word2vec_doc_vectors",
    oracle=None,  # stochastic embedding training; rows-only
    tags=("ml", "text", "embedding"),
)
def ml_word2vec_doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: per-document vector norm + sha256 digest of the
    rounded vector (raw VectorUDT cells are unsortable in the driver's
    pandas canonicalizer, CORRECTNESS_r04)."""
    from pyspark.ml.functions import vector_to_array

    from ..functions.arrays import dot, float_array_sig

    arr = vector_to_array(F.col("docvec"))
    return word2vec_doc_vectors_df(spark, sf_dir).select(
        "doc_id",
        F.lit(16).alias("dim"),
        F.round(F.sqrt(dot(arr, arr)), 6).alias("docvec_norm"),
        float_array_sig(arr, decimals=5).alias("docvec_sig"),
    )


# ---------------------------------------------------------------------------
# [EXT r3] FP-Growth market-basket mining — itemsets of size <=2 are exact
# SQL, so MLlib's answer is hash-checked against DuckDB
# ---------------------------------------------------------------------------
# Support threshold SCALES with the corpus: max(floor, ceil(n_baskets *
# NUM/DEN)). An absolute threshold (r1-r5: 3) made the qualifying pattern
# count grow with the data (measured 5.77× wall at 10× — the worst ratio in
# SCALE.md), because 10× more baskets means 10× more items crossing a fixed
# bar. A relative bar keeps "frequent" meaning the same fraction of the
# corpus at any SF, so output (and mining work) stays scale-stable.
# Integer arithmetic only — ceil(n*2/10000) == (2n + 9999) // 10000 — so
# Spark (Python ints) and DuckDB (BIGINT) can never diverge on the bar.
FP_MIN_FLOOR = 3  # never below the r1-r5 absolute bar (tiny fixtures)
FP_FRAC_NUM, FP_FRAC_DEN = 2, 10000  # 0.02% of baskets


def _fp_min_count(n_baskets: int) -> int:
    return max(FP_MIN_FLOOR, (FP_FRAC_NUM * n_baskets + FP_FRAC_DEN - 1) // FP_FRAC_DEN)


@register(
    "ml_fpgrowth_item_pairs",
    oracle=f"""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (
          SELECT greatest({FP_MIN_FLOOR},
                          ({FP_FRAC_NUM} * count(DISTINCT l_orderkey) + {FP_FRAC_DEN - 1})
                            // {FP_FRAC_DEN}) AS min_count
          FROM items
        ),
        singles AS (
          SELECT l_partkey AS item_a, CAST(NULL AS BIGINT) AS item_b,
                 CAST(count(*) AS BIGINT) AS freq
          FROM items GROUP BY l_partkey
          HAVING count(*) >= (SELECT min_count FROM n)
        ),
        pairs AS (
          SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
                 CAST(count(*) AS BIGINT) AS freq
          FROM items a JOIN items b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= (SELECT min_count FROM n)
        )
        SELECT * FROM singles UNION ALL SELECT * FROM pairs
    """,
    doc="FP-Growth frequent itemsets over order baskets with corpus-scaled support; size<=2 sets hash-checked vs exact SQL.",
    tags=("ml", "mining", "ext", "scale"),
)
def ml_fpgrowth_item_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining with MLlib FPGrowth over per-order part
    baskets. FP-Growth is exact (not sampled), so its size-1/size-2
    itemsets must equal the brute-force SQL counts — a rare chance to
    hash-check an MLlib algorithm end-to-end. Larger itemsets exist in the
    model; the query projects the SQL-expressible slice.

    Scale shape: basket build is one collect_set hash-agg on l_orderkey;
    FP-Growth itself is the distributed PFP algorithm (items partitioned
    by frequency-list suffix), which is the published way to mine 100 TB
    of baskets. Two growth bounds (r6):

    - minSupport is RELATIVE (`_fp_min_count`: 0.02% of baskets, floored
      at 3), so the qualifying pattern space no longer grows with the
      corpus the way a fixed absolute bar did.
    - baskets are pre-trimmed to support-passing items before the fit —
      the classic Apriori prefilter. Exact-equivalent (every item of a
      frequent itemset is itself frequent, so no frequent itemset is
      lost) but it bounds FP-tree width by the frequent-item vocabulary.
      The ML-API FPGrowth exposes no maxPatternLength knob (checked:
      minSupport/minConfidence/itemsCol/predictionCol/numPartitions
      only), so this prefilter is the available pattern-space control.
    """
    from pyspark.ml.fpm import FPGrowth

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_baskets = items.select("l_orderkey").distinct().count()
    if n_baskets == 0:
        # partition-pruned-to-nothing case: no baskets -> no itemsets
        return local_frame(spark, [], "item_a bigint, item_b bigint, freq bigint")
    min_count = _fp_min_count(n_baskets)
    # Apriori prefilter: keep only items that individually clear the bar.
    freq_items = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("item_freq"))
        .filter(F.col("item_freq") >= min_count)
        .select("l_partkey")
    )
    baskets = (
        items.join(freq_items, "l_partkey", "left_semi")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("items"))
    )
    # The prefilter DROPS baskets left with zero frequent items, and
    # FPGrowth turns minSupport into an absolute bar by multiplying by ITS
    # input row count — so the fraction must be relative to the trimmed
    # count, or the bar silently drops below min_count and admits pairs
    # the oracle rejects. (Dropped baskets contribute to no itemset's
    # freq, so the counts themselves are unaffected.)
    n_trimmed = baskets.count()
    if n_trimmed == 0:
        return local_frame(spark, [], "item_a bigint, item_b bigint, freq bigint")
    fp = FPGrowth(
        itemsCol="items",
        # ceil(minSupport * n) == min_count: nudge below the exact
        # fraction so float rounding can't push the threshold to +1.
        minSupport=(min_count - 0.5) / n_trimmed,
        minConfidence=0.5,
    )
    model = fp.fit(baskets)
    sets = model.freqItemsets.filter(F.size("items") <= 2)
    return sets.select(
        F.array_min("items").alias("item_a"),
        F.when(F.size("items") == 2, F.array_max("items")).alias("item_b"),
        F.col("freq").cast("long").alias("freq"),
    )


# ---------------------------------------------------------------------------
# [EXT r3] ALS implicit-feedback recommender (the remaining MLlib pillar)
# ---------------------------------------------------------------------------
@register(
    "ml_als_recommend",
    oracle=None,  # iterative factorization; rows-only + affinity tests
    doc="Implicit-feedback ALS over (user, event_type) interaction counts; top-2 types per user.",
    tags=("ml", "recommend", "ext"),
)
def ml_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collaborative filtering on the events log: interaction strength =
    per-(user, event_type) count, ALS with implicitPrefs learns latent
    factors, and each user gets their top-2 event types by predicted
    affinity. This is the canonical 100 TB recommender shape: ALS is the
    one MLlib algorithm designed around block-partitioned matrix
    factorization (user/item blocks shuffle only factor vectors, never the
    ratings triple-product).

    Determinism: fixed seed + fixed blocking; rows-only at the driver.
    Honesty note: the fixture's events are uniform across types, so
    per-user discrimination is noise by construction — this query proves
    the pipeline shape; the factorization *mechanism* is verified on a
    blocked preference matrix in tests/test_ml.py::
    test_als_recovers_block_preference_structure.
    """
    from pyspark.ml.recommendation import ALS

    e = load_table(spark, sf_dir, "events")
    type_ids = F.create_map(
        *[
            x
            for i, t in enumerate(["click", "view", "purchase", "signup", "error"])
            for x in (F.lit(t), F.lit(i))
        ]
    )
    ratings = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("float").alias("strength"))
        .select(
            F.col("user_id").cast("int").alias("user"),
            type_ids[F.col("event_type")].cast("int").alias("item"),
            "strength",
        )
    )
    als = ALS(
        rank=4,
        maxIter=8,
        regParam=0.1,
        implicitPrefs=True,
        alpha=10.0,
        seed=SEED,
        userCol="user",
        itemCol="item",
        ratingCol="strength",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    recs = model.recommendForAllUsers(2)
    return recs.select(
        F.col("user").cast("long").alias("user_id"),
        F.posexplode("recommendations").alias("rank_idx", "rec"),
    ).select(
        "user_id",
        (F.col("rank_idx") + 1).cast("long").alias("rnk"),
        F.col("rec.item").cast("long").alias("event_type_id"),
        F.round(F.col("rec.rating").cast("double"), 4).alias("affinity"),
    )


# ---------------------------------------------------------------------------
# [EXT r6] Gradient-boosted trees: the nonlinear-regression pillar
# ---------------------------------------------------------------------------
GBT_N = 4000
GBT_SEED = 42


@register(
    "ml_gbt_regression",
    oracle=None,  # iterative boosted ensemble; R² pinned in tests
    doc="GBTRegressor on a deterministic nonlinear target (product + step): distributed histogram split-finding, hash-split train/test, held-out R² reported.",
    tags=("ml", "regression", "ext"),
)
def ml_gbt_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonlinear regression with MLlib gradient-boosted trees — the tree
    ensemble the chapter-5 linear `ml_regression_sum` can't represent:
    y = a·b + 10·[a > 5] (multiplicative interaction + a step). The
    reference's regression chapters sweep layer sizes on a dense net
    (chapter_5/...Regression.java:62-84); GBT is the Spark-native model
    family that learns such targets without feature engineering.

    Determinism: features derive from `spark.range` ids (exact rationals),
    the train/test split is a hash split (xxhash64 % 5 — no RNG), and the
    fit is seeded. Held-out R² ≥ 0.9 is pinned in tests/test_r6_new_ops.py
    — trees must actually capture the interaction, a linear fit caps at
    ~0.85 on this target.

    Scale: MLlib GBT finds splits from per-feature HISTOGRAMS aggregated
    across partitions (map-side-combinable, like every agg in this repo) —
    rows never leave their executor; depth×iters drives cost, not n.
    """
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor

    base = spark.range(GBT_N).select(
        "id",
        (((F.col("id") * 7) % 100) / 10.0).alias("a"),
        (((F.col("id") * 13) % 80) / 8.0).alias("b"),
    )
    data = base.select(
        "id",
        "a",
        "b",
        (
            F.col("a") * F.col("b")
            + F.when(F.col("a") > 5.0, F.lit(10.0)).otherwise(F.lit(0.0))
        ).alias("label"),
    )
    feat = VectorAssembler(inputCols=["a", "b"], outputCol="features").transform(data)
    test_bucket = F.pmod(F.xxhash64("id"), F.lit(5)) == 0  # 20% held out
    train, test = feat.filter(~test_bucket), feat.filter(test_bucket)
    model = GBTRegressor(
        maxDepth=5, maxIter=20, seed=GBT_SEED, stepSize=0.2
    ).fit(train)
    pred = model.transform(test)
    r2 = RegressionEvaluator(metricName="r2").evaluate(pred)
    rmse = RegressionEvaluator(metricName="rmse").evaluate(pred)
    return local_frame(
        spark,
        [
            (
                int(train.count()),
                int(test.count()),
                float(round(r2, 4)),
                float(round(rmse, 4)),
                int(model.getNumTrees),
            )
        ],
        "n_train long, n_test long, r2 double, rmse double, n_trees long",
    )


# ---------------------------------------------------------------------------
# [EXT r6] K-fold cross-validated regularization sweep (chapter-6 shape)
# ---------------------------------------------------------------------------
@register(
    "ml_crossval_ridge",
    oracle=None,  # K-fold model selection; best-param + R² pinned in tests
    doc="CrossValidator (3-fold) regularization sweep over ridge regression on a noisy linear target — the chapter-6 hyperparameter sweep as K-fold model selection instead of a single validation split.",
    tags=("ml", "regression", "sweep", "ext"),
)
def ml_crossval_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chapter-6 hyperparameter sweep (ChangeAmountOfHiddenLayers /
    ...Regression.java:62-84 sweeps configs against ONE validation split)
    upgraded to K-FOLD cross-validation — MLlib's CrossValidator trains
    folds × params models in parallel and averages fold metrics, the
    variance-reduced selection a single split can't give.

    Target: y = 3a - 2b + deterministic pseudo-noise (integer-derived, no
    RNG). With informative features and mild noise, the smallest
    regParam in the grid must win (pinned in tests) — shrinking real
    coefficients only hurts; the sweep exists to SHOW that, not to tune.

    Determinism: seeded CrossValidator, hash-derived noise, fixed grid.
    Scale: folds × params fits are independent jobs over the same cached
    input; MLlib parallelizes them with `parallelism=4`; each normal-
    equations fit is one pass (map-side gram matrix).
    """
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    base = spark.range(3000).select(
        "id",
        (((F.col("id") * 7) % 100) / 10.0).alias("a"),
        (((F.col("id") * 13) % 80) / 8.0).alias("b"),
    )
    noise = ((F.pmod(F.xxhash64("id"), F.lit(1000)) / 1000.0) - 0.5).alias("noise")
    data = base.select(
        "id",
        "a",
        "b",
        (3.0 * F.col("a") - 2.0 * F.col("b") + noise).alias("label"),
    )
    feat = VectorAssembler(inputCols=["a", "b"], outputCol="features").transform(data)
    # CrossValidator's fold assignment (MLUtils.kFold) samples per
    # PARTITION with a partition-index-derived seed, so fold membership —
    # and therefore avgMetrics — depends on the physical layout the input
    # happens to arrive with (SURVEY §7.4 #2: per-partition-deterministic
    # but repartition-sensitive). Under a long shared-session pytest run
    # the layout can shift and break the monotonic-RMSE pin (r6 verdict
    # "What's wrong" #1). Pin it: hash-partition on id and sort within
    # partitions so every call sees byte-identical fold membership.
    feat = feat.repartition(4, "id").sortWithinPartitions("id")
    lr = LinearRegression(solver="normal", elasticNetParam=0.0)
    grid = (
        ParamGridBuilder().addGrid(lr.regParam, [0.01, 1.0, 100.0]).build()
    )
    cv = CrossValidator(
        estimator=lr,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(metricName="rmse"),
        numFolds=3,
        parallelism=4,
        seed=SEED,
    )
    model = cv.fit(feat)
    best_reg = model.bestModel.getRegParam()
    rows = [
        (float(g[lr.regParam]), float(round(m, 4)), bool(g[lr.regParam] == best_reg))
        for g, m in zip(grid, model.avgMetrics)
    ]
    return local_frame(spark, rows, "reg_param double, avg_rmse double, is_best boolean")


# ---------------------------------------------------------------------------
# [EXT r7] PrefixSpan sequential pattern mining — the ORDER-aware sibling
# of FP-Growth (frequent itemsets ignore sequence; these patterns don't).
# ---------------------------------------------------------------------------
PSPAN_MIN_FRAC = 0.3  # pattern must appear in >= 30% of user sequences


@register(
    "ml_prefixspan_event_paths",
    oracle=f"""
        WITH nu AS (
          SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events
        ),
        len1 AS (
          SELECT event_type AS pat_a, CAST(NULL AS VARCHAR) AS pat_b,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          FROM events GROUP BY event_type
        ),
        len2 AS (
          SELECT pat_a, pat_b, CAST(count(*) AS BIGINT) AS n_users FROM (
            SELECT DISTINCT e1.user_id, e1.event_type AS pat_a,
                   e2.event_type AS pat_b
            FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
             AND (e1.ts < e2.ts OR (e1.ts = e2.ts AND e1.event_id < e2.event_id))
          ) GROUP BY pat_a, pat_b
        )
        SELECT pat_a, pat_b, n_users
        FROM (SELECT * FROM len1 UNION ALL SELECT * FROM len2), nu
        WHERE n_users >= greatest(3, CAST(ceil(nu.n * {PSPAN_MIN_FRAC}) AS BIGINT))
    """,
    doc=f"PrefixSpan frequent sequential patterns (length <= 2) over per-user event-type sequences, support >= {PSPAN_MIN_FRAC} of users — the order-aware pattern miner, hash-checked against an EXISTS-pair SQL oracle.",
    tags=("ml", "fpm", "sequence", "ext", "scale"),
)
def ml_prefixspan_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining (Pei et al., "PrefixSpan", ICDE'01) on the
    event log: which event-type PATHS (view → purchase, not just
    {view, purchase}) are common across users. FP-Growth
    (`ml_fpgrowth_item_pairs`) answers the unordered question; this is the
    ordered one — the distinction the reference's chapter-2 thesis (word
    ORDER carries signal an unordered bag loses) makes for ML features,
    applied to behavioral data.

    Hash-checkable because at maxPatternLength=2 the pattern language has
    an exact SQL semantics: a user supports <a,b> iff an a-event precedes
    a b-event in their (ts, event_id)-ordered stream; support counts are
    plain distinct-user counts. The MLlib fit must therefore agree with
    the EXISTS-pair oracle row for row — an ML pillar with a real oracle
    (like ml_regression_sum's closed form, unlike the rows-only fits).

    minSupport is corpus-relative (the FP-Growth r6 lesson) with the
    (min_count - 0.5)/n nudge so float rounding can't shift the bar.

    Scale: PrefixSpan distributes by projected-database partitioning —
    each frequent prefix's projection is mined independently; sequences
    are built with one per-user sort (collect_list + array_sort, state ∝
    a user's own events). maxPatternLength=2 bounds the search like the
    Apriori prefilter bounds FP-tree width.
    """
    from pyspark.ml.fpm import PrefixSpan

    e = load_table(spark, sf_dir, "events")
    n_users = e.select("user_id").distinct().count()
    if n_users == 0:
        return local_frame(spark, [], "pat_a string, pat_b string, n_users long")
    min_count = max(3, -(-n_users * PSPAN_MIN_FRAC // 1))  # ceil
    if min_count > n_users:
        # The absolute floor (3 users) is unreachable on this corpus: no
        # pattern can qualify, and PrefixSpan rejects minSupport > 1
        # (fuzz-found on a 1-user series) — same contract as the oracle's
        # n_users >= greatest(3, ...) returning zero rows.
        return local_frame(spark, [], "pat_a string, pat_b string, n_users long")
    seqs = (
        e.select(
            "user_id", F.struct("ts", "event_id", "event_type").alias("ev")
        )
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("ev")), lambda x: F.array(x["event_type"])
            ).alias("sequence")
        )
        .select("sequence")
    )
    ps = PrefixSpan(
        minSupport=(min_count - 0.5) / n_users,
        maxPatternLength=2,
        sequenceCol="sequence",
    )
    pats = ps.findFrequentSequentialPatterns(seqs)
    return pats.select(
        F.col("sequence")[0][0].alias("pat_a"),
        # try_element_at: ANSI element_at THROWS on the length-1 patterns
        # (the r3 fuzz lesson — ANSI element_at on token-less docs)
        F.try_element_at("sequence", F.lit(2))[0].alias("pat_b"),
        F.col("freq").cast("long").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# [EXT r8] Closed-form K-fold ridge sweep — the hash-checked twin of
# ml_crossval_ridge (r7 verdict #5): the CrossValidator MECHANISM is
# rows-only by nature, but the MATH it runs (normal-equations ridge,
# fold-averaged RMSE, smallest-lambda-wins ordering) is exactly
# DuckDB-expressible when every moment is an integer and every double
# operation is the same IEEE expression tree in both engines.
# ---------------------------------------------------------------------------
RIDGE_N = 3000
RIDGE_FOLDS = 3
RIDGE_GRID = (1.0, 1e5, 1e9)  # scaled-design penalties: monotone RMSE split
# Portable pseudo-noise: the proven Lehmer constants (setops.py — Fishman-
# Moore multiplier, wraps hard for sequential ids; see the r7 KMV lesson).
from ..operators.setops import SAMPLE_P as _RP  # noqa: E402
from ..operators.setops import TAKESAMPLE_A as _RA  # noqa: E402
from ..operators.setops import TAKESAMPLE_C as _RC  # noqa: E402

# Shared per-step expression templates — used VERBATIM by both the Spark
# selectExpr and the DuckDB oracle, so each named step is the identical
# IEEE expression tree over identical doubles; +,-,*,/ and sqrt are all
# correctly rounded, so the two engines' results are bit-identical (no
# libm transcendental anywhere — the bigram-perplexity ln lesson applied
# preemptively).  Column vocabulary: test-fold integer moments
# n,sa,sb,sy,saa,sbb,sab,say,sby,syy; train moments tn,ta,tb,ty,taa,tbb,
# tab,tay,tby (= total minus test, exact BIGINT subtractions); lam DOUBLE.
RIDGE_DBL = {
    "dn": "CAST(tn AS DOUBLE)",
    "da": "CAST(ta AS DOUBLE)",
    "db": "CAST(tb AS DOUBLE)",
    "dy": "CAST(ty AS DOUBLE)",
    "m22": "(CAST(taa AS DOUBLE) + lam)",
    "m23": "CAST(tab AS DOUBLE)",
    "m33": "(CAST(tbb AS DOUBLE) + lam)",
    "r1": "CAST(tay AS DOUBLE)",
    "r2": "CAST(tby AS DOUBLE)",
}
RIDGE_DET = "dn*(m22*m33 - m23*m23) - da*(da*m33 - m23*db) + db*(da*m23 - m22*db)"
RIDGE_D0 = "dy*(m22*m33 - m23*m23) - da*(r1*m33 - m23*r2) + db*(r1*m23 - m22*r2)"
RIDGE_D1 = "dn*(r1*m33 - r2*m23) - dy*(da*m33 - m23*db) + db*(da*r2 - r1*db)"
RIDGE_D2 = "dn*(m22*r2 - r1*m23) - da*(da*r2 - r1*db) + dy*(da*m23 - m22*db)"
RIDGE_SSE = (
    "CAST(syy AS DOUBLE) + CAST(n AS DOUBLE)*b0*b0"
    " + b1*b1*CAST(saa AS DOUBLE) + b2*b2*CAST(sbb AS DOUBLE)"
    " - 2*b0*CAST(sy AS DOUBLE) - 2*b1*CAST(say AS DOUBLE)"
    " - 2*b2*CAST(sby AS DOUBLE) + 2*b0*b1*CAST(sa AS DOUBLE)"
    " + 2*b0*b2*CAST(sb AS DOUBLE) + 2*b1*b2*CAST(sab AS DOUBLE)"
)
RIDGE_RMSE_MICRO = "CAST(floor(sqrt(sse / CAST(n AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)"

# Integer design shared by both engines: xa = (id*7) % 100, xb =
# (id*13) % 80, y = 300*xa - 250*xb + (lehmer-style pseudo-noise
# ((id % p)*a + c) % p % 1000 - 500) — every moment a BIGINT sum,
# order-independent; folds are id % RIDGE_FOLDS.
_RIDGE_PTS_COLS = tuple(
    s.format(folds=RIDGE_FOLDS, p=_RP, a=_RA, c=_RC)
    for s in (
        "id % {folds} AS fold",
        "CAST((id * 7) % 100 AS BIGINT) AS xa",
        "CAST((id * 13) % 80 AS BIGINT) AS xb",
        "CAST(300 * ((id * 7) % 100) - 250 * ((id * 13) % 80)"
        " + ((id % {p}) * {a} + {c}) % {p} % 1000 - 500 AS BIGINT) AS y",
    )
)
_RIDGE_PTS = ", ".join(_RIDGE_PTS_COLS)
_RIDGE_MOMENTS = (
    "CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(xa) AS BIGINT) AS sa, CAST(sum(xb) AS BIGINT) AS sb, "
    "CAST(sum(y) AS BIGINT) AS sy, "
    "CAST(sum(xa*xa) AS BIGINT) AS saa, CAST(sum(xb*xb) AS BIGINT) AS sbb, "
    "CAST(sum(xa*xb) AS BIGINT) AS sab, "
    "CAST(sum(xa*y) AS BIGINT) AS say, CAST(sum(xb*y) AS BIGINT) AS sby, "
    "CAST(sum(y*y) AS BIGINT) AS syy"
)
_RIDGE_DBL_SELECT = ", ".join(f"{v} AS {k}" for k, v in RIDGE_DBL.items())


@register(
    "ml_ridge_normal_eq",
    oracle=f"""
        WITH pts AS (
          SELECT {_RIDGE_PTS} FROM range({RIDGE_N}) AS t(id)
        ),
        fm AS (SELECT fold, {_RIDGE_MOMENTS} FROM pts GROUP BY fold),
        tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS gn,
                 CAST(sum(sa) AS BIGINT) AS ga, CAST(sum(sb) AS BIGINT) AS gb,
                 CAST(sum(sy) AS BIGINT) AS gy,
                 CAST(sum(saa) AS BIGINT) AS gaa,
                 CAST(sum(sbb) AS BIGINT) AS gbb,
                 CAST(sum(sab) AS BIGINT) AS gab,
                 CAST(sum(say) AS BIGINT) AS gay,
                 CAST(sum(sby) AS BIGINT) AS gby
          FROM fm
        ),
        grid AS (SELECT unnest(ARRAY[{", ".join(f"CAST({g} AS DOUBLE)" for g in RIDGE_GRID)}]) AS lam),
        tr AS (
          SELECT fm.*, lam,
                 gn - n AS tn, ga - sa AS ta, gb - sb AS tb, gy - sy AS ty,
                 gaa - saa AS taa, gbb - sbb AS tbb, gab - sab AS tab,
                 gay - say AS tay, gby - sby AS tby
          FROM fm CROSS JOIN tot CROSS JOIN grid
        ),
        dbl AS (SELECT tr.*, {_RIDGE_DBL_SELECT} FROM tr),
        dets AS (
          SELECT dbl.*, {RIDGE_DET} AS det, {RIDGE_D0} AS det0,
                 {RIDGE_D1} AS det1, {RIDGE_D2} AS det2
          FROM dbl
        ),
        betas AS (
          SELECT dets.*, det0/det AS b0, det1/det AS b1, det2/det AS b2
          FROM dets
        ),
        scored AS (
          SELECT lam, {RIDGE_SSE} AS sse, n FROM betas
        ),
        folds AS (
          SELECT lam, {RIDGE_RMSE_MICRO} AS rmse_micro FROM scored
        ),
        summed AS (
          SELECT lam AS reg_param,
                 CAST(sum(rmse_micro) AS DOUBLE) / {RIDGE_FOLDS}.0
                   AS avg_rmse_micro
          FROM folds GROUP BY lam
        )
        SELECT reg_param, avg_rmse_micro,
               avg_rmse_micro = min(avg_rmse_micro) OVER () AS is_best
        FROM summed
    """,
    doc="K-fold ridge regression solved in CLOSED FORM (normal equations via Cramer on integer-exact moment sums, shared IEEE expression templates) — the hash-checked twin of ml_crossval_ridge: same fold-averaged-RMSE model selection, zero iterative machinery.",
    tags=("ml", "regression", "sweep", "ext"),
)
def ml_ridge_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ml_crossval_ridge`'s deterministic sibling (r7 verdict #5): the
    CrossValidator MECHANISM (fold sampling, parallel fits) is rows-only
    by nature, so this twin pins the MATH it runs with a real SQL oracle
    — K-fold ridge on the same deterministic design, solved by normal
    equations, reporting the same fold-averaged RMSE ordering (smallest
    penalty wins on an informative linear target; RMSE monotone in
    lambda — pinned in tests/test_r8_fixes.py).

    Cross-engine exactness: the design is INTEGER (xa=(id*7)%100,
    xb=(id*13)%80, y=300*xa-250*xb plus bounded Lehmer-style
    pseudo-noise), so all ten per-fold moments
    are BIGINT sums — order-independent; train moments are total-minus-
    fold BIGINT subtractions (each training set's moments computed
    without a second pass — the K-fold trick at any scale); the 3x3
    Cramer solve, test-SSE expansion (SSE from moments alone — no
    per-row residual pass, no FP accumulation), and sqrt run through
    SHARED SQL templates so both engines evaluate the identical IEEE
    tree on identical doubles: +,-,*,/ and sqrt are correctly rounded,
    hence bit-identical results — no ln anywhere (the bigram-perplexity
    lesson applied preemptively).

    Scale: ONE map-side-combinable aggregate over the data produces the
    K x 10 moment table; everything after runs on K rows. At 100 TB the
    fit costs exactly one scan regardless of folds x grid size — the
    reason pipelines run closed-form sweeps where MLlib's CrossValidator
    would run folds x params full passes.

    Reference ancestry: chapter_6/SumNumberOfIterations.java:34 (the
    sweep-over-configs shape) and chapter_5's regression targets.
    """
    pts = spark.range(RIDGE_N).selectExpr(*_RIDGE_PTS_COLS)
    fm = pts.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xa").cast("long").alias("sa"),
        F.sum("xb").cast("long").alias("sb"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("saa"),
        F.sum(F.col("xb") * F.col("xb")).cast("long").alias("sbb"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sab"),
        F.sum(F.col("xa") * F.col("y")).cast("long").alias("say"),
        F.sum(F.col("xb") * F.col("y")).cast("long").alias("sby"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    tot = fm.agg(
        F.sum("n").cast("long").alias("gn"),
        F.sum("sa").cast("long").alias("ga"),
        F.sum("sb").cast("long").alias("gb"),
        F.sum("sy").cast("long").alias("gy"),
        F.sum("saa").cast("long").alias("gaa"),
        F.sum("sbb").cast("long").alias("gbb"),
        F.sum("sab").cast("long").alias("gab"),
        F.sum("say").cast("long").alias("gay"),
        F.sum("sby").cast("long").alias("gby"),
    )
    grid = local_frame(spark, [(g,) for g in RIDGE_GRID], "lam double")
    tr = (
        fm.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(grid))
        .selectExpr(
            "*",
            "gn - n AS tn",
            "ga - sa AS ta",
            "gb - sb AS tb",
            "gy - sy AS ty",
            "gaa - saa AS taa",
            "gbb - sbb AS tbb",
            "gab - sab AS tab",
            "gay - say AS tay",
            "gby - sby AS tby",
        )
    )
    dbl = tr.selectExpr("*", *(f"{v} AS {k}" for k, v in RIDGE_DBL.items()))
    dets = dbl.selectExpr(
        "*",
        f"{RIDGE_DET} AS det",
        f"{RIDGE_D0} AS det0",
        f"{RIDGE_D1} AS det1",
        f"{RIDGE_D2} AS det2",
    )
    betas = dets.selectExpr("*", "det0/det AS b0", "det1/det AS b1", "det2/det AS b2")
    scored = betas.selectExpr("lam", f"{RIDGE_SSE} AS sse", "n")
    folds = scored.selectExpr("lam", f"{RIDGE_RMSE_MICRO} AS rmse_micro")
    summed = folds.groupBy(F.col("lam").alias("reg_param")).agg(
        (F.sum("rmse_micro").cast("double") / float(RIDGE_FOLDS)).alias(
            "avg_rmse_micro"
        )
    )
    w = Window.partitionBy()
    return summed.select(
        "reg_param",
        "avg_rmse_micro",
        (F.col("avg_rmse_micro") == F.min("avg_rmse_micro").over(w)).alias("is_best"),
    )
