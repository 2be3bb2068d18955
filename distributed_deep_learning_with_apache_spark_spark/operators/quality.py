"""Data-quality constraint suite ([EXT]): the dbt/Deequ-style checks a
production pipeline runs before publishing a table.

Each constraint compiles to the cheapest plan that can prove it:
referential integrity is a LEFT ANTI join against the (broadcastable)
parent keys, uniqueness is a hash-agg HAVING count>1, null-rate and
domain checks are scan-stage conditional counts. The whole suite is one
DataFrame union so a scheduler runs it as a single job; every row is
(check_name, n_violations), and a clean table yields all zeros —
value-hash-checked against DuckDB, violations and all.

Scale posture: no constraint materializes violating ROWS (counts only),
anti-joins broadcast the parent-key side (keys, not rows), and the
conditional counts are map-side combinable — the suite costs ~one scan
per table at any size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table, local_frame


@register(
    "dq_constraint_checks",
    oracle="""
        SELECT 'orders_custkey_fk' AS check_name,
               CAST(count(*) FILTER (c.c_custkey IS NULL) AS BIGINT) AS n_violations,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'lineitem_orderkey_fk',
               CAST(count(*) FILTER (o.o_orderkey IS NULL) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'customer_custkey_unique',
               CAST(coalesce(sum(cnt - 1), 0) AS BIGINT),
               CAST(count(DISTINCT c_custkey) AS BIGINT)
        FROM (SELECT c_custkey, count(*) AS cnt FROM customer GROUP BY c_custkey)
        UNION ALL
        SELECT 'orders_totalprice_positive',
               CAST(count(*) FILTER (o_totalprice <= 0) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'lineitem_discount_domain',
               CAST(count(*) FILTER (l_discount < 0 OR l_discount > 1) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'documents_text_not_null',
               CAST(count(*) FILTER (text IS NULL OR length(text) = 0) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM documents
    """,
    doc="Data-quality suite: FK integrity, uniqueness, domain and null checks as one union of violation counts.",
    tags=("quality", "ext", "scale"),
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One job, six constraints, counts only (violating rows are never
    materialized). A publishing gate checks `n_violations == 0` per row."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    documents = load_table(spark, sf_dir, "documents")

    def counted(name: str, violations, total) -> DataFrame:
        return violations.select(
            F.lit(name).alias("check_name"),
            F.col("v").cast("long").alias("n_violations"),
            total.cast("long").alias("n_rows"),
        )

    o_fk = (
        orders.join(
            F.broadcast(customer.select("c_custkey")), orders.o_custkey == F.col("c_custkey"), "left"
        )
        .agg(
            F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("v"),
            F.count(F.lit(1)).alias("t"),
        )
    )
    l_fk = (
        lineitem.join(
            orders.select("o_orderkey"), lineitem.l_orderkey == F.col("o_orderkey"), "left"
        )
        .agg(
            F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("v"),
            F.count(F.lit(1)).alias("t"),
        )
    )
    uniq = (
        customer.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("v"),
            F.count(F.lit(1)).alias("t"),
        )
    )
    price = orders.agg(
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("v"), F.count(F.lit(1)).alias("t")
    )
    disc = lineitem.agg(
        F.count(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)).alias("v"),
        F.count(F.lit(1)).alias("t"),
    )
    txt = documents.agg(
        F.count(F.when(F.col("text").isNull() | (F.length("text") == 0), 1)).alias("v"),
        F.count(F.lit(1)).alias("t"),
    )
    parts = [
        counted("orders_custkey_fk", o_fk, F.col("t")),
        counted("lineitem_orderkey_fk", l_fk, F.col("t")),
        counted("customer_custkey_unique", uniq, F.col("t")),
        counted("orders_totalprice_positive", price, F.col("t")),
        counted("lineitem_discount_domain", disc, F.col("t")),
        counted("documents_text_not_null", txt, F.col("t")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# [EXT] distribution drift: Population Stability Index between time slices
# ---------------------------------------------------------------------------
PSI_BIN_WIDTH = 25.0
PSI_N_BINS = 20  # values bin to least(floor(v/25), 19): fixed, SF-independent
PSI_REF_CUTOFF = "2024-01-08"  # ref = first week, cur = the rest


@register(
    "psi_drift_events",
    oracle=f"""
        WITH binned AS (
          SELECT least(CAST(floor(value / {PSI_BIN_WIDTH}) AS BIGINT), {PSI_N_BINS - 1}) AS bin_id,
                 CASE WHEN ts < TIMESTAMP '{PSI_REF_CUTOFF}' THEN 1 ELSE 0 END AS is_ref
          FROM events
        ),
        counts AS (
          SELECT bin_id,
                 CAST(sum(is_ref) AS BIGINT) AS n_ref,
                 CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
          FROM binned GROUP BY bin_id
        ),
        smoothed AS (
          SELECT bin_id, n_ref, n_cur,
                 (n_ref + 0.5) / (sum(n_ref) OVER () + {0.5 * PSI_N_BINS}) AS p_ref,
                 (n_cur + 0.5) / (sum(n_cur) OVER () + {0.5 * PSI_N_BINS}) AS p_cur
          FROM counts
        )
        SELECT bin_id, n_ref, n_cur,
               round(p_ref, 6) + 0.0 AS p_ref,
               round(p_cur, 6) + 0.0 AS p_cur,
               round((p_ref - p_cur) * ln(p_ref / p_cur), 6) + 0.0 AS psi_term
        FROM smoothed
    """,
    doc="Population Stability Index of events.value, first week vs rest, fixed-width bins.",
    tags=("quality", "drift", "ext", "scale"),
)
def psi_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift check a training-data pipeline runs between ingestion
    snapshots: bin a metric into fixed-width buckets, compare the reference
    and current distributions, and report the per-bin PSI terms (the
    publishing gate sums them and alerts above ~0.2).

    Scale shape: binning is a scan-stage expression, the count is one
    map-side-combinable hash-agg to ≤{PSI_N_BINS} rows, and the totals are
    an unpartitioned window over those ≤{PSI_N_BINS} rows — post-agg, so
    the single-partition window is size-bounded at any SF. Laplace
    smoothing (+0.5) keeps ln() finite when a bin is empty on one side.
    """
    events = load_table(spark, sf_dir, "events")
    binned = events.select(
        F.least(
            F.floor(F.col("value") / PSI_BIN_WIDTH).cast("long"), F.lit(PSI_N_BINS - 1)
        ).alias("bin_id"),
        F.when(F.col("ts") < F.lit(PSI_REF_CUTOFF).cast("timestamp"), 1).otherwise(0).alias("is_ref"),
    )
    counts = binned.groupBy("bin_id").agg(
        F.sum("is_ref").cast("long").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("n_cur"),
    )
    w = Window.partitionBy()
    p_ref = (F.col("n_ref") + 0.5) / (F.sum("n_ref").over(w) + 0.5 * PSI_N_BINS)
    p_cur = (F.col("n_cur") + 0.5) / (F.sum("n_cur").over(w) + 0.5 * PSI_N_BINS)
    return counts.select(
        "bin_id",
        "n_ref",
        "n_cur",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_ref - p_cur) * F.log(p_ref / p_cur), 6).alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# [EXT] metric anomaly: trailing-window z-score over an hourly error series
# ---------------------------------------------------------------------------
Z_WINDOW = 24  # trailing hours used as the baseline (excludes current hour)


@register(
    "events_rate_anomaly_zscore",
    oracle=f"""
        WITH hourly AS (
          SELECT date_trunc('hour', ts) AS hour,
                 CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_err
          FROM events GROUP BY date_trunc('hour', ts)
        ),
        scored AS (
          SELECT hour, n_err,
                 count(*) OVER w AS n_base,
                 avg(n_err) OVER w AS mu,
                 stddev_samp(n_err) OVER w AS sd
          FROM hourly
          WINDOW w AS (ORDER BY hour ROWS BETWEEN {Z_WINDOW} PRECEDING AND 1 PRECEDING)
        )
        SELECT hour, n_err, round((n_err - mu) / sd, 4) + 0.0 AS z
        FROM scored
        WHERE n_base = {Z_WINDOW} AND sd > 0
    """,
    doc="Hourly error-count z-score vs a trailing 24h baseline (ops monitoring / DQ alerting).",
    tags=("quality", "drift", "window", "ext"),
)
def events_rate_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitoring query behind a data-quality alert: how anomalous is
    this hour's error count vs the trailing day? Emits z only for hours
    with a full 24-hour baseline and nonzero variance, so cold-start rows
    never produce NULL/∞.

    Scale shape: the hourly rollup is a map-side-combinable hash-agg
    (cardinality = hours, not events); the trailing window is a ROWS frame
    over the *aggregated* series ordered by hour. On a cluster this series
    would be range-partitioned by day with AQE; at bounded test SF it is a
    single in-memory partition. Integer counts make mean/stddev engine-
    exact to ~1e-13, far inside the round-4 contract.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.when(F.col("event_type") == "error", 1)).cast("long").alias("n_err")
    )
    w = Window.orderBy("hour").rowsBetween(-Z_WINDOW, -1)
    scored = hourly.select(
        "hour",
        "n_err",
        F.count(F.lit(1)).over(w).alias("n_base"),
        F.avg("n_err").over(w).alias("mu"),
        F.stddev_samp("n_err").over(w).alias("sd"),
    )
    return (
        scored.filter((F.col("n_base") == Z_WINDOW) & (F.col("sd") > 0))
        .select("hour", "n_err", F.round((F.col("n_err") - F.col("mu")) / F.col("sd"), 4).alias("z"))
    )


# ---------------------------------------------------------------------------
# [EXT r3] mergeable HLL sketch rollup (incremental distinct-count at scale)
# ---------------------------------------------------------------------------
@register(
    "hll_daily_distinct_rollup",
    oracle=None,  # Datasketches binary sketches; exactness pinned in tests
    doc="Per-day HLL user sketches unioned into running distinct-user counts (the mergeable-rollup pattern).",
    tags=("quality", "approx", "sketch", "ext", "scale"),
)
def hll_daily_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB distinct-count pattern: you never re-scan history — each
    day aggregates once into a KB-sized Datasketches HLL, and any window's
    distinct-user count is a UNION of stored day sketches. This query
    materializes the per-day sketches, then answers 'distinct users up to
    day D' for every D by unioning prefixes — the incremental rollup a
    daily pipeline would persist.

    Accuracy/mergeability are pinned in tests: union-of-days estimate ==
    whole-table sketch estimate exactly (same sketch family), and both
    land within ~3% of the true distinct count (lgConfigK=12 → ~1.6% RSE).

    Scale shape: sketch build is a map-side-combinable agg (partials merge
    associatively); day sketches are ~KB regardless of row count; the
    prefix union runs over |days| rows, not |events|.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg(F.col("user_id"), F.lit(12)).alias("sketch"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    # Running union over the (aggregated, |days|-sized) series: an
    # unpartitioned window over post-agg rows, same bounded shape as
    # psi_drift_events' totals.
    return daily.select(
        "day",
        "n_events",
        F.hll_sketch_estimate(F.col("sketch")).cast("long").alias("distinct_users_day"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch")).over(w))
        .cast("long")
        .alias("distinct_users_cumulative"),
    )


# ---------------------------------------------------------------------------
# [EXT r4] k-anonymity audit over quasi-identifier combinations
# ---------------------------------------------------------------------------
K_ANON = 10


@register(
    "k_anonymity_violations",
    oracle=f"""
        WITH g AS (
          SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS group_size
          FROM customer GROUP BY c_nationkey, c_mktsegment
        )
        SELECT c_nationkey, c_mktsegment, group_size
        FROM g WHERE group_size < {K_ANON}
    """,
    doc=f"k-anonymity audit: quasi-identifier combinations identifying fewer than k={K_ANON} records — the release-blocking privacy check beside pii_scrub.",
    tags=("quality", "privacy", "ext"),
)
def k_anonymity_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of the privacy story (pii_scrub removes direct
    identifiers; this audits QUASI-identifiers): any combination of
    (nationkey, mktsegment) shared by fewer than K_ANON customers can
    single people out by linkage, so a release gate lists those cells for
    suppression or generalization.

    Scale: one map-side-combinable hash aggregation over the
    quasi-identifier tuple, then a filter on the (tiny) group list —
    shuffle volume is |distinct combinations|, never |rows|. The same
    shape audits any QI set; widening the tuple only grows the group
    count, not the plan.
    """
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .filter(F.col("group_size") < K_ANON)
    )


# ---------------------------------------------------------------------------
# [EXT r5] Batch observed metrics: dataset health stats riding the scan
# ---------------------------------------------------------------------------
@register(
    "batch_observed_metrics",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS price_cents,
               min(l_quantity) AS min_qty,
               max(l_quantity) AS max_qty
        FROM lineitem
    """,
    doc="df.observe free-rider metrics: row count / integer-exact price sum / quantity bounds computed as accumulators ON the existing scan — dataset health telemetry with zero extra passes.",
    tags=("quality", "observability", "ext"),
)
def batch_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch half of `stream_observed_metrics`: `df.observe(...)`
    attaches named aggregates to an existing plan as ACCUMULATORS — the
    metrics are collected as a side effect of whatever action runs the
    plan, never as a second scan. Here the "real work" is a count over
    lineitem; the health stats (row count, integer-exact price cents,
    quantity bounds) ride along and come back via `Observation.get`
    after the action completes.

    Scale: the whole point at 100 TB — a pipeline's DQ telemetry must
    not re-read the input. `observe` aggregates are map-side
    accumulators merged on the driver; cost is a few longs per task.
    Returned as a one-row DataFrame so the driver can hash-check the
    metrics against the direct SQL aggregate — proving the accumulator
    path computes exactly what a dedicated pass would.
    """
    from pyspark.sql import Observation

    # Run the observed action on an ISOLATED session (shared SparkContext,
    # fresh session state): a used Observation stays registered in the
    # session's ObservationManager, which is NOT java-serializable and
    # poisons closure cleaning for any LATER RDD-based job on the same
    # session (java.io.NotSerializableException: ObservationManager —
    # surfaced by the distributed-training queries downstream in the
    # driver sweep). The throwaway session's manager dies with it.
    iso = spark.newSession()
    obs = Observation("lineitem_health")
    li = load_table(iso, sf_dir, "lineitem").observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("price_cents"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )
    li.count()  # the action the metrics ride on (bounded: one pass, no collect)
    m = obs.get
    return local_frame(
        spark,
        [(m["n_rows"], m["price_cents"], m["min_qty"], m["max_qty"])],
        "n_rows long, price_cents long, min_qty double, max_qty double",
    )


# ---------------------------------------------------------------------------
# [EXT r6] Benford first-digit screen: fraud/synthetic-data detector
# ---------------------------------------------------------------------------
# Benford expectation log10(1 + 1/d), pre-scaled to integer basis points at
# DEFINITION time (Python computes the literals once; both engines consume
# identical integers — no runtime log10 to diverge on).
import math as _math

_BENFORD_E4 = {d: int(_math.floor(_math.log10(1 + 1 / d) * 10000 + 0.5)) for d in range(1, 10)}
_BENFORD_SQL_CASE = " ".join(
    f"WHEN {d} THEN {v}" for d, v in _BENFORD_E4.items()
)


@register(
    "benford_first_digit",
    oracle=f"""
        WITH digits AS (
          SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                      AS BIGINT) AS digit
          FROM orders WHERE o_totalprice >= 1
        ),
        n AS (SELECT count(*) AS total FROM digits),
        obs AS (
          SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit
        )
        SELECT d.digit,
               CAST(coalesce(obs.n_obs, 0) AS BIGINT) AS n_obs,
               CAST(coalesce(obs.n_obs, 0) * 10000
                    // greatest((SELECT total FROM n), 1) AS BIGINT) AS pct_e4,
               CAST(CASE d.digit {_BENFORD_SQL_CASE} END AS BIGINT) AS benford_e4,
               CAST(abs(coalesce(obs.n_obs, 0) * 10000
                        // greatest((SELECT total FROM n), 1)
                        - CASE d.digit {_BENFORD_SQL_CASE} END) AS BIGINT)
                 AS dev_e4
        FROM (SELECT unnest(generate_series(1, 9)) AS digit) d
        LEFT JOIN obs ON obs.digit = d.digit
        -- empty screen (no qualifying totals): no verdict, zero rows
        WHERE (SELECT total FROM n) > 0
    """,
    doc="Benford's-law first-digit screen over order totals: observed vs expected digit frequencies in integer basis points — the classic synthetic/fabricated-numbers detector, integer-exact across engines.",
    tags=("quality", "dq", "ext"),
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality screen: natural multiplicative quantities (prices,
    populations) follow Benford's law — P(first digit = d) = log10(1+1/d);
    uniform or fabricated synthetics don't. Reported per digit: observed
    count, observed share, Benford expectation, absolute deviation — all
    in integer basis points (×1e4, floor division), so the cross-engine
    hash is exact. The log10 expectations are Python-computed literals
    baked into BOTH the plan and the oracle — no runtime transcendental.

    First digit via string head of floor(x) as BIGINT — numeric-format
    independent (no locale/format drift between engines' float printing).

    Scale: one scan + a 9-group partial agg; the digit spine is a
    9-row broadcast. (The TPC-H price generator is uniform-ish, so the
    fixture legitimately FAILS Benford — dev_e4 is the signal, pinned in
    tests, not asserted small.)
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    total = digits.agg(F.count(F.lit(1)).alias("total"))
    spine = spark.range(1, 10).select(F.col("id").alias("digit"))
    benford = F.create_map(
        *[F.lit(x) for d, v in _BENFORD_E4.items() for x in (d, v)]
    )[F.col("digit")]
    # greatest(total, 1) inside the division + a total>0 filter: an empty
    # screen emits ZERO rows (no verdict), and ANSI integer division never
    # sees a zero divisor (fuzz-found: an all-sub-1-price corpus threw
    # DIVIDE_BY_ZERO here).
    pct = F.expr("coalesce(n_obs, 0) * 10000 DIV greatest(total, 1)")
    return (
        spine.join(obs, "digit", "left_outer")
        .crossJoin(F.broadcast(total))
        .filter(F.col("total") > 0)
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            pct.cast("long").alias("pct_e4"),
            benford.cast("long").alias("benford_e4"),
            F.abs(pct - benford).cast("long").alias("dev_e4"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r6] Quarantine routing: rule-tagged dead-letter split
# ---------------------------------------------------------------------------
@register(
    "dq_quarantine_split",
    oracle="""
        WITH corrupted AS (
          SELECT event_id, user_id,
                 CASE WHEN event_id % 13 = 0 THEN -value ELSE value END AS value,
                 CASE WHEN event_id % 17 = 0 THEN 'zz_' || event_type
                      ELSE event_type END AS event_type
          FROM events
        ),
        routed AS (
          SELECT *,
                 CASE WHEN value IS NULL THEN 'quarantine:null_value'
                      WHEN value < 0 THEN 'quarantine:negative_value'
                      WHEN event_type NOT IN
                           ('click','error','purchase','signup','view')
                        THEN 'quarantine:unknown_type'
                      ELSE 'clean' END AS bucket
          FROM corrupted
        )
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(coalesce(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)), 0)
                    AS BIGINT) AS value_cents
        FROM routed GROUP BY bucket
    """,
    doc="Dead-letter routing: every row lands in exactly one bucket — first failing rule (null -> negative -> unknown type, fixed precedence) or clean — with per-bucket integer-exact totals; the quarantine-table ingestion gate.",
    tags=("quality", "dq", "curation", "ext"),
)
def dq_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The row-level complement of `dq_constraint_checks` (which only
    counts): ingest routing where every record lands in exactly ONE
    bucket — the first rule it fails, in fixed precedence (null value →
    negative value → unknown type), or 'clean'. Production shape: clean
    rows continue to the table, quarantine rows go to a dead-letter
    table keyed by reason for replay after a fix (the WAP audit's
    row-level sibling). Corruption is injected deterministically
    (event_id-keyed) since the fixture is clean — the routing logic is
    what's under test.

    Scale: one scan, one projection, one bounded groupBy — the routing
    CASE is a per-row JVM expression; no rule ever requires a second
    pass, which is why precedence-ordered single-CASE routing beats
    per-rule filters (k rules = k scans) at 100 TB.
    """
    e = load_table(spark, sf_dir, "events")
    corrupted = e.select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 13 == 0, -F.col("value"))
        .otherwise(F.col("value"))
        .alias("value"),
        F.when(
            F.col("event_id") % 17 == 0, F.concat(F.lit("zz_"), F.col("event_type"))
        )
        .otherwise(F.col("event_type"))
        .alias("event_type"),
    )
    bucket = (
        F.when(F.col("value").isNull(), F.lit("quarantine:null_value"))
        .when(F.col("value") < 0, F.lit("quarantine:negative_value"))
        .when(
            ~F.col("event_type").isin("click", "error", "purchase", "signup", "view"),
            F.lit("quarantine:unknown_type"),
        )
        .otherwise(F.lit("clean"))
    )
    return (
        corrupted.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r6] Embedding-space drift: the vector-column sibling of PSI
# ---------------------------------------------------------------------------
EMB_DRIFT_SCALE = 1_000_000  # per-component fixed-point quantum (1e-6)
EMB_DIM = 64


@register(
    "embedding_drift_by_label",
    oracle=f"""
        WITH q AS (
          SELECT label, vec_id % 2 AS half,
                 list_transform(embedding::DOUBLE[],
                                x -> CAST(floor(x * {EMB_DRIFT_SCALE} + 0.5) AS BIGINT))
                   AS vq
          FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
        ),
        per_dim AS (
          SELECT label, half, d.dim,
                 CAST(sum(vq[d.dim]) AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM q, (SELECT unnest(generate_series(1, {EMB_DIM})) AS dim) d
          GROUP BY 1, 2, 3
        ),
        cent AS (
          SELECT label, half, max(n) AS n,
                 list(s * 1.0 / (n * {EMB_DRIFT_SCALE}.0) ORDER BY dim) AS c
          FROM per_dim GROUP BY label, half
        )
        SELECT a.label,
               a.n AS n_old, b.n AS n_new,
               round(list_dot_product(a.c, b.c)
                     / nullif(sqrt(list_dot_product(a.c, a.c))
                              * sqrt(list_dot_product(b.c, b.c)), 0.0), 6)
                 + 0.0 AS centroid_cosine
        FROM cent a JOIN cent b ON a.label = b.label
        WHERE a.half = 0 AND b.half = 1
    """,
    doc="Embedding-space drift: per-label centroid of the old cohort vs the new (vec_id parity split), cosine between centroids — components fixed-point-quantized so the cross-row sums are order-independent and the hash is exact.",
    tags=("quality", "drift", "similarity", "ext", "scale"),
)
def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift for VECTOR columns — the check `psi_drift_events`
    can't express: per label, the centroid of the 'old' cohort (even
    vec_id) vs the 'new' (odd), compared by cosine. A drifting embedding
    space (new encoder version, corpus shift) drops the centroid cosine
    long before scalar metadata moves — the retraining/backfill alarm for
    vector stores.

    Cross-engine exactness: each component is fixed-point-quantized
    (×1e6, half-up) BEFORE summation, so the per-(label, half, dim) sums
    are BIGINT — accumulation-order-independent — and every later step
    (÷ n·1e6, the dim-ordered dot-product folds) runs the same IEEE ops
    on identical doubles in both engines. The same discipline as the
    fixed-point PageRank, applied per dimension.

    Scale: one scan + a (labels × 2 × 64)-row partial agg; centroids are
    KB-sized. The posexplode widens rows ×64 before the map-side combine
    — at 100 TB you'd fold the per-partition sums with an Arrow UDF
    instead; the aggregate's shape (bounded output, exact ints) is
    unchanged.
    """
    from pyspark.sql import Window

    from ..functions.arrays import as_double

    e = load_table(spark, sf_dir, "embeddings")
    # Population contract made explicit (ADVICE r6): posexplode silently
    # drops NULL / wrong-length vectors from n while the oracle's
    # generate_series cross join would count them — filter BOTH sides to
    # "non-null, exactly EMB_DIM components" so the cohort sizes agree on
    # hostile input, not just on well-formed fixtures.
    e = e.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == EMB_DIM)
    )
    q = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.transform(
            as_double("embedding"),
            lambda x: F.floor(x * EMB_DRIFT_SCALE + 0.5).cast("long"),
        ).alias("vq"),
    )
    per_dim = (
        q.select("label", "half", F.posexplode("vq").alias("dim", "v"))
        .groupBy("label", "half", "dim")
        .agg(F.sum("v").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("n"))
    )
    cent = (
        per_dim.withColumn("c", F.col("s") / (F.col("n") * F.lit(float(EMB_DRIFT_SCALE))))
        .groupBy("label", "half")
        .agg(
            F.max("n").alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda st: st["c"]
            ).alias("c"),
        )
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", F.col("n").alias("n_old"), F.col("c").alias("c0")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", F.col("n").alias("n_new"), F.col("c").alias("c1")
    )
    dot = F.aggregate(
        F.zip_with("c0", "c1", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    n0 = F.sqrt(
        F.aggregate(F.zip_with("c0", "c0", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    )
    n1 = F.sqrt(
        F.aggregate(F.zip_with("c1", "c1", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    )
    return a.join(b, "label").select(
        "label",
        "n_old",
        "n_new",
        # nullif: a label whose half-centroid is the ZERO vector (every
        # component quantizes to 0) has no defined cosine — NULL on both
        # engines instead of ANSI DIVIDE_BY_ZERO here / inf in DuckDB
        # (found by the SG_FUZZ_MULT=3 hostile-vector draw: an all-zero
        # label half had never been drawn at default depth)
        (F.round(dot / F.nullif(n0 * n1, F.lit(0.0)), 6) + 0.0).alias(
            "centroid_cosine"
        ),
    )


# ---------------------------------------------------------------------------
# [EXT r6] Chi-square independence screen, per-cell (categorical drift/DQ)
# ---------------------------------------------------------------------------
@register(
    "chisq_priority_status_cells",
    oracle="""
        WITH cells AS (
          SELECT o_orderpriority AS prio, o_orderstatus AS status,
                 CAST(count(*) AS BIGINT) AS n_obs
          FROM orders GROUP BY 1, 2
        ),
        margins AS (
          SELECT c.prio, c.status, c.n_obs,
                 sum(c.n_obs) OVER (PARTITION BY c.prio) AS row_tot,
                 sum(c.n_obs) OVER (PARTITION BY c.status) AS col_tot,
                 sum(c.n_obs) OVER () AS n
          FROM cells c
        )
        SELECT prio, status, n_obs,
               floor(row_tot * col_tot * 10000.0 / n + 0.5) / 10000
                 AS expected,
               floor((n_obs - row_tot * col_tot * 1.0 / n)
                     * (n_obs - row_tot * col_tot * 1.0 / n)
                     / (row_tot * col_tot * 1.0 / n) * 10000 + 0.5) / 10000
                 AS chi_term
        FROM margins
    """,
    doc="Chi-square independence screen between two categoricals, emitted PER CELL (obs, expected, chi term) — each cell's arithmetic is a fixed IEEE expression on exact integer margins, so the hash is exact with no cross-cell FP sum.",
    tags=("quality", "dq", "stats", "ext"),
)
def chisq_priority_status_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-association screen: are order priority and order
    status independent? The classic DQ/drift test for categorical
    columns (a strong association where none is expected flags a
    pipeline bug; a vanished association flags upstream drift).

    Emitted per CELL — (observed, expected = row·col/N, chi term) — not
    as the summed statistic: the per-cell terms are single IEEE
    expressions over EXACT integer margins (window sums of BIGINT
    counts), identical in both engines, while a cross-cell sum would be
    accumulation-order FP. Consumers sum the bounded (|prio|×|status|)
    cell table driver-side and compare against the chi-square critical
    value; tests/test_r6_new_ops.py cross-pins that sum against
    pyspark.ml.stat.ChiSquareTest's statistic on the same table.

    Scale: one hash agg to the cell table, three window passes over
    those ≤15 rows — post-agg bounded, same posture as PSI.
    """
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    cells = o.groupBy(
        F.col("o_orderpriority").alias("prio"), F.col("o_orderstatus").alias("status")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    row_tot = F.sum("n_obs").over(Window.partitionBy("prio"))
    col_tot = F.sum("n_obs").over(Window.partitionBy("status"))
    n = F.sum("n_obs").over(Window.partitionBy())
    # Widen to double BEFORE the margin product: row_tot * col_tot as
    # LongType overflows (ANSI throw) near 3e9 rows while DuckDB's window
    # sums widen to HUGEINT — an engine divergence at exactly the scale
    # this operator exists for (ADVICE r6).
    exp = row_tot.cast("double") * col_tot / n
    m = cells.select(
        "prio",
        "status",
        "n_obs",
        (F.floor(row_tot.cast("double") * col_tot * 10000.0 / n + 0.5) / 10000).alias(
            "expected"
        ),
        (
            F.floor((F.col("n_obs") - exp) * (F.col("n_obs") - exp) / exp * 10000 + 0.5)
            / 10000
        ).alias("chi_term"),
    )
    return m


# ---------------------------------------------------------------------------
# [EXT r9b] Per-user event-type entropy — the behavioral-diversity screen
# (bots repeat one action; ln quantized to milli-nats with a guard band,
# the bigram-perplexity / PMI transcendental discipline).
# ---------------------------------------------------------------------------
ENTROPY_SCALE = 1_000  # milli-nats


@register(
    "user_event_entropy",
    oracle=f"""
        WITH cells AS (
          SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2
        ),
        per_user AS (
          SELECT user_id,
                 CAST(sum(c) AS BIGINT) AS n_events,
                 CAST(count(*) AS BIGINT) AS n_types,
                 sum(c * ln(CAST(c AS DOUBLE))) AS s
          FROM cells GROUP BY user_id
        )
        SELECT user_id, n_events, n_types,
               CASE WHEN n_types = 1 THEN CAST(0 AS BIGINT)
                    ELSE CAST(floor((ln(CAST(n_events AS DOUBLE))
                                     - s / CAST(n_events AS DOUBLE))
                                    * {ENTROPY_SCALE}) AS BIGINT)
               END AS entropy_milli
        FROM per_user
    """,
    doc="Shannon entropy of each user's event-type distribution in milli-nats via H = ln(n) - (1/n)*sum(c*ln c) over exact integer counts — the behavioral-diversity screen (entropy ~0 = single-action bot); ln is the only transcendental, floor-quantized behind a guard band.",
    tags=("events", "quality", "statistics", "ext", "scale"),
)
def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Who behaves like a bot? A user replaying one event type has
    entropy 0; organic users spread across types approach ln(n_types).
    H = -sum p_i ln p_i rewritten over exact integer counts as
    H = ln(n) - (1/n) * sum c_i ln(c_i) — every ln argument is an exact
    BIGINT, so both engines evaluate the same IEEE expression shape on
    identical inputs and the result is floor-quantized to milli-nats.
    Cross-engine safety is the PMI guard-band argument: per-type sums
    may associate differently across engines (~1e-12 relative), so the
    quantization is only trusted because the test scans every fixture
    user's exact (counts, n) profile and asserts the true scaled value
    sits >= 1e-6 from the floor boundary (>10^5x the worst-case
    disagreement) — the regime bigram_perplexity_score pinned. The one
    value pinned TO a boundary by definition — the single-type user's
    exact 0, where ln(n) - n*ln(n)/n lands one ulp either side of zero
    depending on each engine's ln — is clamped to 0 by a CASE on
    n_types in both engines rather than left to the floor.

    Scale: one map-side-combinable aggregate to (user x type) cells,
    then a per-user combine — two hash aggregates, no windows, no joins;
    output is |users|.
    """
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_user = cells.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("s"),
    )
    return per_user.select(
        "user_id",
        "n_events",
        "n_types",
        # single-type users are EXACTLY 0 by definition, but the FP form
        # ln(n) - n*ln(n)/n sits one ulp either side of 0 depending on
        # each engine's own ln bits — floor would then split 0 vs -1
        # across engines. Clamp the degenerate case instead of hoping.
        F.when(F.col("n_types") == 1, F.lit(0))
        .otherwise(
            F.floor(
                (
                    F.log(F.col("n_events").cast("double"))
                    - F.col("s") / F.col("n_events").cast("double")
                )
                * ENTROPY_SCALE
            )
        )
        .cast("long")
        .alias("entropy_milli"),
    )
