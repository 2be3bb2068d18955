"""Set operations, sampling, and approximate/exact quantile aggregates.

[EXT] completions of SURVEY §2.7 ("no intersect/except anywhere" in the
reference) and §2.6 O3 seeded sampling, so the engine exposes the full
standard relational set-op family the oracle harness can exercise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table, local_frame


@register(
    "intersect_active_building_customers",
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("setop",),
)
def intersect_active_building_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: building-segment customers who have an open order."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return c.intersect(o)


@register(
    "except_unsold_parts",
    oracle="""
        SELECT p_partkey FROM part
        EXCEPT
        SELECT l_partkey AS p_partkey FROM lineitem
    """,
    tags=("setop",),
)
def except_unsold_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: parts never appearing in lineitem."""
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return p.exceptAll(li).distinct()


@register(
    "quantile_order_prices",
    oracle="""
        SELECT o_orderpriority,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
               round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "quantile"),
)
def quantile_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous quantiles per group (Spark `percentile` ↔ DuckDB
    `quantile_cont`, same linear interpolation). At 100 TB swap in
    `percentile_approx` — registered separately as a rows-only query
    because t-digest results aren't engine-portable."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "approx_stats_lineitem",
    oracle=None,  # HLL++/t-digest sketches are engine-specific; rows-only
    tags=("agg", "approx", "scale"),
)
def approx_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketches you actually run at 100 TB: approx_count_distinct
    (HLL++) and percentile_approx (t-digest) — single-pass, bounded
    memory, map-side combinable."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median_price"),
    )


@register(
    "profile_lineitem",
    oracle="""
        SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
               count(*) - count(l_quantity) AS n_nulls,
               count(DISTINCT l_quantity) AS n_distinct,
               round(min(l_quantity), 4) AS min_val,
               round(max(l_quantity), 4) AS max_val,
               round(avg(l_quantity), 4) AS mean_val
        FROM lineitem
        UNION ALL
        SELECT 'l_discount', count(*), count(*) - count(l_discount),
               count(DISTINCT l_discount),
               round(min(l_discount), 4), round(max(l_discount), 4),
               round(avg(l_discount), 4)
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
               count(DISTINCT l_extendedprice),
               round(min(l_extendedprice), 4), round(max(l_extendedprice), 4),
               round(avg(l_extendedprice), 4)
        FROM lineitem
    """,
    tags=("agg", "profiling", "ext"),
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator: per-column null/distinct/extrema/mean stats
    in ONE scan (all columns aggregated together, then unpivoted) — the
    data-quality report a 100 TB ingest runs before training."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_extendedprice"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.round(F.min(c), 4).alias(f"{c}__min"),
            F.round(F.max(c), 4).alias(f"{c}__max"),
            F.round(F.avg(c), 4).alias(f"{c}__mean"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max, {c}__mean" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_rows, n_nulls, n_distinct, min_val, max_val, mean_val)"
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
        SELECT l_orderkey, l_linenumber, measure, round(value, 2) AS value
        FROM (
          SELECT l_orderkey, l_linenumber,
                 'quantity' AS measure, l_quantity AS value FROM lineitem
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
        )
        WHERE l_orderkey <= 100
    """,
    tags=("setop", "reshape"),
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide measures into (measure, value) long format via
    stack() — one scan, no join, the inverse of the pivot query."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'price', l_extendedprice, 'discount', l_discount)"
        " AS (measure, value)",
    ).withColumn("value", F.round("value", 2))


# Lehmer-style portable hash: P prime, gcd(A, P) = 1, so k -> (k*A + C) % P
# is a BIJECTION on [0, P) — zero collisions for keys < P, and every step is
# exact int64 arithmetic both engines compute identically ((k % P) * A tops
# out near 2^61 < 2^63). The same trick that made sample_weighted_quality
# hash-green, applied to the uniform case (VERDICT r6 #6).
SAMPLE_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
SAMPLE_A = 1_103_515_245
SAMPLE_C = 12_345
SAMPLE_FRACTION_NUM = 214_748_364  # floor(P * 0.1): integer threshold, no FP
TAKESAMPLE_K = 100
TAKESAMPLE_A = 742_938_285  # Fishman-Moore optimal multiplier for mod 2^31-1
TAKESAMPLE_C = 362_437


def _lehmer(key, mult: int, inc: int):
    """Portable pseudo-uniform int in [0, P) from an integer key column."""
    return F.pmod(F.pmod(key, SAMPLE_P) * mult + inc, SAMPLE_P)


@register(
    "sample_seeded",
    oracle=f"""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE ((o_orderkey % {SAMPLE_P}) * {SAMPLE_A} + {SAMPLE_C}) % {SAMPLE_P}
              < {SAMPLE_FRACTION_NUM}
    """,
    doc="Deterministic 10% Bernoulli sample: keep rows whose portable Lehmer hash of the key falls under floor(P/10) — reproducible run-to-run AND engine-to-engine, unlike rand(seed).",
    tags=("sample", "scale"),
)
def sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 seeded-sample analog (`SparkRDDAPITest.scala:39` takeSample /
    sample) upgraded from rows-only to hash-checked: `df.sample(seed=)` is
    only deterministic PER PARTITION LAYOUT (SURVEY §7.4.2), so it can
    never match a single-node oracle. Instead the membership test is a
    pure function of the ROW KEY — a Lehmer hash compared against an
    integer threshold — which is the form production pipelines want
    anyway: the sample is stable under repartitioning, re-ingestion, and
    engine migration, and a row's membership can be re-derived at audit
    time.

    Scale: a scan-stage integer predicate — no shuffle, no state, works
    identically at 10^3 or 10^12 rows; selectivity is exactly
    floor(P*f)/P by the bijection (no hash-collision bias).
    """
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        _lehmer(F.col("o_orderkey"), SAMPLE_A, SAMPLE_C) < SAMPLE_FRACTION_NUM
    ).select("o_orderkey", "o_totalprice")


@register(
    "sample_takesample_k",
    oracle=f"""
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY ((o_orderkey % {SAMPLE_P}) * {TAKESAMPLE_A} + {TAKESAMPLE_C})
                 % {SAMPLE_P}, o_orderkey
        LIMIT {TAKESAMPLE_K}
    """,
    doc="Fixed-size uniform sample without replacement: global bottom-k by a portable Lehmer hash — the deterministic takeSample(false, k).",
    tags=("sample", "topk", "ext", "scale"),
)
def sample_takesample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 `takeSample(false, k)` (`SparkRDDAPITest.scala:39`) made
    engine-portable: hashing every key with a bijective Lehmer map and
    keeping the k smallest IS a uniform sample without replacement (every
    k-subset equally likely under the hash's pseudo-randomness), and it is
    a pure function of the data — the property the RDD API's
    partition-stratified sampler gives up.

    Scale: compiles to TakeOrderedAndProject — per-partition heaps of k
    rows, one k-row merge at the driver, no sort, no shuffle of the input.
    """
    o = load_table(spark, sf_dir, "orders")
    hkey = _lehmer(F.col("o_orderkey"), TAKESAMPLE_A, TAKESAMPLE_C)
    return (
        o.select("o_orderkey", "o_totalprice", hkey.alias("hkey"))
        .orderBy("hkey", "o_orderkey")
        .limit(TAKESAMPLE_K)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# [EXT r4] Multiset EXCEPT ALL: bag semantics, duplicates preserved
# ---------------------------------------------------------------------------
@register(
    "except_all_order_priorities",
    oracle="""
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
        EXCEPT ALL
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="Bag-semantics EXCEPT ALL (exceptAll): per-value multiplicities subtract instead of collapsing — the multiset half of the set-op family.",
    tags=("setop", "ext"),
)
def except_all_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exceptAll — the MULTISET complement of `except_unsold_parts`'s
    distinct EXCEPT: each priority value survives with multiplicity
    count_open(v) - count_filled(v) (when positive), so the result exposes
    the per-value imbalance, not just membership.

    Scale: Spark plans exceptAll as an aggregated count-difference +
    generator re-expansion (no row-by-row anti join) — one shuffle on the
    value, output ∝ the imbalance.
    """
    o = load_table(spark, sf_dir, "orders")
    open_p = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    filled_p = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return open_p.exceptAll(filled_p)


# ---------------------------------------------------------------------------
# [EXT r4] Ordered string aggregation (string_agg / listagg)
# ---------------------------------------------------------------------------
@register(
    "segment_nation_rollcall",
    oracle="""
        SELECT c.c_mktsegment AS segment,
               CAST(count(DISTINCT n.n_name) AS BIGINT) AS n_nations,
               string_agg(DISTINCT n.n_name, ',' ORDER BY n.n_name) AS nations_csv
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    """,
    doc="Deterministic ordered string aggregation (listagg/string_agg): sorted-distinct CSV per group — portable because the order is explicit.",
    tags=("relational", "agg", "ext"),
)
def segment_nation_rollcall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG surface done deterministically: collect_set → array_sort →
    array_join gives an EXPLICITLY ordered CSV, the only form that is
    reproducible across engines, retries, and partitionings (an unordered
    string_agg is nondeterministic by contract — the classic flaky-report
    bug). One hash aggregation; the collected set is bounded by the
    25-nation domain, never by row count.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.countDistinct("n_name").alias("n_nations"),
            F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations_csv"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r5] Exact global quantiles WITHOUT a global sort: iterative
# histogram narrowing (the classic distributed exact-median algorithm).
# ---------------------------------------------------------------------------
QT_TARGETS = (0.5, 0.9, 0.99)
# Histogram bins per narrowing pass: resolved order statistics are exact
# at any bin count. 4096 bins would save one full scan only at 100 TB
# (1.6e13 rows narrow below QT_COLLECT in 3 passes instead of 4); locally
# its wider partial aggregates lost (r13 A/B at sf0.1).
QT_BINS = 256
QT_COLLECT = 4096  # candidate count below which we collect and index


@register(
    "quantile_two_pass_exact",
    oracle="""
        WITH s AS (
          SELECT l_extendedprice AS v,
                 row_number() OVER (ORDER BY l_extendedprice) - 1 AS i
          FROM lineitem
        ),
        nn AS (SELECT count(*) AS n FROM lineitem),
        qs AS (SELECT CAST(0.5 AS DOUBLE) AS q
               UNION ALL SELECT CAST(0.9 AS DOUBLE)
               UNION ALL SELECT CAST(0.99 AS DOUBLE)),
        hh AS (
          SELECT q, (nn.n - 1) * q AS h,
                 CAST(floor((nn.n - 1) * q) AS BIGINT) AS lo_i,
                 CAST(ceil((nn.n - 1) * q) AS BIGINT) AS hi_i
          FROM qs, nn
        ),
        vv AS (
          SELECT hh.q, hh.h, hh.lo_i,
                 max(CASE WHEN s.i = hh.lo_i THEN s.v END) AS v_lo,
                 max(CASE WHEN s.i = hh.hi_i THEN s.v END) AS v_hi
          FROM hh JOIN s ON s.i = hh.lo_i OR s.i = hh.hi_i
          GROUP BY hh.q, hh.h, hh.lo_i
        )
        SELECT q AS quantile,
               floor((v_lo + (h - lo_i) * (v_hi - v_lo)) * 10000 + 0.5) / 10000
                 AS value
        FROM vv
    """,
    doc="Exact continuous quantiles via iterative histogram narrowing — no global sort; O(log_B n) map-side-combinable passes.",
    tags=("agg", "quantile", "ext", "scale"),
)
def quantile_two_pass_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT continuous quantiles (p50/p90/p99 of l_extendedprice) with no
    global sort — the pattern that replaces ``percentile`` when one
    group's data no longer fits an executor. Each pass histograms the
    surviving value interval into QT_BINS buckets (a map-side-combinable
    aggregate whose shuffle is <= #quantiles x QT_BINS rows regardless of
    table size), locates the bucket holding each needed order statistic,
    and narrows to that bucket's ACTUAL [min, max] value range — so a
    bucket dominated by one duplicated value resolves immediately instead
    of looping. When a candidate set falls under QT_COLLECT rows it is
    collected and indexed directly. Convergence is O(log_B n) full scans:
    2-3 passes at any realistic scale (100 TB of doubles ~ 1.6e13 rows ->
    ceil(log_256 1.6e13 / ...) narrows below 4096 candidates in 2 passes
    when values are spread, one extra pass under extreme duplication).

    All needed order statistics narrow JOINTLY in one pass per level (the
    per-quantile bin structs explode into a single groupBy), so the scan
    count does not multiply with the number of quantiles. The final
    interpolation v_lo + (h - floor(h)) * (v_hi - v_lo) and the
    floor-based half-up rounding run identically (same IEEE double ops)
    here and in the DuckDB oracle, making the hash comparison exact.
    """
    import math

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    # One fused scan yields the row count AND the global min/max (r13,
    # guide §2.4): the count and the engine's min/max pass previously ran
    # as two separate full scans. count(lit(1)) counts every row exactly
    # as .count() did; min/max skip NULLs exactly as before.
    head = li.agg(
        F.count(F.lit(1)).alias("n"), F.min("v").alias("mn"), F.max("v").alias("mx")
    ).first()
    n = head.n
    if n == 0:  # fuzz corpora include empty tables; the oracle emits 0 rows
        return local_frame(spark, [], "quantile double, value double")
    need: set[int] = set()
    for q in QT_TARGETS:
        h = (n - 1) * q
        need.add(math.floor(h))
        need.add(math.ceil(h))
    resolved, _passes = exact_order_statistics(li, n, need, minmax=(head.mn, head.mx))
    out = []
    for q in QT_TARGETS:
        h = (n - 1) * q
        lo_i = math.floor(h)
        v_lo, v_hi = resolved[lo_i], resolved[math.ceil(h)]
        val = v_lo + (h - lo_i) * (v_hi - v_lo)
        out.append((float(q), math.floor(val * 10000 + 0.5) / 10000))
    return local_frame(spark, out, "quantile double, value double")


def exact_order_statistics(
    li: DataFrame, n: int, need: set[int], minmax: tuple | None = None
) -> tuple[dict[int, float], int]:
    """Resolve the 0-based order statistics ``need`` of single-column
    DataFrame ``li`` (column ``v``, ``n`` rows) by joint histogram
    narrowing; returns ``(index -> value, histogram passes used)``. See
    ``quantile_two_pass_exact`` for the algorithm and scale analysis.

    ``minmax`` (r13): callers that already know the global (min, max) —
    e.g. from an aggregate fused with their row count — pass it here to
    skip the engine's own min/max scan (guide §2.4: one fewer full pass;
    the values are the same ones the scan would produce)."""
    if minmax is not None:
        gmin, gmax = minmax
    else:
        gmin, gmax = li.agg(F.min("v"), F.max("v")).first()
    state = {
        k: {"k": k, "lo": float(gmin), "hi": float(gmax), "off": 0, "cnt": int(n)}
        for k in need
    }

    def small_pass(small: dict) -> list:
        # ONE batched scan gathers ALL small candidate sets (r13, guide
        # §2.4): the union-of-intervals filter returns exactly the rows
        # each per-rank between() would have; per-rank membership is
        # re-applied driver-side over <= len(small) x QT_COLLECT values.
        cond = None
        for lo, hi in sorted({(s["lo"], s["hi"]) for s in small.values()}):
            c = F.col("v").between(lo, hi)
            cond = c if cond is None else (cond | c)
        got = [r.v for r in li.filter(cond).collect()]
        return [
            (k, v) for k, s in small.items() for v in got if s["lo"] <= v <= s["hi"]
        ]

    def hist_pass(live: dict) -> list:
        structs = []
        for k, s in sorted(live.items()):
            w = (s["hi"] - s["lo"]) / QT_BINS
            b = F.greatest(
                F.lit(0),
                F.least(
                    F.floor((F.col("v") - F.lit(s["lo"])) / F.lit(w)).cast("int"),
                    F.lit(QT_BINS - 1),
                ),
            )
            structs.append(
                F.when(
                    F.col("v").between(s["lo"], s["hi"]),
                    F.struct(
                        F.lit(k).alias("kid"), b.alias("bin"), F.col("v").alias("v")
                    ),
                )
            )
        hist = (
            li.select(F.explode(F.array(*structs)).alias("s"))
            .filter(F.col("s").isNotNull())
            .groupBy(F.col("s.kid").alias("kid"), F.col("s.bin").alias("bin"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("s.v").alias("mn"),
                F.max("s.v").alias("mx"),
            )
            .collect()
        )
        return [(r.kid, r) for r in hist]

    return _narrow(state, small_pass, hist_pass)


def _narrow(state: dict, small_pass, hist_pass) -> tuple[dict, int]:
    """The driver-side narrowing loop both engines share. Each ``state``
    entry is one order statistic: its 0-based rank ``k``, the candidate
    value interval ``[lo, hi]`` (inclusive, actual values), the ``off``
    rows of its population's sort order that precede the candidates, and
    the ``cnt`` candidates left. Each round sorts every statistic into
    resolved (``lo == hi``), small (``cnt <= QT_COLLECT``: one Spark pass,
    ``small_pass``, collects its candidates as (key, value) pairs to be
    indexed) or live; ``hist_pass`` histograms the live ones in one Spark
    pass as (key, row with bin/cnt/mn/mx) pairs, and each statistic walks
    its sorted bins to the one holding its rank, which becomes its new
    state. Returns ``({key: value}, histogram passes)``."""
    resolved: dict = {}
    for passes in range(64):  # hard bound; loop exits in 2-4 passes
        live, small = {}, {}
        for key, s in state.items():
            if key in resolved:
                continue
            if s["lo"] == s["hi"]:
                resolved[key] = s["lo"]
            elif s["cnt"] <= QT_COLLECT:
                small[key] = s
            else:
                live[key] = s
        if small:
            got = _by_key(small_pass(small))
            for key, s in small.items():
                resolved[key] = float(sorted(got[key])[s["k"] - s["off"]])
        if not live:
            return resolved, passes
        for key, rows in _by_key(hist_pass(live)).items():
            s, cum = state[key], 0
            rel = s["k"] - s["off"]
            for r in sorted(rows, key=lambda r: r.bin):
                if rel < cum + r.cnt:
                    s["off"] += cum
                    s["cnt"] = int(r.cnt)
                    s["lo"], s["hi"] = float(r.mn), float(r.mx)
                    break
                cum += r.cnt
            else:  # pragma: no cover - counts always cover the rank
                raise AssertionError(f"rank {key} not found in histogram")
    raise AssertionError("quantile narrowing did not converge")  # pragma: no cover


def _by_key(pairs) -> dict:
    out: dict = {}
    for key, x in pairs:
        out.setdefault(key, []).append(x)
    return out


# ---------------------------------------------------------------------------
# [EXT r5] Grouped exact quantiles: the narrowing engine generalized to
# per-group order statistics with a BROADCAST STATE JOIN (scales in group
# count where a literal per-state expression list cannot).
# ---------------------------------------------------------------------------
def exact_grouped_order_statistics(
    df: DataFrame, needs: dict, gstats: dict | None = None
) -> tuple[dict, int]:
    """Resolve per-group order statistics of ``df`` (columns ``g``, ``v``)
    by joint histogram narrowing; ``needs`` maps group -> set of 0-based
    ranks. Returns ``({(g, rank) -> value}, passes)``.

    Unlike the global engine (`exact_order_statistics`), the per-pass
    narrowing state here is a DATAFRAME joined broadcast onto the scan —
    (g, rank, lo, hi) rows, one per unresolved statistic — so the plan is
    IDENTICAL whether there are 3 groups or 3 million: one broadcast hash
    join, one (g, rank, bin) partial-aggregate whose shuffle is bounded
    by live_states x QT_BINS rows, and a driver-side narrowing step over
    that bounded histogram. Per-group convergence is the same
    O(log_BINS n_g); groups resolve independently and drop out of the
    broadcast state as they finish.

    ``gstats`` (r13): callers that already hold the per-group
    (min, max, count) triples — e.g. from the fused aggregate that gave
    them their group counts — pass them here to skip the engine's own
    stats scan (guide §2.4; the values are the same the scan produces).
    """
    spark = df.sparkSession
    if gstats is None:
        gstats = {
            r.g: (float(r.mn), float(r.mx), int(r.n))
            for r in df.groupBy("g")
            .agg(F.min("v").alias("mn"), F.max("v").alias("mx"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
    state = {}
    for g, ranks in needs.items():
        if g not in gstats:
            continue
        mn, mx, n = gstats[g]
        for k in ranks:
            state[(g, k)] = {"k": k, "lo": mn, "hi": mx, "off": 0, "cnt": n}

    def small_pass(small: dict) -> list:
        # One batched pass gathers ALL small candidate sets (bounded:
        # <= len(small) x QT_COLLECT rows).
        srows = [(g, float(k), s["lo"], s["hi"]) for (g, k), s in small.items()]
        sdf = local_frame(spark, srows, "g string, k double, lo double, hi double")
        got = (
            df.join(F.broadcast(sdf), "g")
            .filter(F.col("v").between(F.col("lo"), F.col("hi")))
            .select("g", "k", "v")
            .collect()
        )
        return [((r.g, int(r.k)), r.v) for r in got]

    def hist_pass(live: dict) -> list:
        lrows = [
            (g, float(k), s["lo"], s["hi"], (s["hi"] - s["lo"]) / QT_BINS)
            for (g, k), s in live.items()
        ]
        ldf = local_frame(
            spark, lrows, "g string, k double, lo double, hi double, w double"
        )
        hist = (
            df.join(F.broadcast(ldf), "g")
            .filter(F.col("v").between(F.col("lo"), F.col("hi")))
            .select(
                "g",
                "k",
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.floor((F.col("v") - F.col("lo")) / F.col("w")).cast("int"),
                        F.lit(QT_BINS - 1),
                    ),
                ).alias("bin"),
                "v",
            )
            .groupBy("g", "k", "bin")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )
            .collect()
        )
        return [((r.g, int(r.k)), r) for r in hist]

    return _narrow(state, small_pass, hist_pass)


@register(
    "grouped_quantile_exact",
    oracle="""
        WITH s AS (
          SELECT l_returnflag AS g, l_extendedprice AS v,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_extendedprice) - 1 AS i
          FROM lineitem
        ),
        nn AS (SELECT l_returnflag AS g, count(*) AS n FROM lineitem GROUP BY 1),
        qs AS (SELECT CAST(0.5 AS DOUBLE) AS q
               UNION ALL SELECT CAST(0.9 AS DOUBLE)
               UNION ALL SELECT CAST(0.99 AS DOUBLE)),
        hh AS (
          SELECT nn.g, q, (nn.n - 1) * q AS h,
                 CAST(floor((nn.n - 1) * q) AS BIGINT) AS lo_i,
                 CAST(ceil((nn.n - 1) * q) AS BIGINT) AS hi_i
          FROM qs, nn
        ),
        vv AS (
          SELECT hh.g, hh.q, hh.h, hh.lo_i,
                 max(CASE WHEN s.i = hh.lo_i THEN s.v END) AS v_lo,
                 max(CASE WHEN s.i = hh.hi_i THEN s.v END) AS v_hi
          FROM hh JOIN s ON s.g = hh.g AND (s.i = hh.lo_i OR s.i = hh.hi_i)
          GROUP BY hh.g, hh.q, hh.h, hh.lo_i
        )
        SELECT g AS l_returnflag, q AS quantile,
               floor((v_lo + (h - lo_i) * (v_hi - v_lo)) * 10000 + 0.5) / 10000
                 AS value
        FROM vv
    """,
    doc="Exact per-group quantiles with no per-group sort: broadcast-state histogram narrowing, plan invariant in group count.",
    tags=("agg", "quantile", "ext", "scale"),
)
def grouped_quantile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of l_extendedprice PER RETURN FLAG — the grouped
    form of `quantile_two_pass_exact`. `percentile()` within a group
    buffers that group's values on one executor (the OOM cliff when one
    group holds a trillion rows); this form never materializes a group
    anywhere: each pass is one broadcast join + one bounded aggregate,
    identical plan at 3 or 3M groups, O(log_256 max_n_g) passes total
    because every group narrows JOINTLY in the same scan.

    The final interpolation runs the same IEEE double ops as the DuckDB
    oracle (see `quantile_two_pass_exact`), so the hash check is exact.
    """
    import math

    # NULL measures excluded explicitly on BOTH sides: the narrowing
    # engine's min/max skip NULLs while the oracle's row_number would
    # count them, so rank arithmetic must agree on the population.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .select(F.col("l_returnflag").alias("g"), F.col("l_extendedprice").alias("v"))
    )
    # One fused per-group scan yields counts AND the engine's (min, max)
    # stats (r13, guide §2.4): previously the count aggregate here and the
    # engine's stats aggregate each ran a full scan.
    gstats = {
        r.g: (float(r.mn), float(r.mx), int(r.n))
        for r in li.groupBy("g")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    counts = {g: n for g, (_mn, _mx, n) in gstats.items()}
    if not counts:
        return local_frame(spark, [], "l_returnflag string, quantile double, value double")
    needs = {}
    for g, n in counts.items():
        ranks = set()
        for q in QT_TARGETS:
            h = (n - 1) * q
            ranks.add(math.floor(h))
            ranks.add(math.ceil(h))
        needs[g] = ranks
    resolved, _passes = exact_grouped_order_statistics(li, needs, gstats=gstats)
    out = []
    for g, n in counts.items():
        for q in QT_TARGETS:
            h = (n - 1) * q
            lo_i, hi_i = math.floor(h), math.ceil(h)
            v_lo, v_hi = resolved[(g, lo_i)], resolved[(g, hi_i)]
            val = math.floor((v_lo + (h - lo_i) * (v_hi - v_lo)) * 10000 + 0.5) / 10000
            out.append((g, float(q), val))
    return local_frame(spark, out, "l_returnflag string, quantile double, value double")


# ---------------------------------------------------------------------------
# [EXT r5] Multiple exact distinct counts WITHOUT the Expand blow-up
# ---------------------------------------------------------------------------
@register(
    "distinct_multi_two_phase",
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Several exact distinct counts per group via independent two-phase aggregations joined on the group key — no Expand, input scanned once per distinct instead of multiplied through one shuffle.",
    tags=("agg", "ext", "scale"),
)
def distinct_multi_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``count(DISTINCT a), count(DISTINCT b)`` in ONE aggregate makes
    Catalyst plan an Expand that replicates every input row once per
    distinct expression before a single giant shuffle — at 100 TB that
    triples the shuffle volume and concentrates all dedup state in one
    exchange. The scale-safe rewrite: each distinct count becomes its own
    two-phase pipeline — phase 1 ``groupBy(key, col)`` (map-side
    combinable; dedup spreads over the full (key, col) keyspace), phase 2
    ``groupBy(key).count()`` — and the per-column results join back on the
    bounded group key. ``n_rows`` rides phase 2 as ``sum`` of phase-1
    counts, exact. tests/test_r5_new_ops.py pins Expand OUT of this plan
    and IN the naive one.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey", "l_suppkey"
    )

    def two_phase(col: str, out: str) -> DataFrame:
        p1 = li.groupBy("l_returnflag", col).agg(F.count(F.lit(1)).alias("c"))
        return p1.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).cast("long").alias(out),
            F.sum("c").cast("long").alias(f"_rows_{out}"),
        )

    parts = two_phase("l_partkey", "n_parts")
    supps = two_phase("l_suppkey", "n_supps").drop("_rows_n_supps")
    return (
        parts.join(supps, "l_returnflag")
        .withColumnRenamed("_rows_n_parts", "n_rows")
        .select("l_returnflag", "n_parts", "n_supps", "n_rows")
    )


@register(
    "intersect_all_order_priorities",
    oracle="""
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
        INTERSECT ALL
        SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="Bag-semantics INTERSECT ALL (intersectAll): per-value multiplicity is min(count_left, count_right) — completes the multiset set-op family beside exceptAll.",
    tags=("setop", "ext"),
)
def intersect_all_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersectAll — the multiset intersection twin of
    `except_all_order_priorities`: each priority value survives with
    multiplicity min(count_open(v), count_filled(v)), exposing the
    OVERLAP volume per value where exceptAll exposes the imbalance.

    Scale: same aggregated plan class as exceptAll — Spark rewrites to a
    per-value count pair + generator re-expansion, one shuffle on the
    value, never a row-by-row join.
    """
    o = load_table(spark, sf_dir, "orders")
    open_p = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    filled_p = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return open_p.intersectAll(filled_p)


@register(
    "union_by_name_schema_drift",
    oracle="""
        SELECT 'v1' AS src, user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(NULL AS BIGINT) AS revenue_cents
        FROM events WHERE event_type = 'click' GROUP BY user_id
        UNION ALL BY NAME
        SELECT CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS revenue_cents,
               CAST(count(*) AS BIGINT) AS n,
               user_id, 'v2' AS src
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    """,
    doc="unionByName(allowMissingColumns=True): schema-drifted extracts align by COLUMN NAME, missing columns null-fill — positional UNION ALL would silently mis-align or reject.",
    tags=("setop", "ext"),
)
def union_by_name_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append two pipeline-version extracts whose schemas drifted: v2
    added a `revenue_cents` column and reordered fields. `unionByName`
    aligns by NAME and `allowMissingColumns=True` null-fills v1's missing
    column — the union a long-lived ingestion pipeline actually needs
    (positional UNION ALL would pair `n` with `user_id` after the
    reorder: a silent corruption, not an error, when types coincide).

    Scale: pure metadata — the alignment is a per-branch projection
    inserted at plan time; no extra shuffle, no row cost. The two
    branches keep their own partial-agg plans.
    """
    ev = load_table(spark, sf_dir, "events")
    v1 = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("v1").alias("src"), "user_id", "n")
    )
    v2 = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select("revenue_cents", "n", "user_id", F.lit("v2").alias("src"))
    )
    return v1.unionByName(v2, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# [EXT r6] Robust outlier detection: grouped median + MAD, order-statistic
# exact (no interpolation, no engine-divergent FP anywhere).
# ---------------------------------------------------------------------------
MAD_K = 3  # flag |x - med| > K * MAD


@register(
    "mad_price_outliers",
    oracle=f"""
        WITH c AS (
          SELECT l_returnflag AS g, l_extendedprice AS v,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_extendedprice) AS rn,
                 count(*) OVER (PARTITION BY l_returnflag) AS n
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL
        ),
        med AS (
          SELECT g, min(v) AS med FROM c WHERE rn >= (n + 1) // 2 GROUP BY g
        ),
        d AS (
          SELECT c.g, c.v, abs(c.v - med.med) AS dev, med.med
          FROM c JOIN med ON med.g = c.g
        ),
        dr AS (
          SELECT g, dev, med,
                 row_number() OVER (PARTITION BY g ORDER BY dev) AS rn,
                 count(*) OVER (PARTITION BY g) AS n
          FROM d
        ),
        mad AS (
          SELECT g, min(dev) AS mad FROM dr WHERE rn >= (n + 1) // 2 GROUP BY g
        )
        SELECT d.g AS l_returnflag,
               min(d.med) AS med,
               min(mad.mad) AS mad,
               CAST(sum(CASE WHEN d.dev > {MAD_K} * mad.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM d JOIN mad ON mad.g = d.g
        GROUP BY d.g
    """,
    doc="Robust outliers per group: lower median + median-absolute-deviation, |x-med| > 3*MAD flagged. Lower (order-statistic) medians — zero interpolation, so the cross-engine hash is exact.",
    tags=("agg", "quantile", "curation", "ext"),
)
def mad_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen — the robust alternative to
    z-scores (`events_rate_anomaly_zscore`) when the data itself is
    contaminated: median and MAD have a 50% breakdown point where mean/std
    have 0%. Classic numeric-feature curation stage.

    Determinism: both medians are the LOWER median (the ⌈n/2⌉-th order
    statistic — min over the rank suffix, immune to tie ordering), never
    the interpolated midpoint, so no arithmetic happens that could differ
    across engines; |x - med| and the K·MAD threshold are single IEEE ops
    on identical doubles.

    Scale: BOTH medians resolve through the histogram-narrowing engine
    (`exact_grouped_order_statistics` — broadcast-state join, bounded
    per-pass shuffle, plan invariant in group count): the median from a
    narrowing over v, the MAD from a second narrowing over |x−med|. No
    per-group sort anywhere — the window formulation (the oracle) was
    measured 6.6× at 10× data because each group's sort runs on ONE
    partition; this form re-measured 1.79× (absolute cost at small SF is higher — ~6 narrowing scans — but it cannot cliff).
    """
    # NULL measures excluded explicitly on BOTH sides: the narrowing
    # engine's min/max skip NULLs while the oracle's row_number would
    # count them, so rank arithmetic must agree on the population.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .select(F.col("l_returnflag").alias("g"), F.col("l_extendedprice").alias("v"))
    )
    # Fused per-group scan: counts + the first narrowing's (min, max)
    # stats in one pass (r13, guide §2.4 — same fusion as
    # grouped_quantile_exact). The second narrowing (over |x-med|) keeps
    # its internal stats scan: its input doesn't exist yet here.
    gstats = {
        r.g: (float(r.mn), float(r.mx), int(r.n))
        for r in li.groupBy("g")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    counts = {g: n for g, (_mn, _mx, n) in gstats.items()}
    if not counts:
        return local_frame(
            spark, [], "l_returnflag string, med double, mad double, n_outliers long"
        )
    # Lower median = the ⌈n/2⌉-th smallest = 0-based rank (n+1)//2 - 1.
    ranks = {g: (n + 1) // 2 - 1 for g, n in counts.items()}
    med_vals, _ = exact_grouped_order_statistics(
        li, {g: {k} for g, k in ranks.items()}, gstats=gstats
    )
    meds = local_frame(
        spark, [(g, med_vals[(g, k)]) for g, k in ranks.items()], "g string, med double"
    )
    d = li.join(F.broadcast(meds), "g").select(
        "g", "v", "med", F.abs(F.col("v") - F.col("med")).alias("dev")
    )
    mad_vals, _ = exact_grouped_order_statistics(
        d.select("g", F.col("dev").alias("v")), {g: {k} for g, k in ranks.items()}
    )
    mads = local_frame(
        spark, [(g, mad_vals[(g, k)]) for g, k in ranks.items()], "g string, mad double"
    )
    return (
        d.join(F.broadcast(mads), "g")
        .groupBy("g")
        .agg(
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(F.col("dev") > MAD_K * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .withColumnRenamed("g", "l_returnflag")
    )


# ---------------------------------------------------------------------------
# [EXT r8] Bucketed table checksums — anti-entropy reconciliation: compare
# two copies of a 100 TB table WITHOUT moving rows, by comparing bounded
# per-bucket fingerprints (the Merkle/anti-entropy pattern replication
# and lakehouse sync jobs run).
# ---------------------------------------------------------------------------
CHK_BUCKETS = 64
CHK_P = SAMPLE_P  # Lehmer modulus 2^31-1
CHK_A = TAKESAMPLE_A  # proven Fishman-Moore multiplier (wraps sequential keys)


@register(
    "table_checksum_buckets",
    oracle=f"""
        WITH rows_h AS (
          SELECT o_orderkey % {CHK_BUCKETS} AS bucket,
                 ((o_orderkey % {CHK_P}) * {CHK_A}
                  + CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % {CHK_P}
                  + CAST(o_custkey AS BIGINT)) % {CHK_P} AS rh
          FROM orders
        )
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(rh) % {CHK_P} AS BIGINT) AS checksum
        FROM rows_h GROUP BY bucket
    """,
    doc=f"Per-bucket row-count + order-free modular checksum over orders ({CHK_BUCKETS} key buckets, portable Lehmer row hash): two table copies reconcile by comparing {CHK_BUCKETS} fingerprint rows instead of shipping rows — the anti-entropy primitive.",
    tags=("relational", "quality", "ext", "scale"),
)
def table_checksum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How 100 TB tables get compared: not row-by-row, but by exchanging
    bounded per-bucket fingerprints — if a bucket's (count, checksum)
    matches, its rows are (overwhelmingly likely) identical and never
    move; a mismatched bucket narrows the diff to 1/{CHK_BUCKETS} of the
    keyspace (recurse or re-sync just that slice). This is the
    anti-entropy / Merkle-tree pattern behind replica repair, CDC
    validation, and lake-copy verification — and the honest companion to
    `cdc_snapshot_diff`, which ships rows to find diffs.

    The checksum must be ORDER-FREE (partitions scan in any order) and
    engine-portable: each row hashes through the proven Lehmer map of
    (key, cents, custkey) and the bucket checksum is the SUM mod P —
    commutative, associative, integer-exact. A content change anywhere
    flips the bucket's sum with probability 1 - 1/P.

    Scale: one map-side-combinable aggregate; the shuffle is
    {CHK_BUCKETS} rows at ANY table size. The bucket key is o_orderkey
    mod {CHK_BUCKETS}, so both copies bucket identically without
    coordination.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    rh = (
        F.pmod(F.col("o_orderkey"), CHK_P) * CHK_A
        + F.pmod(cents, CHK_P)
        + F.col("o_custkey").cast("long")
    ) % CHK_P
    return (
        o.select(
            F.pmod(F.col("o_orderkey"), CHK_BUCKETS).alias("bucket"),
            rh.alias("rh"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.pmod(F.sum("rh"), CHK_P).cast("long").alias("checksum"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r8] Range-partition boundary planning: exact quantile split points
# + the per-partition row counts they imply — what repartitionByRange /
# Z-order writers need BEFORE shuffling 100 TB.
# ---------------------------------------------------------------------------
RPB_PARTS = 8


@register(
    "range_partition_boundaries",
    oracle=f"""
        WITH vals AS (
          SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders
        ),
        -- rank arithmetic over DISTINCT values, not rows: the per-value
        -- count aggregate is distributed/map-side; only the (bounded)
        -- distinct-value series enters the ordered cumulative pass
        per_value AS (
          SELECT cents, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY cents
        ),
        cum AS (
          SELECT cents,
                 CAST(sum(c) OVER (ORDER BY cents) AS BIGINT) AS cumrows,
                 CAST(sum(c) OVER () AS BIGINT) AS n
          FROM per_value
        ),
        bounds AS (
          SELECT CAST(p.p AS BIGINT) AS part_idx,
                 min(CASE WHEN (p.p * n) // {RPB_PARTS} >= 1
                           AND cumrows >= (p.p * n) // {RPB_PARTS}
                          THEN cents END) AS upper_cents
          FROM cum, range(1, {RPB_PARTS} + 1) AS p(p)
          GROUP BY p.p
        ),
        edges AS (
          SELECT part_idx, upper_cents,
                 coalesce(lag(upper_cents) OVER (ORDER BY part_idx), -1)
                   AS lower_cents
          FROM bounds
        ),
        counted AS (
          SELECT e.part_idx, e.upper_cents,
                 CAST(count(*) AS BIGINT) AS n_rows
          FROM edges e JOIN vals v
            ON v.cents > e.lower_cents AND v.cents <= e.upper_cents
          GROUP BY e.part_idx, e.upper_cents
        )
        SELECT part_idx, upper_cents, n_rows FROM counted
    """,
    doc=f"Range-partitioner planning: exact {RPB_PARTS}-quantile split points over order value plus the row count each range actually receives — the boundary table a repartitionByRange/Z-order write needs, computed before any data shuffles.",
    tags=("relational", "window", "ext", "scale"),
)
def range_partition_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's repartitionByRange samples to pick boundaries; a skewed or
    adversarial column makes sampled boundaries lopsided, and at 100 TB a
    2x-overloaded range partition is a straggler that doubles the job.
    This operator computes EXACT rank-based split points (the k·n/{RPB_PARTS}
    order statistics) and audits the row count each range would receive —
    the planning table you persist and feed to range writes, Z-ordering,
    or external sort-merge jobs. Duplicate-heavy columns show up honestly:
    repeated boundary values collapse ranges (a range can receive 0 rows),
    which IS the signal that range partitioning needs a tiebreaker column.

    Exactness: the value at rank r is min{v : cum(v) >= r} over the
    per-value cumulative counts — identical in both engines, duplicates
    handled by construction; counts are integers. Partition RPB_PARTS is
    the final range (its bound is the global max) so the audit covers
    every row; ranks of 0 (n < RPB_PARTS) yield NULL bounds.

    Scale (measured, r8): the per-value count is a distributed map-side-
    combinable aggregate; the only serial pass — a global-order window is
    ALWAYS a single partition in Spark — runs over DISTINCT values, which
    a bounded value domain keeps small (quantize continuous domains
    first). The first cut ranked ROWS instead, and the 30x curve caught
    the serialization (7.0x wall for 3x data). The sketch-backed sibling
    (`quantile_sketch_rollup_monthly`) remains the choice when even the
    distinct-value pass is too much.
    """
    o = load_table(spark, sf_dir, "orders")
    vals = o.select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents")
    )
    # per-value counts are a distributed map-side-combinable aggregate;
    # the ordered cumulative window then runs over DISTINCT values only.
    # (A row_number() over all rows was the r8 first cut — a global-order
    # window is a SINGLE-partition pass over the whole fact table, and the
    # 30x curve measured the serialization: 7.0x wall for 3x data. Over
    # distinct values the serial pass is value-domain-bounded; quantize
    # continuous domains first.)
    per_value = vals.groupBy("cents").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wv = Window.orderBy("cents")
    cum = per_value.select(
        "cents",
        F.sum("c").over(wv).cast("long").alias("cumrows"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
    )
    parts = spark.range(1, RPB_PARTS + 1).select(F.col("id").alias("part_idx"))
    r_k = F.floor((F.col("part_idx") * F.col("n")) / RPB_PARTS).cast("long")
    bounds = (
        cum.crossJoin(F.broadcast(parts))
        .groupBy("part_idx")
        .agg(
            F.min(
                F.when((r_k >= 1) & (F.col("cumrows") >= r_k), F.col("cents"))
            ).alias("upper_cents")
        )
    )
    we = Window.orderBy("part_idx")
    edges = bounds.select(
        "part_idx",
        "upper_cents",
        F.coalesce(F.lag("upper_cents").over(we), F.lit(-1)).alias("lower_cents"),
    )
    return (
        vals.join(
            F.broadcast(edges),
            (F.col("cents") > F.col("lower_cents"))
            & (F.col("cents") <= F.col("upper_cents")),
        )
        .groupBy("part_idx", "upper_cents")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# [EXT r9b] Merkle level hierarchy over the bucket checksums — the full
# anti-entropy descent structure: a diff is localized by reading
# O(fanout * depth) fingerprints, not by comparing all leaves.
# ---------------------------------------------------------------------------
MERKLE_FANOUT = 4
MERKLE_LEVELS = 4  # 64 leaves -> 16 -> 4 -> 1 root (levels 0..3)


@register(
    "merkle_tree_levels",
    oracle=f"""
        WITH rows_h AS (
          SELECT o_orderkey % {CHK_BUCKETS} AS bucket,
                 ((o_orderkey % {CHK_P}) * {CHK_A}
                  + CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % {CHK_P}
                  + CAST(o_custkey AS BIGINT)) % {CHK_P} AS rh
          FROM orders
        ),
        leaves AS (
          SELECT bucket,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(rh) % {CHK_P} AS BIGINT) AS checksum
          FROM rows_h GROUP BY bucket
        ),
        lvls AS (
          SELECT CAST(l.level AS BIGINT) AS level,
                 CAST(bucket // (1 << CAST(2 * l.level AS INTEGER)) AS BIGINT)
                   AS node,
                 CAST(sum(n_rows) AS BIGINT) AS n_rows,
                 CAST(sum(checksum) % {CHK_P} AS BIGINT) AS checksum
          FROM leaves
          CROSS JOIN (SELECT unnest(range({MERKLE_LEVELS})) AS level) l
          GROUP BY 1, 2
        )
        SELECT level, node, n_rows, checksum FROM lvls
    """,
    doc=f"Merkle hierarchy over the order-free bucket checksums: {CHK_BUCKETS} leaves roll up by fanout {MERKLE_FANOUT} to one root, each node's fingerprint the modular sum of its subtree's row hashes (commutative, so node == recomputation over the union) — two replicas localize a diff by descending mismatched nodes, reading {MERKLE_FANOUT}x{MERKLE_LEVELS} fingerprints instead of {CHK_BUCKETS} leaves.",
    tags=("relational", "quality", "ext", "scale"),
)
def merkle_tree_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`table_checksum_buckets` gives the LEAVES; replica repair descends
    a TREE: compare roots (1 row) — equal means done; on mismatch fetch
    the {MERKLE_FANOUT} children, recurse into the unequal ones, and
    reach the divergent leaf in log_{MERKLE_FANOUT}({CHK_BUCKETS}) round
    trips. Because the row hash is summed under a commutative modulus,
    every internal node equals BOTH the sum of its children's checksums
    AND a direct recomputation over its key range — the identity the
    test pins, and the reason incremental maintenance works (a changed
    row updates one path root-to-leaf).

    Scale: ONE map-side-combinable leaf aggregate over the fact scan
    (the {CHK_BUCKETS}-row shuffle of table_checksum_buckets); the tree
    above is built from the 64 leaf rows — metadata-sized work. Output
    is {CHK_BUCKETS} + 16 + 4 + 1 rows at any table size.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    rh = (
        F.pmod(F.col("o_orderkey"), CHK_P) * CHK_A
        + F.pmod(cents, CHK_P)
        + F.col("o_custkey").cast("long")
    ) % CHK_P
    leaves = (
        o.select(
            F.pmod(F.col("o_orderkey"), CHK_BUCKETS).alias("bucket"),
            rh.alias("rh"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.pmod(F.sum("rh"), CHK_P).cast("long").alias("checksum"),
        )
    )
    lv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(l).cast("long").alias("level"),
                    F.lit(MERKLE_FANOUT**l).cast("long").alias("w"),
                )
                for l in range(MERKLE_LEVELS)
            ]
        )
    ).alias("lv")
    return (
        leaves.select("bucket", "n_rows", "checksum", lv)
        .groupBy(
            F.col("lv.level").alias("level"),
            (F.col("bucket") / F.col("lv.w")).cast("long").alias("node"),
        )
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.pmod(F.sum("checksum"), CHK_P).cast("long").alias("checksum"),
        )
    )
