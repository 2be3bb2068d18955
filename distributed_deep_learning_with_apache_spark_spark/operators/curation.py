"""Corpus-curation operators for LLM training-data pipelines ([EXT], §2.13).

Four production curation stages beyond dedup/similarity (see dedup.py,
similarity.py), each deterministic and DuckDB-oracle-checked:

- benchmark decontamination: n-gram overlap of every training doc against a
  held-out eval set (the standard "did the benchmark leak into the training
  corpus?" gate);
- repetition signals: Gopher-style within-document repetition features
  (top-token share, duplicate-2-gram fraction) used as quality filters;
- C4-style chunk dedup: split each doc into fixed-width token chunks and
  keep only the corpus-wide first occurrence of each chunk;
- stratified hash sampling: per-language downsampling by a deterministic
  md5 bucket — reproducible across engines, partitionings, and reruns
  (unlike Bernoulli `sample`, which is partitioning-dependent; cf.
  setops.sample_seeded).

Scale posture: the benchmark n-gram set is eval-benchmark-sized (thousands
of docs) even when the corpus is 100 TB, so it is collapsed to one array
row and broadcast — the contamination check is then a per-row JVM
expression with no shuffle at all. Repetition and sampling are pure
per-row expressions (no shuffle); chunk dedup shuffles once on chunk text,
which is exactly the minimum any global-dedup semantics needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import DUCK_TOKENS, tokens
from ..registry import register
from ..sources.catalog import load_table
from .dedup import DUCK_SHINGLES, shingles

# Held-out "benchmark" subset: every 19th doc stands in for an eval set.
BENCH_MOD = 19
# A doc counts as contaminated when at least half its shingles appear in
# the benchmark set.
CONTAM_SHARE = 0.5

_DUCK_TOKS = DUCK_TOKENS.format(col="text")


# ---------------------------------------------------------------------------
# Benchmark decontamination by n-gram overlap
# ---------------------------------------------------------------------------
@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
        WITH bench AS (
          SELECT DISTINCT unnest({DUCK_SHINGLES}) AS gram
          FROM documents WHERE doc_id % {BENCH_MOD} = 0
        ),
        bench_arr AS (SELECT list(gram) AS grams FROM bench),
        scored AS (
          SELECT doc_id,
                 len({DUCK_SHINGLES}) AS n_shingles,
                 len(list_intersect({DUCK_SHINGLES}, grams)) AS n_overlap
          FROM documents CROSS JOIN bench_arr WHERE doc_id % {BENCH_MOD} <> 0
        )
        SELECT doc_id, n_shingles, n_overlap,
               round(n_overlap * 1.0 / greatest(n_shingles, 1), 6) AS overlap_share,
               CASE WHEN n_overlap * 1.0 / greatest(n_shingles, 1) >= {CONTAM_SHARE}
                    THEN 1 ELSE 0 END AS contaminated
        FROM scored
    """,
    tags=("curation", "ext", "dedup"),
    bench=True,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training doc, the share of its
    3-token shingles that also occur in the held-out benchmark subset
    (doc_id % 19 == 0); docs at ≥ 50% overlap are flagged.

    Scale: the benchmark shingle set is aggregated to ONE array row and
    broadcast (eval benchmarks stay small no matter how big the corpus
    is), so contamination scoring is a shuffle-free per-row
    array_intersect — the same vocab-broadcast pattern as
    textpipe.doc_embedding_avg. Were the reference set ever too big to
    broadcast, the fallback is the explode + semi-join + groupBy count
    plan (one shuffle on gram).
    """
    d = load_table(spark, sf_dir, "documents")
    sh = shingles()
    bench_arr = (
        d.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode(sh).alias("gram"))
        .agg(F.collect_set("gram").alias("grams"))
    )
    n_overlap = F.size(F.array_intersect(F.col("sh"), F.col("grams")))
    share = n_overlap / F.greatest(F.size("sh"), F.lit(1))
    return (
        d.filter(F.col("doc_id") % BENCH_MOD != 0)
        .select("doc_id", sh.alias("sh"))
        .crossJoin(F.broadcast(bench_arr))
        .select(
            "doc_id",
            F.size("sh").alias("n_shingles"),
            n_overlap.alias("n_overlap"),
            F.round(share, 6).alias("overlap_share"),
            F.when(share >= CONTAM_SHARE, 1).otherwise(0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition signals
# ---------------------------------------------------------------------------
@register(
    "repetition_signals",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
        ),
        tok_counts AS (
          SELECT doc_id, tok, count(*) AS c
          FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
          GROUP BY doc_id, tok
        ),
        tok_stats AS (
          SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok
          FROM tok_counts GROUP BY doc_id
        ),
        grams AS (
          SELECT doc_id,
                 [t[i] || ' ' || t[i + 1] for i in generate_series(1, greatest(len(t) - 1, 0))] AS g2
          FROM toks
        )
        SELECT s.doc_id,
               CAST(s.n_tok AS BIGINT) AS n_tokens,
               round(s.top_c * 1.0 / s.n_tok, 6) AS top_token_share,
               round(1.0 - len(list_distinct(g.g2)) * 1.0 / greatest(len(g.g2), 1), 6)
                 AS dup_2gram_frac
        FROM tok_stats s JOIN grams g ON g.doc_id = s.doc_id
    """,
    tags=("curation", "ext", "text"),
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition features (Gopher quality-filter family):
    most-frequent-token share and duplicate-2-gram fraction.

    The 2-gram stats are pure per-row array expressions (zip_with of two
    shifted slices — no explode, no shuffle). The token mode needs a real
    per-(doc, token) count, so that half does one map-side-combinable
    hash agg; the two halves meet on an equi-join on doc_id. Docs with no
    tokens drop out (no rows to count), matching the oracle's inner join.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = tokens("text")

    tok_stats = (
        d.select("doc_id", F.explode(tok).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_tok"))
    )

    length = F.greatest(F.size(tok) - 1, F.lit(0))
    g2 = F.zip_with(
        F.slice(tok, 1, length), F.slice(tok, 2, length), lambda a, b: F.concat_ws(" ", a, b)
    )
    grams = d.select("doc_id", g2.alias("g2"))

    return tok_stats.join(grams, "doc_id").select(
        "doc_id",
        F.col("n_tok").alias("n_tokens"),
        F.round(F.col("top_c") / F.col("n_tok"), 6).alias("top_token_share"),
        F.round(
            1.0 - F.size(F.array_distinct("g2")) / F.greatest(F.size("g2"), F.lit(1)), 6
        ).alias("dup_2gram_frac"),
    )


# ---------------------------------------------------------------------------
# C4-style chunk-level exact dedup (keep the corpus-wide first occurrence)
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 8


@register(
    "chunk_dedup_c4",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
        ),
        chunk_lists AS (
          SELECT doc_id,
                 [array_to_string(list_slice(t, i * {CHUNK_TOKENS} + 1, (i + 1) * {CHUNK_TOKENS}), ' ')
                  for i in generate_series(0, CAST(ceil(len(t) / {CHUNK_TOKENS}.0) AS BIGINT) - 1)]
                   AS chunks
          FROM toks WHERE len(t) > 0
        ),
        chunks AS (
          SELECT doc_id,
                 generate_subscripts(chunks, 1) - 1 AS chunk_idx,
                 unnest(chunks) AS chunk_text
          FROM chunk_lists
        ),
        ranked AS (
          SELECT doc_id, chunk_idx,
                 row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id ASC, chunk_idx ASC)
                   AS rn
          FROM chunks
        )
        SELECT doc_id,
               count(*) AS n_chunks,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               round(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS kept_share
        FROM ranked GROUP BY doc_id
    """,
    tags=("curation", "ext", "dedup"),
)
def chunk_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup: cut each doc into fixed 8-token chunks and keep
    only the corpus-wide first occurrence (min (doc_id, chunk_idx)) of each
    distinct chunk text; report per-doc survival.

    One shuffle, on chunk_text (the window partition key) — the minimum for
    any global first-wins semantics. Chunk construction is a per-row
    transform over an index sequence; no self-join, no quadratic stage. At
    100 TB the chunk_text key space is huge and uniform (hashed strings),
    so the shuffle is skew-free; AQE coalesces the tail partitions.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = tokens("text")
    n_chunks = F.ceil(F.size("t") / F.lit(float(CHUNK_TOKENS))).cast("long")
    chunk_at = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("t"), i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "
    )
    chunks = (
        d.select("doc_id", tok.alias("t"))
        .filter(F.size("t") > 0)
        .select(
            "doc_id",
            F.posexplode(F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk_at)).alias(
                "chunk_idx", "chunk_text"
            ),
        )
    )
    w = Window.partitionBy("chunk_text").orderBy(F.col("doc_id").asc(), F.col("chunk_idx").asc())
    kept = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
    return (
        chunks.select("doc_id", F.row_number().over(w).alias("rn"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            kept.alias("n_kept"),
            F.round(kept / F.count(F.lit(1)), 6).alias("kept_share"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling by md5 bucket
# ---------------------------------------------------------------------------
# Per-language keep rates (per-mille). Engine-portable determinism: the
# bucket is derived from the first two md5 hex chars of the doc_id string —
# identical in Spark and DuckDB, independent of partitioning.
LANG_RATES_PERMILLE: dict[str, int] = {"en": 500, "zh": 300, "es": 200, "fr": 200, "de": 100}
_DEFAULT_PERMILLE = 100

_DUCK_BUCKET = (
    "(ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256"
    " + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 1000"
)
_DUCK_RATE = (
    "CASE "
    + " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in LANG_RATES_PERMILLE.items())
    + f" ELSE {_DEFAULT_PERMILLE} END"
)


@register(
    "sample_stratified_hash",
    oracle=f"""
        SELECT doc_id, lang, {_DUCK_BUCKET} AS bucket
        FROM documents
        WHERE {_DUCK_BUCKET} < {_DUCK_RATE}
    """,
    tags=("curation", "ext", "sample"),
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling at per-language rates (en 50%, zh 30%,
    es/fr 20%, de 10%) keyed on a deterministic md5 bucket of doc_id.

    Unlike Bernoulli `df.sample` / `sampleBy` (partitioning-dependent RNG,
    rows-only checkable), the hash gate is a pure per-row predicate:
    reproducible across engines and reruns, stable under repartitioning,
    and — critically for pipelines — a rerun after appending data keeps
    every previously-sampled row. Shuffle-free; the predicate evaluates
    inside the scan stage.
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))) % 1000
    rate = F.lit(_DEFAULT_PERMILLE)
    for lang, permille in reversed(LANG_RATES_PERMILLE.items()):
        rate = F.when(F.col("lang") == lang, permille).otherwise(rate)
    return d.select("doc_id", "lang", bucket.alias("bucket")).filter(
        F.col("bucket") < rate
    )


# ---------------------------------------------------------------------------
# The composed nightly curation run: gate → dedup → sample → stats
# ---------------------------------------------------------------------------
@register(
    "corpus_curation_pipeline",
    oracle=f"""
        WITH gated AS (
          SELECT doc_id, lang, text
          FROM documents
          WHERE length(text) >= 100
            AND len({_DUCK_TOKS}) >= 20
            AND len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) * 1.0
                / greatest(length(text), 1) < 0.1
        ),
        deduped AS (
          SELECT doc_id, lang, text
          FROM (SELECT *, row_number() OVER (PARTITION BY md5(text)
                                             ORDER BY doc_id ASC) AS rn
                FROM gated)
          WHERE rn = 1
        ),
        sampled AS (
          SELECT doc_id, lang, text FROM deduped WHERE {_DUCK_BUCKET} < 500
        )
        SELECT lang, count(*) AS n_docs,
               sum(len({_DUCK_TOKS}))::BIGINT AS total_tokens
        FROM sampled GROUP BY lang
    """,
    tags=("curation", "ext", "pipeline"),
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation run: quality gate → exact dedup (first-wins) →
    deterministic 50% hash sample → per-language corpus stats.

    Each stage is oracle-checked individually above (`text_quality`,
    `dedup_exact_survivors`, `sample_stratified_hash`); this checks the
    COMPOSITION, which is what actually ships. One Catalyst plan: the
    quality gate and the hash-sample are scan-stage predicates (no
    shuffle), the dedup is the single shuffle (hash of text), the final
    stats a 5-group agg — so the nightly 100 TB run is one pass over the
    corpus plus one dedup shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = tokens("text")
    punct = F.regexp_count("text", F.lit("[^a-zA-Z0-9 ]"))
    gated = d.filter(
        (F.length("text") >= 100)
        & (F.size(tok) >= 20)
        & (punct / F.greatest(F.length("text"), F.lit(1)) < 0.1)
    )
    w = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    deduped = gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))) % 1000
    sampled = deduped.filter(bucket < 500)
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tok)).cast("long").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk) for pre-training batch assembly
# ---------------------------------------------------------------------------
SEQ_LEN = 256  # context length of the packed training sequences


@register(
    "pack_sequences",
    oracle=f"""
        WITH lens AS (
          SELECT doc_id, source, len({_DUCK_TOKS}) AS n_tokens FROM documents
        ),
        placed AS (
          SELECT doc_id, source, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS stream_offset
          FROM lens WHERE n_tokens > 0
        )
        SELECT doc_id, source, n_tokens, stream_offset,
               stream_offset // {SEQ_LEN} AS first_bin,
               (stream_offset + n_tokens - 1) // {SEQ_LEN} AS last_bin,
               (stream_offset + n_tokens - 1) // {SEQ_LEN}
                 - stream_offset // {SEQ_LEN} + 1 AS bins_spanned
        FROM placed
    """,
    tags=("curation", "ext", "scale"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: within each source
    shard, documents are laid end-to-end in doc_id order into one token
    stream, which is then cut into fixed SEQ_LEN training sequences. Each
    doc's placement is fully determined by the running token count: its
    stream offset, the first/last sequence (bin) it lands in, and how many
    bins it spans (docs crossing a boundary are split, per standard
    pre-training practice).

    Scale shape: packing is shard-local by design — the window partitions
    by source, so shards pack in parallel and no global total-order sort
    exists anywhere (a single corpus-wide stream would serialize the run
    at 100 TB; per-shard streams are what production pipelines pack).
    The whole op is one shuffle (the window partition) over
    (doc_id, source, n_tokens) triples — the text itself never moves.
    """
    d = load_table(spark, sf_dir, "documents")
    lens = d.select("doc_id", "source", F.size(tokens("text")).alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = lens.withColumn(
        "stream_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    last_tok = F.col("stream_offset") + F.col("n_tokens") - 1
    first_bin = F.floor(F.col("stream_offset") / SEQ_LEN).cast("long")
    last_bin = F.floor(last_tok / SEQ_LEN).cast("long")
    return placed.select(
        "doc_id",
        "source",
        "n_tokens",
        "stream_offset",
        first_bin.alias("first_bin"),
        last_bin.alias("last_bin"),
        (last_bin - first_bin + 1).alias("bins_spanned"),
    )


# ---------------------------------------------------------------------------
# Domain-mixture resampling: hit target per-source shares exactly
# ---------------------------------------------------------------------------
# Target corpus mixture (e.g. boost a curated source, cap raw crawl).
MIX_WEIGHTS = {"src0": 0.3, "src1": 0.2}
MIX_DEFAULT_W = 0.5 / 18  # remaining mass spread over the other 18 sources

_MIX_CASE = "CASE source " + " ".join(
    f"WHEN '{s}' THEN CAST({w!r} AS DOUBLE)" for s, w in MIX_WEIGHTS.items()
) + f" ELSE CAST({MIX_DEFAULT_W!r} AS DOUBLE) END"


@register(
    "mix_domains_to_target",
    oracle=f"""
        WITH w AS (
          SELECT source, {_MIX_CASE} AS w, count(*) AS n_docs
          FROM documents GROUP BY source
        ),
        t AS (SELECT min(n_docs / w) AS tstar FROM w),
        kept AS (
          SELECT d.source
          FROM documents d JOIN w USING (source) CROSS JOIN t
          WHERE {_DUCK_BUCKET} < 1000 * w.w * t.tstar / w.n_docs
        ),
        k AS (SELECT source, count(*) AS n_kept FROM kept GROUP BY source),
        tot AS (SELECT sum(n_kept) AS total FROM k)
        SELECT w.source,
               w.n_docs,
               coalesce(k.n_kept, 0) AS n_kept,
               round(w.w, 6) + 0.0 AS target_share,
               round(coalesce(k.n_kept, 0) * 1.0 / tot.total, 6) + 0.0 AS realized_share
        FROM w LEFT JOIN k USING (source) CROSS JOIN tot
    """,
    tags=("curation", "ext", "sample", "scale"),
)
def mix_domains_to_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the corpus to a target per-source mixture (the LLM
    'data mixing' stage: boost curated sources, cap raw crawl) without
    replication: the achievable total T* = min_s(n_s / w_s) is the largest
    corpus hitting the target shares EXACTLY by downsampling alone; each
    source then keeps a deterministic md5-bucket fraction w_s·T*/n_s of
    its docs (same reproducibility contract as sample_stratified_hash).

    Scale shape: per-source counts are one tiny map-side-combined agg that
    broadcasts back; the keep gate is a scan-stage per-row predicate; the
    report is a sources-sized agg. The corpus itself is never shuffled.
    """
    d = load_table(spark, sf_dir, "documents")
    w_expr = F.lit(MIX_DEFAULT_W)
    for s, w in reversed(MIX_WEIGHTS.items()):
        w_expr = F.when(F.col("source") == s, F.lit(w)).otherwise(w_expr)
    wc = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs")).withColumn("w", w_expr)
    tstar = wc.agg(F.min(F.col("n_docs") / F.col("w")).alias("tstar"))
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))) % 1000
    kept = (
        d.select("source", bucket.alias("bucket"))
        .join(F.broadcast(wc), "source")
        .crossJoin(F.broadcast(tstar))
        .filter(F.col("bucket") < 1000 * F.col("w") * F.col("tstar") / F.col("n_docs"))
    )
    k = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    tot = k.agg(F.sum("n_kept").alias("total"))
    return (
        wc.join(k, "source", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.round(F.col("w"), 6).alias("target_share"),
            F.round(F.coalesce(F.col("n_kept"), F.lit(0)) / F.col("total"), 6).alias(
                "realized_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Curriculum quality tiers: ntile bucketing by document length
# ---------------------------------------------------------------------------
N_TIERS = 4


@register(
    "quality_tiers",
    oracle=f"""
        WITH scored AS (
          SELECT doc_id, lang,
                 len({_DUCK_TOKS}) AS n_words,
                 ntile({N_TIERS}) OVER (ORDER BY len({_DUCK_TOKS}) DESC, doc_id ASC) AS tier
          FROM documents
        )
        SELECT tier,
               count(*) AS n_docs,
               min(n_words) AS min_words,
               max(n_words) AS max_words,
               round(avg(n_words), 4) AS avg_words
        FROM scored GROUP BY tier
    """,
    tags=("curation", "ext"),
)
def quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: rank every document by a quality signal
    (token length here) and cut the corpus into N_TIERS equal tiers —
    the standard precursor to tier-weighted sampling schedules. The
    ordering is total (score desc, doc_id asc) so tier assignment is
    deterministic and engine-portable.

    Scale (r10 rewrite, frontier form): the tier used to be a global
    ntile window — a single-partition sort of the WHOLE corpus. Now
    `ranks.ntile_frontiers` finds the three tier edges from one prefix
    sum over the per-value word counts (a SMALL integer domain; see the
    ranks module docstring); tier assignment is then a scan-stage
    predicate against broadcast literals (`ntile_score_expr`) — no
    per-row rank, no window, bit-identical to the oracle's ntile (same
    ANSI fat-bucket contract, same total order).
    """
    from .ranks import ntile_frontiers, ntile_score_expr

    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(tokens("text"))
    # one slim materialization feeds the value counts, the tie-block
    # probes, and the scoring scan (also stops CollapseProject from
    # re-inlining the tokenize tree into every consumer — the r3 lesson)
    scored_in = d.select("doc_id", n_words.alias("n_words")).localCheckpoint(
        eager=True
    )
    _n, frontiers = ntile_frontiers(
        spark, scored_in, "n_words", False, "doc_id", N_TIERS
    )
    scored = scored_in.withColumn(
        "tier", ntile_score_expr("n_words", False, "doc_id", frontiers)
    )
    return scored.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_words").alias("min_words"),
        F.max("n_words").alias("max_words"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction) — counts + redacted text hash
# ---------------------------------------------------------------------------
# The fixture corpus contains no PII, so the query deterministically
# injects synthetic PII spans (email / IPv4 / phone) derived from doc_id
# before scrubbing — the injection is part of BOTH engines' queries, so
# the redaction logic itself is what the oracle checks. Patterns are the
# standard public scrub set (C4/Gopher-style pre-processing).
_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


@register(
    "pii_scrub",
    oracle=f"""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id || '@mail' || (doc_id % 7) ||
                 '.com or 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ||
                 CASE WHEN doc_id % 3 = 0
                      THEN ' call ' || (100 + doc_id % 900) || '-555-' ||
                           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END AS text
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text, '{_IPV4_RE}')) AS BIGINT) AS n_ip,
               CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phone,
               md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_IPV4_RE}', '<IP>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
        FROM aug
    """,
    doc="PII redaction: regex scrub of emails/IPs/phones; counts + redacted-text hash.",
    tags=("curation", "ext", "pii"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-based PII redaction — the standard pre-training scrub stage.
    Pure per-row JVM expressions (regexp_count / regexp_replace): no
    shuffle, embarrassingly parallel at any corpus size; the scan's
    partitioning is the plan."""
    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".com or 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" call "), (F.col("doc_id") % 900 + 100).cast("string"),
                    F.lit("-555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _IPV4_RE, "<IP>",
        ),
        _PHONE_RE, "<PHONE>",
    )
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("long").alias("n_email"),
        F.regexp_count(F.col("text"), F.lit(_IPV4_RE)).cast("long").alias("n_ip"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).cast("long").alias("n_phone"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a historical fingerprint store
# ---------------------------------------------------------------------------
HIST_MOD = 10  # doc_id % 10 < 8 -> "already ingested"; rest -> new batch


@register(
    "dedup_incremental",
    oracle=f"""
        WITH hist AS (
          SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % {HIST_MOD} < 8
        ),
        batch AS (
          SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % {HIST_MOD} >= 8
        ),
        fresh AS (
          SELECT b.doc_id, b.fp,
                 row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id ASC) AS rn
          FROM batch b LEFT JOIN hist h ON b.fp = h.fp
          WHERE h.fp IS NULL
        )
        SELECT doc_id, fp FROM fresh WHERE rn = 1
    """,
    doc="Continuous-ingest dedup: new batch anti-joined against the historical fingerprint store, then deduped within batch.",
    tags=("curation", "dedup", "ext", "scale"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-corpus-building shape: each new batch is deduped (a)
    against everything already ingested via LEFT ANTI join on the content
    fingerprint, then (b) within itself via first-occurrence window.

    Scale posture: the historical store is fingerprints only (16 bytes/doc,
    not text), bucketed by fp in a real deployment so the anti-join is
    co-located with no shuffle of history; the batch side is small by
    definition. Window state is bounded per fp group.
    """
    d = load_table(spark, sf_dir, "documents")
    hist = (
        d.filter(F.col("doc_id") % HIST_MOD < 8)
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") % HIST_MOD >= 8).select(
        "doc_id", F.md5("text").alias("fp")
    )
    fresh = batch.join(hist, "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fp")
    )


# ---------------------------------------------------------------------------
# Outlier clipping (winsorization) for numeric feature curation
# ---------------------------------------------------------------------------
@register(
    "clip_outliers_winsorize",
    oracle="""
        WITH q AS (
          SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
                 quantile_cont(l_extendedprice, 0.99) AS hi
          FROM lineitem
        )
        SELECT l.l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l.l_extendedprice < q.lo
                             OR l.l_extendedprice > q.hi THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_clipped,
               round(avg(least(greatest(l.l_extendedprice, q.lo), q.hi)), 4)
                 AS clipped_mean
        FROM lineitem l CROSS JOIN q
        GROUP BY l.l_returnflag
    """,
    doc="Winsorize a numeric column at the 1st/99th percentile; per-group clipped stats.",
    tags=("curation", "agg", "ext"),
)
def clip_outliers_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-curation winsorization: exact 1%/99% quantiles (one
    aggregate, collapses to a single broadcast row) then per-row clamp +
    per-group stats — one shuffle total (the final groupBy).

    At 100 TB the exact `percentile` would switch to `approx_percentile`
    (t-digest sketch, partial-aggregable); exact is kept here because the
    oracle must agree bit-for-bit and the interpolation definitions match
    DuckDB's quantile_cont."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return (
        li.crossJoin(F.broadcast(q))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    (F.col("l_extendedprice") < F.col("lo"))
                    | (F.col("l_extendedprice") > F.col("hi"))
                ).cast("long")
            ).alias("n_clipped"),
            F.round(F.avg(clipped), 4).alias("clipped_mean"),
        )
    )


# ---------------------------------------------------------------------------
# Overlapping chunking (RAG / context-window shaping with stride < width)
# ---------------------------------------------------------------------------
CHUNK_W = 8  # tokens per chunk
CHUNK_S = 4  # stride (50% overlap)


@register(
    "chunk_overlapping",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, {_DUCK_TOKS} AS t FROM documents
        ),
        starts AS (
          SELECT doc_id, t, unnest(generate_series(1, greatest(len(t), 1), {CHUNK_S})) AS s
          FROM toks
        )
        SELECT doc_id,
               CAST((s - 1) / {CHUNK_S} AS BIGINT) AS chunk_idx,
               CAST(len(list_slice(t, s, s + {CHUNK_W} - 1)) AS BIGINT) AS n_tok,
               md5(coalesce(array_to_string(list_slice(t, s, s + {CHUNK_W} - 1), ' '), '')) AS chunk_md5
        FROM starts
    """,
    doc="Overlapping token chunking (width 8, stride 4): the RAG/context-window shaping pass.",
    tags=("curation", "ext", "text"),
)
def chunk_overlapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap — the standard RAG indexing /
    long-document training shape (stride < width keeps boundary context
    in two chunks). All array expressions inside the scan: the only
    row-growth is the deliberate ~n/stride expansion, no shuffle at all
    until a downstream consumer asks."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens("text").alias("t"))
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("t"), F.lit(1)), F.lit(CHUNK_S))
        ).alias("s"),
    )
    chunk = F.slice(F.col("t"), F.col("s"), CHUNK_W)
    return starts.select(
        "doc_id",
        ((F.col("s") - 1) / CHUNK_S).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching: padding-waste accounting per power-of-two bucket
# ---------------------------------------------------------------------------
_PACK_BUCKETS = (16, 32, 64, 128, 256, 512)


def _bucket_case_sql(n: str) -> str:
    parts = [f"WHEN {n} <= {b} THEN {b}" for b in _PACK_BUCKETS[:-1]]
    return f"CASE {' '.join(parts)} ELSE {_PACK_BUCKETS[-1]} END"


def _bucket_case_spark(n):
    expr = F.lit(_PACK_BUCKETS[-1])
    for b in reversed(_PACK_BUCKETS[:-1]):
        expr = F.when(n <= b, F.lit(b)).otherwise(expr)
    return expr


@register(
    "length_bucket_packing",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, len({DUCK_TOKENS.format(col='text')}) AS n_tok
          FROM documents
        ),
        b AS (
          SELECT doc_id, n_tok, {_bucket_case_sql('n_tok')} AS bucket,
                 least(n_tok, {_bucket_case_sql('n_tok')}) AS n_tok_capped
          FROM t
        )
        SELECT bucket,
               count(*) AS n_docs,
               sum(n_tok_capped)::BIGINT AS sum_tokens,
               (bucket * count(*))::BIGINT AS capacity,
               round(1.0 - sum(n_tok_capped) / (bucket * count(*)), 6) + 0.0
                 AS padding_waste
        FROM b GROUP BY bucket
    """,
    doc="length-bucketed batch packing: per-bucket doc counts and padding waste",
    tags=("curation", "ext"),
)
def length_bucket_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching for training throughput: assign each
    document to the smallest power-of-two token bucket that holds it
    (clamped to [16, 512]; longer docs truncate into the top bucket) and
    report per-bucket document count, packed token mass, slot capacity and
    the padding-waste ratio — the quantity a batch scheduler minimizes when
    it groups like-length sequences instead of padding everything to max
    length.

    Scale shape: the bucket id is pure per-row expression work inside the
    scan, then ONE map-side-combinable hash aggregate over ≤6 bucket keys —
    shuffle volume is 6 rows regardless of corpus size. In the training
    pipeline the same bucket id is the repartition key that co-locates a
    bucket's docs onto writers (repartition(bucket) → per-bucket shard
    files), so the expensive movement happens once and is exactly the
    movement the batch loader wants.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(tokens("text")).alias("n_tok"))
    b = t.select(
        "n_tok",
        _bucket_case_spark(F.col("n_tok")).alias("bucket"),
    ).select("bucket", F.least("n_tok", "bucket").alias("n_tok_capped"))
    agged = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok_capped").cast("long").alias("sum_tokens"),
    )
    return agged.select(
        "bucket",
        "n_docs",
        "sum_tokens",
        (F.col("bucket") * F.col("n_docs")).cast("long").alias("capacity"),
        (
            F.round(F.lit(1.0) - F.col("sum_tokens") / (F.col("bucket") * F.col("n_docs")), 6)
            + 0.0
        ).alias("padding_waste"),
    )


# ---------------------------------------------------------------------------
# [EXT] corpus-level boilerplate detection: top repeated n-grams
# ---------------------------------------------------------------------------
NGRAM_N = 3
NGRAM_TOPK = 50


@register(
    "top_ngrams_boilerplate",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS tok FROM documents),
        g AS (
          SELECT doc_id, unnest(CASE WHEN len(tok) >= {NGRAM_N}
              THEN list_transform(generate_series(1, len(tok) - {NGRAM_N - 1}),
                   i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
              ELSE [] END) AS ngram
          FROM t
        )
        SELECT ngram,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM g GROUP BY ngram
        ORDER BY n_occurrences DESC, ngram ASC LIMIT {NGRAM_TOPK}
    """,
    doc="Corpus-wide top trigrams with occurrence and doc-frequency counts (boilerplate detector).",
    tags=("curation", "text", "ext", "scale"),
)
def top_ngrams_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate sweep a web-scale curation pipeline runs before
    training: n-grams that recur across many documents (nav bars, cookie
    banners, license headers) surface at the top and feed a removal list.

    Scale shape: trigram construction is a scan-stage `transform` +
    `explode` (no Python); the count is a map-side-combinable hash-agg on
    the ngram string, and `count(DISTINCT doc_id)` expands in the same
    aggregate; the final top-k compiles to `TakeOrderedAndProject`. Hot
    n-grams are exactly the rows the partial agg compacts hardest, so the
    skew works in our favor.
    """
    d = load_table(spark, sf_dir, "documents")
    # Materialize the token array ONCE per row before the trigram transform:
    # inlining `tokens("text")` into each element_at would re-run the
    # lower+split per trigram element (measured 10× slower at sf0.1).
    toked = d.select("doc_id", tokens("text").alias("tok"))
    tok = F.col("tok")
    grams = toked.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(tok) >= NGRAM_N,
                F.transform(
                    F.sequence(F.lit(1), F.size(tok) - (NGRAM_N - 1)),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(tok, i),
                        F.element_at(tok, i + 1),
                        F.element_at(tok, i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("ngram"),
    )
    return (
        grams.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(NGRAM_TOPK)
    )


# ---------------------------------------------------------------------------
# [EXT] deterministic per-group reservoir sample (exact k per stratum)
# ---------------------------------------------------------------------------
RESERVOIR_K = 5


@register(
    "reservoir_sample_per_group",
    oracle=f"""
        SELECT source, doc_id, rk FROM (
          SELECT source, doc_id,
                 CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS BIGINT) AS rk
          FROM documents
        ) WHERE rk <= {RESERVOIR_K}
    """,
    doc="Exact-k-per-group uniform sample via md5-priority rank (deterministic reservoir).",
    tags=("curation", "sample", "ext", "scale"),
)
def reservoir_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k docs per source, uniformly at random but fully
    deterministic: rank rows within each group by the md5 of their key (a
    fixed pseudo-random priority — the distributed equivalent of reservoir
    sampling) and keep the top k. Re-running on the same corpus reproduces
    the same sample; adding rows perturbs only the groups they land in.

    Scale shape: one shuffle on the group key; the rank+filter compiles to
    `WindowGroupLimit` (partial per-partition top-k before the exchange),
    so no group ever materializes fully on one task even when a single
    source dominates the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        d.select("source", "doc_id", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= RESERVOIR_K)
    )


# ---------------------------------------------------------------------------
# [EXT] weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------
WSAMPLE_K = 50
# Knuth multiplicative hash -> pseudo-uniform u in (0,1): pure integer
# arithmetic both engines compute exactly (max product ~1.3e13 << 2^53).
WSAMPLE_MULT = 2654435761
WSAMPLE_MOD = 1048576  # 2^20


@register(
    "sample_weighted_quality",
    oracle=f"""
        SELECT doc_id, source, n_chars,
               round(ln((((doc_id * {WSAMPLE_MULT} + 12345) % {WSAMPLE_MOD}) + 1)
                        / {WSAMPLE_MOD + 1}.0) / n_chars, 6) + 0.0 AS es_key
        FROM documents
        WHERE n_chars > 0
        ORDER BY ln((((doc_id * {WSAMPLE_MULT} + 12345) % {WSAMPLE_MOD}) + 1)
                    / {WSAMPLE_MOD + 1}.0) / n_chars DESC, doc_id ASC
        LIMIT {WSAMPLE_K}
    """,
    doc="Weighted sample without replacement: Efraimidis-Spirakis keys from a portable integer hash, weight = n_chars.",
    tags=("curation", "sample", "ext", "scale"),
)
def sample_weighted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling — the standard way a training-data
    pipeline up-samples high-quality documents without replacement:
    Efraimidis-Spirakis assigns each row the key ln(u)/w (u pseudo-uniform,
    w = weight, here n_chars) and the global top-k by key IS a weighted
    sample without replacement. Deterministic: u derives from a
    multiplicative integer hash of the key, exact on both engines, so the
    sample is reproducible run-to-run and engine-to-engine.

    Scale shape: the key is a scan-stage expression and the top-k compiles
    to `TakeOrderedAndProject` — one pass, no shuffle beyond the k-row
    merge, works identically at 5e2 or 5e9 docs.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (((F.col("doc_id") * WSAMPLE_MULT + 12345) % WSAMPLE_MOD) + 1) / float(WSAMPLE_MOD + 1)
    es_key = F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "source", "n_chars", es_key.alias("k"))
        .orderBy(F.col("k").desc(), F.col("doc_id").asc())
        .limit(WSAMPLE_K)
        .select("doc_id", "source", "n_chars", F.round("k", 6).alias("es_key"))
    )


# ---------------------------------------------------------------------------
# [EXT r5] Leakage-safe train/val/test split: assign by DEDUP CLUSTER
# ---------------------------------------------------------------------------
# Split buckets out of 10: 0-7 train, 8 val, 9 test. The bucket is an
# engine-portable md5 hash of the CLUSTER id, so every member of a near-dup
# cluster lands in the same split by construction — the guard against the
# classic eval-contamination bug where a near-duplicate of a training doc
# leaks into the test set and inflates the score.
_DUCK_SPLIT_BUCKET = (
    "(ascii(substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)) * 256"
    " + ascii(substr(md5(CAST(cluster_id AS VARCHAR)), 2, 1))) % 10"
)


@register(
    "leakage_safe_splits",
    oracle=f"""
        WITH RECURSIVE sh AS (
          SELECT doc_id, {DUCK_SHINGLES} AS sh FROM documents
        ),
        posting AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
          FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
          SELECT c.doc_a, c.doc_b
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.doc_a
          JOIN sh sb ON sb.doc_id = c.doc_b
          WHERE c.shared * 1.0 / (len(sa.sh) + len(sb.sh) - c.shared) >= 0.5
        ),
        edges AS (
          SELECT doc_a AS s, doc_b AS t FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT s AS doc FROM edges),
        reach AS (
          SELECT doc, doc AS r FROM nodes
          UNION
          SELECT e.t AS doc, reach.r
          FROM reach JOIN edges e ON e.s = reach.doc
        ),
        clusters AS (SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc),
        labeled AS (
          SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN clusters c USING (doc_id)
        ),
        sized AS (
          SELECT doc_id, cluster_id,
                 count(*) OVER (PARTITION BY cluster_id) AS csize,
                 {_DUCK_SPLIT_BUCKET} AS bucket
          FROM labeled
        )
        SELECT CASE WHEN bucket < 8 THEN 'train'
                    WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
               CAST(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_docs
        FROM sized
        GROUP BY 1
    """,
    doc="Leakage-safe train/val/test split: the md5 split bucket keys on the NEAR-DUP CLUSTER id, not the doc id, so no near-duplicate pair can straddle splits — the eval-contamination guard a doc-keyed split cannot give.",
    tags=("curation", "dedup", "ext"),
)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that CANNOT leak near-duplicates across
    splits: the split bucket is a deterministic md5 hash of the dedup
    CLUSTER id (connected components over the jaccard ≥ 0.5 graph;
    singletons are their own cluster), so cluster membership and split
    assignment are the same function — a doc and its near-duplicate
    always land together. A doc_id-keyed split scatters each cluster's
    members ~independently, leaking a near-dup of a training doc into
    test with probability 1-(0.8^(size-1)) per train cluster — the
    classic silent eval inflation (cf. the dedup motivation in Lee et
    al. 2022). Output: per-split doc / cluster / clustered-doc counts,
    hash-checked against the shared recursive-CTE fixpoint oracle.

    Scale: clustering cost is the near-dup pipeline (banded equi-joins,
    measured at 10× in SCALE.md); everything after is one hash of the
    label, one bounded window for cluster size, and a 3-group aggregate —
    the split itself adds no join and no extra shuffle beyond the
    cluster-size count. Re-runs are stable under appends: old docs keep
    their cluster hence their split (the md5 gate property
    sample_stratified_hash documents).
    """
    from .dedup import dedup_clusters

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = dedup_clusters(spark, sf_dir)
    labeled = d.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    h = F.md5(F.col("cluster_id").cast("string"))
    bucket = (F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))) % 10
    sized = labeled.withColumn(
        "csize", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    ).withColumn(
        "split",
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test"),
    )
    return sized.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"),
        F.sum(F.when(F.col("csize") > 1, 1).otherwise(0)).cast("long").alias("n_dup_docs"),
    )


# ---------------------------------------------------------------------------
# [EXT r5] Temperature-scaled source mixing weights (p ∝ q^alpha)
# ---------------------------------------------------------------------------
@register(
    "temperature_mixture_weights",
    oracle=f"""
        WITH per_source AS (
          SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len({DUCK_TOKENS.format(col="text")})) AS BIGINT)
                   AS n_tokens
          FROM documents GROUP BY source
        ),
        m AS (SELECT max(n_tokens) AS max_tokens FROM per_source)
        SELECT source, n_docs, n_tokens,
               round(sqrt(n_tokens * 1.0 / nullif(max_tokens, 0)), 6)
                 AS weight_rel
        FROM per_source, m
    """,
    doc="Temperature-scaled mixing weights p ∝ tokens^0.5 (the multilingual up/down-sampling scheme), expressed relative to the largest source so every FP step is IEEE-exact — normalization is deferred to serve time.",
    tags=("curation", "ext"),
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights with temperature alpha = 0.5
    (p ∝ tokens^alpha — the exponentiated-count scheme multilingual
    corpora use to boost low-resource sources without letting the head
    dominate; alpha=1 is proportional, alpha→0 uniform). Weights are
    published RELATIVE to the largest source — weight_rel =
    sqrt(n_tokens / max_tokens) — deliberately NOT normalized to sum 1:
    the ratio of two BIGINTs and sqrt are both correctly-rounded IEEE
    ops (bit-identical across engines), while a normalizing sum of
    doubles is partial-order-dependent on a distributed engine — the
    serve-time sampler normalizes the handful of weights on one node.
    alpha=0.5 specifically keeps the whole pipeline exact; arbitrary
    alpha would route through pow(), which is not correctly rounded.

    Scale: one map-side-combinable aggregate over (source); shuffle
    volume is |sources| rows. The token count rides the same scan that
    any corpus statistics pass already makes.
    """
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
    )
    m = per_source.agg(F.max("n_tokens").alias("max_tokens"))
    return per_source.crossJoin(F.broadcast(m)).select(
        "source",
        "n_docs",
        "n_tokens",
        # nullif: a corpus whose every doc tokenizes empty has max_tokens = 0
        # — weight is undefined (NULL), not a divide-by-zero (ANSI mode
        # raises; found by the hostile-corpus fuzz).
        F.round(
            F.sqrt(F.col("n_tokens") / F.nullif(F.col("max_tokens"), F.lit(0))), 6
        ).alias("weight_rel"),
    )


# ---------------------------------------------------------------------------
# [EXT r7] Bigram language-model perplexity scoring — the CCNet-style
# quality filter: score each document under a corpus bigram LM and flag
# the high-perplexity (low-quality / out-of-domain) tail.
# ---------------------------------------------------------------------------
# Milli-nats (NOT micro): the per-bigram quantity floor(ln(p) * SCALE)
# trusts JVM Math.log and DuckDB's libm log to agree — natural log is not
# correctly-rounded, so the two engines can differ by ~1 ulp (relative
# ~1.1e-16). A floor flips only when ln(p)*SCALE lands within that error
# of an integer; the error in the SCALED value is |ln p| * 1.1e-16 * SCALE
# ≈ 2.2e-12 at SCALE=1e3 (|ln p| ≤ ~20), vs ≈ 2.2e-9 at the old 1e6 —
# coarsening buys a 10^6× smaller boundary-hit measure (r7 advisor
# finding). tests/test_r8_fixes.py additionally scans every distinct
# (c12+1, c1+V) pair in the fixtures and asserts the scaled log sits
# ≥ 1e-6 from the nearest integer — a >10^5× guard band over the
# worst-case cross-engine disagreement, so a hash flip cannot happen on
# the checked corpora and an unlucky future corpus fails the GUARD test
# loudly instead of the hash mysteriously.
PPL_SCALE = 1_000  # milli-nats: per-bigram log-probs quantized to BIGINT
PPL_FLAG_GAP = 1_000  # flag docs >= 1 nat/bigram worse than the corpus mean


@register(
    "bigram_perplexity_score",
    oracle=f"""
        WITH toks AS (SELECT doc_id, {DUCK_TOKENS.format(col="text")} AS t
                      FROM documents),
        pairs AS (
          SELECT doc_id, z.w[1] AS w1, z.w[2] AS w2
          FROM toks, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z(w)
          WHERE len(t) >= 2
        ),
        big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                FROM pairs GROUP BY w1, w2),
        ctx AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
                FROM pairs GROUP BY w1),
        vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
                  FROM (SELECT unnest(t) AS tok FROM toks)),
        scored AS (
          SELECT p.doc_id,
                 CAST(floor(ln((b.c12 + 1) * 1.0 / (c.c1 + vocab.v))
                            * {PPL_SCALE}) AS BIGINT) AS q
          FROM pairs p
          JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
          JOIN ctx c ON p.w1 = c.w1
          CROSS JOIN vocab
        ),
        per_doc AS (
          SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(sum(q) AS BIGINT) AS logprob_milli_sum,
                 CAST(floor(sum(q) * 1.0 / count(*)) AS BIGINT) AS q_avg
          FROM scored GROUP BY doc_id
        ),
        bar AS (
          SELECT CAST(floor(sum(q_avg) * 1.0 / count(*)) AS BIGINT)
                   - {PPL_FLAG_GAP} AS flag_bar
          FROM per_doc
        )
        SELECT doc_id, n_bigrams, logprob_milli_sum,
               q_avg < bar.flag_bar AS is_high_perplexity
        FROM per_doc, bar
    """,
    doc="Per-document bigram-LM log-probability (add-one smoothing, corpus-trained) with a high-perplexity flag — the CCNet/Gopher-style LM quality filter; per-bigram log-probs quantized to milli-nat BIGINTs so the per-doc sums are accumulation-order-independent and hash-exact.",
    tags=("curation", "quality", "text", "ext", "scale"),
)
def bigram_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LM-perplexity corpus filter (CCNet trains a KenLM and drops the
    high-perplexity tail; Gopher table A1 does the same): train a bigram
    model WITH add-one smoothing on the corpus itself, score every
    document by its average bigram log-probability, flag the tail. Docs
    full of boilerplate/markup/wrong-language text score far from the
    corpus distribution — the signal `text_quality`'s surface heuristics
    (length/punct ratios) can't see.

    Exactness: counts and the vocabulary size are integers, so every
    smoothed probability (c12+1)/(c1+V) is the same double in both
    engines; each per-bigram log-prob is floor-quantized to milli-nats
    BEFORE the per-doc sum, making the sums BIGINT and order-independent
    (the embedding-drift discipline applied to log space). The flag
    threshold is an integer comparison (sum < n·THRESH), not an FP
    average.

    Scale: the model IS two aggregates (bigram and context counts —
    map-side combinable, vocab²-bounded output); scoring joins each doc's
    bigrams to those counts — at 100 TB the counts table is broadcast- or
    bucket-joinable and the whole pipeline is two shuffles over token
    pairs, no per-doc state. Reference ancestry: the chapter-2 pipeline's
    Word2Vec table (S12) is likewise a corpus-trained lookup joined back
    to token streams (`PredictCommentsUsingRNNAndWord2Vec.java:64-71`).
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("t")
    )
    n = F.size("t")
    pairs = (
        d.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", F.lit(1), n - 1).alias("w1"),
                    F.slice("t", F.lit(2), n - 1).alias("w2"),
                )
            ).alias("z"),
        )
        .select("doc_id", F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    ctx = pairs.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    vocab = d.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").cast("long").alias("v")
    )
    scored = (
        pairs.join(big, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(
                F.log((F.col("c12") + 1) * 1.0 / (F.col("c1") + F.col("v")))
                * PPL_SCALE
            )
            .cast("long")
            .alias("q"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("q").cast("long").alias("logprob_milli_sum"),
        F.floor(F.sum("q") * 1.0 / F.count(F.lit(1))).cast("long").alias("q_avg"),
    )
    # Corpus-RELATIVE bar (the FP-Growth minSupport lesson, r6): an
    # absolute nats threshold is mis-calibrated for any corpus whose
    # vocabulary size differs from the one it was tuned on; "1 nat/bigram
    # worse than the corpus mean" transfers. One scalar agg, broadcast.
    bar = per_doc.agg(
        (
            F.floor(F.sum("q_avg") * 1.0 / F.count(F.lit(1))).cast("long")
            - F.lit(PPL_FLAG_GAP)
        ).alias("flag_bar")
    )
    return per_doc.crossJoin(F.broadcast(bar)).select(
        "doc_id",
        "n_bigrams",
        "logprob_milli_sum",
        (F.col("q_avg") < F.col("flag_bar")).alias("is_high_perplexity"),
    )


# ---------------------------------------------------------------------------
# [EXT r7] Retention-policy sweep: TTL expiry with legal-hold exclusions —
# the GDPR/records-retention delete, audited per event type.
# ---------------------------------------------------------------------------
RETAIN_DAYS = 30


@register(
    "retention_policy_sweep",
    oracle=f"""
        WITH horizon AS (
          SELECT max(ts::TIMESTAMP) - INTERVAL {RETAIN_DAYS} DAY AS cut FROM events
        ),
        hold AS (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        )
        SELECT e.event_type,
               CAST(sum(CASE WHEN e.ts::TIMESTAMP >= horizon.cut
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_fresh,
               CAST(sum(CASE WHEN e.ts::TIMESTAMP < horizon.cut
                              AND hold.user_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_held,
               CAST(sum(CASE WHEN e.ts::TIMESTAMP < horizon.cut
                              AND hold.user_id IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_expired
        FROM events e
        CROSS JOIN horizon
        LEFT JOIN hold ON hold.user_id = e.user_id
        GROUP BY e.event_type
    """,
    doc=f"Records-retention sweep: events older than {RETAIN_DAYS} days expire UNLESS the user is under legal hold (has a purchase — financial-records retention); per-type audit counts of kept/held/expired — the GDPR TTL delete as a single scan + broadcast hold-set join.",
    tags=("curation", "privacy", "lifecycle", "ext", "scale"),
)
def retention_policy_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-lifecycle delete every regulated pipeline runs (the
    complement of `pii_scrub`'s masking and `k_anonymity_violations`'
    release gate): rows past the retention horizon are deleted, EXCEPT
    rows of entities under legal hold, and the sweep must emit an audit
    of what it kept and why. Horizon is data-relative (max ts - 30 d) so
    the operator is meaningful on any fixture generation.

    Scale: one scan; the hold set is a distinct-user aggregate (small —
    broadcast; at 100 TB it would be a stored roster) joined in with a
    LEFT semi-ish membership probe; the audit is a per-type partial agg.
    The actual delete at scale is `lake_deletion_vectors`' merge-on-read
    or a partition drop — this operator computes the decision + audit.
    """
    e = load_table(spark, sf_dir, "events")
    horizon = e.agg(
        (F.max("ts") - F.expr(f"INTERVAL {RETAIN_DAYS} DAYS")).alias("cut")
    )
    hold = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("held", F.lit(1))
    )
    tagged = (
        e.crossJoin(F.broadcast(horizon))
        .join(F.broadcast(hold), "user_id", "left")
    )
    fresh = F.col("ts") >= F.col("cut")
    return tagged.groupBy("event_type").agg(
        F.sum(F.when(fresh, 1).otherwise(0)).cast("long").alias("n_kept_fresh"),
        F.sum(F.when(~fresh & F.col("held").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_held"),
        F.sum(F.when(~fresh & F.col("held").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_expired"),
    )


# ---------------------------------------------------------------------------
# [EXT r7] Token-budget top-p selection: per source, keep the best docs
# until the cumulative token budget is spent — nucleus-style curation.
# ---------------------------------------------------------------------------
TOPP_PCT = 60  # keep docs until cumulative tokens reach 60% of the source's


@register(
    "token_budget_top_p",
    oracle=f"""
        WITH scored AS (
          SELECT doc_id, source,
                 CAST(len({DUCK_TOKENS.format(col='text')}) AS BIGINT) AS n_tok
          FROM documents
        ),
        ranked AS (
          SELECT *,
                 CAST(sum(n_tok) OVER (PARTITION BY source
                                       ORDER BY n_tok DESC, doc_id ASC
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_tok,
                 CAST(sum(n_tok) OVER (PARTITION BY source) AS BIGINT) AS tot_tok
          FROM scored
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs_kept,
               CAST(sum(n_tok) AS BIGINT) AS tokens_kept,
               max(tot_tok) AS tokens_total
        FROM ranked
        WHERE cum_tok * 100 <= tot_tok * {TOPP_PCT}
        GROUP BY source
    """,
    doc=f"Token-budget allocation (nucleus-style): per source, greedily keep the highest-token docs until the cumulative token count reaches {TOPP_PCT}% of the source's total — integer cumulative-window compare, no FP thresholds.",
    tags=("curation", "sample", "ext", "scale"),
)
def token_budget_top_p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How a training-data mix actually spends a token budget: each source
    gets a quota (here {TOPP_PCT}% of its own tokens — the same shape
    allocates a global budget across sources via
    `mix_domains_to_target`'s weights), filled greedily by a quality
    ordering (proxy: token count — swap in `text_quality`'s score or the
    perplexity filter in production; the selection mechanics are
    identical). The cutoff compare is integer (cum*100 <= tot*p), so no
    FP threshold can split the engines on the boundary doc.

    Scale: one token-count projection (scan-stage), one window per
    source partition (cumulative sum, O(1) state/row after the
    partition sort), one partial agg. At 100 TB the per-source sort is
    the cost — a real deployment pre-bins by score (the `quality_tiers`
    histogram) and sorts only the boundary tier, the same narrowing
    trick as the exact quantiles.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.col("n_tok").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("source")
    ranked = d.select(
        "source",
        "n_tok",
        F.sum("n_tok").over(w_cum).cast("long").alias("cum_tok"),
        F.sum("n_tok").over(w_all).cast("long").alias("tot_tok"),
    )
    return (
        ranked.filter(F.col("cum_tok") * 100 <= F.col("tot_tok") * TOPP_PCT)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("n_tok").cast("long").alias("tokens_kept"),
            F.max("tot_tok").alias("tokens_total"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r7] Code detection: symbol/digit density screen over documents —
# the "is this prose or source code" routing gate an LLM corpus needs.
# ---------------------------------------------------------------------------
CODE_SYMBOL_BP = 800  # >= 8% non-alphanumeric-non-space chars -> code-like


@register(
    "doc_code_detection",
    oracle=f"""
        WITH feat AS (
          SELECT doc_id, source,
                 CAST(length(text) AS BIGINT) AS n,
                 CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
                      AS BIGINT) AS n_sym,
                 CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                      AS BIGINT) AS n_digit
          FROM documents WHERE text IS NOT NULL AND length(text) > 0
        )
        SELECT doc_id, source,
               CAST(floor(n_sym * 10000.0 / n) AS BIGINT) AS symbol_bp,
               CAST(floor(n_digit * 10000.0 / n) AS BIGINT) AS digit_bp,
               n_sym * 10000 >= n * {CODE_SYMBOL_BP} AS is_code_like
        FROM feat
    """,
    doc=f"Prose-vs-code routing gate: per-doc symbol and digit density in integer basis points; >= {CODE_SYMBOL_BP} bp symbols flags code-like (braces/operators/punctuation dominate source text) — the corpus-routing decision before language-specific pipelines.",
    tags=("curation", "quality", "text", "ext", "scale"),
)
def doc_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training corpora route code and prose to different pipelines
    (different dedup granularity, different quality filters, different
    tokenizers); the router is a density screen — source code's symbol
    ratio (braces, operators, punctuation) sits far above prose's. The
    bar here is ABSOLUTE by design (unlike the perplexity filter's
    corpus-relative bar): symbol density separates code from prose by
    character-class physics, not by corpus context.

    Exactness: counts are character-class lengths (the regex class
    [a-z0-9 ] means the same thing to Java regex and RE2); ratios are
    integer basis points via BIGINT multiply-compare — no FP anywhere.

    Scale: pure scan-stage expressions (two regexp_replace + lengths),
    no shuffle, no UDF; at 100 TB this rides the ingest scan for free.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    n = F.length("text").cast("long")
    n_sym = F.length(
        F.regexp_replace(F.lower(F.col("text")), "[a-z0-9 ]", "")
    ).cast("long")
    n_digit = F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).cast("long")
    return d.select(
        "doc_id",
        "source",
        F.floor(n_sym * 10000.0 / n).cast("long").alias("symbol_bp"),
        F.floor(n_digit * 10000.0 / n).cast("long").alias("digit_bp"),
        (n_sym * 10000 >= n * CODE_SYMBOL_BP).alias("is_code_like"),
    )


# ---------------------------------------------------------------------------
# [EXT r8] Vocabulary OOV-rate report — tokenizer/vocab coverage: how much
# of each document falls outside a frequency-built vocabulary (the
# go/no-go number before committing a tokenizer to a corpus).
# ---------------------------------------------------------------------------
VOCAB_TOP_K = 20  # vocabulary = the K most frequent corpus tokens


@register(
    "vocab_oov_rate",
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
        ),
        vocab AS (
          SELECT tok FROM (
            SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok ASC)
                     AS rnk
            FROM toks GROUP BY tok
          ) WHERE rnk <= {VOCAB_TOP_K}
        ),
        per_doc AS (
          SELECT t.doc_id,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov
          FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
          GROUP BY t.doc_id
        )
        SELECT doc_id, n_tokens, n_oov,
               floor(n_oov * 1000000.0 / n_tokens) / 1000000 AS oov_rate
        FROM per_doc
    """,
    doc=f"Per-document out-of-vocabulary rate against a corpus-built top-{VOCAB_TOP_K} frequency vocabulary (ties break on token): the tokenizer-coverage report — a doc whose text is mostly OOV will shred into byte fallbacks and bloat its token count.",
    tags=("curation", "text", "quality", "ext", "scale"),
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage, the report run before committing a tokenizer
    or embedding table to a corpus: build the frequency vocabulary from
    the corpus itself (top-{VOCAB_TOP_K} tokens, deterministic tie-break),
    then score every document by the fraction of its tokens falling
    outside it. High-OOV docs are the wrong-language / boilerplate /
    encoding-damage tail that inflates token counts downstream (S12's
    pretrained-vector join drops exactly these tokens on the floor —
    `Word2VecTransformingIterator.java:123` ancestry).

    Exactness: counts are integers; the rate is one floor-quantized
    division of identical integers. Docs with zero tokens are naturally
    absent (no token rows), sidestepping the divide-by-zero the r5 fuzz
    found in ansi_safe_doc_ratios.

    Scale: one token aggregate for the vocabulary (map-side combinable,
    vocab-bounded output), broadcast of a {VOCAB_TOP_K}-row table, one
    per-doc aggregate — no pair joins, no per-row UDFs.
    """
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    # orderBy().limit(K) compiles to TakeOrderedAndProject — per-partition
    # K-row heaps, never a single-partition sort of the vocabulary (the
    # r9 verdict's finding #3; the old row_number window serialized the
    # full distinct-token table to rank it and keep 20 rows).
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(VOCAB_TOP_K)
        .select(F.col("tok").alias("vtok"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), toks.tok == vocab.vtok, "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("vtok").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (F.floor(F.col("n_oov") * 1000000.0 / F.col("n_tokens")) / 1000000).alias(
            "oov_rate"
        ),
    )
