"""Text functions: tokenize/normalize (reference T1/T2), truncation (P5),
and the [EXT] text-analysis suite (language-ID, quality scoring, token
counting, fingerprinting) for LLM-data pipelines.

Reference parity: T1 tokenization + T2 `CommonPreprocessor` lowercase/strip
(`Word2VecTransformingIterator.java:55-56,95`) become one JVM-side
expression: ``filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')``.
P5 truncation (`:104-105`, cap 256) is ``slice(tokens, 1, n)``.

Everything here is pure `pyspark.sql.functions` — whole-stage-codegen'd,
no Python in the hot path. Each op keeps an exactly-equivalent DuckDB SQL
fragment next to it so oracle queries stay in lockstep.
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table

# Closures shipped to executors (the BPE mapInPandas kernel) serialize
# module helpers BY VALUE, so executors without this package installed can
# run them — same contract as ml/distributed.py.
try:  # pragma: no cover - import location varies across pyspark versions
    from pyspark import cloudpickle as _cp
except ImportError:
    import cloudpickle as _cp
_cp.register_pickle_by_value(sys.modules[__name__])

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# DuckDB fragment equivalent to tokens(); keep in sync with tokens() below.
# coalesce: NULL text tokenizes to [] (not NULL) so downstream size()/explode
# never see NULL arrays — same guard on both engines.
DUCK_TOKENS = (
    "list_filter(string_split_regex(lower(coalesce({col}, '')), '[^a-z0-9]+'), t -> t != '')"
)


def tokens(col: Column | str) -> Column:
    """T1+T2: lowercase, split on non-alphanumerics, drop empties.
    Null-safe: NULL text → empty token array."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(F.coalesce(col, F.lit(""))), TOKEN_SPLIT_RE), lambda t: t != F.lit("")
    )


def truncate_tokens(tok: Column, n: int = 256) -> Column:
    """P5: cap a token sequence at n (Word2VecTransformingIterator.java:104-105)."""
    return F.slice(tok, 1, n)


# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Public common stopwords; deterministic.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "des"],
}


# ---------------------------------------------------------------------------
# T1/T2/P5 as a query: tokenize → truncate → stats
# ---------------------------------------------------------------------------
@register(
    "tokenize_truncate",
    oracle=f"""
        SELECT doc_id,
               len({DUCK_TOKENS.format(col='text')}) AS n_tokens,
               len(list_slice({DUCK_TOKENS.format(col='text')}, 1, 32)) AS n_tokens_capped,
               {DUCK_TOKENS.format(col='text')}[1] AS first_token
        FROM documents
    """,
    tags=("text",),
)
def tokenize_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2+P5: tokenize, cap at 32, report counts and first token."""
    d = load_table(spark, sf_dir, "documents")
    tok = tokens("text")
    return d.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.size(truncate_tokens(tok, 32)).alias("n_tokens_capped"),
        # try_element_at: ANSI element_at throws on an empty array, DuckDB
        # tok[1] yields NULL — caught by the hostile-corpus fuzz
        F.try_element_at(tok, F.lit(1)).alias("first_token"),
    )


# ---------------------------------------------------------------------------
# A4 analog: corpus-level max/avg sequence length
# (running max of token length, Word2VecTransformingIterator.java:93-102)
# ---------------------------------------------------------------------------
@register(
    "corpus_token_stats",
    oracle=f"""
        SELECT max(len({DUCK_TOKENS.format(col='text')})) AS max_len,
               min(len({DUCK_TOKENS.format(col='text')})) AS min_len,
               round(avg(len({DUCK_TOKENS.format(col='text')})), 4) AS avg_len,
               count(*) AS n_docs
        FROM documents
    """,
    tags=("text", "agg"),
)
def corpus_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 generalized: max/min/avg token-sequence length over the corpus."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(tokens("text"))
    return d.agg(
        F.max(n).alias("max_len"),
        F.min(n).alias("min_len"),
        F.round(F.avg(n), 4).alias("avg_len"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# [EXT] text quality scoring (length / punctuation / digit / stopword ratios)
# ---------------------------------------------------------------------------
@register(
    "text_quality",
    oracle=f"""
        SELECT doc_id,
               length(text) AS n_chars_measured,
               len({DUCK_TOKENS.format(col='text')}) AS n_words,
               round(len(regexp_extract_all(text, '[0-9]'))  * 1.0 / greatest(length(text), 1), 6) AS digit_ratio,
               round(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
               round(len(list_intersect(list_distinct({DUCK_TOKENS.format(col='text')}),
                                        ['the','and','of','to','in','is','that','for','with','on'])) * 1.0
                     / greatest(len(list_distinct({DUCK_TOKENS.format(col='text')})), 1), 6) AS stopword_ratio,
               CASE WHEN length(text) >= 100
                     AND len({DUCK_TOKENS.format(col='text')}) >= 20
                     AND len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) * 1.0 / greatest(length(text), 1) < 0.1
                    THEN 1 ELSE 0 END AS quality_pass
        FROM documents
    """,
    tags=("text", "ext"),
    bench=True,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic doc-quality features + pass/fail gate, all JVM-side."""
    d = load_table(spark, sf_dir, "documents")
    tok = tokens("text")
    n_chars = F.length("text")
    digits = F.regexp_count("text", F.lit("[0-9]"))
    punct = F.regexp_count("text", F.lit("[^a-zA-Z0-9 ]"))
    distinct_tok = F.array_distinct(tok)
    stop_hits = F.size(F.array_intersect(distinct_tok, F.lit(LANG_STOPWORDS["en"])))
    digit_ratio = F.round(digits / F.greatest(n_chars, F.lit(1)), 6)
    punct_ratio = F.round(punct / F.greatest(n_chars, F.lit(1)), 6)
    return d.select(
        "doc_id",
        n_chars.alias("n_chars_measured"),
        F.size(tok).alias("n_words"),
        digit_ratio.alias("digit_ratio"),
        punct_ratio.alias("punct_ratio"),
        F.round(stop_hits / F.greatest(F.size(distinct_tok), F.lit(1)), 6).alias("stopword_ratio"),
        F.when(
            (n_chars >= 100)
            & (F.size(tok) >= 20)
            & (punct / F.greatest(n_chars, F.lit(1)) < 0.1),
            1,
        )
        .otherwise(0)
        .alias("quality_pass"),
    )


# ---------------------------------------------------------------------------
# [EXT] language identification by stopword-overlap voting
# ---------------------------------------------------------------------------
def _duck_lang_score(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_intersect(list_distinct({DUCK_TOKENS.format(col='text')}), [{words}]))"


@register(
    "lang_id",
    oracle=f"""
        SELECT doc_id, lang AS lang_declared,
               CASE
                 WHEN {_duck_lang_score('en')} >= {_duck_lang_score('es')}
                  AND {_duck_lang_score('en')} >= {_duck_lang_score('fr')}
                  AND {_duck_lang_score('en')} >= {_duck_lang_score('de')} THEN 'en'
                 WHEN {_duck_lang_score('es')} >= {_duck_lang_score('fr')}
                  AND {_duck_lang_score('es')} >= {_duck_lang_score('de')} THEN 'es'
                 WHEN {_duck_lang_score('fr')} >= {_duck_lang_score('de')} THEN 'fr'
                 ELSE 'de'
               END AS lang_pred
        FROM documents
    """,
    tags=("text", "ext"),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID with a deterministic en>es>fr>de tie-break."""
    d = load_table(spark, sf_dir, "documents")
    distinct_tok = F.array_distinct(tokens("text"))
    score = {
        lang: F.size(F.array_intersect(distinct_tok, F.lit(words)))
        for lang, words in LANG_STOPWORDS.items()
    }
    pred = (
        F.when(
            (score["en"] >= score["es"]) & (score["en"] >= score["fr"]) & (score["en"] >= score["de"]),
            "en",
        )
        .when((score["es"] >= score["fr"]) & (score["es"] >= score["de"]), "es")
        .when(score["fr"] >= score["de"], "fr")
        .otherwise("de")
    )
    return d.select("doc_id", F.col("lang").alias("lang_declared"), pred.alias("lang_pred"))


# ---------------------------------------------------------------------------
# [EXT] BPE-ish token counting (regex lexer classes, not just whitespace)
# ---------------------------------------------------------------------------
@register(
    "token_counts",
    oracle=r"""
        SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_ish_tokens
        FROM documents
    """,
    tags=("text", "ext"),
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + a BPE-ish lexer count (letters|digits|symbol)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))).alias(
            "bpe_ish_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# [EXT] TF-IDF scoring, fully declarative (the SQL twin of HashingTF+IDF)
# ---------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    oracle=f"""
        WITH posting AS (
          SELECT doc_id, unnest({DUCK_TOKENS.format(col='text')}) AS tok FROM documents
        ),
        tf AS (
          SELECT doc_id, tok, count(*) AS tf FROM posting GROUP BY doc_id, tok
        ),
        df AS (
          SELECT tok, count(DISTINCT doc_id) AS df FROM posting GROUP BY tok
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.tok,
                 round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
          FROM tf JOIN df ON df.tok = tf.tok CROSS JOIN n
        )
        SELECT doc_id, tok, tfidf, rnk FROM (
          SELECT doc_id, tok, tfidf,
                 row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rnk
          FROM scored
        ) WHERE rnk <= 3
    """,
    tags=("text", "ext"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by smoothed TF-IDF — the declarative twin
    of the HashingTF→IDF MLlib stage (ml_sentiment_tfidf_logreg), with df
    computed as a broadcastable side aggregate rather than a fitted model."""
    d = load_table(spark, sf_dir, "documents")
    posting = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = posting.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = posting.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar; documents is dimension-sized at every SF
    scored = tf.join(F.broadcast(df), "tok").select(
        "doc_id",
        "tok",
        F.round(F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6).alias("tfidf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.select("doc_id", "tok", "tfidf", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# [EXT] document fingerprinting (canonicalized md5; basis of exact dedup)
# ---------------------------------------------------------------------------
@register(
    "doc_fingerprints",
    oracle=f"""
        SELECT doc_id,
               md5(coalesce(array_to_string(list_sort(list_distinct({DUCK_TOKENS.format(col='text')})), ' '), '')) AS fingerprint,
               md5(text) AS exact_hash
        FROM documents
    """,
    tags=("text", "ext", "dedup"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical fingerprint = md5 over sorted distinct tokens (bag-of-words
    identity, robust to word order), plus the raw exact-text md5."""
    d = load_table(spark, sf_dir, "documents")
    canon = F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " ")
    return d.select(
        "doc_id",
        F.md5(canon).alias("fingerprint"),
        F.md5(F.col("text")).alias("exact_hash"),
    )


# ---------------------------------------------------------------------------
# [EXT] BM25 lexical retrieval (the keyword twin of cosine_topk_exact)
# ---------------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "window", "merge")  # fixed query terms
BM25_TOPK = 20

_BM25_TF = "len(list_filter({toks}, t -> t = '{term}'))"


def _bm25_duck() -> str:
    toks = DUCK_TOKENS.format(col="text")
    tf_cols = ", ".join(
        _BM25_TF.format(toks=toks, term=t) + f" AS tf_{i}" for i, t in enumerate(BM25_QUERY)
    )
    score = " + ".join(
        f"ln(1 + (s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
        f" * tf_{i} * ({BM25_K1} + 1)"
        f" / (tf_{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / s.avgdl))"
        for i in range(len(BM25_QUERY))
    )
    df_aggs = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}" for i in range(len(BM25_QUERY))
    )
    return f"""
        WITH base AS (
          SELECT doc_id, len({toks}) AS dl, {tf_cols} FROM documents
        ),
        nonempty AS (SELECT * FROM base WHERE dl > 0),
        s AS (
          SELECT count(*) AS n, avg(dl) AS avgdl, {df_aggs} FROM nonempty
        )
        SELECT doc_id, round({score}, 6) + 0.0 AS bm25
        FROM nonempty CROSS JOIN s
        WHERE {score} > 0
        ORDER BY round({score}, 6) DESC, doc_id ASC
        LIMIT {BM25_TOPK}
    """


@register(
    "bm25_topk",
    oracle=_bm25_duck(),
    tags=("text", "ext", "retrieval", "scale"),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k lexical retrieval for a fixed query — the keyword-search
    complement to the embedding-space `cosine_topk_exact`; in an LLM-data
    pipeline this is the standard tool for targeted corpus audits
    (benchmark leakage probes, topic pulls).

    Scale shape: per-term tf and doc length are scan-stage per-row
    expressions (the query is a handful of constant terms — no posting
    list, no explode); the corpus statistics (N, avgdl, per-term df)
    collapse to ONE row that broadcasts back; the only ordering work is
    the final top-k, which compiles to TakeOrderedAndProject. So the
    whole query is one pass over the corpus with no shuffle at all.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")

    def eq_term(t: str):
        # NB: must stay single-parameter — a two-arg lambda would be taken
        # as F.filter's (element, index) form.
        return lambda x: x == F.lit(t)

    # Materialize the token array once per row: inlining `toks` into dl and
    # each per-term tf would re-run lower+split 4× per row (CollapseProject
    # would otherwise merge the projections and duplicate the expression).
    base = (
        d.select("doc_id", toks.alias("tok"))
        .select(
            "doc_id",
            F.size("tok").alias("dl"),
            *[
                F.size(F.filter(F.col("tok"), eq_term(t))).alias(f"tf_{i}")
                for i, t in enumerate(BM25_QUERY)
            ],
        )
        .filter(F.col("dl") > 0)
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    score = None
    for i in range(len(BM25_QUERY)):
        idf = F.log(1 + (F.col("n") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5))
        w = (
            idf
            * F.col(f"tf_{i}")
            * (BM25_K1 + 1)
            / (F.col(f"tf_{i}") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
        )
        score = w if score is None else score + w
    return (
        base.crossJoin(F.broadcast(stats))
        .filter(score > 0)
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# [EXT] inverted-index posting lists (the build step behind lexical search)
# ---------------------------------------------------------------------------
POSTING_CAP = 10  # doc ids retained per term in the compact index head


@register(
    "inverted_index_postings",
    oracle=f"""
        WITH posting AS (
          SELECT doc_id, unnest(list_distinct({DUCK_TOKENS.format(col='text')})) AS tok
          FROM documents
        )
        SELECT tok,
               count(*) AS df,
               -- serialized (not a LIST column): the driver's pandas-based
               -- hasher cannot hash list cells, so both engines emit the
               -- comma-joined head of the posting list as VARCHAR
               array_to_string(list_slice(list_sort(list(doc_id)), 1, {POSTING_CAP}), ',')
                 AS head_doc_ids
        FROM posting GROUP BY tok
    """,
    tags=("text", "ext", "retrieval"),
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the inverted index: term → document frequency + the sorted
    head of its posting list (capped at POSTING_CAP ids — full postings
    would be written columnar, term-bucketed, not collected).

    Scale shape: one shuffle on term with map-side partial aggregation;
    posting lists are naturally term-partitioned on disk afterwards, which
    is exactly the layout a distributed lexical index wants. Skewed terms
    (stopwords) bound their output by the cap rather than their df.
    """
    d = load_table(spark, sf_dir, "documents")
    posting = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    return posting.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, POSTING_CAP).cast(
                "array<string>"
            ),
            ",",
        ).alias("head_doc_ids"),
    )


# ---------------------------------------------------------------------------
# [EXT] Zipf rank-frequency fit (corpus health diagnostic)
# ---------------------------------------------------------------------------
@register(
    "zipf_fit",
    oracle=f"""
        WITH freq AS (
          SELECT tok, count(*) AS f
          FROM (SELECT unnest({DUCK_TOKENS.format(col='text')}) AS tok FROM documents)
          GROUP BY tok
        ),
        ranked AS (
          SELECT ln(row_number() OVER (ORDER BY f DESC, tok ASC)) AS lnr, ln(f) AS lnf
          FROM freq
        )
        SELECT count(*) AS n_terms,
               round(covar_pop(lnr, lnf) / nullif(var_pop(lnr), 0), 6) + 0.0 AS slope,
               round(avg(lnf) - covar_pop(lnr, lnf) / nullif(var_pop(lnr), 0) * avg(lnr), 6) + 0.0
                 AS intercept
        FROM ranked
    """,
    tags=("text", "ext", "agg"),
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic: least-squares slope/intercept of
    ln(frequency) against ln(rank) over the term-frequency table. Natural
    corpora sit near slope −1; a corpus whose slope drifts (template spam,
    boilerplate floods) fails the health check before training does.

    Scale shape: term counting is the usual map-side-combined agg; the
    regression runs over the (small) vocabulary table and reduces to one
    covariance aggregate — the corpus is read once.
    """
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    from pyspark.sql import Window as W

    ranked = freq.select(
        F.log(F.row_number().over(W.orderBy(F.col("f").desc(), F.col("tok").asc()))).alias("lnr"),
        F.log("f").alias("lnf"),
    )
    # nullif guards the single-term corpus (var_pop = 0): the fit is
    # undefined there, and ANSI double division would throw — both engines
    # emit NULL slope/intercept instead (found by the NULL-text corpus fuzz).
    slope = F.covar_pop("lnr", "lnf") / F.nullif(F.var_pop("lnr"), F.lit(0.0))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(F.avg("lnf") - slope * F.avg("lnr"), 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Bigram language-model quality scoring (corpus-statistical fluency gate)
# ---------------------------------------------------------------------------
MIN_BIGRAM_FREQ = 30  # corpus floor for a bigram to count as "fluent"

_DUCK_BG_POSTING = f"""
          SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
          FROM (SELECT doc_id, {DUCK_TOKENS.format(col='text')} AS toks FROM documents)
"""


@register(
    "bigram_lm_quality",
    oracle=f"""
        WITH posting AS ({_DUCK_BG_POSTING}),
        bg AS (
          SELECT doc_id,
                 tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos ASC) AS bigram
          FROM posting
        ),
        bg2 AS (SELECT doc_id, bigram FROM bg WHERE bigram IS NOT NULL),
        lm AS (
          SELECT bigram, CAST(count(*) AS BIGINT) AS bg_count
          FROM bg2 GROUP BY bigram HAVING count(*) >= {MIN_BIGRAM_FREQ}
        ),
        j AS (SELECT b.doc_id, l.bg_count FROM bg2 b LEFT JOIN lm l USING (bigram))
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(count(bg_count) AS BIGINT) AS n_common,
               round(count(bg_count) * 1.0 / count(*), 6) AS bigram_coverage,
               round(coalesce(sum(bg_count) * 1.0 / nullif(count(bg_count), 0), 0.0), 6)
                 AS mean_common_freq
        FROM j GROUP BY doc_id
    """,
    doc="Corpus-statistical fluency score: share of a doc's bigrams that are "
    "corpus-common — the exact-arithmetic core of perplexity-style filtering.",
    tags=("text", "ext", "quality"),
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality gate, the engine-portable core of the
    perplexity-filtering stage every LLM data pipeline runs (cf. CCNet /
    Gopher quality filters): a doc whose word transitions rarely occur in
    the corpus is boilerplate/garbled.  Exact integer arithmetic (counts
    and one final division) instead of log-probs keeps the oracle
    hash-portable — ln() is not identically rounded across engines.

    Scale: the bigram LM is one map-side-combined hash agg with a
    frequency floor (dimension-sized — common bigrams are a tiny, slowly
    growing set), broadcast back; per-doc scoring is an array expression +
    one agg. Two shuffles total, both on small keys."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    # greatest(n-1, 0): slice with a negative length throws on token-less
    # docs (same guard as the shingle builder) — caught by the corpus fuzz
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    doc_bg = d.select("doc_id", F.explode(bigrams).alias("bigram"))
    lm = (
        doc_bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("bg_count"))
        .filter(F.col("bg_count") >= MIN_BIGRAM_FREQ)
    )
    joined = doc_bg.join(F.broadcast(lm), "bigram", "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.count("bg_count").alias("n_common"),
        F.round(F.count("bg_count") / F.count(F.lit(1)), 6).alias("bigram_coverage"),
        F.round(
            F.coalesce(
                F.sum("bg_count") / F.nullif(F.count("bg_count"), F.lit(0)), F.lit(0.0)
            ),
            6,
        ).alias("mean_common_freq"),
    )


# ---------------------------------------------------------------------------
# BPE subword tokenization (Sennrich, Haddow, Birch 2016, ACL — "Neural
# Machine Translation of Rare Words with Subword Units")
# ---------------------------------------------------------------------------
BPE_MERGES = 40       # learned merge operations (the fixture vocabulary is
                      # 31 words; 40 merges fully fuse the frequent head
                      # while rarer/longer words stay split — the real
                      # subword regime)
BPE_WORD_CAP = 10000  # word-frequency table bound for merge learning
BPE_END = "·"         # end-of-word marker (kept off the [a-z0-9] token alphabet)


def _bpe_train(word_counts: list[tuple[str, int]], n_merges: int = BPE_MERGES) -> list[tuple[str, str]]:
    """Learn BPE merges from a (word, count) table — pure-Python textbook
    algorithm, deterministic: highest pair count wins, ties break to the
    lexicographically smallest pair. Driver-side by design: the word
    FREQUENCY table is dimension-sized (Zipf — the cap keeps it bounded),
    while the corpus itself never leaves the executors."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts:
        sym = tuple(list(w) + [BPE_END])
        vocab[sym] = vocab.get(sym, 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        best, best_n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if best_n < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab = {}
        for sym, c in vocab.items():
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def _bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply learned merges to one word, lowest-rank-first (standard BPE
    inference)."""
    sym = list(word) + [BPE_END]
    while len(sym) > 1:
        best_i, best_r = -1, None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_r is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def train_bpe_on_corpus(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """One map-side-combined word-count agg → bounded top-frequency table
    collected to the driver → merge learning. The (count DESC, word ASC)
    order makes the cap deterministic."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), F.asc("w"))
        .limit(BPE_WORD_CAP)
        .collect()
    )
    return _bpe_train([(r["w"], r["count"]) for r in wc])


@register(
    "bpe_tokenize_stats",
    oracle=None,  # iterative merge learning is not SQL-expressible
    tags=("text", "ext", "tokenizer"),
)
def bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE subword tokenization end-to-end: learn merges from the corpus
    (driver-side on the bounded frequency table), broadcast the merge
    ranks, encode every document in one Arrow hop with a per-batch word
    cache (Zipf makes the cache hit rate ~99%), and report per-doc
    subword statistics — the token-budget accounting an LLM data pipeline
    runs before packing.

    Scale: training cost is O(word-table), independent of corpus size;
    encoding is map-side only (no shuffle) and output is one bounded row
    per doc."""
    merges = train_bpe_on_corpus(spark, sf_dir)
    ranks = {p: i for i, p in enumerate(merges)}
    bc = spark.sparkContext.broadcast(ranks)

    import pandas as pd
    from pyspark.sql import types as T

    d = load_table(spark, sf_dir, "documents")

    def encode_docs(batches):
        cache: dict[str, list[str]] = {}
        rk = bc.value

        def enc(w: str) -> list[str]:
            got = cache.get(w)
            if got is None:
                got = cache[w] = _bpe_encode_word(w, rk)
            return got

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "n_words", "n_subwords", "subwords_per_word", "n_singleton_chars")}
            for doc_id, toks in zip(pdf["doc_id"], pdf["toks"]):
                subs = [s for w in toks for s in enc(w)]
                n_single = sum(1 for s in subs if len(s.rstrip(BPE_END)) <= 1)
                out["doc_id"].append(doc_id)
                out["n_words"].append(len(toks))
                out["n_subwords"].append(len(subs))
                out["subwords_per_word"].append(
                    round(len(subs) / len(toks), 6) if len(toks) else 0.0
                )
                out["n_singleton_chars"].append(n_single)
            yield pd.DataFrame(out)

    return (
        d.select("doc_id", tokens("text").alias("toks"))
        .mapInPandas(
            encode_docs,
            "doc_id long, n_words int, n_subwords int, subwords_per_word double, n_singleton_chars int",
        )
    )


# ---------------------------------------------------------------------------
# [EXT] Unicode normalization + whitespace hygiene (text cleanup pass)
# ---------------------------------------------------------------------------
@register(
    "text_normalize_nfc",
    oracle=r"""
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(nfc_normalize(coalesce(text, '')),
                    '[\x00-\x1F\x7F]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
               CAST(length(trim(regexp_replace(regexp_replace(nfc_normalize(coalesce(text, '')),
                    '[\x00-\x1F\x7F]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        FROM documents
    """,
    doc="Unicode NFC normalization + control-char strip + whitespace squash (corpus hygiene).",
    tags=("text", "curation", "ext"),
)
def text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first cleanup pass of a web-scale text pipeline: canonicalize
    Unicode to NFC (so 'e'+combining-acute and 'é' dedup identically
    downstream), turn control characters into spaces, squash runs of
    spaces, trim. Exact-dedup and shingle fingerprints run AFTER this, so
    it must be byte-deterministic — verified against DuckDB's
    nfc_normalize.

    Scale shape: NFC has no JVM built-in, so it runs as an Arrow-batched
    pandas UDF (the documented non-relational edge); everything else —
    control strip, squash, trim, length — stays JVM-side regexp so the
    Python surface is exactly one str.map per batch. Shuffle-free.
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    # NB: no pd.Series annotations — this module's `from __future__ import
    # annotations` turns them into strings the UDF type inferrer rejects.
    nfc = pandas_udf(
        lambda col: col.map(lambda s: None if s is None else unicodedata.normalize("NFC", s)),
        "string",
    )

    d = load_table(spark, sf_dir, "documents")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(nfc(F.coalesce(F.col("text"), F.lit(""))), "[\\x00-\\x1F\\x7F]", " "),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id", cleaned.alias("norm_text"), F.length(cleaned).cast("long").alias("n_chars_norm")
    )


# ---------------------------------------------------------------------------
# [EXT r4] Python UDTF surface: 1→N table function (Spark 4 API)
# ---------------------------------------------------------------------------
UDTF_SPAN = 20  # tokens per emitted chunk span


@register(
    "udtf_chunk_spans",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        s AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, (len(toks) - 1) // {UDTF_SPAN})) AS chunk_idx
          FROM t
        )
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(least({UDTF_SPAN}, len(toks) - chunk_idx * {UDTF_SPAN}) AS INT) AS n_tokens,
               CAST(length(array_to_string(
                 list_slice(toks, chunk_idx * {UDTF_SPAN} + 1, (chunk_idx + 1) * {UDTF_SPAN}), ' ')) AS INT)
                 AS n_chars
        FROM s
    """,
    doc="Python UDTF (Spark 4 table function, Arrow-optimized) splitting documents into fixed-width chunk spans via LATERAL join — the 1→N table-function surface.",
    tags=("text", "udtf", "ext"),
)
def udtf_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-defined TABLE function surface (SURVEY §2.11): one input
    row → N output rows via a LATERAL join, the API for expansion logic
    too stateful for an `explode(split(...))` one-liner. The kernel chunks
    each document into UDTF_SPAN-token spans (a pretokenization pass);
    the splitter is a literal single-space split so DuckDB's string_split
    is an exact oracle — cross-engine parity is the point, not linguistic
    sophistication.

    ``useArrow=True`` keeps the transfer Arrow-batched — this is an API
    surface demo, not a hot-path recommendation: the repo's hot paths use
    built-in expressions or mapInPandas (see functions/arrays.py,
    sources/binary.py). At scale a UDTF runs inside the scan's partitions
    (LATERAL against each partition's rows), no shuffle.
    """
    from pyspark.sql.functions import udtf

    span = UDTF_SPAN

    @udtf(returnType="chunk_idx int, n_tokens int, n_chars int", useArrow=True)
    class ChunkSpans:
        def eval(self, text: str):
            if text is None:
                # Match the oracle: generate_series over NULL emits no
                # rows, so a NULL document contributes zero spans.
                return
            toks = text.split(" ")
            for i in range(0, len(toks), span):
                chunk = toks[i : i + span]
                yield i // span, len(chunk), len(" ".join(chunk))

    spark.udtf.register("ddl_chunk_spans", ChunkSpans)
    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.chunk_idx, s.n_tokens, s.n_chars
        FROM docs_udtf d, LATERAL ddl_chunk_spans(d.text) s
        """
    )


# ---------------------------------------------------------------------------
# [EXT r5] spark.udf.register: the SQL-callable scalar UDF surface
# (the UDTF twin above covers spark.udtf.register; this closes §2.11's
# last registration path — an Arrow pandas UDF invoked from SQL TEXT).
# ---------------------------------------------------------------------------
@register(
    "sql_registered_udf",
    oracle=f"""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len({DUCK_TOKENS.format(col='text')})) AS BIGINT)
                 AS total_tokens
        FROM documents
        GROUP BY lang
    """,
    doc="Arrow pandas UDF registered via spark.udf.register and invoked from SQL text; token counts hash-match the JVM/DuckDB tokenizers.",
    tags=("udf", "sql", "text", "ext"),
)
def sql_registered_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A scalar Arrow pandas UDF published into the SQL function catalog
    with ``spark.udf.register`` and called from SQL TEXT — the surface a
    SQL-first user touches (every other UDF here is invoked through the
    DataFrame API). The Python tokenizer mirrors `tokens()` exactly
    (lower → split ``[^a-z0-9]+`` → drop empties), so the SQL-invoked
    Python path, the JVM expression, and the DuckDB oracle all agree on
    the same counts — three engines, one semantic.

    Scale: same Arrow batching as any pandas_udf (the registration path
    changes dispatch, not execution); the aggregate above it is an
    ordinary partial-agg shuffle on `lang`.
    """
    import re

    import pandas as pd

    pat = re.compile(r"[^a-z0-9]+")

    def _ntok(s):
        return s.fillna("").map(
            lambda t: sum(1 for x in pat.split(t.lower()) if x)
        )

    _ntok.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.udf.register("ddl_ntokens", F.pandas_udf(_ntok, "long"))
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_sqludf")
    return spark.sql(
        """
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ddl_ntokens(text)) AS BIGINT) AS total_tokens
        FROM docs_sqludf
        GROUP BY lang
        """
    )


# ---------------------------------------------------------------------------
# [EXT r5] mapInArrow: the zero-pandas columnar UDF surface (§2.11's last
# Python-boundary API — pandas_udf / mapInPandas / applyInPandas / UDTF /
# UDAF / spark.udf.register all have registered queries; this closes
# mapInArrow).
# ---------------------------------------------------------------------------
@register(
    "map_in_arrow_bytes",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
               CAST(count(*) FILTER (WHERE strlen(text) = length(text))
                 AS BIGINT) AS n_ascii
        FROM documents
        GROUP BY lang
    """,
    doc="mapInArrow RecordBatch transform (utf8 byte lengths + ASCII flags via pyarrow.compute, no pandas), aggregated per lang.",
    tags=("udf", "arrow", "text", "ext"),
)
def map_in_arrow_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the Python boundary WITHOUT the pandas detour —
    batches arrive as ``pyarrow.RecordBatch`` and leave as RecordBatch,
    so a columnar kernel (here ``pyarrow.compute``: utf8 byte length and
    ASCII detection) runs zero-copy on Arrow buffers. For bytes-shaped
    work (codecs, tokenizers, hashing) this skips pandas'
    object-boxing entirely — the fastest Python path Spark offers.

    Cross-engine parity: Arrow's ``binary_length`` (bytes) and
    ``string_is_ascii`` agree with DuckDB's ``strlen`` (bytes) and the
    bytes==codepoints ASCII test; NULL text stays NULL through both
    pipelines, so the counts hash-match.

    Scale: the transform is scan-local (no shuffle); the per-lang
    aggregate above it is one partial-agg shuffle on a low-cardinality
    key.
    """

    def per_batch(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            text = b.column(b.schema.get_field_index("text"))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("lang")),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.string_is_ascii(text),
                ],
                ["lang", "text_bytes", "is_ascii"],
            )

    d = load_table(spark, sf_dir, "documents").select("lang", "text")
    mapped = d.mapInArrow(
        per_batch, "lang string, text_bytes long, is_ascii boolean"
    )
    return mapped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("text_bytes").cast("long").alias("total_bytes"),
        F.count_if(F.col("is_ascii")).cast("long").alias("n_ascii"),
    )


# ---------------------------------------------------------------------------
# [EXT r5] String collations (new Spark 4 surface): case-insensitive
# grouping via UTF8_LCASE, without rewriting every expression to lower().
# ---------------------------------------------------------------------------
@register(
    "collated_token_counts",
    oracle="""
        SELECT lower(tok) AS token,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT tok) AS BIGINT) AS n_case_variants
        FROM (
          SELECT regexp_extract(text, '^([A-Za-z]+)', 1) AS tok FROM documents
        )
        WHERE tok <> '' AND tok IS NOT NULL
        GROUP BY 1
    """,
    doc="Case-insensitive grouping by leading word via the UTF8_LCASE collation (Spark 4 collation surface); count + distinct exact-case variants per collated group.",
    tags=("text", "collation", "ext"),
)
def collated_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group documents by their leading ASCII word under the
    ``UTF8_LCASE`` collation — Spark 4's collation surface makes the
    GROUP BY itself case-insensitive instead of pushing ``lower()`` into
    every expression. ``n_case_variants`` (distinct raw spellings inside
    each collated group) is the proof the collation did the merging: it
    exceeds 1 exactly when byte-distinct keys collated together.

    The emitted key is ``lower(token)`` because a collated GROUP BY keeps
    an arbitrary representative spelling (whichever row a partition saw
    first) — fine inside the engine, nondeterministic as output. Keys are
    restricted to ASCII letter runs so ICU lowercasing (Spark) and ASCII
    lowercasing (DuckDB) agree by construction.

    Scale: collation-aware grouping hashes the collation key directly —
    same single partial-agg shuffle as any groupBy, no expression
    rewrite, and (on sorted layouts) collated comparisons remain
    sargable where a wrapping lower() would not be.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = F.regexp_extract(F.col("text"), r"^([A-Za-z]+)", 1)
    return (
        d.select(tok.alias("tok"))
        .filter((F.col("tok") != "") & F.col("tok").isNotNull())
        .groupBy(F.collate(F.col("tok"), "UTF8_LCASE").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct(F.col("tok")).cast("long").alias("n_case_variants"),
        )
        .select(
            F.lower(F.collate(F.col("k"), "UTF8_BINARY")).alias("token"),
            "n_docs",
            "n_case_variants",
        )
    )


# ---------------------------------------------------------------------------
# [EXT r5] ANSI-safe arithmetic: try_divide under ansi.enabled=true
# ---------------------------------------------------------------------------
@register(
    "ansi_safe_doc_ratios",
    oracle=f"""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (WHERE strlen(coalesce(text, '')) = 0)
                    AS BIGINT) AS n_unmeasurable,
               CAST(sum(floor(len({DUCK_TOKENS.format(col='text')})
                              / nullif(strlen(coalesce(text, '')), 0)
                              * 10000 + 0.5)) AS BIGINT) AS density_e4
        FROM documents
        GROUP BY lang
    """,
    doc="ANSI-mode-safe token-density ratio: try_divide returns NULL for empty documents instead of raising under spark.sql.ansi.enabled=true; NULLs are counted, not silently dropped.",
    tags=("text", "ansi", "ext"),
)
def ansi_safe_doc_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens-per-byte density per language, computed with ``try_divide``:
    this engine runs with ``spark.sql.ansi.enabled=true`` (Spark 4's
    default), where a plain ``/`` by zero RAISES — the ``try_`` family is
    the sanctioned way to make a known-partial computation total.
    Empty documents (the zero denominator — the corpus fuzz draws them)
    yield NULL density, which the aggregate skips, and ``n_unmeasurable``
    reports them explicitly instead of letting the NULLs vanish.

    Both engines divide the same exact integers (token count / byte
    count: one IEEE divide), then floor to 1e-4 — bit-identical, the
    cross-engine round() discipline. The oracle's ``nullif`` is the ANSI
    twin of try_divide. Single partial-agg shuffle on lang.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text")))
    n_bytes = F.octet_length(F.coalesce(F.col("text"), F.lit("")))
    density = F.try_divide(n_tok, n_bytes)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_if(n_bytes == 0).cast("long").alias("n_unmeasurable"),
        F.sum(F.floor(density * 10000 + 0.5)).cast("long").alias("density_e4"),
    )
