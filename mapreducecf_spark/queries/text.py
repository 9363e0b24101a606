"""Text analysis over ``documents`` — the north-star extension of the
reference's only query (word count, ``client.py:16-21,71-78``): corpus
stats, per-document token stats, vocabulary, language-ID heuristic,
quality scoring, fingerprinting, BPE-ish token counting.

Scale design: every per-document computation here is a NARROW
transformation over the token array (``split`` + higher-order
functions: ``filter``/``transform``/``aggregate``) — zero shuffles, no
explode, no Python. One shuffle only where the query itself aggregates
across documents. At 100 TB the per-doc queries are embarrassingly
parallel map work pipelined into the parquet scan.

Tokenizer is the reference's (T1-T3+F1, SURVEY.md §2): ASCII-punct
strip, split on spaces, drop blank tokens — so every number here is
consistent with the wordcount family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreducecf_spark.operators.wordcount import ASCII_PUNCT_CLASS
from mapreducecf_spark.operators.wordcount import tokens_array as _tokens_array

#: BPE-ish pre-tokenizer: letter runs | digit runs | any other non-space
#: char (the classic GPT-2-style split, minus unicode categories).
#: Defined BEFORE the registry import: importing this module directly
#: re-enters it via registry -> pipeline -> `from text import BPE_RE`,
#: so the name must exist on the partially initialized module.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

from mapreducecf_spark.registry import register  # noqa: E402
from mapreducecf_spark.sources import load_table  # noqa: E402
from mapreducecf_spark.sources.tables import spread  # noqa: E402

# ---------------------------------------------------------------------
# shared expressions (Spark) and their DuckDB twins
# ---------------------------------------------------------------------


# tokenizer lives with the other reference-parity operators (and keeps
# this module registry-cycle-free for direct importers)
tokens_array = _tokens_array


# DuckDB twin of tokens_array(text)
_TOKS = (
    r"list_filter(string_split_regex("
    r"regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'), ' +'), "
    r"x -> regexp_matches(x, '\S'))"
)

#: tiny fixed English stopword list — shared verbatim by both engines so
#: the heuristic is deterministic and oracle-checkable
STOPWORDS = ("the", "a", "an", "of", "to", "and", "in", "is", "it", "that")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with the adaptive input spread applied
    (sources.spread over the MODULE-LOCAL ``load_table``, which pytest
    monkeypatches to plant synthetic corpora) — guide §2.5: the
    single-row-group test layout scans as ONE task, serializing every
    tokenize/explode corpus pass; a layout that already splits passes
    through untouched."""
    return spread(
        spark, sf_dir, "documents", load_table(spark, sf_dir, "documents"), "doc_id"
    )


# ---------------------------------------------------------------------
# corpus-level stats
# ---------------------------------------------------------------------
@register(
    "text_stats_by_lang_source",
    oracle="""
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY lang, source
""",
)
def text_stats_by_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile: one partial-aggregated groupBy, reads only the 3
    needed columns (column pruning leaves `text` on disk)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("n_chars").cast("double") / F.count("*"), 6).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_doc_token_stats",
    oracle=f"""
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(list_transform(toks, x -> lower(x)))) AS n_distinct,
       round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
             / nullif(len(toks), 0), 6) AS avg_token_len
FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) t
""",
)
def text_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics, fully narrow (no explode+groupBy
    round trip: at 100 TB that shuffle would dominate the job).

    Count and total length come from ONE struct-accumulator fold so the
    tokenizer expression is evaluated twice per row, not four times —
    each reference site of ``toks`` in a projection/lambda re-runs the
    whole regexp+split chain (measured 1.7 s vs 0.5 s at sf0.1)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_array(F.col("text"))
    stats = F.aggregate(
        toks,
        F.struct(
            F.lit(0).cast("bigint").alias("n"), F.lit(0).cast("bigint").alias("len")
        ),
        lambda acc, x: F.struct(
            (acc.n + 1).alias("n"), (acc.len + F.length(x)).alias("len")
        ),
    )
    return d.select(
        "doc_id",
        stats.alias("s"),
        F.size(F.array_distinct(F.transform(toks, F.lower))).alias("n_distinct"),
    ).select(
        "doc_id",
        F.col("s.n").alias("n_tokens"),
        "n_distinct",
        F.round(
            F.col("s.len").cast("double") / F.nullif(F.col("s.n"), F.lit(0)), 6
        ).alias("avg_token_len"),
    )


@register(
    "text_vocab",
    oracle=f"""
SELECT count(*) AS total_tokens,
       count(DISTINCT lower(word)) AS vocab_size
FROM (SELECT unnest({_TOKS}) AS word FROM documents) t
""",
)
def text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus totals: exact distinct (one shuffle on the token)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(tokens_array(F.col("text"))).alias("word"))
    return words.agg(
        F.count("*").alias("total_tokens"),
        F.count_distinct(F.lower("word")).alias("vocab_size"),
    )


#: HLL-vs-exact relative-error bound each engine asserts on its own
#: sketch (rsd is 1%; 5% is deterministic headroom in both engines)
VOCAB_APPROX_TOL = 0.05


@register(
    "text_vocab_approx",
    oracle=f"""
SELECT count(*) AS total_tokens,
       count(DISTINCT lower(word)) AS vocab_size,
       abs(CAST(approx_count_distinct(lower(word)) AS DOUBLE)
           / count(DISTINCT lower(word)) - 1) <= {VOCAB_APPROX_TOL} AS approx_ok
FROM (SELECT unnest({_TOKS}) AS word FROM documents) t
""",
)
def text_vocab_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB variant of text_vocab: approx_count_distinct (HLL++,
    rsd 1%) — mergeable sketch, no exact-distinct shuffle of the full
    token stream. Sketch estimates are engine-specific, so the graded
    schema carries the EXACT vocabulary size (hash-checked) plus
    ``approx_ok``: each engine bounds ITS OWN HLL estimate against its
    own exact count (<= {VOCAB_APPROX_TOL} relative error — generous vs
    the 1% rsd, so deterministically true in both engines). The exact
    column is the verification harness riding along; the 100 TB
    deployment ships the sketch alone.

    Exact and sketch run as SEPARATE single-row aggregations combined
    with a broadcast 1-row cross join: in one agg, the count_distinct
    rewrite would expand the grouping to every token and carry an HLL
    buffer per token group through the shuffle (the same pathology
    fixed in ts_daily_activity_approx); split, the sketch folds into
    the scan as one mergeable buffer per partition."""
    d = _docs_spread(spark, sf_dir)
    words = d.select(F.explode(tokens_array(F.col("text"))).alias("word"))
    exact = words.agg(
        F.count("*").alias("total_tokens"),
        F.count_distinct(F.lower(F.col("word"))).alias("vocab_size"),
    )
    sketch = words.agg(
        F.approx_count_distinct(F.lower(F.col("word")), 0.01).alias("apx")
    )
    return exact.crossJoin(F.broadcast(sketch)).select(
        "total_tokens",
        "vocab_size",
        (
            F.abs(F.col("apx").cast("double") / F.col("vocab_size") - 1)
            <= VOCAB_APPROX_TOL
        ).alias("approx_ok"),
    )


# ---------------------------------------------------------------------
# per-document heuristics
# ---------------------------------------------------------------------
@register(
    "text_language_id",
    oracle=f"""
SELECT doc_id, lang,
       round(CAST(len(list_filter(list_transform(toks, x -> lower(x)),
                                  x -> x IN ({_STOP_SQL})) ) AS DOUBLE)
             / nullif(len(toks), 0), 6) AS stop_ratio,
       CASE WHEN CAST(len(list_filter(list_transform(toks, x -> lower(x)),
                                      x -> x IN ({_STOP_SQL})) ) AS DOUBLE)
                 / nullif(len(toks), 0) >= 0.05
            THEN 'en' ELSE 'unknown' END AS pred_lang
FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents) t
""",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID (the classic cheap heuristic): the
    fraction of tokens that are common English function words. Narrow,
    deterministic, oracle-checkable; a real deployment would swap the
    one-list scorer for per-language lists — same plan shape."""
    d = load_table(spark, sf_dir, "documents")
    # materialize the lowered token array once per row (each reference
    # site of a tokens_array(...) expression re-runs the tokenizer)
    lowered = F.transform(tokens_array(F.col("text")), F.lower)
    ratio = F.col("n_stop").cast("double") / F.nullif(F.col("n_toks"), F.lit(0))
    return d.select(
        "doc_id",
        "lang",
        F.size(F.filter(lowered, lambda x: x.isin(*STOPWORDS))).alias("n_stop"),
        F.size(lowered).alias("n_toks"),
    ).select(
        "doc_id",
        "lang",
        F.round(ratio, 6).alias("stop_ratio"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("unknown")).alias("pred_lang"),
    )


@register(
    "text_quality_score",
    oracle=f"""
SELECT doc_id,
       length(text) AS n_chars_raw,
       len(toks) AS n_tokens,
       round(CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
             / nullif(length(text), 0), 6) AS punct_ratio,
       round(CAST(len(list_filter(list_transform(toks, x -> lower(x)),
                                  x -> x IN ({_STOP_SQL}))) AS DOUBLE)
             / nullif(len(toks), 0), 6) AS stop_ratio,
       round(CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE)
             / nullif(len(toks), 0), 6) AS distinct_ratio,
       (len(toks) >= 5 AND
        CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE)
            / nullif(len(toks), 0) >= 0.1) AS keep
FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents) t
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-style quality gates: length, punctuation density,
    stopword density, lexical diversity, and a boolean keep flag — the
    filter stage of a data pipeline, all narrow expressions."""
    d = load_table(spark, sf_dir, "documents")
    lowered = F.transform(tokens_array(F.col("text")), F.lower)
    base = d.select(
        "doc_id",
        F.length("text").alias("n_chars_raw"),
        F.size(lowered).alias("n_tokens"),
        F.size(F.filter(lowered, lambda x: x.isin(*STOPWORDS))).alias("n_stop"),
        F.size(F.array_distinct(lowered)).alias("n_uniq"),
        F.length(F.regexp_replace("text", ASCII_PUNCT_CLASS, "")).alias("n_nopunct"),
    )
    n_tokens = F.col("n_tokens")
    punct_ratio = (F.col("n_chars_raw") - F.col("n_nopunct")).cast("double") / F.nullif(
        F.col("n_chars_raw"), F.lit(0)
    )
    stop_ratio = F.col("n_stop").cast("double") / F.nullif(n_tokens, F.lit(0))
    distinct_ratio = F.col("n_uniq").cast("double") / F.nullif(n_tokens, F.lit(0))
    return base.select(
        "doc_id",
        "n_chars_raw",
        "n_tokens",
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        ((n_tokens >= 5) & (distinct_ratio >= 0.1)).alias("keep"),
    )


@register(
    "text_train_val_split",
    oracle="""
SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90
            THEN 'train' ELSE 'val' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS first_doc
FROM documents
GROUP BY 1
""",
)
def text_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/val assignment by hashing the
    document id (md5 prefix mod 100) — the reproducible alternative to
    ``df.sample``: stable under reprocessing, engine-independent
    (seeded ``sample()`` can never oracle-match across engines), and
    membership is decidable per row with no global state. The same
    expression serves as a stratified splitter when grouped by any
    stratum column."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "int"
    ) % 100
    split = F.when(bucket < 90, "train").otherwise("val")
    return d.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


@register(
    "text_top_bigrams",
    oracle=f"""
SELECT bigram, count(*) AS cnt
FROM (
  SELECT unnest([lower(t[i]) || ' ' || lower(t[i+1]) for i in range(1, len(t))]) AS bigram
  FROM (SELECT {_TOKS} AS t FROM documents) toks
  WHERE len(t) >= 2) b
GROUP BY bigram
ORDER BY cnt DESC, bigram
LIMIT 20
""",
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams (lowercased) — collocation mining on the same
    slice-zip shingling as dedup (K=2, with multiplicity). Top-k via
    TakeOrderedAndProject after a partial-aggregated count; ties broken
    by the bigram itself so the cut is deterministic."""
    d = _docs_spread(spark, sf_dir)
    toks = F.transform(tokens_array(F.col("text")), F.lower)
    length = F.size(toks) - 1
    bigrams = F.zip_with(
        F.slice(toks, 1, length),
        F.slice(toks, 2, length),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.filter(F.size(toks) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "text_fingerprint",
    oracle=f"""
SELECT doc_id,
       md5(list_aggregate(list_transform({_TOKS}, x -> lower(x)),
                          'string_agg', ' ')) AS fingerprint
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-robust document fingerprint: md5 of the lowercased
    token stream re-joined on single spaces — two documents differing
    only in case/punctuation/whitespace collide. md5 is bit-identical
    in every engine, so this is exact-oracle-checkable (and is the
    grouping key used by dedup_exact in queries.dedup)."""
    d = load_table(spark, sf_dir, "documents")
    canon = F.array_join(F.transform(tokens_array(F.col("text")), F.lower), " ")
    return d.select("doc_id", F.md5(canon).alias("fingerprint"))


@register(
    "text_token_count_bpe",
    oracle=f"""
SELECT doc_id,
       len({_TOKS}) AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe_tokens
FROM documents
""",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens (the reference's
    notion) and a BPE-ish pre-tokenizer regex (letter runs / digit runs
    / single symbols) — the cheap proxy for "how many LLM tokens is
    this corpus" that a training pipeline runs before paying for real
    BPE."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens_array(F.col("text"))).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(BPE_RE)).alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------
# unigram-LM quality scoring (perplexity proxy)
# ---------------------------------------------------------------------
#: tokens seen fewer than this many times corpus-wide count as "rare"
RARE_MIN_COUNT = 5


@register(
    "text_unigram_logprob",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lower(tok) AS tok
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents) t),
counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
total AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM counts),
logp AS (SELECT tok, c, ln(CAST(c AS DOUBLE) / n) AS lp FROM counts, total)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(lp), 6) AS avg_logprob,
       round(avg(CASE WHEN c < {RARE_MIN_COUNT} THEN 1.0 ELSE 0.0 END), 6)
         AS rare_frac
FROM toks t JOIN logp USING (tok)
GROUP BY t.doc_id
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: fit a unigram LM on the corpus
    itself (p(w) = count(w) / total), then score each document by its
    mean token log-probability and its fraction of rare tokens — the
    classic cheap LM filter a training-data pipeline runs before a real
    LM perplexity pass.

    Scale: the token stream is shuffled twice (once to count the vocab,
    once to group scores back per doc) — both shuffles carry only
    (token) / (doc_id, logp) pairs, never text. The vocab→logprob side
    is tiny relative to the corpus (Heaps' law), so AQE picks a
    broadcast for the score join at any realistic vocabulary size; at
    a vocabulary too big to broadcast it degrades to a sort-merge join
    on token, which is still linear. The corpus-total is a 1-row
    broadcast. No Python, no driver collect."""
    d = _docs_spread(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(tokens_array(F.col("text"))).alias("tok0")
    ).select("doc_id", F.lower("tok0").alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").cast("double").alias("n"))
    logp = counts.crossJoin(F.broadcast(total)).select(
        "tok", "c", F.log(F.col("c").cast("double") / F.col("n")).alias("lp")
    )
    return (
        toks.join(logp, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
            F.round(
                F.avg(F.when(F.col("c") < RARE_MIN_COUNT, 1.0).otherwise(0.0)), 6
            ).alias("rare_frac"),
        )
    )


# ---------------------------------------------------------------------
# TF-IDF salient terms
# ---------------------------------------------------------------------
TFIDF_TOP_TERMS = 5


@register(
    "text_tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lower(tok) AS tok
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents) t),
tfc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
dlen AS (
  SELECT doc_id, tok, c,
         CAST(sum(c) OVER (PARTITION BY doc_id) AS DOUBLE) AS dl
  FROM tfc),
dfc AS (SELECT tok, CAST(count(*) AS DOUBLE) AS dft FROM tfc GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
scored AS (
  SELECT d.doc_id, d.tok AS term,
         round((CAST(d.c AS DOUBLE) / d.dl) * ln(nd / dft), 6) AS tfidf
  FROM dlen d JOIN dfc USING (tok) CROSS JOIN n)
SELECT doc_id, term, tfidf, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rnk
      FROM scored) t
WHERE rnk <= {TFIDF_TOP_TERMS}
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP_TERMS} TF-IDF terms per document — the classic
    keyword/salience extraction a corpus-indexing pipeline runs.

    Shape: explode → (doc, tok) count, PERSISTED (both the doc-length
    window and the document-frequency agg read it — without the cache
    Catalyst re-tokenizes the whole corpus per consumer, the expensive
    part at 100 TB; the cache is vocab-per-doc-sized, not
    corpus-sized) → doc-length by WINDOW over the already-shuffled
    (doc, tok) partials → document-frequency agg on tok (vocab-sized)
    joined back, AQE-broadcast under any realistic vocabulary →
    per-doc top-k via row_number, which Spark executes as a partial
    top-k per partition (WindowGroupLimit). Ranking compares the
    ROUNDED score (with term as the tiebreak) so both engines rank
    identical values."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tfc = token_counts(spark, sf_dir)
    dlen = tfc.withColumn(
        "dl", F.sum("c").over(Window.partitionBy("doc_id")).cast("double")
    )
    dfc = tfc.groupBy("tok").agg(F.count("*").cast("double").alias("dft"))
    n = d.agg(F.count("*").cast("double").alias("nd"))
    scored = (
        dlen.join(dfc, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            F.round(
                (F.col("c").cast("double") / F.col("dl"))
                * F.log(F.col("nd") / F.col("dft")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_TERMS)
        .select("doc_id", "term", "tfidf", "rnk")
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized lowered (doc_id, tok, c) term-frequency table
    — the tokenize-and-count pass BOTH ranked-retrieval scorers
    (TF-IDF and BM25) start from. One corpus explode per session; at
    100 TB this is the materialized postings-ingredient table the
    indexer writes once."""
    from mapreducecf_spark.memo import session_memo

    def build() -> DataFrame:
        d = _docs_spread(spark, sf_dir)
        toks = d.select(
            "doc_id", F.explode(tokens_array(F.col("text"))).alias("tok0")
        ).select("doc_id", F.lower("tok0").alias("tok"))
        return toks.groupBy("doc_id", "tok").agg(
            F.count("*").cast("bigint").alias("c")
        )

    return session_memo(spark, ("token_counts", sf_dir), build)


# ---------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------
BM25_K1 = 1.2  # term-frequency saturation
BM25_B = 0.75  # length-normalization strength
BM25_NQ = 20  # query-term workload size (df-ranked, bounded)
BM25_TOPK = 5


@register(
    "text_bm25_topk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lower(tok) AS tok
  FROM (SELECT doc_id, unnest({{TOKS}}) AS tok FROM documents) t),
tfc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2),
dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tfc GROUP BY 1),
stats AS (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
                 CAST(count(*) AS DOUBLE) AS nd
          FROM dlen),
dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY 1),
qterms AS (
  SELECT tok, df FROM dfc ORDER BY df DESC, tok LIMIT {BM25_NQ}),
scored AS (
  SELECT q.tok AS term, f.doc_id,
         round((ln((s.nd - CAST(q.df AS DOUBLE) + 0.5)
                   / (CAST(q.df AS DOUBLE) + 0.5) + 1.0)
                * (CAST(f.tf AS DOUBLE) * ({BM25_K1} + 1.0)))
               / (CAST(f.tf AS DOUBLE)
                  + {BM25_K1} * (1.0 - {BM25_B}
                                 + {BM25_B} * (CAST(l.dl AS DOUBLE) / s.avgdl))),
               6) AS bm25
  FROM qterms q
  JOIN tfc f ON f.tok = q.tok
  JOIN dlen l ON l.doc_id = f.doc_id
  CROSS JOIN stats s)
SELECT term, doc_id, bm25, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY term
                                   ORDER BY bm25 DESC, doc_id) AS rnk
      FROM scored) t
WHERE rnk <= {BM25_TOPK}
""".replace("{TOKS}", _TOKS),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (VERDICT r07 item 4): top-{BM25_TOPK}
    documents per query term under the standard (k1={BM25_K1},
    b={BM25_B}) scorer with Lucene's +1-smoothed Robertson idf — the
    length-normalized ranking TF-IDF (``text_tfidf_top_terms``)
    computes the ingredients for but never ranks with. The query
    workload is bounded by construction: the {BM25_NQ} highest-df
    terms (df-desc, term tiebreak — the +1-smoothed idf keeps even
    near-ubiquitous terms positively scored) — a deterministic,
    broadcastable stand-in for a user query stream.

    Shape: one tokenize → (doc, term, tf) partial agg, PERSISTED
    (doc-length, document-frequency, and the scorer all read it);
    doc-length and avgdl are integer-sum aggregates (order-stable);
    query terms broadcast into the posting join so only {BM25_NQ}
    terms' postings ever leave the scan; per-term top-k is a
    partitioned rank (WindowGroupLimit, plan-asserted — no global
    sort). Per-row arithmetic mirrors the oracle's operation order
    exactly; scores round to 6 before ranking with doc_id tiebreak.

    At 100 TB: postings for {BM25_NQ} terms ≪ corpus (the broadcast
    join prunes at the scan), doc-length table is doc-count-sized, and
    the rank never materializes more than top-k per term per
    partition."""
    from pyspark.sql import Window

    tfc = token_counts(spark, sf_dir).withColumnRenamed("c", "tf")
    dlen = tfc.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = dlen.agg(
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias("avgdl"),
        F.count("*").cast("double").alias("nd"),
    )
    dfc = tfc.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    qterms = (
        dfc.orderBy(F.desc("df"), F.asc("tok")).limit(BM25_NQ).select("tok", "df")
    )
    idf = F.log(
        (F.col("nd") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf").cast("double") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    scored = (
        tfc.join(F.broadcast(qterms), "tok")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("tok").alias("term"),
            "doc_id",
            F.round(
                (idf * (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)))
                / denom,
                6,
            ).alias("bm25"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BM25_TOPK)
        .select("term", "doc_id", "bm25", "rnk")
    )


#: histogram bucket width (chars)
HIST_BUCKET = 50


@register(
    "text_length_histogram",
    oracle=f"""
SELECT lang,
       CAST(floor(n_chars / {HIST_BUCKET}) * {HIST_BUCKET} AS BIGINT)
         AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1, 2
""",
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram per language ({HIST_BUCKET}-char
    buckets) — the distribution profile behind length-filter threshold
    tuning. One partial-aggregated groupBy over two pruned columns;
    integer bucket arithmetic, exact oracle."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(
        "lang",
        (F.floor(F.col("n_chars") / HIST_BUCKET) * HIST_BUCKET)
        .cast("bigint")
        .alias("bucket_lo"),
    ).agg(F.count("*").alias("n_docs"))


@register(
    "scalar_udf_tokens",
    oracle=f"""
SELECT doc_id, len({_TOKS}) AS n_tokens
FROM documents
""",
)
def scalar_udf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-extensible UDF surface, graded: a registered
    Arrow-vectorized Python UDF (``functions.udf.py_token_count``)
    invoked FROM SQL, checked against the same oracle as the native
    tokenizer. Demonstrates the registration path the reference lacks;
    the JVM-side HOF in ``text_doc_token_stats`` is the production
    path (see functions/udf.py's scale note)."""
    from mapreducecf_spark.functions.udf import register_udfs

    register_udfs(spark)
    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("udf_documents")
    return spark.sql(
        "SELECT doc_id, py_token_count(text) AS n_tokens FROM udf_documents"
    )


@register(
    "scalar_udaf_rms",
    oracle="""
SELECT event_type, round(sqrt(avg(value * value)), 6) AS rms_value
FROM events GROUP BY event_type
""",
)
def scalar_udaf_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-defined AGGREGATE surface, graded: a GROUPED_AGG
    pandas UDF (``functions.udf.py_rms``) used from SQL GROUP BY.
    Arrow ships each group's values to one Python call — the UDAF
    path Spark gives user code; the equivalent JVM expression
    (sqrt(avg(v*v))) is one line and remains the production path."""
    from mapreducecf_spark.functions.udf import register_udfs

    register_udfs(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("udaf_events")
    return spark.sql(
        "SELECT event_type, round(py_rms(value), 6) AS rms_value "
        "FROM udaf_events GROUP BY event_type"
    )


@register(
    "scalar_udtf_tokenize",
    oracle=f"""
SELECT doc_id, s['p'] AS pos, s['t'] AS token
FROM (SELECT doc_id,
             unnest([{{'p': i, 't': toks[i]}}
                     for i in range(1, len(toks) + 1)]) AS s
      FROM (SELECT doc_id, {_TOKS} AS toks
            FROM documents WHERE doc_id < 20) t) u
""",
)
def scalar_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-defined TABLE-function surface, graded: a Python UDTF
    (``functions.udf.py_tokenize``) exploding each document into
    (pos, token) rows via LATERAL — the row-generating extension path
    (vs the engine's native ``explode``, which stays the production
    path). Bounded to 20 docs: the UDTF surface is what's graded, not
    Python's throughput on the full corpus."""
    from mapreducecf_spark.functions.udf import register_udfs

    register_udfs(spark)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    d.createOrReplaceTempView("udtf_documents")
    return spark.sql(
        "SELECT doc_id, t.pos, t.token "
        "FROM udtf_documents, LATERAL py_tokenize(text) t"
    )


@register(
    "text_zipf_fit",
    oracle=f"""
WITH freq AS (
  SELECT lower(tok) AS word, count(*) AS f
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents) t
  GROUP BY 1),
ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, word) AS r FROM freq)
SELECT round(regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)
         AS zipf_slope,
       round(regr_r2(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)
         AS r2,
       CAST(count(*) AS BIGINT) AS vocab_size
FROM ranked
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus: OLS slope of log-frequency vs
    log-rank (a natural-language corpus sits near -1; a big deviation
    flags templated/generated text) — the regression-aggregate family
    (``regr_slope``/``regr_r2``) exercised end-to-end.

    One token shuffle for frequencies, a rank over the vocab (freq
    desc, word tiebreak — deterministic in both engines), and a 1-row
    regression aggregate with map-side partials. The rank is the
    TWO-PHASE global row_number (``functions.rank``): range-partition
    on the sort key, rank within partitions in parallel, add prefix
    offsets — vocabulary grows sublinearly with the corpus but is not
    provably one-task-sized, so no single-partition WindowExec (r06
    verdict item 6). Round-6 on the regression outputs absorbs the
    engines' summation-order noise."""
    from mapreducecf_spark.functions.rank import with_global_row_number

    d = _docs_spread(spark, sf_dir)
    freq = (
        d.select(F.explode(tokens_array(F.col("text"))).alias("tok"))
        .select(F.lower("tok").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("f"))
    )
    ranked = with_global_row_number(
        freq, [F.desc("f"), F.asc("word")], out_col="r"
    ).select("f", "r")
    lf = F.log(F.col("f").cast("double"))
    lr = F.log(F.col("r").cast("double"))
    return ranked.agg(
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 6).alias("r2"),
        F.count("*").alias("vocab_size"),
    )


@register(
    "text_bpe_merge_step",
    oracle=f"""
WITH toks AS (
  SELECT lower(unnest({_TOKS})) AS w FROM documents),
pairs AS (
  SELECT unnest([substr(w, i, 2) for i in range(1, len(w))]) AS pair
  FROM toks WHERE len(w) >= 2)
SELECT pair, CAST(count(*) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair LIMIT 20
""",
)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting kernel of tokenizer training: one BPE merge round's
    candidate statistics — adjacent symbol-pair frequencies over every
    (lowercased) token occurrence in the corpus, top 20 by count (the
    next merge BPE would pick is row 1). Real BPE iterates this count →
    merge → recount loop; each round is exactly this query over the
    current symbol sequences, so its scale posture decides whether
    corpus-trained tokenizers are feasible at all.

    100 TB shape: tokenize + pair-explode are scan-pipelined narrow
    work; the only shuffle is the partial-aggregated pair count
    (symbol-pair cardinality is tiny — bounded by alphabet², not
    corpus), and top-k is TakeOrderedAndProject, never a global sort.
    Ties broken by pair text so both engines return identical rows."""
    d = _docs_spread(spark, sf_dir)
    pairs = (
        d.select(F.explode(tokens_array(F.col("text"))).alias("tok"))
        .select(F.lower("tok").alias("w"))
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(20)
    )


@register(
    "text_bigram_ppl",
    oracle=f"""
WITH lt AS (
  SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS lt FROM documents),
toks AS (SELECT lower(unnest({_TOKS})) AS tok FROM documents),
v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vsz FROM toks),
big AS (
  SELECT doc_id, unnest([lt[i] || ' ' || lt[i+1] for i in range(1, len(lt))]) AS bg
  FROM lt),
c2 AS (SELECT bg, count(*) AS c2 FROM big GROUP BY 1),
c1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM big GROUP BY 1),
lp AS (
  SELECT b.doc_id,
         ln((c2.c2 + 1.0) / (c1.c1 + v.vsz)) AS lp
  FROM big b JOIN c2 USING (bg)
  JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1, v),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(lp), 6) AS avg_logprob
  FROM lp GROUP BY 1)
SELECT doc_id, n_bigrams, avg_logprob,
       round(exp(-avg_logprob), 6) AS ppl
FROM agg
""",
)
def text_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring — the classic LM-based quality
    filter (CCNet-style): train an add-one-smoothed bigram model on the
    corpus itself, score every document by its average bigram
    log-probability, and report perplexity (low = fluent/common
    phrasing, high = junk or boilerplate-shredded text). Documents with
    fewer than two tokens have no bigrams and drop out.

    100 TB shape: two corpus aggregations (bigram counts, left-context
    counts — both partial-aggregated, keys bounded by observed-bigram
    cardinality) and one scalar vocab count; scoring is an equi-join of
    per-doc bigram occurrences against the count tables (no broadcast
    assumed — the bigram table scales with the corpus), then a per-doc
    avg. In production the LM side is trained once and reused; the
    standalone-query contract rebuilds it inline. ``exp`` is applied to
    the ROUNDED avg in both engines so the hash never sees raw float
    summation."""
    d = _docs_spread(spark, sf_dir)
    lt = F.transform(tokens_array(F.col("text")), F.lower)
    n = F.size("lt")
    big = (
        d.select("doc_id", lt.alias("lt"))
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("lt"), 1, n - 1),
                    F.slice(F.col("lt"), 2, n - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("bg"),
        )
    )
    c2 = big.groupBy("bg").agg(F.count("*").alias("c2"))
    c1 = (
        big.select(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    vsz = (
        d.select(F.explode(lt).alias("tok"))
        .agg(F.count_distinct("tok").cast("double").alias("vsz"))
    )
    lp = (
        big.join(c2, "bg")
        .join(c1, F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("w1"))
        .crossJoin(F.broadcast(vsz))
        .select(
            "doc_id",
            F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("vsz"))).alias("lp"),
        )
    )
    agg = lp.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 6).alias("ppl"),
    )


# ---------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM scoring
# ---------------------------------------------------------------------
KN_D = 0.75  # absolute discount (the standard fixed-D KN)


#: the interpolated-KN bigram CTE chain (through ``agg``: per-doc
#: n_bigrams + round-6 avg log-prob) — ONE definition shared by the
#: perplexity row and the r14 perplexity-filter gate that composes on
#: it (byte-identity of the original oracle asserted when the refactor
#: landed).
_KN_BIG_CHAIN = f"""lt AS (
  SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS lt FROM documents),
big AS (
  SELECT doc_id, unnest([lt[i] || ' ' || lt[i+1] for i in range(1, len(lt))]) AS bg
  FROM lt),
c2 AS (SELECT bg, count(*) AS c2 FROM big GROUP BY 1),
c1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM big GROUP BY 1),
n1p AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS n1p FROM c2 GROUP BY 1),
ncont AS (SELECT split_part(bg, ' ', 2) AS w2, count(*) AS ncont FROM c2 GROUP BY 1),
nb AS (SELECT CAST(count(*) AS DOUBLE) AS nbig FROM c2),
lp AS (
  SELECT b.doc_id,
         ln((c2.c2 - {KN_D}) / c1.c1
            + ({KN_D} * n1p.n1p / c1.c1) * (ncont.ncont / nbig)) AS lp
  FROM big b JOIN c2 USING (bg)
  JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1
  JOIN n1p ON split_part(b.bg, ' ', 1) = n1p.w1
  JOIN ncont ON split_part(b.bg, ' ', 2) = ncont.w2, nb),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(lp), 6) AS avg_logprob
  FROM lp GROUP BY 1)"""


@register(
    "text_bigram_kn_ppl",
    oracle=f"""
WITH {{_KN_BIG_CHAIN}}
SELECT doc_id, n_bigrams, avg_logprob,
       round(exp(-avg_logprob), 6) AS ppl
FROM agg
""".format(_KN_BIG_CHAIN=_KN_BIG_CHAIN),
)
def text_bigram_kn_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram perplexity — the standard n-gram
    smoothing (Kneser & Ney 1995; Chen & Goodman 1999's interpolated
    fixed-discount form, D={KN_D}) next to the add-one baseline
    ``text_bigram_ppl``: P(w2|w1) = (c(w1w2)−D)/c(w1) +
    (D·N1+(w1·)/c(w1)) · N1+(·w2)/N1+(··). The continuation
    distribution scores a word by how many CONTEXTS it follows, not
    how often — the fix for add-one's overestimate of frequent-but-
    context-bound words, and the quality-filter LM CCNet actually
    ships (KenLM is interpolated modified KN). Scoring the corpus's
    own documents means every scored bigram is observed (c ≥ 1 > D),
    so the discount never goes negative and the max(·,0) clamp is
    vacuous.

    100 TB shape: four corpus aggregations over the bigram explode
    (pair counts, left-context counts, left/right TYPE counts — the
    last two over the already-aggregated pair table, vocab-bounded)
    plus one scalar; scoring is the same equi-join pipeline as the
    add-one row. Both engines evaluate the identically-parenthesized
    double expression, ln per term, and round the per-doc avg before
    the hash sees it (the add-one row's established discipline)."""
    d = _docs_spread(spark, sf_dir)
    lt = F.transform(tokens_array(F.col("text")), F.lower)
    n = F.size("lt")
    big = d.select("doc_id", lt.alias("lt")).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("lt"), 1, n - 1),
                F.slice(F.col("lt"), 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    )
    w1 = F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
    w2 = F.split_part(F.col("bg"), F.lit(" "), F.lit(2))
    c2 = big.groupBy("bg").agg(F.count("*").alias("c2")).localCheckpoint()
    # r18 opt (guide §2.3): c(w1) = Σ_bg c2(bg) grouped by w1 — exact
    # integer identity, derived from the checkpointed vocab-bounded
    # pair table instead of a second corpus-sized explode+shuffle
    c1 = c2.select(w1.alias("w1"), "c2").groupBy("w1").agg(
        F.sum("c2").alias("c1")
    )
    n1p = c2.select(w1.alias("w1")).groupBy("w1").agg(F.count("*").alias("n1p"))
    ncont = c2.select(w2.alias("w2")).groupBy("w2").agg(F.count("*").alias("ncont"))
    nb = c2.agg(F.count("*").cast("double").alias("nbig"))
    p = (F.col("c2") - F.lit(KN_D)) / F.col("c1") + (
        F.lit(KN_D) * F.col("n1p") / F.col("c1")
    ) * (F.col("ncont") / F.col("nbig"))
    lp = (
        big.join(c2, "bg")
        .join(c1, w1 == F.col("w1"))
        .join(n1p.withColumnRenamed("w1", "w1b"), w1 == F.col("w1b"))
        .join(ncont, w2 == F.col("w2"))
        .crossJoin(F.broadcast(nb))
        .select("doc_id", F.log(p).alias("lp"))
    )
    agg = lp.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 6).alias("ppl"),
    )


# ---------------------------------------------------------------------
# Count-Min sketch heavy-hitter calibration
# ---------------------------------------------------------------------
CMS_D = 4  # hash rows (depth)
CMS_W = 1024  # buckets per row (width)
CMS_TOPK = 20  # heavy hitters probed


@register(
    "text_cms_heavyhitters",
    oracle=f"""
WITH counts AS (
  SELECT lower(word) AS word, count(*) AS cnt
  FROM (SELECT unnest({_TOKS}) AS word FROM documents) t GROUP BY 1),
b AS (
  SELECT word, cnt, i AS row_i,
         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || word), 1, 8))
              AS BIGINT) % {CMS_W} AS bucket
  FROM counts, range(0, {CMS_D}) t(i)),
cms AS (SELECT row_i, bucket, CAST(sum(cnt) AS BIGINT) AS cell
        FROM b GROUP BY 1, 2),
heavy AS (SELECT word, cnt FROM counts ORDER BY cnt DESC, word LIMIT {CMS_TOPK})
SELECT p.word, CAST(p.cnt AS BIGINT) AS exact_cnt,
       CAST(min(c.cell) AS BIGINT) AS est_cnt,
       CAST(min(c.cell) - p.cnt AS BIGINT) AS overcount
FROM (SELECT h.word, h.cnt, b.row_i, b.bucket
      FROM heavy h JOIN b ON b.word = h.word) p
JOIN cms c ON c.row_i = p.row_i AND c.bucket = p.bucket
GROUP BY p.word, p.cnt
""",
)
def text_cms_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch built from pure DataFrame aggregation, with an
    est-vs-exact calibration on the top-{CMS_TOPK} tokens — the third
    sketch family next to HLL (distincts) and KLL (quantiles): CMS
    answers "how often does key x occur" in {CMS_D}×{CMS_W} integer
    cells no matter the vocabulary size, with one-sided (over-)error.
    At 100 TB the sketch is the bounded-memory frequency table a
    streaming pipeline maintains per window; here its cells come from
    one partial-agg shuffle keyed by (row, bucket) — {CMS_D} md5-derived
    hash rows replayed exactly by the oracle, so the driver hash-checks
    the whole structure, not a tolerance. The probe reports
    ``overcount = est - exact`` per heavy token, which is ≥ 0 BY
    CONSTRUCTION (the min of cells each ≥ the true count) — the
    calibration a deployment reads before trusting sketch counts at a
    given width."""
    d = _docs_spread(spark, sf_dir)
    counts = (
        d.select(F.explode(tokens_array(F.col("text"))).alias("w"))
        .select(F.lower("w").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .persist()  # feeds the sketch build, the heavy set, and the probe
    )
    rows = F.array(*[F.lit(i) for i in range(CMS_D)])
    bucketed = counts.select(
        "word", "cnt", F.explode(rows).alias("row_i")
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(F.md5(F.concat_ws(":", "row_i", "word")), 1, 8), 16, 10
        ).cast("bigint")
        % CMS_W,
    )
    cms = bucketed.groupBy("row_i", "bucket").agg(
        F.sum("cnt").cast("bigint").alias("cell")
    )
    heavy = counts.orderBy(F.desc("cnt"), "word").limit(CMS_TOPK)
    probes = heavy.join(bucketed.select("word", "row_i", "bucket"), "word")
    return (
        probes.join(cms, ["row_i", "bucket"])
        .groupBy("word", "cnt")
        .agg(F.min("cell").alias("est_cnt"))
        .select(
            "word",
            F.col("cnt").cast("bigint").alias("exact_cnt"),
            F.col("est_cnt").cast("bigint"),
            (F.col("est_cnt") - F.col("cnt")).cast("bigint").alias("overcount"),
        )
    )


# ---------------------------------------------------------------------
# classifier evaluation: lang-ID confusion matrix
# ---------------------------------------------------------------------
@register(
    "text_langid_confusion",
    oracle=f"""
WITH pred AS (
  SELECT lang,
         CASE WHEN CAST(len(list_filter(list_transform(toks, x -> lower(x)),
                                        x -> x IN ({_STOP_SQL})) ) AS DOUBLE)
                   / nullif(len(toks), 0) >= 0.05
              THEN 'en' ELSE 'unknown' END AS pred_lang
  FROM (SELECT lang, {_TOKS} AS toks FROM documents) t),
totals AS (SELECT lang, count(*) AS n_lang FROM pred GROUP BY 1)
SELECT p.lang, p.pred_lang,
       count(*) AS n_docs,
       round(count(*) / CAST(t.n_lang AS DOUBLE), 6) AS frac_of_lang
FROM pred p JOIN totals t USING (lang)
GROUP BY p.lang, p.pred_lang, t.n_lang
""",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-ratio language classifier
    against the labeled ``lang`` column — the evaluation loop every
    heuristic gate in a training pipeline needs before it is trusted to
    drop data: per (actual, predicted) cell counts plus the
    row-normalized rate (recall on the diagonal, leakage off it).

    Shape: the per-doc prediction is a scan-fused expression (shared
    with ``text_language_id``); the matrix is one partial-agg groupBy
    to ≤ |langs|·|classes| rows, and the row totals come from a second
    agg over those same tiny cells joined back BROADCAST — the corpus
    is scanned once. At 100 TB the matrix stays a few dozen rows no
    matter the doc count."""
    d = _docs_spread(spark, sf_dir)
    lowered = F.transform(tokens_array(F.col("text")), F.lower)
    ratio = (
        F.size(F.filter(lowered, lambda x: x.isin(*STOPWORDS))).cast("double")
        / F.nullif(F.size(lowered), F.lit(0))
    )
    pred = d.select(
        "lang",
        F.when(ratio >= 0.05, F.lit("en"))
        .otherwise(F.lit("unknown"))
        .alias("pred_lang"),
    )
    cells = pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n_docs"))
    totals = cells.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    return cells.join(F.broadcast(totals), "lang").select(
        "lang",
        "pred_lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(F.col("n_docs") / F.col("n_lang").cast("double"), 6).alias(
            "frac_of_lang"
        ),
    )


# ---------------------------------------------------------------------
# character entropy (fixed-point)
# ---------------------------------------------------------------------
@register(
    "text_char_entropy",
    oracle="""
WITH docs AS (SELECT doc_id, text FROM documents
              WHERE text IS NOT NULL AND length(text) > 0),
ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM docs),
cnts AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(CAST(floor(cnt * ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT))
              AS BIGINT) AS s
  FROM cnts GROUP BY 1)
SELECT doc_id, n AS n_chars_counted, n_distinct,
       CAST(CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) - s // n
            AS BIGINT) AS entropy_micro
FROM agg
""",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy in integer
    micro-nats — the quality feature that separates natural prose
    (≈ 4.2e6 µnats for English) from degenerate corpus junk at both
    ends: repeated-character spam collapses toward 0, while
    base64/binary-paste blobs push toward ln(alphabet). Computed as
    ``ln(n) − Σ cnt·ln(cnt)/n`` with EVERY per-char term floored to
    integer micro units before the sum, so the cross-char reduction is
    exact integer math — no float summation order anywhere (the same
    discipline as the PSI and pagerank fixed points; the ≤1 µnat/char
    flooring bias is identical in both engines).

    Shape: explode to (doc, char) → two partial-agg groupBys — all
    narrow scan-pipelined work plus shuffles keyed by doc_id (uniform,
    skew-free). At 100 TB this is the embarrassing-parallel profile
    pass that rides along the quality-scoring scan."""
    d = _docs_spread(spark, sf_dir)
    ch = (
        d.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .filter(F.col("c") != "")
    )
    cnts = ch.groupBy("doc_id", "c").agg(F.count("*").alias("cnt"))
    agg = cnts.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(
            F.floor(
                F.col("cnt") * F.log(F.col("cnt").cast("double")) * F.lit(1e6)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("s"),
    )
    return agg.select(
        "doc_id",
        F.col("n").alias("n_chars_counted"),
        "n_distinct",
        (
            F.floor(F.log(F.col("n").cast("double")) * F.lit(1e6)).cast("bigint")
            - F.expr("s div n")
        )
        .cast("bigint")
        .alias("entropy_micro"),
    )


# ---------------------------------------------------------------------
# per-source JS divergence from the corpus character profile
# ---------------------------------------------------------------------
@register(
    "text_source_divergence",
    oracle="""
WITH ch AS (
  SELECT source, unnest(string_split(text, '')) AS c
  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
sc AS (SELECT source, c, count(*) AS n FROM ch GROUP BY 1, 2),
st AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM sc GROUP BY 1),
gc AS (SELECT c, CAST(sum(n) AS BIGINT) AS ng_c FROM sc GROUP BY 1),
gt AS (SELECT CAST(sum(n) AS BIGINT) AS ng FROM sc),
grid AS (
  SELECT s.source, s.ns, g.c, g.ng_c, t.ng, coalesce(x.n, 0) AS ns_c
  FROM st s CROSS JOIN gc g CROSS JOIN gt t
  LEFT JOIN sc x ON x.source = s.source AND x.c = g.c),
terms AS (
  SELECT source,
         CAST(floor((
           CASE WHEN ns_c > 0
                THEN 0.5 * (ns_c / CAST(ns AS DOUBLE))
                     * ln((ns_c / CAST(ns AS DOUBLE))
                          / ((ns_c / CAST(ns AS DOUBLE)
                              + ng_c / CAST(ng AS DOUBLE)) / 2.0))
                ELSE 0.0 END
           + 0.5 * (ng_c / CAST(ng AS DOUBLE))
             * ln((ng_c / CAST(ng AS DOUBLE))
                  / ((ns_c / CAST(ns AS DOUBLE)
                      + ng_c / CAST(ng AS DOUBLE)) / 2.0))
         ) * 1e9) AS BIGINT) AS t_nano
  FROM grid)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_chars_profile,
       CAST(sum(t_nano) AS BIGINT) AS jsd_nano
FROM terms GROUP BY 1
""",
)
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's character distribution
    from the whole-corpus profile — the domain-drift/outlier audit
    that flags a source whose content silently changed character (a
    scraper now returning navigation chrome, a domain flipping
    language, base64 blobs leaking in): JSD is symmetric, bounded by
    ln 2, and zero iff the profiles match.

    Determinism: every per-character term (both halves are provably
    ≥ 0) is floored to integer NANO units before the cross-character
    sum — the PSI/entropy discipline, no float ordering anywhere. The
    absent-char case (source lacks a corpus character) keeps only the
    corpus-side half-term, the correct JSD limit. Shape: one explode
    scan → per-(source, char) partial-agg counts; the term grid is
    |sources|×|alphabet| rows off broadcast-sized aggregates — corpus
    bytes are touched once."""
    d = _docs_spread(spark, sf_dir)
    ch = (
        d.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("source", F.explode(F.split("text", "")).alias("c"))
        .filter(F.col("c") != "")
    )
    # eager checkpoint (r19, guide §5): the per-(source, char) counts
    # feed FOUR plan branches (st, gc, gt, and the grid's left join);
    # unmaterialized, the corpus-wide char explode re-ran per branch
    # (profiled: two concurrent 1.45 s explode+agg jobs). One pass now;
    # the checkpointed table is |sources|×|alphabet| rows — tiny.
    sc = ch.groupBy("source", "c").agg(F.count("*").alias("n")).localCheckpoint()
    st = sc.groupBy("source").agg(F.sum("n").cast("bigint").alias("ns"))
    gc = sc.groupBy("c").agg(F.sum("n").cast("bigint").alias("ng_c"))
    gt = sc.agg(F.sum("n").cast("bigint").alias("ng"))
    grid = (
        st.crossJoin(F.broadcast(gc))
        .crossJoin(F.broadcast(gt))
        .join(sc.withColumnRenamed("n", "ns_c"), ["source", "c"], "left")
        .select(
            "source",
            "c",
            "ns",
            "ng_c",
            "ng",
            F.coalesce("ns_c", F.lit(0)).alias("ns_c"),
        )
    )
    p = F.col("ns_c") / F.col("ns").cast("double")
    q = F.col("ng_c") / F.col("ng").cast("double")
    m = (p + q) / 2.0
    term = (
        F.when(F.col("ns_c") > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0))
        + 0.5 * q * F.log(q / m)
    )
    terms = grid.select(
        "source", F.floor(term * F.lit(1e9)).cast("bigint").alias("t_nano")
    )
    return terms.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_chars_profile"),
        F.sum("t_nano").cast("bigint").alias("jsd_nano"),
    )


# ---------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------
PMI_MIN_SUPPORT = 5
PMI_TOP_K = 50


@register(
    "text_pmi_collocations",
    oracle=f"""
WITH toks AS (
  SELECT list_transform({_TOKS}, x -> lower(x)) AS t FROM documents),
uni AS MATERIALIZED (
  SELECT w, count(*) AS n FROM (SELECT unnest(t) AS w FROM toks) u
  GROUP BY 1),
nu AS (SELECT CAST(sum(n) AS BIGINT) AS n_uni FROM uni),
bi AS MATERIALIZED (
  SELECT w1, w2, count(*) AS n FROM (
    SELECT unnest([t[i] for i in range(1, len(t))]) AS w1,
           unnest([t[i + 1] for i in range(1, len(t))]) AS w2
    FROM toks WHERE len(t) >= 2) b
  GROUP BY 1, 2),
nb AS (SELECT CAST(sum(n) AS BIGINT) AS n_bi FROM bi),
scored AS (
  SELECT b.w1, b.w2, b.n AS n_pair,
         CAST(floor(ln((b.n / CAST(t.n_bi AS DOUBLE))
                       / ((u1.n / CAST(c.n_uni AS DOUBLE))
                          * (u2.n / CAST(c.n_uni AS DOUBLE)))) * 1e6)
              AS BIGINT) AS pmi_micro
  FROM bi b
  JOIN uni u1 ON u1.w = b.w1
  JOIN uni u2 ON u2.w = b.w2
  CROSS JOIN nu c CROSS JOIN nb t
  WHERE b.n >= {PMI_MIN_SUPPORT})
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, pmi_micro
FROM scored
ORDER BY pmi_micro DESC, w1, w2
LIMIT {PMI_TOP_K}
""",
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP_K} collocations by pointwise mutual information —
    the statistically-motivated upgrade of raw bigram counts
    (``text_top_bigrams`` surfaces "of the"; PMI surfaces the pairs
    that co-occur far MORE than their parts predict — named entities,
    fixed phrases, tokenizer-merge candidates). Support floor
    {PMI_MIN_SUPPORT} kills the classic low-count PMI explosion.

    Shape: one explode pass each for unigram and bigram counts (both
    partial-agg shuffles on uniform token keys), two broadcast-sized
    total rows, two equi-joins of the bigram table against the unigram
    counts, TakeOrderedAndProject for the cut. PMI lands as
    floor-to-micro BIGINT (libm ``ln`` parity, same as the LM scorers)
    with (w1, w2) tiebreaks — fully hash-gated."""
    d = _docs_spread(spark, sf_dir)
    toks = F.transform(tokens_array(F.col("text")), F.lower)
    tdf = d.select(toks.alias("t"))
    uni = (
        tdf.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    nu = uni.agg(F.sum("n").cast("bigint").alias("n_uni"))
    length = F.size(F.col("t")) - 1
    pairs = F.zip_with(
        F.slice(F.col("t"), 1, length),
        F.slice(F.col("t"), 2, length),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bi = (
        tdf.filter(F.size("t") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n"))
    )
    nb = bi.agg(F.sum("n").cast("bigint").alias("n_bi"))
    scored = (
        bi.filter(F.col("n") >= PMI_MIN_SUPPORT)
        .join(
            uni.select(F.col("w").alias("w1"), F.col("n").alias("n1")), "w1"
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("n").alias("n2")), "w2"
        )
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.col("n").cast("bigint").alias("n_pair"),
            F.floor(
                F.log(
                    (F.col("n") / F.col("n_bi").cast("double"))
                    / (
                        (F.col("n1") / F.col("n_uni").cast("double"))
                        * (F.col("n2") / F.col("n_uni").cast("double"))
                    )
                )
                * F.lit(1e6)
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_micro"), F.asc("w1"), F.asc("w2")
    ).limit(PMI_TOP_K)


# ---------------------------------------------------------------------
# readability (Flesch-Kincaid grade, vowel-group syllable proxy)
# ---------------------------------------------------------------------
@register(
    "text_readability",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syllables
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(floor((0.39 * (n_words / CAST(n_sentences AS DOUBLE))
                   + 11.8 * (n_syllables / CAST(nullif(n_words, 0) AS DOUBLE))
                   - 15.59) * 1e6) AS BIGINT) AS fk_grade_micro
FROM feats WHERE n_words > 0
""",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per document with the standard cheap
    proxies (sentences = terminal-punctuation runs, floor 1; syllables
    = vowel groups — the heuristic every at-scale readability pass
    uses, exact syllabification being dictionary work): the third
    quality-model family next to the rule chain and the linear
    classifier, targeting a READING-LEVEL band instead of a spam
    score — curriculum builders bucket by exactly this.

    Shape: three regexp counts fused into the scan (narrow, zero
    shuffle — Catalyst pipelines all of it into the parquet read);
    the grade ships as floor-to-micro BIGINT computed in the same
    expression order both engines, so the gate is exact."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(tokens_array(F.col("text"))).cast("bigint")
    n_sent = F.greatest(
        F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    n_syll = F.regexp_count(F.lower("text"), F.lit(r"[aeiouy]+")).cast(
        "bigint"
    )
    feats = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    )
    fk = (
        F.lit(0.39) * (F.col("n_words") / F.col("n_sentences").cast("double"))
        + F.lit(11.8)
        * (
            F.col("n_syllables")
            / F.nullif(F.col("n_words"), F.lit(0)).cast("double")
        )
        - F.lit(15.59)
    )
    return feats.filter(F.col("n_words") > 0).select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.floor(fk * F.lit(1e6)).cast("bigint").alias("fk_grade_micro"),
    )


# ---------------------------------------------------------------------
# BPE tokenizer TRAINING (the full merge loop)
# ---------------------------------------------------------------------
#: merge rounds for text_bpe_train — fixed, part of the query semantics
BPE_MERGES = 8


def _bpe_train_sql() -> str:
    rounds = []
    for r in range(1, BPE_MERGES + 1):
        p = r - 1
        rounds.append(f"""
pr{r} AS MATERIALIZED (
  SELECT word, freq, u.i, u.x, u.y
  FROM (SELECT word, freq,
          unnest([struct_pack(i := i, x := syms[i], y := syms[i+1])
                  for i in range(1, len(syms))]) AS u
        FROM v{p}) q),
pc{r} AS (SELECT x, y, CAST(sum(freq) AS BIGINT) AS wf
          FROM pr{r} GROUP BY x, y),
bp{r} AS MATERIALIZED (SELECT x, y, wf FROM pc{r}
                       ORDER BY wf DESC, x, y LIMIT 1),
oc{r} AS (SELECT p.word, p.i FROM pr{r} p
          JOIN bp{r} b ON p.x = b.x AND p.y = b.y),
rn{r} AS (SELECT word, i,
                 i - row_number() OVER (PARTITION BY word ORDER BY i) AS g
          FROM oc{r}),
kp{r} AS MATERIALIZED (
  SELECT word, i FROM (
    SELECT word, i, (i - min(i) OVER (PARTITION BY word, g)) % 2 AS par
    FROM rn{r}) z
  WHERE par = 0),
sr{r} AS (
  SELECT word, freq, u.p, u.s,
         lead(u.s) OVER (PARTITION BY word ORDER BY u.p) AS nxt
  FROM (SELECT word, freq,
          unnest([struct_pack(p := i, s := syms[i])
                  for i in range(1, len(syms)+1)]) AS u
        FROM v{p}) q),
v{r} AS MATERIALIZED (
  SELECT s.word, s.freq,
         list(CASE WHEN k.i IS NOT NULL THEN s.s || s.nxt ELSE s.s END
              ORDER BY s.p) AS syms
  FROM sr{r} s
  LEFT JOIN kp{r} k ON k.word = s.word AND k.i = s.p
  WHERE NOT EXISTS (SELECT 1 FROM kp{r} c
                    WHERE c.word = s.word AND c.i + 1 = s.p)
  GROUP BY s.word, s.freq)""")
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS rk, x AS lhs, y AS rhs, x || y AS merged, "
        f"wf AS pair_freq FROM bp{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    return (
        f"""
WITH v0 AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq,
         [substr(w, i, 1) for i in range(1, len(w)+1)] AS syms
  FROM (SELECT lower(unnest({_TOKS})) AS w FROM documents) t
  GROUP BY w),"""
        + ",".join(rounds)
        + "\n"
        + finals
        + "\n"
    )


@register("text_bpe_train", oracle=_bpe_train_sql)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, the FULL merge loop (Sennrich et al.
    2016) — not just one round's pair statistics
    (``text_bpe_merge_step``): starting from the per-character symbol
    sequences of the corpus vocabulary (word types weighted by
    occurrence frequency — the standard type+freq formulation), run
    {BPE_MERGES} rounds of count-adjacent-pairs → pick the best pair
    (weighted count DESC, then (left, right) text — the deterministic
    tiebreak) → MERGE every greedy-non-overlapping occurrence, and
    emit the learned merge table: the artifact a tokenizer ships.

    Canonical greedy run semantics without sequential code: an
    occurrence list like positions (2,3,4) of a doubled-letter pair
    merges at 2 and 4 — expressed set-wise as "keep occurrences at
    even offset within each maximal consecutive run" (the
    i − row_number() run-grouping trick + a per-run min window), so
    BOTH engines replay the exact per-word merge outcome with window
    functions, no recursion, no UDF.

    100 TB shape: the loop runs over the VOCABULARY (distinct word
    types — bounded by language, not corpus; the corpus is touched
    once, by the initial weighted count), so each round is narrow
    work over a small table: one partial-aggregated pair count, a
    1-row best-pair broadcast, two windows partitioned by word, one
    rebuild aggregation. Per-round ``localCheckpoint`` cuts the
    8-deep lineage (the k-means/PageRank iteration discipline).
    Nothing is collected driver-side — the best pair stays a 1-row
    DataFrame joined in-plan."""
    from pyspark.sql.window import Window

    d = _docs_spread(spark, sf_dir)
    vocab = _bpe_char_vocab(d)
    bests = []
    for r in range(1, BPE_MERGES + 1):
        pair_rows = _bpe_pair_rows(vocab)
        best = (
            pair_rows.groupBy("x", "y")
            .agg(F.sum("freq").cast("bigint").alias("wf"))
            .orderBy(F.desc("wf"), F.asc("x"), F.asc("y"))
            .limit(1)
            .localCheckpoint()
        )
        bests.append(
            best.select(
                F.lit(r).cast("int").alias("rk"),
                F.col("x").alias("lhs"),
                F.col("y").alias("rhs"),
                F.concat("x", "y").alias("merged"),
                F.col("wf").alias("pair_freq"),
            )
        )
        if r < BPE_MERGES:
            # round {BPE_MERGES}'s merged vocab feeds nothing (the
            # output is the merge TABLE) — the oracle's CTE chain stops
            # at bp{BPE_MERGES} for the same reason (r18 opt: was an
            # eagerly checkpointed job whose result was discarded)
            vocab = _bpe_merge(vocab, pair_rows, best)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out


_BPE_SPLIT_SQL = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100"


def _bpe_apply_sql() -> str:
    train_rounds = []
    apply_rounds = []
    for r in range(1, BPE_MERGES + 1):
        p = r - 1
        last = r == BPE_MERGES
        chain = f"""
pr{r} AS MATERIALIZED (
  SELECT word, freq, u.i, u.x, u.y
  FROM (SELECT word, freq,
          unnest([struct_pack(i := i, x := syms[i], y := syms[i+1])
                  for i in range(1, len(syms))]) AS u
        FROM v{p}) q),
pc{r} AS (SELECT x, y, CAST(sum(freq) AS BIGINT) AS wf
          FROM pr{r} GROUP BY x, y),
bp{r} AS MATERIALIZED (SELECT x, y, wf FROM pc{r}
                       ORDER BY wf DESC, x, y LIMIT 1)"""
        if not last:  # the final round only needs its best pair
            chain += f""",
oc{r} AS (SELECT p.word, p.i FROM pr{r} p
          JOIN bp{r} b ON p.x = b.x AND p.y = b.y),
rn{r} AS (SELECT word, i,
                 i - row_number() OVER (PARTITION BY word ORDER BY i) AS g
          FROM oc{r}),
kp{r} AS MATERIALIZED (
  SELECT word, i FROM (
    SELECT word, i, (i - min(i) OVER (PARTITION BY word, g)) % 2 AS par
    FROM rn{r}) z
  WHERE par = 0),
sr{r} AS (
  SELECT word, freq, u.p, u.s,
         lead(u.s) OVER (PARTITION BY word ORDER BY u.p) AS nxt
  FROM (SELECT word, freq,
          unnest([struct_pack(p := i, s := syms[i])
                  for i in range(1, len(syms)+1)]) AS u
        FROM v{p}) q),
v{r} AS MATERIALIZED (
  SELECT s.word, s.freq,
         list(CASE WHEN k.i IS NOT NULL THEN s.s || s.nxt ELSE s.s END
              ORDER BY s.p) AS syms
  FROM sr{r} s
  LEFT JOIN kp{r} k ON k.word = s.word AND k.i = s.p
  WHERE NOT EXISTS (SELECT 1 FROM kp{r} c
                    WHERE c.word = s.word AND c.i + 1 = s.p)
  GROUP BY s.word, s.freq)"""
        train_rounds.append(chain)
        apply_rounds.append(f"""
wpr{r} AS (
  SELECT word, freq, u.i, u.x, u.y
  FROM (SELECT word, freq,
          unnest([struct_pack(i := i, x := syms[i], y := syms[i+1])
                  for i in range(1, len(syms))]) AS u
        FROM w{p}) q),
woc{r} AS (SELECT p.word, p.i FROM wpr{r} p
          JOIN bp{r} b ON p.x = b.x AND p.y = b.y),
wrn{r} AS (SELECT word, i,
                 i - row_number() OVER (PARTITION BY word ORDER BY i) AS g
          FROM woc{r}),
wkp{r} AS MATERIALIZED (
  SELECT word, i FROM (
    SELECT word, i, (i - min(i) OVER (PARTITION BY word, g)) % 2 AS par
    FROM wrn{r}) z
  WHERE par = 0),
wsr{r} AS (
  SELECT word, freq, u.p, u.s,
         lead(u.s) OVER (PARTITION BY word ORDER BY u.p) AS nxt
  FROM (SELECT word, freq,
          unnest([struct_pack(p := i, s := syms[i])
                  for i in range(1, len(syms)+1)]) AS u
        FROM w{p}) q),
w{r} AS MATERIALIZED (
  SELECT s.word, s.freq,
         list(CASE WHEN k.i IS NOT NULL THEN s.s || s.nxt ELSE s.s END
              ORDER BY s.p) AS syms
  FROM wsr{r} s
  LEFT JOIN wkp{r} k ON k.word = s.word AND k.i = s.p
  WHERE NOT EXISTS (SELECT 1 FROM wkp{r} c
                    WHERE c.word = s.word AND c.i + 1 = s.p)
  GROUP BY s.word, s.freq)""")
    return (
        f"""
WITH v0 AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq,
         [substr(w, i, 1) for i in range(1, len(w)+1)] AS syms
  FROM (SELECT lower(unnest({_TOKS})) AS w FROM documents
        WHERE {_BPE_SPLIT_SQL} < 90) t
  GROUP BY w),
w0 AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq,
         [substr(w, i, 1) for i in range(1, len(w)+1)] AS syms
  FROM (SELECT lower(unnest({_TOKS})) AS w FROM documents
        WHERE {_BPE_SPLIT_SQL} >= 90) t
  GROUP BY w),"""
        + ",".join(
            t + "," + a for t, a in zip(train_rounds, apply_rounds)
        )
        + f"""
SELECT word, freq, CAST(len(syms) AS INT) AS n_pieces,
       list_aggregate(syms, 'string_agg', ' ') AS pieces
FROM w{BPE_MERGES}
"""
    )


@register("text_bpe_apply", oracle=_bpe_apply_sql)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the other half of the tokenizer
    lifecycle next to ``text_bpe_train``: learn the {BPE_MERGES}-merge
    table on the TRAIN split (the deterministic md5 90/10 split of
    ``text_train_val_split``), then encode the VAL split's vocabulary
    by applying the learned merges in RANK ORDER (standard BPE
    encoding, Sennrich et al. 2016) — greedy non-overlapping runs per
    merge, the identical ``_bpe_merge`` semantics as a training round,
    just with the pair COMING FROM the learned table instead of the
    round's argmax. Held-out words the trainer never saw still
    decompose correctly — the OOV generalization a shipped tokenizer
    must have; (word, freq, n_pieces, pieces) is the fertility
    telemetry that sizes a tokenizer before a 100 TB tokenize run.

    Scale shape: both loops run over VOCABULARIES (bounded by
    language, not corpus; each corpus is read once for its weighted
    type count). Train rounds do one partial-agg pair count + 1-row
    best broadcast; apply rounds skip the count entirely — occurrence
    join against the broadcast learned pair, two windows, rebuild.
    Final-round train vocab is never rebuilt (only its argmax is
    needed) — the oracle's CTE chain stops at bp{BPE_MERGES} too."""
    d = _docs_spread(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
            "int"
        )
        % 100
    )
    # r18 opt (guide §2.4/§1.2): train + val vocabularies ride ONE
    # side-tagged table, so the corpus is scanned/tokenized once (not
    # twice) and each round runs ONE shared merge pipeline — every
    # window/join keys on (side, word), so each side's merge outcome is
    # bit-identical to the former per-side run (oracle-verified).
    keys = ("side", "word")
    vocab = _bpe_char_vocab(
        d.withColumn("side", F.when(bucket < 90, F.lit("t")).otherwise(F.lit("v"))),
        keys=keys,
    )
    for r in range(1, BPE_MERGES + 1):
        pair_rows = _bpe_pair_rows(vocab, keys=keys)
        best = (
            pair_rows.filter(F.col("side") == "t")
            .groupBy("x", "y")
            .agg(F.sum("freq").cast("bigint").alias("wf"))
            .orderBy(F.desc("wf"), F.asc("x"), F.asc("y"))
            .limit(1)
            .localCheckpoint()
        )
        if r < BPE_MERGES:
            vocab = _bpe_merge(vocab, pair_rows, best, keys=keys)
        else:
            # final round: only the val side is ever output, so the
            # train side needn't be rebuilt (same skip as bpe_train)
            val = vocab.filter(F.col("side") == "v")
            vocab = _bpe_merge(
                val, pair_rows.filter(F.col("side") == "v"), best, keys=keys
            )
    return vocab.select(
        "word",
        "freq",
        F.size("syms").alias("n_pieces"),
        F.concat_ws(" ", "syms").alias("pieces"),
    )


def _bpe_char_vocab(d: DataFrame, keys: tuple[str, ...] = ("word",)) -> DataFrame:
    """(*keys, freq, syms) weighted type vocabulary at per-character
    symbols — round 0 of the BPE loop, shared by train and apply.
    Any key column besides ``word`` (e.g. ``side``) must already be on
    ``d`` and is carried through the token explode.

    ``localCheckpoint(eager=False)`` (r18 opt, guide §5): the logical
    plan is truncated to an RDD leaf immediately (so the 8-round loop
    above never re-plans this subtree and plan size stays flat), but
    materialization folds into round 1's best-pair job instead of
    paying a separate blocking job here."""
    extra = [k for k in keys if k != "word"]
    return (
        d.select(*extra, F.explode(tokens_array(F.col("text"))).alias("tok"))
        .select(*extra, F.lower("tok").alias("word"))
        .groupBy(*keys)
        .agg(F.count("*").cast("bigint").alias("freq"))
        .select(
            *keys,
            "freq",
            F.expr(
                "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
            ).alias("syms"),
        )
        .localCheckpoint(eager=False)
    )


def _bpe_pair_rows(vocab: DataFrame, keys: tuple[str, ...] = ("word",)) -> DataFrame:
    """(*keys, freq, i, x, y): every adjacent symbol pair with its
    1-based position — the round's statistics AND occurrence table.
    ``keys`` identifies a symbol sequence (("side", "word") when the
    train and val vocabularies ride one tagged table)."""
    n = F.size("syms")
    return (
        vocab.filter(n >= 2)
        .select(
            *keys,
            "freq",
            F.posexplode(
                F.zip_with(
                    F.slice("syms", 1, n - 1),
                    F.slice("syms", 2, n - 1),
                    lambda x, y: F.struct(x.alias("x"), y.alias("y")),
                )
            ).alias("i0", "pr"),
        )
        .select(
            *keys,
            "freq",
            (F.col("i0") + 1).alias("i"),
            F.col("pr.x").alias("x"),
            F.col("pr.y").alias("y"),
        )
    )


def _bpe_merge(
    vocab: DataFrame,
    pair_rows: DataFrame,
    pair: DataFrame,
    keys: tuple[str, ...] = ("word",),
) -> DataFrame:
    """Merge every greedy-non-overlapping occurrence of the 1-row
    ``pair`` (x, y) into the vocabulary's symbol sequences — the
    canonical run semantics (keep even offsets within each maximal
    consecutive occurrence run), identical for a training round and a
    rank-ordered APPLICATION of a learned merge. ``keys`` identifies a
    symbol sequence (("side", "word") when train + val ride one
    tagged table — every window and join keys on the full tuple, so
    each side's merge outcome is exactly the single-vocab run).

    ``localCheckpoint(eager=False)`` (r18 opt): the merge references
    ``vocab`` twice (occurrence side + rebuild side), so WITHOUT
    truncation the loop's plan doubles per round (2^8 leaf copies by
    round 8) — but the EAGER form paid one blocking job per merge on
    top of the round's best-pair job. Lazy checkpoint keeps the plan
    flat AND folds materialization into the next round's job."""
    keys = tuple(keys)
    occ = pair_rows.join(F.broadcast(pair.select("x", "y")), ["x", "y"]).select(
        *keys, "i"
    )
    wrn = Window.partitionBy(*keys).orderBy("i")
    runs = occ.withColumn("g", F.col("i") - F.row_number().over(wrn))
    wg = Window.partitionBy(*keys, "g")
    kept = (
        runs.withColumn("par", (F.col("i") - F.min("i").over(wg)) % 2)
        .filter(F.col("par") == 0)
        .select(*keys, "i")
    )
    wp = Window.partitionBy(*keys).orderBy("p")
    sym_rows = vocab.select(
        *keys,
        "freq",
        F.posexplode("syms").alias("p0", "s"),
    ).select(
        *keys, "freq", (F.col("p0") + 1).alias("p"), "s"
    ).withColumn("nxt", F.lead("s").over(wp))
    consumed = kept.select(*keys, (F.col("i") + 1).alias("p"))
    heads = kept.select(*keys, F.col("i").alias("p"), F.lit(1).alias("hd"))
    return (
        sym_rows.join(consumed, [*keys, "p"], "left_anti")
        .join(heads, [*keys, "p"], "left")
        .select(
            *keys,
            "freq",
            "p",
            F.when(F.col("hd").isNotNull(), F.concat("s", "nxt"))
            .otherwise(F.col("s"))
            .alias("s"),
        )
        .groupBy(*keys, "freq")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "s"))),
                lambda t: t["s"],
            ).alias("syms")
        )
        .localCheckpoint(eager=False)
    )


@register(
    "text_trigram_kn_ppl",
    oracle=f"""
WITH lt AS (
  SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS lt FROM documents),
tri AS (
  SELECT doc_id,
         unnest([lt[i] || ' ' || lt[i+1] || ' ' || lt[i+2]
                 for i in range(1, len(lt) - 1)]) AS tg
  FROM lt WHERE len(lt) >= 3),
big AS (
  SELECT doc_id, unnest([lt[i] || ' ' || lt[i+1] for i in range(1, len(lt))]) AS bg
  FROM lt),
c3 AS (SELECT tg, count(*) AS c3 FROM tri GROUP BY 1),
cctx AS (SELECT split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS ctx,
                count(*) AS cctx
         FROM tri GROUP BY 1),
n1ptri AS (SELECT split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS ctx,
                  count(*) AS n1ptri
           FROM c3 GROUP BY 1),
c2 AS (SELECT bg, count(*) AS c2 FROM big GROUP BY 1),
c1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM big GROUP BY 1),
n1p AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS n1p FROM c2 GROUP BY 1),
ncont AS (SELECT split_part(bg, ' ', 2) AS w2, count(*) AS ncont FROM c2 GROUP BY 1),
nb AS (SELECT CAST(count(*) AS DOUBLE) AS nbig FROM c2),
lp AS (
  SELECT t.doc_id,
         ln((c3.c3 - {KN_D}) / cctx.cctx
            + ({KN_D} * n1ptri.n1ptri / cctx.cctx)
              * ((c2.c2 - {KN_D}) / c1.c1
                 + ({KN_D} * n1p.n1p / c1.c1) * (ncont.ncont / nbig))) AS lp
  FROM tri t
  JOIN c3 USING (tg)
  JOIN cctx ON split_part(t.tg, ' ', 1) || ' ' || split_part(t.tg, ' ', 2) = cctx.ctx
  JOIN n1ptri ON split_part(t.tg, ' ', 1) || ' ' || split_part(t.tg, ' ', 2) = n1ptri.ctx
  JOIN c2 ON split_part(t.tg, ' ', 2) || ' ' || split_part(t.tg, ' ', 3) = c2.bg
  JOIN c1 ON split_part(t.tg, ' ', 2) = c1.w1
  JOIN n1p ON split_part(t.tg, ' ', 2) = n1p.w1
  JOIN ncont ON split_part(t.tg, ' ', 3) = ncont.w2, nb),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         round(avg(lp), 6) AS avg_logprob
  FROM lp GROUP BY 1)
SELECT doc_id, n_trigrams, avg_logprob,
       round(exp(-avg_logprob), 6) AS ppl
FROM agg
""",
)
def text_trigram_kn_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIGRAM interpolated Kneser-Ney — the recursive backoff that
    makes KN KN: P(w3|w1w2) = (c(w1w2w3)−D)/c(w1w2) +
    (D·N1+(w1w2·)/c(w1w2)) · P_KN(w3|w2), where the lower order is the
    full interpolated-bigram KN of ``text_bigram_kn_ppl`` (its lowest
    level the continuation unigram). One more order than the bigram
    row — the shape KenLM's order-5 model iterates. Documents shorter
    than 3 tokens have no trigrams and drop out; scoring the corpus's
    own trigrams keeps every count ≥ 1 > D.

    Same engineering as the bigram row: seven vocab-bounded
    aggregations, one scoring equi-join pipeline, the
    identically-parenthesized double expression in both engines, the
    per-doc avg rounded before the hash."""
    d = _docs_spread(spark, sf_dir)
    lt = F.transform(tokens_array(F.col("text")), F.lower)
    n = F.size("lt")
    base = d.select("doc_id", lt.alias("lt"))
    tri = base.filter(n >= 3).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.zip_with(
                    F.slice(F.col("lt"), 1, n - 2),
                    F.slice(F.col("lt"), 2, n - 2),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
                F.slice(F.col("lt"), 3, n - 2),
                lambda ab, c: F.concat_ws(" ", ab, c),
            )
        ).alias("tg"),
    )
    big = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("lt"), 1, n - 1),
                F.slice(F.col("lt"), 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    )
    t1 = F.split_part(F.col("tg"), F.lit(" "), F.lit(1))
    t2 = F.split_part(F.col("tg"), F.lit(" "), F.lit(2))
    t3 = F.split_part(F.col("tg"), F.lit(" "), F.lit(3))
    ctx_of = F.concat_ws(" ", t1, t2)
    w1 = F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
    w2 = F.split_part(F.col("bg"), F.lit(" "), F.lit(2))
    c3 = tri.groupBy("tg").agg(F.count("*").alias("c3")).localCheckpoint()
    # r18 opt (guide §2.3): c(ctx) = Σ_tg c3(tg) by context and
    # c(w1) = Σ_bg c2(bg) by w1 — exact integer identities over the
    # checkpointed vocab-bounded count tables, replacing two more
    # corpus-sized explode+shuffle passes
    cctx = c3.select(ctx_of.alias("ctx"), "c3").groupBy("ctx").agg(
        F.sum("c3").alias("cctx")
    )
    n1ptri = c3.select(ctx_of.alias("ctx")).groupBy("ctx").agg(
        F.count("*").alias("n1ptri")
    )
    c2 = big.groupBy("bg").agg(F.count("*").alias("c2")).localCheckpoint()
    c1 = c2.select(w1.alias("w1"), "c2").groupBy("w1").agg(
        F.sum("c2").alias("c1")
    )
    n1p = c2.select(w1.alias("w1")).groupBy("w1").agg(F.count("*").alias("n1p"))
    ncont = c2.select(w2.alias("w2")).groupBy("w2").agg(F.count("*").alias("ncont"))
    nb = c2.agg(F.count("*").cast("double").alias("nbig"))
    p2 = (F.col("c2") - F.lit(KN_D)) / F.col("c1") + (
        F.lit(KN_D) * F.col("n1p") / F.col("c1")
    ) * (F.col("ncont") / F.col("nbig"))
    p3 = (F.col("c3") - F.lit(KN_D)) / F.col("cctx") + (
        F.lit(KN_D) * F.col("n1ptri") / F.col("cctx")
    ) * p2
    lp = (
        tri.join(c3, "tg")
        .join(cctx, ctx_of == F.col("ctx"))
        .join(n1ptri.withColumnRenamed("ctx", "ctxb"), ctx_of == F.col("ctxb"))
        .join(c2, F.concat_ws(" ", t2, t3) == F.col("bg"))
        .join(c1, t2 == F.col("w1"))
        .join(n1p.withColumnRenamed("w1", "w1b"), t2 == F.col("w1b"))
        .join(ncont, t3 == F.col("w2"))
        .crossJoin(F.broadcast(nb))
        .select("doc_id", F.log(p3).alias("lp"))
    )
    agg = lp.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_trigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )
    return agg.select(
        "doc_id",
        "n_trigrams",
        "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 6).alias("ppl"),
    )


@register(
    "text_bigram_mkn_ppl",
    oracle=f"""
WITH lt AS (
  SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS lt FROM documents),
big AS (
  SELECT doc_id, unnest([lt[i] || ' ' || lt[i+1] for i in range(1, len(lt))]) AS bg
  FROM lt),
c2 AS (SELECT bg, count(*) AS c2 FROM big GROUP BY 1),
nr AS (SELECT
         CAST(sum(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(sum(CASE WHEN c2 = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
         CAST(sum(CASE WHEN c2 = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS n3,
         CAST(sum(CASE WHEN c2 = 4 THEN 1 ELSE 0 END) AS DOUBLE) AS n4,
         CAST(count(*) AS DOUBLE) AS nbig
       FROM c2),
ds AS (SELECT n1, n2, n3, n4, nbig,
              CASE WHEN n1 > 0
                   THEN 1 - 2 * (n1 / (n1 + 2 * n2)) * n2 / n1
                   ELSE {KN_D} END AS d1,
              CASE WHEN n2 > 0 AND n1 + 2 * n2 > 0
                   THEN 2 - 3 * (n1 / (n1 + 2 * n2)) * n3 / n2
                   ELSE {KN_D} END AS d2,
              CASE WHEN n3 > 0 AND n1 + 2 * n2 > 0
                   THEN 3 - 4 * (n1 / (n1 + 2 * n2)) * n4 / n3
                   ELSE {KN_D} END AS d3
       FROM nr),
c1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM big GROUP BY 1),
wstats AS (SELECT split_part(bg, ' ', 1) AS w1,
                  CAST(sum(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS m1,
                  CAST(sum(CASE WHEN c2 = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS m2,
                  CAST(sum(CASE WHEN c2 >= 3 THEN 1 ELSE 0 END) AS DOUBLE) AS m3
           FROM c2 GROUP BY 1),
ncont AS (SELECT split_part(bg, ' ', 2) AS w2, count(*) AS ncont FROM c2 GROUP BY 1),
lp AS (
  SELECT b.doc_id,
         ln((c2.c2 - CASE WHEN c2.c2 = 1 THEN ds.d1
                          WHEN c2.c2 = 2 THEN ds.d2
                          ELSE ds.d3 END) / c1.c1
            + ((ds.d1 * w.m1 + ds.d2 * w.m2 + ds.d3 * w.m3) / c1.c1)
              * (ncont.ncont / ds.nbig)) AS lp
  FROM big b JOIN c2 USING (bg)
  JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1
  JOIN wstats w ON split_part(b.bg, ' ', 1) = w.w1
  JOIN ncont ON split_part(b.bg, ' ', 2) = ncont.w2, ds),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(lp), 6) AS avg_logprob
  FROM lp GROUP BY 1)
SELECT doc_id, n_bigrams, avg_logprob,
       round(exp(-avg_logprob), 6) AS ppl
FROM agg
""",
)
def text_bigram_mkn_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODIFIED Kneser-Ney bigram perplexity — the KenLM DEFAULT
    (Chen & Goodman 1999): three count-estimated discounts instead of
    the fixed D={KN_D} — Y = n1/(n1+2n2), D1 = 1−2Y·n2/n1,
    D2 = 2−3Y·n3/n2, D3+ = 3−4Y·n4/n3 (n_r = bigram types with count
    r), applied by the scored bigram's own count band; the backoff
    mass γ(w1) = (D1·N1(w1·)+D2·N2(w1·)+D3·N3+(w1·))/c(w1) is exactly
    what the banded discounts removed, interpolated with the same
    continuation distribution as the fixed-D row. A zero n_r (tiny corpus, or a
    repetition-heavy one where every bigram count >= 3 so n1=n2=0)
    falls back to D={KN_D} for that band, with Y's denominator
    guarded too — identically in both engines.

    Completes the smoothing ladder: add-one → fixed-D KN → modified
    KN, the ablation trio a quality-filter LM deployment compares.
    Same engineering discipline as the siblings: count-only
    aggregations, identically-parenthesized double scalar formulas
    evaluated once in a 1-row broadcast, per-doc avg rounded before
    the hash."""
    d = _docs_spread(spark, sf_dir)
    lt = F.transform(tokens_array(F.col("text")), F.lower)
    n = F.size("lt")
    big = d.select("doc_id", lt.alias("lt")).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("lt"), 1, n - 1),
                F.slice(F.col("lt"), 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    )
    w1 = F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
    w2 = F.split_part(F.col("bg"), F.lit(" "), F.lit(2))
    c2 = big.groupBy("bg").agg(F.count("*").alias("c2")).localCheckpoint()

    def nr_count(r):
        return F.sum((F.col("c2") == r).cast("int")).cast("double")

    denom = F.col("n1") + 2 * F.col("n2")
    # guarded: n1=n2=0 with n3>0 happens on repetition-heavy corpora
    # (every bigram count >= 3) — ANSI Spark errors on the 0/0 a CASE
    # branch can still reach; both engines take the {KN_D} fallback
    y = F.when(denom > 0, F.col("n1") / denom).otherwise(F.lit(0.0))
    ds = (
        c2.agg(
            nr_count(1).alias("n1"),
            nr_count(2).alias("n2"),
            nr_count(3).alias("n3"),
            nr_count(4).alias("n4"),
            F.count("*").cast("double").alias("nbig"),
        )
        .select(
            "nbig",
            F.when(F.col("n1") > 0, 1 - 2 * y * F.col("n2") / F.col("n1"))
            .otherwise(F.lit(KN_D))
            .alias("d1"),
            F.when(
                (F.col("n2") > 0) & (denom > 0),
                2 - 3 * y * F.col("n3") / F.col("n2"),
            )
            .otherwise(F.lit(KN_D))
            .alias("d2"),
            F.when(
                (F.col("n3") > 0) & (denom > 0),
                3 - 4 * y * F.col("n4") / F.col("n3"),
            )
            .otherwise(F.lit(KN_D))
            .alias("d3"),
        )
    )
    # r18 opt (guide §2.3): c(w1) = Σ_bg c2(bg) by w1 — exact integer
    # identity over the checkpointed pair table, not a second
    # corpus-sized explode+shuffle
    c1 = c2.select(w1.alias("w1"), "c2").groupBy("w1").agg(
        F.sum("c2").alias("c1")
    )
    wstats = (
        c2.select(w1.alias("w1"), "c2")
        .groupBy("w1")
        .agg(
            F.sum((F.col("c2") == 1).cast("int")).cast("double").alias("m1"),
            F.sum((F.col("c2") == 2).cast("int")).cast("double").alias("m2"),
            F.sum((F.col("c2") >= 3).cast("int")).cast("double").alias("m3"),
        )
    )
    ncont = c2.select(w2.alias("w2")).groupBy("w2").agg(F.count("*").alias("ncont"))
    disc = (
        F.when(F.col("c2") == 1, F.col("d1"))
        .when(F.col("c2") == 2, F.col("d2"))
        .otherwise(F.col("d3"))
    )
    p = (F.col("c2") - disc) / F.col("c1") + (
        (
            F.col("d1") * F.col("m1")
            + F.col("d2") * F.col("m2")
            + F.col("d3") * F.col("m3")
        )
        / F.col("c1")
    ) * (F.col("ncont") / F.col("nbig"))
    lp = (
        big.join(c2, "bg")
        .join(c1, w1 == F.col("w1"))
        .join(wstats.withColumnRenamed("w1", "w1b"), w1 == F.col("w1b"))
        .join(ncont, w2 == F.col("w2"))
        .crossJoin(F.broadcast(ds))
        .select("doc_id", F.log(p).alias("lp"))
    )
    agg = lp.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 6).alias("ppl"),
    )


# ---------------------------------------------------------------------
# perplexity-based quality gate (CCNet-style filtering)
# ---------------------------------------------------------------------
PPL_FILTER_Q = 0.9  # flag docs above the corpus p90 perplexity


@register(
    "text_ppl_filter",
    oracle=f"""
WITH {_KN_BIG_CHAIN},
scored AS (
  SELECT doc_id,
         CAST(round(round(exp(-avg_logprob), 6) * 1000000) AS BIGINT)
           AS ppl_micro
  FROM agg),
cut AS (SELECT quantile_cont(ppl_micro, {PPL_FILTER_Q}) AS cut FROM scored),
lab AS (
  SELECT d.source, s.doc_id, s.ppl_micro,
         CASE WHEN s.ppl_micro > c.cut THEN 1 ELSE 0 END AS flagged
  FROM scored s JOIN documents d USING (doc_id), cut c),
worst AS (
  SELECT source, doc_id AS worst_doc_id, ppl_micro AS worst_ppl_micro
  FROM (SELECT source, doc_id, ppl_micro,
               row_number() OVER (PARTITION BY source
                                  ORDER BY ppl_micro DESC, doc_id) AS rk
        FROM lab) t WHERE rk = 1),
rep AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(flagged) AS BIGINT) AS n_flagged,
         CAST((2000000 * CAST(sum(flagged) AS BIGINT) + count(*))
              // (2 * count(*)) AS BIGINT) AS flag_rate_micro
  FROM lab GROUP BY 1)
SELECT r.source, r.n_docs, r.n_flagged, r.flag_rate_micro,
       w.worst_doc_id, w.worst_ppl_micro
FROM rep r JOIN worst w USING (source)
""",
)
def text_ppl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERPLEXITY QUALITY GATE — the CCNet/Gopher-style filter that
    actually prunes web corpora before LLM training: score every
    document with the interpolated-KN bigram LM
    (``text_bigram_kn_ppl``'s exact per-doc perplexity, integerized to
    micro units) and flag everything above the corpus p{int(PPL_FILTER_Q * 100)}
    boundary, reported per source with the worst offender id. Docs
    with fewer than two tokens have no bigrams and are unscored (out
    of both engines' denominators — a real deployment routes them to
    the length filter instead).

    Determinism: the boundary is the exact interpolated percentile on
    INTEGER micro values — Spark's ``percentile`` is bitwise DuckDB's
    ``quantile_cont`` on exact ints (the pipe_drift_psi convention),
    and the flag rate is the r14 pure-integer half-up quantization
    ``floor((2e6·f + n) / (2n))``, so no cross-engine double rounding
    anywhere past the (already hash-proven) per-doc perplexities.

    Scale shape: per-doc scoring is the KN row's linear LM-join pass
    (vocabulary-bounded count tables, one corpus read); the gate adds
    ONE one-row percentile aggregate broadcast into the scan, a
    per-source partial agg, and an entity-bounded (per-source)
    window for the worst-offender pick — no global sort, no second
    corpus pass."""
    # r18 opt (guide §5): the KN scoring pipeline fed BOTH the
    # percentile branch and the labeling branch of one plan — without
    # truncation the whole LM join pipeline executed twice. Checkpoint
    # the per-doc scores once (1 row/doc, the corpus-bounded small
    # artifact), then both consumers read the cached partitions.
    scored = text_bigram_kn_ppl(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("ppl") * 1_000_000).cast("bigint").alias("ppl_micro"),
    ).localCheckpoint()
    cut = scored.agg(F.percentile("ppl_micro", F.lit(PPL_FILTER_Q)).alias("cut"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    lab = (
        scored.join(docs, "doc_id")
        .crossJoin(F.broadcast(cut))
        .select(
            "source",
            "doc_id",
            "ppl_micro",
            F.when(F.col("ppl_micro") > F.col("cut"), 1).otherwise(0).alias("flagged"),
        )
    )
    # r18 opt (guide §2.4): the worst-offender pick is an argmin —
    # min(struct(-ppl, doc_id)) == the old row_number()=1 over
    # (ppl DESC, doc_id ASC) — folded into the SAME per-source
    # aggregation, removing the window pass over lab and the
    # rep-to-worst self-join (one Exchange instead of three).
    rep = lab.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("flagged").cast("bigint").alias("n_flagged"),
        # `div`, not `/`: the slash is a double true-division whose
        # floor is exact only while 2e6·f + n < 2^53 — reachable at
        # real-corpus doc counts. Bigint `div` (trunc == floor for
        # this non-negative numerator) is exact at any n, the
        # pipe_token_apportion recipe (r15, VERDICT r14 item #2).
        F.expr(
            "(2000000 * sum(flagged) + count(*)) div (2 * count(*))"
        ).alias("flag_rate_micro"),
        F.min(
            F.struct(
                (-F.col("ppl_micro")).alias("neg_ppl"),
                F.col("doc_id").alias("doc_id"),
            )
        ).alias("wrst"),
    )
    return rep.select(
        "source", "n_docs", "n_flagged", "flag_rate_micro",
        F.col("wrst.doc_id").alias("worst_doc_id"),
        (-F.col("wrst.neg_ppl")).alias("worst_ppl_micro"),
    )


# ---------------------------------------------------------------------
# TextRank keyword extraction (r15): PageRank over the word-adjacency
# graph (Mihalcea/Tarau 2004) — corpus-level salient-term mining
# ---------------------------------------------------------------------
TR_VOCAB = 200  # graph nodes: top tokens by corpus frequency
TR_K = 20  # keywords reported
TR_ROUNDS = 3
TR_DNUM, TR_DDEN = 17, 20  # damping 0.85 as a ratio (sim_pagerank's)
TR_SCALE = 10**12  # bigint pico-rank fixed point
#: per-edge transition shares in micro-units: sh = (w * 1e6) div tw.
#: Two-step flooring keeps every product inside int64 AT ANY CORPUS
#: SIZE — (rank <= 1e12) * (sh <= 1e6) = 1e18 < 2^63, where the naive
#: (rank * w) div tw overflows once corpus bigram counts reach ~1e12.
TR_SHARE_SCALE = 10**6


def _textrank_oracle() -> str:
    rounds = "".join(
        f""",
r{i} AS (
  SELECT v.tok,
         ({TR_DDEN - TR_DNUM} * {TR_SCALE} // {TR_DDEN}) // nv
           + ({TR_DNUM} * coalesce(c.c, 0)) // {TR_DDEN} AS r
  FROM vocab v CROSS JOIN nv
  LEFT JOIN (SELECT ew2.dst, sum((p.r * ew2.sh) // {TR_SHARE_SCALE}) AS c
             FROM ew2 JOIN r{i - 1} p ON p.tok = ew2.src
             GROUP BY 1) c ON c.dst = v.tok)"""
        for i in range(1, TR_ROUNDS + 1)
    )
    return f"""
WITH toks AS (SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS t
              FROM documents),
big AS (
  SELECT unnest([t[i] for i in range(1, len(t))]) AS w1,
         unnest([t[i + 1] for i in range(1, len(t))]) AS w2
  FROM toks WHERE len(t) >= 2),
freq AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest(t) AS tok FROM toks) u
  WHERE tok NOT IN ({_STOP_SQL})
  GROUP BY tok),
vocab AS MATERIALIZED (
  SELECT tok FROM freq ORDER BY c DESC, tok LIMIT {TR_VOCAB}),
pairs AS (
  SELECT w1, w2, count(*) AS w
  FROM big
  WHERE w1 <> w2
    AND w1 IN (SELECT tok FROM vocab)
    AND w2 IN (SELECT tok FROM vocab)
  GROUP BY 1, 2),
ew AS (
  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
    SELECT w1 AS src, w2 AS dst, w FROM pairs
    UNION ALL
    SELECT w2 AS src, w1 AS dst, w FROM pairs) u
  GROUP BY 1, 2),
wsum AS (SELECT src, CAST(sum(w) AS BIGINT) AS tw FROM ew GROUP BY 1),
ew2 AS MATERIALIZED (
  SELECT e.src, e.dst, (e.w * {TR_SHARE_SCALE}) // t.tw AS sh
  FROM ew e JOIN wsum t ON t.src = e.src),
nv AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM vocab),
r0 AS (SELECT tok, {TR_SCALE} // nv AS r FROM vocab CROSS JOIN nv){rounds}
SELECT tok, CAST(r AS BIGINT) AS rank_pico, kw_rank
FROM (SELECT tok, r, row_number() OVER (ORDER BY r DESC, tok) AS kw_rank
      FROM r{TR_ROUNDS}) t
WHERE kw_rank <= {TR_K}
"""


@register("text_textrank_keywords", oracle=_textrank_oracle())
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank corpus keywords (Mihalcea/Tarau 2004): weighted
    PageRank over the word-adjacency graph — nodes are the top
    {TR_VOCAB} non-stopword tokens by corpus frequency, undirected
    edges weigh bigram adjacencies whose BOTH endpoints are in-vocab,
    {TR_ROUNDS} damped ({TR_DNUM}/{TR_DDEN}) power-iteration rounds in
    BIGINT pico-rank fixed point (sim_pagerank's discipline — no float
    summation can flip the hash), top-{TR_K} by final rank. The salient
    terms a training-data curation review reads next to the TF-IDF and
    PMI reports — centrality catches hub terms frequency alone
    over-ranks (stopword-adjacent fillers) or misses (low-frequency
    connectors).

    Overflow-safe AT ANY SCALE: per-edge transition shares are
    pre-floored to micro-units ((w·1e6) div tw, <= 1e6), so the
    per-round product rank×share stays < 1e18 even when corpus bigram
    counts reach 1e12 — the naive rank×w div tw overflows there.

    100 TB posture: one corpus scan builds the bigram stream; the
    vocab (a {TR_VOCAB}-row table) broadcasts into the edge filter, so
    the graph is VOCAB²-bounded regardless of corpus size; the
    iteration runs on <= {TR_VOCAB}² edges — driver-loop rounds over
    kilobyte tables, the same shape as sim_pagerank."""
    d = _docs_spread(spark, sf_dir)
    toks = F.transform(tokens_array(F.col("text")), F.lower)
    td = d.select(toks.alias("t")).filter(F.size("t") >= 2)
    n1 = F.size(F.col("t")) - 1
    big = td.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, n1),
                F.slice(F.col("t"), 2, n1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    freq = (
        d.select(F.explode(toks).alias("tok"))
        .filter(~F.col("tok").isin(*STOPWORDS))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    # r18 opt (guide §5): the {TR_VOCAB}-row vocab feeds FOUR branches
    # (two edge-filter broadcasts, nv, nodes); uncheckpointed, each
    # branch re-ran the corpus-sized frequency aggregation — truncate
    # once, every consumer reads the 200-row RDD
    vocab = (
        freq.orderBy(F.desc("c"), F.asc("tok"))
        .limit(TR_VOCAB)
        .select("tok")
        .localCheckpoint()
    )
    pairs = (
        big.filter(F.col("w1") != F.col("w2"))
        .join(F.broadcast(vocab.select(F.col("tok").alias("w1"))), "w1")
        .join(F.broadcast(vocab.select(F.col("tok").alias("w2"))), "w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("w"))
    )
    ew = (
        pairs.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), "w")
        .unionAll(pairs.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    wsum = ew.groupBy("src").agg(F.sum("w").cast("bigint").alias("tw"))
    ew2 = (
        ew.join(wsum, "src")
        .select("src", "dst", F.expr(f"(w * {TR_SHARE_SCALE}) div tw").alias("sh"))
        .persist()
    )
    nv = vocab.agg(F.count("*").alias("nv"))
    nodes = vocab.crossJoin(F.broadcast(nv)).persist()
    teleport = F.expr(f"({TR_DDEN - TR_DNUM} * {TR_SCALE} div {TR_DDEN}) div nv")
    ranks = nodes.select("tok", F.expr(f"{TR_SCALE} div nv").alias("r"))
    for _ in range(TR_ROUNDS):
        contrib = (
            ew2.join(ranks.select(F.col("tok").alias("src"), "r"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr(f"(r * sh) div {TR_SHARE_SCALE}")).alias("c"))
        )
        ranks = nodes.join(contrib, nodes.tok == contrib.dst, "left").select(
            nodes.tok,
            (
                teleport + F.expr(f"({TR_DNUM} * coalesce(c, 0L)) div {TR_DDEN}")
            ).alias("r"),
        )
    w_rank = Window.orderBy(F.desc("r"), F.asc("tok"))
    return (
        ranks.withColumn("kw_rank", F.row_number().over(w_rank))
        .filter(F.col("kw_rank") <= TR_K)
        .select("tok", F.col("r").cast("bigint").alias("rank_pico"), "kw_rank")
    )
