"""Training-data pipeline operators over ``documents`` — the stages a
large-scale LLM corpus build runs between raw scrape and tokenizer:
train/val decontamination, repetition filtering (Gopher-style), PII
redaction, and deterministic sampling (stratified-rate and fixed-k per
stratum).

All of it is built from the same reference tokenizer (T1-T3+F1,
``client.py:16-21``) and md5-derived hashing as the dedup family, so
every query here is exactly replayable in the DuckDB oracle — no
weakened rows-only checks.

100 TB design notes:

- Decontamination is an inverted-index equi-join on a 16-hex-char md5
  shingle key (not the raw shingle string): the shuffle carries 16
  bytes + doc_id per posting. The held-out side is distinct-reduced
  before the join and is ~10% of the corpus; at 100 TB the benchmark/
  val shingle set is usually tiny and broadcastable — here it scales
  with the corpus, so no broadcast hint (AQE decides).
- The repetition and PII queries are fully narrow (higher-order
  functions / regexp over each row, zero shuffles) — embarrassingly
  parallel map work pipelined into the scan.
- Sampling decisions are pure per-row hash predicates (md5 bucket),
  never seeded ``sample()``: reproducible under reprocessing,
  engine-portable, and membership is decidable without global state.
  The fixed-k variant needs one shuffle by stratum (window row_number)
  — the same shape as window_topk_per_group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreducecf_spark.operators.wordcount import tokens_array
from mapreducecf_spark.queries.text import BPE_RE
from mapreducecf_spark.registry import register
from mapreducecf_spark.sources import load_table

# ---------------------------------------------------------------------
# tunables (fixed — part of the query semantics, mirrored in oracles)
# ---------------------------------------------------------------------
DECON_K = 4  # tokens per decontamination shingle (3 is too collision-
#              prone on a small vocab, 5+ finds almost nothing — see
#              dedup.SHINGLE_K for the near-dup setting)
TRAIN_PCT = 90  # md5-bucket split, same expression as text_train_val_split
TOP_TOKEN_MAX = 0.12  # repetition gates (both active on the test corpus)
DUP_BIGRAM_MAX = 0.1
SAMPLE_K = 5  # fixed-k per-stratum sample size

# DuckDB twin of tokens_array(text)
_TOKS = (
    r"list_filter(string_split_regex("
    r"regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'), ' +'), "
    r"x -> regexp_matches(x, '\S'))"
)

# train/val assignment — IDENTICAL to text_train_val_split's bucket
_SPLIT_SQL = (
    "CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)"
    f" % 100 < {TRAIN_PCT} THEN 'train' ELSE 'val' END"
)


def _split_col(doc_id: Column) -> Column:
    bucket = F.conv(F.substring(F.md5(doc_id.cast("string")), 1, 4), 16, 10).cast(
        "int"
    ) % 100
    return F.when(bucket < TRAIN_PCT, "train").otherwise("val")


# ---------------------------------------------------------------------
# decontamination: train docs sharing any K-shingle with the val split
# ---------------------------------------------------------------------
@register(
    "pipe_decontaminate",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SPLIT_SQL} AS split,
         substr(md5(unnest(list_distinct(
           [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
            for i in range(1, len(t) - {DECON_K - 2})]))), 1, 16) AS sh_key
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents) toks
  WHERE len(t) >= {DECON_K}),
val_sh AS (SELECT DISTINCT sh_key FROM sh WHERE split = 'val')
SELECT doc_id, count(*) AS n_shared_shingles
FROM sh JOIN val_sh USING (sh_key)
WHERE split = 'train'
GROUP BY doc_id
""",
)
def pipe_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: flag training documents that share
    any {DECON_K}-token shingle with the held-out split — the overlap
    check every serious pretraining pipeline runs against its eval
    benchmarks (n-gram collision, not embedding similarity, because
    benchmark leakage is verbatim). The shingle is keyed by a 64-bit
    md5 prefix so the inverted-index join shuffles 16 hex chars per
    posting instead of the K-token string."""
    # lazy: registry imports this module before queries.dedup (cheap
    # families grade first), so a top-level import would be circular
    from mapreducecf_spark.queries.dedup import shingles_df

    sh = shingles_df(spark, sf_dir, k=DECON_K).select(
        "doc_id",
        _split_col(F.col("doc_id")).alias("split"),
        F.substring(F.md5(F.col("shingle")), 1, 16).alias("sh_key"),
    )
    val_sh = sh.filter(F.col("split") == "val").select("sh_key").distinct()
    return (
        sh.filter(F.col("split") == "train")
        .join(val_sh, "sh_key")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )


@register(
    "pipe_contamination_attribution",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SPLIT_SQL} AS split,
         substr(md5(unnest(list_distinct(
           [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
            for i in range(1, len(t) - {DECON_K - 2})]))), 1, 16) AS sh_key
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents) toks
  WHERE len(t) >= {DECON_K}),
src AS (SELECT doc_id, source FROM documents),
val_b AS (
  SELECT DISTINCT sh.sh_key, s.source AS benchmark
  FROM sh JOIN src s USING (doc_id) WHERE sh.split = 'val'),
post AS (
  SELECT sh.doc_id, s.source, v.sh_key, v.benchmark
  FROM sh JOIN src s USING (doc_id)
          JOIN val_b v ON v.sh_key = sh.sh_key
  WHERE sh.split = 'train'),
hits AS (SELECT DISTINCT doc_id, source, benchmark FROM post),
shhits AS (
  SELECT source, benchmark, CAST(count(DISTINCT sh_key) AS BIGINT)
           AS n_shared_shingles
  FROM post GROUP BY 1, 2),
tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_train
  FROM (SELECT doc_id, source, {_SPLIT_SQL} AS split FROM documents) d
  WHERE split = 'train' GROUP BY 1),
m AS (
  SELECT h.source, h.benchmark,
         CAST(count(*) AS BIGINT) AS n_docs,
         array_to_string(list_transform(
           list_sort(list(h.doc_id))[1:3], x -> CAST(x AS VARCHAR)), ',')
           AS example_doc_ids
  FROM hits h GROUP BY 1, 2)
SELECT m.source, m.benchmark, m.n_docs, s.n_shared_shingles,
       round(CAST(m.n_docs AS DOUBLE) / CAST(t.n_train AS DOUBLE), 6)
         AS hit_rate,
       m.example_doc_ids
FROM m JOIN shhits s ON s.source = m.source AND s.benchmark = m.benchmark
       JOIN tot t ON t.source = m.source
""",
)
def pipe_contamination_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination attribution (VERDICT r08 item 5): the
    report a data-release review actually reads. ``pipe_decontaminate``
    DROPS contaminated training docs; this query says WHO contaminated
    WHAT: one row per (training source, benchmark) pair — benchmark =
    the source label of the held-out/val docs, standing in for an eval
    suite — with the contaminated-doc count, the distinct shared
    {DECON_K}-shingle count, the hit RATE over that source's training
    docs (the number the review compares across sources), and up to 3
    example doc ids (smallest, deterministic) for spot-checking.

    Composes over the same md5-keyed shingle index as the decon query
    (shared ``shingles_df``). Scale shape: the val posting list keeps
    (sh_key, benchmark) DISTINCT, so a boilerplate shingle fans out at
    most #benchmarks ways (vs #val-docs); sources attach to the
    already-small contaminated set, and the 20-source totals join
    broadcasts. Examples come from a ``row_number() <= 3`` partial
    rank (WindowGroupLimit prunes map-side), so the closing
    collect_list aggregates at most 3 rows per cell — never the
    cell's full doc list (a fully-contaminated source × benchmark
    cell at 100 TB is millions of rows)."""
    from mapreducecf_spark.queries.dedup import shingles_df

    d = load_table(spark, sf_dir, "documents")
    src = d.select("doc_id", "source")
    sh = shingles_df(spark, sf_dir, k=DECON_K).select(
        "doc_id",
        _split_col(F.col("doc_id")).alias("split"),
        F.substring(F.md5(F.col("shingle")), 1, 16).alias("sh_key"),
    )
    val_b = (
        sh.filter(F.col("split") == "val")
        .join(src, "doc_id")
        .select("sh_key", F.col("source").alias("benchmark"))
        .distinct()
    )
    post = (
        sh.filter(F.col("split") == "train")
        .join(val_b, "sh_key")
        .join(src, "doc_id")
        .select("doc_id", "source", "sh_key", "benchmark")
    )
    hits = post.select("doc_id", "source", "benchmark").distinct()
    shhits = post.groupBy("source", "benchmark").agg(
        F.count_distinct("sh_key").alias("n_shared_shingles")
    )
    tot = (
        d.select("source", _split_col(F.col("doc_id")).alias("split"))
        .filter(F.col("split") == "train")
        .groupBy("source")
        .agg(F.count("*").alias("n_train"))
    )
    # examples via row_number ≤ 3, NOT collect_list over the cell: a
    # fully-contaminated source × benchmark cell at 100 TB is millions
    # of rows — WindowGroupLimit partial-ranks top-3 map-side, so the
    # final collect_list aggregates exactly ≤ 3 rows per cell
    wex = Window.partitionBy("source", "benchmark").orderBy("doc_id")
    ex = (
        hits.withColumn("rk", F.row_number().over(wex))
        .filter(F.col("rk") <= 3)
        .groupBy("source", "benchmark")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("example_doc_ids")
        )
    )
    m = hits.groupBy("source", "benchmark").agg(F.count("*").alias("n_docs"))
    return (
        m.join(ex, ["source", "benchmark"])
        .join(shhits, ["source", "benchmark"])
        .join(F.broadcast(tot), "source")
        .select(
            "source", "benchmark", "n_docs", "n_shared_shingles",
            F.round(
                F.col("n_docs").cast("double") / F.col("n_train").cast("double"), 6
            ).alias("hit_rate"),
            "example_doc_ids",
        )
    )


# ---------------------------------------------------------------------
# semantic contamination attribution: embedding near-dups across the
# train/val split, over the memoized SemDeDup index
# ---------------------------------------------------------------------
def _contamination_semantic_sql() -> str:
    # LAZY: pipeline imports before similarity, and the oracle embeds
    # the k-means CTE chain — resolved at grading time, so the two
    # stay in lockstep with the codebook by construction
    from mapreducecf_spark.queries.similarity import (
        _E_SQL,
        _dot_sql,
        _kmeans_sql,
        NEARDUP_THRESHOLD,
        SEMDEDUP_CLUSTER_CAP,
    )

    split_m = _SPLIT_SQL.replace("doc_id", "m.vec_id")
    return f"""
WITH {_E_SQL.strip()},
{_kmeans_sql()},
m AS MATERIALIZED (
  SELECT vec_id, cid, embedding, nrm FROM (
    SELECT a.vec_id, a.cid, e.embedding, e.nrm,
           row_number() OVER (PARTITION BY a.cid
             ORDER BY md5(CAST(a.vec_id AS VARCHAR)), a.vec_id) AS crk
    FROM assignf a JOIN e ON e.vec_id = a.vec_id) t
  WHERE crk <= {SEMDEDUP_CLUSTER_CAP}),
lab AS (
  SELECT m.vec_id, m.cid, m.embedding, m.nrm, d.source,
         {split_m} AS split
  FROM m JOIN documents d ON d.doc_id = m.vec_id),
prs AS (
  SELECT t.vec_id AS doc_id, t.source, v.source AS benchmark
  FROM lab t JOIN lab v
    ON v.cid = t.cid AND t.split = 'train' AND v.split = 'val'
  WHERE round({_dot_sql('t.embedding', 'v.embedding')} / (t.nrm * v.nrm), 6)
        >= {NEARDUP_THRESHOLD}),
hits AS (SELECT DISTINCT doc_id, source, benchmark FROM prs),
pcnt AS (
  SELECT source, benchmark, CAST(count(*) AS BIGINT) AS n_pairs
  FROM prs GROUP BY 1, 2),
tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_train
  FROM lab WHERE split = 'train' GROUP BY 1),
mm AS (
  SELECT h.source, h.benchmark, CAST(count(*) AS BIGINT) AS n_docs,
         array_to_string(list_transform(
           list_sort(list(h.doc_id))[1:3], x -> CAST(x AS VARCHAR)), ',')
           AS example_doc_ids
  FROM hits h GROUP BY 1, 2)
SELECT mm.source, mm.benchmark, mm.n_docs, p.n_pairs,
       round(CAST(mm.n_docs AS DOUBLE) / CAST(t.n_train AS DOUBLE), 6)
         AS hit_rate,
       mm.example_doc_ids
FROM mm JOIN pcnt p ON p.source = mm.source AND p.benchmark = mm.benchmark
        JOIN tot t ON t.source = mm.source
"""


@register("pipe_contamination_semantic", oracle=_contamination_semantic_sql)
def pipe_contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC contamination attribution (VERDICT r10 item 8): the
    embedding near-dup variant of ``pipe_contamination_attribution``.
    The n-gram report catches verbatim leaks; this one catches the
    paraphrase-level leak an exact-shingle match misses — a training
    doc whose EMBEDDING is a near-duplicate of a val/benchmark doc.
    One row per (training source, benchmark): contaminated-doc count,
    near-dup PAIR count, hit rate over that source's train docs in
    the index, and up to 3 example doc ids (smallest, deterministic).

    Rides the memoized SemDeDup index (``_capped_members`` — the same
    cluster-then-pairwise candidate generator dedup_semantic_ivf and
    the streaming probe already share, so this report is free once
    the index exists): candidates are train x val pairs WITHIN a
    k-means cluster (a cid-equi-join, never all-pairs; volume bounded
    by the per-cluster cap), verified on exact rounded cosine at the
    family's {{NEARDUP_THRESHOLD}} threshold. The denominator is the
    source's train docs IN THE INDEX — the population the scan
    actually covered (the docstring of the n-gram variant's tot uses
    all train docs; here the index is the audited universe). Examples
    use the same row_number <= 3 partial rank (WindowGroupLimit), so
    no cell ever aggregates its full doc list."""
    from mapreducecf_spark.queries.similarity import (
        NEARDUP_THRESHOLD,
        _capped_members,
        _cos,
    )

    d = load_table(spark, sf_dir, "documents")
    src = d.select(F.col("doc_id").alias("vec_id"), "source")
    m = (
        _capped_members(spark, sf_dir)
        .join(src, "vec_id")
        .withColumn("split", _split_col(F.col("vec_id")))
    )
    t = m.filter(F.col("split") == "train").select(
        "cid",
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        "source",
    )
    v = m.filter(F.col("split") == "val").select(
        "cid",
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("source").alias("benchmark"),
    )
    prs = (
        t.join(v, "cid")
        .filter(
            _cos(F.col("ea"), F.col("na"), F.col("eb"), F.col("nb"))
            >= NEARDUP_THRESHOLD
        )
        .select("doc_id", "source", "benchmark")
    )
    hits = prs.distinct()
    pcnt = prs.groupBy("source", "benchmark").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    tot = (
        m.filter(F.col("split") == "train")
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_train"))
    )
    wex = Window.partitionBy("source", "benchmark").orderBy("doc_id")
    ex = (
        hits.withColumn("rk", F.row_number().over(wex))
        .filter(F.col("rk") <= 3)
        .groupBy("source", "benchmark")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("example_doc_ids")
        )
    )
    mm = hits.groupBy("source", "benchmark").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return (
        mm.join(ex, ["source", "benchmark"])
        .join(pcnt, ["source", "benchmark"])
        .join(F.broadcast(tot), "source")
        .select(
            "source",
            "benchmark",
            "n_docs",
            "n_pairs",
            F.round(
                F.col("n_docs").cast("double") / F.col("n_train").cast("double"),
                6,
            ).alias("hit_rate"),
            "example_doc_ids",
        )
    )


# ---------------------------------------------------------------------
# repetition filter (Gopher-style): most-common-token and duplicate-
# bigram fractions, fully narrow
# ---------------------------------------------------------------------
@register(
    "pipe_repetition_filter",
    oracle=f"""
SELECT doc_id,
       len(lt) AS n_tokens,
       round(CAST(list_max(list_transform(list_distinct(lt),
                    w -> len(list_filter(lt, x -> x = w)))) AS DOUBLE)
             / len(lt), 6) AS top_token_frac,
       round(1.0 - CAST(len(list_distinct(
                    [lt[i] || ' ' || lt[i+1] for i in range(1, len(lt))]))
                  AS DOUBLE) / (len(lt) - 1), 6) AS dup_bigram_frac,
       (CAST(list_max(list_transform(list_distinct(lt),
             w -> len(list_filter(lt, x -> x = w)))) AS DOUBLE)
            / len(lt) <= {TOP_TOKEN_MAX}
        AND 1.0 - CAST(len(list_distinct(
              [lt[i] || ' ' || lt[i+1] for i in range(1, len(lt))]))
            AS DOUBLE) / (len(lt) - 1) <= {DUP_BIGRAM_MAX}) AS keep
FROM (SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS lt
      FROM documents) t
WHERE len(lt) >= 2
""",
)
def pipe_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gate (the Gopher/MassiveText signals,
    adapted to token granularity because the corpus has no line
    structure): fraction of tokens that are the single most common
    token, and fraction of duplicated bigrams. Highly repetitive
    documents are boilerplate/spam and get ``keep = false``.

    Everything is a higher-order function over the per-row token array
    — no explode, no shuffle. The most-common-token count is
    O(distinct × n) per row, which is bounded by the document length
    squared but in practice distinct ≪ n for exactly the repetitive
    documents the gate exists to catch."""
    d = load_table(spark, sf_dir, "documents")
    lt = F.transform(tokens_array(F.col("text")), F.lower)
    base = d.select("doc_id", lt.alias("lt")).filter(F.size("lt") >= 2)
    n = F.size("lt")
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(F.col("lt")),
            lambda w: F.size(F.filter(F.col("lt"), lambda x: x == w)),
        )
    )
    n_bigrams = n - 1
    bigrams = F.zip_with(
        F.slice(F.col("lt"), 1, n_bigrams),
        F.slice(F.col("lt"), 2, n_bigrams),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    top_frac = top_cnt.cast("double") / n
    dup_frac = 1.0 - F.size(F.array_distinct(bigrams)).cast("double") / n_bigrams
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(top_frac, 6).alias("top_token_frac"),
        F.round(dup_frac, 6).alias("dup_bigram_frac"),
        ((top_frac <= TOP_TOKEN_MAX) & (dup_frac <= DUP_BIGRAM_MAX)).alias("keep"),
    )


# ---------------------------------------------------------------------
# PII redaction: regex scrub with planted, per-doc-deterministic PII
# ---------------------------------------------------------------------
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_LONGNUM_RE = r"[0-9]{6,}"


@register(
    "pipe_pii_scrub",
    oracle=f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com id ' || CAST(1000000 + doc_id AS VARCHAR) AS ptext
  FROM documents),
scrubbed AS (
  SELECT doc_id, ptext,
         regexp_replace(regexp_replace(ptext, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_LONGNUM_RE}', '<NUM>', 'g') AS stext
  FROM planted)
SELECT doc_id,
       CAST(len(regexp_extract_all(ptext, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(ptext, '{_LONGNUM_RE}')) AS INT) AS n_longnums,
       length(stext) AS n_chars_scrubbed,
       md5(stext) AS scrub_fp
FROM scrubbed
""",
)
def pipe_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: regexp-replace emails and long digit runs with
    typed placeholders, reporting per-document match counts and the md5
    of the scrubbed text (the downstream-verifiable artifact). The test
    corpus contains no organic PII, so each document gets deterministic
    synthetic PII planted first — the scrub path is then exercised and
    value-hash-verified end to end, exactly like production would run
    it on real matches.

    Both regexes stay inside the RE2 ∩ Java-regex common dialect
    (character classes + bounded quantifiers, no lookaround), so Spark
    and the DuckDB oracle see identical match sets. Narrow per-row
    work; at 100 TB this is scan-pipelined map work."""
    d = load_table(spark, sf_dir, "documents")
    ptext = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com id "),
        (F.col("doc_id") + 1000000).cast("string"),
    )
    base = d.select("doc_id", ptext.alias("ptext"))
    stext = F.regexp_replace(
        F.regexp_replace(F.col("ptext"), _EMAIL_RE, "<EMAIL>"),
        _LONGNUM_RE,
        "<NUM>",
    )
    return base.select(
        "doc_id",
        F.regexp_count("ptext", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("ptext", F.lit(_LONGNUM_RE)).alias("n_longnums"),
        F.length(stext).alias("n_chars_scrubbed"),
        F.md5(stext).alias("scrub_fp"),
    )


# ---------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------
@register(
    "pipe_sample_stratified",
    oracle="""
WITH rated AS (
  SELECT source,
         25 + 50 * (CAST(substr(source, 4) AS INTEGER) % 2) AS rate_pct,
         CAST(('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 4))
              AS INTEGER) % 100 AS bucket
  FROM documents)
SELECT source, rate_pct,
       count(*) AS n_total,
       CAST(sum(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled
FROM rated
GROUP BY source, rate_pct
""",
)
def pipe_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified down-sampling with per-stratum rates (the data-mixing
    stage: weight sources differently in the training mix), decided by
    a salted md5 bucket per document — reproducible, engine-portable,
    and independent of the train/val split hash (different salt).
    Even-numbered sources keep 25%, odd keep 75%; the query reports
    target rate and achieved counts per source. One partial-aggregated
    groupBy; the keep decision itself never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    rate = 25 + 50 * (F.substring("source", 4, 10).cast("int") % 2)
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("samp:"), F.col("doc_id").cast("string"))), 1, 4),
        16,
        10,
    ).cast("int") % 100
    return (
        d.select("source", rate.alias("rate_pct"), bucket.alias("bucket"))
        .groupBy("source", "rate_pct")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("bucket") < F.col("rate_pct"), 1).otherwise(0)).alias(
                "n_sampled"
            ),
        )
    )


@register(
    "pipe_sample_per_group",
    oracle=f"""
SELECT doc_id, source, rn
FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents) t
WHERE rn <= {SAMPLE_K}
""",
)
def pipe_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-stratum sample (deterministic reservoir): rank
    documents inside each source by their md5 and keep the first
    {SAMPLE_K} — a stable "k examples per source" inspection sample that
    does not move under reprocessing or engine change (seeded sample()
    never replays across engines). One shuffle by source; the md5 order
    is uniform so the window sees no value skew beyond source sizes."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= SAMPLE_K)
    )


PRIORITY_K = 10  # weighted sample size per language


@register(
    "pipe_sample_priority",
    oracle=f"""
SELECT lang, doc_id, weight, priority_micro, sample_rank
FROM (SELECT lang, doc_id, w AS weight, prio AS priority_micro,
             row_number() OVER (PARTITION BY lang
                                ORDER BY prio, doc_id) AS sample_rank
      FROM (SELECT lang, doc_id, greatest(n_chars, 1) AS w,
                   CAST(CAST(('0x' || substr(md5('prio:' || CAST(doc_id AS VARCHAR)), 1, 10))
                             AS BIGINT) * 1000000 // greatest(n_chars, 1) AS BIGINT) AS prio
            FROM documents) t) r
WHERE sample_rank <= {PRIORITY_K}
""",
)
def pipe_sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sample without replacement per language — priority
    sampling (Duffield, Lund & Thorup, JACM 2007): each document draws
    a deterministic md5 uniform u and gets priority q = u // weight
    (BIGINT micro-units); the {PRIORITY_K} smallest q per group are
    the sample, so heavier
    (longer) documents are proportionally likelier to be kept while the
    md5 salt keeps the draw reproducible under reprocessing and across
    engines (seeded ``sample()`` replays in neither). This is the
    estimator production pipelines use for weighted subset selection
    at scale because it needs one pass, no normalization, and supports
    unbiased subset-sum estimation.

    Scale shape: the priority is pure per-row hash math (never
    shuffles); the per-group cut is a windowed top-k the engine
    executes as WindowGroupLimit (partial top-k before the group
    shuffle, like every other top-k here). The priority is BIGINT
    micro-units via integer floor division (the sim_pagerank
    fixed-point discipline — a double u/weight differs between engines
    in the last ULP of round(), which is enough to flip a hash); a
    40-bit md5 uniform × 10⁶ stays far inside BIGINT range."""
    d = load_table(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("prio:"), F.col("doc_id").cast("string"))), 1, 10
        ),
        16,
        10,
    ).cast("bigint")
    wt = F.greatest(F.col("n_chars"), F.lit(1)).cast("bigint")
    win = Window.partitionBy("lang").orderBy(F.col("priority_micro"), F.col("doc_id"))
    return (
        d.select(
            "lang",
            "doc_id",
            wt.alias("weight"),
            (u * F.lit(1000000)).alias("u6"),
        )
        .select(
            "lang",
            "doc_id",
            "weight",
            F.expr("CAST(u6 div weight AS BIGINT)").alias("priority_micro"),
        )
        .withColumn("sample_rank", F.row_number().over(win))
        .filter(F.col("sample_rank") <= PRIORITY_K)
    )


#: number of output shards for the deterministic corpus shuffle
SHUFFLE_SHARDS = 8


@register(
    "pipe_shuffle_shards",
    oracle=f"""
SELECT doc_id,
       CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 4))
            AS INTEGER) % {SHUFFLE_SHARDS} AS shard,
       CAST(row_number() OVER (
         PARTITION BY CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 4))
                           AS INTEGER) % {SHUFFLE_SHARDS}
         ORDER BY md5('ord:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
         AS position
FROM documents
""",
)
def pipe_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into {SHUFFLE_SHARDS} training
    shards: every document gets a salted-md5 shard and a salted-md5
    order WITHIN the shard — the "shuffle the corpus before training"
    step, reproducible across reruns, engines, and cluster sizes
    (seeded ``rand()`` is none of those: it depends on partition
    layout).

    The CORPUS crosses the wire once — the (shard, md5-prefix
    sub-bucket) hash Exchange the per-bucket rank window rides,
    exactly the write pattern of ``repartition(N, shard)
    .sortWithinPartitions(ord)`` feeding a sharded sink; the only
    other shuffles are the two map-side-partial per-bucket totals
    aggs (|shards| x 256 rows), whose offsets broadcast back
    (``with_hash_bucketed_prefix``), so no task ever owns a whole
    shard's rows. Plan contract pinned in
    ``tests/test_plans.py::test_pack_layouts_two_phase_contract``.
    Different salts decouple shard choice from intra-shard order (same
    independence argument as the sampling/split salts)."""
    from mapreducecf_spark.functions.rank import with_hash_bucketed_prefix

    d = load_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    shard = F.conv(
        F.substring(F.md5(F.concat(F.lit("shuf:"), sid)), 1, 4), 16, 10
    ).cast("int") % SHUFFLE_SHARDS
    ordkey = F.md5(F.concat(F.lit("ord:"), sid))
    base = d.select("doc_id", shard.alias("shard"), ordkey.alias("ordkey"))
    return with_hash_bucketed_prefix(
        base, "shard", "ordkey", ["doc_id"], F.lit(1), "position",
        inclusive=True,
    ).select("doc_id", "shard", "position")


# ---------------------------------------------------------------------
# sequence packing: concatenate-the-corpus-and-split-at-token-budget
# ---------------------------------------------------------------------
#: tokens per packed training sequence (the model context budget)
SEQ_LEN = 256


def _pack_oracle(n_tokens_sql: str) -> str:
    """The ONE packing-layout oracle, parameterized by the length
    expression — both packers (whitespace / BPE) must share the
    shard/order/prefix-sum/seq arithmetic by construction, so a future
    edit to the layout cannot drift one variant silently."""
    return f"""
WITH docs AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 4))
              AS INTEGER) % 8 AS shard,
         md5('ord:' || CAST(doc_id AS VARCHAR)) AS ordkey,
         {n_tokens_sql} AS n_tokens
  FROM documents
  WHERE {n_tokens_sql} >= 1),
placed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY ordkey, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_tok
  FROM docs)
SELECT doc_id, shard, n_tokens, start_tok,
       start_tok // {SEQ_LEN} AS first_seq,
       (start_tok + n_tokens - 1) // {SEQ_LEN} AS last_seq,
       (start_tok + n_tokens - 1) // {SEQ_LEN} - start_tok // {SEQ_LEN} + 1
         AS n_seqs
FROM placed
"""


def _pack_layout(d: DataFrame, n) -> DataFrame:
    """Spark twin of :func:`_pack_oracle`: the shared deterministic
    shuffle (salted-md5 shard/order), per-shard running token offset,
    and first/last packed-sequence ids, parameterized by the length
    column ``n``.

    The running offset is TWO-PHASE (``with_hash_bucketed_prefix``):
    each shard splits into 256 md5-prefix sub-buckets whose string
    order equals the order key's, the exclusive sum runs per bucket,
    and per-bucket integer totals broadcast back as starting offsets —
    bit-identical to the single per-shard window it replaces (the
    oracle keeps its plain ``sum() OVER (PARTITION BY shard ...)``)
    but with |shards|×256-way parallelism instead of one task per
    shard."""
    from mapreducecf_spark.functions.rank import with_hash_bucketed_prefix

    sid = F.col("doc_id").cast("string")
    shard = F.conv(
        F.substring(F.md5(F.concat(F.lit("shuf:"), sid)), 1, 4), 16, 10
    ).cast("int") % 8
    ordkey = F.md5(F.concat(F.lit("ord:"), sid))
    base = d.select(
        "doc_id", shard.alias("shard"), ordkey.alias("ordkey"),
        n.cast("bigint").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)
    placed = with_hash_bucketed_prefix(
        base, "shard", "ordkey", ["doc_id"], "n_tokens", "start_tok"
    ).select("doc_id", "shard", "n_tokens", "start_tok")
    first_seq = F.floor(F.col("start_tok") / SEQ_LEN)
    last_seq = F.floor((F.col("start_tok") + F.col("n_tokens") - 1) / SEQ_LEN)
    return placed.select(
        "doc_id", "shard", "n_tokens", "start_tok",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq + 1).alias("n_seqs"),
    )


@register(
    "pipe_pack_sequences",
    oracle=_pack_oracle(f"len({_TOKS})"),
)
def pipe_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the GPT-style pretraining layout: the corpus
    is deterministically shuffled (same salted-md5 shard/order as
    ``pipe_shuffle_shards``), then conceptually concatenated per shard
    and split into fixed {SEQ_LEN}-token training sequences, documents
    crossing boundaries. Per document: its token offset in the shard
    stream and the first/last sequence it lands in — everything a
    packed-example writer needs to emit attention-mask segment ids.

    The corpus crosses the wire once — the (shard, md5-prefix
    sub-bucket) Exchange under the running-offset window — plus two
    tiny map-side-partial bucket-totals aggs whose offsets broadcast
    back (the two-phase ``with_hash_bucketed_prefix`` layout, r10):
    bit-identical to a plain per-shard cumulative window, but with
    |shards| x 256-way parallelism instead of one task per shard.
    Sequence ids are integer floor-divisions of exact BIGINTs —
    bit-identical cross-engine, no tolerance needed. At 100 TB this
    is the exact shape of the tokenizer-sharding job: repartition by
    (shard, sub-bucket), sortWithinPartitions, running offset — and
    each `prefix_chars` increment buys another 16x parallelism."""
    d = load_table(spark, sf_dir, "documents")
    return _pack_layout(d, F.size(tokens_array(F.col("text"))))


@register(
    "pipe_pack_sequences_bpe",
    oracle=_pack_oracle(
        "len(regexp_extract_all(text, '" + BPE_RE + "'))"
    ),
)
def pipe_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware sequence packing (VERDICT r08 item 4): the same
    deterministic shard/order/running-offset layout as
    ``pipe_pack_sequences``, but document lengths are TOKENIZER
    lengths — the BPE-ish pre-tokenizer count of
    ``text_token_count_bpe`` (shared ``BPE_RE``) — because a packed
    training example budget is model tokens, not whitespace words.
    Whitespace packing under-fills sequences on punctuation- and
    digit-heavy text (every symbol is its own BPE token); packing on
    the same counts the token-budget accounting uses keeps
    first_seq/last_seq consistent with what the trainer will see.

    Same two-phase layout (one corpus-side (shard, sub-bucket)
    Exchange + tiny broadcast bucket offsets); the length column is
    ONE JVM-side ``regexp_count`` per document in the same corpus
    scan that projects the shard/order keys — no second pass, no UDF.
    Zero-BPE-token documents (empty/whitespace-only text) pack
    nothing and are excluded, mirroring the whitespace variant's
    ``n_tokens >= 1`` rule. Both variants share the layout by
    construction (:func:`_pack_layout` / :func:`_pack_oracle` — only
    the length expression differs), plan-pinned identical in
    ``tests/test_plans.py``."""
    d = load_table(spark, sf_dir, "documents")
    return _pack_layout(d, F.regexp_count("text", F.lit(BPE_RE)))


# ---------------------------------------------------------------------
# context chunking: overlapping fixed-token windows per document
# ---------------------------------------------------------------------
CHUNK_TOKENS = 64  # window size
CHUNK_STRIDE = 48  # step (CHUNK_TOKENS - CHUNK_STRIDE tokens of overlap)


@register(
    "pipe_context_chunks",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents WHERE len({_TOKS}) >= 1),
starts AS (
  SELECT doc_id, t,
         unnest([{CHUNK_STRIDE} * i
                 for i in range(0, (len(t) + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE})])
           AS st
  FROM toks)
SELECT doc_id,
       CAST(st // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(st AS BIGINT) AS start_tok,
       len(t[st + 1 : st + {CHUNK_TOKENS}]) AS n_chunk_tokens,
       md5(list_aggregate(t[st + 1 : st + {CHUNK_TOKENS}], 'string_agg', ' '))
         AS chunk_fp
FROM starts
""",
)
def pipe_context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context windows — the chunking stage for long-doc
    training and retrieval indexing: each document becomes windows of
    {CHUNK_TOKENS} tokens every {CHUNK_STRIDE} (so consecutive chunks
    share {CHUNK_TOKENS - CHUNK_STRIDE} tokens), trailing partial
    windows kept. Emits the md5 of each chunk's token stream — the
    verifiable artifact a downstream tokenizer/indexer consumes.

    The token array is materialized ONCE per row, then a narrow
    posexplode over the start offsets and an array slice per chunk —
    no shuffle anywhere (contrast the per-element lambda pitfall noted
    on ``dedup.shingles_df``: slicing a materialized column re-runs
    nothing). At 100 TB this is scan-pipelined map work whose output is
    ~{CHUNK_TOKENS / CHUNK_STRIDE:.1f}x the input token volume."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", tokens_array(F.col("text")).alias("t")
    ).filter(F.size("t") >= 1)
    starts = F.sequence(F.lit(0), F.size("t") - 1, F.lit(CHUNK_STRIDE))
    chunk = F.slice(F.col("t"), F.col("st") + 1, CHUNK_TOKENS)
    return (
        base.select("doc_id", "t", F.explode(starts).alias("st"))
        .select(
            "doc_id",
            (F.col("st") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.col("st").cast("bigint").alias("start_tok"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
        )
    )


# ---------------------------------------------------------------------
# composed quality-filter chain: the keep/drop decision with reasons
# ---------------------------------------------------------------------
MIN_TOKENS = 10
MAX_TOKENS = 5000
LANG_MIN_STOP = 0.05  # same gate as text_language_id

# The stopword vocabulary comes from the text family (text.py defines
# it once), imported LAZILY inside _qf_oracle: a module-level import
# here closes the cycle queries.text -> registry -> queries.pipeline ->
# queries.text, which breaks any process whose FIRST import is
# queries.text itself (same class of bug as the streaming.windows ->
# timeseries cycle fixed this round — the partially-initialized module
# doesn't have _STOP_SQL yet).


def quality_filter(d: DataFrame) -> DataFrame:
    """The composed filter as a source-agnostic builder over any
    DataFrame with (doc_id, text) — shared verbatim by the batch query
    below and the stateless streaming twin in ``streaming.graded``
    (one definition, two execution modes, like the window builders in
    ``queries.timeseries``). Every signal is narrow per-row array math,
    so the stream needs no watermark and no state."""
    from mapreducecf_spark.queries.text import STOPWORDS

    lt = F.transform(tokens_array(F.col("text")), F.lower)
    base = d.select("doc_id", lt.alias("lt"))
    n = F.size("lt")
    stop_ratio = (
        F.size(F.filter(F.col("lt"), lambda x: x.isin(*STOPWORDS))).cast("double")
        / F.nullif(n, F.lit(0))
    )
    top_frac = (
        F.array_max(
            F.transform(
                F.array_distinct(F.col("lt")),
                lambda w: F.size(F.filter(F.col("lt"), lambda x: x == w)),
            )
        ).cast("double")
        / F.nullif(n, F.lit(0))
    )
    dup_frac = 1.0 - F.size(
        F.array_distinct(
            F.zip_with(
                F.slice(F.col("lt"), 1, n - 1),
                F.slice(F.col("lt"), 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        )
    ).cast("double") / F.nullif(n - 1, F.lit(0))
    gated = base.select(
        "doc_id",
        n.alias("n_tokens"),
        n.between(MIN_TOKENS, MAX_TOKENS).alias("len_ok"),
        F.coalesce(stop_ratio >= LANG_MIN_STOP, F.lit(False)).alias("lang_ok"),
        F.coalesce(
            (top_frac <= TOP_TOKEN_MAX) & (dup_frac <= DUP_BIGRAM_MAX), F.lit(False)
        ).alias("rep_ok"),
    )
    return gated.select(
        "doc_id", "n_tokens", "len_ok", "lang_ok", "rep_ok",
        (F.col("len_ok") & F.col("lang_ok") & F.col("rep_ok")).alias("keep"),
        F.when(~F.col("len_ok"), "length")
        .when(~F.col("lang_ok"), "language")
        .when(~F.col("rep_ok"), "repetition")
        .otherwise("keep")
        .alias("reject_reason"),
    )


def _qf_oracle() -> str:
    from mapreducecf_spark.queries.text import _STOP_SQL

    return f"""
WITH sig AS (
  SELECT doc_id,
         len(lt) AS n_tokens,
         CAST(len(list_filter(lt, x -> x IN ({_STOP_SQL}))) AS DOUBLE)
           / nullif(len(lt), 0) AS stop_ratio,
         CAST(list_max(list_transform(list_distinct(lt),
                w -> len(list_filter(lt, x -> x = w)))) AS DOUBLE)
           / nullif(len(lt), 0) AS top_frac,
         1.0 - CAST(len(list_distinct(
                 [lt[i] || ' ' || lt[i+1] for i in range(1, len(lt))]))
               AS DOUBLE) / nullif(len(lt) - 1, 0) AS dup_frac
  FROM (SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS lt
        FROM documents) t),
gated AS (
  SELECT doc_id, n_tokens,
         n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS} AS len_ok,
         coalesce(stop_ratio >= {LANG_MIN_STOP}, FALSE) AS lang_ok,
         coalesce(top_frac <= {TOP_TOKEN_MAX} AND dup_frac <= {DUP_BIGRAM_MAX},
                  FALSE) AS rep_ok
  FROM sig)
SELECT doc_id, n_tokens, len_ok, lang_ok, rep_ok,
       len_ok AND lang_ok AND rep_ok AS keep,
       CASE WHEN NOT len_ok THEN 'length'
            WHEN NOT lang_ok THEN 'language'
            WHEN NOT rep_ok THEN 'repetition'
            ELSE 'keep' END AS reject_reason
FROM gated
"""


@register("pipe_quality_filter_chain", oracle=_qf_oracle)
def pipe_quality_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE composed corpus filter a pretraining pipeline actually ships:
    length gate ({MIN_TOKENS}..{MAX_TOKENS} tokens), language gate
    (stopword density >= {LANG_MIN_STOP}, same signal as
    text_language_id), and repetition gate (pipe_repetition_filter's
    thresholds) folded into one keep/drop decision with the FIRST
    failing gate as the audit reason — the per-document provenance
    record quality-curation reviews demand.

    Every signal is a higher-order fold over one materialized token
    array; zero shuffles, scan-pipelined at any scale. Degenerate docs
    (0 or 1 tokens) make the ratio signals NULL — both engines coalesce
    those gates to false through identical three-valued logic."""
    return quality_filter(load_table(spark, sf_dir, "documents"))


@register(
    "pipe_mix_weights",
    oracle=f"""
WITH per_source AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source)
SELECT source, n_docs, n_tokens,
       round(n_tokens * 100.0 / sum(n_tokens) OVER (), 6) AS share_pct,
       round((sum(n_tokens) OVER () * 1.0 / count(*) OVER ()) / n_tokens, 6)
         AS mix_weight,
       CAST(ceil((sum(n_tokens) OVER () * 1.0 / count(*) OVER ()) / n_tokens)
            AS BIGINT) AS repeat_epochs
FROM per_source
""",
)
def pipe_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture weight computation — the data-mixing stage that
    decides how often each source is repeated in the training mix.
    Per source: document and token counts, the source's share of all
    corpus tokens, and the up-/down-sampling weight that would move the
    mix to a UNIFORM token budget per source (weight > 1 => repeat for
    ~that many epochs, weight < 1 => subsample at that rate), plus the
    integer epoch count a sequential trainer would use (``ceil``).

    100 TB shape: one partial-aggregated groupBy over (source) — the
    token counting folds into the scan, and the unpartitioned window
    runs over ONE ROW PER SOURCE (dozens of rows post-agg, not the
    corpus), so the single-partition window is a driver-sized
    afterthought, not a bottleneck. The same math generalizes to any
    target mix by replacing the uniform 1/n target with a weight
    column. Both engines compute the ratio in the identical order
    (``sum*1.0/count`` then ``/n_tokens``) so the rounded doubles
    hash-match."""
    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select("source", F.size(tokens_array(F.col("text"))).alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    target = F.sum("n_tokens").over(w) * F.lit(1.0) / F.count("*").over(w)
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") * 100.0 / F.sum("n_tokens").over(w), 6).alias(
            "share_pct"
        ),
        F.round(target / F.col("n_tokens"), 6).alias("mix_weight"),
        F.ceil(target / F.col("n_tokens")).cast("bigint").alias("repeat_epochs"),
    )


# snapshot simulation knobs (fixed — mirrored in the oracle): the "old"
# snapshot is missing every doc_id ≡ 0 (mod 10) (they arrive later), the
# "new" snapshot drops doc_id ≡ 1 (mod 10) (retracted/expired), and
# doc_id ≡ 3 (mod 7) was re-crawled with different bytes.
_SNAP_OLD_DROP = 0
_SNAP_NEW_DROP = 1
_SNAP_CHANGED = 3
_SNAP_REFETCH = 2  # old docs ≡ this (mod 9) also arrive as re-fetches


@register(
    "pipe_snapshot_diff",
    oracle=f"""
WITH old AS (
  SELECT doc_id, md5(text) AS fp FROM documents
  WHERE doc_id % 10 <> {_SNAP_OLD_DROP}),
new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = {_SNAP_CHANGED}
                  THEN text || ' v2' ELSE text END) AS fp
  FROM documents WHERE doc_id % 10 <> {_SNAP_NEW_DROP}),
j AS (
  SELECT CASE WHEN o.fp IS NULL THEN 'added'
              WHEN n.fp IS NULL THEN 'removed'
              WHEN o.fp <> n.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
SELECT status, count(*) AS n_docs
FROM j GROUP BY status
""",
)
def pipe_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus refresh (the CDC stage): diff two crawl
    snapshots by raw-bytes fingerprint and classify every document as
    added / removed / changed / unchanged — the decision record an
    incremental pipeline uses to reprocess ONLY the delta instead of
    re-running dedup + filtering over 100 TB. Snapshots are simulated
    deterministically from the one documents table (knobs above) so the
    diff is exactly replayable in the oracle.

    100 TB shape: the full outer join shuffles (doc_id, 16-byte md5)
    pairs only — never text — and classification folds into the join
    projection; the status rollup is a 4-group partial agg. With both
    snapshots bucketed by doc_id on disk this join is shuffle-free."""
    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 10 != _SNAP_OLD_DROP).select(
        "doc_id", F.md5("text").alias("ofp")
    )
    new = d.filter(F.col("doc_id") % 10 != _SNAP_NEW_DROP).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == _SNAP_CHANGED, F.concat("text", F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("nfp"),
    )
    status = (
        F.when(F.col("ofp").isNull(), "added")
        .when(F.col("nfp").isNull(), "removed")
        .when(F.col("ofp") != F.col("nfp"), "changed")
        .otherwise("unchanged")
    )
    return (
        old.join(new, "doc_id", "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n_docs"))
    )


VOCAB_SIZE = 100  # top-N corpus tokens kept as the in-vocabulary set


@register(
    "pipe_oov_rate",
    oracle=f"""
WITH occ AS (
  SELECT doc_id, lower(unnest({_TOKS})) AS w FROM documents),
vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS r
    FROM occ GROUP BY w) t
  WHERE r <= {VOCAB_SIZE}),
scored AS (
  SELECT o.doc_id,
         count(*) AS n_tokens,
         CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM occ o LEFT JOIN vocab v ON o.w = v.w
  GROUP BY o.doc_id)
SELECT doc_id, n_tokens, n_oov,
       round(n_oov * 100.0 / n_tokens, 6) AS oov_pct
FROM scored
""",
)
def pipe_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage telemetry: build the top-{VOCAB_SIZE} corpus
    vocabulary (count-desc, token-asc tiebreak — fully deterministic)
    and report each document's out-of-vocabulary token count and rate.
    This is the coverage check run before committing to a tokenizer:
    docs with high OOV rates are the ones a fixed vocab would shred
    into bytes/unk.

    100 TB shape: the vocabulary is aggregated once (partial-agg token
    counts, top-k) and is SMALL BY CONSTRUCTION ({VOCAB_SIZE} rows) —
    the per-occurrence membership probe is an explicitly-hinted
    broadcast join, so the corpus-sized side never shuffles for the
    lookup; the only corpus shuffle is the per-doc rollup."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id", F.explode(tokens_array(F.col("text"))).alias("tok")
    ).select("doc_id", F.lower("tok").alias("w"))
    # top-k via orderBy().limit() compiles to TakeOrderedAndProject
    # (partial top-k per partition, k-row driver merge) — NOT a
    # single-partition global-sort window, which would funnel the whole
    # token-frequency table through one task at 100 TB.
    vocab = (
        occ.groupBy("w")
        .agg(F.count("*").alias("f"))
        .orderBy(F.desc("f"), F.asc("w"))
        .limit(VOCAB_SIZE)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    scored = (
        occ.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round(F.col("n_oov") * 100.0 / F.col("n_tokens"), 6).alias("oov_pct"),
    )


# index + increment CTEs, shared by the batch query and the streaming
# stream-static-join twin in streaming/graded.py
_INC_CTES_SQL = f"""old AS (
  SELECT doc_id, md5(text) AS fp FROM documents
  WHERE doc_id % 10 <> {_SNAP_OLD_DROP}),
idx AS (SELECT fp, min(doc_id) AS keeper FROM old GROUP BY fp),
new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = {_SNAP_CHANGED}
                  THEN text || ' v2' ELSE text END) AS fp
  FROM documents WHERE doc_id % 10 = {_SNAP_OLD_DROP}
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, md5(text) AS fp
  FROM documents
  WHERE doc_id % 10 <> {_SNAP_OLD_DROP} AND doc_id % 9 = {_SNAP_REFETCH})"""


def incremental_fp_index(d: DataFrame) -> DataFrame:
    """(fp, keeper): the persisted exact-dedup index of the old
    snapshot — the static side of the incremental probe."""
    return (
        d.filter(F.col("doc_id") % 10 != _SNAP_OLD_DROP)
        .select("doc_id", F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"))
    )


def increment_batch(d: DataFrame) -> DataFrame:
    """(doc_id, fp): the simulated crawl increment — genuinely new
    pages plus re-fetches arriving under fresh synthetic ids. Pure
    narrow column work + union, so the SAME builder runs over a batch
    OR a streaming documents source."""
    return (
        d.filter(F.col("doc_id") % 10 == _SNAP_OLD_DROP)
        .select(
            "doc_id",
            F.md5(
                F.when(
                    F.col("doc_id") % 7 == _SNAP_CHANGED,
                    F.concat("text", F.lit(" v2")),
                ).otherwise(F.col("text"))
            ).alias("fp"),
        )
        .unionAll(
            d.filter(
                (F.col("doc_id") % 10 != _SNAP_OLD_DROP)
                & (F.col("doc_id") % 9 == _SNAP_REFETCH)
            ).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.md5("text").alias("fp"),
            )
        )
    )


@register(
    "pipe_incremental_dedup",
    oracle=f"""
WITH {_INC_CTES_SQL},
probed AS (
  SELECT n.doc_id, i.keeper
  FROM new n LEFT JOIN idx i ON n.fp = i.fp)
SELECT CASE WHEN keeper IS NULL THEN 'novel' ELSE 'known_dup' END AS verdict,
       count(*) AS n_docs,
       CAST(coalesce(min(CASE WHEN keeper IS NOT NULL THEN doc_id END), -1)
            AS BIGINT) AS first_dup_doc
FROM probed GROUP BY 1
""",
)
def pipe_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the arriving-batch half of exact dedup: probe
    ONLY the new crawl increment against the existing corpus's
    fingerprint index and classify each arrival as novel or a known
    duplicate. The simulated increment contains both kinds a real crawl
    delivers: genuinely new pages (the docs absent from the old
    snapshot, same knob as pipe_snapshot_diff) and re-fetches of
    already-indexed pages (every old doc with id ≡ {_SNAP_REFETCH}
    (mod 9), arriving under a fresh synthetic doc_id). This is how dedup actually runs day to
    day at 100 TB: the index (fp → keeper id) is a persisted table;
    each increment is a fraction of the corpus; nothing re-fingerprints
    the historical data.

    100 TB shape: the index side aggregates to (16-byte fp, id) — one
    partial-agg shuffle when first built, incremental after; the probe
    is an equi-join on fp where the NEW side is small (the increment),
    so AQE broadcast-joins the increment against the index scan when it
    fits, else a shuffle join on uniformly-distributed md5 keys (no
    skew by construction). Reported as a 2-row verdict rollup to keep
    the graded schema scalar."""
    d = load_table(spark, sf_dir, "documents")
    idx = incremental_fp_index(d)
    new = increment_batch(d)
    probed = new.join(idx, "fp", "left")
    return probed.groupBy(
        F.when(F.col("keeper").isNull(), "novel").otherwise("known_dup").alias("verdict")
    ).agg(
        F.count("*").alias("n_docs"),
        F.coalesce(
            F.min(F.when(F.col("keeper").isNotNull(), F.col("doc_id"))), F.lit(-1)
        )
        .cast("bigint")
        .alias("first_dup_doc"),
    )


@register(
    "pipe_curriculum_bins",
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         round(CAST(len(list_distinct(list_transform({_TOKS}, x -> lower(x))))
                    AS DOUBLE) / nullif(len({_TOKS}), 0), 6) AS score
  FROM documents),
bounds AS (
  SELECT list_transform(quantile_cont(score,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
           b -> round(b, 6)) AS bs
  FROM scored),
phased AS (
  SELECT s.doc_id, s.score,
         1 + len(list_filter(b.bs, x -> x < s.score)) AS phase
  FROM scored s, bounds b)
SELECT phase,
       count(*) AS n_docs,
       round(min(score), 6) AS min_score,
       round(max(score), 6) AS max_score
FROM phased GROUP BY phase
""",
)
def pipe_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering — bin every document into one of 10 training
    phases by lexical diversity (the cheap difficulty proxy: low
    distinct-token ratio = repetitive/easy text first, high = dense
    text last). A global ntile would need a total order (single-
    partition sort at scale); instead this is the scalable two-pass
    shape: (1) one aggregation computes the 9 interpolated decile
    boundaries, (2) the boundary array (9 doubles) broadcasts back and
    each document's phase is a narrow array-filter comparison — no
    global sort ever, same plan at 100 TB. Boundaries and scores are
    round(6) in BOTH engines before any comparison, so bin assignment
    is deterministic cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    lowered = F.transform(tokens_array(F.col("text")), F.lower)
    scored = d.select(
        "doc_id",
        F.round(
            F.size(F.array_distinct(lowered)).cast("double")
            / F.nullif(F.size(lowered), F.lit(0)),
            6,
        ).alias("score"),
    )
    qs = F.array(*[F.lit(i / 10) for i in range(1, 10)])
    bounds = scored.agg(
        F.transform(F.percentile("score", qs), lambda b: F.round(b, 6)).alias("bs")
    )
    phased = scored.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "score",
        (1 + F.size(F.filter(F.col("bs"), lambda x: x < F.col("score")))).alias(
            "phase"
        ),
    )
    return phased.groupBy("phase").agg(
        F.count("*").alias("n_docs"),
        F.round(F.min("score"), 6).alias("min_score"),
        F.round(F.max("score"), 6).alias("max_score"),
    )


@register(
    "pipe_dataset_card",
    oracle=f"""
WITH base AS (
  SELECT doc_id, source, lang,
         len({_TOKS}) AS n_tok,
         md5(list_aggregate(list_transform({_TOKS}, x -> lower(x)),
             'string_agg', ' ')) AS fp
  FROM documents),
core AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         CAST(min(n_tok) AS BIGINT) AS min_doc_tokens,
         CAST(max(n_tok) AS BIGINT) AS max_doc_tokens,
         round(avg(CAST(n_tok AS DOUBLE)), 6) AS mean_doc_tokens
  FROM base),
dup AS (
  SELECT round((count(*) - count(DISTINCT fp)) * 100.0 / count(*), 6)
           AS exact_dup_pct
  FROM base),
quality AS (
  SELECT round(100.0 * sum(CASE WHEN n_tok BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
                                THEN 1 ELSE 0 END) / count(*), 6) AS len_ok_pct
  FROM base)
SELECT * FROM core, dup, quality
""",
)
def pipe_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card — the one-row statistical summary a corpus
    release publishes (and a pipeline recomputes after every stage to
    catch regressions): document/source/language counts, token budget,
    document-length spread, exact-duplicate percentage (canonical
    fingerprint, same key as dedup_exact), and the share passing the
    length gate. One row out, whole-corpus in.

    100 TB shape: three single-pass aggregations over one scan's
    projection (count-distincts on low-cardinality source/lang, HLL-
    free exact dup count on 16-byte fingerprints) combined by broadcast
    1-row cross joins. Nothing wide ever shuffles; the fingerprint
    distinct is the only corpus-cardinality aggregation and it shuffles
    hashes, not text."""
    d = load_table(spark, sf_dir, "documents")
    return _card_agg(_card_base(d))


def _card_base(d: DataFrame) -> DataFrame:
    """(source, lang, n_tok, fp) projection the card aggregates over."""
    from mapreducecf_spark.queries.dedup import _canonical_fingerprint

    return d.select(
        "source",
        "lang",
        F.size(tokens_array(F.col("text"))).alias("n_tok"),
        _canonical_fingerprint(F.col("text")).alias("fp"),
    )


def _card_agg(base: DataFrame) -> DataFrame:
    """One-row dataset card over a ``_card_base`` projection — shared
    by pipe_dataset_card and the snapshot-diff card comparison."""
    core = base.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.min("n_tok").cast("bigint").alias("min_doc_tokens"),
        F.max("n_tok").cast("bigint").alias("max_doc_tokens"),
        F.round(F.avg(F.col("n_tok").cast("double")), 6).alias("mean_doc_tokens"),
    )
    # try_divide: an EMPTY corpus slice (first snapshot of a diff, a
    # filtered-to-nothing shard) must yield a NULL-percent card row,
    # not an ANSI DIVIDE_BY_ZERO crash of the release pipeline
    dup = base.agg(
        F.round(
            F.try_divide(
                (F.count("*") - F.count_distinct("fp")) * 100.0, F.count("*")
            ),
            6,
        ).alias("exact_dup_pct")
    )
    quality = base.agg(
        F.round(
            F.try_divide(
                100.0
                * F.sum(
                    F.when(
                        F.col("n_tok").between(MIN_TOKENS, MAX_TOKENS), 1
                    ).otherwise(0)
                ),
                F.count("*"),
            ),
            6,
        ).alias("len_ok_pct")
    )
    return core.crossJoin(F.broadcast(dup)).crossJoin(F.broadcast(quality))


_CARD_METRICS = [
    "n_docs",
    "n_sources",
    "n_langs",
    "total_tokens",
    "min_doc_tokens",
    "max_doc_tokens",
    "mean_doc_tokens",
    "exact_dup_pct",
    "len_ok_pct",
]


def _card_sql(prefix: str, rel: str) -> str:
    """Card CTE pair over relation ``rel`` (doc_id, source, lang, text)
    — the SQL twin of ``_card_agg(_card_base(rel))``."""
    return f"""
{prefix}base AS (
  SELECT source, lang, len({_TOKS}) AS n_tok,
         md5(list_aggregate(list_transform({_TOKS}, x -> lower(x)),
             'string_agg', ' ')) AS fp
  FROM {rel}),
{prefix}card AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         CAST(min(n_tok) AS BIGINT) AS min_doc_tokens,
         CAST(max(n_tok) AS BIGINT) AS max_doc_tokens,
         round(avg(CAST(n_tok AS DOUBLE)), 6) AS mean_doc_tokens,
         round((count(*) - count(DISTINCT fp)) * 100.0 / count(*), 6)
           AS exact_dup_pct,
         round(100.0 * sum(CASE WHEN n_tok BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
                                THEN 1 ELSE 0 END) / count(*), 6) AS len_ok_pct
  FROM {prefix}base)"""


def _card_diff_oracle() -> str:
    unions = "\n  UNION ALL\n".join(
        f"  SELECT '{m}' AS metric, CAST(o.{m} AS DOUBLE) AS old_value,"
        f" CAST(n.{m} AS DOUBLE) AS new_value FROM ocard o, ncard n"
        for m in _CARD_METRICS
    )
    return f"""
WITH old AS (
  SELECT doc_id, source, lang, text FROM documents
  WHERE doc_id % 10 <> {_SNAP_OLD_DROP}),
new AS (
  SELECT doc_id, source, lang,
         CASE WHEN doc_id % 7 = {_SNAP_CHANGED}
              THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> {_SNAP_NEW_DROP}),
{_card_sql("o", "old").strip()},
{_card_sql("n", "new").strip()},
m AS (
{unions})
SELECT metric, old_value, new_value,
       round(new_value - old_value, 6) AS delta
FROM m
"""


@register("pipe_card_diff", oracle=_card_diff_oracle)
def pipe_card_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Card-vs-card release telemetry: compute the full dataset card
    for two corpus snapshots (the same simulated old/new pair as
    pipe_snapshot_diff) and emit one row per card metric with old, new
    and delta — the regression sheet a corpus release attaches so a
    reviewer sees "total_tokens +1.2%, exact_dup_pct -0.4pt" instead
    of re-deriving it from 100 TB. Composes the two green blocks:
    ``_card_agg`` (pipe_dataset_card) over each snapshot of
    ``pipe_snapshot_diff``'s CDC simulation.

    100 TB shape: two single-scan card builds (each three partial
    aggregations of a narrow projection), then a 1-row × 1-row
    broadcast cross join unpivoted by ``stack`` — nothing wide ever
    shuffles and the diff itself is constant-size driver-free work."""
    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 10 != _SNAP_OLD_DROP)
    new = d.filter(F.col("doc_id") % 10 != _SNAP_NEW_DROP).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == _SNAP_CHANGED, F.concat("text", F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    co = _card_agg(_card_base(old)).select(
        *[F.col(m).alias(f"o_{m}") for m in _CARD_METRICS]
    )
    cn = _card_agg(_card_base(new)).select(
        *[F.col(m).alias(f"n_{m}") for m in _CARD_METRICS]
    )
    stack = ", ".join(
        f"'{m}', cast(o_{m} as double), cast(n_{m} as double)"
        for m in _CARD_METRICS
    )
    return (
        co.crossJoin(F.broadcast(cn))
        .selectExpr(
            f"stack({len(_CARD_METRICS)}, {stack})"
            " as (metric, old_value, new_value)"
        )
        .withColumn(
            "delta", F.round(F.col("new_value") - F.col("old_value"), 6)
        )
    )


# ---------------------------------------------------------------------
# per-(source, day) incremental card deltas over the CDC feed
# ---------------------------------------------------------------------
#: arrival-day fan-out of the simulated change feed (doc_id mod —
#: deterministic, like every _SNAP_* constant)
_DELTA_DAYS = 7


@register(
    "pipe_card_deltas",
    oracle=f"""
WITH base AS (
  SELECT doc_id, len({_TOKS}) AS old_tok FROM documents
  WHERE doc_id % 10 <> {_SNAP_OLD_DROP}),
ch AS (
  SELECT doc_id, source, day, op, len({_TOKS}) AS new_tok
  FROM (
    SELECT doc_id, source, CAST(doc_id % {_DELTA_DAYS} AS INT) AS day,
           CASE WHEN doc_id % 10 = {_SNAP_NEW_DROP} THEN 'delete'
                WHEN doc_id % 10 = {_SNAP_OLD_DROP} THEN 'insert'
                ELSE 'update' END AS op,
           CASE WHEN doc_id % 7 = {_SNAP_CHANGED}
                THEN text || ' v2' ELSE text END AS text
    FROM documents
    WHERE doc_id % 10 IN ({_SNAP_OLD_DROP}, {_SNAP_NEW_DROP})
       OR doc_id % 7 = {_SNAP_CHANGED}) t)
SELECT c.source, c.day,
       CAST(sum(CASE WHEN op = 'insert' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_inserts,
       CAST(sum(CASE WHEN op = 'update' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_updates,
       CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deletes,
       CAST(sum(CASE WHEN op = 'insert' THEN 1
                     WHEN op = 'delete' THEN -1 ELSE 0 END) AS BIGINT)
         AS doc_delta,
       CAST(sum(CASE op WHEN 'insert' THEN new_tok
                        WHEN 'delete' THEN -b.old_tok
                        ELSE new_tok - b.old_tok END) AS BIGINT)
         AS token_delta
FROM ch c LEFT JOIN base b USING (doc_id)
GROUP BY 1, 2
""",
)
def pipe_card_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, day) INCREMENTAL dataset-card deltas over the CDC
    feed (VERDICT r11/r12 carry) — the release ledger a continuously-
    ingesting corpus maintains instead of recomputing the card from
    scratch: each arriving change (the ``pipe_apply_changes`` feed,
    fanned across {_DELTA_DAYS} deterministic arrival days) contributes
    its insert/update/delete counts and its EXACT additive token delta
    (insert: +new, delete: -old, update: new-old) to that (source,
    day) cell. Summing a source's column over days reconciles with the
    full-card diff — incremental view maintenance for the card's
    additive metrics.

    100 TB shape: the day's change feed equi-joins the base snapshot
    on doc_id for old token counts (the MERGE probe a CDC apply
    already pays — at scale it prunes to the day's partitions), then
    one partial-aggregated groupBy over (source, day). Every metric is
    integer arithmetic end to end — no float enters the result, so
    the hash gate is exact by construction."""
    d = load_table(spark, sf_dir, "documents")
    return card_deltas_agg(
        card_deltas_changes(d), card_deltas_base(d)
    )


def card_deltas_base(d: DataFrame) -> DataFrame:
    """(doc_id, old_tok) of the base snapshot — the MERGE probe side."""
    ntok = F.size(tokens_array(F.col("text")))
    return d.filter(F.col("doc_id") % 10 != _SNAP_OLD_DROP).select(
        "doc_id", ntok.alias("old_tok")
    )


def card_deltas_changes(d: DataFrame) -> DataFrame:
    """The simulated CDC change feed with arrival day — a pure
    projection, so the SAME builder runs over the batch table and the
    ``readStream`` source (the module contract of streaming.windows)."""
    new_text = F.when(
        F.col("doc_id") % 7 == _SNAP_CHANGED, F.concat("text", F.lit(" v2"))
    ).otherwise(F.col("text"))
    return d.filter(
        (F.col("doc_id") % 10).isin(_SNAP_OLD_DROP, _SNAP_NEW_DROP)
        | (F.col("doc_id") % 7 == _SNAP_CHANGED)
    ).select(
        "doc_id",
        "source",
        (F.col("doc_id") % _DELTA_DAYS).cast("int").alias("day"),
        F.when(F.col("doc_id") % 10 == _SNAP_NEW_DROP, "delete")
        .when(F.col("doc_id") % 10 == _SNAP_OLD_DROP, "insert")
        .otherwise("update")
        .alias("op"),
        F.size(tokens_array(new_text)).alias("new_tok"),
    )


def card_deltas_agg(ch: DataFrame, base: DataFrame) -> DataFrame:
    """The (source, day) delta ledger over a change feed ``ch`` joined
    to its ``base`` snapshot — shared by the batch query and the
    streaming twin (stream-static left join, then one aggregation)."""
    j = ch.join(base, "doc_id", "left")
    return j.groupBy("source", "day").agg(
        F.sum(F.when(F.col("op") == "insert", 1).otherwise(0))
        .cast("bigint")
        .alias("n_inserts"),
        F.sum(F.when(F.col("op") == "update", 1).otherwise(0))
        .cast("bigint")
        .alias("n_updates"),
        F.sum(F.when(F.col("op") == "delete", 1).otherwise(0))
        .cast("bigint")
        .alias("n_deletes"),
        F.sum(
            F.when(F.col("op") == "insert", 1)
            .when(F.col("op") == "delete", -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("doc_delta"),
        F.sum(
            F.when(F.col("op") == "insert", F.col("new_tok"))
            .when(F.col("op") == "delete", -F.col("old_tok"))
            .otherwise(F.col("new_tok") - F.col("old_tok"))
        )
        .cast("bigint")
        .alias("token_delta"),
    )


# ---------------------------------------------------------------------
# corpus-level n-gram novelty (the aggregate face of decontamination)
# ---------------------------------------------------------------------
@register(
    "pipe_ngram_novelty",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SPLIT_SQL} AS split,
         substr(md5(unnest(list_distinct(
           [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
            for i in range(1, len(t) - {DECON_K - 2})]))), 1, 16) AS sh_key
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents) toks
  WHERE len(t) >= {DECON_K}),
v AS (SELECT DISTINCT sh_key FROM sh WHERE split = 'val'),
tr AS (SELECT DISTINCT sh_key FROM sh WHERE split = 'train')
SELECT CAST(count(*) AS BIGINT) AS n_val_shingles,
       CAST(count(tr.sh_key) AS BIGINT) AS n_seen_in_train,
       round(100.0 * (count(*) - count(tr.sh_key)) / nullif(count(*), 0), 6)
         AS novelty_pct
FROM v LEFT JOIN tr USING (sh_key)
""",
)
def pipe_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram novelty: what fraction of the held-out
    split's distinct {DECON_K}-token shingles never occur in train —
    the AGGREGATE face of ``pipe_decontaminate`` (which flags
    documents; this measures the leakage rate itself, the number a
    memorization audit reports per release). Low novelty means the
    eval split can be continued from training text verbatim.

    Rides the same memoized k={DECON_K} shingle index (one build for
    both queries, prewarmed); distinct-shingle sets per split are
    hash-keyed 64-bit prefixes, the overlap is one equi-join between
    two distinct-shuffles, and one row comes out. At 100 TB every
    shuffle carries 16-hex keys, never token strings."""
    from mapreducecf_spark.queries.dedup import shingles_df

    sh = shingles_df(spark, sf_dir, k=DECON_K).select(
        _split_col(F.col("doc_id")).alias("split"),
        F.substring(F.md5(F.col("shingle")), 1, 16).alias("sh_key"),
    )
    v = sh.filter(F.col("split") == "val").select("sh_key").distinct()
    tr = (
        sh.filter(F.col("split") == "train")
        .select(F.col("sh_key").alias("t_key"))
        .distinct()
    )
    joined = v.join(tr, v.sh_key == tr.t_key, "left")
    return joined.agg(
        F.count("*").cast("bigint").alias("n_val_shingles"),
        F.count("t_key").cast("bigint").alias("n_seen_in_train"),
        F.round(
            100.0
            * (F.count("*") - F.count("t_key"))
            / F.nullif(F.count("*"), F.lit(0)),
            6,
        ).alias("novelty_pct"),
    )


# ---------------------------------------------------------------------
# linear quality classifier (model scoring as a scan-side map)
# ---------------------------------------------------------------------
def _quality_weight(i: int) -> float:
    """Deterministic md5-derived weight in [-1, 1] — same fixed-seed
    rule as the LSH hyperplanes (similarity._plane_component), so the
    'model' is reproducible in any engine with a string md5."""
    import hashlib

    h = hashlib.md5(f"qw:{i}".encode()).hexdigest()[:8]
    return int(h, 16) / 0xFFFFFFFF * 2.0 - 1.0


#: bias + 4 feature weights of the stand-in quality model. A real
#: pipeline drops in fasttext/logreg weights trained offline; the
#: SERVING shape — broadcast weights, scan-side dot product, integer
#: fixed-point logit — is exactly this.
QUALITY_W = [_quality_weight(i) for i in range(5)]


def _logit_rel_sql(prefix: str, rel: str) -> str:
    """CTE pair ``{prefix}feat`` / ``{prefix}lg`` (doc_id, source, lm)
    — the fixed-point quality logit over relation ``rel`` (doc_id,
    source, text). ONE definition of the model formula, composed by
    the serving oracle (rel = documents) and the per-source drift
    oracle (rel = each CDC snapshot)."""
    from mapreducecf_spark.queries.text import STOPWORDS

    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
{prefix}feat AS (
  SELECT doc_id, source,
         least(len(lt), 512) / 512.0 AS f1,
         round(len(list_distinct(lt)) * 1.0 / len(lt), 6) AS f2,
         round(len(list_filter(lt, x -> list_contains([{{stops}}], x))) * 1.0
               / len(lt), 6) AS f3,
         least(round(len(list_aggregate(lt, 'string_agg', '')) * 1.0
                     / len(lt), 6), 16.0) / 16.0 AS f4
  FROM (SELECT doc_id, source, list_transform({_TOKS}, x -> lower(x)) AS lt
        FROM {rel}) t
  WHERE len(lt) >= 1),
{prefix}lg AS (
  SELECT doc_id, source,
         CAST(floor((((({QUALITY_W[0]!r} + {QUALITY_W[1]!r} * f1)
                       + {QUALITY_W[2]!r} * f2)
                      + {QUALITY_W[3]!r} * f3)
                     + {QUALITY_W[4]!r} * f4) * 1000000.0) AS BIGINT) AS lm
  FROM {prefix}feat)""".replace("{stops}", stops)


def _quality_logreg_sql() -> str:
    # LAZY oracle (registry convention): reads text.STOPWORDS via the
    # shared logit fragment, and an eager read at decoration time hits
    # a partially-initialized text module when an entry point imports
    # a query module directly
    return f"""
WITH {_logit_rel_sql("q", "documents").strip()}
SELECT doc_id, lm AS logit_micro, (lm >= 0) AS keep FROM qlg
"""


@register("pipe_quality_logreg", oracle=_quality_logreg_sql)
def pipe_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring — the linear-classifier serving
    pass every pretraining pipeline runs (fasttext/logreg quality
    gates a la CCNet/DCLM): four cheap lexical features (length
    saturation, lexical diversity, stopword ratio, mean token length)
    dotted with a broadcast weight vector, thresholded at logit 0.

    Scale shape: the features and the dot product are a NARROW
    projection fused into the scan — no shuffle at all, the plan is
    scan → project → (optional) filter, which is why this gate costs
    ~nothing at 100 TB next to the dedup joins. The logit ships as
    INTEGER MICRO-UNITS (left-to-right double fold, then floor) so
    the full value-hash gate applies with no float tolerance; weights
    are md5-derived literals interpolated into both engines' plans."""
    d = load_table(spark, sf_dir, "documents")
    return _logit_df(d).select(
        "doc_id", F.col("lm").alias("logit_micro"), (F.col("lm") >= 0).alias("keep")
    )


def _logit_df(d: DataFrame) -> DataFrame:
    """(doc_id, source, lm) — the fixed-point quality logit over a
    (doc_id, source, text) frame; the Spark twin of
    :func:`_logit_rel_sql`, shared by the serving pass and the
    per-source drift gate."""
    from mapreducecf_spark.queries.text import STOPWORDS

    lt = F.transform(tokens_array(F.col("text")), F.lower)
    base = d.select("doc_id", "source", lt.alias("lt")).filter(F.size("lt") >= 1)
    n = F.size("lt").cast("double")
    f1 = F.least(F.size("lt"), F.lit(512)) / 512.0
    f2 = F.round(F.size(F.array_distinct(F.col("lt"))) / n, 6)
    f3 = F.round(
        F.size(F.filter(F.col("lt"), lambda x: x.isin(*STOPWORDS))) / n, 6
    )
    f4 = F.least(F.round(F.length(F.concat_ws("", F.col("lt"))) / n, 6), F.lit(16.0)) / 16.0
    w = QUALITY_W
    logit = (
        (((F.lit(w[0]) + F.lit(w[1]) * f1) + F.lit(w[2]) * f2) + F.lit(w[3]) * f3)
        + F.lit(w[4]) * f4
    )
    return base.select(
        "doc_id", "source", F.floor(logit * 1000000.0).cast("bigint").alias("lm")
    )


def _quality_drift_sql() -> str:
    return f"""
WITH old_d AS (
  SELECT doc_id, source, text FROM documents
  WHERE doc_id % 10 <> {_SNAP_OLD_DROP}),
new_d AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = {_SNAP_CHANGED}
              THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> {_SNAP_NEW_DROP}),
{_logit_rel_sql("o", "old_d").strip()},
{_logit_rel_sql("n", "new_d").strip()},
bnd AS (SELECT source, quantile_cont(lm, {_PSI_QS_SQL}) AS bs
        FROM olg GROUP BY 1),
oc AS (
  SELECT l.source, len(list_filter(b.bs, x -> l.lm > x)) AS bin, count(*) AS n
  FROM olg l JOIN bnd b USING (source) GROUP BY 1, 2),
nc AS (
  SELECT l.source, len(list_filter(b.bs, x -> l.lm > x)) AS bin, count(*) AS n
  FROM nlg l JOIN bnd b USING (source) GROUP BY 1, 2),
ot AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot_old FROM oc GROUP BY 1),
nt AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot_new FROM nc GROUP BY 1),
j AS (
  SELECT b.source, t.i AS bin,
         coalesce(oc.n, 0) AS n_old, coalesce(nc.n, 0) AS n_new,
         ot.tot_old, coalesce(nt.tot_new, 0) AS tot_new
  FROM bnd b CROSS JOIN range({PSI_BINS}) t(i)
  LEFT JOIN oc ON oc.source = b.source AND oc.bin = t.i
  LEFT JOIN nc ON nc.source = b.source AND nc.bin = t.i
  JOIN ot ON ot.source = b.source
  LEFT JOIN nt ON nt.source = b.source),
terms AS (
  SELECT source, bin, CAST(n_old AS BIGINT) AS n_old,
         CAST(n_new AS BIGINT) AS n_new,
         CAST(floor(
           ((n_old + 1) / CAST(tot_old + {PSI_BINS} AS DOUBLE)
            - (n_new + 1) / CAST(tot_new + {PSI_BINS} AS DOUBLE))
           * ln(((n_old + 1) / CAST(tot_old + {PSI_BINS} AS DOUBLE))
                / ((n_new + 1) / CAST(tot_new + {PSI_BINS} AS DOUBLE)))
           * 1e6) AS BIGINT) AS psi_micro
  FROM j),
tot AS (SELECT source, CAST(sum(psi_micro) AS BIGINT) AS total_psi_micro
        FROM terms GROUP BY 1)
SELECT t.source, t.bin, t.n_old, t.n_new, t.psi_micro, z.total_psi_micro
FROM terms t JOIN tot z USING (source)
"""


@register("pipe_quality_drift", oracle=_quality_drift_sql)
def pipe_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE quality-score drift between the CDC snapshots — the
    release gate that catches one crawl/source's quality distribution
    silently shifting (a scraper change, a spam wave) where the
    corpus-level length PSI (``pipe_drift_psi``) averages it away:
    for every source, the OLD snapshot's quality-logit deciles
    (``pipe_quality_logreg``'s fixed-point model — the SAME
    ``_logit_df`` / ``_logit_rel_sql`` formula, one definition) become
    the per-source baseline grid, both snapshots' logits bin into it,
    and each (source, decile) cell ships its add-one-smoothed PSI
    term in floored integer micro-units plus the source's exact total.

    Scale shape: two scan-fused logit projections (no shuffle beyond
    the per-source aggregations), exact per-source ``percentile`` on
    INTEGER logits (bitwise = quantile_cont), a broadcast of the
    |sources|×{PSI_BINS}-double boundary table into both binning
    passes, and ≤ |sources|×{PSI_BINS} result rows — nothing
    corpus-sized shuffles, same as the length-PSI gate."""
    d = load_table(spark, sf_dir, "documents")
    old_lg = _logit_df(d.filter(F.col("doc_id") % 10 != _SNAP_OLD_DROP))
    new_lg = _logit_df(
        d.filter(F.col("doc_id") % 10 != _SNAP_NEW_DROP).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == _SNAP_CHANGED,
                F.concat("text", F.lit(" v2")),
            ).otherwise(F.col("text")),
        )
    )
    bnd = old_lg.groupBy("source").agg(
        F.percentile("lm", F.array(*[F.lit(q) for q in PSI_QS])).alias("bs")
    )

    def binned(lg: DataFrame) -> DataFrame:
        return (
            lg.join(F.broadcast(bnd), "source")
            .select(
                "source",
                F.size(F.filter("bs", lambda b: F.col("lm") > b)).alias("bin"),
            )
            .groupBy("source", "bin")
            .agg(F.count("*").alias("n"))
        )

    oc = binned(old_lg)
    nc = binned(new_lg)
    bins = spark.range(PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    j = (
        bnd.select("source")
        .crossJoin(bins)
        .join(F.broadcast(oc.withColumnRenamed("n", "n_old")), ["source", "bin"], "left")
        .join(F.broadcast(nc.withColumnRenamed("n", "n_new")), ["source", "bin"], "left")
        .join(
            F.broadcast(
                oc.groupBy("source").agg(F.sum("n").alias("tot_old"))
            ),
            "source",
        )
        .join(
            F.broadcast(
                nc.groupBy("source").agg(F.sum("n").alias("tot_new"))
            ),
            "source",
            "left",
        )
        .select(
            "source",
            "bin",
            F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
            F.col("tot_old").cast("bigint").alias("tot_old"),
            F.coalesce("tot_new", F.lit(0)).cast("bigint").alias("tot_new"),
        )
    )
    pa = (F.col("n_old") + 1) / (F.col("tot_old") + PSI_BINS).cast("double")
    pb = (F.col("n_new") + 1) / (F.col("tot_new") + PSI_BINS).cast("double")
    terms = j.select(
        "source",
        "bin",
        "n_old",
        "n_new",
        F.floor((pa - pb) * F.log(pa / pb) * 1e6).cast("bigint").alias("psi_micro"),
    )
    tot = terms.groupBy("source").agg(
        F.sum("psi_micro").cast("bigint").alias("total_psi_micro")
    )
    return terms.join(F.broadcast(tot), "source")


# ---------------------------------------------------------------------
# CDC apply / MERGE INTO (the write side of the snapshot-diff story)
# ---------------------------------------------------------------------
@register(
    "pipe_apply_changes",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> {_SNAP_OLD_DROP}),
changes AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = {_SNAP_NEW_DROP} THEN 'delete'
              WHEN doc_id % 10 = {_SNAP_OLD_DROP} THEN 'insert'
              ELSE 'update' END AS op,
         CASE WHEN doc_id % 7 = {_SNAP_CHANGED} THEN text || ' v2'
              ELSE text END AS new_text
  FROM documents
  WHERE doc_id % 10 IN ({_SNAP_OLD_DROP}, {_SNAP_NEW_DROP})
     OR doc_id % 7 = {_SNAP_CHANGED})
SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
       coalesce(c.op, 'keep') AS op,
       md5(CASE WHEN c.op IN ('insert', 'update') THEN c.new_text
                ELSE b.text END) AS fp
FROM base b FULL OUTER JOIN changes c ON c.doc_id = b.doc_id
WHERE coalesce(c.op, 'keep') <> 'delete'
""",
)
def pipe_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO, Spark-first — the WRITE side of the CDC story whose
    read side is ``pipe_snapshot_diff``: a deterministic change feed
    (inserts = docs absent from the old snapshot, deletes, updates
    with rewritten text — the same modular rules the diff query uses,
    so the two queries narrate one release) is applied to the base
    snapshot with the standard lakehouse MERGE expansion: one FULL
    OUTER equi-join on the key, then a row-level CASE for
    matched-update / matched-delete / not-matched-insert. That is
    exactly the shuffle plan Delta/Iceberg MERGE compiles to — key
    equi-join plus projection — with no table format required; swap
    the final select for a ``MERGE INTO`` statement on a lakehouse
    table and the plan is unchanged.

    Output is the post-merge state (survivors only) with the applied
    op and an md5 fingerprint of the final text — the fingerprint
    makes any mis-applied row (wrong branch of the CASE, lost update)
    flip the hash gate. Scale shape: one hash-partitioned join on the
    primary key; the change feed is typically tiny vs the snapshot and
    broadcast-eligible — AQE picks that up at runtime."""
    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 10 != _SNAP_OLD_DROP).select("doc_id", "text")
    is_del = F.col("doc_id") % 10 == _SNAP_NEW_DROP
    is_ins = F.col("doc_id") % 10 == _SNAP_OLD_DROP
    changes = (
        d.filter(is_del | is_ins | (F.col("doc_id") % 7 == _SNAP_CHANGED))
        .select(
            F.col("doc_id").alias("c_id"),
            F.when(is_del, "delete").when(is_ins, "insert").otherwise("update").alias("op"),
            F.when(
                F.col("doc_id") % 7 == _SNAP_CHANGED, F.concat("text", F.lit(" v2"))
            ).otherwise(F.col("text")).alias("new_text"),
        )
    )
    merged = base.join(changes, base.doc_id == changes.c_id, "full_outer")
    return (
        merged.filter(F.coalesce(F.col("op"), F.lit("keep")) != "delete")
        .select(
            F.coalesce(base.doc_id, F.col("c_id")).alias("doc_id"),
            F.coalesce(F.col("op"), F.lit("keep")).alias("op"),
            F.md5(
                F.when(F.col("op").isin("insert", "update"), F.col("new_text"))
                .otherwise(base.text)
            ).alias("fp"),
        )
    )


# ---------------------------------------------------------------------
# distribution drift between corpus snapshots (PSI)
# ---------------------------------------------------------------------
#: decile grid for the PSI bins — boundaries come from the OLD snapshot
PSI_QS = tuple(i / 10 for i in range(1, 10))
PSI_BINS = len(PSI_QS) + 1
_PSI_QS_SQL = "[" + ", ".join(str(q) for q in PSI_QS) + "]"


@register(
    "pipe_drift_psi",
    oracle=f"""
WITH old_s AS (
  SELECT length(text) AS len FROM documents
  WHERE doc_id % 10 <> {_SNAP_OLD_DROP}),
new_s AS (
  SELECT length(CASE WHEN doc_id % 7 = {_SNAP_CHANGED}
                     THEN text || ' v2' ELSE text END) AS len
  FROM documents WHERE doc_id % 10 <> {_SNAP_NEW_DROP}),
bnd AS (SELECT quantile_cont(len, {_PSI_QS_SQL}) AS bs FROM old_s),
oc AS (
  SELECT len(list_filter(b.bs, x -> s.len > x)) AS bin, count(*) AS n
  FROM old_s s, bnd b GROUP BY 1),
nc AS (
  SELECT len(list_filter(b.bs, x -> s.len > x)) AS bin, count(*) AS n
  FROM new_s s, bnd b GROUP BY 1),
j AS (
  SELECT t.i AS bin,
         coalesce(oc.n, 0) AS n_old, coalesce(nc.n, 0) AS n_new,
         (SELECT sum(n) FROM oc) AS tot_old,
         (SELECT sum(n) FROM nc) AS tot_new
  FROM range({PSI_BINS}) t(i)
  LEFT JOIN oc ON oc.bin = t.i LEFT JOIN nc ON nc.bin = t.i),
terms AS (
  SELECT bin, n_old, n_new,
         CAST(floor(
           ((n_old + 1) / CAST(tot_old + {PSI_BINS} AS DOUBLE)
            - (n_new + 1) / CAST(tot_new + {PSI_BINS} AS DOUBLE))
           * ln(((n_old + 1) / CAST(tot_old + {PSI_BINS} AS DOUBLE))
                / ((n_new + 1) / CAST(tot_new + {PSI_BINS} AS DOUBLE)))
           * 1e6) AS BIGINT) AS psi_micro
  FROM j)
SELECT bin, n_old, n_new, psi_micro,
       CAST((SELECT sum(psi_micro) FROM terms) AS BIGINT) AS total_psi_micro
FROM terms
""",
)
def pipe_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the two corpus snapshots of
    ``pipe_snapshot_diff``, over the document-length distribution — the
    release gate that catches a scraper or filter change silently
    shifting the corpus before it reaches training: per-decile counts
    of both snapshots against the OLD snapshot's decile boundaries,
    each bin's add-one-smoothed PSI term in integer micro-units, and
    the exact integer total (rule of thumb: total > 0.2e6 micro = act).

    Shape: boundaries are ONE row (exact ``percentile`` over the old
    lengths — bitwise-equal to DuckDB's ``quantile_cont``, see
    ts_anomaly_mad) cross-joined BROADCAST into both scans, so binning
    is scan-fused arithmetic (``size(filter(bs, x > b))`` — no explode)
    and each snapshot reduces to ≤ {PSI_BINS} partial-agg rows. The
    PSI term is floored to BIGINT micro-units per bin (terms are
    provably ≥ 0, and ``floor`` sidesteps engine round()-semantics)
    so the cross-bin total is EXACT integer math — no float-sum
    ordering anywhere. At 100 TB: two scans, two tiny shuffles,
    nothing driver-side."""
    d = load_table(spark, sf_dir, "documents")
    old_s = d.filter(F.col("doc_id") % 10 != _SNAP_OLD_DROP).select(
        F.length("text").alias("len")
    )
    new_s = d.filter(F.col("doc_id") % 10 != _SNAP_NEW_DROP).select(
        F.length(
            F.when(
                F.col("doc_id") % 7 == _SNAP_CHANGED,
                F.concat("text", F.lit(" v2")),
            ).otherwise(F.col("text"))
        ).alias("len")
    )
    bnd = old_s.agg(
        F.percentile("len", F.array(*[F.lit(q) for q in PSI_QS])).alias("bs")
    )

    def binned(s: DataFrame) -> DataFrame:
        return (
            s.crossJoin(F.broadcast(bnd))
            .select(
                F.size(
                    F.filter("bs", lambda b: F.col("len") > b)
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").alias("n"))
        )

    oc, nc = binned(old_s), binned(new_s)
    bins = spark.range(PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    j = (
        bins.join(F.broadcast(oc.withColumnRenamed("n", "n_old")), "bin", "left")
        .join(F.broadcast(nc.withColumnRenamed("n", "n_new")), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        )
        .crossJoin(
            F.broadcast(
                oc.agg(F.sum("n").alias("tot_old")).crossJoin(
                    nc.agg(F.sum("n").alias("tot_new"))
                )
            )
        )
    )
    pa = (F.col("n_old") + 1) / (F.col("tot_old") + PSI_BINS).cast("double")
    pb = (F.col("n_new") + 1) / (F.col("tot_new") + PSI_BINS).cast("double")
    terms = j.select(
        "bin",
        "n_old",
        "n_new",
        F.floor((pa - pb) * F.log(pa / pb) * 1e6).cast("bigint").alias("psi_micro"),
    )
    return terms.crossJoin(
        F.broadcast(terms.agg(F.sum("psi_micro").alias("total_psi_micro")))
    )


# ---------------------------------------------------------------------
# differential-privacy release mechanism (deterministic replay demo)
# ---------------------------------------------------------------------
#: Laplace scale b = sensitivity/epsilon: count queries have
#: sensitivity 1; epsilon 1.0 => b = 1.0
DP_EPSILON = 1.0


@register(
    "pipe_dp_counts",
    oracle=f"""
WITH cells AS (
  SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY 1, 2),
noised AS (
  SELECT lang, source, n_docs,
         ('0x' || substr(md5('dp:' || lang || ':' || source), 1, 12))::BIGINT
           / 281474976710656.0 AS u
  FROM cells)
SELECT lang, source, n_docs,
       CAST(floor((CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)
                  * (1.0 / {DP_EPSILON})
                  * ln(1.0 - 2.0 * abs(u - 0.5)) * -1.0 * 1e6) AS BIGINT)
         AS noise_micro,
       CAST(n_docs * 1000000
            + CAST(floor((CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)
                         * (1.0 / {DP_EPSILON})
                         * ln(1.0 - 2.0 * abs(u - 0.5)) * -1.0 * 1e6) AS BIGINT)
            AS BIGINT) AS released_micro
FROM noised
""",
)
def pipe_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noised release of the per-(lang, source) cell
    counts — the privacy-preserving publication shape for dataset
    cards and usage reports: count + Laplace(1/ε) noise, ε =
    {DP_EPSILON}, sensitivity 1. The noise is sampled by INVERSE CDF
    from an md5-derived uniform keyed on the cell — a deterministic
    keystream standing in for the secure RNG a real deployment uses
    (the repo's stub discipline, cf. the multimodal fake decoders: the
    MECHANISM — sensitivity, scale, inverse-CDF transform, integer
    publication units — is real and oracle-replayable; the entropy
    source is swapped). The exact count column is retained HERE so the
    hash gate can check both; a real release drops it.

    Shape: one partial-agg groupBy to |langs|×|sources| cells, then
    scan-fused per-cell arithmetic (md5 → uniform → Laplace via ln).
    Noise in integer micro-units via floor — cross-engine bitwise,
    since both engines' libm ``ln`` agrees (established by the
    unigram-LM and PSI oracles)."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("n_docs"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dp:"), "lang", F.lit(":"), "source")),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(281474976710656.0)
    )
    lap = (
        F.when(u < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.lit(1.0 / DP_EPSILON)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
        * F.lit(-1.0)
    )
    noise = F.floor(lap * F.lit(1e6)).cast("bigint")
    return cells.select(
        "lang",
        "source",
        "n_docs",
        noise.alias("noise_micro"),
        (F.col("n_docs") * 1000000 + noise).cast("bigint").alias(
            "released_micro"
        ),
    )


# ---------------------------------------------------------------------
# incremental aggregate maintenance over the CDC delta
# ---------------------------------------------------------------------
@register(
    "pipe_incremental_agg",
    oracle=f"""
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(length(CASE WHEN doc_id % 7 = {_SNAP_CHANGED}
                            THEN text || ' v2' ELSE text END)) AS BIGINT)
         AS total_chars
FROM documents WHERE doc_id % 10 <> {_SNAP_NEW_DROP}
GROUP BY 1, 2
""",
)
def pipe_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the per-(lang, source) rollup of
    the NEW corpus snapshot computed INCREMENTALLY — old-snapshot
    aggregate plus signed delta rows from the CDC classes (insert:
    +1/+len, delete: −1/−len, update: ±len only) — never rescanning
    the old corpus. The oracle is the full recompute over the new
    snapshot, so the gate proves the maintenance algebra is exact:
    this is THE 100 TB pattern for daily stats over an append-mostly
    lake (the full rescan is O(corpus); the merge is O(aggregate) +
    O(delta)). Cells whose count reaches zero are retired with a
    HAVING, matching the recompute's absent rows.

    Count and sum are self-maintainable aggregates (signed deltas
    suffice); min/max are not — a real deployment keeps them eventually
    consistent or recomputes affected groups, which is why this row
    maintains exactly the self-maintainable pair."""
    d = load_table(spark, sf_dir, "documents")
    new_text = F.when(
        F.col("doc_id") % 7 == _SNAP_CHANGED, F.concat("text", F.lit(" v2"))
    ).otherwise(F.col("text"))
    base = (
        d.filter(F.col("doc_id") % 10 != _SNAP_OLD_DROP)
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("dn"),
            F.sum(F.length("text")).cast("bigint").alias("dchars"),
        )
    )
    inserts = d.filter(F.col("doc_id") % 10 == _SNAP_OLD_DROP).select(
        "lang",
        "source",
        F.lit(1).cast("bigint").alias("dn"),
        F.length(new_text).cast("bigint").alias("dchars"),
    )
    deletes = d.filter(F.col("doc_id") % 10 == _SNAP_NEW_DROP).select(
        "lang",
        "source",
        F.lit(-1).cast("bigint").alias("dn"),
        (-F.length("text")).cast("bigint").alias("dchars"),
    )
    updates = d.filter(
        (F.col("doc_id") % 10 != _SNAP_OLD_DROP)
        & (F.col("doc_id") % 10 != _SNAP_NEW_DROP)
        & (F.col("doc_id") % 7 == _SNAP_CHANGED)
    ).select(
        "lang",
        "source",
        F.lit(0).cast("bigint").alias("dn"),
        (F.length(new_text) - F.length("text")).cast("bigint").alias("dchars"),
    )
    merged = (
        base.unionByName(inserts)
        .unionByName(deletes)
        .unionByName(updates)
        .groupBy("lang", "source")
        .agg(
            F.sum("dn").cast("bigint").alias("n_docs"),
            F.sum("dchars").cast("bigint").alias("total_chars"),
        )
        .filter(F.col("n_docs") > 0)
    )
    return merged


# ---------------------------------------------------------------------
# deterministic mixture interleave (stride scheduling)
# ---------------------------------------------------------------------
MIX_TAKE = 200  # length of the materialized training-order prefix


@register(
    "pipe_mix_interleave",
    oracle=f"""
WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM counts),
w AS (SELECT source, sqrt(n / CAST(nn AS DOUBLE)) AS wt FROM counts, tot),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
           AS rk
  FROM documents),
v AS (
  SELECT r.doc_id, r.source, round((rk + 1) / w.wt, 6) AS vt
  FROM r JOIN w USING (source))
SELECT row_number() OVER (ORDER BY vt, source, doc_id) AS position,
       doc_id, source,
       CAST(floor(vt * 1e6) AS BIGINT) AS vtime_micro
FROM v ORDER BY vt, source, doc_id LIMIT {MIX_TAKE}
""",
)
def pipe_mix_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order interleave by STRIDE SCHEDULING
    under temperature-scaled domain weights (w ∝ share^0.5, the
    XLM-R/multilingual up-sampling rule): each document's virtual time
    is (within-domain md5 rank + 1)/w, and the global order by virtual
    time yields a stream whose every prefix tracks the target mixture
    — the property shuffled concatenation only has in expectation.
    Materialized here: the first {MIX_TAKE} positions.

    Shape: weights are a tiny agg; within-domain ranks are a window
    partitioned by source; the prefix is orderBy().limit() —
    TakeOrderedAndProject, a per-partition partial top-k, NEVER a
    global sort (the final position row_number runs over the
    {MIX_TAKE}-row result only — bounded by construction). Virtual
    times are rounded before ordering and floored to integer micro
    for the gate, with (source, doc_id) tiebreaks so the order is
    total in both engines."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").cast("bigint").alias("nn"))
    w = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        F.sqrt(F.col("n") / F.col("nn").cast("double")).alias("wt"),
    )
    wr = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = d.select(
        "doc_id", "source", (F.row_number().over(wr) - 1).alias("rk")
    )
    v = r.join(F.broadcast(w), "source").select(
        "doc_id",
        "source",
        F.round((F.col("rk") + 1) / F.col("wt"), 6).alias("vt"),
    )
    top = v.orderBy("vt", "source", "doc_id").limit(MIX_TAKE)
    wpos = Window.orderBy("vt", "source", "doc_id")
    return top.select(
        F.row_number().over(wpos).alias("position"),
        "doc_id",
        "source",
        F.floor(F.col("vt") * 1e6).cast("bigint").alias("vtime_micro"),
    )


# ---------------------------------------------------------------------
# length-grouped batching (padding-waste minimization)
# ---------------------------------------------------------------------
BATCH_B = 16  # documents per training batch


@register(
    "pipe_length_batching",
    oracle=f"""
WITH lens AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_toks FROM documents),
strat AS (
  SELECT 'length_sorted' AS strategy, doc_id, n_toks,
         CAST((row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1)
              // {BATCH_B} AS BIGINT) AS batch_id
  FROM lens
  UNION ALL
  SELECT 'shuffled' AS strategy, doc_id, n_toks,
         CAST((row_number() OVER (
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
              // {BATCH_B} AS BIGINT) AS batch_id
  FROM lens),
batches AS (
  SELECT strategy, batch_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(max(n_toks) AS BIGINT) AS max_len,
         CAST(sum(n_toks) AS BIGINT) AS sum_len
  FROM strat GROUP BY 1, 2)
SELECT strategy,
       CAST(count(*) AS BIGINT) AS n_batches,
       CAST(sum(n_docs * max_len) AS BIGINT) AS padded_tokens,
       CAST(sum(n_docs * max_len - sum_len) AS BIGINT) AS padding_waste,
       CAST(floor(sum(n_docs * max_len - sum_len) * 1000000.0
                  / sum(n_docs * max_len)) AS BIGINT) AS waste_ppm
FROM batches GROUP BY 1
""",
)
def pipe_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching audit — the training-efficiency knob
    next to sequence packing: batches of {BATCH_B} documents padded to
    their longest member waste ``Σ(max − len)`` tokens, and sorting by
    length before batching collapses that waste versus shuffled
    batching. Both strategies are materialized and measured side by
    side (padded tokens, absolute waste, waste ppm) — the number a
    team looks at before turning on length-grouped sampling.

    Shape: token lengths are one narrow scan; each strategy needs ONE
    global total order — built with the two-phase range-partitioned
    rank (``functions.rank.with_global_row_number``), never a
    single-task window; then two tiny groupBys. The oracle keeps the
    plain ``row_number() OVER (ORDER BY ...)`` — same order, different
    plan."""
    from mapreducecf_spark.functions.rank import with_global_row_number
    from mapreducecf_spark.operators.wordcount import tokens_array

    d = load_table(spark, sf_dir, "documents")
    lens = d.select(
        "doc_id", F.size(tokens_array(F.col("text"))).cast("bigint").alias("n_toks")
    )

    def strat(name: str, order) -> DataFrame:
        ranked = with_global_row_number(lens, order, out_col="rn")
        return ranked.select(
            F.lit(name).alias("strategy"),
            "doc_id",
            "n_toks",
            ((F.col("rn") - 1) / BATCH_B).cast("bigint").alias("batch_id"),
        )

    s1 = strat("length_sorted", [F.desc("n_toks"), F.asc("doc_id")])
    s2 = strat(
        "shuffled",
        [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")],
    )
    batches = (
        s1.unionByName(s2)
        .groupBy("strategy", "batch_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max("n_toks").cast("bigint").alias("max_len"),
            F.sum("n_toks").cast("bigint").alias("sum_len"),
        )
    )
    padded = F.col("n_docs") * F.col("max_len")
    return batches.groupBy("strategy").agg(
        F.count("*").cast("bigint").alias("n_batches"),
        F.sum(padded).cast("bigint").alias("padded_tokens"),
        F.sum(padded - F.col("sum_len")).cast("bigint").alias("padding_waste"),
        F.floor(
            F.sum(padded - F.col("sum_len")) * 1000000.0 / F.sum(padded)
        )
        .cast("bigint")
        .alias("waste_ppm"),
    )


# ---------------------------------------------------------------------
# shard integrity manifest
# ---------------------------------------------------------------------
@register(
    "pipe_shard_manifest",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 4))
              AS INTEGER) % {SHUFFLE_SHARDS} AS shard,
         CAST(row_number() OVER (
           PARTITION BY CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 4))
                             AS INTEGER) % {SHUFFLE_SHARDS}
           ORDER BY md5('ord:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
           AS position
  FROM documents)
SELECT s.shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(d.text)) AS BIGINT) AS total_chars,
       CAST(sum(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.text), 1, 12))
                     AS BIGINT)) AS BIGINT) AS content_sum,
       CAST(sum(CAST(('0x' || substr(md5(CAST(s.shard AS VARCHAR) || ':' ||
                                     CAST(s.position AS VARCHAR) || ':' ||
                                     CAST(s.doc_id AS VARCHAR)), 1, 12))
                     AS BIGINT)) AS BIGINT) AS layout_sum
FROM sh s JOIN documents d USING (doc_id)
GROUP BY s.shard
""",
)
def pipe_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard INTEGRITY MANIFEST over the deterministic training
    shards — the artifact a training job validates before reading
    data, and the cross-rerun/cross-engine diff that catches silent
    corruption: per shard, the doc count, total characters, an
    order-independent MEMBERSHIP checksum (sum of 48-bit md5 prefixes
    of ``doc_id:text`` — any changed/missing/extra document moves it)
    and a PLACEMENT checksum (sum over ``shard:position:doc_id`` —
    any reordering or misplacement moves it even when membership is
    intact). Integer sums of bounded 48-bit terms: exact, shuffle- and
    engine-order-independent, no overflow below ~2^15 docs per shard
    times 2^48.

    Composes the registered shard layout (``pipe_shuffle_shards``)
    with one join back to the text and one partial-aggregated groupBy
    — at 100 TB this manifest is computed in the same pass that writes
    each shard and re-verified on read."""
    shards = pipe_shuffle_shards(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    j = shards.join(d, "doc_id")
    member = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    layout = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("shard").cast("string"),
                    F.lit(":"),
                    F.col("position").cast("string"),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    return j.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.sum(member).cast("bigint").alias("content_sum"),
        F.sum(layout).cast("bigint").alias("layout_sum"),
    )


# ---------------------------------------------------------------------
# split-skew KS test
# ---------------------------------------------------------------------
@register(
    "pipe_split_ks",
    oracle=f"""
WITH s AS (
  SELECT n_chars AS v,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                   AS INTEGER) % 100 < {TRAIN_PCT} THEN 1 ELSE 0 END AS tr
  FROM documents),
tot AS (SELECT CAST(sum(tr) AS BIGINT) AS nt,
               CAST(sum(1 - tr) AS BIGINT) AS nv FROM s),
pc AS (SELECT v, CAST(sum(tr) AS BIGINT) AS ct,
              CAST(sum(1 - tr) AS BIGINT) AS cv
       FROM s GROUP BY v),
ecdf AS (
  SELECT v,
         sum(ct) OVER (ORDER BY v) AS cum_t,
         sum(cv) OVER (ORDER BY v) AS cum_v
  FROM pc),
d AS (
  SELECT CAST(max(abs(cum_t * nv - cum_v * nt)) AS BIGINT) AS dnum
  FROM ecdf, tot)
SELECT nt AS n_train, nv AS n_val,
       dnum AS ks_num,
       round(CAST(dnum AS DOUBLE) / (nt * nv), 6) AS ks_d
FROM d, tot
""",
)
def pipe_split_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV distance between the train and
    val splits' document-length distributions — the split-skew
    telemetry a pipeline checks before trusting val metrics (a
    deterministic hash split SHOULD be distribution-neutral; a large
    D here means the split correlates with length and every val
    number is biased). Same md5 mod-100 split as
    ``text_train_val_split``.

    EXACT integer statistic: D = max_v |F_t(v) − F_v(v)| is computed
    as max |cum_t·n_v − cum_v·n_t| over the merged value grid — the
    cross-multiplied numerator is a bigint (no float ECDFs to
    accumulate), and the single final division is rounded. One
    groupBy on the value grid + one cumulative window over
    |distinct lengths| rows (value-domain-bounded, not corpus-bounded)
    + a 2-scalar broadcast. At 100 TB the grid is a histogram the
    size of the length domain."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
            "int"
        )
        % 100
    )
    s = d.select(
        F.col("n_chars").alias("v"),
        F.when(bucket < TRAIN_PCT, 1).otherwise(0).alias("tr"),
    )
    tot = s.agg(
        F.sum("tr").cast("bigint").alias("nt"),
        F.sum(1 - F.col("tr")).cast("bigint").alias("nv"),
    )
    pc = s.groupBy("v").agg(
        F.sum("tr").cast("bigint").alias("ct"),
        F.sum(1 - F.col("tr")).cast("bigint").alias("cv"),
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    ecdf = pc.select(
        "v", F.sum("ct").over(w).alias("cum_t"), F.sum("cv").over(w).alias("cum_v")
    )
    return (
        ecdf.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("cum_t") * F.col("nv") - F.col("cum_v") * F.col("nt"))
            ).alias("dnum"),
            F.first("nt").alias("n_train"),
            F.first("nv").alias("n_val"),
        )
        .select(
            "n_train",
            "n_val",
            F.col("dnum").alias("ks_num"),
            F.round(
                F.col("dnum").cast("double") / (F.col("n_train") * F.col("n_val")), 6
            ).alias("ks_d"),
        )
    )


# ---------------------------------------------------------------------
# fixed token-budget apportionment (Hamilton largest remainder)
# ---------------------------------------------------------------------
TOKEN_BUDGET = 1_000_000  # tokens to apportion across sources per epoch


@register(
    "pipe_token_apportion",
    oracle=f"""
WITH per_source AS (
  SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
quota AS (
  SELECT source, n_tokens,
         ({TOKEN_BUDGET} * n_tokens) // sum(n_tokens) OVER () AS base_alloc,
         ({TOKEN_BUDGET} * n_tokens) % sum(n_tokens) OVER () AS rem
  FROM per_source),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY rem DESC, source) AS rem_rank,
         {TOKEN_BUDGET} - sum(base_alloc) OVER () AS leftover
  FROM quota)
SELECT source, n_tokens,
       CAST(base_alloc AS BIGINT) AS base_alloc,
       CAST(rem AS BIGINT) AS rem,
       CAST(CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END AS INT) AS extra,
       CAST(base_alloc + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked
""",
)
def pipe_token_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAMILTON LARGEST-REMAINDER apportionment of a fixed
    {TOKEN_BUDGET}-token epoch budget across sources, proportional to
    each source's corpus token mass — the integer allocator that turns
    mixture weights into exact per-source quotas for a sampling run:
    base = floor(B·n_s/T) in exact bigint arithmetic (B·n_s stays far
    under 2^63 at any SF), the B − Σbase leftover tokens go to the
    largest remainders (B·n_s mod T, exact; source-name tiebreak), so
    Σ alloc == B BY CONSTRUCTION — no float shares that drift a token
    when a 100 TB run multiplies them back out. The deterministic
    integer output is what a shard scheduler can re-derive bit-for-bit
    on every worker without coordination.

    Scale shape: one partial-aggregated token-count groupBy over the
    corpus scan (the pipe_mix_weights pass), then all apportionment
    arithmetic runs on ONE ROW PER SOURCE — the unpartitioned windows
    are dozens-of-rows driver-sized afterthoughts, the established
    convention of this family."""
    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select("source", F.size(tokens_array(F.col("text"))).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )
    return apportion_counts(per)


def apportion_counts(per: DataFrame) -> DataFrame:
    """Hamilton largest-remainder allocation of ``TOKEN_BUDGET`` over a
    ``(source, n_tokens)`` mass table — the ONE definition of the
    apportionment arithmetic, consumed by both ``pipe_token_apportion``
    and its streaming twin ``stream_token_apportion`` (ADVICE r15: two
    verbatim copies kept the aliased oracle's byte-equality guarantee
    on manual sync). All arithmetic runs on one row per source."""
    w = Window.partitionBy()
    # `div`, not `/`: Spark's slash is a double true-division — exact
    # integral only up to 2^53, while B*n_tokens is a real bigint
    quota = per.withColumn("bn", F.lit(TOKEN_BUDGET) * F.col("n_tokens")).select(
        "source",
        "n_tokens",
        F.expr("bn div (sum(n_tokens) OVER ())").alias("base_alloc"),
        F.expr("bn % (sum(n_tokens) OVER ())").alias("rem"),
    )
    ranked = quota.select(
        "source",
        "n_tokens",
        "base_alloc",
        "rem",
        F.row_number()
        .over(Window.partitionBy().orderBy(F.desc("rem"), F.asc("source")))
        .alias("rem_rank"),
        (F.lit(TOKEN_BUDGET) - F.sum("base_alloc").over(w)).alias("leftover"),
    )
    extra = F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
    return ranked.select(
        "source",
        "n_tokens",
        F.col("base_alloc").cast("bigint").alias("base_alloc"),
        F.col("rem").cast("bigint").alias("rem"),
        extra.cast("int").alias("extra"),
        (F.col("base_alloc") + extra).cast("bigint").alias("alloc"),
    )


# ---------------------------------------------------------------------
# temperature-flattened source mixing (r15 continuation)
# ---------------------------------------------------------------------
#: mixing temperatures: τ=1 is proportional sampling, higher τ flattens
#: toward uniform (the multilingual-LM upsampling rule)
MIX_TAUS = (1, 2, 4)


@register(
    "pipe_mix_temperature",
    oracle=f"""
WITH per_source AS (
  SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
weighted AS (
  SELECT t.tau, p.source, p.n_tokens,
         CASE t.tau
           WHEN 1 THEN p.n_tokens
           WHEN 2 THEN CAST(floor(sqrt(CAST(p.n_tokens AS DOUBLE))) AS BIGINT)
           ELSE CAST(floor(sqrt(floor(sqrt(CAST(p.n_tokens AS DOUBLE)))))
                     AS BIGINT)
         END AS wgt
  FROM per_source p, (VALUES (1), (2), (4)) t(tau)),
quota AS (
  SELECT tau, source, n_tokens, wgt,
         ({TOKEN_BUDGET} * wgt) // sum(wgt) OVER (PARTITION BY tau) AS base_alloc,
         ({TOKEN_BUDGET} * wgt) % sum(wgt) OVER (PARTITION BY tau) AS rem
  FROM weighted),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY tau ORDER BY rem DESC, source)
           AS rem_rank,
         {TOKEN_BUDGET} - sum(base_alloc) OVER (PARTITION BY tau) AS leftover
  FROM quota)
SELECT CAST(tau AS INT) AS tau, source, n_tokens,
       CAST(wgt AS BIGINT) AS wgt,
       CAST(base_alloc + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc,
       CAST((base_alloc + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END)
            * 1000000 // {TOKEN_BUDGET} AS BIGINT) AS alloc_ppm
FROM ranked
""",
)
def pipe_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-FLATTENED source mixing — the multilingual/LLaMA
    upsampling rule p_s(τ) ∝ mass_s^(1/τ) made EXACT-INTEGER for
    τ ∈ {MIX_TAUS}: τ=1 is proportional sampling, τ=2 takes
    ⌊√n_tokens⌋, τ=4 takes ⌊√⌊√n_tokens⌋⌋ — integer-floor sqrt chains
    (IEEE sqrt is correctly rounded, so both engines floor the SAME
    double), then the fixed {TOKEN_BUDGET}-token budget is apportioned
    per τ by the Hamilton largest-remainder recipe
    (``pipe_token_apportion``'s exact bigint div/mod arithmetic), so
    Σ alloc == budget per τ BY CONSTRUCTION. Reading across τ rows
    shows exactly how many tokens flattening moves from the head
    sources to the tail — the table a data-mixing review actually
    argues over.

    Scale shape: one partial-aggregated token-count pass over the
    corpus, then every weight/quota/rank computation runs on sources ×
    {len(MIX_TAUS)} rows — the per-τ windows are dozens-of-rows
    driver-sized afterthoughts (the family convention)."""
    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select("source", F.size(tokens_array(F.col("text"))).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )
    sqrt1 = F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("bigint")
    sqrt2 = F.floor(F.sqrt(F.floor(F.sqrt(F.col("n_tokens").cast("double"))))).cast(
        "bigint"
    )
    taus = F.explode(
        F.array(*[F.lit(t) for t in MIX_TAUS])
    ).alias("tau")
    weighted = per.select("source", "n_tokens", taus).select(
        "tau",
        "source",
        "n_tokens",
        F.when(F.col("tau") == 1, F.col("n_tokens"))
        .when(F.col("tau") == 2, sqrt1)
        .otherwise(sqrt2)
        .cast("bigint")
        .alias("wgt"),
    )
    wt = Window.partitionBy("tau")
    quota = weighted.withColumn("bn", F.lit(TOKEN_BUDGET) * F.col("wgt")).select(
        "tau",
        "source",
        "n_tokens",
        "wgt",
        F.expr("bn div (sum(wgt) OVER (PARTITION BY tau))").alias("base_alloc"),
        F.expr("bn % (sum(wgt) OVER (PARTITION BY tau))").alias("rem"),
    )
    ranked = quota.select(
        "tau",
        "source",
        "n_tokens",
        "wgt",
        "base_alloc",
        "rem",
        F.row_number()
        .over(Window.partitionBy("tau").orderBy(F.desc("rem"), F.asc("source")))
        .alias("rem_rank"),
        (F.lit(TOKEN_BUDGET) - F.sum("base_alloc").over(wt)).alias("leftover"),
    )
    extra = F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
    alloc = (F.col("base_alloc") + extra).cast("bigint")
    return ranked.select(
        F.col("tau").cast("int").alias("tau"),
        "source",
        "n_tokens",
        F.col("wgt").cast("bigint").alias("wgt"),
        alloc.alias("alloc"),
        F.expr(
            f"CAST((base_alloc + (CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END))"
            f" * 1000000 div {TOKEN_BUDGET} AS BIGINT)"
        ).alias("alloc_ppm"),
    )


# ---------------------------------------------------------------------
# quality-gate threshold sweep (r15 continuation)
# ---------------------------------------------------------------------
#: lexical-diversity cuts swept; 0.1 = the shipped keep rule's anchor
QUALITY_SWEEP = (0.05, 0.1, 0.2, 0.4, 0.6)


@register(
    "pipe_quality_sweep",
    oracle=f"""
WITH scored AS MATERIALIZED (
  SELECT doc_id, len(toks) AS n_tokens,
         CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE)
           / nullif(len(toks), 0) AS dr
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) t),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_toks
        FROM scored),
pts AS (SELECT CAST(t.t AS DOUBLE) AS threshold
        FROM (VALUES {", ".join(f"({t})" for t in QUALITY_SWEEP)}) t(t)),
hits AS (
  SELECT p.threshold,
         CAST(count(s.doc_id) AS BIGINT) AS n_kept,
         CAST(coalesce(sum(s.n_tokens), 0) AS BIGINT) AS tokens_kept
  FROM pts p LEFT JOIN scored s
    ON s.n_tokens >= 5 AND s.dr >= p.threshold
  GROUP BY 1)
SELECT h.threshold, h.n_kept, h.tokens_kept,
       CAST(h.n_kept * 1000000 // tot.n_docs AS BIGINT) AS kept_ppm,
       CAST(h.tokens_kept * 1000000 // tot.n_toks AS BIGINT) AS tokens_ppm
FROM hits h, tot
""",
)
def pipe_quality_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUALITY-GATE TUNING CURVE — the sweep-family discipline
    (nprobe/ef/code-budget/JL-dim/dedup-threshold) applied to the
    quality filter: one scored pass over the corpus (the
    ``text_quality_score`` lexical-diversity expression, UNROUNDED so
    the 0.1 point is bit-anchored to the shipped keep rule), then
    every cut in {QUALITY_SWEEP} is a pure filter — docs kept, tokens
    kept, and their exact-integer ppm of the corpus, the
    retention-vs-aggressiveness curve a data-quality review reads
    before moving the production threshold. Zero-match points keep
    their row (zeros), and the n_tokens ≥ 5 floor of the shipped rule
    is held fixed so the sweep isolates ONE knob.

    Shape: one narrow projection over the scan, sweep points as a
    broadcast literal dim, one partial-aggregated group per point —
    at 100 TB this is a single corpus pass however many points the
    curve carries."""
    d = load_table(spark, sf_dir, "documents")
    lowered = F.transform(tokens_array(F.col("text")), F.lower)
    scored = d.select(
        "doc_id",
        F.size(lowered).alias("n_tokens"),
        (
            F.size(F.array_distinct(lowered)).cast("double")
            / F.nullif(F.size(lowered), F.lit(0))
        ).alias("dr"),
    ).localCheckpoint()
    tot = scored.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_toks"),
    )
    pts = scored.sparkSession.range(1).select(
        F.explode(
            F.array(*[F.lit(float(t)) for t in QUALITY_SWEEP])
        ).alias("threshold")
    )
    hits = (
        scored.filter(F.col("n_tokens") >= 5)
        .crossJoin(F.broadcast(pts))
        .filter(F.col("dr") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
        )
    )
    return (
        pts.join(hits, "threshold", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("tokens_kept", F.lit(0)).cast("bigint").alias("tokens_kept"),
            F.expr(
                "CAST(coalesce(n_kept, 0) * 1000000 div n_docs AS BIGINT)"
            ).alias("kept_ppm"),
            F.expr(
                "CAST(coalesce(tokens_kept, 0) * 1000000 div n_toks AS BIGINT)"
            ).alias("tokens_ppm"),
        )
    )
