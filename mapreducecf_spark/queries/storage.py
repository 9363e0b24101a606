"""Storage-layout queries: bucketed-table co-located joins, the
day-partitioned sink round-trip, and the JSONL interchange loop —
driver-graded end to end.

These grade the storage components that were pytest-only through r04
(VERDICT r04 item 4 + stretch 7): ``sinks.write_bucketed_table`` and
``sinks.write_table``/``read_table`` with partition pruning. Each query
performs the physical-layout work (write bucketed/partitioned, read
back) and returns a plain deterministic aggregate whose oracle is the
LOGICALLY EQUIVALENT query over the original parquet — the layout must
be invisible in the result, visible only in the plan (pinned by
tests/test_plans.py: zero Exchange under the bucketed join, partition
filters pruning the round-trip scan).

100 TB posture: bucketing is THE amortized pre-shuffle (pay the
cluster-by once at write, every later join/agg on the key runs with no
Exchange), and day-partitioned sinks are THE layout that lets a daily
pipeline read one day, not the corpus. All writes land under the
repo's ``spark-warehouse/`` (absolute path derived from this package's
location, independent of the driver session's cwd/warehouse config)
and are performed once per (session, sf) — rewrites are skipped via the
session memo, mirroring the write-once nature of real layouts.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducecf_spark.functions import csum, csum_sql
from mapreducecf_spark.memo import session_value
from mapreducecf_spark.registry import ORACLE_ALIASES, register
from mapreducecf_spark.sinks import read_table, write_bucketed_table, write_table
from mapreducecf_spark.sources import load_table

#: repo-anchored output root — NOT the session's warehouse config
#: (the driver's session may have any cwd; files must stay in-repo)
_OUT_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)

def _tag(sf_dir: str) -> str:
    return re.sub(r"[^A-Za-z0-9]+", "_", sf_dir).strip("_")


N_BUCKETS = 8


def bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """customer + orders as catalog tables bucketed {N_BUCKETS} ways on
    the custkey join key (sorted within buckets), written once per
    session into a database pinned under the repo warehouse dir."""
    tag = _tag(sf_dir)
    db = "graft_bkt"
    ct, ot = f"{db}.customer_{tag}", f"{db}.orders_{tag}"

    def write() -> None:
        import shutil
        from urllib.parse import urlparse

        loc = os.path.join(_OUT_ROOT, f"{db}.db")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
        # IF NOT EXISTS ignores LOCATION when the database already
        # exists (e.g. a persisted metastore with a stale location), so
        # clean up where the catalog says the database ACTUALLY lives,
        # not where we asked it to live
        loc = urlparse(spark.catalog.getDatabase(db).locationUri).path or loc
        for t in (ct, ot):
            # a previous SESSION's managed-table directory may survive
            # while the in-memory catalog forgot the table — Spark then
            # refuses to re-create over the location; drop both halves
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(
                os.path.join(loc, t.split(".", 1)[1]), ignore_errors=True
            )
        write_bucketed_table(
            load_table(spark, sf_dir, "customer"), ct, ["c_custkey"], N_BUCKETS,
            sort_cols=["c_custkey"],
        )
        write_bucketed_table(
            load_table(spark, sf_dir, "orders").withColumnRenamed(
                "o_custkey", "c_custkey"
            ),
            ot, ["c_custkey"], N_BUCKETS, sort_cols=["c_custkey"],
        )

    session_value(spark, ("written", f"bucketed_pair:{tag}"), write)
    return spark.table(ct), spark.table(ot)


@register(
    "join_bucketed_colocated",
    oracle=f"""
SELECT c_mktsegment AS mktsegment,
       count(*) AS n_orders,
       {csum_sql("o_totalprice", "revenue")}
FROM customer JOIN orders ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer⋈orders executed over the BUCKETED pair: both sides are
    hash-clustered into {N_BUCKETS} buckets on the join key at write
    time, so the join plans as a sort-merge join with ZERO Exchange on
    either side (pinned in tests/test_plans.py) — the scan's output
    partitioning already satisfies the join. The oracle is the plain
    join over the original parquet: bucketing must change the plan,
    never the answer."""
    c, o = bucketed_pair(spark, sf_dir)
    return (
        c.join(o, "c_custkey")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count("*").alias("n_orders"),
            csum(F.col("o_totalprice")).alias("revenue"),
        )
    )


# events span 2024-01-01..2024-01-30 in the deterministic testdata
# (TESTDATA.md, seed=42); one calendar week keeps the predicate a
# static partition filter at every SF
_RT_LO, _RT_HI = "2024-01-08", "2024-01-14"


def partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """events written day-partitioned via sinks.write_table, once per
    session; returns the path."""
    tag = _tag(sf_dir)
    path = os.path.join(_OUT_ROOT, f"events_by_day_{tag}")

    def write() -> None:
        e = load_table(spark, sf_dir, "events").withColumn(
            "day", F.to_date(F.date_trunc("day", "ts"))
        )
        write_table(e, path, partition_cols=["day"], n_files=4)

    session_value(spark, ("written", f"partitioned_events:{tag}"), write)
    return path


@register(
    "sink_partitioned_roundtrip",
    oracle=f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE CAST(date_trunc('day', ts) AS DATE)
      BETWEEN DATE '{_RT_LO}' AND DATE '{_RT_HI}'
GROUP BY 1
""",
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake round-trip graded end to end: events → day-partitioned
    parquet (``sinks.write_table``) → read back → one-week day
    predicate → per-day rollup. The day filter sits on the PARTITION
    column, so the scan reads 7 of 30 day directories (PartitionFilters
    in the plan, pinned in tests/test_plans.py) — the daily-pipeline
    access pattern that makes day layout worth the write. Oracle: same
    week aggregated straight from the original events parquet."""
    path = partitioned_events(spark, sf_dir)
    # DECLARED schema on read: inference needs at least one data file,
    # and an empty day's write legitimately produces none — the daily-
    # pipeline reader must come up empty, not fail. (Production readers
    # declare schemas anyway; inference is a listing-time scan.)
    sch = (
        load_table(spark, sf_dir, "events")
        .withColumn("day", F.to_date(F.date_trunc("day", "ts")))
        .schema
    )
    e = spark.read.schema(sch).parquet(path)
    return (
        e.filter(F.col("day").between(F.lit(_RT_LO), F.lit(_RT_HI)))
        .groupBy(F.col("day").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@register(
    "sink_jsonl_roundtrip",
    oracle="""
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(length(text)) AS BIGINT) AS total_len
FROM documents GROUP BY lang, source
""",
)
def sink_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL egress/ingress graded end to end: documents → line-
    delimited JSON via ``sinks.write_table`` (fmt="json") → read back →
    per-(lang, source) rollup hash-checked against the source parquet.
    JSONL is the interchange format training-data pipelines actually
    ship (one doc per line, append-friendly, tool-agnostic); this row
    proves the full fidelity loop — string escaping, bigint/int
    round-trip, schema-on-read — not just that a file appeared. The
    total_len column guards the text payload byte-for-byte through
    JSON escaping."""
    tag = _tag(sf_dir)
    path = os.path.join(_OUT_ROOT, f"documents_jsonl_{tag}")

    def write() -> None:
        write_table(
            load_table(spark, sf_dir, "documents"), path, fmt="json", n_files=4
        )

    session_value(spark, ("written", f"documents_jsonl:{tag}"), write)
    # declared schema: JSONL interchange readers ship the schema with
    # the data contract (inference re-scans the corpus at listing time
    # and fails outright on an empty drop)
    d = spark.read.schema(load_table(spark, sf_dir, "documents").schema).json(path)
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.length("text")).cast("bigint").alias("total_len"),
    )


@register(
    "sink_orc_roundtrip",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC egress/ingress fidelity loop — the third columnar format the
    sink layer speaks (parquet, JSON lines, ORC): the largest fact
    table lands as ORC via ``sinks.write_table`` and the rollup over
    the read-back is hash-checked against the ORIGINAL parquet. Like
    the other round-trips, the layout must be invisible in the result
    — type fidelity (decimal-free bigint/string path), predicate-ready
    columnar layout, schema-on-read — while the oracle never sees the
    ORC copy. ORC matters operationally: it is the interchange format
    half the Hive/Trino lakehouse world writes, so a migration path
    INTO this engine starts by reading it."""
    tag = _tag(sf_dir)
    path = os.path.join(_OUT_ROOT, f"lineitem_orc_{tag}")

    def write() -> None:
        write_table(
            load_table(spark, sf_dir, "lineitem").select(
                "l_returnflag", "l_linestatus", "l_quantity"
            ),
            path,
            fmt="orc",
            n_files=4,
        )

    session_value(spark, ("written", f"lineitem_orc:{tag}"), write)
    d = read_table(spark, path, fmt="orc")
    return d.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
    )


@register(
    "sink_csv_roundtrip",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(min(o_orderdate) AS DATE) AS first_date,
       CAST(max(o_orderdate) AS DATE) AS last_date
FROM orders GROUP BY o_orderstatus, o_orderpriority
""",
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV egress/ingress fidelity loop — the fourth sink format
    (parquet, JSONL, ORC, CSV): orders projected to a CSV-safe shape
    (money as INTEGER CENTS before the write — CSV is text, and
    shipping doubles through decimal rendering is how round-trips rot;
    dates as ISO days), written with a header via ``sinks.write_table``,
    read back with an EXPLICIT schema (header inference re-scans and
    guesses types — an interchange contract ships its schema), and
    rolled up per (status, priority). The oracle computes the same
    rollup from the original parquet, so any quoting, type-mapping, or
    date-format loss in the CSV hop fails the hash gate. CSV matters
    operationally for the same reason ORC does: it is the lowest
    common denominator feeds actually arrive in."""
    tag = _tag(sf_dir)
    path = os.path.join(_OUT_ROOT, f"orders_csv_{tag}")
    proj = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderdate").cast("date").alias("o_date"),
    )

    def write() -> None:
        write_table(proj, path, fmt="csv", n_files=4, header="true")

    session_value(spark, ("written", f"orders_csv:{tag}"), write)
    back = (
        spark.read.schema(
            "o_orderkey bigint, o_orderstatus string, o_orderpriority string, "
            "cents bigint, o_date date"
        )
        .option("header", "true")
        .csv(path)
    )
    return back.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.min("o_date").alias("first_date"),
        F.max("o_date").alias("last_date"),
    )


# ---------------------------------------------------------------------
# Z-order (Morton) clustered layout — multi-column pruning
# ---------------------------------------------------------------------
#: bits per key AFTER normalization: every clustered column is first
#: scaled to [0, 2^Z_BITS) over its own domain, so the interleave
#: alternates MEANINGFUL bits. Interleaving raw keys breaks down the
#: moment domains differ in width (a 4-bit suppkey contributes only
#: zero high bits, so every range split lands on the wider key and the
#: narrow dim never clusters) — normalize-then-interleave is what
#: Delta/Iceberg OPTIMIZE ZORDER does with per-column range ids.
Z_BITS = 8
#: the graded box: [20%, 30%] of each key's domain, derived from the
#: dimension tables' max keys by EXACT integer arithmetic so the oracle
#: replays the bounds with scalar subqueries at any SF
ZQ_LO_N, ZQ_HI_N = 2, 3


def zvalue(a, a_max, b, b_max):  # -> Column
    """Morton/Z interleave of two non-negative int keys, each first
    normalized to [0, 2^Z_BITS) over [0, its domain max]: bit i of the
    scaled ``a`` lands at 2i+1, of ``b`` at 2i. Pure JVM bit arithmetic
    (shift/mask terms summed) — whole-stage-codegen'd, no UDF."""
    scale = 1 << Z_BITS
    a = (F.col(a).cast("bigint") * scale / F.lit(int(a_max) + 1)).cast("bigint")
    b = (F.col(b).cast("bigint") * scale / F.lit(int(b_max) + 1)).cast("bigint")
    terms = []
    for i in range(Z_BITS):
        terms.append(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
        terms.append(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def zordered_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """lineitem written Z-clustered on (l_partkey, l_suppkey): range-
    repartition on the interleaved z-value, sort within partitions,
    land as parquet — Delta/Iceberg's OPTIMIZE ZORDER in plain Spark.
    Written once per session; returns the path."""
    tag = _tag(sf_dir)
    path = os.path.join(_OUT_ROOT, f"lineitem_zorder_{tag}")

    def write() -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_quantity",
            "l_extendedprice",
        )
        # per-column domain maxes for the normalize step: two scalar
        # collects off the tiny dimension tables (write-time only)
        # empty corpus: no keys -> degenerate-but-valid zero domains
        pmax = load_table(spark, sf_dir, "part").agg(
            F.max("p_partkey")
        ).collect()[0][0] or 0
        smax = load_table(spark, sf_dir, "supplier").agg(
            F.max("s_suppkey")
        ).collect()[0][0] or 0
        (
            li.withColumn(
                "_z", zvalue("l_partkey", pmax, "l_suppkey", smax)
            )
            .repartitionByRange(8, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(path)
        )

    session_value(spark, ("written", f"lineitem_zorder:{tag}"), write)
    return path


@register(
    "sink_zorder_roundtrip",
    oracle=f"""
SELECT count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
WHERE l_partkey BETWEEN (SELECT max(p_partkey) * {ZQ_LO_N} // 10 FROM part)
                    AND (SELECT max(p_partkey) * {ZQ_HI_N} // 10 FROM part)
  AND l_suppkey BETWEEN (SELECT max(s_suppkey) * {ZQ_LO_N} // 10 FROM supplier)
                    AND (SELECT max(s_suppkey) * {ZQ_HI_N} // 10 FROM supplier)
""",
)
def sink_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional box query over the Z-CLUSTERED lineitem copy —
    the layout that makes BOTH ``l_partkey`` and ``l_suppkey``
    predicates prune files at once. A single-column sort gives tight
    parquet min/max stats on one dim and useless full-range stats on
    the other; Morton clustering keeps every file a small rectangle in
    (partkey, suppkey) space, so a 10%×10% box touches a handful of
    files instead of all of them (per-file stat spans are measured in
    tests/test_sinks.py; both predicates reach the scan as
    PushedFilters). The box bounds are literal at plan time — derived
    from the dimension tables' max keys by one tiny bounded collect
    (2 scalar rows, the broadcast-boundary pattern) because DYNAMIC
    bounds would not push into the parquet reader. Oracle: the same
    box straight off the original lineitem with scalar-subquery
    bounds — the layout must be invisible in the answer. At 100 TB
    this is THE access path for fact tables filtered on two+ join
    keys: pay the z-shuffle once at write, every later box query
    reads ~(selectivity) of the bytes."""
    path = zordered_lineitem(spark, sf_dir)
    pmax = load_table(spark, sf_dir, "part").agg(
        F.max("p_partkey").cast("bigint")
    ).collect()[0][0] or 0  # empty corpus -> empty box, not a crash
    smax = load_table(spark, sf_dir, "supplier").agg(
        F.max("s_suppkey").cast("bigint")
    ).collect()[0][0] or 0
    p_lo, p_hi = pmax * ZQ_LO_N // 10, pmax * ZQ_HI_N // 10
    s_lo, s_hi = smax * ZQ_LO_N // 10, smax * ZQ_HI_N // 10
    li = spark.read.parquet(path)
    return (
        li.filter(
            F.col("l_partkey").between(F.lit(p_lo), F.lit(p_hi))
            & F.col("l_suppkey").between(F.lit(s_lo), F.lit(s_hi))
        )
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------
# small-file compaction (the OPTIMIZE maintenance pass)
# ---------------------------------------------------------------------
FRAGMENTED_FILES = 64
COMPACTED_FILES = 4


def compacted_events(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """events written twice: once FRAGMENTED ({FRAGMENTED_FILES}
    files — the small-file state a streaming ingest leaves behind) and
    once COMPACTED from the fragmented copy ({COMPACTED_FILES} files
    via coalesce — no shuffle: compaction is a read-concat-write, not
    a repartition). Returns (fragmented_path, compacted_path)."""
    tag = _tag(sf_dir)
    frag = os.path.join(_OUT_ROOT, f"events_fragmented_{tag}")
    comp = os.path.join(_OUT_ROOT, f"events_compacted_{tag}")

    def write() -> None:
        e = load_table(spark, sf_dir, "events")
        e.repartition(FRAGMENTED_FILES).write.mode("overwrite").parquet(frag)
        sch = e.schema
        (
            spark.read.schema(sch)
            .parquet(frag)
            .coalesce(COMPACTED_FILES)
            .write.mode("overwrite")
            .parquet(comp)
        )

    session_value(spark, ("written", f"compacted_events:{tag}"), write)
    return frag, comp


@register(
    "sink_compaction_roundtrip",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1
""",
)
def sink_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction graded end to end — the OPTIMIZE
    maintenance pass every streaming-ingested lake needs: a
    {FRAGMENTED_FILES}-file fragmented table (what per-trigger
    micro-batch writes leave behind; at 100 TB small files dominate
    job time via task-scheduling and footer overhead, and metadata
    listing alone degrades every reader) is rewritten to
    {COMPACTED_FILES} right-sized files with ``coalesce`` — a
    read-concat-write with NO shuffle, which is what distinguishes
    compaction from repartitioning. The graded aggregate reads the
    COMPACTED copy; the oracle reads the original events — two layout
    hops must be invisible in the answer (tests/test_sinks.py pins
    the file counts of both copies)."""
    _, comp = compacted_events(spark, sf_dir)
    sch = load_table(spark, sf_dir, "events").schema
    e = spark.read.schema(sch).parquet(comp)
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )


# ---------------------------------------------------------------------
# dynamic partition pruning
# ---------------------------------------------------------------------
@register(
    "join_dynamic_partition_pruning",
    oracle=f"""
WITH dim AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
  WHERE CAST(date_trunc('day', ts) AS DATE)
        BETWEEN DATE '{_RT_LO}' AND DATE '{_RT_HI}'),
fact AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, value
  FROM events)
SELECT f.day, f.event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(f.value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM fact f JOIN dim d ON d.day = f.day
GROUP BY 1, 2
""",
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over the day-partitioned events copy:
    the fact side is the PARTITIONED lake table, the dim side is a
    small filtered date dimension, and the join key is the partition
    column — Spark inserts a runtime ``dynamicpruning`` subquery that
    evaluates the dim filter FIRST and prunes fact partitions before
    the scan (tests/test_plans.py pins the subquery). This is the
    mechanism that saves the scan when the predicate reaches the fact
    only THROUGH a join — the static-filter twin
    (``sink_partitioned_roundtrip``) covers the direct-predicate case;
    together they are the two partition-elimination paths a 100 TB
    star schema lives on. Oracle: the same join over the original
    unpartitioned events — the runtime pruning must be invisible in
    the answer."""
    path = partitioned_events(spark, sf_dir)
    sch = (
        load_table(spark, sf_dir, "events")
        .withColumn("day", F.to_date(F.date_trunc("day", "ts")))
        .schema
    )
    fact = spark.read.schema(sch).parquet(path)
    dim = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .filter(F.col("day").between(F.lit(_RT_LO), F.lit(_RT_HI)))
        .distinct()
    )
    return (
        fact.join(dim.hint("broadcast"), "day")
        .groupBy("day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------
# schema evolution (mergeSchema read over mixed-generation files)
# ---------------------------------------------------------------------
def evolved_events(spark: SparkSession, sf_dir: str) -> str:
    """events written in two file generations under ONE directory:
    generation 1 (odd event_ids) with the ORIGINAL narrow schema
    (event_id, ts, user_id, event_type), generation 2 (even event_ids)
    with the evolved schema that ADDED the value column. Returns the
    path — the mixed-file state every long-lived lake table is in."""
    tag = _tag(sf_dir)
    path = os.path.join(_OUT_ROOT, f"events_evolved_{tag}")

    def write() -> None:
        e = load_table(spark, sf_dir, "events")
        (
            e.filter(F.col("event_id") % 2 == 1)
            .select("event_id", "ts", "user_id", "event_type")
            .write.mode("overwrite")
            .parquet(path)
        )
        (
            e.filter(F.col("event_id") % 2 == 0)
            .select("event_id", "ts", "user_id", "event_type", "value")
            .write.mode("append")
            .parquet(path)
        )

    session_value(spark, ("written", f"events_evolved:{tag}"), write)
    return path


@register(
    "sink_schema_evolution",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS BIGINT)
         AS n_with_value,
       CAST(sum(CASE WHEN event_id % 2 = 0
                     THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
         AS value_cents
FROM events GROUP BY 1
""",
)
def sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution graded end to end: one directory holds files
    from BEFORE and AFTER a column was added, and the reader
    reconciles them with ``mergeSchema`` — old-generation rows surface
    the new column as NULL, exactly the additive-evolution contract
    Delta/Iceberg formalize and plain parquet lakes live by. The
    rollup counts rows with/without the evolved column and sums it
    where present; the oracle derives the same split from the original
    table (odd event_ids = generation 1), so any loss or misalignment
    in the merged read fails the hash gate.

    At 100 TB this is an operational requirement, not a feature:
    nobody rewrites a petabyte table to add a column — readers MUST
    reconcile generations. (mergeSchema costs a footer read per file;
    production tables pin the merged schema in a catalog — declared
    here per read, same contract.)"""
    path = evolved_events(spark, sf_dir)
    e = spark.read.option("mergeSchema", "true").parquet(path)
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count("value").cast("bigint").alias("n_with_value"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )


def kmv_sketch_table(spark: SparkSession, sf_dir: str) -> str:
    """Write the per-type KMV audience sketch table (t, rnk, h) to
    parquet once per (session, sf) and return its path — the
    persisted-sketch half of the Theta-sketch lifecycle a 100 TB
    deployment runs: each ingest segment writes its few-KB sketch
    row-set; every later audience question merges sketches and never
    re-reads events."""
    from mapreducecf_spark.queries.timeseries import _kmv_sketch, _kmv_uh

    tag = _tag(sf_dir)
    path = os.path.join(_OUT_ROOT, f"kmv_sketch_{tag}")

    def write() -> None:
        sk = _kmv_sketch(_kmv_uh(load_table(spark, sf_dir, "events")))
        # one file: the whole table is |types| x KMV_K bigint rows
        write_table(sk, path, n_files=1)

    session_value(spark, ("written", f"kmv_sketch:{tag}"), write)
    return path


def _kmv_roundtrip_oracle() -> str:
    # the persisted merge must equal the in-query merge EXACTLY (the
    # sketch is deterministic and parquet bigints are lossless), so
    # the lifecycle row shares ts_audience_union_kmv's oracle
    from mapreducecf_spark.queries.timeseries import _kmv_union_k_sql

    return _kmv_union_k_sql()


@register("sink_kmv_roundtrip", oracle=_kmv_roundtrip_oracle)
def sink_kmv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV SKETCH-TABLE LIFECYCLE graded end to end (VERDICT r16
    #3 — the persistence story ts_audience_union_kmv's docstring
    promises): per-type bottom-k sketches → parquet sink
    (``sinks.write_table``) → schema-declared re-read → k-way
    union-with-cut → total-audience estimate beside the exact audit.
    The merge step reads ONLY the persisted sketch table (|types| ×
    {KMV_K} bigint rows — kilobytes at any corpus size); events are
    touched once to build the sketch and once more for the exact
    audit column the whole sketch family carries. Oracle: the SAME
    SQL as ts_audience_union_kmv — the round-trip must be invisible
    in the result (sketches are deterministic bottom-k sets of md5
    hashes; parquet bigint round-trip is lossless), visible only in
    the lineage."""
    from mapreducecf_spark.queries.timeseries import (
        _kmv_kway_report,
        _kmv_uh,
    )

    path = kmv_sketch_table(spark, sf_dir)
    # declared schema: sketch readers ship the contract with the
    # table; inference would cost a listing-time footer scan per merge
    sk = spark.read.schema("t string, rnk int, h bigint").parquet(path)
    uh = _kmv_uh(load_table(spark, sf_dir, "events"))
    return _kmv_kway_report(uh, sk)


def hll_sketch_table(spark: SparkSession, sf_dir: str) -> str:
    """Write the per-(type, day) HLL audience sketch table
    (event_type, day, sk binary) to parquet once per (session, sf)
    and return its path — the other half of the sketch-persistence
    story beside ``kmv_sketch_table``: the daily rollup a 100 TB
    ingest writes so that raw IDs are dropped at the edge and every
    later coarser rollup merges stored sketches."""
    tag = _tag(sf_dir)
    path = os.path.join(_OUT_ROOT, f"hll_sketch_{tag}")

    def write() -> None:
        e = load_table(spark, sf_dir, "events")
        daily = e.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.hll_sketch_agg("user_id").alias("sk"))
        write_table(daily, path, n_files=1)

    session_value(spark, ("written", f"hll_sketch:{tag}"), write)
    return path


# byte-equal to the in-query two-level build: DataSketches HLL is
# deterministic and parquet binary round-trips losslessly
ORACLE_ALIASES["sink_hll_roundtrip"] = "ts_actives_hll_union"


@register("sink_hll_roundtrip")
def sink_hll_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL SKETCH-TABLE LIFECYCLE graded end to end (the
    mergeable-rollup companion of ``sink_kmv_roundtrip``): per-(type,
    day) DataSketches HLL sketches → parquet sink → schema-declared
    re-read of the BINARY sketch column → per-type ``hll_union_agg``
    merge beside the exact audit — proving the serialized sketch
    bytes survive the lake round-trip and still merge (the property
    that lets a 100 TB deployment drop raw IDs at ingest). The merge
    reads ONLY the persisted table (types × days rows, ~1.5 KB each
    at lgConfigK=12); events are touched for the exact-twin audit
    column the family's gate discipline requires. Oracle: aliased to
    ts_actives_hll_union — the round-trip must be invisible in the
    result (DataSketches builds are deterministic; parquet binary is
    lossless)."""
    from mapreducecf_spark.queries.timeseries import _hll_union_report

    path = hll_sketch_table(spark, sf_dir)
    daily = spark.read.schema("event_type string, day date, sk binary").parquet(path)
    return _hll_union_report(daily, load_table(spark, sf_dir, "events"))


def kll_sketch_table(spark: SparkSession, sf_dir: str) -> str:
    """Write the per-(type, day) KLL value-quantile sketch table
    (event_type, day, sk binary) to parquet once per (session, sf) —
    the THIRD sketch tier persisted beside KMV (distincts with set
    algebra) and HLL (distincts at fixed size): mergeable QUANTILES,
    the shape a 100 TB deployment uses for percentile dashboards
    without ever re-sorting raw values."""
    tag = _tag(sf_dir)
    path = os.path.join(_OUT_ROOT, f"kll_sketch_{tag}")

    def write() -> None:
        e = load_table(spark, sf_dir, "events")
        daily = e.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.kll_sketch_agg_double("value", KLL_K).alias("sk"))
        write_table(daily, path, n_files=1)

    session_value(spark, ("written", f"kll_sketch:{tag}"), write)
    return path


#: sketch size: k=800 => ~0.5% normalized rank error (default 200's
#: ~1.65% rank error translated to ~7% VALUE error at p90 on sf0.001's
#: ~200-value types, where tail value gaps amplify rank error)
KLL_K = 800
#: own-engine tolerance for the merged KLL quantile estimates vs the
#: exact interpolated percentiles. KLL compaction is RANDOMIZED, so
#: this must hold under ANY seed: generous in value terms vs the
#: k=800 rank error even where tail gaps amplify it; also covers
#: DuckDB's approx_quantile t-digest on its side
KLL_TOL = 0.15


@register(
    "sink_kll_roundtrip",
    oracle=f"""
SELECT event_type,
       CAST(count(value) AS BIGINT) AS n_values,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       greatest(
         abs(approx_quantile(value, 0.5) / nullif(quantile_cont(value, 0.5), 0) - 1),
         abs(approx_quantile(value, 0.9) / nullif(quantile_cont(value, 0.9), 0) - 1)
       ) <= {KLL_TOL} AS approx_ok
FROM events GROUP BY event_type
""",
)
def sink_kll_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KLL QUANTILE-SKETCH LIFECYCLE graded end to end — the
    third persisted sketch tier (KMV: distincts + set algebra; HLL:
    distincts at fixed size; KLL: QUANTILES): per-(type, day)
    ``kll_sketch_agg_double`` sketches → parquet sink →
    schema-declared re-read of the binary column → per-type
    ``kll_merge_agg_double`` → p50/p90 estimates beside the exact
    twins. The hash-checked ``n_values`` column is read off the
    MERGED SKETCH (``kll_sketch_get_n_double`` is an exact counter) —
    equality with the oracle's plain ``count(value)`` proves the
    serialized sketches survived the lake round-trip and merged
    losslessly on the count dimension; the quantile estimates are
    engine-specific sketch internals, so they enter only through the
    per-engine ``approx_ok`` bound (<= {KLL_TOL} relative vs each
    engine's own exact percentiles — the agg_percentiles_approx
    discipline). Merge reads ONLY the persisted types×days rows."""
    path = kll_sketch_table(spark, sf_dir)
    daily = spark.read.schema("event_type string, day date, sk binary").parquet(path)
    return _kll_quantile_report(daily, load_table(spark, sf_dir, "events"))


def _kll_quantile_report(daily: DataFrame, e: DataFrame) -> DataFrame:
    """Per-type merged-KLL quantile report from a (event_type, day,
    sk) sketch table — ONE definition for the lake round-trip row and
    the streaming monitor (the state table and the persisted table
    are the same shape, so the consumer is too). Output is
    deterministic whenever ``approx_ok`` holds: n_values is the
    sketch's exact counter and p50/p90 are the exact twins; the
    randomized-compaction estimates enter only through the bound."""
    merged = daily.groupBy("event_type").agg(
        F.kll_merge_agg_double("sk").alias("sk")
    )
    est = merged.select(
        "event_type",
        F.kll_sketch_get_n_double("sk").cast("bigint").alias("n_values"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("e50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("e90"),
    )
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9)))
    exact = e.groupBy("event_type").agg(
        F.round(F.element_at(pct, 1), 6).alias("p50"),
        F.round(F.element_at(pct, 2), 6).alias("p90"),
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_values",
        "p50",
        "p90",
        (
            F.greatest(
                F.abs(F.col("e50") / F.nullif(F.col("p50"), F.lit(0.0)) - 1),
                F.abs(F.col("e90") / F.nullif(F.col("p90"), F.lit(0.0)) - 1),
            )
            <= KLL_TOL
        ).alias("approx_ok"),
    )
