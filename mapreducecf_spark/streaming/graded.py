"""Driver-graded streaming queries: replay the finite ``events`` table
through REAL Structured Streaming (``readStream`` file source,
``availableNow`` trigger, memory sink) and register the result like any
batch query — so the streaming surface gets CORRECTNESS rows against
the SAME DuckDB oracles as its batch twins, proving stream == batch on
a bounded replay instead of pytest-only coverage.

Why this is sound: every pipeline here is the SAME builder the batch
query registered in ``queries.timeseries`` uses (one definition, two
execution modes — the module contract of ``streaming.windows``). On a
bounded replay that ends, complete/update-mode aggregation output equals
the batch aggregation; ``dropDuplicatesWithinWatermark`` over unique
keys emits every row exactly once.

Scale note: the memory sink is the TEST harness half only (the driver
compares collected rows anyway); the production egress is
``write_stream_to_lake``'s checkpointed foreachBatch parquet sink. The
streaming state behavior (watermarks bounding state, session merge,
state-store accumulators) is exercised identically either way.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducecf_spark import registry
from mapreducecf_spark.registry import register

# NOTE: the sibling streaming modules are imported INSIDE each query
# body — registry.py imports this module while
# mapreducecf_spark.streaming.__init__ may itself be mid-import (any
# entry point that touches the streaming package first), so a
# module-level `from .windows import ...` here would be circular.

_SINK_IDS = itertools.count()


#: state-store partition count for the graded replays. A stateful
#: streaming query opens one state store PER shuffle partition per
#: stateful operator; at test SF the whole state fits in a handful of
#: stores, and every extra store is pure per-micro-batch overhead
#: (HDFS-backed provider init + commit per store). Measured warm at
#: sf0.1 (r08): the stream-stream join replay runs 3.4 s at 4 stores,
#: 2.3 s at 2, 2.1 s at 1 — 2 keeps two-way parallelism at the knee.
#: A real deployment sizes this to state volume ÷ per-store working
#: set, fixed at FIRST checkpoint; here each replay starts fresh so a
#: small count is always safe. SPARK_GRAFT_REPLAY_PARTITIONS overrides
#: it (r15) — the scale smoke uses this to size stores to volume the
#: way a production stream would, isolating throughput shape from
#: store-count bottlenecking at k× volume.
_REPLAY_SHUFFLE_PARTITIONS = __import__("os").environ.get(
    "SPARK_GRAFT_REPLAY_PARTITIONS", "2"
)


#: serializes replays: each one temporarily rewrites the SESSION-WIDE
#: spark.sql.shuffle.partitions (the only way to size streaming state
#: stores — the conf is read at .start(), there is no per-query knob),
#: so two concurrent replays must not interleave their set/restore.
#: CAVEAT (documented, not solved, r06 advice): a BATCH query planned
#: by another thread of the same session during a replay also plans at
#: the replay's partition count — results stay correct (the
#: determinism suite pins DOP-invariance), only performance
#: attribution skews. The bench and the driver grade sequentially, so
#: the window only exists for user-threaded sessions.
_REPLAY_LOCK = __import__("threading").Lock()


def _spread_arrivals(
    spark: SparkSession, sf_dir: str, table: str, df: DataFrame, *keys: str
) -> DataFrame:
    """Adaptive micro-batch spread — ``sources.load_spread``'s twin for
    the replayed streaming source (r18, guide §2.5 "one huge
    unsplittable file ... repartition immediately after the read"):
    when the replayed file's layout gives the micro-batch scan fewer
    splits than half the cluster's default parallelism (the
    single-row-group test tables: ONE task), hash-repartition the
    arrivals so the heavy row-wise edge projections that follow
    (shingle zips, per-seed md5 signature mins, winnowing keys, Bloom
    positions) run cluster-wide instead of on the scan's lone task
    (measured: stream_minhash_neardup's micro-batch spent 4.9 s in one
    task on local[32]). A layout that already splits passes through
    untouched — no shuffle is added at scale, and the stateful
    aggregation's store count stays governed by the replay's
    shuffle-partition setting either way."""
    from mapreducecf_spark.sources import scan_splits

    par = spark.sparkContext.defaultParallelism
    if scan_splits(spark, sf_dir, table) * 2 >= par:
        return df
    return df.repartition(par, *[F.col(k) for k in keys])


def _replay(
    spark: SparkSession,
    df: DataFrame,
    mode: str,
    final_nodata: bool | None = None,
    partitions: int | str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion over the currently
    available input (availableNow) into a uniquely-named memory sink
    and return the sink table.

    ``final_nodata`` (r19, VERDICT r18 #4 — per-replay fixed-overhead
    shave): whether the engine may run the trailing NO-DATA micro-batch
    after the input drains (``spark.sql.streaming.noDataMicroBatches.
    enabled``, engine default on). Defaults by output mode:

    - **append** → ON, load-bearing: watermark-finalized windows and
      outer-join unmatched rows only EMIT in that final batch — without
      it the drained sink is missing rows (the r18 examination already
      pinned this: "noDataMicroBatches left ON — append-mode windows
      need the finalizing batch").
    - **complete / update** → OFF: every data batch already emitted the
      full (complete) or changed (update) result; the final no-data
      batch re-plans and re-executes the whole aggregation output stage
      (complete re-emits EVERY row) only for the memory sink to be
      overwritten with identical content — watermark advancement evicts
      state but never emits in these modes, so the drained table is
      row-identical (re-verified query-by-query against the DuckDB
      oracles at sf0.01/sf0.001). That batch was one of 2-3 the whole
      replay runs: pure fixed-cost removal, no semantics change.

    Pass ``final_nodata=True`` explicitly for a complete/update replay
    that ever grows a state op emitting on watermark advance.

    ``partitions`` (r19) overrides the replay's state-store count for
    the rare row whose per-key work dwarfs the per-store fixed cost —
    the applyInPandasWithState fold runs its whole Python accumulator
    inside the stateful operator, so its parallelism IS the store
    count. Everything else keeps the measured r08 knee
    (``_REPLAY_SHUFFLE_PARTITIONS``)."""
    name = f"graded_stream_{next(_SINK_IDS)}"
    key = "spark.sql.shuffle.partitions"
    nkey = "spark.sql.streaming.noDataMicroBatches.enabled"
    if final_nodata is None:
        final_nodata = mode == "append"
    if partitions is None:
        partitions = _REPLAY_SHUFFLE_PARTITIONS
    with _REPLAY_LOCK:
        prev = spark.conf.get(key)
        prev_n = spark.conf.get(nkey)
        spark.conf.set(key, str(partitions))
        spark.conf.set(nkey, "true" if final_nodata else "false")
        try:
            q = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            # the confs are read at .start(); restore them before any
            # batch work resumes (replay is synchronous within the lock)
            spark.conf.set(key, prev)
            spark.conf.set(nkey, prev_n)
    return spark.table(name)


# the batch twins ARE the oracles: identical builder => identical SQL
# twin (aliased, not copied — resolved lazily by registry.oracles())
registry.ORACLE_ALIASES["stream_tumbling_hourly"] = "ts_tumbling_hourly"
registry.ORACLE_ALIASES["stream_session_window"] = "ts_session_window"
registry.ORACLE_ALIASES["stream_sliding_1h_30m"] = "ts_sliding_1h_30m"


@register("stream_tumbling_hourly")
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_tumbling_hourly, executed as a watermarked stream. Complete
    mode on the bounded replay emits every window once the source
    drains — byte-equal to the batch groupBy."""
    from mapreducecf_spark.streaming.windows import (
        stream_events,
        streaming_tumbling_hourly,
    )

    return _replay(spark, streaming_tumbling_hourly(stream_events(spark, sf_dir)), "complete")


registry.ORACLE_ALIASES["stream_trending_events"] = "ts_trending_events"


@register("stream_trending_events")
def stream_trending_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-by-hour at the stream edge: the watermarked tumbling
    rollup runs AS A STREAM (complete mode over the bounded replay —
    the same hourly (window, event_type) counts the batch twin
    aggregates), and the per-hour top-k rank runs batch-side over the
    drained sink table — the standard lambda-free serving shape, where
    the expensive rollup is incremental/streaming and the cheap rank
    is recomputed per refresh from hours × types rows. Graded under
    ``ts_trending_events``'s oracle: identical counts => identical
    ranks (deterministic event_type tiebreak)."""
    from mapreducecf_spark.queries.timeseries import trending_rank
    from mapreducecf_spark.streaming.windows import (
        stream_events,
        streaming_tumbling_hourly,
    )

    drained = _replay(
        spark, streaming_tumbling_hourly(stream_events(spark, sf_dir)), "complete"
    )
    return trending_rank(drained.select("window_start", "event_type", "n_events"))


@register("stream_session_window")
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_session_window as a stream: per-user session merge runs in
    the streaming state store (the same sort-based sessionization the
    batch plan uses); complete mode emits the merged sessions when the
    bounded source drains (session aggregations reject update mode,
    and append would hold back every session the final watermark
    hasn't passed)."""
    from mapreducecf_spark.streaming.windows import (
        stream_events,
        streaming_session_per_user,
    )

    return _replay(
        spark, streaming_session_per_user(stream_events(spark, sf_dir)), "complete"
    )


@register(
    "stream_dedup_within_watermark",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-edge streaming dedup (dropDuplicatesWithinWatermark
    keyed on event_id): state holds each key only until the watermark
    passes it. event_id is unique in the table, so the replay must
    emit every row exactly once — the oracle is the table itself."""
    from mapreducecf_spark.streaming.windows import stream_events, streaming_dedup

    return _replay(spark, streaming_dedup(stream_events(spark, sf_dir)), "append")


@register(
    "stream_running_user_totals",
    oracle="""
SELECT user_id, count(*) AS n_events, round(sum(value), 6) AS total_value
FROM events GROUP BY user_id
""",
)
def stream_running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom applyInPandasWithState accumulator, driver-graded: on
    a bounded replay the final per-user state equals the batch
    aggregate. Rounded on output only (the operator itself keeps the
    raw accumulator) so cross-engine float summation order can't flip
    the hash."""
    from mapreducecf_spark.streaming.stateful import running_user_totals
    from mapreducecf_spark.streaming.windows import stream_events

    # state-store count scaled to cores for THIS row (r19): the fold is
    # a per-key Python accumulator — the stateful operator's partition
    # count is its only parallelism, and the per-store fixed cost is
    # dwarfed by the Python work (A/B at sf0.1 on local[32]: 4.6 s at
    # the 2-store knee vs 2.5-3.0 s at 8). Adaptive, not a constant:
    # cores//4 capped to the measured flat region, floor at the knee.
    par = spark.sparkContext.defaultParallelism
    out = _replay(
        spark,
        running_user_totals(stream_events(spark, sf_dir)),
        "update",
        partitions=max(2, min(8, par // 4)),
    )
    # Batch-count independence: update mode appends one row per user per
    # micro-batch that touched them. availableNow usually drains the
    # parquet source in a single batch, but if it ever splits (multiple
    # input files + maxFilesPerTrigger, source-size heuristics) a user
    # would appear once per batch. n_events strictly increases across a
    # user's emissions, so the final state is max(n_events) and its
    # accompanying total (max_by) — reducing the sink this way makes the
    # graded output identical whether the replay ran as 1 batch or 50.
    final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )
    return final.select(
        "user_id", "n_events", F.round("total_value", 6).alias("total_value")
    )


@register("stream_sliding_1h_30m")
def stream_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_sliding_1h_30m as a watermarked stream: each event lands in
    its two overlapping hour windows inside the state store; complete
    mode on the drained replay equals the batch aggregation (same
    shared builder, same aliased oracle)."""
    from mapreducecf_spark.streaming.windows import stream_events, streaming_sliding

    return _replay(spark, streaming_sliding(stream_events(spark, sf_dir)), "complete")


registry.ORACLE_ALIASES["stream_wordcount"] = "wordcount"


@register("stream_wordcount")
def stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference query — word count (SURVEY.md §0) — executed as a
    Structured Stream: ``readStream`` file source over the documents
    parquet, the SAME ``word_count`` builder the batch flagship uses
    (tokenize → case fold → groupBy count), complete-mode memory sink
    on an ``availableNow`` drain. Grading it against the batch
    wordcount's oracle proves the reference's entire query surface runs
    unchanged in both execution modes — the strongest possible
    batch/stream parity statement for the operator the reference exists
    to compute. Complete mode re-emits the whole aggregate on the final
    drained batch, so the sink equals the batch result regardless of
    how many micro-batches the source split into.

    At scale the file source becomes Kafka and the memory sink becomes
    the checkpointed lake sink — the word_count builder line does not
    change (that is the point of sharing it)."""
    from mapreducecf_spark.operators.wordcount import word_count
    from mapreducecf_spark.streaming.windows import stream_table

    docs = stream_table(spark, sf_dir, "documents")
    return _replay(spark, word_count(docs, col="text"), "complete")


registry.ORACLE_ALIASES["stream_quality_filter"] = "pipe_quality_filter_chain"


@register("stream_quality_filter")
def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus quality filter applied to an INCOMING crawl
    feed: ``readStream`` over the documents parquet through the SAME
    ``quality_filter`` builder the batch query uses, append mode. The
    filter is stateless (pure per-row array math — no watermark, no
    state store), so append mode emits each document's keep/drop
    decision exactly once and the drained replay is byte-equal to the
    batch result under the batch query's own oracle. This is the
    deployment shape of corpus filtering at 100 TB: a map-only stream
    between the crawler and the lake, horizontally scalable with zero
    shuffle."""
    from mapreducecf_spark.queries.pipeline import quality_filter
    from mapreducecf_spark.streaming.windows import stream_table

    docs = stream_table(spark, sf_dir, "documents")
    return _replay(spark, quality_filter(docs), "append")


def _inc_stream_oracle() -> str:
    # lazy (see module NOTE): pipeline may itself be mid-import when an
    # entry point touches the streaming package first
    from mapreducecf_spark.queries.pipeline import _INC_CTES_SQL

    return f"""
WITH {_INC_CTES_SQL},
probed AS (
  SELECT n.doc_id, i.keeper
  FROM new n LEFT JOIN idx i ON n.fp = i.fp)
SELECT doc_id,
       CASE WHEN keeper IS NULL THEN 'novel' ELSE 'known_dup' END AS verdict,
       CAST(coalesce(keeper, -1) AS BIGINT) AS keeper
FROM probed
"""


@register("stream_incremental_dedup", oracle=_inc_stream_oracle)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup at the ingestion edge, as a STREAM-STATIC
    JOIN — the canonical Structured Streaming shape the batch twin
    (pipe_incremental_dedup) runs day-to-day: the arriving crawl
    increment is a stream, the historical fingerprint index is a
    static table, and each arriving document is classified
    novel/known_dup the moment it lands. Same ``increment_batch``
    builder over a ``readStream`` source, same static
    ``incremental_fp_index``; the join is stateless per-row work
    (stream-static joins need no watermark or state store), so append
    mode emits one verdict per arriving doc and the drained replay is
    byte-equal to the batch probe — graded per-document (the batch twin
    grades the rollup).

    At 100 TB: the index is the persisted dedup table, the stream is
    the crawler feed, and novel docs flow on to the quality/near-dup
    stages while known dups short-circuit — nothing re-fingerprints
    history, and the static side is broadcast or shuffle-joined on
    uniform md5 keys exactly as in batch."""
    from mapreducecf_spark.queries.pipeline import (
        increment_batch,
        incremental_fp_index,
    )
    from mapreducecf_spark.sources import load_table
    from mapreducecf_spark.streaming.windows import stream_table

    idx = incremental_fp_index(load_table(spark, sf_dir, "documents"))
    docs = stream_table(spark, sf_dir, "documents")
    probed = increment_batch(docs).join(idx, "fp", "left")
    out = probed.select(
        "doc_id",
        F.when(F.col("keeper").isNull(), "novel")
        .otherwise("known_dup")
        .alias("verdict"),
        F.coalesce("keeper", F.lit(-1)).cast("bigint").alias("keeper"),
    )
    return _replay(spark, out, "append")


@register(
    "stream_state_inspection",
    oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
""",
)
def stream_state_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 STATE STORE READER graded end to end — the
    operational surface that makes stateful streaming debuggable at
    100 TB: run the per-user running aggregation to completion against
    a real checkpoint, then read the state store back as a DataFrame
    (``spark.read.format("statestore")``) and grade the recovered
    per-user state against the batch aggregate. This is the only query
    that inspects what the engine PERSISTED (key/value structs per
    shuffle partition), not what it emitted — the tool an operator
    reaches for when a production stream's state grows or skews: which
    keys, which partitions, how big, without replaying anything.

    Fresh checkpoint per (session, sf) — torn down like
    stream_lake_roundtrip so regenerated testdata can never leave
    stale state behind; a real deployment keeps the checkpoint and
    reads the live one."""
    import os
    import shutil

    from mapreducecf_spark.memo import session_value
    from mapreducecf_spark.queries.storage import _OUT_ROOT, _tag

    tag = _tag(sf_dir)
    ckpt = os.path.join(_OUT_ROOT, f"state_inspect_ckpt_{tag}")

    def run() -> None:
        from mapreducecf_spark.streaming.windows import stream_events

        shutil.rmtree(ckpt, ignore_errors=True)
        agg = stream_events(spark, sf_dir).groupBy("user_id").agg(
            F.count("*").alias("n_events")
        )
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    session_value(spark, ("written", f"state_inspect:{tag}"), run)
    commits = os.path.join(ckpt, "commits")
    if not (os.path.isdir(commits) and any(
        not f.startswith(".") for f in os.listdir(commits)
    )):
        # an EMPTY source drains without committing any micro-batch and
        # the state reader refuses a commit-less checkpoint — an empty
        # corpus means empty state, not an error
        return spark.createDataFrame([], "user_id bigint, n_events bigint")
    st = spark.read.format("statestore").load(ckpt)
    return st.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").cast("bigint").alias("n_events"),
    )


registry.ORACLE_ALIASES["stream_semantic_dedup"] = "dedup_semantic_ivf"


@register("stream_semantic_dedup")
def stream_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup at the INGESTION EDGE — the streaming twin of
    dedup_semantic_ivf: arriving embeddings flow through the Arrow
    cluster-assignment stage (the memoized k-means codebook shipped to
    the workers as a closure — the broadcast-model serving shape), a
    stream-static semi-join applies the deterministic per-cluster
    participation cap, and a stream-static equi-join on cluster id
    probes the static capped member index for exact-cosine matches
    with a SMALLER id (earlier corpus = the index, exactly like
    stream_incremental_dedup's fingerprint probe). Every stage is
    stateless per-row work — no watermark, no state store — so append
    mode emits each verified pair exactly once and the drained replay
    equals the batch pairwise stage, graded under the batch query's
    oracle.

    At 100 TB: codebook + capped membership are materialized tables;
    the arriving crawl/embedding feed classifies against them online,
    novel vectors append to the index downstream — semantic dedup
    without re-clustering history."""
    from mapreducecf_spark.queries.similarity import (
        NEARDUP_THRESHOLD,
        _capped_members,
        _codebook_best,
        _codebook_cmat,
        _cos,
        _norm,
        codebook_centroids,
    )

    # the member index and the centroid list live in SEPARATE memo
    # stores (session_memo vs the driver-side codebook dict); the
    # accessor retrains if the codebook memo was cleared independently
    # rather than KeyError-ing (r06 advice)
    idx = _capped_members(spark, sf_dir)
    cent = codebook_centroids(spark, sf_dir)
    cids, cn = _codebook_cmat(cent)

    from mapreducecf_spark.streaming.windows import stream_table

    stream = (
        stream_table(spark, sf_dir, "embeddings")
        # NULL-vector policy (load_vectors), applied at the stream edge
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )

    def assign_fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "cid": cids[_codebook_best(V, cn)].astype(np.int32),
                    "embedding": list(pdf["embedding"]),
                }
            )

    assigned = stream.mapInPandas(
        assign_fn, "vec_id bigint, cid int, embedding array<float>"
    ).withColumn("nrm", _norm(F.col("embedding")))
    # per-cluster participation cap: membership in the static capped
    # index (left-semi keeps the stream side streaming)
    arriving = assigned.join(idx.select("vec_id"), "vec_id", "semi")
    probe = idx.select(
        "cid",
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    pairs = (
        arriving.join(probe, "cid")
        .filter(F.col("ida") < F.col("vec_id"))
        .select(
            "ida",
            F.col("vec_id").alias("idb"),
            "cid",
            _cos(
                F.col("ea"), F.col("na"), F.col("embedding"), F.col("nrm")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= NEARDUP_THRESHOLD)
    )
    return _replay(spark, pairs, "append")


registry.ORACLE_ALIASES["stream_attribution_join"] = "ts_attribution_join"


@register("stream_attribution_join")
def stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM event-time join — the last Structured Streaming
    join shape the surface lacked: views and purchases arrive as two
    watermarked streams, and each purchase pairs with the user's views
    from the preceding {30 minutes} as state on BOTH sides. The
    user_id equality + two-sided event-time bounds are exactly what
    lets Spark evict a view's state once the watermark passes
    view_ts + window (unbounded-state joins are rejected in streaming).
    Same ``attribution_join`` builder as the batch twin, append mode on
    the drained replay == the batch join, graded under the batch
    query's oracle.

    At 100 TB this is the attribution join running ON the ingest
    streams — no daily batch landing required before funnel metrics
    exist; state is bounded by (window × per-user view rate), not
    history."""
    from mapreducecf_spark.queries.timeseries import attribution_join
    from mapreducecf_spark.streaming.windows import stream_events

    ev = stream_events(spark, sf_dir)
    # event_type filter BEFORE withWatermark (ADVICE r08): each side's
    # watermark operator must track the max ts of its own slice by
    # construction, not via Catalyst happening to push the filter
    # below the EventTimeWatermark node.
    views = ev.filter(F.col("event_type") == "view").withWatermark("ts", "1 hour")
    purchases = ev.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "1 hour"
    )
    return _replay(spark, attribution_join(views, purchases), "append")


@register(
    "stream_attribution_outer",
    oracle="""
WITH wm AS (
  SELECT least(
    (SELECT max(ts) FROM events WHERE event_type = 'view'),
    (SELECT max(ts) FROM events WHERE event_type = 'purchase')
  ) - INTERVAL 1 HOUR AS w),
v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
      FROM events WHERE event_type = 'view'),
p AS (SELECT user_id AS p_user_id, event_id AS purchase_id,
             ts AS purchase_ts, value AS purchase_value
      FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT v.user_id, v.view_id, p.purchase_id, p.purchase_value,
         epoch_us(p.purchase_ts) - epoch_us(v.view_ts) AS us_to_convert,
         v.view_ts
  FROM v LEFT JOIN p ON p.p_user_id = v.user_id
                    AND p.purchase_ts > v.view_ts
                    AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE)
SELECT user_id, view_id, purchase_id, purchase_value, us_to_convert
FROM j CROSS JOIN wm
WHERE purchase_id IS NOT NULL OR view_ts + INTERVAL 30 MINUTE < w
""",
)
def stream_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER attribution join (VERDICT r07 item 5)
    — the state-EVICTION semantics the inner join never exercises: a
    view with no purchase inside the {30-minute} horizon emits with
    NULL purchase columns only once the watermark proves a match
    impossible (watermark > view_ts + window), which is exactly when
    Spark evicts the view's state. Matched pairs emit immediately,
    identical to the inner join.

    The oracle is the batch left join WITH THE WATERMARK CUTOFF
    mirrored: on a drained availableNow replay the final no-data
    micro-batch advances the global watermark to min over the two
    watermark operators — and because each side's event_type filter is
    applied BEFORE ``withWatermark`` (not left for Catalyst to push
    below the EventTimeWatermark node — ADVICE r08), each operator
    tracks the max ts of ITS OWN slice by construction, so w =
    least(max view ts, max purchase ts) − 1h (strict `<` at the
    boundary; the shared-source pytest pins this without relying on an
    optimizer rule). Unmatched views younger than (w − 30min) are still in
    state when the query stops — exactly the `view_ts + 30min < w`
    residual in the SQL. That residual is real production semantics,
    not a test artifact: a live pipeline's unmatched tail is always
    pending until the watermark passes it (the incremental-replay
    eviction pytest pins the per-batch behavior).

    At 100 TB: state is bounded by (horizon × per-user view rate) on
    the left and the 30-minute purchase window on the right — the
    outer emission adds no state, it rides the same eviction scan."""
    from mapreducecf_spark.queries.timeseries import attribution_join
    from mapreducecf_spark.streaming.windows import stream_events

    ev = stream_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").withWatermark("ts", "1 hour")
    purchases = ev.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "1 hour"
    )
    return _replay(spark, attribution_join(views, purchases, "left"), "append")


@register(
    "stream_attribution_full_outer",
    oracle="""
WITH wm AS (
  SELECT least(
    (SELECT max(ts) FROM events WHERE event_type = 'view'),
    (SELECT max(ts) FROM events WHERE event_type = 'purchase')
  ) - INTERVAL 1 HOUR AS w),
v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
      FROM events WHERE event_type = 'view'),
p AS (SELECT user_id AS p_user_id, event_id AS purchase_id,
             ts AS purchase_ts, value AS purchase_value
      FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT coalesce(v.user_id, p.p_user_id) AS user_id,
         v.view_id, p.purchase_id, p.purchase_value,
         epoch_us(p.purchase_ts) - epoch_us(v.view_ts) AS us_to_convert,
         v.view_ts, p.purchase_ts
  FROM v FULL JOIN p ON p.p_user_id = v.user_id
                    AND p.purchase_ts > v.view_ts
                    AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE)
SELECT user_id, view_id, purchase_id, purchase_value, us_to_convert
FROM j CROSS JOIN wm
WHERE (view_id IS NOT NULL AND purchase_id IS NOT NULL)
   OR (purchase_id IS NULL AND view_ts + INTERVAL 30 MINUTE < w)
   OR (view_id IS NULL AND purchase_ts < w)
""",
)
def stream_attribution_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER attribution join (VERDICT r08 item 7)
    — the last watermark-eviction semantics the surface didn't
    exercise: BOTH sides null-emit on proved no-match. Unmatched
    views emit once the watermark passes view_ts + {30min} (as in the
    left-outer query); unmatched PURCHASES emit once the watermark
    passes purchase_ts itself — a matching view would need
    view_ts ∈ (purchase_ts − 30min, purchase_ts), and the watermark
    at w proves nothing older than w can still arrive, so w ≥
    purchase_ts closes the window (strict ``<`` at the boundary,
    same empirical pin as the view side, exercised by the planted
    both-sides-eviction pytest).

    Same per-side pre-``withWatermark`` event_type filters as the
    outer query, so w = least(max view ts, max purchase ts) − 1h by
    construction. The drained-replay residuals mirror that exactly in
    the oracle's WHERE. user_id is coalesced across sides, so the
    report stays keyed for every row.

    At 100 TB this is the reconciliation feed: matched conversions,
    expired impressions (view, NULL purchase), and orphan conversions
    (NULL view, purchase) — the third class is what a tracking outage
    looks like, and only a FULL outer join surfaces it from the same
    state the attribution join already keeps (no extra state: both
    eviction scans exist in the left-outer plan too)."""
    from mapreducecf_spark.queries.timeseries import attribution_join
    from mapreducecf_spark.streaming.windows import stream_events

    ev = stream_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").withWatermark("ts", "1 hour")
    purchases = ev.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "1 hour"
    )
    return _replay(spark, attribution_join(views, purchases, "full"), "append")


def _attribution_enriched_sql() -> str:
    # LAZY: composes over the registered full-outer oracle VERBATIM,
    # so the two can never drift (the _rec_coverage_sql convention)
    from mapreducecf_spark.registry import ORACLES

    feed = ORACLES["stream_attribution_full_outer"]
    feed = feed() if callable(feed) else feed
    return f"""
WITH feed AS ({feed}
)
SELECT f.user_id, f.purchase_id, f.purchase_value,
       c.c_name AS cust_name, c.c_mktsegment AS segment
FROM feed f LEFT JOIN customer c ON c.c_custkey = f.user_id
WHERE f.view_id IS NULL
"""


@register("stream_attribution_enriched", oracle=_attribution_enriched_sql)
def stream_attribution_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment of the full-outer reconciliation feed
    (VERDICT r10 item 7): the orphan-conversion triage report. The
    full-outer attribution join surfaces purchases with no tracked
    impression (NULL view side — what a tag outage or an untracked
    surface looks like); this query filters the live feed to those
    orphans and LEFT-joins them to the STATIC customer dimension, so
    the on-call sees who converted untracked (name, market segment)
    without leaving the stream.

    Mechanics this adds to the surface: a stream-static join — the
    static side is a batch DataFrame joined per micro-batch with no
    state of its own (Spark re-plans the static side each batch; the
    stream side keeps the same watermark state the full-outer join
    already pays), broadcast because a bounded dimension beside an
    unbounded stream is THE broadcast case. The orphan filter is a
    stateless post-join predicate, so eviction semantics (purchase_ts
    < watermark emits the NULL-view row) are exactly the full-outer
    query's — and the oracle composes VERBATIM over that query's
    registered oracle, filtered and joined the same way. LEFT join
    keeps orphans whose user never joined the dim (tracking ids
    outside the customer universe — itself a signal).

    At 100 TB: state unchanged from the full-outer join; the dim
    broadcast is O(|customers in the serving set|) and a deployment
    with a huge dim swaps in a keyed state store — the stream side's
    plan is identical either way."""
    from mapreducecf_spark.queries.timeseries import attribution_join
    from mapreducecf_spark.sources import load_table
    from mapreducecf_spark.streaming.windows import stream_events

    ev = stream_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").withWatermark("ts", "1 hour")
    purchases = ev.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "1 hour"
    )
    feed = attribution_join(views, purchases, "full")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_name").alias("cust_name"),
        F.col("c_mktsegment").alias("segment"),
    )
    orphans = feed.filter(F.col("view_id").isNull()).select(
        "user_id", "purchase_id", "purchase_value"
    )
    enriched = orphans.join(F.broadcast(cust), "user_id", "left")
    return _replay(spark, enriched, "append")


@register(
    "stream_lake_roundtrip",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1
""",
)
def stream_lake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION egress path graded end to end: events stream →
    ``write_stream_to_lake`` (checkpointed foreachBatch, day-partitioned
    parquet through the same batch ``sinks.write_table``) → read the
    lake back → per-day rollup, hash-checked against the source table.
    This is the only pipeline that exercises the checkpoint/exactly-once
    machinery under the correctness gate: the memory-sink queries prove
    the transformations, this one proves the LANDING — batch ids,
    dynamic partition append, partition discovery on read.

    Fresh checkpoint+output per (session, sf) — both are torn down
    before the replay so a regenerated source can never double-append
    (the checkpoint pins source progress, the teardown pins the test's
    determinism; a real deployment keeps both forever and appends only
    increments)."""
    import os
    import shutil

    from mapreducecf_spark.memo import session_value
    from mapreducecf_spark.queries.storage import _OUT_ROOT, _tag
    from mapreducecf_spark.streaming.windows import stream_events, write_stream_to_lake

    tag = _tag(sf_dir)
    out = os.path.join(_OUT_ROOT, f"lake_rt_{tag}")
    ckpt = os.path.join(_OUT_ROOT, f"lake_rt_ckpt_{tag}")

    def write() -> None:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        q = write_stream_to_lake(stream_events(spark, sf_dir), out, ckpt)
        q.awaitTermination()
        # an empty source drains without ever invoking the batch sink,
        # so the lake dir may not exist — the reader below must see an
        # empty lake, not a missing path
        os.makedirs(out, exist_ok=True)

    session_value(spark, ("written", f"lake_rt:{tag}"), write)
    from mapreducecf_spark.sources import load_table

    lake_schema = (
        load_table(spark, sf_dir, "events")
        .withColumn("day", F.to_date(F.date_trunc("day", "ts")))
        .schema
    )
    # declared schema (production readers always do): inference fails
    # on a lake with zero landed files
    lake = spark.read.schema(lake_schema).parquet(out)
    return lake.groupBy(F.col("day").cast("date").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


registry.ORACLE_ALIASES["stream_pq_encode"] = "sim_pq_encode"


@register("stream_pq_encode")
def stream_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding at the INGESTION EDGE — the online half of the
    vector-compression story: arriving embeddings are encoded against
    the STATIC broadcast codebook (the same per-subspace k-means||
    + Lloyd-trained sub-codebooks the batch query uses, r12) as a
    stateless per-row projection — no watermark, no state store,
    append mode emits each code exactly once, and the drained replay
    equals the batch encode bit-for-bit (graded under
    ``sim_pq_encode``'s oracle).

    This is the standard split for a 100 TB vector pipeline: train
    the codebook offline on the corpus, then compress every arriving
    embedding online before it ever lands, so the raw float vector
    never hits the index tier."""
    from mapreducecf_spark.queries.similarity import _pq_codebook, pq_encode_df
    from mapreducecf_spark.streaming.windows import stream_table

    cb = _pq_codebook(spark, sf_dir)
    if not cb:
        return spark.createDataFrame(
            [], "vec_id bigint, code string, err_micro bigint"
        )
    stream = (
        stream_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    return _replay(spark, pq_encode_df(stream, cb), "append")


def _anomaly_alerts_oracle() -> str:
    from mapreducecf_spark.queries.timeseries import (
        MAD_RZ_SQL,
        MAD_STATS_SQL,
        MAD_Z,
    )

    return f"""
WITH {MAD_STATS_SQL.strip()}
SELECT e.event_id, e.event_type, {MAD_RZ_SQL} AS rz
FROM events e JOIN mad s USING (event_type)
WHERE abs({MAD_RZ_SQL}) > {MAD_Z}
"""


@register("stream_anomaly_alerts", oracle=_anomaly_alerts_oracle)
def stream_anomaly_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online anomaly alerting: the arriving event feed is scored
    against the STATIC robust baseline (per-type median/MAD from the
    batch table — "yesterday's corpus", the deployment shape where the
    baseline retrains offline and ships to the stream) and only
    breaches |z| > MAD_Z flow out — the alert stream a pager hangs off.

    Stateless stream-static broadcast join + scan-fused arithmetic: no
    watermark, no state store, append mode emits each alert exactly
    once, horizontally scalable with zero shuffle on the stream side.
    The oracle is the per-event batch equivalent over the same table —
    the score is rounded before the threshold compare so the alert
    set replays exactly."""
    from mapreducecf_spark.queries.timeseries import MAD_Z, mad_rz, mad_stats
    from mapreducecf_spark.streaming.windows import stream_table

    ev = stream_table(spark, sf_dir, "events")
    stats = mad_stats(spark, sf_dir)
    rz = mad_rz()
    scored = ev.join(F.broadcast(stats), "event_type").select(
        "event_id", "event_type", rz.alias("rz")
    )
    return _replay(
        spark, scored.filter(F.abs(F.col("rz")) > MAD_Z), "append"
    )


registry.ORACLE_ALIASES["stream_value_histogram"] = "ts_value_histogram"


@register("stream_value_histogram")
def stream_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aligned-bin histogram maintained ONLINE over the arriving
    event feed — the live drift monitor next to the batch profile:
    bin bounds come from the STATIC batch table (the published
    baseline grid), the stream folds each event into its bin, and
    complete-mode aggregation keeps the running histogram current per
    micro-batch. Bounded state by construction (|types|×bins rows —
    the aggregation state IS the histogram), no watermark needed.
    Same ``histogram_agg`` builder as the batch twin, so the drained
    replay equals the batch result under the batch oracle."""
    from mapreducecf_spark.queries.timeseries import histogram_agg
    from mapreducecf_spark.sources import load_table
    from mapreducecf_spark.streaming.windows import stream_table

    ev = stream_table(spark, sf_dir, "events")
    bounds = load_table(spark, sf_dir, "events").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    return _replay(spark, histogram_agg(ev, bounds), "complete")


def _stream_minhash_oracle() -> str:
    from mapreducecf_spark.queries.dedup import (
        _SHINGLES_SQL,
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_K,
    )

    mins = ",\n       ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(MINHASH_K)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {j} AS band, "
        f"md5({' || '.join(f'h{j * LSH_ROWS + r}' for r in range(LSH_ROWS))}) AS bkey "
        "FROM sigs"
        for j in range(LSH_BANDS)
    )
    msig = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K)
    )
    ms_min = _ms_min()
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
sigs AS (
  SELECT doc_id,
       {mins}
  FROM sh GROUP BY doc_id),
bands AS (
{band_selects}),
cand AS (
  SELECT s.doc_id, i.doc_id AS cand
  FROM bands s JOIN bands i
    ON i.band = s.band AND i.bkey = s.bkey AND i.doc_id <> s.doc_id
  GROUP BY 1, 2),
est AS (
  SELECT c.doc_id, c.cand, ({msig}) AS msig
  FROM cand c JOIN sigs a ON a.doc_id = c.doc_id
              JOIN sigs b ON b.doc_id = c.cand)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_cand,
       CAST(sum(CASE WHEN msig >= {ms_min} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near,
       (sum(CASE WHEN msig >= {ms_min} THEN 1 ELSE 0 END) > 0) AS is_neardup
FROM est GROUP BY 1
"""


def _ms_min() -> int:
    """Smallest matching-signature count whose Jaccard ESTIMATE
    msig / MINHASH_K clears the family threshold — integerized so the
    verdict never compares floats. Lazy (module-body imports of
    queries.dedup would reorder the registry's import sequence)."""
    import math

    from mapreducecf_spark.queries.dedup import JACCARD_THRESHOLD, MINHASH_K

    return math.ceil(JACCARD_THRESHOLD * MINHASH_K - 1e-9)


@register("stream_minhash_neardup", oracle=_stream_minhash_oracle)
def stream_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textual near-dup screening at the ingestion edge — the MinHash
    member of the streaming-dedup trio (exact fingerprints:
    ``stream_incremental_dedup``; embeddings: ``stream_semantic_dedup``;
    this: shingle-level near-dups): each arriving document computes
    its {_MK}-entry MinHash signature ROW-WISE (the shingle set comes
    from the doc's own text, so the signature is a stateless
    projection — ``array_min`` over md5-seeded transforms, no
    aggregation before the join), fans out to its {4} LSH band keys,
    probes the STATIC banded signature index (stream-static equi-join,
    no state), scores each banded candidate by the matching-signature
    estimate against the static signature table, and one complete-mode
    per-doc aggregation emits (n_cand, n_near, is_neardup) — the
    verdict row an ingestion pipeline routes on. ``collect_set`` (not
    the unsupported streaming count-distinct) dedups candidates that
    collide in several bands; set size is bounded by band-bucket
    occupancy, the same banded-volume bound the batch LSH path relies
    on. Self-matches are excluded by doc_id (the replayed feed IS the
    indexed corpus, so every doc would otherwise match itself).

    Verdict arithmetic is integer-only: near ⇔ msig ≥ ceil(threshold × MINHASH_K)
    — no float enters the stream. Oracle
    replays signature, banding, probe and estimate; on the bounded
    replay the drained complete-mode table equals the batch
    computation."""
    from mapreducecf_spark.operators.wordcount import tokens_array
    from mapreducecf_spark.queries.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_K,
        SHINGLE_K,
        _band_keys,
        _minhash_sigs_memo,
    )
    from mapreducecf_spark.streaming.windows import stream_table

    sigs = _minhash_sigs_memo(spark, sf_dir)
    idx = _band_keys(sigs).select(
        F.col("doc_id").alias("cand"), "band", "bkey"
    )
    docs = _spread_arrivals(
        spark, sf_dir, "documents",
        stream_table(spark, sf_dir, "documents"), "doc_id",
    )
    toks = tokens_array(F.col("text"))
    length = F.size(toks) - (SHINGLE_K - 1)
    parts = [F.slice(toks, F.lit(j + 1), length) for j in range(SHINGLE_K)]
    sh = parts[0]
    for p in parts[1:]:
        sh = F.zip_with(sh, p, lambda x, y: F.concat_ws(" ", x, y))
    shs = F.array_distinct(sh)
    hcols = [
        F.array_min(
            F.transform(
                F.col("shs"), lambda x: F.md5(F.concat_ws(":", F.lit(str(i)), x))
            )
        ).alias(f"h{i}")
        for i in range(MINHASH_K)
    ]
    sig_s = (
        docs.filter(F.size(toks) >= SHINGLE_K)
        .select("doc_id", shs.alias("shs"))
        .select("doc_id", *hcols)
    )
    bands_s = sig_s.select(
        "doc_id",
        *[F.col(f"h{i}") for i in range(MINHASH_K)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.md5(
                            F.concat(
                                *[
                                    F.col(f"h{j * LSH_ROWS + r}")
                                    for r in range(LSH_ROWS)
                                ]
                            )
                        ).alias("bkey"),
                    )
                    for j in range(LSH_BANDS)
                ]
            )
        ).alias("b"),
    ).select(
        "doc_id",
        *[F.col(f"h{i}") for i in range(MINHASH_K)],
        F.col("b.band").alias("band"),
        F.col("b.bkey").alias("bkey"),
    )
    cand_sigs = sigs.select(
        F.col("doc_id").alias("cand"),
        *[F.col(f"h{i}").alias(f"ch{i}") for i in range(MINHASH_K)],
    )
    msig = sum(
        F.when(F.col(f"h{i}") == F.col(f"ch{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    )
    ms_min = _ms_min()
    probed = (
        bands_s.join(idx, ["band", "bkey"])
        .filter(F.col("cand") != F.col("doc_id"))
        .join(cand_sigs, "cand")
        .select("doc_id", "cand", msig.alias("msig"))
    )
    near_set = F.array_distinct(
        F.collect_list(F.when(F.col("msig") >= ms_min, F.col("cand")))
    )
    out = probed.groupBy("doc_id").agg(
        F.size(F.array_distinct(F.collect_list("cand"))).cast("bigint").alias("n_cand"),
        F.size(near_set).cast("bigint").alias("n_near"),
        (F.size(near_set) > 0).alias("is_neardup"),
    )
    return _replay(spark, out, "complete")


registry.ORACLE_ALIASES["stream_card_deltas"] = "pipe_card_deltas"


@register("stream_card_deltas")
def stream_card_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(source, day) CDC delta ledger maintained ONLINE — the
    streaming twin of ``pipe_card_deltas``: the change feed arrives as
    a stream (same ``card_deltas_changes`` projection over the
    ``readStream`` source), each change probes the STATIC base
    snapshot for its old token count (a stateless stream-static left
    join — no watermark, no join state), and one complete-mode
    aggregation keeps the running (source, day) ledger current per
    micro-batch. Bounded state by construction: |sources|×{{days}}
    rows — the aggregation state IS the ledger. Shared builders ⇒ the
    drained replay equals the batch result under the batch oracle
    (oracle aliased)."""
    from mapreducecf_spark.queries.pipeline import (
        card_deltas_agg,
        card_deltas_base,
        card_deltas_changes,
    )
    from mapreducecf_spark.sources import load_table
    from mapreducecf_spark.streaming.windows import stream_table

    base = card_deltas_base(load_table(spark, sf_dir, "documents"))
    ch = card_deltas_changes(stream_table(spark, sf_dir, "documents"))
    return _replay(spark, card_deltas_agg(ch, base), "complete")


def _stream_drift_psi_oracle() -> str:
    from mapreducecf_spark.queries.pipeline import PSI_BINS, _PSI_QS_SQL

    return f"""
WITH ev AS (SELECT ts, value AS v FROM events WHERE value IS NOT NULL),
sp AS (SELECT quantile_cont(epoch_us(ts), 0.5) AS s FROM ev),
old_s AS (SELECT v FROM ev, sp WHERE epoch_us(ts) <= s),
new_s AS (SELECT v FROM ev, sp WHERE epoch_us(ts) > s),
bnd AS (SELECT quantile_cont(v, {_PSI_QS_SQL}) AS bs FROM old_s),
oc AS (
  SELECT len(list_filter(b.bs, x -> s.v > x)) AS bin, count(*) AS n
  FROM old_s s, bnd b GROUP BY 1),
nc AS (
  SELECT len(list_filter(b.bs, x -> s.v > x)) AS bin, count(*) AS n
  FROM new_s s, bnd b GROUP BY 1),
j AS (
  SELECT t.i AS bin,
         coalesce(oc.n, 0) AS n_old, coalesce(nc.n, 0) AS n_new,
         (SELECT sum(n) FROM oc) AS tot_old,
         (SELECT sum(n) FROM nc) AS tot_new
  FROM range({PSI_BINS}) t(i)
  LEFT JOIN oc ON oc.bin = t.i LEFT JOIN nc ON nc.bin = t.i),
terms AS (
  SELECT bin, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
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
"""


@register("stream_drift_psi", oracle=_stream_drift_psi_oracle)
def stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift monitor maintained ONLINE
    (VERDICT r11/r12 carry) — the streaming sibling of
    ``pipe_drift_psi``: the published baseline is the feed's OLD half
    (events at or before the median timestamp — the snapshot a
    monitoring deployment froze its decile boundaries from), and the
    LIVE half (events after the median) streams through those
    broadcast boundaries. The stream folds each event into its
    baseline decile and keeps the running per-decile counts current in
    complete mode — exactly ``stream_value_histogram``'s bounded-state
    shape ({PSI_BINS} rows of aggregation state, no watermark). The
    add-one-smoothed PSI terms (floored integer micro-units, the batch
    query's exact discipline) and the total attach batch-side over the
    drained counts, because PSI needs the grand total — an
    aggregation-over-aggregation no single streaming query may chain
    (the ``stream_trending_events`` split).

    The decile boundaries and the median split ride into the stream as
    PLAN LITERALS (a one-row, {PSI_BINS}-double collect — the bounded
    O(K) codebook discipline), so the hot path is scan-fused
    arithmetic: no stream-static join, no shuffle beyond the
    {PSI_BINS}-row state. At 100 TB/day the baseline side is a frozen
    artifact and the stream side's state is still {PSI_BINS} rows."""
    from mapreducecf_spark.queries.pipeline import PSI_BINS, PSI_QS
    from mapreducecf_spark.sources import load_table
    from mapreducecf_spark.sources.tables import convert_nanos_ts
    from mapreducecf_spark.streaming.windows import stream_table

    empty_schema = (
        "bin int, n_old bigint, n_new bigint, psi_micro bigint, "
        "total_psi_micro bigint"
    )
    ev_b = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    srow = ev_b.agg(F.percentile(F.unix_micros("ts"), 0.5).alias("s")).collect()
    sp = srow[0]["s"]
    if sp is None:  # empty feed -> no baseline to monitor against
        return spark.createDataFrame([], empty_schema)
    old_s = ev_b.filter(F.unix_micros("ts") <= F.lit(sp)).select("value")
    brow = old_s.agg(
        F.percentile("value", F.array(*[F.lit(q) for q in PSI_QS])).alias("bs")
    ).collect()
    bs = brow[0]["bs"]
    if bs is None:
        return spark.createDataFrame([], empty_schema)
    bs_lit = F.array(*[F.lit(float(b)) for b in bs])

    def binned(col):
        return F.size(F.filter(bs_lit, lambda b: col > b))

    oc = (
        old_s.select(binned(F.col("value")).alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n_old"))
    )
    ev_s = (
        convert_nanos_ts(stream_table(spark, sf_dir, "events"))
        .filter(F.col("value").isNotNull())
        .filter(F.unix_micros("ts") > F.lit(sp))
    )
    drained = _replay(
        spark,
        ev_s.select(binned(F.col("value")).alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n_new")),
        "complete",
    )
    bins = spark.range(PSI_BINS).select(F.col("id").cast("int").alias("bin"))
    j = (
        bins.join(F.broadcast(oc), "bin", "left")
        .join(F.broadcast(drained), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_old", F.lit(0)).cast("bigint").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        )
        .crossJoin(
            F.broadcast(
                oc.agg(F.sum("n_old").alias("tot_old")).crossJoin(
                    drained.agg(F.sum("n_new").alias("tot_new"))
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


registry.ORACLE_ALIASES["stream_segment_dedup"] = "dedup_segment_exact"


@register("stream_segment_dedup")
def stream_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level keep-first dedup at the INGESTION EDGE — the
    streaming twin of ``dedup_segment_exact``, completing the
    streaming-dedup quartet (exact fingerprints:
    ``stream_incremental_dedup``; embeddings: ``stream_semantic_dedup``;
    MinHash bands: ``stream_minhash_neardup``; segments: this): each
    arriving document tiles STATELESSLY into its non-overlapping
    {SEG_LEN}-token segments (``segment_tiling`` — a row-wise
    projection, no pre-join aggregation), probes the static keep-first
    index for each segment hash, and a segment occurrence is removed
    exactly when the corpus-wide first occurrence is NOT this one. The
    per-doc retained-ratio report is maintained in complete mode —
    bounded state = the report itself, one row per arriving doc — and
    the drained replay over the same corpus is byte-equal to the batch
    report, so the oracle is aliased.

    At 100 TB: the keeper index is the persisted line-dedup table
    (16-byte hash + two ints per distinct segment); the stream-static
    join needs no watermark or state store, and the arriving doc's
    verdict lands the moment it does — the crawl-feed path that strips
    boilerplate before the expensive near-dup stages."""
    from mapreducecf_spark.queries.dedup import (
        segment_keeper_index,
        segment_tiling,
    )
    from mapreducecf_spark.streaming.windows import stream_table

    keep = segment_keeper_index(spark, sf_dir)
    docs = _spread_arrivals(
        spark, sf_dir, "documents",
        stream_table(spark, sf_dir, "documents"), "doc_id",
    )
    segs = segment_tiling(docs).select(
        "doc_id", "source", "seg_idx", F.md5("seg").alias("h")
    )
    removed = (
        (F.col("keep_doc") != F.col("doc_id"))
        | (F.col("keep_idx") != F.col("seg_idx"))
    ).cast("int")
    out = (
        segs.join(keep, "h")
        .select("doc_id", "source", removed.alias("removed"))
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_segs"),
            F.sum("removed").cast("bigint").alias("n_removed"),
            F.round(
                1.0 - F.sum("removed") / F.count("*").cast("double"), 6
            ).alias("retained_ratio"),
        )
    )
    return _replay(spark, out, "complete")


# ---------------------------------------------------------------------
# ANN-index insertion probe at the ingestion edge
# ---------------------------------------------------------------------
def _stream_knn_insert_oracle() -> str:
    from mapreducecf_spark.queries.pipeline import (
        _SNAP_CHANGED,
        _SNAP_NEW_DROP,
        _SNAP_OLD_DROP,
    )
    from mapreducecf_spark.queries.similarity import (
        KNN_GRAPH_K,
        _bands_sql,
        _dot_sql,
        _sig_sql,
    )

    return f"""
WITH e0 AS (SELECT vec_id, embedding FROM embeddings
            WHERE embedding IS NOT NULL),
e AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
  FROM e0
  WHERE vec_id % 10 <> {_SNAP_OLD_DROP} AND vec_id % 10 <> {_SNAP_NEW_DROP}
    AND vec_id % 7 <> {_SNAP_CHANGED}),
arr0 AS (
  SELECT vec_id,
         CASE WHEN vec_id % 7 = {_SNAP_CHANGED} THEN list_reverse(embedding)
              ELSE embedding END AS embedding
  FROM e0
  WHERE vec_id % 10 <> {_SNAP_NEW_DROP}
    AND (vec_id % 10 = {_SNAP_OLD_DROP} OR vec_id % 7 = {_SNAP_CHANGED})),
arr AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt({_dot_sql('embedding', 'embedding')}) AS nrm FROM arr0),
{_sig_sql()},
{_bands_sql().strip()},
asigs AS MATERIALIZED (
  SELECT a.vec_id,
         string_agg(CASE WHEN list_inner_product(
                      list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                      pl.plane) > 0 THEN '1' ELSE '0' END, '' ORDER BY pl.p)
           AS sig
  FROM arr a, planes pl GROUP BY a.vec_id),
abands AS (SELECT vec_id, j AS band,
                 substr(sig, CAST(j * pr.r + 1 AS INT), CAST(pr.r AS INT)) AS bkey
          FROM asigs, lshp pr, range(0, 4) t(j)),
cand AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id
  FROM abands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
  GROUP BY 1, 2),
scored AS (
  SELECT c.vec_id, c.neighbor_id,
         round({_dot_sql('ea.embedding', 'eb.embedding')} / (ea.nrm * eb.nrm), 6) AS cos_sim
  FROM cand c JOIN arr ea ON ea.vec_id = c.vec_id
              JOIN e eb ON eb.vec_id = c.neighbor_id)
SELECT vec_id, neighbor_id, cos_sim, CAST(rnk AS INT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM scored) t
WHERE rnk <= {KNN_GRAPH_K}
"""


@register("stream_knn_insert", oracle=_stream_knn_insert_oracle)
def stream_knn_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-index INSERTION probe at the ingestion edge — the streaming
    front half of ``sim_knn_index_cdc``: each ARRIVING vector (the CDC
    insert/update classes, replayed as a stream) computes its
    hyperplane band keys in a STATELESS Arrow stage (broadcast plane
    matrix, no aggregation before the join), probes the PERSISTED
    routing table of the untouched corpus by stream-static equi-join
    on (band, bkey), scores every banded candidate with the
    sequential-fold dot JVM-side, and a complete-mode per-arrival
    aggregation keeps the top-{3} placement edges (collect_set dedups
    multi-band collisions — identical fold output bit-for-bit — and
    the sorted-slice state is bounded by band-bucket occupancy). The
    rank explode happens batch-side over the drained table (the
    aggregation-over-aggregation split every graded stream uses).

    At 100 TB this is the write path of a live vector index: arrivals
    find their attachment edges online against materialized band and
    vector tables; the full maintenance pass (``sim_knn_index_cdc``)
    reconciles retractions on schedule. Oracle recomputes every
    arrival's banded top-k against the kept snapshot in SQL."""
    from mapreducecf_spark.queries.pipeline import (
        _SNAP_CHANGED,
        _SNAP_NEW_DROP,
        _SNAP_OLD_DROP,
    )
    from mapreducecf_spark.queries.similarity import (
        KNN_GRAPH_K,
        _dot,
        _ebands,
        _with_norm,
        load_vectors,
        lsh_rows,
    )
    from mapreducecf_spark.streaming.windows import stream_table

    r = lsh_rows(spark, sf_dir)
    mod10 = F.col("vec_id") % 10
    changed = F.col("vec_id") % 7 == _SNAP_CHANGED
    kept = _with_norm(
        load_vectors(spark, sf_dir)
        .filter((mod10 != _SNAP_OLD_DROP) & (mod10 != _SNAP_NEW_DROP) & (~changed))
        .select("vec_id", "embedding")
    )
    probe = _ebands(kept, r, extra=("embedding", "nrm")).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        "band",
        "bkey",
    )

    new_emb = F.when(changed, F.reverse("embedding")).otherwise(F.col("embedding"))
    arrivals = _with_norm(
        stream_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .filter((mod10 != _SNAP_NEW_DROP) & ((mod10 == _SNAP_OLD_DROP) | changed))
        .select("vec_id", new_emb.alias("embedding"))
    )
    abands = _ebands(arrivals, r, extra=("embedding", "nrm"))
    scored = abands.join(probe, ["band", "bkey"]).select(
        "vec_id",
        "neighbor_id",
        F.round(_dot(F.col("embedding"), F.col("eb")) / (F.col("nrm") * F.col("nb")), 6)
        .alias("cos_sim"),
    )
    topk = scored.groupBy("vec_id").agg(
        F.slice(
            F.array_sort(
                F.collect_set(
                    F.struct(
                        (-F.col("cos_sim")).alias("k"),
                        F.col("neighbor_id").alias("neighbor_id"),
                        F.col("cos_sim").alias("cos_sim"),
                    )
                )
            ),
            1,
            KNN_GRAPH_K,
        ).alias("topk")
    )
    drained = _replay(spark, topk, "complete")
    return drained.select(
        "vec_id", F.posexplode("topk").alias("p0", "e")
    ).select(
        "vec_id",
        F.col("e.neighbor_id").alias("neighbor_id"),
        F.col("e.cos_sim").alias("cos_sim"),
        (F.col("p0") + 1).cast("int").alias("rnk"),
    )


registry.ORACLE_ALIASES["stream_als_foldin"] = "cf_als_foldin"


@register("stream_als_foldin")
def stream_als_foldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS COLD-START FOLD-IN at the ingestion edge (r14 — the
    roadmap's named candidate, VERDICT r13 next-round #7): the
    held-out cohort's interactions ARRIVE as a stream (lineitem rows
    stream-static joined to the static orders dim, cohort-filtered),
    and each arriving (u, it) folds in ONLINE against the broadcast
    TRAINED item factors — the md5 init factors and the interaction's
    integer error term err = SCALE − ⌊u0·v(it)/SCALE⌋ are STATELESS
    row expressions (no pre-join aggregation), so the edge work per
    arrival is one broadcast probe + {ALS_RANK} multiplies.

    The only streaming state is the complete-mode per-user BASKET:
    collect_set of (md5 key, it, err) sliced to {BASKET_CAP} in md5
    order — the exact basket-cap rule of the batch ``interactions``
    table (duplicates collapse to identical structs; untrained items
    ride with NULL err via the left join, exactly the rows the batch
    gradient's inner join drops but its ownership anti-join keeps).
    State per user is bounded by the cap; users are bounded by the
    cohort. The gradient step, the {FOLDIN_BATCH}-user md5 query cap,
    the catalog scoring and the top-{REC_K} rank all happen BATCH-SIDE
    over the drained baskets (the aggregation-over-aggregation split
    every graded stream uses), byte-equal to ``cf_als_foldin`` — so
    the oracle is aliased, and the equality is pytest-pinned.

    At 100 TB this is how a production recommender absorbs signups
    between scheduled sweeps: the trained item-factor table is a
    broadcast serving artifact, arrivals fold in with narrow per-user
    state, and no retrain touches the corpus."""
    from mapreducecf_spark.queries.cf import (
        ALS_RANK,
        ALS_SCALE,
        BASKET_CAP,
        FOLDIN_BATCH,
        FOLDIN_USER_MOD,
        REC_K,
        _als_init_k,
        _tdiv,
        foldin_item_factors,
    )
    from mapreducecf_spark.queries.relational import _t
    from mapreducecf_spark.streaming.windows import stream_table
    from pyspark.sql import Window

    # static halves: the memoized trained item factors (cohort
    # excluded from the sweep, exactly the batch twin's split) and
    # the orders dim
    v1 = foldin_item_factors(spark, sf_dir)
    vpref = v1.select(
        "it", *[F.col(f"f{k}").alias(f"vf{k}") for k in range(ALS_RANK)]
    )
    cohort_orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % FOLDIN_USER_MOD == 0)
        .select("o_orderkey", F.col("o_custkey").alias("u"))
    )

    # the edge: arriving lineitem rows -> (u, it) -> stateless fold-in
    # error against the broadcast trained factors
    arrivals = (
        _spread_arrivals(
            spark, sf_dir, "lineitem",
            stream_table(spark, sf_dir, "lineitem"), "l_orderkey",
        )
        .select(F.col("l_orderkey").alias("o_orderkey"), F.col("l_partkey").alias("it"))
        .join(F.broadcast(cohort_orders), "o_orderkey")
        .select("u", "it")
    )
    dot = None
    for k in range(ALS_RANK):
        term = _als_init_k("uf", "u", k) * F.col(f"vf{k}")
        dot = term if dot is None else dot + term
    scored_edge = arrivals.join(F.broadcast(vpref), "it", "left").select(
        "u",
        "it",
        (F.lit(ALS_SCALE) - _tdiv(dot, ALS_SCALE)).alias("err"),
    )
    basket = scored_edge.groupBy("u").agg(
        F.slice(
            F.array_sort(
                F.collect_set(
                    F.struct(
                        F.md5(F.concat_ws(":", F.col("u"), F.col("it"))).alias("hk"),
                        F.col("it").alias("it"),
                        F.col("err").alias("err"),
                    )
                )
            ),
            1,
            BASKET_CAP,
        ).alias("basket")
    )
    # localCheckpoint: the drained table feeds a self-join (ufold ⋈ qb
    # both derive from it) — the memory-sink MemoryPlan is not a
    # MultiInstanceRelation, so the analyzer cannot deduplicate the
    # conflicting attribute ids; a LogicalRDD can (and the checkpoint
    # also stops the three consumers from re-reading the sink thrice)
    drained = _replay(spark, basket, "complete").localCheckpoint()

    # batch side over the drained baskets: gradient, query cap,
    # catalog scoring, ranking — the batch twin's exact math
    b = drained.select("u", F.explode("basket").alias("e")).select(
        "u", F.col("e.it").alias("it"), F.col("e.err").alias("err")
    )
    g = (
        b.filter(F.col("err").isNotNull())
        .join(F.broadcast(vpref), "it")
        .groupBy("u")
        .agg(
            *[
                F.sum(_tdiv(F.col("err") * F.col(f"vf{k}"), ALS_SCALE)).alias(f"s{k}")
                for k in range(ALS_RANK)
            ],
            F.count("*").alias("n"),
        )
    )
    ufold = g.select(
        "u",
        *[
            (_als_init_k("uf", "u", k) + _tdiv(F.col(f"s{k}"), F.col("n")))
            .cast("bigint")
            .alias(f"uf{k}")
            for k in range(ALS_RANK)
        ],
    )
    qb = (
        drained.select("u")
        .withColumn("hk", F.md5(F.col("u").cast("string")))
        .orderBy("hk", "u")
        .limit(FOLDIN_BATCH)
        .select("u")
    )
    sdot = None
    for k in range(ALS_RANK):
        term = F.col(f"uf{k}") * F.col(f"vf{k}")
        sdot = term if sdot is None else sdot + term
    scored = (
        ufold.join(F.broadcast(qb), "u")
        .crossJoin(F.broadcast(vpref))
        .select("u", "it", _tdiv(sdot, ALS_SCALE).alias("score_micro"))
        .join(b.select("u", "it"), ["u", "it"], "left_anti")
    )
    w = Window.partitionBy("u").orderBy(F.desc("score_micro"), F.asc("it"))
    return (
        scored.withColumn("rec_rank", F.row_number().over(w))
        .filter(F.col("rec_rank") <= REC_K)
        .select("u", F.col("it").alias("item"), "score_micro", "rec_rank")
    )


def _stream_winnow_oracle() -> str:
    from mapreducecf_spark.queries.dedup import _WINNOW_SEL_SQL

    return f"""
WITH {_WINNOW_SEL_SQL.strip()},
hits AS (
  SELECT s.doc_id, c.doc_id AS cand, s.fp
  FROM sel s JOIN fps c ON c.fp = s.fp AND c.doc_id <> s.doc_id)
SELECT doc_id,
       CAST(count(DISTINCT cand) AS BIGINT) AS n_cand,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_shared,
       count(DISTINCT fp) >= 2 AS is_neardup
FROM hits GROUP BY 1
"""


@register("stream_winnowing_neardup", oracle=_stream_winnow_oracle)
def stream_winnowing_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-RUN-overlap screening at the ingestion edge — the
    WINNOWING member of the streaming-dedup family (exact
    fingerprints: ``stream_incremental_dedup``; embeddings:
    ``stream_semantic_dedup``; MinHash bands:
    ``stream_minhash_neardup``; line segments:
    ``stream_segment_dedup``; this: local fingerprints): each arriving
    document selects its winnowing fingerprints ROW-WISE
    (``winnow_fps_of`` — pure narrow array expressions, stateless, no
    pre-join aggregation), probes the STATIC DF-capped corpus
    fingerprint index (stream-static equi-join on the 32-char fp, no
    state store), and a complete-mode per-doc aggregation emits
    (n_cand, n_shared, is_neardup). The winnowing guarantee gives the
    verdict its operational meaning the banded probes can't offer:
    any arrival sharing a token run of >= WINNOW_GUARANTEE tokens
    with ANY indexed document is flagged deterministically, not
    probabilistically. near ⇔ n_shared >= 2 (two independent shared
    fingerprints) — integer-only, no float enters the stream.

    The arriving doc probes with its RAW fingerprint set (row-wise
    knowledge only — an edge node knows nothing about corpus document
    frequencies); hot/boilerplate fingerprints simply find no match
    because the STATIC index is capped. Self-matches are excluded by
    doc_id (the replayed feed IS the indexed corpus). At 100 TB: the
    index is the persisted fingerprint table dedup_winnowing already
    materializes (memoized here), fan-out per fingerprint is <= the
    DF cap, and the verdict lands the moment the doc does."""
    from mapreducecf_spark.queries.dedup import winnow_fps_capped, winnow_fps_of
    from mapreducecf_spark.streaming.windows import stream_table

    idx = winnow_fps_capped(spark, sf_dir).select(
        F.col("doc_id").alias("cand"), "fp"
    )
    docs = _spread_arrivals(
        spark, sf_dir, "documents",
        stream_table(spark, sf_dir, "documents"), "doc_id",
    )
    own = winnow_fps_of(docs)
    hits = own.join(idx, "fp").filter(F.col("cand") != F.col("doc_id"))
    n_shared = F.size(F.array_distinct(F.collect_list("fp")))
    out = hits.groupBy("doc_id").agg(
        F.size(F.array_distinct(F.collect_list("cand"))).cast("bigint").alias("n_cand"),
        n_shared.cast("bigint").alias("n_shared"),
        (n_shared >= 2).alias("is_neardup"),
    )
    return _replay(spark, out, "complete")


# ---------------------------------------------------------------------
# hybrid-retrieval (RRF) probe at the ingestion edge (r15 — the r16
# roadmap candidate pulled forward)
# ---------------------------------------------------------------------
def _stream_hybrid_rrf_oracle() -> str:
    from mapreducecf_spark.queries.dedup import _CAPPED_SH_SQL, _SHINGLES_SQL
    from mapreducecf_spark.queries.similarity import (
        KNN_K,
        RRF_K0,
        RRF_L,
        RRF_TOPK,
        _E_SQL,
        _QCAP_ORDER,
        _bands_sql,
        _dot_sql,
        _sig_sql,
    )

    return f"""
WITH {_E_SQL.strip()},
{_sig_sql()},
{_bands_sql().strip()},
q AS MATERIALIZED (SELECT vec_id AS q_id FROM e {_QCAP_ORDER}),
qb AS (SELECT b.vec_id AS q_id, b.band, b.bkey
       FROM bands b JOIN q ON q.q_id = b.vec_id),
dcand AS (
  SELECT a.q_id, b.vec_id AS cand
  FROM qb a JOIN bands b
    ON b.band = a.band AND b.bkey = a.bkey AND b.vec_id <> a.q_id
  GROUP BY 1, 2),
dscored AS (
  SELECT c.q_id, c.cand,
         round({_dot_sql('eq.embedding', 'ec.embedding')} / (eq.nrm * ec.nrm), 6)
           AS cos_sim
  FROM dcand c JOIN e eq ON eq.vec_id = c.q_id
               JOIN e ec ON ec.vec_id = c.cand),
dense AS (
  SELECT q_id, cand, rnk
  FROM (SELECT q_id, cand,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, cand) AS rnk
        FROM dscored) t
  WHERE rnk <= {KNN_K}),
sh_all AS ({_SHINGLES_SQL}),
shc AS MATERIALIZED ({_CAPPED_SH_SQL}),
qsh AS (SELECT s.doc_id AS q_id, s.shingle
        FROM sh_all s JOIN q ON q.q_id = s.doc_id),
lshared AS (
  SELECT s.q_id, c.doc_id AS cand, count(*) AS shared
  FROM qsh s JOIN shc c ON c.shingle = s.shingle AND c.doc_id <> s.q_id
  GROUP BY 1, 2),
lex AS (
  SELECT q_id, cand, rnk
  FROM (SELECT q_id, cand,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY shared DESC, cand) AS rnk
        FROM lshared) t
  WHERE rnk <= {KNN_K}),
fused AS (
  SELECT q_id, cand,
         CAST(sum({RRF_L} // ({RRF_K0} + rnk)) AS BIGINT) AS rrf_micro
  FROM (SELECT * FROM dense UNION ALL SELECT * FROM lex) ch
  GROUP BY 1, 2)
SELECT q_id, cand AS cand_id, rrf_micro, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY rrf_micro DESC, cand) AS rnk
      FROM fused) t
WHERE rnk <= {RRF_TOPK}
"""


@register("stream_hybrid_rrf", oracle=_stream_hybrid_rrf_oracle)
def stream_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval probe at the ingestion edge — the streaming
    twin of ``sim_hybrid_rrf`` (the r16 roadmap candidate pulled
    forward): each arriving query-panel document fans into BOTH
    retrieval channels statelessly, the channels aggregate in ONE
    complete-mode pass, and the rank/fusion algebra runs batch-side
    over the drained table (the aggregation-over-aggregation split
    every graded stream uses):

    - DENSE: the arrival picks up its vector by a stream-static join
      to the embeddings dim, computes its hyperplane band keys in the
      same stateless Arrow stage as ``stream_knn_insert``, probes the
      static band+vector routing table, and scores banded candidates
      with the fold-dot JVM-side. This is the ANN SERVING path at the
      edge — the batch twin ranks exact brute neighbors; same fusion
      algebra, different candidate generator, and the registered pair
      quantifies exactly that approximation.
    - LEXICAL: the arrival's distinct shingles are a row-wise
      projection probed against the static DF-capped inverted index
      (the winnowing probe's raw-vs-capped convention: an edge node
      knows no corpus document frequencies).

    Both branches union BEFORE the single groupBy (channel-tagged
    rows), so the whole stream needs one aggregation: state = the
    per-(arrival, candidate, channel) table, bounded by panel size ×
    (band-bucket occupancy + DF-cap fan-out). Fusion is the family's
    exact-integer RRF (RRF_L div (k0 + rank) — lcm-scaled bigint, no
    floats). Oracle replays banded-dense + lexical + fusion in SQL."""
    from pyspark.sql import Window

    from mapreducecf_spark.operators.wordcount import tokens_array
    from mapreducecf_spark.queries.dedup import SHINGLE_K, capped_shingles
    from mapreducecf_spark.queries.similarity import (
        KNN_K,
        RRF_K0,
        RRF_L,
        RRF_TOPK,
        _dot,
        _ebands,
        _with_norm,
        load_vectors,
        lsh_rows,
        query_ids,
    )
    from mapreducecf_spark.streaming.windows import stream_table

    qids = query_ids(spark, sf_dir)
    r = lsh_rows(spark, sf_dir)
    probe = _ebands(
        _with_norm(load_vectors(spark, sf_dir)), r, extra=("embedding", "nrm")
    ).select(
        F.col("vec_id").alias("cand"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        "band",
        "bkey",
    )
    shidx = capped_shingles(spark, sf_dir).select(
        F.col("doc_id").alias("cand"), "shingle"
    )
    emb = load_vectors(spark, sf_dir).select("vec_id", "embedding")

    docs = stream_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isin(qids)
    )
    arr_vec = _with_norm(
        docs.select("doc_id").join(emb, F.col("doc_id") == F.col("vec_id")).select(
            "vec_id", "embedding"
        )
    )
    ab = _ebands(arr_vec, r, extra=("embedding", "nrm"))
    dense_rows = (
        ab.join(probe, ["band", "bkey"])
        .filter(F.col("cand") != F.col("vec_id"))
        .select(
            F.col("vec_id").alias("q_id"),
            "cand",
            F.lit(1).alias("ch"),
            F.round(
                _dot(F.col("embedding"), F.col("eb")) / (F.col("nrm") * F.col("nb")), 6
            ).alias("score"),
        )
    )
    toks = tokens_array(F.col("text"))
    length = F.size(toks) - (SHINGLE_K - 1)
    parts = [F.slice(toks, F.lit(j + 1), length) for j in range(SHINGLE_K)]
    sh = parts[0]
    for p in parts[1:]:
        sh = F.zip_with(sh, p, lambda x, y: F.concat_ws(" ", x, y))
    lex_rows = (
        docs.filter(F.size(toks) >= SHINGLE_K)
        .select(
            F.col("doc_id").alias("q_id"),
            F.explode(F.array_distinct(sh)).alias("shingle"),
        )
        .join(shidx, "shingle")
        .filter(F.col("cand") != F.col("q_id"))
        .select("q_id", "cand", F.lit(0).alias("ch"), F.lit(0.0).alias("score"))
    )
    agg = (
        dense_rows.unionByName(lex_rows)
        .groupBy("q_id", "cand", "ch")
        .agg(F.count("*").cast("bigint").alias("n"), F.max("score").alias("s"))
    )
    drained = _replay(spark, agg, "complete")

    wl = Window.partitionBy("q_id").orderBy(F.desc("n"), F.asc("cand"))
    wd = Window.partitionBy("q_id").orderBy(F.desc("s"), F.asc("cand"))
    lex = (
        drained.filter(F.col("ch") == 0)
        .withColumn("rnk", F.row_number().over(wl))
        .filter(F.col("rnk") <= KNN_K)
        .select("q_id", "cand", "rnk")
    )
    den = (
        drained.filter(F.col("ch") == 1)
        .withColumn("rnk", F.row_number().over(wd))
        .filter(F.col("rnk") <= KNN_K)
        .select("q_id", "cand", "rnk")
    )
    fused = (
        lex.unionByName(den)
        .withColumn("pts", F.expr(f"CAST({RRF_L} AS BIGINT) div ({RRF_K0} + rnk)"))
        .groupBy("q_id", "cand")
        .agg(F.sum("pts").alias("rrf_micro"))
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("rrf_micro"), F.asc("cand"))
    return (
        fused.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= RRF_TOPK)
        .select("q_id", F.col("cand").alias("cand_id"), "rrf_micro", "rnk")
    )


# ---------------------------------------------------------------------
# cross-shard Bloom probe at the ingestion edge (r15 continuation —
# the streaming-dedup family's SIXTH member)
# ---------------------------------------------------------------------
def _stream_bloom_oracle() -> str:
    from mapreducecf_spark.queries.dedup import (
        _CAPPED_SH_SQL,
        _SHINGLES_SQL,
        BLOOM_K,
        BLOOM_M,
        BLOOM_WORD_BITS,
    )

    return f"""
WITH sh_all AS ({_SHINGLES_SQL}),
sh AS ({_CAPPED_SH_SQL}),
items AS MATERIALIZED (
  SELECT DISTINCT d.source, s.shingle
  FROM sh s JOIN documents d USING (doc_id)),
pos AS (
  SELECT DISTINCT source,
         ((('0x' || substr(md5(shingle), 1, 12))::BIGINT
           + i.i * ('0x' || substr(md5(shingle), 13, 12))::BIGINT)
          % {BLOOM_M}) AS p
  FROM items, range(0, {BLOOM_K}) i(i)),
words AS MATERIALIZED (
  SELECT source, p // {BLOOM_WORD_BITS} AS w,
         bit_or(1::BIGINT << CAST(p % {BLOOM_WORD_BITS} AS INT)) AS bits
  FROM pos GROUP BY 1, 2),
own AS MATERIALIZED (
  SELECT s.doc_id, d.source AS own_src, s.shingle
  FROM sh_all s JOIN documents d USING (doc_id)),
probe AS (
  SELECT doc_id, own_src, shingle, i.i AS i,
         ((('0x' || substr(md5(shingle), 1, 12))::BIGINT
           + i.i * ('0x' || substr(md5(shingle), 13, 12))::BIGINT)
          % {BLOOM_M}) AS p
  FROM own, range(0, {BLOOM_K}) i(i)),
hit AS (
  SELECT p.doc_id, p.shingle, w.source AS shard
  FROM probe p
  JOIN words w
    ON w.w = p.p // {BLOOM_WORD_BITS}
   AND (w.bits & (1::BIGINT << CAST(p.p % {BLOOM_WORD_BITS} AS INT)))
       = (1::BIGINT << CAST(p.p % {BLOOM_WORD_BITS} AS INT))
   AND w.source <> p.own_src
  GROUP BY 1, 2, 3
  HAVING count(*) = {BLOOM_K})
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_hit_pairs,
       CAST(count(DISTINCT shard) AS BIGINT) AS n_shards_hit,
       CAST(count(DISTINCT shingle) AS BIGINT) AS n_hit_shingles
FROM hit GROUP BY 1
"""


@register("stream_bloom_dedup", oracle=_stream_bloom_oracle)
def stream_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard Bloom scout at the ingestion edge — the SIXTH
    member of the streaming-dedup family (exact fingerprints,
    embeddings, MinHash bands, line segments, winnowing runs, and now
    the constant-size shard filters): each arriving document computes
    its shingles and their Bloom bit positions ROW-WISE
    (``shingles_of`` + ``_bloom_positions`` — pure narrow expressions,
    an edge node needs NO corpus knowledge), probes every OTHER
    shard's persisted filter in ONE stateless Arrow stage against the
    broadcast shards×{{64}}-word numpy matrix (vectorized
    all-{BLOOM_K}-bits-set membership, own shard masked out), emits a
    per-shingle SHARD BITMASK — so the stateful aggregation sees one
    small-int row per shingle, never an exploded (shingle, shard) row
    per hit — and ONE complete-mode per-doc aggregation of plain
    sum/bit_or/count over the masks emits (n_hit_pairs, n_shards_hit,
    n_hit_shingles) — which OTHER shards already carry
    this doc's content, the routing signal a cross-shard dedup run
    acts on the moment the doc lands. Docs with no cross-shard hit
    emit nothing (the alerts-only shape of stream_anomaly_alerts).

    Why this is THE Bloom deployment shape: the static side is
    ``bloom_shard_words`` — shards × {{64}} int64 words, broadcast
    whole; the probe never touches shard content, and per-probe
    fan-out is bounded by the shard count, not the corpus. The own
    shard is excluded by source (the replayed feed IS the indexed
    corpus — self-membership is vacuous); cross-shard hits are shared
    capped shingles or the filter's quantified false positives, and
    the oracle replays the bit arithmetic exactly, so the full hash
    gate applies. State: NONE before the final aggregation; the
    drained complete-mode state is the per-flagged-doc report itself,
    and the mask encoding bounds the aggregation input at one row per
    shingle even when saturated test-sized filters make every probe
    pass (the 12.4 s → 3.5 s retune; shard count ≤ 62 guards the
    bigint mask, widen to an array mask past it)."""
    from mapreducecf_spark.queries.dedup import (
        BLOOM_K,
        BLOOM_WORD_BITS,
        BLOOM_WORDS,
        _bloom_positions,
        bloom_shard_words,
        shingles_of,
    )
    from mapreducecf_spark.streaming.windows import stream_table

    # the filters ride into a STATELESS ARROW stage as a broadcast
    # numpy matrix (shards × 64 int64 — the stream_knn_insert plane-
    # matrix shape): per arriving shingle the probe is vectorized bit
    # arithmetic, and its result is a per-shingle SHARD BITMASK, so
    # the stateful aggregation sees ONE small-int row per shingle with
    # plain sum/bit_or/count aggregates instead of an exploded
    # (shingle, shard) row per hit — the saturated-filter worst case
    # would otherwise push |shingles|×|shards| rows through the state
    # store. (r15 continuation retune: the first cut probed via three
    # broadcast equi-joins + explode — 12.4 s at sf0.1; a literal-
    # array lambda was tried and measured 117 s — the per-row literal
    # construction pathology the PQ-LUT history warns about.)
    import numpy as np

    wrows = bloom_shard_words(spark, sf_dir).collect()
    wmap: dict = {}
    for r in wrows:
        wmap.setdefault(r["source"], {})[r["w"]] = r["bits"]
    shards = sorted(wmap)
    if len(shards) > 62:
        raise ValueError(
            f"{len(shards)} shards exceed the per-shingle bigint hit mask; "
            "widen to an array mask before running with >62 sources"
        )
    Wm = np.zeros((max(len(shards), 1), BLOOM_WORDS), dtype=np.int64)
    for j, sname in enumerate(shards):
        for w, bits in wmap[sname].items():
            Wm[j, w] = bits
    sidx = {sname: j for j, sname in enumerate(shards)}
    pw = (np.int64(1) << np.arange(len(shards), dtype=np.int64)) if shards else np.zeros(0, np.int64)

    docs = _spread_arrivals(
        spark, sf_dir, "documents",
        stream_table(spark, sf_dir, "documents"), "doc_id",
    )
    posns = _bloom_positions(F.col("shingle"))
    own = shingles_of(docs, extra=("source",)).select(
        "doc_id",
        F.col("source").alias("own_src"),
        *[p.alias(f"p{i}") for i, p in enumerate(posns)],
    )
    for i in range(BLOOM_K):
        own = own.withColumn(
            f"w{i}", F.expr(f"p{i} div {BLOOM_WORD_BITS}")
        ).withColumn(
            f"m{i}",
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(p{i} % {BLOOM_WORD_BITS} AS INT))"
            ),
        )

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty or not shards:
                continue
            n = len(pdf)
            ok = np.ones((n, len(shards)), dtype=bool)
            for i in range(BLOOM_K):
                wv = pdf[f"w{i}"].to_numpy(np.int64)
                mv = pdf[f"m{i}"].to_numpy(np.int64)
                # (n, shards): the word each probe lands in, per shard
                words = Wm[:, wv].T
                ok &= (words & mv[:, None]) == mv[:, None]
            own_j = pdf["own_src"].map(sidx).to_numpy()
            rows_own = np.flatnonzero(pd.notna(own_j))
            ok[rows_own, own_j[rows_own].astype(np.int64)] = False
            mask = (ok * pw[None, :]).sum(axis=1).astype(np.int64)
            keep = mask != 0
            if keep.any():
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].to_numpy(np.int64)[keep],
                        "mask": mask[keep],
                    }
                )

    hits = own.mapInPandas(probe, "doc_id bigint, mask bigint")
    out = hits.groupBy("doc_id").agg(
        F.sum(F.bit_count("mask")).cast("bigint").alias("n_hit_pairs"),
        F.bit_count(F.expr("bit_or(mask)")).cast("bigint").alias("n_shards_hit"),
        F.count("*").cast("bigint").alias("n_hit_shingles"),
    )
    return _replay(spark, out, "complete")


# ---------------------------------------------------------------------
# seasonal decomposition maintained ONLINE (r15 continuation)
# ---------------------------------------------------------------------
registry.ORACLE_ALIASES["stream_seasonal_decompose"] = "ts_seasonal_decompose"


@register("stream_seasonal_decompose")
def stream_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seasonal decomposition maintained ONLINE — the live twin of
    ``ts_seasonal_decompose`` and the natural upstream of the anomaly
    alert stream (score residuals, not raw counts): the arriving
    event feed folds into complete-mode HOURLY counts (bounded state =
    hours in the span — the aggregation state IS the series, the
    ``stream_value_histogram`` shape, no watermark needed), and the
    gap-fill / centered-trend / hour-effect / residual chain runs
    batch-side over the drained grid through the SHARED
    ``decompose_hourly`` builder — the trend window needs the whole
    current series, so it belongs on the drained side of the
    aggregation-over-aggregation split (the ``stream_trending_events``
    rule). One definition for both modes ⇒ the drained replay is
    byte-equal to the batch decomposition (pytest-pinned), so the
    oracle is aliased."""
    from mapreducecf_spark.queries.timeseries import decompose_hourly
    from mapreducecf_spark.streaming.windows import stream_table

    ev = stream_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hb")).agg(
        F.count("*").alias("nv")
    )
    drained = _replay(spark, hourly, "complete")
    return decompose_hourly(drained)


# ---------------------------------------------------------------------
# token-budget apportionment maintained ONLINE (r15 continuation)
# ---------------------------------------------------------------------
registry.ORACLE_ALIASES["stream_token_apportion"] = "pipe_token_apportion"


@register("stream_token_apportion")
def stream_token_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epoch token-budget allocation maintained ONLINE — the live
    twin of ``pipe_token_apportion``: as documents arrive, the
    complete-mode per-source TOKEN COUNT is the only state (bounded by
    the source count — the aggregation state IS the mixture mass
    table), and the Hamilton largest-remainder arithmetic runs
    batch-side over the drained counts (it needs every source's total
    and the global sum — the aggregation-over-aggregation split). A
    data-mixing controller reads this to retarget per-source quotas
    the moment the crawl mix shifts, without a batch pass. The drained
    per-source counts equal the batch groupBy exactly, and the
    allocation arithmetic IS the batch twin's — one shared
    ``apportion_counts`` definition (ADVICE r15) — so the result is
    byte-equal to the batch twin (pytest-pinned) and the oracle is
    aliased."""
    from mapreducecf_spark.operators.wordcount import tokens_array
    from mapreducecf_spark.queries.pipeline import apportion_counts
    from mapreducecf_spark.streaming.windows import stream_table

    docs = stream_table(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.size(tokens_array(F.col("text"))).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )
    return apportion_counts(_replay(spark, per, "complete"))


# ---------------------------------------------------------------------
# KMV audience sketch maintained ONLINE (r16, VERDICT r15 #5)
# ---------------------------------------------------------------------
registry.ORACLE_ALIASES["stream_audience_kmv"] = "ts_audience_kmv"


@register("stream_audience_kmv")
def stream_audience_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ts_audience_kmv``'s sketches maintained as ONLINE stateful
    streaming state: each arriving event projects (event_type, 48-bit
    md5(user) hash) row-wise at the edge (the shared ``_kmv_hash``
    definition — an ingest node needs no history), and a per-type
    ``applyInPandasWithState`` fold keeps the k smallest DISTINCT
    hashes — the state store holds ≤ {KMV_K} int64 per type, bounded
    at ANY stream length BY CONSTRUCTION (this is why r16 moved the
    family to hash-identity dedup: a user-identity sketch would need
    unbounded seen-user state online). Each batch re-emits the touched
    types' whole kilobyte sketch with a bumped update counter; the
    drained sink keeps each type's LAST emission (max ``upd`` —
    batch-count independence, the running_user_totals discipline), and
    the ordered-pair difference report + exact audit run batch-side
    over the drained sketches through the SAME ``_kmv_pair_report``
    the batch twin uses — byte-equal output, aliased oracle.

    100 TB posture: the online path touches each event once,
    stateless until the bounded per-type fold; a deployment persists
    the drained sketch table (k×types int64s) and answers any later
    difference/overlap question without re-reading events."""
    from mapreducecf_spark.queries.timeseries import (
        _kmv_hash,
        _kmv_pair_report,
        _kmv_uh,
    )
    from mapreducecf_spark.sources import load_table
    from mapreducecf_spark.streaming.stateful import kmv_bottom_k
    from mapreducecf_spark.streaming.windows import stream_table

    ev = stream_table(spark, sf_dir, "events")
    typed = ev.select(
        F.col("event_type").alias("t"), _kmv_hash(F.col("user_id")).alias("h")
    )
    drained = _replay(spark, kmv_bottom_k(typed), "update")
    # keep each type's LAST emission: per-type max(upd) via a window
    # (a groupBy self-join on the memory sink trips Spark's
    # conflicting-attribute check); types are few, sketches tiny
    from pyspark.sql.window import Window as W

    sk = (
        drained.withColumn("mx", F.max("upd").over(W.partitionBy("t")))
        .filter(F.col("upd") == F.col("mx"))
        .select("t", "rnk", "h")
        .localCheckpoint()
    )
    uh = _kmv_uh(load_table(spark, sf_dir, "events")).localCheckpoint()
    return _kmv_pair_report(uh, sk)


# ---------------------------------------------------------------------
# Mann-Whitney A/B monitor maintained ONLINE (r16)
# ---------------------------------------------------------------------
registry.ORACLE_ALIASES["stream_mannwhitney_u"] = "ts_mannwhitney_u"


@register("stream_mannwhitney_u")
def stream_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ts_mannwhitney_u`` as a LIVE A/B monitor: arriving events
    project their arm flag + cents quantization row-wise against the
    broadcast 1-row arm pair (``_mwu_vals`` — the shared stateless
    edge projection; the monitored pair is configuration, derived
    here from the static table the way the anomaly monitor reads its
    baseline), and the ONLY state is the complete-mode per-cent value
    grid (na_c, t_c) — bounded by the value DOMAIN, not the stream
    length (the stream_value_histogram shape). Ranks, U, the tie term
    and the z verdict run batch-side over the drained grid through
    the SAME ``_mwu_of_grid`` definition — the rank-sum needs the
    whole current grid (the aggregation-over-aggregation split), and
    byte-equality with the batch test is by construction (pytest-
    pinned), so the oracle is aliased. This is the drift gate an
    experimentation pipeline keeps hot: the verdict updates the
    moment a batch lands, no nightly rank-sum job."""
    from mapreducecf_spark.queries.timeseries import (
        _mwu_of_grid,
        _mwu_pair,
        _mwu_vals,
    )
    from mapreducecf_spark.sources import load_table
    from mapreducecf_spark.streaming.windows import stream_events

    tp = _mwu_pair(load_table(spark, sf_dir, "events")).localCheckpoint()
    vals = _mwu_vals(stream_events(spark, sf_dir), tp)
    grid = vals.groupBy("ta", "tb", "c").agg(
        F.sum("is_a").cast("bigint").alias("na_c"),
        F.count("*").cast("bigint").alias("t_c"),
    )
    return _mwu_of_grid(_replay(spark, grid, "complete"))


# ---------------------------------------------------------------------
# chi-squared mix monitor maintained ONLINE (r16)
# ---------------------------------------------------------------------
registry.ORACLE_ALIASES["stream_chi2_independence"] = "ts_chi2_independence"


@register("stream_chi2_independence")
def stream_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ts_chi2_independence`` as a LIVE mix monitor: arriving events
    project (event_type, ISO weekday) row-wise, and the ONLY state is
    the complete-mode contingency-cell count table — bounded by
    types × 7, the smallest state of any monitor in the family.
    Margins, the chi² sum, and the tabulated-critical-value verdict
    run batch-side over the drained cells through the SAME
    ``_chi2_of_cells`` definition (every cell's term needs the final
    margins — the aggregation-over-aggregation split), so the result
    is byte-equal to the batch test (pytest-pinned) and the oracle is
    aliased. A mix controller watches this to catch the event
    composition decoupling from its weekday seasonality the moment a
    batch lands."""
    from mapreducecf_spark.queries.timeseries import _chi2_of_cells
    from mapreducecf_spark.streaming.windows import stream_events

    ev = stream_events(spark, sf_dir)
    cells = (
        ev.select(
            F.col("event_type").alias("et"),
            F.expr("CAST(((dayofweek(ts) + 5) % 7) + 1 AS INT)").alias("dow"),
        )
        .groupBy("et", "dow")
        .agg(F.count("*").cast("bigint").alias("o"))
    )
    return _chi2_of_cells(_replay(spark, cells, "complete"))


# ---------------------------------------------------------------------
# Wilcoxon signed-rank monitor maintained ONLINE (r17)
# ---------------------------------------------------------------------
registry.ORACLE_ALIASES["stream_wilcoxon_signed_rank"] = "ts_wilcoxon_signed_rank"


@register("stream_wilcoxon_signed_rank")
def stream_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ts_wilcoxon_signed_rank`` as a LIVE paired-impact monitor:
    the split bounds (lo, hi) are configuration read from the static
    table (the _mwu_pair rule — a deployment pins the launch instant),
    each arriving event classifies itself before/after ROW-WISE
    against the broadcast 1-row bounds, and the ONLY state is the
    complete-mode per-user signed-difference counter d = 2·Σafter −
    n — one bigint per ACTIVE user, bounded by the user domain (the
    stream_running_user_totals state class, the price of any paired
    design: pairing IS per-subject memory). Ranking, ties, and the z
    verdict run batch-side over the drained pairs through the SAME
    ``_wsr_of_pairs`` definition (average ranks need the final |d|
    grid — the aggregation-over-aggregation split), so the result is
    byte-equal to the batch test (pytest-pinned) and the oracle is
    aliased. This is the launch-impact gate kept hot: the
    within-user verdict updates the moment a batch lands."""
    from mapreducecf_spark.queries.timeseries import _wsr_of_pairs
    from mapreducecf_spark.sources import load_table
    from mapreducecf_spark.streaming.windows import stream_events

    bounds = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.min(F.unix_micros("ts")).cast("bigint").alias("lo"),
            F.max(F.unix_micros("ts")).cast("bigint").alias("hi"),
        )
        .localCheckpoint()
    )
    ev = stream_events(spark, sf_dir)
    pu = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.when(
                2 * F.unix_micros("ts") >= F.col("lo") + F.col("hi"), 1
            ).otherwise(0).alias("is_after"),
        )
        .groupBy("user_id")
        .agg(
            (2 * F.sum("is_after") - F.count("*")).cast("bigint").alias("d")
        )
    )
    return _wsr_of_pairs(_replay(spark, pu, "complete"))


# ---------------------------------------------------------------------
# Kruskal-Wallis k-sample monitor maintained ONLINE (r17)
# ---------------------------------------------------------------------
registry.ORACLE_ALIASES["stream_kruskal_wallis"] = "ts_kruskal_wallis"


@register("stream_kruskal_wallis")
def stream_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ts_kruskal_wallis`` as a LIVE k-sample location monitor:
    arriving events project (type, cents) row-wise, and the ONLY
    state is the complete-mode (type, cent) value grid — bounded by
    types × the value DOMAIN, not the stream length (the
    stream_value_histogram shape the MWU monitor shares). Global
    ranking, per-group rank sums, ties and the tie-corrected H
    verdict run batch-side over the drained grid through the SAME
    ``_kw_of_grid`` definition (ranks need the final grid — the
    aggregation-over-aggregation split), byte-equal to the batch test
    (pytest-pinned) so the oracle is aliased. This is the
    multi-variant experiment gate kept hot: one monitor over ALL
    arms instead of k·(k−1)/2 pairwise Mann-Whitney monitors."""
    from mapreducecf_spark.queries.timeseries import _kw_of_grid
    from mapreducecf_spark.streaming.windows import stream_events

    ev = stream_events(spark, sf_dir)
    grid = (
        ev.select(
            F.col("event_type").alias("t"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("c"),
        )
        .groupBy("t", "c")
        .agg(F.count("*").cast("bigint").alias("n_tc"))
    )
    return _kw_of_grid(_replay(spark, grid, "complete"))


# ---------------------------------------------------------------------
# Brown-Forsythe dispersion monitor maintained ONLINE (r17)
# ---------------------------------------------------------------------
registry.ORACLE_ALIASES["stream_brown_forsythe"] = "ts_brown_forsythe"


@register("stream_brown_forsythe")
def stream_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ts_brown_forsythe`` as a LIVE dispersion monitor: arriving
    events project (type, cents) row-wise, and the ONLY state is the
    complete-mode (type, cent) value grid (shared shape with the MWU
    and Kruskal-Wallis monitors — one state layout serves the whole
    location+dispersion battery). Per-group medians, deviations, and
    the F verdict run batch-side over the drained grid through the
    SAME ``_bf_of_grid`` definition (medians need the final grid —
    the aggregation-over-aggregation split), byte-equal to the batch
    test (pytest-pinned) so the oracle is aliased. This is the
    variance-drift gate location monitors are blind to: an arm whose
    values got noisier at the same median fires here first."""
    from mapreducecf_spark.queries.timeseries import _bf_of_grid
    from mapreducecf_spark.streaming.windows import stream_events

    ev = stream_events(spark, sf_dir)
    grid = (
        ev.select(
            F.col("event_type").alias("t"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("c"),
        )
        .groupBy("t", "c")
        .agg(F.count("*").cast("bigint").alias("n_tc"))
    )
    return _bf_of_grid(_replay(spark, grid, "complete"))


# ---------------------------------------------------------------------
# mergeable HLL actives maintained ONLINE (r17)
# ---------------------------------------------------------------------
registry.ORACLE_ALIASES["stream_hll_actives"] = "ts_actives_hll_union"


@register("stream_hll_actives")
def stream_hll_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ts_actives_hll_union`` as a LIVE rollup: arriving events fold
    into complete-mode per-(type, day) DataSketches HLL aggregation
    state — the state IS the sketch table (types × days rows, ~1.5 KB
    each; bounded by the calendar, not the stream), exactly what the
    persisted lake table (sink_hll_roundtrip) holds, maintained by the
    engine's own mergeable HLL aggregate instead of a nightly rebuild.
    The per-type union + exact audit run batch-side over the drained
    sketches through the SAME ``_hll_union_report``; the exact-twin
    columns are deterministic so the oracle is aliased, and the
    byte-equality with the batch build is pytest-pinned (DataSketches
    HLL builds are deterministic for a given input multiset)."""
    from mapreducecf_spark.queries.timeseries import _hll_union_report
    from mapreducecf_spark.sources import load_table
    from mapreducecf_spark.streaming.windows import stream_events

    ev = stream_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return _hll_union_report(
        _replay(spark, daily, "complete"), load_table(spark, sf_dir, "events")
    )


registry.ORACLE_ALIASES["stream_kll_quantiles"] = "sink_kll_roundtrip"


@register("stream_kll_quantiles")
def stream_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sink_kll_roundtrip``'s consumer as a LIVE percentile monitor
    (r18 — completing the streaming sketch tier: KMV has
    stream_audience_kmv, HLL has stream_hll_actives, KLL had only the
    lake round-trip): arriving events fold into complete-mode
    per-(type, day) ``kll_sketch_agg_double`` state — the state IS
    the persisted sketch table's shape (types × days rows, KB each;
    calendar-bounded, never the stream), maintained by the engine's
    own mergeable quantile aggregate instead of a nightly re-sort.
    The per-type merge + exact audit run batch-side over the drained
    sketches through the SAME ``_kll_quantile_report``. KLL
    compaction is randomized, so the streamed sketch's internal
    estimates may differ from the batch build's — but every OUTPUT
    column is deterministic whenever the per-engine ``approx_ok``
    bound holds (n_values is the sketch's exact counter; p50/p90 are
    exact twins), so the oracle is aliased and the batch equality is
    pytest-pinned."""
    from mapreducecf_spark.queries.storage import KLL_K, _kll_quantile_report
    from mapreducecf_spark.sources import load_table
    from mapreducecf_spark.streaming.windows import stream_events

    ev = stream_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.kll_sketch_agg_double("value", KLL_K).alias("sk"))
    return _kll_quantile_report(
        _replay(spark, daily, "complete"), load_table(spark, sf_dir, "events")
    )


# ---------------------------------------------------------------------
# resampling harness maintained ONLINE (r17) — the permutation tests
# and the bootstrap CI share ONE calendar-bounded daily-count state
# ---------------------------------------------------------------------
registry.ORACLE_ALIASES["stream_permutation_mean_shift"] = "ts_permutation_mean_shift"
registry.ORACLE_ALIASES["stream_permutation_weekday_effect"] = (
    "ts_permutation_weekday_effect"
)
registry.ORACLE_ALIASES["stream_bootstrap_mean_ci"] = "ts_bootstrap_mean_ci"


def _stream_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained complete-mode (day, cnt) — the ONE state table all
    three online resampling monitors read: per-day bigint counters,
    bounded by the calendar, the smallest state shape in the monitor
    family after the chi² cells."""
    from mapreducecf_spark.streaming.windows import stream_events

    ev = stream_events(spark, sf_dir)
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    return _replay(spark, daily, "complete")


registry.ORACLE_ALIASES["stream_theil_sen_slope"] = "ts_theil_sen_slope"


@register("stream_theil_sen_slope")
def stream_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ts_theil_sen_slope`` as a LIVE drift-rate monitor (r18) —
    the SAME shared complete-mode daily-counter state as the
    resampling monitors; the days² pairwise-slope median runs
    batch-side over the drained calendar through the SAME
    ``_theilsen_of_daily``; byte-equal pytest, aliased oracle. MK's
    online twin says whether the feed drifts; this one says how
    fast."""
    from mapreducecf_spark.queries.timeseries import _theilsen_of_daily

    return _theilsen_of_daily(spark, _stream_daily_counts(spark, sf_dir))


registry.ORACLE_ALIASES["stream_spearman_corr"] = "ts_spearman_corr"


@register("stream_spearman_corr")
def stream_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ts_spearman_corr`` as a LIVE association monitor (r18):
    state = complete-mode per-day (count, cents-sum) counters — two
    bigints per calendar day, the daily-counter class; the doubled-
    average-rank Pearson-on-ranks rho and the z verdict run
    batch-side over the drained table through the SAME
    ``_spearman_of_daily`` (ranking needs the whole current calendar
    — the aggregation-over-aggregation split); byte-equal pytest,
    aliased oracle."""
    from mapreducecf_spark.queries.timeseries import _spearman_of_daily
    from mapreducecf_spark.streaming.windows import stream_events

    ev = stream_events(spark, sf_dir)
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.count("*").cast("bigint").alias("x"),
        F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("y"),
    )
    return _spearman_of_daily(spark, _replay(spark, daily, "complete"))


@register("stream_permutation_mean_shift")
def stream_permutation_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ts_permutation_mean_shift`` as a LIVE monitor: state = the
    complete-mode daily counters; the 199 md5 shuffles and the
    add-one p-value run batch-side over the drained table through the
    SAME ``_perm_shift_of_daily`` (the harness needs the final
    calendar — the aggregation-over-aggregation split), byte-equal to
    the batch test (pytest-pinned) so the oracle is aliased. This is
    distribution-free drift detection kept hot: the resampling
    verdict updates the moment a batch lands."""
    from mapreducecf_spark.queries.timeseries import _perm_shift_of_daily

    return _perm_shift_of_daily(spark, _stream_daily_counts(spark, sf_dir))


@register("stream_permutation_weekday_effect")
def stream_permutation_weekday_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``ts_permutation_weekday_effect`` as a LIVE monitor — same
    shared daily-count state, slot-preserving shuffles batch-side
    through the SAME ``_perm_weekday_of_daily``; byte-equal pytest,
    aliased oracle."""
    from mapreducecf_spark.queries.timeseries import _perm_weekday_of_daily

    return _perm_weekday_of_daily(spark, _stream_daily_counts(spark, sf_dir))


@register("stream_bootstrap_median_ci")
def stream_bootstrap_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ts_bootstrap_median_ci`` as a LIVE uncertainty band (r18) —
    same shared daily-count state, the 199 md5 resamples and integer
    med2 order statistics batch-side through the SAME
    ``_bootstrap_median_of_daily``; byte-equal pytest, aliased
    oracle. The robust-center live band beside the mean's."""
    from mapreducecf_spark.queries.timeseries import _bootstrap_median_of_daily

    return _bootstrap_median_of_daily(spark, _stream_daily_counts(spark, sf_dir))


registry.ORACLE_ALIASES["stream_bootstrap_median_ci"] = "ts_bootstrap_median_ci"


@register("stream_bootstrap_mean_ci")
def stream_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ts_bootstrap_mean_ci`` as a LIVE uncertainty band — same
    shared daily-count state, the 199 md5 resamples and order-
    statistic endpoints batch-side through the SAME
    ``_bootstrap_of_daily``; byte-equal pytest, aliased oracle. The
    dashboard gets a live mean WITH its interval, not a bare point."""
    from mapreducecf_spark.queries.timeseries import _bootstrap_of_daily

    return _bootstrap_of_daily(spark, _stream_daily_counts(spark, sf_dir))
