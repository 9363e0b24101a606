"""Determinism-under-parallelism gate: a query's RESULT must not
depend on the shuffle partition count (and therefore not on cluster
size) — the property that makes an answer computed on local[32]
identical on 1000 executors. The hash-sensitive shapes are the ones
where an ordering or float-summation dependency would hide: windowed
top-k with tiebreaks, fixed-point iterative algorithms, md5-derived
sampling, banded candidate generation, streaming replays.

The full registry's cross-engine hash gate (tools/check_parity.py)
already proves value-determinism at ONE partitioning; this test moves
the partition count and requires bit-identical results, which catches
the classic scale bug the parity gate cannot: a plan that is correct
at 32 partitions and different at 7."""

from __future__ import annotations

import pytest

#: representative hash-sensitive queries, one per risk class
_QUERIES = [
    "wordcount",  # the reference semantics
    "window_topk_per_group",  # rank tiebreaks
    "sort_topk_global",  # global top-k
    "sim_pagerank",  # fixed-point iteration
    "dedup_clusters",  # iterative fixpoint + localCheckpoint
    "sim_bfs_hops",  # frontier iteration
    "dedup_minhash_lsh",  # banded candidates + verify
    "pipe_sample_priority",  # weighted sampling fixed-point
    "cf_recommend_topk",  # scored top-k over memoized model
    "agg_salted_global",  # salted two-phase aggregation
    "ts_peak_concurrency",  # two-phase prefix sum
    "q1_pricing_summary",  # rounded float aggregation
    "cf_als_factors",  # r08: integer factorization sweep (sums must be exact)
    "sim_beam_knn",  # r08: iterative beam rank + per-hop checkpoint
    "sim_pq_encode",  # r08: Arrow batch argmin (tie slow path)
    "sim_binary_quant_recall",  # r09: integer sign-threshold + Hamming ties
    "pipe_contamination_attribution",  # r09: windowed examples + distinct counts
    "pipe_pack_sequences_bpe",  # r09/r10: two-phase bucketed pack layout
    "sim_kmeans_codebook",  # r11: k-means|| seeding (integer Bernoulli rounds)
    "ts_interarrival",  # r11: (type, day) seam-merged lag + exact percentiles
    "dedup_containment_search",  # r11: integer-ranked top-k + sig estimate
    "sim_beam_knn_layered",  # r13: member-graph build + two-layer beam
    "sim_ivfpq_residual_topk",  # r13: residual training + per-probe LUTs
    "dedup_segment_exact",  # r13: corpus-wide keep-first over the segment hash
    "text_bpe_train",  # r13: iterative argmax merge loop (run-parity windows)
    "sim_knn_index_cdc",  # r13: retract/merge/recompute union + fresh ranks
    "text_ppl_filter",  # r14: exact percentile cutoff over integer micros
    "pipe_token_apportion",  # r14: bigint div/mod + remainder-rank extras
    "sim_embedding_drift",  # r14: Arrow re-assignment union + integer PSI
    "sim_beam_ef_sweep",  # r15: chain-rank tagging through the beam hops
    "dedup_winnowing",  # r15: narrow window-min selection + capped fp join
    "sim_hybrid_rrf",  # r15: two-channel ranks + integer fusion top-k
    "cf_eval_holdout",  # r15: train-split model + rank-literal metrics
    "text_textrank_keywords",  # r15: integer power iteration + global top-k
    "mm_audio_fp_neardup",  # r15: Arrow fingerprints + banded Hamming join
    "dedup_threshold_sweep",  # r15: per-point distinct counts over pairs
    "sim_hard_negatives",  # r15: composed exclusions + dense re-rank
    "sim_ivf_code_budget_sweep",  # r15: three-codec re-rank off one wide table
    "sim_kcenter_coreset",  # r15: farthest-first argmax rounds (integer radii)
    "ts_audience_kmv",  # r15: Arrow partial k-smallest must be partition-invariant
    "ts_kmv_set_algebra",  # r16: merged-cut union sketch + rho-scaled estimates
    "ts_bootstrap_median_ci",  # r18: tied-rank med2 must be order-insensitive
    "mm_audio_features_real",  # r18: real-container decode in the Arrow stage
]


def _rows(spark, name, sf_dir):
    from mapreducecf_spark.registry import QUERIES

    df = QUERIES[name](spark, sf_dir)
    return sorted(tuple(str(c) for c in r) for r in df.collect())


@pytest.mark.parametrize("name", _QUERIES)
def test_result_is_partition_count_invariant(spark, sf_dir, name):
    from mapreducecf_spark import memo

    base = _rows(spark, name, sf_dir)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    # memoized intermediates were built at the old partitioning; evict
    # so the odd-partition run rebuilds everything under the new DOP
    memo.evict()
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        alt = _rows(spark, name, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        memo.evict()  # don't leave 7-partition artifacts for other tests
    assert base == alt, f"{name}: result depends on shuffle partition count"


def _count_calls(monkeypatch, module, name: str) -> list:
    """Wrap ``module.name`` so every call is recorded; returns the
    (growing) list of recorded calls — one per artifact build when
    ``name`` is the function only that artifact's build calls."""
    calls = []
    real = getattr(module, name)

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, counted)
    return calls


@pytest.mark.parametrize(
    "call, key, counted",
    [
        # a DataFrame artifact, its build counted at the build function
        ("sim_knn_graph", "knn_graph", "_build_knn_graph"),
        # a driver-side value artifact, its build counted at its one scan
        ("_sq8_stats", "sq8_stats", "load_vectors"),
    ],
    ids=["knn_graph", "sq8_stats"],
)
def test_concurrent_memoized_queries_build_once(
    spark, sf_dir, monkeypatch, call, key, counted
):
    """Four threads race the same memoized artifact cold: the memo lock
    must serialize the first build (no double-build, no KeyError from
    concurrent eviction) and every caller must get the same object and
    identical results."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import DataFrame

    from mapreducecf_spark import memo
    from mapreducecf_spark.queries import similarity

    memo.evict((key,))
    builds = _count_calls(monkeypatch, similarity, counted)

    def run(_):
        v = getattr(similarity, call)(spark, sf_dir)
        return v, sorted(map(tuple, v.collect())) if isinstance(v, DataFrame) else v

    with ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(run, range(4)))
    assert len(builds) == 1, f"{key}: {len(builds)} builds for 4 racing callers"
    assert len({id(v) for v, _ in results}) == 1, "callers got separate builds"
    assert all(out == results[0][1] for _, out in results)
    app = spark.sparkContext.applicationId
    assert sum(1 for k in memo._MEMO if k[0] == app and k[1] == key) == 1


@pytest.mark.parametrize(
    "module, call, counted",
    [
        ("timeseries", "mad_stats", "load_table"),  # DataFrame artifact
        ("similarity", "_sq8_stats", "load_vectors"),  # value artifact
    ],
    ids=["mad_stats", "sq8_stats"],
)
def test_evict_forces_rebuild_of_every_artifact_kind(
    spark, sf_dir, monkeypatch, module, call, counted
):
    """``memo.evict()`` reaches every session artifact: the call after
    it rebuilds, and the call after that reuses the rebuilt one."""
    import importlib

    from mapreducecf_spark import memo

    mod = importlib.import_module(f"mapreducecf_spark.queries.{module}")
    fn = getattr(mod, call)
    builds = _count_calls(monkeypatch, mod, counted)
    fn(spark, sf_dir)
    n = len(builds)
    memo.evict()
    fn(spark, sf_dir)
    assert len(builds) == n + 1, f"{call}: evict() did not force a rebuild"
    fn(spark, sf_dir)
    assert len(builds) == n + 1, f"{call}: rebuilt without an evict()"


def test_prewarm_covers_every_memoized_family(spark, sf_dir):
    """bench.py's named shared-build phase must build EVERY
    session-memoized family — if a new query introduces a memo key that
    prewarm doesn't cover, its build cost silently lands on the first
    family member in the bench loop again (the r05 mis-attribution this
    phase exists to prevent). Constructing every registered query after
    prewarm must therefore add no new memo families."""
    from pyspark.sql import DataFrame

    from mapreducecf_spark import memo
    from mapreducecf_spark.prewarm import build_shared_intermediates
    from mapreducecf_spark.registry import QUERIES

    memo.evict()
    build_shared_intermediates(spark, sf_dir)
    app = spark.sparkContext.applicationId
    # FULL key tuples, not family names (r06 verdict item 4): a
    # per-parameter variant like the decontamination shingle index
    # (("shingles", sf_dir, DECON_K)) shares its family name with the
    # prewarmed default-k index and would slip through a name compare
    # DataFrame entries only, the scope this gate has always had:
    # driver-side values (codebooks, stats, write-once storage layouts)
    # share the store but are not part of prewarm's list
    def df_keys() -> set:
        return {
            k[1:]
            for k, v in memo._MEMO.items()
            if k[0] == app and isinstance(v, DataFrame)
        }

    before = df_keys()
    for fn in QUERIES.values():
        fn(spark, sf_dir)
    after = df_keys()
    assert after == before, f"memo keys prewarm misses: {after - before}"
