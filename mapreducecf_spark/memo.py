"""Session memo — the build-once/consume-many shape, in one store.

Several query families share one expensive intermediate: the kNN edge
list (sim_knn_graph / sim_pagerank / sim_label_propagation), the
embedding-LSH verified pairs (sim_lsh_pairs / dedup_embedding_cosine /
pipe_dedup_keep_best), the MinHash verified pairs (dedup_minhash_lsh /
dedup_clusters / dedup_pipeline_keep / dedup_minhash_calibration).
Each registered query must stand alone (the driver grades them
independently), so without sharing every family member rebuilds the
whole prefix. This module holds every such artifact, keyed on
(applicationId, *key); the first caller pays the build, the rest reuse
it. Entries come in two kinds behind one store:

- ``session_value`` keeps whatever ``build()`` returns: driver-side
  values such as the trained k-means/PQ codebooks, quantizer stats,
  the corpus count, or ``None`` from a write-once side effect (the
  storage round-trips' physical layouts).
- ``session_memo`` is ``session_value`` plus ``persist()``: the entry
  is a DataFrame whose cached partitions every consumer reads.

``evict()`` drops both kinds (unpersisting DataFrames), so "cold" means
``memo.evict()`` plus ``spark.catalog.clearCache()`` and nothing else.

At 100 TB the same pattern is a MATERIALIZED artifact: train/build
once, write to parquet, every consumer reads the table (the incremental
-dedup query demonstrates that persisted-index shape). ``persist()`` is
the in-session equivalent; keying on applicationId makes entries from
stopped sessions unreachable (they hold only unreferenced plan objects,
no executor memory — Spark drops cached blocks with the session), and
each call sweeps them out.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_MEMO: dict[tuple, object] = {}
#: guards the _MEMO dict itself (lookups, insert, evict) — held only
#: for dict operations, never across a build
_LOCK = threading.RLock()
#: per-key build locks: a first build (which for keys like the k-means
#: codebook or cf_model runs full eager Spark jobs) serializes only
#: same-key callers; an unrelated cheap memo key never blocks behind
#: an expensive build. Entries are tiny and keyed like _MEMO, so the
#: same app-id sweep prunes them.
_KEY_LOCKS: dict[tuple, threading.Lock] = {}


def evict(key_prefix: tuple | None = None) -> None:
    """Drop memo entries of both kinds for the key prefix across ALL
    applications (or everything when ``key_prefix`` is None). Plan
    tests use this to force a rebuild under their own session config.

    Evicted DataFrames are UNPERSISTED, not just forgotten: Spark's
    CacheManager matches by canonicalized plan, so a still-cached old
    relation would be silently substituted into the "rebuilt" plan
    (compiled under the OLD session config — exactly what a plan test
    evicts to escape) and its blocks would leak until clearCache."""
    with _LOCK:
        for k in list(_MEMO):
            if key_prefix is None or k[1 : 1 + len(key_prefix)] == key_prefix:
                v = _MEMO.pop(k)
                if isinstance(v, DataFrame):
                    try:
                        v.unpersist()
                    except Exception:  # noqa: BLE001 — session may be stopped
                        pass


def session_value(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """Return the value memoized for ``key`` in this session, running
    ``build()`` on first use. Concurrent first callers of one key
    build once; the rest get the first caller's value."""
    app_id = spark.sparkContext.applicationId
    full_key = (app_id, *key)
    with _LOCK:
        # entries keyed to stopped applications are unreachable, but in
        # a long-lived multi-session process they'd accumulate forever
        # — drop any key not belonging to the live application
        for k in list(_MEMO):
            if k[0] != app_id:
                del _MEMO[k]
        for k in list(_KEY_LOCKS):
            if k[0] != app_id:
                del _KEY_LOCKS[k]
        key_lock = _KEY_LOCKS.setdefault(full_key, threading.Lock())
    # build OUTSIDE the dict lock: only same-key first callers
    # serialize; the double-checked get under key_lock makes the
    # second caller reuse the first caller's build
    with key_lock:
        with _LOCK:
            if full_key in _MEMO:
                return _MEMO[full_key]
        value = build()
        with _LOCK:
            _MEMO[full_key] = value
        return value


def session_memo(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the memoized persisted DataFrame for ``key`` in this
    session, building it via ``build()`` on first use."""
    df = session_value(spark, key, lambda: build().persist())
    if not (df.storageLevel.useMemory or df.storageLevel.useDisk):
        # someone ran spark.catalog.clearCache() (e.g. scan-count plan
        # tests do) — the memoized plan is still correct, but without
        # re-persisting every consumer would silently recompute it
        df.persist()
    return df
