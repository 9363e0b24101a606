"""Standalone re-timer for bench disputes: run named queries in a
fresh session, cold (no memoized family artifacts, pristine cache) and
warm (family artifacts built), printing both numbers.

This operationalizes the rule every bench adjudication keeps
re-deriving (r04 q21 slot-contention, r05 sim_pagerank attribution):
only trust a per-query delta that reproduces standalone. A suite
number can legitimately differ — riders read family caches, builders
pay family builds, 32-way slot contention adds noise — so when a
BENCH_r{N}.json value looks regressed, this is the one command that
answers "did the plan get slower, or did the attribution move?"

Usage::

    python tools/retime.py [sf_dir] query [query ...]

Output: one line per query, ``name cold_s warm_s`` (plus a JSON tail
line for scripts). Cold = ``memo.evict()`` (every session artifact:
memoized DataFrames, driver-side values such as trained codebooks, and
the write-once storage layouts) + ``spark.catalog.clearCache()``, then
one timed run (the query pays its family's build, like a lone
production run against unmaterialized inputs). Warm = immediately
re-run (family artifacts persisted, like the suite's steady state).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _go_cold(spark) -> None:
    from mapreducecf_spark import memo

    memo.evict()  # every session artifact: DataFrames, values, writes
    spark.catalog.clearCache()


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    if not args:
        print(__doc__)
        return 2

    from mapreducecf_spark import get_spark
    from mapreducecf_spark.registry import QUERIES

    unknown = [q for q in args if q not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="mapreducecf-retime")
    spark.sparkContext.setLogLevel("ERROR")
    # engine warm-ups, same as bench.py: the numbers must isolate the
    # query, not JVM/codegen/Arrow-worker/streaming-engine startup
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(32).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    if any(q.startswith("stream_") for q in args):
        from pyspark.sql import functions as F

        wq = (
            spark.readStream.format("rate").option("rowsPerSecond", "1").load()
            .groupBy((F.col("value") % 8).alias("k")).agg(F.count("*").alias("n"))
            .writeStream.format("memory").queryName("retime_warmup_stream")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        wq.awaitTermination()

    results: dict[str, dict[str, float]] = {}
    for name in args:
        fn = QUERIES[name]
        _go_cold(spark)
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold = round(time.time() - t0, 2)
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        warm = round(time.time() - t0, 2)
        results[name] = {"cold": cold, "warm": warm}
        print(f"{name}  cold={cold}s  warm={warm}s")
    print(json.dumps({"sf_dir": sf_dir, "results": results}, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
