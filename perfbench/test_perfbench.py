"""The benchmark's own tests: seeded inputs are reproducible and correct,
and what a traced operation's layers measure apart from its wall timer
fits inside its wall time.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import re
import string
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from layers import plan_counts, union_seconds  # noqa: E402


def _read(folder: str) -> bytes:
    return b"".join(open(os.path.join(folder, f), "rb").read() for f in sorted(os.listdir(folder)))


def _reference_counts(folder: str) -> Counter:
    """The reference tokenizer, line by line: delete ASCII punctuation,
    split on runs of spaces, drop blank tokens."""
    table = str.maketrans("", "", string.punctuation)
    counts: Counter = Counter()
    for f in sorted(os.listdir(folder)):
        with open(os.path.join(folder, f), encoding="utf-8") as fh:
            for line in fh.read().split("\n"):
                counts.update(t for t in re.split(" +", line.translate(table)) if t.strip())
    return counts


def test_same_seed_same_corpus_other_seed_differs(tmp_path):
    a = gen.make_corpus(str(tmp_path / "a"), 7, 0.3, n_files=3, vocab_size=2000)
    b = gen.make_corpus(str(tmp_path / "b"), 7, 0.3, n_files=3, vocab_size=2000)
    c = gen.make_corpus(str(tmp_path / "c"), 8, 0.3, n_files=3, vocab_size=2000)
    assert _read(a.folder) == _read(b.folder)
    assert a.counts_cs == b.counts_cs and a.counts_ci == b.counts_ci
    assert _read(a.folder) != _read(c.folder)
    assert a.counts_cs != c.counts_cs and a.counts_ci != c.counts_ci


def test_known_counts_match_reference_tokenizer(tmp_path):
    corpus = gen.make_corpus(str(tmp_path / "c"), 3, 0.5, n_files=4, vocab_size=5000)
    assert corpus.counts_cs == _reference_counts(corpus.folder)
    lowered: Counter = Counter()
    for tok, n in corpus.counts_cs.items():
        lowered[tok.lower()] += n
    assert corpus.counts_ci == lowered
    # the tokenizer's edge cases are present
    assert any("\t" in t for t in corpus.counts_cs)
    assert any(t in corpus.counts_cs for t in ("—", "…", "«", "»", "¿"))
    assert any(t.isupper() for t in corpus.counts_cs)
    text = _read(corpus.folder).decode()
    assert "   " in text and any(c in text for c in string.punctuation)


def test_tables_are_reproducible(tmp_path):
    import pyarrow.parquet as pq

    gen.make_tables(str(tmp_path / "a"), 0.001)
    gen.make_tables(str(tmp_path / "b"), 0.001)
    for name in ("lineitem", "events", "documents", "embeddings"):
        ta = pq.read_table(str(tmp_path / "a" / f"{name}.parquet"))
        tb = pq.read_table(str(tmp_path / "b" / f"{name}.parquet"))
        assert ta.equals(tb), name


def test_union_seconds_merges_overlaps():
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_seconds([(0, 10), (2, 3), (9, 12)]) == 12
    assert union_seconds([]) == 0


def _graph(*names: str) -> dict:
    """A plan graph as ``/sql/<id>`` gives it: node ``i`` is the child
    of node ``i - 1``, plus one whole-stage-codegen cluster node."""
    nodes = [{"nodeId": i, "nodeName": n} for i, n in enumerate(names)]
    nodes.append({"nodeId": len(names), "nodeName": "WholeStageCodegen (1)"})
    return {"nodes": nodes, "edges": [{"fromId": i, "toId": i - 1} for i in range(1, len(names))]}


def test_plan_counts_skips_cached_plans():
    window_over_cache = _graph(
        "OverwriteByExpression", "AdaptiveSparkPlan", "Sort", "Exchange", "Window",
        "InMemoryTableScan", "AdaptiveSparkPlan", "Exchange", "Scan parquet")
    udf = _graph("AdaptiveSparkPlan", "ArrowEvalPython", "BroadcastExchange", "Scan parquet")
    assert plan_counts([window_over_cache, udf]) == {
        "plan.exchanges": 2, "plan.sorts": 1, "plan.windows": 1, "plan.scans": 1,
        "plan.python_nodes": 1, "plan.cached_scans": 1}


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """A session with the traced run's probe, on generated tables."""
    import loop

    work = str(tmp_path_factory.mktemp("work"))
    tables = os.path.join(work, "tables")
    gen.make_tables(tables, 0.001)
    env, conf = loop.session_settings(work, tables)
    spark, _ = loop.start_session(env, conf, os.path.join(tables, "region.parquet"))
    try:
        yield spark, loop.Probe(spark), tables
    finally:
        loop.stop_session(spark)


@pytest.mark.parametrize("row", ["q3_shipping_priority", "stream_tumbling_hourly"])
def test_layers_fit_inside_wall(traced, row):
    """construct + execute = wall and busy + gap = wall hold by
    definition: each right-hand side is the benchmark's own timer. This
    checks the figures measured apart from that timer against it, within
    5%: the scheduler's job intervals (REST), the executors' task time
    and the stream listener's trigger times."""
    import loop
    from mapreducecf_spark import registry

    spark, probe, tables = traced
    fn = registry.QUERIES[row]
    first = len(probe.tracer.spans)
    rec = loop.run_op(spark, loop.Op(row, lambda: fn(spark, tables)), 1, probe)
    assert rec["ok"]
    lay, wall = rec["layers"], rec["wall_s"]
    tol = 0.05 * wall
    root, *children = probe.tracer.spans[first:]
    jobs = [c for c in children if c["name"].startswith("job:")]
    assert len(jobs) == lay["jobs.count"] >= 1
    for j in jobs:
        assert root["start"] - tol <= j["start"] <= j["end"] <= root["end"] + tol, j
    assert 0 < lay["jobs.busy_s"] <= wall + tol
    assert lay["jobs.driver_gap_s"] >= -tol
    cores = len(os.sched_getaffinity(0))
    assert 0 < lay["jobs.executor_run_s"] <= cores * lay["jobs.busy_s"] + tol
    assert lay["plan.scans"] >= 1
    if row.startswith("stream_"):
        construct = children[0]
        batches = [c for c in children if c["name"].startswith("batch:")]
        assert len(batches) == lay["streaming.batches"] >= 1
        for b in batches:
            assert construct["start"] - tol <= b["start"] <= b["end"] <= construct["end"] + tol
        assert 0 < lay["streaming.trigger_s"] <= rec["construct_s"] + tol
        assert lay["streaming.start_stop_s"] >= -tol
