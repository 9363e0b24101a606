"""Unit tests for queries.similarity — the guarantees parity can't
see: LSH is a sound candidate pruner (subset of ground truth), brute
kNN agrees with numpy, and the scale paths plan the right joins."""

from __future__ import annotations

import contextlib
import io

import numpy as np


def _plan(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


def test_lsh_pairs_are_subset_of_brute_pairs(spark, sf_dir):
    from mapreducecf_spark.registry import QUERIES

    brute = {
        (r["ida"], r["idb"])
        for r in QUERIES["sim_pairs_threshold"](spark, sf_dir).collect()
    }
    lsh = {
        (r["ida"], r["idb"]) for r in QUERIES["sim_lsh_pairs"](spark, sf_dir).collect()
    }
    assert lsh <= brute
    assert brute  # non-vacuous at test SF


def _expected_query_ids(ids):
    """Independent replay of the md5-capped workload rule (smallest
    (md5(id), id), QUERY_CAP rows) — hashlib, not Spark."""
    import hashlib

    from mapreducecf_spark.queries.similarity import QUERY_CAP

    ranked = sorted(
        (int(i) for i in ids),
        key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v),
    )
    return set(ranked[:QUERY_CAP])


def test_knn_brute_matches_numpy(spark, sf_dir):
    from mapreducecf_spark.queries.similarity import KNN_K
    from mapreducecf_spark.registry import QUERIES
    from mapreducecf_spark.sources import load_table

    rows = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)

    got = QUERIES["sim_knn_brute"](spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["q_id"], r["rnk"])):
        by_q.setdefault(r["q_id"], []).append(r["neighbor_id"])

    qset = _expected_query_ids(ids)
    assert set(by_q) == qset
    for qi in np.where(np.isin(ids, list(qset)))[0]:
        cos = np.round(Vn @ Vn[qi], 6)
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != ids[qi]),
            key=lambda i: (-cos[i], ids[i]),
        )
        expect = [int(ids[i]) for i in order[:KNN_K]]
        assert by_q[int(ids[qi])] == expect


def test_scale_paths_plan_equi_joins(spark, sf_dir):
    """LSH candidates and the IVF fine search must be equi-joins —
    the 100 TB guarantee that nothing degrades to all-pairs."""
    from mapreducecf_spark.registry import QUERIES

    for name in ("sim_lsh_pairs", "dedup_embedding_cosine", "sim_ivf_knn"):
        p = _plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in p, name
    # brute kNN broadcasts the query batch: one pass over the big side
    p = _plan(QUERIES["sim_knn_brute"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p


def test_knn_graph_never_collects_the_table():
    """sim_knn_graph must not materialize the embeddings table on the
    driver (the r02 audit's one scale-killer): candidates come from LSH
    band buckets scored inside applyInPandas."""
    import inspect

    from mapreducecf_spark.queries import similarity

    src = inspect.getsource(similarity.sim_knn_graph)
    assert ".collect(" not in src
    assert "applyInPandas" in src


def test_knn_graph_topk_is_topk_of_bucket_candidates(spark, sf_dir):
    """Per-bucket partial top-k merged by the JVM window must equal
    top-k over the FULL candidate union (the lexicographic-order
    argument in the docstring) — recompute the union in numpy."""
    import numpy as np

    from mapreducecf_spark.queries.similarity import (
        HYPERPLANES,
        KNN_GRAPH_K,
        LSH_BANDS,
        lsh_rows_for,
    )
    from mapreducecf_spark.registry import QUERIES
    from mapreducecf_spark.sources import load_table

    rows = [r for r in load_table(spark, sf_dir, "embeddings").collect()
            if r["embedding"] is not None]
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    lsh_rows = lsh_rows_for(len(rows))  # the engine's adaptive width
    planes = np.array(HYPERPLANES[: LSH_BANDS * lsh_rows])
    # replicate the engine's EXACT sequential-fold dot for sign bits
    sig = ["".join("1" if sum(float(v[j]) * planes[p][j] for j in range(len(v))) > 0 else "0"
                   for p in range(len(planes))) for v in V]
    buckets: dict[tuple, list] = {}
    for i, s in enumerate(sig):
        for b in range(LSH_BANDS):
            buckets.setdefault((b, s[b * lsh_rows:(b + 1) * lsh_rows]), []).append(i)
    cand: dict[int, set] = {i: set() for i in range(len(ids))}
    for members in buckets.values():
        for i in members:
            cand[i].update(m for m in members if m != i)

    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    got: dict[int, list] = {}
    for r in sorted(QUERIES["sim_knn_graph"](spark, sf_dir).collect(),
                    key=lambda r: (r["vec_id"], r["rnk"])):
        got.setdefault(r["vec_id"], []).append(r["neighbor_id"])
    for i, cs in cand.items():
        if not cs:
            assert int(ids[i]) not in got
            continue
        cos = np.round(Vn[sorted(cs)] @ Vn[i], 6)
        order = sorted(zip(-cos, ids[sorted(cs)]))
        expect = [int(x[1]) for x in order[:KNN_GRAPH_K]]
        assert got[int(ids[i])] == expect, ids[i]


def test_ivf_kmeans_recall_beats_random_probing(spark, sf_dir):
    """The learned k-means codebook must be better than chance: with
    nprobe/nlist = 2/8, random list probing would recall ~25% of the
    true top-k; the trained index measures 44% on this data — pin a
    floor between the two so a codebook regression (e.g. degenerate
    clusters) fails loudly."""
    from mapreducecf_spark.registry import QUERIES

    brute = {(r["q_id"], r["neighbor_id"])
             for r in QUERIES["sim_knn_brute"](spark, sf_dir).collect()}
    ivf = {(r["q_id"], r["neighbor_id"])
           for r in QUERIES["sim_ivf_knn"](spark, sf_dir).collect()}
    assert len(brute & ivf) / len(brute) >= 0.3


def test_kmeans_codebook_shape_and_determinism(spark, sf_dir):
    """Codebook: exactly NLIST x DIM cells, and two runs are identical
    (fixed seeds + fixed rounds — no RNG anywhere)."""
    from mapreducecf_spark.queries.similarity import DIM, KMEANS_NLIST
    from mapreducecf_spark.registry import QUERIES

    a = sorted(map(tuple, QUERIES["sim_kmeans_codebook"](spark, sf_dir).collect()))
    b = sorted(map(tuple, QUERIES["sim_kmeans_codebook"](spark, sf_dir).collect()))
    assert a == b
    assert len(a) == KMEANS_NLIST * DIM


def test_label_propagation_votes_are_neighbor_majorities(spark, sf_dir):
    """One LP round recomputed driver-side from the engine's own edge
    list must equal the engine's first-round output embedded in the
    final result when run with LP_ROUNDS=1 semantics: here we check the
    weaker but exact invariants — labels stay inside the original label
    alphabet, and every changed node's final label is held by at least
    one symmetrized kNN neighbor in the previous round (a label can
    only be adopted from a neighbor)."""
    from mapreducecf_spark.queries.similarity import (
        sim_knn_graph,
        sim_label_propagation,
    )
    from mapreducecf_spark.sources import load_table

    out = {r["vec_id"]: r for r in sim_label_propagation(spark, sf_dir).collect()}
    orig = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    alphabet = set(orig.values())
    assert {r["label_final"] for r in out.values()} <= alphabet
    assert all(r["label_orig"] == orig[v] for v, r in out.items())
    assert set(out) == set(orig)
    # replay all rounds driver-side with the same vote rule
    edges = {
        (r["vec_id"], r["neighbor_id"])
        for r in sim_knn_graph(spark, sf_dir).collect()
    }
    sym: dict[int, set[int]] = {}
    for a, b in edges:
        sym.setdefault(a, set()).add(b)
        sym.setdefault(b, set()).add(a)
    from collections import Counter

    from mapreducecf_spark.queries.similarity import LP_ROUNDS

    lab = dict(orig)
    for _ in range(LP_ROUNDS):
        nxt = {}
        for v in lab:
            nb = sym.get(v)
            if not nb:
                nxt[v] = lab[v]
                continue
            c = Counter(lab[u] for u in nb)
            nxt[v] = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        lab = nxt
    assert all(out[v]["label_final"] == lab[v] for v in lab)


def test_session_memo_shares_builds(spark, sf_dir):
    """The build-once/consume-many memos (VERDICT r04 item 3): the kNN
    edge list, embedding-LSH pairs, MinHash pairs/sigs and the shingle
    index are each built once per (session, sf_dir) and every family
    member receives the SAME persisted DataFrame object."""
    from pyspark.sql import DataFrame

    from mapreducecf_spark import memo
    from mapreducecf_spark.queries import dedup as dd
    from mapreducecf_spark.queries.similarity import (
        NEARDUP_THRESHOLD,
        _lsh_pairs,
        sim_knn_graph,
    )

    g1 = sim_knn_graph(spark, sf_dir)
    g2 = sim_knn_graph(spark, sf_dir)
    assert g1 is g2
    assert g1.storageLevel.useMemory  # persisted, not rebuilt lazily

    p1 = _lsh_pairs(spark, sf_dir, NEARDUP_THRESHOLD)
    p2 = _lsh_pairs(spark, sf_dir, NEARDUP_THRESHOLD)
    assert p1 is p2

    m1 = dd.dedup_minhash_lsh(spark, sf_dir)
    m2 = dd.dedup_minhash_lsh(spark, sf_dir)
    assert m1 is m2

    s1 = dd.shingles_df(spark, sf_dir)
    s2 = dd.shingles_df(spark, sf_dir)
    assert s1 is s2

    app = spark.sparkContext.applicationId
    keys = {
        k[1]
        for k, v in memo._MEMO.items()
        if k[0] == app and isinstance(v, DataFrame)
    }
    assert {"knn_graph", "lsh_pairs", "minhash_pairs", "shingles"} <= keys


def test_bfs_hops_match_driver_bfs(spark, sf_dir):
    """The frontier BFS must agree with a driver-side breadth-first
    search over the same symmetrized edge list (exact, not
    statistical), and hop 0 must be exactly the seed set."""
    from collections import deque

    from mapreducecf_spark.queries.similarity import (
        BFS_ROUNDS,
        BFS_SEED_MOD,
        sim_bfs_hops,
        sim_knn_graph,
    )

    adj: dict[int, set[int]] = {}
    for r in sim_knn_graph(spark, sf_dir).collect():
        a, b = r["vec_id"], r["neighbor_id"]
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    got = {r["vec_id"]: r["hops"] for r in sim_bfs_hops(spark, sf_dir).collect()}

    seeds = sorted(v for v in got if got[v] == 0)
    assert seeds and all(v % BFS_SEED_MOD == 0 for v in seeds)

    expected: dict[int, int] = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        v = q.popleft()
        if expected[v] >= BFS_ROUNDS:
            continue
        for w in adj.get(v, ()):
            if w not in expected:
                expected[w] = expected[v] + 1
                q.append(w)
    assert got == expected


def test_pq_codes_shape_and_distortion(spark, sf_dir):
    """PQ invariants: every vector gets an 8-part code with entries in
    [0, K); reconstruction error is non-negative; and the TRAINED
    per-subspace codebook (r12 k-means|| + Lloyd) achieves total
    distortion <= the retired md5-sample codebook on the same corpus
    — the measurable point of training."""
    import numpy as np

    from mapreducecf_spark.queries.similarity import (
        PQ_K,
        PQ_M,
        _pq_cb_from_vecs,
        _pq_encode_core,
        _pq_np_cb,
    )
    from mapreducecf_spark.registry import QUERIES
    from pyspark.sql import functions as F

    enc = QUERIES["sim_pq_encode"](spark, sf_dir)
    rows = enc.collect()
    assert rows
    for r in rows:
        parts = r["code"].split("-")
        assert len(parts) == PQ_M
        assert all(0 <= int(p) < PQ_K for p in parts)
        assert r["err_micro"] >= 0
    trained_total = sum(r["err_micro"] for r in rows)
    # the retired md5-sample codebook, replayed driver-side (test-only
    # collect; the corpus fixture is hundreds of rows)
    erows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("hk"),
        )
        .collect()
    )
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in sorted(erows, key=lambda r: (r["hk"], r["vec_id"]))[:PQ_K]
    ]
    V = np.array(
        [[float(x) for x in r["embedding"]] for r in erows], dtype=np.float64
    )
    _codes, errs = _pq_encode_core(
        V, _pq_np_cb(_pq_cb_from_vecs(seeds)), want_err=True
    )
    # EMPIRICAL PIN on this fixture: k-means||+Lloyd has no theoretical
    # dominance over the md5-sample codebook (it minimizes distortion
    # from its OWN seeds) — on a regenerated/different-SF corpus this
    # inequality could legitimately flip; loosen to the trained
    # codebook's own seed distortion if it ever does.
    assert trained_total <= int(errs.sum())
    # exact-reconstruction pin (restores the err==0 coverage the md5
    # seed check used to give): a vector assembled from one trained
    # centroid per subspace is at distance exactly 0 from it, so the
    # argmin must return that centroid's ordinal and zero error in
    # every subspace — no rounding step can perturb an exact zero
    from mapreducecf_spark.queries.similarity import _pq_codebook

    cb = _pq_codebook(spark, sf_dir)
    ords = [min(2, len(cb[m][0]) - 1) for m in range(PQ_M)]
    synth = np.concatenate(
        [np.array(cb[m][1][ords[m]], dtype=np.float64) for m in range(PQ_M)]
    ).reshape(1, -1)
    codes, errs0 = _pq_encode_core(synth, _pq_np_cb(cb), want_err=True)
    assert int(errs0.sum()) == 0
    for m in range(PQ_M):
        # the winner must reconstruct the subvector exactly (== ords[m]
        # unless a duplicate centroid ties at distance 0)
        assert cb[m][1][int(codes[0][m])] == cb[m][1][ords[m]]


def test_sq8_encode_codes_in_range_and_distortion_nonneg(spark, sf_dir):
    from mapreducecf_spark.queries.similarity import DIM, sim_sq8_encode

    rows = sim_sq8_encode(spark, sf_dir).collect()
    assert rows
    for r in rows[:50]:
        codes = [int(c) for c in r["code"].split("-")]
        assert len(codes) == DIM
        assert all(0 <= c <= 255 for c in codes)
        assert r["err_nano"] >= 0


def test_sq8_recall_beats_pq_and_is_bounded(spark, sf_dir):
    """SQ8 keeps 64 bytes/vector vs PQ's 8 — its recall against the
    same ground truth must be at least PQ's (the frontier is
    monotone), and both live in [0, 1]."""
    from mapreducecf_spark.queries.similarity import (
        sim_pq_recall_audit,
        sim_sq8_recall,
    )

    sq = sim_sq8_recall(spark, sf_dir).collect()[0]
    pq = sim_pq_recall_audit(spark, sf_dir).collect()[0]
    assert 0.0 <= sq["recall_micro"] <= 1.0
    assert sq["n_queries"] > 0
    assert sq["recall_micro"] >= pq["recall_micro"]


def test_rp_recall_nonvacuous_and_bounded(spark, sf_dir):
    """The JL sketch must do materially better than chance (random
    top-5 of ~n candidates has recall ~5/n ≈ 0) while staying a true
    audit (≤ 1)."""
    from mapreducecf_spark.queries.similarity import sim_rp_recall

    from mapreducecf_spark.queries.similarity import KNN_K, load_vectors

    r = sim_rp_recall(spark, sf_dir).collect()[0]
    assert r["n_queries"] > 0
    assert 0.0 <= r["recall_micro"] <= 1.0
    # the synthetic corpus is near-orthogonal (neighbor signal is
    # weak), so the bar is "well above chance", not "high": random
    # top-K picks recall ~= K/(n-1)
    n = load_vectors(spark, sf_dir).count()
    assert r["recall_micro"] > 3.0 * KNN_K / (n - 1)


def test_binary_quant_recall_bounded_and_perfect_on_clusters(spark, sf_dir, monkeypatch):
    """Two pins for the 1-bit audit: (a) on the real corpus the number
    is a true bounded audit over the full 32-query batch; (b) on a
    PLANTED clustered corpus where the sign pattern IS the cluster id
    (±1 block vectors), Hamming search must recover the exact cosine
    neighbors perfectly — recall_micro == 1.0 — because in-cluster
    Hamming is 0 and cross-cluster is ~DIM/2, mirroring cosine."""
    import mapreducecf_spark.queries.similarity as sim
    from mapreducecf_spark import memo

    r = sim.sim_binary_quant_recall(spark, sf_dir).collect()[0]
    n = sim.load_vectors(spark, sf_dir).count()
    assert r["n_queries"] == min(sim.QUERY_CAP, n)
    assert 0.0 <= r["min_recall"] <= r["recall_micro"] <= 1.0

    # planted: 8 clusters × 8 IDENTICAL members (no jitter — on a dim
    # where every cluster shares a sign the mean equals the value and
    # jittered members would straddle it, splitting in-cluster bits);
    # md5-independent ±1 patterns per cluster keep cross-cluster
    # Hamming ≈ DIM/2 while in-cluster is exactly 0, and both metrics
    # break the resulting ties by neighbor_id — identical top-k
    import hashlib

    def pattern(c, j):
        h = hashlib.md5(f"bqtest:{c}:{j}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) % 2 == 0 else -1.0

    rows = []
    for c in range(8):
        for m in range(8):
            vec = [pattern(c, j) for j in range(sim.DIM)]
            rows.append((c * 100 + m, vec))
    planted = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(sim, "load_vectors", lambda spark, sf_dir: planted)
    memo.evict(("bq_stats",))
    try:
        out = sim.sim_binary_quant_recall(spark, "-bq-planted").collect()[0]
    finally:
        memo.evict(("bq_stats",))
    assert out["n_queries"] == 32
    assert out["recall_micro"] == 1.0
    assert out["min_recall"] == 1.0


def test_ppr_seeds_mass_and_reach(spark, sf_dir):
    """PPR sanity: every seed keeps positive mass, total mass never
    exceeds the scale (walk mass leaks through dangling nodes, never
    grows), and the reached set is exactly the nodes within PR_ROUNDS
    hops of a seed along the kNN edges."""
    from pyspark.sql import functions as F

    from mapreducecf_spark.queries.similarity import (
        PR_ROUNDS,
        PR_SCALE,
        query_ids,
        sim_knn_graph,
        sim_ppr_seeds,
    )

    rows = {r["vec_id"]: r["ppr_pico"] for r in sim_ppr_seeds(spark, sf_dir).collect()}
    assert rows
    assert sum(rows.values()) <= PR_SCALE
    edges = [
        (r["vec_id"], r["neighbor_id"])
        for r in sim_knn_graph(spark, sf_dir).collect()
    ]
    from mapreducecf_spark.queries.similarity import load_vectors

    all_ids = [r["vec_id"] for r in load_vectors(spark, sf_dir).select("vec_id").collect()]
    seeds = set(query_ids(spark, sf_dir))
    assert seeds == _expected_query_ids(all_ids)
    assert all(s in rows for s in seeds)
    # frontier expansion: reached == within PR_ROUNDS hops of a seed
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    frontier = set(seeds)
    reach = set(frontier)
    for _ in range(PR_ROUNDS):
        frontier = {d for s in frontier for d in out.get(s, [])}
        reach |= frontier
    assert set(rows) <= reach


def test_mutual_knn_degree_consistency(spark, sf_dir):
    """Mutual degree ≤ k (you can't reciprocate more than your own
    list), hub-noise flag ⇔ zero mutual degree, and at least one
    reciprocated pair exists (cosine top-k is approximately
    symmetric)."""
    from mapreducecf_spark.queries.similarity import (
        KNN_GRAPH_K,
        sim_mutual_knn,
    )

    rows = sim_mutual_knn(spark, sf_dir).collect()
    assert rows
    assert any(r["mutual_deg"] > 0 for r in rows)
    for r in rows:
        assert 0 <= r["mutual_deg"] <= KNN_GRAPH_K
        assert r["is_hub_noise"] == (r["mutual_deg"] == 0)


def test_ivfpq_consistent_with_flat_adc(spark, sf_dir):
    """The composed path must agree with the flat ADC search wherever
    they overlap: identical adc_micro for shared (query, neighbor)
    pairs (same codes, same LUT — pruning changes WHICH candidates are
    ranked, never their distance), ≤ K rows per query, non-empty."""
    from mapreducecf_spark.queries.similarity import (
        KNN_K,
        sim_ivfpq_topk,
        sim_pq_adc_topk,
    )

    ivfpq = sim_ivfpq_topk(spark, sf_dir).collect()
    assert ivfpq
    per_q = {}
    for r in ivfpq:
        per_q.setdefault(r["q_id"], []).append(r)
    for q, rows in per_q.items():
        assert len(rows) <= KNN_K
    flat = {
        (r["q_id"], r["neighbor_id"]): r["adc_micro"]
        for r in sim_pq_adc_topk(spark, sf_dir).collect()
    }
    shared = [
        r for r in ivfpq if (r["q_id"], r["neighbor_id"]) in flat
    ]
    assert shared  # the probed lists contain true near neighbors
    assert all(
        flat[(r["q_id"], r["neighbor_id"])] == r["adc_micro"] for r in shared
    )


def test_beam_knn_traversal_properties(spark, sf_dir):
    """Beam-search serving sanity: every query answers exactly
    KNN_K rows ranked 1..K by (cos DESC, id), never itself, all
    reachable from the entry point within BEAM_HOPS hops of the
    symmetrized kNN graph — and the traversal finds meaningfully
    better neighbors than the entry point's own similarity (it
    actually walks toward the query's neighborhood)."""
    from mapreducecf_spark.queries.similarity import (
        BEAM_HOPS,
        KNN_K,
        query_ids,
        sim_beam_knn,
        sim_knn_graph,
    )

    rows = sim_beam_knn(spark, sf_dir).collect()
    by_q = {}
    for r in sorted(rows, key=lambda r: (r["q_id"], r["rnk"])):
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == set(query_ids(spark, sf_dir))
    for q, rs in by_q.items():
        assert [r["rnk"] for r in rs] == list(range(1, KNN_K + 1))
        assert all(r["neighbor_id"] != q for r in rs)
        cs = [r["cos_sim"] for r in rs]
        assert cs == sorted(cs, reverse=True)
    # reachability: answers lie within BEAM_HOPS hops of the entry
    edges = [
        (r["vec_id"], r["neighbor_id"])
        for r in sim_knn_graph(spark, sf_dir).collect()
    ]
    out = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
        out.setdefault(d, set()).add(s)
    import hashlib

    all_ids = {s for s, _ in edges} | {d for _, d in edges} | set(by_q)
    entry = min(
        all_ids, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )
    reach = {entry}
    frontier = {entry}
    for _ in range(BEAM_HOPS):
        frontier = {d for s in frontier for d in out.get(s, ())}
        reach |= frontier
    answered = {r["neighbor_id"] for rs in by_q.values() for r in rs}
    assert answered <= reach


def test_pq_encode_rounded_tie_prefers_smaller_code(spark):
    """The Arrow encode's exact slow path: two codewords whose
    distances DIFFER unrounded but TIE at 6 decimals must resolve to
    the smaller code index (the retired expression fold's
    (round6(d), c) ordering) — the unrounded argmin fast path alone
    would pick the other one."""
    import math

    from mapreducecf_spark.queries.similarity import (
        DIM,
        PQ_M,
        PQ_SUB,
        _pq_cb_from_vecs,
        _pq_encode_core,
        _pq_np_cb,
        _py_err_micro,
        _py_round6,
        pq_encode_df,
    )
    import numpy as np

    # codeword 0 lands at squared-distance ~x0, codeword 1 at ~x1 with
    # x0 > x1 but round6(x0) == round6(x1) — rounded tie, unrounded not
    x0, x1 = 1.00000041, 1.00000039
    c0 = [math.sqrt(x0)] + [0.0] * (DIM - 1)
    c1 = [math.sqrt(x1)] + [0.0] * (DIM - 1)
    seeds = [c0, c1]
    V = np.zeros((1, DIM))
    C = _pq_np_cb(_pq_cb_from_vecs(seeds))
    # confirm the planted tie actually ties after rounding
    acc0 = 0.0
    for j in range(PQ_SUB):
        d = V[0, j] - C[0][1][0, j]
        acc0 += d * d
    acc1 = 0.0
    for j in range(PQ_SUB):
        d = V[0, j] - C[0][1][1, j]
        acc1 += d * d
    assert acc0 > acc1  # unrounded argmin would pick code 1
    assert _py_round6(acc0) == _py_round6(acc1)  # rounded: a tie

    codes, errs = _pq_encode_core(V, C, want_err=True)
    assert codes[0, 0] == 0  # tie resolves to the SMALLER code index
    # err carries the winner's exact rounded distance for subspace 0
    expected0 = _py_err_micro(acc0)
    # remaining subspaces: both codewords are zero there -> dist 0
    assert errs[0] == expected0

    # end-to-end through the Spark stage with the same planted codebook
    e = spark.createDataFrame(
        [(1, [0.0] * DIM)], "vec_id bigint, embedding array<double>"
    )
    row = pq_encode_df(e, _pq_cb_from_vecs(seeds)).collect()[0]
    assert row["code"].split("-")[0] == "0"
    assert row["err_micro"] == expected0


def test_round_replay_matches_spark_round(spark):
    """_py_round6/_py_err_micro must replay Spark's F.round bitwise —
    the property every Arrow rewrite's hash-greenness rests on.
    Adversarial sample: uniform values plus exact 7-digit decimals
    ending at the .5e-6 boundary."""
    import random

    from pyspark.sql import functions as F

    from mapreducecf_spark.queries.similarity import _py_err_micro, _py_round6

    random.seed(11)
    vals = [random.uniform(0, 4) for _ in range(400)]
    vals += [round(i * 1e-7, 7) for i in range(200)]
    vals += [i + 0.0000005 for i in range(20)]
    vals += [i + 0.00000049999999 for i in range(20)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got6 = [r[0] for r in df.select(F.round("x", 6)).collect()]
    gote = [
        r[0]
        for r in df.select(
            F.round(F.round("x", 6) * 1000000).cast("bigint")
        ).collect()
    ]
    assert [_py_round6(v) for v in vals] == got6
    assert [_py_err_micro(v) for v in vals] == gote


def test_kmeanspar_seeds_count_pad_and_determinism(spark):
    """k-means|| seeding invariants: exactly min(k, n) seeds with
    ascending cids ordered by (md5(vec_id), vec_id); a corpus smaller
    than k pads to every vector; empty corpus yields no seeds; the
    selection is deterministic across calls."""
    import hashlib

    from pyspark.sql import functions as F

    from mapreducecf_spark.queries.similarity import (
        DIM,
        KMEANS_NLIST,
        _kmeanspar_seeds,
    )

    def frame(n):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[(F.col("id") * 31 + j) % 7 / 7.0 for j in range(DIM)]
            ).cast("array<double>").alias("embedding"),
        )

    empty = frame(0)
    assert _kmeanspar_seeds(spark, empty) == []

    tiny = frame(3)  # < k: every vector becomes a seed (pad path)
    seeds = _kmeanspar_seeds(spark, tiny)
    assert len(seeds) == 3
    assert [cid for cid, _ in seeds] == [1, 2, 3]

    full = frame(100)
    s1 = _kmeanspar_seeds(spark, full)
    s2 = _kmeanspar_seeds(spark, full)
    assert len(s1) == KMEANS_NLIST
    assert s1 == s2  # deterministic end to end
    assert [cid for cid, _ in s1] == list(range(1, KMEANS_NLIST + 1))


def test_kmpp_rounded_d2_bitwise_vs_duckdb():
    """_kmpp_rounded_d2 (numpy j-order fold + Decimal half-up round)
    must be BITWISE the oracle's round(list_inner_product(diff, diff),
    6) — the invariant the whole k-means|| seed replay rests on.
    Hypothesis-driven: adversarial magnitudes, signs, near-.5-at-6dp
    values, and denormal-ish components."""
    import duckdb
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mapreducecf_spark.queries.similarity import DIM, _kmpp_rounded_d2

    comp = st.floats(
        min_value=-4.0, max_value=4.0, allow_nan=False, allow_infinity=False
    )

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(st.lists(comp, min_size=DIM, max_size=DIM), min_size=1, max_size=4),
        st.lists(st.lists(comp, min_size=DIM, max_size=DIM), min_size=1, max_size=3),
    )
    def check(vs, cs):
        V = np.array(vs, dtype=np.float64)
        C = np.array(cs, dtype=np.float64)
        R = _kmpp_rounded_d2(V, C)
        con = duckdb.connect()
        for i, v in enumerate(vs):
            for k, c in enumerate(cs):
                vlit = "[" + ",".join(repr(x) for x in v) + "]::DOUBLE[]"
                clit = "[" + ",".join(repr(x) for x in c) + "]::DOUBLE[]"
                diff = f"[v[j] - c[j] for j in range(1, {DIM + 1})]"
                want = con.sql(
                    f"SELECT round(list_inner_product({diff}, {diff}), 6) "
                    f"FROM (SELECT {vlit} AS v, {clit} AS c)"
                ).fetchone()[0]
                assert R[i, k] == want, (i, k, R[i, k], want)

    check()


def test_residual_pq_codes_and_distortion(spark, sf_dir):
    """Residual IVF-PQ invariants: every vector gets an 8-part
    residual code with entries in [0, K); and the residual-trained
    codebook's total distortion over the residual population is <= the
    raw-vector codebook's over the raw population — the point of
    training on residuals (EMPIRICAL PIN on this fixture: guaranteed
    only when coarse quantization removes energy; on this unclustered
    synthetic corpus the margin is small but real, ~4.5% at sf0.1)."""
    import numpy as np

    from mapreducecf_spark.queries.similarity import (
        PQ_K,
        PQ_M,
        _pq_encode_core,
        _pq_np_cb,
        _pq_residual_codebook,
        _residual_vectors,
        pq_res_codes,
    )
    from mapreducecf_spark.registry import QUERIES

    codes = pq_res_codes(spark, sf_dir).collect()
    assert codes
    for r in codes:
        assert 0 <= r["c"] < PQ_K and 0 <= r["s"] < PQ_M
    n_vecs = len({r["vec_id"] for r in codes})
    assert len(codes) == n_vecs * PQ_M

    raw_err = sum(
        r["err_micro"] for r in QUERIES["sim_pq_encode"](spark, sf_dir).collect()
    )
    rv = _residual_vectors(spark, sf_dir).select("embedding").collect()
    V = np.array([[float(x) for x in r["embedding"]] for r in rv], np.float64)
    _, errs = _pq_encode_core(
        V, _pq_np_cb(_pq_residual_codebook(spark, sf_dir)), want_err=True
    )
    assert int(errs.sum()) <= raw_err


def test_beam_knn_pq_adc_consistent_and_reachable(spark, sf_dir):
    """PQ-compressed beam sanity: every query's rows rank 1..≤K by
    (adc ASC, id), never the query itself; the traversal stays within
    BEAM_HOPS hops of the entry on the symmetrized kNN graph; and the
    ADC scores agree EXACTLY with the flat ADC search on shared
    (query, neighbor) pairs — same codes, same LUT, the traversal only
    changes which candidates get ranked, never their distance."""
    from mapreducecf_spark.queries.similarity import (
        BEAM_HOPS,
        KNN_K,
        query_ids,
        sim_beam_knn_pq,
        sim_knn_graph,
        sim_pq_adc_topk,
    )

    rows = sim_beam_knn_pq(spark, sf_dir).collect()
    by_q = {}
    for r in sorted(rows, key=lambda r: (r["q_id"], r["rnk"])):
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == set(query_ids(spark, sf_dir))
    for q, rs in by_q.items():
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= KNN_K
        assert all(r["neighbor_id"] != q for r in rs)
        adc = [r["adc_micro"] for r in rs]
        assert adc == sorted(adc)
    # ADC consistency with the flat search
    flat = {
        (r["q_id"], r["neighbor_id"]): r["adc_micro"]
        for r in sim_pq_adc_topk(spark, sf_dir).collect()
    }
    shared = [
        r for rs in by_q.values() for r in rs
        if (r["q_id"], r["neighbor_id"]) in flat
    ]
    assert shared  # the beam reaches true near neighbors
    assert all(
        flat[(r["q_id"], r["neighbor_id"])] == r["adc_micro"] for r in shared
    )
    # reachability within BEAM_HOPS of the deterministic entry
    import hashlib

    edges = [
        (r["vec_id"], r["neighbor_id"])
        for r in sim_knn_graph(spark, sf_dir).collect()
    ]
    out = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
        out.setdefault(d, set()).add(s)
    all_ids = {s for s, _ in edges} | {d for _, d in edges} | set(by_q)
    entry = min(
        all_ids, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )
    reach = {entry}
    frontier = {entry}
    for _ in range(BEAM_HOPS):
        frontier = {d for s in frontier for d in out.get(s, ())}
        reach |= frontier
    answered = {r["neighbor_id"] for rs in by_q.values() for r in rs}
    assert answered <= reach


def test_knn_index_cdc_equals_full_rebuild_and_applies_deltas(spark, sf_dir):
    """The incremental maintenance claim, asserted in-Spark (the parity
    gate proves it against DuckDB; this pins it against the engine's
    OWN full rebuild, plus that the CDC classes actually fired)."""
    from pyspark.sql import functions as F

    from mapreducecf_spark.queries.pipeline import (
        _SNAP_CHANGED,
        _SNAP_NEW_DROP,
        _SNAP_OLD_DROP,
    )
    from mapreducecf_spark.queries.similarity import (
        _banded_knn,
        _with_norm,
        load_vectors,
        lsh_rows,
        sim_knn_index_cdc,
    )

    inc = {
        (r["vec_id"], r["neighbor_id"]): (r["cos_sim"], r["rnk"])
        for r in sim_knn_index_cdc(spark, sf_dir).collect()
    }

    e0 = load_vectors(spark, sf_dir)
    mod10 = F.col("vec_id") % 10
    changed = F.col("vec_id") % 7 == _SNAP_CHANGED
    new_e = _with_norm(
        e0.filter(mod10 != _SNAP_NEW_DROP).select(
            "vec_id",
            F.when(changed, F.reverse("embedding"))
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )
    )
    full = {
        (r["vec_id"], r["neighbor_id"]): (r["cos_sim"], r["rnk"])
        for r in _banded_knn(new_e, lsh_rows(spark, sf_dir)).collect()
    }
    assert inc == full

    # deltas actually fired: no deleted node survives, arrivals present
    node_ids = {v for v, _ in inc}
    assert not any(v % 10 == _SNAP_NEW_DROP for v in node_ids)
    assert any(v % 10 == _SNAP_OLD_DROP for v in node_ids)
    assert any(v % 7 == _SNAP_CHANGED for v in node_ids)


def test_mmr_rerank_diversifies_near_duplicate_pool(spark, monkeypatch):
    """The point of MMR: when the two most relevant candidates are
    near-duplicates of each other, the second pick must be the
    less-relevant-but-diverse candidate, not the duplicate. Planted
    planar geometry: a at 15 deg from the query, b at 16 deg but ~1 deg
    from a (near-dup), c at 30 deg on the other side."""
    import math

    import mapreducecf_spark.queries.similarity as sim

    def vec(theta_deg, sign=1):
        t = math.radians(theta_deg)
        v = [math.cos(t), sign * math.sin(t)] + [0.0] * (sim.DIM - 2)
        return v

    rows = [
        (1, vec(0)),       # the query direction
        (2, vec(15)),      # most relevant
        (3, vec(16)),      # second most relevant, near-dup of 2
        (4, vec(30, -1)),  # diverse alternative
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    monkeypatch.setattr(sim, "load_vectors", lambda spark, sf_dir: df)

    out = {}
    for r in sim.sim_mmr_rerank(spark, "-mmr").collect():
        out.setdefault(r["q_id"], {})[r["step"]] = r
    picks1 = out[1]
    # step 1 = pure relevance: candidate 2 (15 deg)
    assert picks1[1]["neighbor_id"] == 2
    assert picks1[1]["mmr_score"] == picks1[1]["rel"]
    # step 2 must skip the near-dup (3) for the diverse candidate (4)
    assert picks1[2]["neighbor_id"] == 4
    # the near-dup is only picked once nothing diverse remains
    assert picks1[3]["neighbor_id"] == 3
    # per-query picks are distinct
    for q, steps in out.items():
        ids = [r["neighbor_id"] for r in steps.values()]
        assert len(ids) == len(set(ids))


def test_nprobe_sweep_is_monotone_with_exact_anchor(spark, sf_dir):
    """The tuning curve's defining invariants: recall and candidate
    volume are non-decreasing in nprobe (filtered candidate sets
    nest), and the nprobe = nlist point recalls 1.0 exactly — every
    list probed means the fine search IS the brute search."""
    from mapreducecf_spark.queries.similarity import KMEANS_NLIST, NPROBE_SWEEP
    from mapreducecf_spark.registry import QUERIES

    rows = {
        r["nprobe"]: r
        for r in QUERIES["sim_ivf_nprobe_sweep"](spark, sf_dir).collect()
    }
    assert set(rows) == set(NPROBE_SWEEP)
    ordered = [rows[p] for p in sorted(rows)]
    for a, b in zip(ordered, ordered[1:]):
        assert a["recall_micro"] <= b["recall_micro"]
        assert a["avg_cand"] <= b["avg_cand"]
    assert rows[KMEANS_NLIST]["recall_micro"] == 1.0
    assert rows[KMEANS_NLIST]["min_recall"] == 1.0


def test_beam_ef_sweep_is_monotone_with_flat_beam_anchor(spark, sf_dir):
    """The ef curve's defining invariants: recall and scored-candidate
    volume are non-decreasing in ef (the shared-frontier prefix sweep
    nests BY CONSTRUCTION), and the ef = BEAM_B anchor row must equal
    the TRUE flat beam search — same recall against the brute panel as
    re-deriving it from sim_beam_knn's own rows, and the same full
    frontier cost."""
    from mapreducecf_spark.queries.similarity import BEAM_B, EF_SWEEP, KNN_K
    from mapreducecf_spark.registry import QUERIES

    rows = {
        r["ef"]: r for r in QUERIES["sim_beam_ef_sweep"](spark, sf_dir).collect()
    }
    assert set(rows) == set(EF_SWEEP)
    ordered = [rows[p] for p in sorted(rows)]
    for a, b in zip(ordered, ordered[1:]):
        assert a["recall_micro"] <= b["recall_micro"]
        assert a["min_recall"] <= b["min_recall"]
        assert a["avg_cand"] <= b["avg_cand"]
        assert a["n_queries"] == b["n_queries"]

    # anchor: ef = BEAM_B passes the whole frontier, so its recall is
    # exactly the true beam search's recall vs the brute ground truth
    beam = {
        (r["q_id"], r["neighbor_id"])
        for r in QUERIES["sim_beam_knn"](spark, sf_dir).collect()
    }
    brute = [
        (r["q_id"], r["neighbor_id"])
        for r in QUERIES["sim_knn_brute"](spark, sf_dir).collect()
    ]
    n_hits = sum(1 for key in brute if key in beam)
    want = round(n_hits / len(brute), 6)
    assert rows[BEAM_B]["recall_micro"] == want
    assert len(brute) == rows[BEAM_B]["n_queries"] * KNN_K


def test_semantic_clusters_match_union_find(spark, sf_dir):
    """The semantic cluster labels must agree with a driver-side
    union-find over the engine's own near-dup pair table (the same
    exactness check the textual clusters carry)."""
    from mapreducecf_spark.registry import QUERIES

    pairs = [
        (r["ida"], r["idb"])
        for r in QUERIES["dedup_embedding_cosine"](spark, sf_dir).collect()
    ]
    got = {
        r["vec_id"]: r["component"]
        for r in QUERIES["dedup_semantic_clusters"](spark, sf_dir).collect()
    }
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for v in got:
        members.setdefault(find(v) if v in parent else v, []).append(v)
    expected = {v: min(ms) for _, ms in members.items() for v in ms}
    assert got == expected
    assert pairs  # non-vacuous at test SF


def test_embedding_drift_psi_math_and_movement(spark, sf_dir):
    """The drift monitor's PSI terms must replay in pure Python from
    the row's own counts (independent math pin), the totals must
    reconcile with the snapshot sizes, and the reversed CDC class must
    actually move assignments (the gate is not vacuous)."""
    import math

    import mapreducecf_spark.registry  # noqa: F401  (full init first)
    from mapreducecf_spark.queries.similarity import sim_embedding_drift

    rows = sim_embedding_drift(spark, sf_dir).collect()
    assert rows
    nbins = len(rows)
    tot_old = sum(r["n_old"] for r in rows)
    tot_new = sum(r["n_new"] for r in rows)
    assert tot_old > 0 and tot_new > 0
    total = rows[0]["total_psi_micro"]
    assert total == sum(r["psi_micro"] for r in rows)
    for r in rows:
        pa = (r["n_old"] + 1) / (tot_old + nbins)
        pb = (r["n_new"] + 1) / (tot_new + nbins)
        want = math.floor((pa - pb) * math.log(pa / pb) * 1e6)
        assert r["psi_micro"] == want
        assert r["psi_micro"] >= 0
    # the reversed class must shift at least one cluster's share
    assert any(r["n_old"] != r["n_new"] for r in rows)


def test_hybrid_rrf_fuses_both_channels_exact_integer(spark, monkeypatch):
    """RRF fusion on a planted corpus where both channel rankings are
    known by construction: the fused scores must equal the hand-computed
    exact-integer sums RRF_L div (60 + rank), a lexical-only candidate
    (doc with a NULL embedding) must surface through the text channel,
    and the fused top-1 must be the candidate that wins on COMBINED
    rank, not either channel alone."""
    import mapreducecf_spark.queries.dedup as dd
    import mapreducecf_spark.queries.similarity as sim

    docs = spark.createDataFrame(
        [
            (0, "alpha bravo charlie delta echo"),
            (1, "alpha bravo charlie delta foxtrot"),  # 2 shared shingles w/ 0
            (2, "alpha bravo charlie zulu yankee"),  # 1 shared shingle w/ 0
            (3, "unrelated words entirely different tokens"),
            (4, "alpha bravo charlie delta echo"),  # exact text twin, NO vector
        ],
        "doc_id bigint, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [0.0, 1.0, 0.0, 0.0], 0),  # orthogonal to 0: dense rank 3
            (2, [1.0, 0.1, 0.0, 0.0], 0),  # dense rank 1 for q=0
            (3, [1.0, 0.5, 0.0, 0.0], 0),  # dense rank 2 for q=0
            (4, None, 0),  # encoder failure: lexical-only candidate
        ],
        "vec_id bigint, embedding array<float>, label int",
    )

    def fake_load(spark_, sf_dir_, name):
        return {"documents": docs, "embeddings": emb}[name]

    monkeypatch.setattr(sim, "load_table", fake_load)
    monkeypatch.setattr(dd, "load_table", fake_load)

    out = {
        (r["q_id"], r["cand_id"]): (r["rrf_micro"], r["rnk"])
        for r in sim.sim_hybrid_rrf(spark, "-rrf").collect()
    }
    L, k0 = sim.RRF_L, sim.RRF_K0
    # q=0 channels by construction:
    #   dense: 2 (r1), 3 (r2), 1 (r3); lex: 4 (shared=3, r1), 1 (r2), 2 (r3)
    want_q0 = {
        2: L // (k0 + 1) + L // (k0 + 3),
        1: L // (k0 + 3) + L // (k0 + 2),
        4: L // (k0 + 1),
        3: L // (k0 + 2),
    }
    got_q0 = {c: v[0] for (q, c), v in out.items() if q == 0}
    assert got_q0 == want_q0
    # fused winner combines the channels: 2 beats the lexical-only twin
    ranks_q0 = {c: v[1] for (q, c), v in out.items() if q == 0}
    assert ranks_q0[2] == 1 and ranks_q0[1] == 2
    # every fused score is a positive exact multiple of nothing smaller
    # than the smallest quantum (sanity on the integer arithmetic)
    assert all(v[0] >= L // (k0 + sim.KNN_K) for v in out.values())


def test_hard_negatives_exclude_positives_and_neardups(spark, monkeypatch):
    """Planted geometry with determinate outcomes: the same-label
    nearest neighbor is a contrastive POSITIVE (excluded), the exact
    duplicate is a verified near-dup (excluded regardless of label —
    identical vectors always share every band), and the
    different-label low-cosine vectors survive as the ranked hard
    negatives (cos < NEARDUP_THRESHOLD can never be excluded by the
    pair table, banding or not)."""
    import mapreducecf_spark.queries.similarity as sim

    def v(*coords):  # 64-dim vector (the LSH plane matrix is DIM-wide)
        out = [0.0] * 64
        for i, x in coords:
            out[i] = x
        return out

    emb = spark.createDataFrame(
        [
            (0, v((0, 1.0)), 1),              # anchor
            (1, v((0, 0.999), (1, 0.04)), 1), # same label: positive, excluded
            (3, v((0, 1.0)), 2),              # exact dup: near-dup, excluded
            (5, v((0, 0.2), (1, 0.98)), 3),   # diff label, cos ~0.2: kept #1
            (7, v((2, 1.0)), 2),              # diff label, cos 0: kept #2
        ],
        "vec_id bigint, embedding array<float>, label int",
    )
    monkeypatch.setattr(sim, "load_table", lambda spark, sf_dir, name: emb)
    out = {}
    for r in sim.sim_hard_negatives(spark, "-hardneg").collect():
        out.setdefault(r["q_id"], {})[r["neg_id"]] = r["neg_rank"]
    negs0 = out.get(0, {})
    assert 1 not in negs0, "same-label nearest must be excluded (positive)"
    assert 3 not in negs0, "exact duplicate must be excluded (near-dup)"
    assert negs0.get(5) == 1 and negs0.get(7) == 2, negs0


def test_code_budget_sweep_frontier_invariants(spark, sf_dir):
    """The 2-D frontier's defining invariants: the grid is complete
    (every nprobe × codec cell present once); flat dominates both
    compressed codecs at every nprobe (exact-cosine ranking over a
    candidate set is the best any codec can do on it — a true top-K
    candidate can be outranked only by other true top-K members);
    flat's recall is monotone in nprobe with the nprobe = nlist anchor
    at exactly 1.0; avg_cand is codec-independent at fixed nprobe and
    monotone in nprobe; and the memory axis orders pq < sq8 < flat."""
    from mapreducecf_spark.queries.similarity import (
        CODE_BUDGET_CODECS,
        KMEANS_NLIST,
        NPROBE_SWEEP,
    )
    from mapreducecf_spark.registry import QUERIES

    rows = {
        (r["nprobe"], r["codec"]): r
        for r in QUERIES["sim_ivf_code_budget_sweep"](spark, sf_dir).collect()
    }
    codecs = [c for c, _ in CODE_BUDGET_CODECS]
    assert set(rows) == {(p, c) for p in NPROBE_SWEEP for c in codecs}

    nq = {r["n_queries"] for r in rows.values()}
    assert len(nq) == 1

    for p in NPROBE_SWEEP:
        # flat dominance within the shared candidate set
        assert rows[(p, "flat")]["recall_micro"] >= rows[(p, "sq8")]["recall_micro"]
        assert rows[(p, "flat")]["recall_micro"] >= rows[(p, "pq")]["recall_micro"]
        # avg_cand is a property of the candidate set, not the codec
        assert (
            rows[(p, "flat")]["avg_cand"]
            == rows[(p, "sq8")]["avg_cand"]
            == rows[(p, "pq")]["avg_cand"]
        )
        # the memory axis
        assert (
            rows[(p, "pq")]["bytes_per_vec"]
            < rows[(p, "sq8")]["bytes_per_vec"]
            < rows[(p, "flat")]["bytes_per_vec"]
        )

    flats = [rows[(p, "flat")] for p in sorted(NPROBE_SWEEP)]
    for a, b in zip(flats, flats[1:]):
        assert a["recall_micro"] <= b["recall_micro"]
        assert a["avg_cand"] <= b["avg_cand"]
    assert rows[(KMEANS_NLIST, "flat")]["recall_micro"] == 1.0
    assert rows[(KMEANS_NLIST, "flat")]["min_recall"] == 1.0

    # the compressed codecs' nlist-probe cells must match their own
    # flat-search audits' shape: every candidate probed, so the recall
    # equals ranking the WHOLE corpus by that codec's distance
    assert rows[(KMEANS_NLIST, "sq8")]["avg_cand"] == rows[(KMEANS_NLIST, "flat")]["avg_cand"]


def _py_kcenter(rows, k):
    """Independent pure-Python farthest-first witness: same md5 seed
    rule, same sequential-fold cosine, same half-up micro rounding,
    same (max d, min vec_id) tie-break as the Spark/SQL pair."""
    import hashlib
    import math

    from mapreducecf_spark.queries.similarity import _py_err_micro

    emb = dict(rows)

    def nrm(v):
        acc = 0.0
        for x in v:
            acc += float(x) * float(x)
        return math.sqrt(acc)

    def dmic(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return 1000000 - _py_err_micro(acc / (nrm(a) * nrm(b)))

    seed = min((hashlib.md5(str(i).encode()).hexdigest(), i) for i, _ in rows)[1]
    out = [(0, seed, None)]
    d = {i: dmic(v, emb[seed]) for i, v in rows if i != seed}
    for t in range(1, k):
        if not d:
            break
        pid = sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        out.append((t, pid, d[pid]))
        dp = emb[pid]
        del d[pid]
        for i in list(d):
            d[i] = min(d[i], dmic(emb[i], dp))
    return out


def test_kcenter_coreset_matches_witness_and_spreads(spark, monkeypatch):
    """Planted planar geometry: farthest-first from the md5 seed must
    equal the independent Python replay exactly (ranks, ids, integer
    radii), the planted far-pole must be picked before any near-dup of
    an already-chosen vector, and the selection radius is
    non-increasing (adding centers only shrinks min-distances)."""
    import math

    import mapreducecf_spark.queries.similarity as sim

    def vec(theta_deg):
        t = math.radians(theta_deg)
        return [math.cos(t), math.sin(t)] + [0.0] * (sim.DIM - 2)

    rows = [
        (1, vec(0)),
        (2, vec(2)),     # near-dup of 1
        (3, vec(90)),
        (4, vec(180)),   # the far pole
        (5, vec(92)),    # near-dup of 3
        (6, vec(45)),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    monkeypatch.setattr(sim, "load_vectors", lambda spark, sf_dir: df)

    got = [
        (r["rank"], r["vec_id"], r["d_micro"])
        for r in sorted(
            sim.sim_kcenter_coreset(spark, "-kcenter").collect(),
            key=lambda r: r["rank"],
        )
    ]
    want = _py_kcenter(rows, sim.KC_K)
    assert got == want
    # with 6 vectors and KC_K=8, every vector is eventually chosen once
    assert len(got) == len(rows)
    assert len({v for _, v, _ in got}) == len(rows)
    # the far pole must be the FIRST non-seed pick whenever the seed is
    # in the 0°-92° cluster (it is, for every possible md5 seed here:
    # 180° is farthest from all of them)
    assert got[1][1] == 4
    # near-dups are picked last: both members of a planted near-dup
    # pair can't appear before any lone vector (diversity ordering)
    radii = [d for _, _, d in got[1:]]
    assert radii == sorted(radii, reverse=True), "selection radius must not increase"


def test_kcenter_coreset_invariants_on_corpus(spark, sf_dir):
    """Corpus-level: K distinct picks, radius curve non-increasing, all
    radii inside the cosine-distance range [0, 2e6], seed radius NULL."""
    from mapreducecf_spark.queries.similarity import KC_K
    from mapreducecf_spark.registry import QUERIES

    rows = sorted(
        QUERIES["sim_kcenter_coreset"](spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == list(range(KC_K))
    assert len({r["vec_id"] for r in rows}) == KC_K
    assert rows[0]["d_micro"] is None
    radii = [r["d_micro"] for r in rows[1:]]
    assert all(0 <= d <= 2_000_000 for d in radii)
    assert radii == sorted(radii, reverse=True)


def test_rp_dim_sweep_anchor_equals_single_point_audit(spark, sf_dir):
    """The m = RP_DIM sweep point must be BIT-IDENTICAL to
    sim_rp_recall's audit (same projection, same rank rule — the
    prefix sweep's exactness anchor), every point shares the query
    panel, recalls live in [0, 1], and the full-width sketch cannot
    do worse than the 4-dim one (the weak sanity a random projection
    does guarantee on a fixed corpus)."""
    from mapreducecf_spark.queries.similarity import RP_DIM, RP_SWEEP
    from mapreducecf_spark.registry import QUERIES

    rows = {
        r["rp_dim"]: r for r in QUERIES["sim_rp_dim_sweep"](spark, sf_dir).collect()
    }
    assert set(rows) == set(RP_SWEEP)
    assert len({r["n_queries"] for r in rows.values()}) == 1
    for r in rows.values():
        assert 0.0 <= r["min_recall"] <= r["recall_micro"] <= 1.0
    single = QUERIES["sim_rp_recall"](spark, sf_dir).collect()[0]
    anchor = rows[RP_DIM]
    assert anchor["n_queries"] == single["n_queries"]
    assert anchor["recall_micro"] == single["recall_micro"]
    assert anchor["min_recall"] == single["min_recall"]
    assert rows[RP_DIM]["recall_micro"] >= rows[min(RP_SWEEP)]["recall_micro"]


def test_pq_fused_training_equals_per_source_runs(spark):
    """The r18 fused PQ trainer rides the raw-vector and residual
    populations through ONE tagged job chain — pin the invariant the
    fusion relies on: a multi-source ``_pq_train_fused`` is
    codebook-identical to training each population alone (every
    aggregation/broadcast/collect keys on (src, m), so sources can
    never interact)."""
    from mapreducecf_spark.queries.similarity import DIM, _pq_train_fused

    def planted(seed: int, n: int):
        import hashlib

        rows = []
        for i in range(1, n + 1):
            h = hashlib.md5(f"{seed}:{i}".encode()).digest() * 8
            rows.append((i, [float(b % 17) / 16.0 for b in h[:DIM]]))
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    a, b = planted(1, 40), planted(2, 37)
    fused = _pq_train_fused(spark, {"a": a, "b": b})
    alone_a = _pq_train_fused(spark, {"only": a})["only"]
    alone_b = _pq_train_fused(spark, {"only": b})["only"]
    assert fused["a"] == alone_a
    assert fused["b"] == alone_b
    # and the training really happened: every subspace trained codes
    assert all(len(cids) > 0 for cids, _ in fused["a"])
