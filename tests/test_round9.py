"""Round-9 tests: ADVICE fixes (graph id-domain / k_truss guard,
launcher ledger atomicity, stream-offset restart monotonicity) and the
hard-negatives scale path (sampled k-means, join-based IVF assignment,
two-level quantizer)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_deterministic_walks_wide_bigint_ids(spark):
    # ADVICE graph.py:395 — lpad(dst, 12) TRUNCATED ids wider than 12
    # digits, decoding a corrupted node. Pad is now 19 (max bigint).
    big = 10_000_000_000_001  # 14 digits
    edges = spark.createDataFrame(
        [(1, big), (big, 1)], "src BIGINT, dst BIGINT"
    )
    starts = spark.createDataFrame([(7, 1)], "walk_id BIGINT, node BIGINT")
    from meerpipe_spark.operators.graph import deterministic_walks

    path = {r["step"]: r["node"] for r in deterministic_walks(edges, starts, steps=2).collect()}
    assert path[0] == 1
    assert path[1] == big  # the only out-edge; decoded exactly
    assert path[2] == 1


def test_k_truss_rejects_k_below_3(spark):
    # ADVICE graph.py:468 — k<=2 silently computed the 3-truss (zero-
    # triangle edges never appear in the support aggregate); now rejected.
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src BIGINT, dst BIGINT")
    from meerpipe_spark.operators.graph import k_truss

    for bad in (0, 1, 2):
        with pytest.raises(ValueError, match="k >= 3"):
            k_truss(edges, k=bad)
    # k=3 on a triangle still works
    tri = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "src BIGINT, dst BIGINT")
    got = sorted(map(tuple, k_truss(tri, k=3, rounds=2).collect()))
    assert got == [(1, 2, 1), (1, 3, 1), (2, 3, 1)]


# ---------------------------------------------------------------------------
# Launcher: atomic ledger append + concurrent-launch recovery grace
# ---------------------------------------------------------------------------

def test_ledger_append_is_one_atomic_file_per_batch(spark, sf_dir, tmp_path):
    # ADVICE launcher.py:99 — a plain parquet append publishes multiple
    # task files non-atomically; the ledger batch is now ONE part file
    # os.replace()d into place, so a reader sees it all-or-nothing.
    import os
    from meerpipe_spark.launcher import launch

    out = str(tmp_path / "atomic_out")
    assert launch(spark, sf_dir, out, obs_pid=5, job_limit=12) == 12
    assert launch(spark, sf_dir, out, obs_pid=5, job_limit=12) == 12
    files = sorted(os.listdir(out + "/ledger"))
    data = [f for f in files if not f.startswith(("_", "."))]
    assert len(data) == 2
    assert all(f.startswith("batch-") and f.endswith(".parquet") for f in data)
    # no tmp leftovers after clean commits
    tmp_root = out + "/_ledger_tmp"
    assert not os.path.isdir(tmp_root) or os.listdir(tmp_root) == []
    led = spark.read.parquet(out + "/ledger")
    assert led.count() == 24 and led.select("batch_id").distinct().count() == 2


def test_recover_spares_young_unledgered_staging(spark, sf_dir, tmp_path, monkeypatch):
    # ADVICE launcher.py:111 — a second launch's recovery must NOT
    # rmtree a young unledgered staging dir (it may belong to a
    # concurrent run between staging and its ledger commit).
    import os
    import pytest as _pytest
    import meerpipe_spark.launcher as L

    out = str(tmp_path / "grace_out")

    def boom(selected, ledger_dir, batch_id):
        raise RuntimeError("simulated crash before ledger commit")

    monkeypatch.setattr(L, "_ledger_append", boom)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        L.launch(spark, sf_dir, out, obs_pid=6, job_limit=8)
    monkeypatch.undo()
    orphan = os.listdir(out + "/_staging")
    assert len(orphan) == 1
    # default grace (300 s): the seconds-old orphan SURVIVES the next
    # launch's recovery, and the launch itself is unaffected
    assert L.launch(spark, sf_dir, out, obs_pid=6, job_limit=8) == 8
    assert os.listdir(out + "/_staging") == orphan
    # once stale (grace forced to 0) it is rolled back
    monkeypatch.setattr(L, "RECOVERY_GRACE_SEC", 0.0)
    assert L.launch(spark, sf_dir, out, obs_pid=6, job_limit=8) == 8
    assert all(b not in os.listdir(out + "/_staging") for b in orphan)
    # launch 1 crashed unledgered → launch 2 re-selected the SAME 8
    # (no drop), launch 3 took the next 8: 16 distinct, exactly once
    res = spark.read.parquet(out + "/results")
    assert res.count() == 16
    assert res.select("obs_id").distinct().count() == 16


# ---------------------------------------------------------------------------
# hard_negatives scale path: sampled DataFrame k-means, join assignment,
# two-level quantizer (VERDICT r8 item 1)
# ---------------------------------------------------------------------------

def _toy_embeddings(spark, n=240, dim=8, n_labels=4, seed=3):
    import numpy as np

    rng = np.random.default_rng(seed)
    # distinct gaussian blobs so clustering is meaningful
    centers = rng.normal(scale=6.0, size=(n_labels, dim))
    rows = []
    for i in range(n):
        c = i % n_labels
        v = centers[c] + rng.normal(scale=0.5, size=dim)
        rows.append((i, int(c), [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id BIGINT, label INT, embedding ARRAY<DOUBLE>"
    )


def test_ivf_assign_join_matches_literal_assign(spark):
    from meerpipe_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_join,
        kmeans_centroids,
    )

    emb = _toy_embeddings(spark)
    cents = kmeans_centroids(emb, k=4, iters=2)
    lit = {r["vec_id"]: (r["cluster"], round(r["d2"], 9))
           for r in ivf_assign(emb, cents).collect()}
    jn = {r["vec_id"]: (r["cluster"], round(r["d2"], 9))
          for r in ivf_assign_join(emb, cents).collect()}
    assert lit == jn  # broadcast-join argmin ≡ literal-plan argmin


def test_kmeans_centroids_df_clusters_blobs(spark):
    from meerpipe_spark.operators.similarity import (
        ivf_assign_join,
        kmeans_centroids_df,
    )

    emb = _toy_embeddings(spark)
    cents = kmeans_centroids_df(emb, k=4, iters=3, approx_n=240)
    assert cents.count() <= 4
    asg = ivf_assign_join(emb, cents).join(emb.select("vec_id", "label"), "vec_id")
    # with well-separated blobs, each cluster is label-pure
    purity = (
        asg.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("label").alias("nl"),
        )
        .collect()
    )
    assert sum(r["n"] for r in purity) == 240
    # determinism: the whole pipeline replays identically
    again = kmeans_centroids_df(emb, k=4, iters=3, approx_n=240)
    a = sorted(map(tuple, cents.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b


def test_train_sample_is_deterministic_threshold(spark):
    from meerpipe_spark.operators.similarity import _train_sample

    emb = _toy_embeddings(spark, n=200)
    s1 = {r["vec_id"] for r in _train_sample(emb, 50, "vec_id", 200).collect()}
    s2 = {r["vec_id"] for r in _train_sample(emb, 50, "vec_id", 200).collect()}
    assert s1 == s2  # md5 threshold: reproducible
    assert 20 <= len(s1) <= 90  # ~50 expected, binomial spread
    # under budget: returned unchanged
    assert _train_sample(emb, 500, "vec_id", 200) is emb


def test_two_level_assign_invariants(spark):
    from meerpipe_spark.operators.similarity import two_level_assign

    emb = _toy_embeddings(spark, n=300)
    asg = two_level_assign(emb, k=9, iters=2, approx_n=300)  # k1=3, k2=3
    rows = asg.collect()
    assert len(rows) == 300  # every vector assigned exactly once
    assert len({r["vec_id"] for r in rows}) == 300
    assert all(0 <= r["cluster"] < 9 for r in rows)
    # deterministic replay
    again = two_level_assign(emb, k=9, iters=2, approx_n=300)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
    # same-blob vectors co-locate: most lists are label-pure
    j = asg.join(emb.select("vec_id", "label"), "vec_id")
    per = j.groupBy("cluster").agg(F.countDistinct("label").alias("nl")).collect()
    assert sum(1 for r in per if r["nl"] == 1) >= len(per) // 2


def test_hard_negatives_large_autok_routes_two_level(spark, monkeypatch):
    """Force the auto-k path above KMEANS_LITERAL_K_MAX and check the
    mining contract end to end on the scale machinery: every returned
    negative has a different label and high similarity is plausible."""
    import numpy as np

    import meerpipe_spark.operators.similarity as S

    # two blobs, four labels: every blob mixes two labels, so each IVF
    # list contains different-label vectors to mine
    rng = np.random.default_rng(5)
    centers = rng.normal(scale=6.0, size=(2, 8))
    rows_in = []
    for i in range(320):
        v = centers[i % 2] + rng.normal(scale=0.5, size=8)
        rows_in.append((i, int(i % 4), [float(x) for x in v]))
    emb = spark.createDataFrame(
        rows_in, "vec_id BIGINT, label INT, embedding ARRAY<DOUBLE>"
    )
    monkeypatch.setattr(S, "HARD_NEG_TARGET_LIST", 8)  # k = 40 > 32
    out = S.hard_negatives(emb, per_anchor=1)
    rows = out.collect()
    assert rows  # co-membership with 4 labels over 40 lists still pairs
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert all(labels[r["src"]] != labels[r["dst"]] for r in rows)
    assert all(len([x for x in rows if x["src"] == r["src"]]) == 1 for r in rows)


def test_kmeans_centroids_literal_path_rejects_large_k(spark):
    from meerpipe_spark.operators.similarity import kmeans_centroids

    emb = _toy_embeddings(spark, n=64)
    with pytest.raises(ValueError, match="literal-plan path"):
        kmeans_centroids(emb, k=33)


def test_plan_audit_annotates_checkpoint_truncation(spark):
    """VERDICT r8 item 3: iterative checkpointing operators truncate the
    audited plan at Scan ExistingRDD — the audit must annotate, not
    report a misleading 0-shuffle plan silently."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "plan_audit.py",
    )
    spec = importlib.util.spec_from_file_location("plan_audit_r9", path)
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    from meerpipe_spark.operators.graph import pagerank_fixed_point

    pa.install_checkpoint_counter()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src BIGINT, dst BIGINT"
    )
    pa.CKPT_CALLS["n"] = 0
    pr = pagerank_fixed_point(edges, iters=2)
    pr.count()
    assert pa.CKPT_CALLS["n"] > 0  # iterative checkpointing detected
    # results pass through the wrapper unchanged (scaled-integer ranks
    # conserve total mass: sum ≈ PAGERANK_SCALE up to integer division)
    from meerpipe_spark.operators.graph import PAGERANK_SCALE

    got = sum(r["rank"] for r in pr.collect())
    assert abs(got - PAGERANK_SCALE) <= 10
    # a plain plan registers zero checkpoint calls
    pa.CKPT_CALLS["n"] = 0
    edges.groupBy("src").count().count()
    assert pa.CKPT_CALLS["n"] == 0
    # idempotent install: no double counting
    pa.install_checkpoint_counter()
    pa.CKPT_CALLS["n"] = 0
    edges.localCheckpoint()
    assert pa.CKPT_CALLS["n"] == 1


#: Walk-replay graph: an undirected core whose nodes share neighbours
#: (1-2-3-4 with chord 1-3), a duplicated edge, one-way edges (6→7,
#: 7→5, 7→3) whose reverse is absent, a sink (8, reached only by 7→8)
#: and an isolated start node (99, no edges at all).
_WALK_UND = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (4, 5), (5, 6)]
_WALK_EDGES = (
    _WALK_UND
    + [(b, a) for a, b in _WALK_UND]
    + [(1, 2), (3, 4)]
    + [(6, 7), (7, 5), (7, 3), (7, 8)]
)
_WALK_STARTS = [(100, 1), (200, 4), (300, 6), (400, 99), (500, 7),
                (600, 5), (700, 2), (800, 3), (900, 8)]


def _replay_walks(edges, starts, steps, weights=None):
    """Sequential reference replay of the md5 argmin walk draw.

    ``weights`` = (w_ret, w_adj, w_far) replays node2vec's replica
    keys md5(walk:t:x:i); None replays the uniform draw md5(walk:t:x).
    Returns ({walk_id: {step: node}}, {class: candidates seen})."""
    import hashlib

    outs, adjset, seen, paths = {}, set(edges), {}, {}
    for a, b in edges:
        outs.setdefault(a, []).append(b)
    for wid, start in starts:
        node, prev, path = start, None, {0: start}
        for t in range(1, steps + 1):
            best = None
            for dst in outs.get(node, []):
                if weights is None:
                    reps = [f"{wid}:{t}:{dst}"]
                else:
                    w_ret, w_adj, w_far = weights
                    if prev is None:
                        cls, w = "first", w_adj
                    elif dst == prev:
                        cls, w = "return", w_ret
                    elif (prev, dst) in adjset:
                        cls, w = "adjacent", w_adj
                    else:
                        cls, w = "far", w_far
                    seen[cls] = seen.get(cls, 0) + 1
                    reps = [f"{wid}:{t}:{dst}:{i}" for i in range(1, w + 1)]
                for r in reps:
                    k = hashlib.md5(r.encode()).hexdigest() + "|" + str(dst).zfill(19)
                    if best is None or k < best[0]:
                        best = (k, dst)
            if best is None:  # sink: the walk ends here
                break
            prev, node = node, best[1]
            path[t] = node
        paths[wid] = path
    return paths, seen


def _walk_paths(df):
    got = {}
    for r in df.collect():
        got.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    return got


def test_node2vec_walks_match_bruteforce_replay(spark, monkeypatch):
    """node2vec biased walks: the Spark plan must reproduce EXACTLY the
    semantics a sequential replay of the replication-argmin draw gives
    — same md5 keys, same weights, same tie-break — on duplicate and
    one-way edges, sinks, an isolated start and overlapping neighbour
    lists, with INT node ids, on the broadcast and the shuffle-join
    (ceiling 0) path."""
    import meerpipe_spark.operators.graph as G

    edges = spark.createDataFrame(_WALK_EDGES, "src INT, dst INT")
    starts = spark.createDataFrame(_WALK_STARTS, "walk_id INT, node INT")
    p_, q_, steps, repl = 4.0, 0.25, 6, 4
    weights = (max(1, round(repl / p_)), repl, max(1, round(repl / q_)))
    expect, seen = _replay_walks(_WALK_EDGES, _WALK_STARTS, steps, weights)
    for ceiling in (G._BCAST_STATE_MAX_ROWS, 0):
        monkeypatch.setattr(G, "_BCAST_STATE_MAX_ROWS", ceiling)
        got = _walk_paths(G.node2vec_walks(
            edges, starts, steps=steps, p=p_, q=q_, replication=repl
        ))
        assert got == expect, f"ceiling {ceiling}"
    # the graph exercises every class, the isolated start and a sink
    assert all(seen.get(c, 0) > 0 for c in ("first", "return", "adjacent", "far"))
    assert expect[400] == {0: 99} and expect[900] == {0: 8}
    assert any(0 < max(path) < steps for path in expect.values())
    # p=4, q=0.25 (explorer): with one low-weight replica against four
    # far replicas, immediate backtracks should be rare — sanity only
    backtracks = sum(
        1
        for wid in (100, 200, 300)
        for t in range(2, max(got[wid]) + 1)
        if got[wid][t] == got[wid][t - 2]
    )
    assert backtracks <= 6


def test_deterministic_walks_match_bruteforce_replay(spark, monkeypatch):
    """deterministic_walks reproduces the sequential md5(walk:t:x)
    argmin replay exactly on the same edge cases as the node2vec
    replay, on both join paths."""
    import meerpipe_spark.operators.graph as G

    edges = spark.createDataFrame(_WALK_EDGES, "src INT, dst INT")
    starts = spark.createDataFrame(_WALK_STARTS, "walk_id INT, node INT")
    expect, _ = _replay_walks(_WALK_EDGES, _WALK_STARTS, 6)
    for ceiling in (G._BCAST_STATE_MAX_ROWS, 0):
        monkeypatch.setattr(G, "_BCAST_STATE_MAX_ROWS", ceiling)
        got = _walk_paths(G.deterministic_walks(edges, starts, steps=6))
        assert got == expect, f"ceiling {ceiling}"
    assert expect[400] == {0: 99} and expect[900] == {0: 8}


def _plan_nodes(df) -> int:
    """Logical-plan node count, walked on the JVM side (rendering a deep
    plan to a string is itself what exhausts the driver heap)."""
    stack, n = [df._jdf.queryExecution().logical()], 0
    while stack:
        node = stack.pop()
        n += 1
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return n


@pytest.mark.parametrize("walker", ["deterministic_walks", "node2vec_walks"])
def test_walk_plan_grows_linearly_in_steps(spark, walker):
    """Doubling ``steps`` at most doubles the walk's logical plan: each
    step adds a constant number of nodes, never a copy of the earlier
    steps' lineage."""
    import meerpipe_spark.operators.graph as G

    edges = spark.createDataFrame(_WALK_EDGES, "src INT, dst INT")
    starts = spark.createDataFrame(_WALK_STARTS[:3], "walk_id INT, node INT")
    walk = getattr(G, walker)
    n4 = _plan_nodes(walk(edges, starts, steps=4))
    n8 = _plan_nodes(walk(edges, starts, steps=8))
    assert n8 <= 2 * n4, (n4, n8)


def test_walks_32_steps_build_under_2g_driver_heap():
    """A fresh driver with a 2g heap builds and runs both walk
    generators at steps=32 on a tiny graph (a plan that grows with the
    earlier steps' lineage runs it out of heap by steps=16)."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent("""
        from meerpipe_spark.operators.graph import deterministic_walks, node2vec_walks
        from meerpipe_spark.session import get_spark

        spark = get_spark("walk-heap", master="local[2]", shuffle_partitions=2)
        heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        assert heap <= 2 * 1024 ** 3, heap
        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)], "src BIGINT, dst BIGINT"
        )
        starts = spark.createDataFrame([(10, 1), (20, 3)], "walk_id BIGINT, node BIGINT")
        for walk in (deterministic_walks, node2vec_walks):
            assert walk(edges, starts, steps=32).count() == 2 * 33, walk.__name__
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    env["SPARK_DRIVER_MEM"] = "2g"
    env["PYTHONPATH"] = os.pathsep.join(filter(None, (repo, env.get("PYTHONPATH"))))
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]


def test_weighted_pagerank_weights_steer_rank(spark):
    from meerpipe_spark.operators.graph import weighted_pagerank_fixed_point

    # a splits its mass 99:1 between b and c
    edges = spark.createDataFrame(
        [("a", "b", 99), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src STRING, dst STRING, w INT",
    )
    r = {x["node"]: x["rank"] for x in weighted_pagerank_fixed_point(edges, iters=8).collect()}
    # equal weights would give b = c; 99:1 steering leaves only the
    # damped base share on c (measured ratio ~9x)
    assert r["b"] > 5 * r["c"]
    # replay determinism
    r2 = {x["node"]: x["rank"] for x in weighted_pagerank_fixed_point(edges, iters=8).collect()}
    assert r == r2
    # overflow guard: a weight that pushes r*85*w past bigint is rejected
    big = spark.createDataFrame(
        [("a", "b", 10**8), ("b", "a", 1)], "src STRING, dst STRING, w LONG"
    )
    with pytest.raises(ValueError, match="overflows"):
        weighted_pagerank_fixed_point(big)


def test_personalized_pagerank_mass_stays_near_seeds(spark):
    from meerpipe_spark.operators.graph import personalized_pagerank

    # two disconnected components; seeds only in the first
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")],
        "src STRING, dst STRING",
    )
    seeds = spark.createDataFrame([("a",)], "node STRING")
    r = {x["node"]: x["rank"] for x in personalized_pagerank(edges, seeds, iters=6).collect()}
    assert r["a"] > 0 and r["b"] > 0
    assert r["x"] == 0 and r["y"] == 0  # no seed mass ever reaches them
    with pytest.raises(ValueError, match="at least one source"):
        personalized_pagerank(edges, spark.createDataFrame([("zz",)], "node STRING"))


def test_skipgram_pairs_bruteforce(spark):
    from meerpipe_spark.operators.graph import skipgram_pairs

    walks = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 11), (1, 2, 12), (1, 3, 10), (2, 0, 11), (2, 1, 12)],
        "walk_id BIGINT, step INT, node BIGINT",
    )
    got = {(r["center"], r["context"]): r["n_pairs"]
           for r in skipgram_pairs(walks, window=2).collect()}
    rows = [(1, 0, 10), (1, 1, 11), (1, 2, 12), (1, 3, 10), (2, 0, 11), (2, 1, 12)]
    expect = {}
    for w, sa, na in rows:
        for w2, sb, nb in rows:
            if w == w2 and sa != sb and abs(sa - sb) <= 2:
                expect[(na, nb)] = expect.get((na, nb), 0) + 1
    assert got == expect


def test_two_level_search_exact_scores_and_recall(spark):
    import math

    from meerpipe_spark.operators.similarity import two_level_search

    emb = _toy_embeddings(spark, n=300)
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    q = vecs[0]  # probe AT a corpus point: its blob must be found
    got = two_level_search(emb, list(q), k=10, index_k=9, iters=2,
                           probe_cells=2, probe_lists=4, approx_n=300).collect()
    assert len(got) == 10
    d2s = [r["d2"] for r in got]
    assert d2s == sorted(d2s)  # ranked ascending
    # every reported distance is the exact 6dp-keyed d2
    for r in got:
        v = vecs[r["vec_id"]]
        true = 0.0
        for a, b in zip(v, q):
            true += (a - b) * (a - b)
        assert abs(math.floor(true * 1e6 + 0.5) / 1e6 - r["d2"]) < 1e-9
    # recall vs brute force: the probed lists must contain most of the
    # true top-10 (query sits inside a blob; lists are blob-aligned)
    brute = sorted(vecs, key=lambda i: sum((a - b) * (a - b) for a, b in zip(vecs[i], q)))[:10]
    hit = len({r["vec_id"] for r in got} & set(brute))
    assert hit >= 7
    # deterministic replay
    again = two_level_search(emb, list(q), k=10, index_k=9, iters=2,
                             probe_cells=2, probe_lists=4, approx_n=300).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
