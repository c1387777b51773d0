"""Iterative graph analytics as exact fixed-point arithmetic.

PageRank's float formulation can never be cross-engine hash-checked:
every iteration sums contributions in shuffle order, so the low bits
drift between partitionings, let alone engines. The variant here runs
the ENTIRE iteration in scaled bigint arithmetic (the same trick the
PCA operator uses for its covariance moments, similarity.py::
pca_power_projection): integer sums are exact and order-independent,
integer floor-division is deterministic, so 10 rounds later the ranks
are bit-identical in any engine — and ANSI-mode overflow is impossible
by construction (total mass ≤ scale, per-node rank < scale·85/100 + base).

Companion to the connected-components operators (dedup.py::
near_dup_components / _cc_contraction) — together they cover the two
graph primitives a dedup/curation pipeline actually needs: component
extraction for duplicate clusters, and a stationary-importance score
for canonical-document election inside a cluster (pick the highest-rank
node instead of min-id when link structure matters).
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

#: Rank mass is distributed over `scale` integer units; 1e12 keeps
#: per-node quantization error at 1e-12 of total mass while the largest
#: intermediate (rank·85) stays ~17 bits under the bigint ceiling.
PAGERANK_SCALE = 10**12

#: serialized disk-backed storage for edge-/fact-sized checkpoints
_SER = StorageLevel.MEMORY_AND_DISK

#: Row ceiling under which node-sized iteration state (ranks, labels,
#: distances, walk frontiers) is broadcast into its per-round join with
#: the edge list instead of shuffle-joined. localCheckpoint returns an
#: ExistingRDD with UNKNOWN size statistics, so the planner can never
#: auto-broadcast it (defaultSizeInBytes = Long.Max) and every Pregel
#: round degenerates to a full sort-merge exchange of BOTH sides —
#: including the edge list, the side that dominates bytes (r13
#: measurement: 10-round PageRank at sf0.1 halves wall-clock with the
#: hint; plan goes 4 Exchange/round → 1). The operators know the state
#: row count exactly (they compute n for the rank base anyway), so the
#: broadcast decision is made from REAL cardinality, not estimates —
#: the same decision AQE would make with statistics. Above the ceiling
#: the code falls back to the shuffle join unchanged, so 100 TB graphs
#: (node state >> memory) keep the relational plan. 4M rows of
#: (string-key, bigint) state ≈ 200-300 MB built — inside the guide's
#: "few hundred MB is fine" broadcast envelope with an 8 GB driver,
#: far under the 8 GB / 512M-row broadcast hard cap; override per
#: deployment via SPARK_GRAFT_GRAPH_BCAST_MAX_ROWS.
#:
#: Memory envelope for ITERATIVE use (ADVICE r13 item 2): a fixpoint
#: loop creates a fresh broadcast every round, and ContextCleaner only
#: reclaims the dead relations after a JVM GC notices them
#: (release_checkpoints runs BETWEEN queries, not inside the loop) —
#: so executors must carry up to rounds × built-relation-size of
#: transient broadcast blocks in the worst case (~25 rounds × 300 MB
#: ≈ 7.5 GB at the default ceiling). Deployments running long
#: iteration counts close to the ceiling should lower the env var
#: (the fallback is the plain shuffle plan, never an error); the
#: repo's own lanes iterate ≤ 10–25 rounds on node counts far below
#: the ceiling.
_BCAST_STATE_MAX_ROWS = int(
    os.environ.get("SPARK_GRAFT_GRAPH_BCAST_MAX_ROWS", "4000000")
)


def _bcast_small(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Broadcast-hint ``df`` under the graph-state ceiling (shared
    threshold logic: cacheutil.bcast_small). Integer-exact operators
    are partitioning-invariant by construction, so the join strategy
    can never change their results — only their cost."""
    from meerpipe_spark.cacheutil import bcast_small

    return bcast_small(df, n_rows, _BCAST_STATE_MAX_ROWS)


def ckpt_ser(df: DataFrame) -> DataFrame:
    """Lineage truncation for EDGE-/FACT-sized intermediates: eager
    localCheckpoint at serialized MEMORY_AND_DISK instead of the
    default. The default level unrolls every partition as live
    UnsafeRow copies whose sampled size accounting lags real
    allocation — at sf3.0 the node2vec co-purchase edge list (~70M
    rows × 32 concurrent unrolling tasks) OOMed an 8 GB heap in
    MemoryStore.putIteratorAsValues before a single byte spilled.
    Serialized storage unrolls into chunked byte buffers with
    incremental reservation (putIteratorAsBytes) and spills cleanly,
    so the same checkpoint is bounded by storage-pool accounting, not
    by allocation burst — the storage class an edge list needs on a
    real cluster, where deserialized row cache of fact-sized data is
    never the right call. Node-/walk-/frontier-sized state keeps the
    fast deserialized default (MEMORY_AND_DISK_DESER)."""
    return df.localCheckpoint(eager=True, storageLevel=_SER)


def pagerank_fixed_point(
    edges: DataFrame,
    iters: int = 10,
    scale: int = PAGERANK_SCALE,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Damped PageRank over a directed edge list (src, dst), all
    arithmetic in scaled integers.

    Per round:  r'(v) = base + Σ_{u→v} (r(u)·damp_num) DIV (damp_den·outdeg(u))
    with base = (scale·(damp_den−damp_num)) DIV (damp_den·N) — every op
    an exact bigint op, so the result is partitioning- and engine-
    invariant (hash-checkable; see the unrolled CTE oracle in
    queries.py::_pagerank_oracle_sql). Dangling nodes keep their base
    share and their damped mass decays — documented semantics, not
    redistributed (the floor losses likewise make Σr slightly < scale;
    determinism is the contract here, not mass conservation).

    Scale shape per round: one shuffle of (dst, contribution) pairs
    with map-side partial sums — the Pregel message pattern — plus a
    broadcast-or-shuffle join of the rank table against the edge list;
    lineage is truncated every round with localCheckpoint (the CC
    operators' pattern). Edge skew (a hub dst) is absorbed by the
    partial aggregation: mappers pre-sum per dst before the exchange.

    Returns (node, rank) with bigint rank in scale units.
    """
    edges = edges.select("src", "dst").distinct().localCheckpoint(True, _SER)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    base = (scale * (damp_den - damp_num)) // (damp_den * n)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("outdeg"))
    e = edges.join(outdeg, "src").localCheckpoint(True, _SER)
    ranks = nodes.withColumn("r", F.lit(scale // n).cast("bigint"))
    for i in range(iters):
        contrib = (
            e.join(_bcast_small(ranks, n), e["src"] == ranks["node"])
            .select(
                "dst",
                F.expr(f"(r * {damp_num}) DIV ({damp_den} * outdeg)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        # contrib has at most n rows (one per distinct dst)
        ranks = nodes.join(
            _bcast_small(contrib, n), nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0))).cast("bigint").alias("r"),
        )
        # truncate lineage every few rounds, not every round: each eager
        # localCheckpoint is its own job, and a 3-round lineage (three
        # join+agg layers) is still cheap to analyze — 10 rounds go from
        # 10 materializations to 4 with identical integer results
        if i % 3 == 2 or i == iters - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", F.col("r").alias("rank"))


def weighted_pagerank_fixed_point(
    edges: DataFrame,
    iters: int = 10,
    scale: int = PAGERANK_SCALE,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Edge-weighted PageRank over (src, dst, w) with INTEGER weights —
    rank flows proportionally to edge weight instead of uniformly over
    out-edges (purchase counts, citation multiplicity, co-occurrence
    strength):

      r'(v) = base + Σ_{u→v} (r(u)·damp_num·w(u,v)) DIV (damp_den·W(u))

    with W(u) = Σ out-weights of u. Same exact-bigint discipline as
    :func:`pagerank_fixed_point` (partition- and engine-invariant,
    unrolled-CTE oracle-checkable); the extra multiply bounds the
    intermediate at r·damp_num·w, so weights must satisfy
    w < 2^63/(scale·damp_num) ≈ 10^5 at the default scale — plenty for
    count-valued weights, and the guard asserts it.

    Parallel edges should be pre-aggregated (one (src, dst) row with
    summed weight); per round the plan is identical to the unweighted
    operator: one map-side-combined (dst, contribution) exchange + one
    rank⋈edges join, lineage checkpointed every 3 rounds.
    """
    edges = (
        edges.groupBy("src", "dst")
        .agg(F.sum(F.col("w").cast("bigint")).alias("w"))
        .localCheckpoint(True, _SER)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    maxw = edges.agg(F.max("w")).first()[0] or 0
    if maxw * scale * damp_num >= (1 << 63):
        raise ValueError(
            f"edge weight {maxw} overflows bigint at scale {scale}: "
            "rescale weights (the contribution term is r*damp_num*w)"
        )
    base = (scale * (damp_den - damp_num)) // (damp_den * n)
    outw = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("outw"))
    e = edges.join(outw, "src").localCheckpoint(True, _SER)
    ranks = nodes.withColumn("r", F.lit(scale // n).cast("bigint"))
    for i in range(iters):
        contrib = (
            e.join(_bcast_small(ranks, n), e["src"] == ranks["node"])
            .select(
                "dst",
                F.expr(f"(r * {damp_num} * w) DIV ({damp_den} * outw)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        ranks = nodes.join(
            _bcast_small(contrib, n), nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0))).cast("bigint").alias("r"),
        )
        if i % 3 == 2 or i == iters - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", F.col("r").alias("rank"))


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    iters: int = 10,
    scale: int = PAGERANK_SCALE,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Personalized PageRank: the restart mass returns to a SOURCE SET
    instead of all nodes — r(v) measures relevance of v to the seeds
    (the recsys / related-items / topic-conditioned authority variant):

      r'(v) = base·1{v ∈ S} + Σ_{u→v} (r(u)·damp_num) DIV (damp_den·outdeg(u))

    with base = (scale·(damp_den−damp_num)) DIV (damp_den·|S|) and the
    initial mass uniform over S. Same exact-scaled-bigint Pregel as
    pagerank_fixed_point — bit-identical across engines/partitionings;
    ``sources`` is (node) and is broadcast-joined (seed sets are small).
    Returns (node, rank); nodes never reached by seed mass keep rank 0
    rows only if they appear in the graph (node-sized output).
    """
    edges = edges.select("src", "dst").distinct().localCheckpoint(True, _SER)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    src_set = sources.select("node").distinct().join(nodes, "node", "left_semi")
    s = src_set.count()
    if s == 0:
        raise ValueError("personalized_pagerank needs at least one source node in the graph")
    base = (scale * (damp_den - damp_num)) // (damp_den * s)
    is_src = F.when(F.col("_is_src").isNotNull(), 1).otherwise(0)
    tagged = nodes.join(
        F.broadcast(src_set.withColumn("_is_src", F.lit(1))), "node", "left"
    ).select("node", is_src.alias("in_s")).localCheckpoint()
    n = tagged.count()  # counting the fresh checkpoint is a cache read
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("outdeg"))
    e = edges.join(outdeg, "src").localCheckpoint(True, _SER)
    ranks = tagged.select(
        "node",
        (F.col("in_s") * F.lit(scale // s)).cast("bigint").alias("r"),
    )
    for i in range(iters):
        contrib = (
            e.join(_bcast_small(ranks, n), e["src"] == ranks["node"])
            .select(
                "dst",
                F.expr(f"(r * {damp_num}) DIV ({damp_den} * outdeg)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        ranks = tagged.join(
            _bcast_small(contrib, n), tagged["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (F.col("in_s") * F.lit(base) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("bigint")
            .alias("r"),
        )
        if i % 3 == 2 or i == iters - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", F.col("r").alias("rank"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count over an undirected edge list (src, dst)
    via degree orientation (the MapReduce-era "node-iterator++" /
    Cohen 2009 scheme).

    Orient every undirected edge from the (degree, node)-smaller
    endpoint to the larger; a triangle {u,v,w} is counted exactly once
    as the wedge (u→v, u→w) closed by the oriented edge (v→w). The
    payoff at scale: every oriented out-degree is O(√m) regardless of
    how skewed the raw degree distribution is, so the wedge self-join
    — the only super-linear step — is bounded by Σ outdeg² = O(m^1.5)
    instead of Σ deg² (which a celebrity hub makes quadratic).

    Plan: one degree aggregate, one map to orient, a self-join on the
    wedge apex, and a semi-ish inner join against the oriented edges
    for closure. Returns a single row (n_nodes, n_edges, n_triangles),
    all bigint — exact counts, trivially engine-portable.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = und.localCheckpoint(True, _SER)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    # consumed by both wedge sides AND the closure union — checkpoint so
    # the degree join isn't re-evaluated per consumer (no automatic
    # subplan reuse across DataFrame branches)
    oriented = oriented.localCheckpoint(True, _SER)
    e1 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("x"))
    e2 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("y"))
    wedges = e1.join(e2, "apex").filter(F.col("x") < F.col("y"))
    # closure probe: a wedge (apex, x, y) with x < y in VALUE order is
    # closed iff the canonical undirected list has (a=x, b=y) — the
    # m-row table, not the 2m oriented∪reversed union the first
    # version probed. SHUFFLE_HASH keeps the O(m^1.5) wedge stream
    # unsorted: sort-merge would sort Σ outdeg² rows to meet an
    # edge-list-sized build side (r12: 1.9x on the sf1.0 co-purchase
    # graph for the hint + canonical probe together).
    closing = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tris = wedges.join(closing.hint("shuffle_hash"), ["x", "y"]).agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )
    counts = und.agg(
        F.count("*").cast("bigint").alias("n_edges"),
    ).crossJoin(deg.agg(F.count("*").cast("bigint").alias("n_nodes")))
    return counts.crossJoin(tris).select("n_nodes", "n_edges", "n_triangles")


def label_propagation(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) with fully deterministic updates: every node starts as
    its own label; each round it adopts the label most frequent among
    its neighbours, ties broken toward the SMALLEST label (struct-min
    over (-count, label) — exact bigint counts, so rounds are engine-
    and partitioning-invariant, unlike classic random-order LPA).
    Isolated update order (synchronous JACOBI, not in-place) keeps the
    result independent of traversal order.

    Per round: one labels⋈edges join (labels are node-sized), one
    (node, label) count aggregate with map-side partials, one argmax
    aggregate — the Pregel message shape, lineage truncated per round
    with localCheckpoint like pagerank_fixed_point. Hub skew is
    absorbed by the partial counts.

    Returns (node, label) after `iters` rounds.
    """
    und = (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(True, _SER)
    )
    labels = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    ).localCheckpoint()
    n = labels.count()  # node-sized state: drives the broadcast decision
    for _ in range(iters):
        msgs = und.join(
            _bcast_small(labels.withColumnRenamed("node", "src"), n), "src"
        ).select(F.col("dst").alias("node"), "label")
        votes = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        labels = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("n")).alias("neg"), F.col("label").alias("l"))
                ).alias("w")
            )
            .select("node", F.col("w.l").alias("label"))
            .localCheckpoint()
        )
    return labels


def k_core(edges: DataFrame, k: int, rounds: int = 8) -> DataFrame:
    """k-core decomposition by synchronous peeling: repeatedly drop
    every node whose degree within the surviving subgraph is < k; what
    remains after convergence is the k-core (Seidman 1983). Fixed
    `rounds` iterations — if the peel converges earlier the remaining
    rounds are no-ops, so a fixed bound keeps the computation
    engine-identical (the unrolled-CTE oracle runs the SAME rounds)
    without a data-dependent loop.

    Per round: two broadcast-or-shuffle semi joins (edge endpoints
    against the alive set) + one degree count with map-side partials —
    node-sized state, edge-sized work, lineage checkpointed. The
    density screen of graph curation: spam/bot subgraphs survive high-k
    cores, organic traffic peels away.

    Returns (node, core_degree) for the surviving nodes, with degree
    measured in the final induced subgraph.
    """
    und = (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(True, _SER)
    )
    alive = und.select(F.col("src").alias("node")).distinct().localCheckpoint()
    # the alive set only ever shrinks, so the initial node count bounds
    # every round's semi-join build side (r13: checkpointed state has
    # no size statistics — without the hint each peel round shuffled
    # the full edge list twice against the node-sized alive set)
    n_nodes = alive.count()
    for _ in range(rounds):
        sub = und.join(
            _bcast_small(alive.withColumnRenamed("node", "src"), n_nodes),
            "src",
            "left_semi",
        ).join(
            _bcast_small(alive.withColumnRenamed("node", "dst"), n_nodes),
            "dst",
            "left_semi",
        )
        deg = sub.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).cast("bigint").alias("deg")
        )
        alive = deg.filter(F.col("deg") >= k).select("node").localCheckpoint()
    final = und.join(
        _bcast_small(alive.withColumnRenamed("node", "src"), n_nodes),
        "src",
        "left_semi",
    ).join(
        _bcast_small(alive.withColumnRenamed("node", "dst"), n_nodes),
        "dst",
        "left_semi",
    )
    return final.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


def transitive_closure(
    edges: DataFrame,
    roots: DataFrame,
    max_depth: int,
    qty_col: str = "qty",
) -> DataFrame:
    """Depth-bounded transitive closure with a multiplied quantity —
    the BOM-explosion / org-hierarchy workload. Spark has no recursive
    CTE; the Spark-first equivalent is breadth-first frontier
    iteration: level k joins the level-(k-1) frontier against the edge
    list, unions into the result, and checkpoints — `max_depth` joins
    total, each an equi-join on the parent key.

    Returns (root, node, level, cum_qty): every node reachable from a
    root within max_depth, with the PRODUCT of edge quantities along
    the path (exact bigint — caller bounds depth × qty so the product
    can't overflow). A node reachable along several paths yields one
    row per path, matching SQL recursion (UNION ALL) semantics.

    The oracle twin is DuckDB's native WITH RECURSIVE — a cross-
    PARADIGM check (iterative joins vs fixpoint recursion) on top of
    the cross-engine one.

    Scale: the frontier shuffle carries (root, node, cum_qty) rows
    only; edge list is hash-joined per level (broadcast if dims are
    small); lineage truncated per level so the plan stays flat.
    """
    frontier = roots.select(
        F.col("node").alias("root"),
        F.col("node"),
        F.lit(0).alias("level"),
        F.lit(1).cast("bigint").alias("cum_qty"),
    ).localCheckpoint()
    out = frontier
    for level in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["parent"])
            .select(
                "root",
                F.col("child").alias("node"),
                F.lit(level).alias("level"),
                (F.col("cum_qty") * F.col(qty_col)).cast("bigint").alias("cum_qty"),
            )
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        out = out.unionByName(nxt)
        frontier = nxt
    return out


def sssp_bellman_ford(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
) -> DataFrame:
    """Multi-source weighted shortest paths by synchronous Bellman-Ford
    relaxation (Bellman 1958): dist_{k}(v) = min(dist_{k-1}(v),
    min over in-edges (dist_{k-1}(u) + w(u, v))), run for a fixed
    ``rounds`` iterations.

    ``edges`` is (src, dst, w) with integer w (already symmetrized by
    the caller if the graph is undirected); ``sources`` is (node).
    Returns (node, dist) for every node within ``rounds`` hops of a
    source, dist being the exact bigint length of the shortest path
    using at most ``rounds`` edges. Fixed rounds keep the computation
    engine-identical (the unrolled-CTE oracle runs the SAME rounds,
    the k_core discipline); once converged, further rounds are
    identity, so any bound >= the relevant diameter gives true
    shortest paths.

    Per round: ONE equi-join of the node-sized distance frame against
    the edge list + one min aggregation with map-side partials — the
    frontier never carries paths, only (node, dist) pairs, and all
    arithmetic is exact bigint (no float summation order anywhere).
    Lineage is checkpointed per round (the graph-operator cadence).

    At 100 TB: state is node-sized, work is edge-sized per round, and
    the relaxation join shuffles on the edge key — the textbook
    Pregel-on-relations shape (identical to PageRank's cost model but
    with min instead of sum, so map-side combine is even stronger).
    """
    dist = sources.select(
        "node", F.lit(0).cast("bigint").alias("dist")
    ).localCheckpoint()
    n = dist.count()
    for _ in range(rounds):
        relaxed = _bcast_small(dist, n).join(
            edges, dist["node"] == edges["src"]
        ).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).cast("bigint").alias("dist"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        n = dist.count()  # frontier grows round to round; recount the
        # fresh checkpoint (a cache-read job) so the broadcast decision
        # tracks the REAL reached-set size, not the seed count
    return dist


def _min_key(cands: str, seed_col: str, t: int, reps: int | None = None) -> str:
    """SQL for the smallest draw key over the array ``cands`` on step
    ``t``; null for an empty array. Candidate x's key is
    md5(walk:t:x) || '|' || lpad(x, 19), or with ``reps`` replicas one
    key per replica i in 1..reps, md5(walk:t:x:i) || ... . The md5
    part orders the candidates uniformly at random; the padded id makes
    the order total and decodes the winner (substr from 34). Pad to 19
    (max bigint digits): Spark's lpad TRUNCATES longer strings, so a
    narrower pad would corrupt wide node ids. The SQL oracles build the
    same string. Kept as one SQL string: building the lambdas through
    the Column API costs hundreds of py4j round trips per step."""
    rep = "" if reps is None else ", CAST(_r AS STRING)"
    key = (
        f"concat(md5(concat_ws(':', CAST(`{seed_col}` AS STRING), '{t}', "
        f"CAST(_c AS STRING){rep})), '|', lpad(CAST(_c AS STRING), 19, '0'))"
    )
    if reps is None:
        return f"array_min(transform({cands}, _c -> {key}))"
    return (
        f"array_min(flatten(transform({cands}, "
        f"_c -> transform(sequence(1, {reps}), _r -> {key}))))"
    )


def _walk(edges: DataFrame, starts: DataFrame, steps: int, seed_col: str,
          draw, second_order: bool = False) -> DataFrame:
    """The step kernel both walk generators share.

    ``edges`` is persisted once, as a node-sized adjacency list
    (node, _nbrs = collect_list(dst)) behind a local checkpoint. Each
    step broadcast-joins the walk-sized frontier (``_bcast_small``
    ceiling; above it the join shuffles) to that list and takes the
    next node from ``draw(t)``, the SQL of the winning draw key per row
    over the row's ``_nbrs`` and, for a ``second_order`` walk, the
    previous node ``_prev`` and its neighbour list ``_pn``.

    Every frontier is a lazy local checkpoint: the next step's broadcast
    job fills it (the caller's action fills the last one), so a step
    costs one job and there is no early-stop count — a walk at a sink
    drops out of the inner join, and an empty frontier stays empty. The
    result is a union of ``steps + 1`` checkpoint leaves, so the plan
    grows linearly in ``steps`` and no downstream job re-analyses the
    walk lineage.
    """
    adj = (
        edges.groupBy(F.col("src").cast("bigint").alias("node"))
        .agg(F.collect_list(F.col("dst").cast("bigint")).alias("_nbrs"))
        .localCheckpoint(eager=False)
    )
    carry = []
    if second_order:
        carry = [F.lit(None).cast("bigint").alias("_prev"),
                 F.lit(None).cast("array<bigint>").alias("_pn")]
    frontier = starts.select(
        seed_col, F.lit(0).alias("step"),
        F.col("node").cast("bigint").alias("node"), *carry,
    ).localCheckpoint(eager=False)
    n_walks = frontier.count()  # fills the checkpoint; one row per walk
    out = frontier.select(seed_col, "step", "node")
    for t in range(1, steps + 1):
        if second_order:
            carry = [F.col("node").alias("_prev"), F.col("_nbrs").alias("_pn")]
        frontier = (
            _bcast_small(frontier, n_walks)
            .join(adj, "node")
            .select(
                seed_col,
                F.lit(t).alias("step"),
                F.expr(f"CAST(substr({draw(t)}, 34) AS BIGINT)").alias("node"),
                *carry,
            )
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(frontier.select(seed_col, "step", "node"))
    return out


def deterministic_walks(
    edges: DataFrame,
    starts: DataFrame,
    steps: int,
    seed_col: str = "walk_id",
) -> DataFrame:
    """DeepWalk-style random-walk corpus generation (Perozzi et al.
    2014) with HASH-deterministic transitions: at node u on step t of
    walk w, the next node is the neighbor minimizing
    md5(w || ':' || t || ':' || neighbor) — a uniform pseudo-random
    choice that both engines can replay exactly, so the walk corpus is
    oracle-checkable (no RNG state, no driver loop).

    ``edges`` is (src, dst); ``starts`` is (walk_id, node) — one row
    per walk with its start node. Returns (walk_id, step, node) for
    steps 0..``steps`` (step 0 = the start). Walks stop early at sink
    nodes (no out-edges). Duplicate edges do not change the draw.

    The argmin uses the string key shared with the SQL oracle
    (:func:`_min_key`): md5-hex || '|' || zero-padded dst — a total
    order with no ties, compared identically by both engines. Per step
    it is one ``array_min`` over the current node's neighbour list.

    At 100 TB: the adjacency list is node-sized and built with one
    shuffle of the edge list; each step broadcasts the walk-count-sized
    frontier into a join with that list (no shuffle) and checkpoints
    the new frontier (:func:`_walk`), so the plan grows linearly in
    ``steps`` and the per-step work is O(deg(node)) per walk. This is
    the corpus generator feeding skip-gram node-embedding training.
    """
    return _walk(
        edges, starts, steps, seed_col,
        lambda t: _min_key("_nbrs", seed_col, t),
    )


def node2vec_walks(
    edges: DataFrame,
    starts: DataFrame,
    steps: int,
    p: float = 1.0,
    q: float = 1.0,
    seed_col: str = "walk_id",
    replication: int = 4,
) -> DataFrame:
    """node2vec-biased second-order walks (Grover & Leskovec 2016) on
    the hash-deterministic walk machinery: at node v (arrived from t),
    candidate x is weighted 1/p if x = t (return), 1 if x is adjacent
    to t (BFS-ish), 1/q otherwise (DFS-ish) — p < q explores, p > q
    stays local. The corpus generator for structure-aware node
    embeddings next to DeepWalk's uniform walks.

    Determinism without RNG state OR floating-point transforms: the
    weighted draw is INTEGER REPLICATION — candidate x gets
    round(replication·w) replicas, replica i keyed
    md5(walk:step:x:i), and the walk takes the candidate owning the
    minimum key. Each replica is equally likely to be the global
    minimum, so P(x) = count(x)/Σcount — the exact biased draw — and
    both engines replay it with md5 + integer sequences only (no
    ln/pow whose last-ulp behavior differs across libms). Weights stay
    exact for p, q in {.25, .5, 1, 2, 4}-style rationals; step 1 has
    no predecessor and draws uniformly, as in the reference
    implementation.

    ``edges`` must contain both directions for undirected semantics:
    "x adjacent to t" means the directed edge t→x exists. Runs on the
    step kernel shared with :func:`deterministic_walks` (:func:`_walk`);
    the frontier also carries the previous node and its neighbour list,
    so the three classes come from hash-based set operations on two
    neighbour lists — return = {t} ∩ N(v), adjacent = N(v) ∩ N(t) −
    {t}, far = N(v) − N(t) − {t} — O(deg(v) + deg(t)) per walk and
    step, never a per-candidate probe of the edge list. Returns
    (walk_id, step, node).
    """
    w_ret = max(1, round(replication / p))
    w_adj = replication
    w_far = max(1, round(replication / q))

    def draw(t):
        if t == 1:  # no predecessor yet: uniform over the neighbours
            return _min_key("_nbrs", seed_col, t, w_adj)
        classes = (
            ("filter(_nbrs, _c -> _c = _prev)", w_ret),
            ("array_except(array_intersect(_nbrs, _pn), array(_prev))", w_adj),
            ("array_except(_nbrs, array_union(_pn, array(_prev)))", w_far),
        )
        # least() skips the null min of an empty class
        return "least({})".format(
            ", ".join(_min_key(c, seed_col, t, w) for c, w in classes)
        )

    return _walk(edges, starts, steps, seed_col, draw, second_order=True)


def skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
    seed_col: str = "walk_id",
) -> DataFrame:
    """Skip-gram (center, context) training pairs from a walk corpus —
    the step between walk generation (deterministic_walks /
    node2vec_walks) and embedding training: every ordered pair of nodes
    within ``window`` steps on the same walk, with multiplicities.

    One self-equi-join on walk_id with the |Δstep| ≤ window band
    predicate (walks are short, so the per-walk blow-up is ≤ 2·window
    rows per position — bounded fan-out, not a cross join) and one
    map-side-combined count. Input (walk_id, step, node); output
    (center, context, n_pairs).
    """
    a = walks.select(
        F.col(seed_col).alias("_w"), F.col("step").alias("_sa"),
        F.col("node").alias("center"),
    )
    b = walks.select(
        F.col(seed_col).alias("_w"), F.col("step").alias("_sb"),
        F.col("node").alias("context"),
    )
    return (
        a.join(b, "_w")
        .filter(
            (F.col("_sa") != F.col("_sb"))
            & (F.abs(F.col("_sa") - F.col("_sb")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def hits_scores(
    edges: DataFrame,
    rounds: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """HITS hubs-and-authorities (Kleinberg 1999) on a directed
    (bipartite or general) edge list (src, dst): fixed synchronous
    rounds of  a(p) = Σ_{c→p} h(c),  h(c) = Σ_{c→p} a(p),  each
    max-normalized (the ∞-norm variant — normalization is a SELECTION,
    not a float sum, so the only order-dependent arithmetic is the
    neighbor sums the pagerank lane already disciplines; outputs round
    at 6dp under the power-iteration contraction).

    Per round: two equi-joins of the node-sized score frames against
    the edge list + two map-side-combined sum aggregations + two
    scalar max aggregates broadcast back — Pregel cost, node-sized
    state, lineage checkpointed. Completes the link-analysis family
    next to PageRank: hubs = curators/consumers, authorities =
    canonical items (the duplicate-cluster "which copy is canonical"
    signal on content graphs).

    Returns (hubs, auths): (node, score) each, max-normalized to 1.
    """
    hubs = (
        edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.lit(1.0).alias("score"))
        .localCheckpoint()
    )
    n = hubs.count()
    n_dst = edges.select("dst").distinct().count()  # auths are dst-sized
    auths = None
    for _ in range(rounds):
        a_raw = (
            edges.join(_bcast_small(hubs.withColumnRenamed("node", "src"), n), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("score").alias("raw"))
        )
        a_max = a_raw.agg(F.max("raw").alias("mx"))
        auths = (
            a_raw.crossJoin(F.broadcast(a_max))
            .select("node", (F.col("raw") / F.col("mx")).alias("score"))
            .localCheckpoint()
        )
        h_raw = (
            edges.join(_bcast_small(auths.withColumnRenamed("node", "dst"), n_dst), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("score").alias("raw"))
        )
        h_max = h_raw.agg(F.max("raw").alias("mx"))
        hubs = (
            h_raw.crossJoin(F.broadcast(h_max))
            .select("node", (F.col("raw") / F.col("mx")).alias("score"))
            .localCheckpoint()
        )
    return hubs, auths


def k_truss(edges: DataFrame, k: int, rounds: int = 3) -> DataFrame:
    """k-truss decomposition by synchronous support peeling (Cohen
    2008): repeatedly drop every edge contained in fewer than k-2
    triangles of the surviving subgraph; the fixpoint is the k-truss —
    the stricter, EDGE-based cousin of the k-core (every k-truss edge
    sits in a dense, overlapping-triangle neighborhood; spam cliques
    and mutual-admiration rings survive, loose hubs don't). Fixed
    ``rounds`` iterations, converged rounds are no-ops (the k_core /
    sssp discipline keeping Spark and the unrolled-CTE oracle
    identical without a data-dependent loop).

    ``edges`` must be canonical (src < dst, distinct). Per round:
    oriented triangle enumeration via the degree-agnostic two-join
    wedge closure (a<b<c each triangle once — triangle_count's plan),
    one explode of each triangle into its 3 edges, one map-side-
    combined support count, one semi-join filter. Edge-sized state,
    checkpointed lineage; the wedge join is the dominant O(m^1.5)
    term, identical to one triangle-count pass per round.

    Returns the surviving edges with their final-round support.

    ``k`` must be >= 3: the peel drops edges contained in zero
    triangles (they never appear in the support aggregate), which is
    the correct k>=3 behavior but wrong for k<=2 (the 2-truss is the
    whole graph) — so k<=2 is rejected rather than silently computing
    the k=3 answer.
    """
    if k < 3:
        raise ValueError(
            f"k_truss requires k >= 3 (got k={k}): the support peel drops "
            "zero-triangle edges, so k<=2 would silently return the 3-truss"
        )
    def _support(cur: DataFrame) -> DataFrame:
        """One oriented triangle enumeration over ``cur`` + per-edge
        support counts. The 3 edges of each triangle are emitted by ONE
        explode of a 3-struct array (r13): the previous 3-branch
        unionAll duplicated the whole wedge-join subtree per branch —
        Spark plans no common-subexpression elimination across union
        branches and ReusedExchange never fired (ReusedExchange=0 in
        plans/r13/ktruss_copurchase_before.txt, 3x SMJ+SHJ pairs), so
        every pass paid the O(m^1.5) closure THREE times. The explode
        emits the identical row multiset from a single join execution;
        count() over it is order-free, so supports are bit-identical."""
        a = cur.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        b = cur.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        c = cur.select(F.col("src").alias("v"), F.col("dst").alias("w"))
        # closure probe: the edge-sized c side is the hash build; the
        # Σ outdeg² wedge stream streams through unsorted. Sort-merge
        # here sorts the O(m^1.5) wedge stream per round to meet an
        # m-row side — the same defect triangle_count fixed in r12
        # (graph.py:247, 1.9x on the sf1.0 co-purchase graph).
        tri = (
            a.join(b, ["u"])
            .filter(F.col("w") > F.col("v"))
            .join(c.hint("shuffle_hash"), ["v", "w"])
        )
        tri_edges = tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                    F.struct(F.col("u").alias("src"), F.col("w").alias("dst")),
                    F.struct(F.col("v").alias("src"), F.col("w").alias("dst")),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
        return tri_edges.groupBy("src", "dst").agg(
            F.count(F.lit(1)).cast("bigint").alias("support")
        )

    def _sup_decrement(
        g_prev: DataFrame,
        sup_prev: DataFrame,
        removed: DataFrame,
        n_removed: int,
    ) -> DataFrame:
        """r14 incremental support maintenance (VERDICT r13 item 2,
        guide §1.2): the support table of the PEELED graph, computed
        from the previous round's support instead of a fresh O(m^1.5)
        enumeration. A triangle of G' = G \\ R is exactly a triangle
        of G none of whose edges is in R, so for every survivor e:

            sup'(e) = sup(e) − |{dead triangles containing e}|
            dead    = triangles of G containing ≥1 removed edge

        Dead triangles are enumerated from R only: for removed (a,b)
        the third vertex c is any common neighbor in G — one join of
        the broadcast R against G's adjacency (stream ~ Σ_{(a,b)∈R}
        deg(a), not Σ deg²) plus one hash probe of G for the (b,c)
        closure, then DISTINCT on the sorted vertex triple so a
        triangle with 2–3 removed edges decrements each survivor once.
        |dead| ≤ Σ_{e∈R} sup(e) ≤ (k−3)·|R| (every removed edge kept
        support < k−2), so the decrement table is bounded by
        3·(k−3)·|R| rows — the caller gates this path on that bound
        against the broadcast ceiling and falls back to the full
        enumeration when a round peels too much for the bound to be
        cheap. Survivors whose support hits 0 are dropped, matching
        _support's absence-of-zero-triangle-edges contract."""
        adj = g_prev.select(
            F.col("src").alias("a"), F.col("dst").alias("c")
        ).unionByName(
            g_prev.select(F.col("dst").alias("a"), F.col("src").alias("c"))
        )
        rb = _bcast_small(
            removed.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            n_removed,
        )
        # (b,c) closure probe: same build-side choice as _support —
        # the edge-sized g_prev is the SHUFFLE_HASH build, the
        # R-degree-sized candidate stream streams through unsorted
        cand = rb.join(adj, "a").filter(F.col("c") != F.col("b"))
        dead = cand.join(
            g_prev.select(
                F.col("src").alias("_s2"), F.col("dst").alias("_d2")
            ).hint("shuffle_hash"),
            (F.least("b", "c") == F.col("_s2"))
            & (F.greatest("b", "c") == F.col("_d2")),
        ).select("a", "b", "c")
        dead_tri = (
            dead.select(F.sort_array(F.array("a", "b", "c")).alias("t"))
            .selectExpr("t[0] AS u", "t[1] AS v", "t[2] AS w")
            .distinct()
        )
        dec = (
            dead_tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                        F.struct(F.col("u").alias("src"), F.col("w").alias("dst")),
                        F.struct(F.col("v").alias("src"), F.col("w").alias("dst")),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("bigint").alias("_dec"))
        )
        return (
            sup_prev.filter(F.col("support") >= k - 2)
            .join(
                _bcast_small(dec, max(1, 3 * (k - 3)) * n_removed),
                ["src", "dst"],
                "left",
            )
            .select(
                "src",
                "dst",
                (F.col("support") - F.coalesce(F.col("_dec"), F.lit(0)))
                .cast("bigint")
                .alias("support"),
            )
            .filter(F.col("support") > 0)
        )

    cur = edges.select("src", "dst").distinct().localCheckpoint(True, _SER)
    n_cur = cur.count()  # cache read on the eager checkpoint
    prev_cur, sup, removed, n_removed = None, None, None, 0
    for _ in range(rounds):
        # materialize the support table (edge-sized, +1 bigint column)
        # instead of the filtered edge set: the convergence test below
        # can then RETURN it outright, and the surviving-edge frame is
        # a cheap filter over the cached leaf
        if removed is None:
            sup = _support(cur).localCheckpoint(True, _SER)
        else:
            sup = _sup_decrement(prev_cur, sup, removed, n_removed).localCheckpoint(
                True, _SER
            )
        new_cur = (
            sup.filter(F.col("support") >= k - 2)
            .select("src", "dst")
            .localCheckpoint(True, _SER)
        )
        n_new = new_cur.count()  # cache read
        if n_new == n_cur:
            # Fixpoint reached (r13 early exit): the survivors are a
            # SUBSET of the previous round's edges, so equal cardinality
            # forces set equality — this round dropped nothing, every
            # remaining round is the identity, and the final support
            # table over the final edge set is exactly ``sup`` (same
            # edge set ⇒ same triangles ⇒ same counts; equality also
            # forces sup to contain no below-threshold rows). Returning
            # the already-materialized sup skips every remaining
            # O(m^1.5) enumeration — converged rounds are no longer
            # paid for, only detected (one cached count per round).
            return sup
        # r14: subsequent rounds maintain supports incrementally when
        # the dead-triangle bound fits the broadcast ceiling; a round
        # that peeled too much falls back to the full enumeration
        # (which is then running on the correspondingly smaller graph)
        n_removed = n_cur - n_new
        if max(1, 3 * (k - 3)) * n_removed <= _BCAST_STATE_MAX_ROWS:
            removed = sup.filter(F.col("support") < k - 2).select("src", "dst")
        else:
            removed = None
        prev_cur, cur, n_cur = cur, new_cur, n_new
    if removed is not None:
        return _sup_decrement(prev_cur, sup, removed, n_removed)
    return _support(cur)


def _fdiv(x: str, d: str) -> str:
    """SQL text for exact floor division of bigint expressions: the
    positive-mod identity (x - pmod(x, d)) div d. The numerator is
    exactly divisible, so Spark's truncating `div` and DuckDB's
    flooring `//` coincide bit-for-bit — and no double ever carries the
    value (bigint `/` in Spark would round through float64)."""
    return f"(({x}) - pmod({x}, {d})) div ({d})"


def _shift_normalize(
    w: DataFrame, scale_bits: int, checkpoint: bool = True
) -> DataFrame:
    """Renormalize an integer vector (node, w) to ∞-norm < 2^scale_bits
    by an exact power-of-two floor-division — the cross-engine-safe
    substitute for dividing by the (irrational) L2 norm: s =
    bitlength(max|w|) - scale_bits, v = floordiv(w, 2^s). bitlength via
    length(bin(x)) is STRING arithmetic, immune to log2-ulp boundaries;
    2^s stays ≤ 2^52, exact in the double pow both engines compute.
    Power iteration only needs direction — any deterministic rescale
    preserves the fixed point.

    r13: the INPUT vector is materialized (eager vocab-sized
    checkpoint) instead of the output, because BOTH the stats subtree
    (broadcast max|w|) and the projection reference ``w`` and Spark
    does not dedupe shared subtrees — with a lazy input, every
    reference re-executed the whole matvec, tripling the per-round
    work across the two loop references.  The normalized output stays
    a cheap projection over the leaf (re-running it per consumer is a
    vocab-sized scan, not a matvec).  ``checkpoint`` retained for call
    compatibility; it is now a no-op."""
    w = w.localCheckpoint()
    stats = w.agg(
        F.greatest(F.max(F.abs(F.col("w"))), F.lit(1).cast("bigint")).alias("_mx")
    )
    return (
        w.crossJoin(F.broadcast(stats))
        .selectExpr(
            "node",
            "w",
            f"CAST(pow(2.0D, CAST(greatest(length(bin(_mx)) - {scale_bits}, 0)"
            " AS DOUBLE)) AS BIGINT) AS _d",
        )
        .selectExpr("node", _fdiv("w", "_d") + " AS x")
    )


def _fused_norm(
    w: DataFrame, scale_bits: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """r14 job-count fusion (VERDICT r13 item 1, guide §5 driver
    latency): renormalize (node, w) WITHOUT the per-round scalar
    broadcast job — greatest(max(abs(w)) OVER (), 1) rides an
    unpartitioned window over the vector, so the matvec, the max
    statistic and the floor-division all execute inside ONE job with
    no shared subtree (the plan is linear, so no per-round
    materialization is needed for dedup either). The single-partition
    window is exactly as large as the node-sized state the caller
    already deems broadcastable — this helper must only be used under
    the ``_BCAST_STATE_MAX_ROWS`` ceiling (above it
    ``_shift_normalize`` keeps the agg+broadcast shape).

    Value-identical to ``_shift_normalize``: the window max over all
    rows IS the aggregate max, and every subsequent op is the same
    integer floor-division. ``carry`` names extra columns to pass
    through unchanged (per-node loop constants such as v₁)."""
    from pyspark.sql import Window as W

    win = W.partitionBy()
    keep = [F.col(c) for c in carry]
    return (
        w.select(
            "node",
            "w",
            F.greatest(
                F.max(F.abs(F.col("w"))).over(win), F.lit(1).cast("bigint")
            ).alias("_mx"),
            *keep,
        )
        .selectExpr(
            "node",
            "w",
            f"CAST(pow(2.0D, CAST(greatest(length(bin(_mx)) - {scale_bits}, 0)"
            " AS DOUBLE)) AS BIGINT) AS _d",
            *carry,
        )
        .selectExpr("node", _fdiv("w", "_d") + " AS x", *carry)
    )


def _matvec(m: DataFrame, v: DataFrame, n_v: int | None = None) -> DataFrame:
    """w = M·v for a sparse integer matrix (center, context, m) and an
    integer vector (node, x): one equi-join on the context key + one
    map-side-combined bigint sum — the Pregel exchange shape (edge-sized
    round, node-sized state), exact in any engine. ``n_v`` (the vector's
    known row count) lets the vocab-sized vector broadcast instead of
    shuffling the matrix every round (checkpointed inputs carry no size
    statistics, so the planner alone never makes that choice)."""
    return (
        m.join(
            _bcast_small(v.select(F.col("node").alias("context"), "x"), n_v),
            "context",
        )
        .groupBy("center")
        .agg(F.sum(F.col("m") * F.col("x")).alias("w"))
        .select(F.col("center").alias("node"), "w")
    )


#: floor(ln(5)·1e9 + 0.5) — the SGNS shift log(k) for k=5 negative
#: samples, pre-computed to an integer literal so neither engine runs
#: libm for it (Levy & Goldberg 2014: SGNS factorizes PMI − log k).
SGNS_SHIFT_NANO = 1_609_437_912


def ppmi_spectral_embeddings(
    pairs: DataFrame,
    iters: int = 6,
    scale_bits: int = 14,
    ppmi_downshift_bits: int = 22,
    shift_nano: int = SGNS_SHIFT_NANO,
) -> DataFrame:
    """Count-based node embeddings from skip-gram pairs: shifted
    positive PMI matrix + rank-2 truncated eigendecomposition — the
    Levy & Goldberg 2014 result that SGNS (word2vec with negative
    sampling) implicitly factorizes the shifted PMI matrix, run as a
    RELATIONAL spectral method. Closes the walk → pairs → embedding
    loop over skipgram_pairs' output (VERDICT r9 item 3).

    Cross-engine exactness (the pca_power_projection discipline,
    extended to a DATA-sized matrix that must never leave the cluster):

    1. PMI on the 1e9 integer grid: pmi_nano = floor(ln(n_ij·N /
       (n_i·n_j))·1e9 + 0.5) — one libm ln on identical doubles built
       from exact integer counts (the ★ cooccurrence_pmi precedent).
    2. Shifted-PPMI quantization: m = max(pmi_nano − ln(5)·1e9, 0)
       div 2^22 — integer ops only; zero entries are DROPPED, so the
       matrix keeps PPMI's signature sparsity.
    3. Power iteration in EXACT BIGINT: the matvec is an equi-join +
       bigint sum (order-independent), and each round renormalizes by
       a power-of-two floor division whose shift comes from bitlength
       STRINGS, not log2 (_shift_normalize) — no float ever enters the
       iteration, so ulp drift is structurally impossible.
    4. Component 2 by integer deflation of M − (Mv₁)v₁ᵀ/(v₁ᵀv₁):
       w = a·2^sb − fdiv(fdiv(b, 2^12)·t, 4), t = fdiv(p·2^sb, q),
       with a = M·x, b = M·v₁ (nonnegative: PPMI matrix and the Perron
       start keep v₁ ≥ 0), p = v₁ᵀx, q = v₁ᵀv₁ — every division an
       exact positive-mod floor-div, every intermediate ≲ 2^54 at
       vocab ~10⁴ (ANSI overflow THROWS rather than corrupts; raise
       ppmi_downshift_bits for larger vocabularies).

    Scale shape: vocab-sized state, matrix-sized rounds, lineage
    truncated every other round (the pagerank every-3 discipline: the
    checkpoint is the round's fixed cost once state is node-sized, and
    a 2-round plan is constant-depth — halves materializations at
    scale, wall-time-neutral at sf0.1); the scalar aggregates
    (max|w|, p, q) ride as broadcast one-row joins — nothing collects.
    Init: v₁ = all-ones·2^sb (the Perron direction's sign), v₂ = ±2^sb
    by node parity (deterministic and not parallel to v₁).

    Returns (node, e1, e2): integer embedding coordinates, each
    component ∞-normalized below 2^scale_bits.
    """
    mg = pairs.groupBy("center").agg(F.sum("n_pairs").alias("nr"))
    tot = pairs.agg(F.sum("n_pairs").alias("nt"))
    m = (
        pairs
        .join(mg.select(F.col("center"), F.col("nr").alias("na")), "center")
        .join(
            mg.select(F.col("center").alias("context"), F.col("nr").alias("nb")),
            "context",
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "center",
            "context",
            "CAST(floor(ln(CAST(n_pairs AS DOUBLE) * CAST(nt AS DOUBLE)"
            " / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) * 1e9 + 0.5D)"
            " AS BIGINT) AS pmi_nano",
        )
        .selectExpr(
            "center",
            "context",
            f"greatest(pmi_nano - {shift_nano}L, 0L)"
            f" div {1 << ppmi_downshift_bits}L AS m",
        )
        .filter(F.col("m") > 0)
        # hash-layout by the matvec's OUTPUT key and persist (tracked):
        # localCheckpoint would discard the partitioning (ExistingRDD ⇒
        # UnknownPartitioning), while InMemoryTableScan preserves it, so
        # all 13 matvec groupBy("center") aggregations run partial+final
        # in ONE stage with no exchange — the matrix is shuffled exactly
        # once, at build
        .repartition("center")
    )
    from meerpipe_spark.cacheutil import persist_tracked

    m = persist_tracked(m, level=_SER)
    vocab = m.select(F.col("center").alias("node")).distinct().localCheckpoint()
    n_vocab = vocab.count()  # cache-read job; drives the matvec broadcast

    # r14 (VERDICT r13 item 1): the power rounds were the registry's
    # slowest lane and purely driver-job-latency-bound at bench SF
    # (166 jobs × ~100 ms scheduler latency, 8v32-core ratio 0.99).
    # Under the broadcast ceiling the rounds now run FUSED — scalar
    # stats ride unpartitioned windows inside the round's one job,
    # loop-invariant constants (v₁, b, q) are checkpointed once, and
    # phase-1 lineage truncates every other round — while above the
    # ceiling the r13 agg+broadcast/shuffle shape is kept verbatim
    # (node-sized state that cannot be broadcast cannot sit in one
    # window partition either). Both paths compute bit-identical
    # integers; the ceiling-0 equality test pins it.
    if n_vocab > _BCAST_STATE_MAX_ROWS:
        return _ppmi_rounds_shuffle(m, vocab, n_vocab, iters, scale_bits)
    return _ppmi_rounds_fused(m, vocab, n_vocab, iters, scale_bits)


def _ppmi_rounds_shuffle(
    m: DataFrame, vocab: DataFrame, n_vocab: int, iters: int, scale_bits: int
) -> DataFrame:
    """The r13 power-round shape, kept verbatim as the above-ceiling
    fallback: shuffle matvec, per-round agg+broadcast renorm scalars.
    See ppmi_spectral_embeddings for the exactness argument."""
    two_sb = 1 << scale_bits
    v = vocab.select(
        "node", F.lit(two_sb).cast("bigint").alias("x")
    ).localCheckpoint()
    for r in range(iters):
        # truncate lineage every OTHER round: the checkpoint job is the
        # round's fixed cost once state is vocab-sized, and a 2-round
        # plan (join+agg+scalar ×2) is still constant-depth
        v = _shift_normalize(_matvec(m, v, n_vocab), scale_bits,
                             checkpoint=(r % 2 == 1) or r == iters - 1)
    v1 = v

    b = (
        _matvec(m, v1, n_vocab)
        .selectExpr("node", "w div 4096L AS bt")  # w ≥ 0: div == floor-div
        .localCheckpoint()
    )
    q = v1.agg(F.sum(F.col("x") * F.col("x")).alias("q"))
    u = vocab.selectExpr(
        "node", f"{two_sb}L * (1L - 2L * pmod(node, 2)) AS x"
    ).localCheckpoint()
    for r in range(iters):
        a = _matvec(m, u, n_vocab)
        p = (
            v1.select("node", F.col("x").alias("x1"))
            .join(_bcast_small(u, n_vocab), "node")
            .agg(F.sum(F.col("x1") * F.col("x")).alias("p"))
        )
        t = (
            p.crossJoin(F.broadcast(q))
            .selectExpr(f"p * {two_sb}L AS p14", "q")
            .selectExpr(_fdiv("p14", "q") + " AS t")
        )
        w2 = (
            a.join(_bcast_small(b, n_vocab), "node")
            .crossJoin(F.broadcast(t))
            .selectExpr(
                "node",
                f"w * {two_sb}L - ({_fdiv('bt * t', '4L')}) AS w",
            )
        )
        u = _shift_normalize(w2, scale_bits,
                             checkpoint=(r % 2 == 1) or r == iters - 1)

    return (
        v1.select("node", F.col("x").alias("e1"))
        .join(_bcast_small(u.select("node", F.col("x").alias("e2")), n_vocab), "node")
    )


def _ppmi_rounds_fused(
    m: DataFrame, vocab: DataFrame, n_vocab: int, iters: int, scale_bits: int
) -> DataFrame:
    """r14 fused power rounds (vocab under the broadcast ceiling).

    Job shape per round — the whole point of this path:

    - phase 1: ONE broadcast job (the state vector into the matvec)
      plus a lineage checkpoint every other round. The renorm max
      rides an unpartitioned window inside the same job
      (:func:`_fused_norm`); nothing else executes. The intermediate
      un-checkpointed round has exactly ONE consumer (the next round's
      broadcast), so it still executes exactly once — no re-execution
      is traded for the saved checkpoint, at any scale.
    - phase 2: ONE checkpointed state frame S per round carrying the
      vector xu, the loop constants x1 (= v₁), bt, q = Σx1², and the
      round scalar p = Σ x1·xu (windows attached at build). Round r
      is: matvec (broadcast of S's context projection, with p carried
      through the agg as max of a constant column) → rejoin S's
      constants projection (broadcast, checkpoint read) → deflation +
      renorm + next p, all windows in the same pass → one checkpoint.
      ~3 jobs versus the r13 shape's ~7 (matvec ckpt, p agg broadcast,
      q broadcast, t broadcast, b broadcast, u broadcast, stats
      broadcast). S must stay eagerly checkpointed: it is referenced
      twice per round, and a lazy persist duplicates the child subtree
      per reference (2^iters logical-plan growth — measured driver
      OOM; see the in-loop comment).

    Exactness vs the shuffle path: window max/sum over all rows ARE
    the aggregate max/sum (bigint, order-free); max("p")/max over a
    per-frame-constant column is that constant; the w2 row set is
    unchanged (a and C both cover exactly the vocab); every division
    is the same positive-mod floor-div. The ceiling-0 equality test
    runs both paths on the same pairs and asserts identical rows."""
    from pyspark.sql import Window as W

    two_sb = 1 << scale_bits
    win = W.partitionBy()

    v = vocab.select(
        "node", F.lit(two_sb).cast("bigint").alias("x")
    ).localCheckpoint()
    for r in range(iters):
        v = _fused_norm(_matvec(m, v, n_vocab), scale_bits)
        # every-3 lineage truncation: phase-1 state has exactly ONE
        # consumer per round (the next round's broadcast), so the
        # un-checkpointed intermediates still execute exactly once at
        # any scale; a 3-round plan is constant-depth
        if (r % 3 == 2) or r == iters - 1:
            v = v.localCheckpoint()
    v1 = v

    # Phase-2 state S carries EVERYTHING the round needs per node —
    # the vector xu, the loop constants x1 (= v₁), bt (= b div 2^12)
    # and q = Σx1², and the round scalar p = Σ x1·xu — as ONE frame,
    # eagerly checkpointed per round. The checkpoint must stay EAGER:
    # S is referenced TWICE per round (both broadcasts), so a lazy
    # persist duplicates the child subtree per reference and the
    # logical plan grows 2^iters (measured: driver OOM in
    # generateTreeString at iters=6 on sf0.1 — the lineage barrier is
    # load-bearing, not hygiene).
    b = _matvec(m, v1, n_vocab).selectExpr(
        "node", "w div 4096L AS bt"  # w ≥ 0: div == floor-div
    )
    s = (
        v1.select("node", F.col("x").alias("x1"))
        .join(_bcast_small(b, n_vocab), "node")
        .join(
            _bcast_small(
                vocab.selectExpr(
                    "node", f"{two_sb}L * (1L - 2L * pmod(node, 2)) AS xu"
                ),
                n_vocab,
            ),
            "node",
        )
        .select(
            "node",
            "x1",
            "bt",
            "xu",
            F.sum(F.col("x1") * F.col("x1")).over(win).alias("q"),
            F.sum(F.col("x1") * F.col("xu")).over(win).alias("p"),
        )
        .localCheckpoint()
    )
    for r in range(iters):
        a = (
            m.join(
                _bcast_small(
                    s.select(
                        F.col("node").alias("context"),
                        F.col("xu").alias("x"),
                        "p",
                    ),
                    n_vocab,
                ),
                "context",
            )
            .groupBy("center")
            # p is constant over every row of the join: max() recovers
            # the scalar through the aggregation without a second pass
            .agg(F.sum(F.col("m") * F.col("x")).alias("w"), F.max("p").alias("p"))
            .select(F.col("center").alias("node"), "w", "p")
        )
        w2 = (
            a.join(_bcast_small(s.select("node", "x1", "bt", "q"), n_vocab), "node")
            .selectExpr(
                "node",
                "x1",
                "bt",
                "q",
                "w",
                f"({_fdiv(f'p * {two_sb}L', 'q')}) AS t",
            )
            .selectExpr(
                "node",
                "x1",
                "bt",
                "q",
                f"w * {two_sb}L - ({_fdiv('bt * t', '4L')}) AS w",
            )
        )
        nrm = _fused_norm(w2, scale_bits, carry=("x1", "bt", "q"))
        s = (
            nrm.select(
                "node",
                "x1",
                "bt",
                "q",
                F.col("x").alias("xu"),
                F.sum(F.col("x1") * F.col("x")).over(win).alias("p"),
            )
            .localCheckpoint()
        )

    return (
        v1.select("node", F.col("x").alias("e1"))
        .join(
            _bcast_small(s.select("node", F.col("xu").alias("e2")), n_vocab),
            "node",
        )
    )


def betweenness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    levels: int = 4,
) -> DataFrame:
    """Sampled-source betweenness centrality by Brandes' two-phase
    algorithm (Brandes 2001, public; the sampled-pivot estimator is
    Brandes & Pich 2007): for each source s, a synchronous BFS
    accumulates shortest-path counts σ(s,v) (exact bigint — level-k σ
    is one sum of level-(k-1) σ over in-edges), then dependencies
    δ(s,v) = Σ_{w succ} σ(s,v)/σ(s,w) · (1+δ(s,w)) accumulate
    level-by-level DESCENDING, which finalizes each node's δ exactly
    once. bc(v) = Σ_s δ(s,v) over non-source nodes.

    Fixed ``levels`` keeps both phases engine-identical for the
    unrolled-CTE oracle (the sssp/k_core discipline); any bound ≥ the
    relevant eccentricity gives the true Brandes values for the sample.

    Scale shape: all state is (source × node)-sized; each forward round
    is ONE frontier⋈edges join + σ-sum with map-side partials, each
    backward round ONE (level-d × level-d+1) edge join + one float
    aggregation of exact-integer quotients. Nothing is path-sized and
    nothing visits the driver; lineage checkpoints per round.

    Precondition: ``edges`` must be a DEDUPLICATED simple edge list —
    a duplicate (src,dst) row inflates σ in the forward phase and
    double-counts its δ contribution in the backward phase (ADVICE
    r10). Callers own the distinct (the in-repo caller's edge builder
    already emits distinct pairs); this operator does not re-shuffle
    defensively, because on a corpus-sized edge table that distinct is
    a full extra shuffle the caller can usually prove unnecessary.

    Returns (node, bc) for every node reached by any source BFS,
    excluding the sources themselves; bc rounded 6dp.
    """
    bfs = sources.select(
        F.col("node").alias("s"),
        F.col("node"),
        F.lit(0).alias("dist"),
        F.lit(1).cast("bigint").alias("sigma"),
    ).localCheckpoint()
    for d in range(1, levels + 1):
        # bfs is a fresh checkpoint each level: counting it is a cache
        # read, and both per-level joins below carry (source × node)-
        # bounded state, so the broadcast decision uses real cardinality
        # (forward phase is exact bigint — partitioning-invariant)
        n_state = bfs.count()
        frontier = bfs.filter(F.col("dist") == d - 1).select(
            "s", F.col("node").alias("fnode"), "sigma"
        )
        cand = (
            _bcast_small(frontier, n_state)
            .join(edges, frontier["fnode"] == edges["src"])
            .groupBy("s", F.col("dst").alias("node"))
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
        )
        new = cand.join(
            _bcast_small(bfs.select("s", "node"), n_state),
            ["s", "node"],
            "left_anti",
        )
        bfs = bfs.unionByName(
            new.select("s", "node", F.lit(d).alias("dist"), "sigma")
        ).localCheckpoint()
    # re-count the FINISHED tree (cache read on the checkpoint): the
    # forward loop's last n_state predates its final additions
    n_state = bfs.count()
    acc = bfs.filter(F.col("dist") == levels).select(
        "s", "node", F.lit(0.0).alias("delta")
    )
    # backward phase (r13): vs / ws / acc are all (source × node)-
    # bounded slices of the finished BFS tree, whose exact cardinality
    # the forward loop just counted — broadcast them under the ceiling
    # so the edge list (the side that dominates bytes) is never
    # shuffled by the dependency joins; shuffle plan unchanged above it
    for d in range(levels - 1, -1, -1):
        vs = _bcast_small(
            bfs.filter(F.col("dist") == d).select(
                "s", F.col("node").alias("v"), F.col("sigma").alias("sv")
            ),
            n_state,
        )
        ws = bfs.filter(F.col("dist") == d + 1).select(
            F.col("s").alias("ws_s"),
            F.col("node").alias("wn"),
            F.col("sigma").alias("sw"),
        )
        contrib = (
            vs.join(edges, vs["v"] == edges["src"])
            .join(
                _bcast_small(ws, n_state),
                (F.col("ws_s") == F.col("s")) & (F.col("wn") == F.col("dst")),
            )
            .join(
                _bcast_small(
                    acc.select(
                        F.col("s").alias("a_s"),
                        F.col("node").alias("a_n"),
                        "delta",
                    ),
                    n_state,
                ),
                (F.col("a_s") == F.col("s")) & (F.col("a_n") == F.col("wn")),
            )
            .groupBy("s", F.col("v").alias("node"))
            .agg(
                F.sum(
                    (F.col("sv").cast("double") / F.col("sw").cast("double"))
                    * (F.lit(1.0) + F.col("delta"))
                ).alias("dl")
            )
        )
        lvl = bfs.filter(F.col("dist") == d).select("s", "node")
        acc = acc.unionByName(
            lvl.join(_bcast_small(contrib, n_state), ["s", "node"], "left").select(
                "s", "node", F.coalesce(F.col("dl"), F.lit(0.0)).alias("delta")
            )
        ).localCheckpoint()
    return (
        acc.filter(F.col("node") != F.col("s"))
        .groupBy("node")
        .agg(F.round(F.sum("delta"), 6).alias("bc"))
    )
