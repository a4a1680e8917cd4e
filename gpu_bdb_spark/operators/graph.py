"""Distributed graph analytics over pair/edge frames produced by the
dedup and reuse operators (connected components live in
operators/dedup.py; this module holds the iterative numeric algorithms).

Design notes shared by every operator here:
- Iterative DataFrame loops cut lineage once per round
  (operators/dedup._lineage_cut): localCheckpoint by default, reliable
  checkpoint when a `checkpoint_dir` is given — without the cut,
  ANALYSIS time grows superlinearly with rounds (measured in SCALE.md).
- Per-round numeric accumulation follows the cross-engine exactness
  discipline (gpu_bdb_spark/functions): per-edge contributions are
  quantized to a fixed decimal scale and summed as DECIMAL, so results
  are independent of partitioning, join order, and engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gpu_bdb_spark.functions import md5_long


def pagerank(
    pairs: DataFrame,
    id1: str = "id_1",
    id2: str = "id_2",
    iters: int = 6,
    damping: float = 0.85,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank over an UNDIRECTED pair list (each pair becomes two
    directed edges) — graph centrality for data curation: on a
    near-duplicate / passage-reuse graph the high-rank node of each
    component is its most-connected exemplar, a better "keeper" choice
    than min-id when cluster members differ in quality.

    Fixed `iters` rounds of the power iteration
    ``r'(v) = (1-d)/N + d * Σ_{u→v} r(u)/deg(u)``. The symmetrized edge
    list means every node has out-degree ≥ 1 (no dangling-mass term)
    and every node receives ≥ 1 contribution (no vanishing rows).

    Loop shape (round 10, guide §2.4 — measured 6.2 s → per-round
    overhead on a 256-edge sf0.1 graph): the out-degree is joined onto
    the edge list ONCE outside the loop and the combined
    (src, dst, deg) frame is repartitioned by src BEFORE the standing
    DISK_ONLY persist, so its hash partitioning is part of the cached
    plan. Each round is then ONE join (narrow ranks vs the
    pre-partitioned cache — only the node-sized ranks frame is ever
    re-shuffled; the old shape re-shuffled edges AND deg AND ranks
    every round, 3 exchanges of which 2 were corpus-sized at scale)
    plus the destination aggregate. Per-edge contributions are rounded
    to 1e-12 and summed as DECIMAL(28,12); the new rank is re-rounded
    to 1e-9 — every iteration's state is therefore exactly
    representable, making the whole fixed-point loop bit-reproducible
    across engines and partitionings (same recipe as
    operators/text.unigram_nll, proven by the DuckDB recursive-CTE
    oracle in queries/dedup_ops.py). rank/deg is computed identically
    (same IEEE divide, same round), so the fixed point is unchanged.

    Returns (id, rank) for every node of the pair graph.

    Standing caches and round snapshots are DISK_ONLY — corpus-sized
    iterative state must not hold the unified pool's protected storage
    fraction (round-14 kcore/CC probe lesson, SCALE.md).
    """
    from pyspark.storagelevel import StorageLevel

    from gpu_bdb_spark.operators.dedup import _lineage_cut

    e = pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst"))
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg")).persist(StorageLevel.DISK_ONLY)
    n = deg.count()
    # (src, dst, deg) partitioned by the per-round join key: rounds
    # reuse this cached layout; only ranks crosses the wire per round
    edges_deg = (
        edges.join(deg, "src")
        .repartition("src")
        .persist(StorageLevel.DISK_ONLY)
    )
    base = (1.0 - damping) / n
    ranks = deg.select(
        F.col("src").alias("id"),
        F.round(F.lit(1.0 / n), 9).alias("rank"))
    for _ in range(iters):
        contrib = (
            edges_deg.join(ranks, edges_deg["src"] == ranks["id"])
            .select(
                F.col("dst"),
                F.round(F.col("rank") / F.col("deg"), 12)
                .cast("decimal(28,12)").alias("c"))
        )
        ranks = _lineage_cut(
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("_s"))
            .select(
                F.col("dst").alias("id"),
                F.round(
                    F.lit(base)
                    + F.lit(damping) * F.col("_s").cast("double"),
                    9).alias("rank")),
            checkpoint_dir,
            local_storage_level=StorageLevel.DISK_ONLY,
        )
    edges_deg.unpersist()
    deg.unpersist()
    return ranks


def triangle_count(
    pairs: DataFrame,
    id1: str = "id_1",
    id2: str = "id_2",
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED simple edge list,
    via the degree-oriented node-iterator algorithm (the MapReduce
    classic from Suri & Vassilvitskii, WWW'11): orient every edge from
    its (degree, id)-smaller endpoint to the larger, enumerate wedges
    by self-joining oriented edges on their source, and close each
    wedge with a semi-ish join back to the oriented edge set.

    Orientation is what makes this survive skew at scale: a hub node of
    degree d would otherwise generate d² wedges; after orientation
    every node's out-degree is O(√m), so the wedge stage is bounded by
    Σ outdeg² = O(m^{3/2}) TOTAL, independent of hubs. All three
    stages are codegen'd hash joins/aggregates on long ids — no
    vectors, no interpreted lambdas, shuffles carry 2-3 longs.

    Input edges are canonicalized (undirected, dedup, self-loops
    dropped). Returns (node, n_triangles) for nodes in ≥1 triangle.
    """
    e = (
        pairs.select(
            F.least(F.col(id1), F.col(id2)).alias("a"),
            F.greatest(F.col(id1), F.col(id2)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient: src = (deg, id)-smaller endpoint
    ed = (
        e.join(deg.withColumnsRenamed({"node": "a", "deg": "deg_a"}), "a")
        .join(deg.withColumnsRenamed({"node": "b", "deg": "deg_b"}), "b")
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b")))
    # consumed three times (wedge left, wedge right, closure) — but do
    # NOT persist: the identical subtree dedups via ReusedExchange, and
    # an explicit cache measured SLOWER at sf0.1 (111.7 s → 134.6 s;
    # InMemoryRelation blocks the reuse and adds memory pressure)
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a"))
        .alias("deg_dst"),
    )
    # wedges at u: unordered out-neighbor pairs {v, w}, π-ordered so the
    # candidate closing edge is exactly v→w in the oriented DAG
    l = oriented.select(F.col("src"), F.col("dst").alias("v"),
                        F.col("deg_dst").alias("deg_v"))
    r = oriented.select(F.col("src"), F.col("dst").alias("w"),
                        F.col("deg_dst").alias("deg_w"))
    # keep only π-ordered (v, w): the closing edge, if present, is then
    # exactly v→w in the oriented DAG, and each wedge appears once
    wedges = (
        l.join(r, "src")
        .filter((F.col("deg_v") < F.col("deg_w"))
                | ((F.col("deg_v") == F.col("deg_w"))
                   & (F.col("v") < F.col("w"))))
        .select(F.col("src").alias("u"), "v", "w")
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    )
    nodes = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    return nodes.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles"))


def random_walks(
    pairs: DataFrame,
    id1: str = "id_1",
    id2: str = "id_2",
    walk_length: int = 4,
    seed: str = "w",
) -> DataFrame:
    """Deterministic uniform random walks over an undirected edge list —
    the walk-corpus generator of DeepWalk/node2vec-style graph-embedding
    pipelines (walks become 'sentences' for a skip-gram trainer).

    One walk starts at every node and takes `walk_length` steps. The
    'randomness' is a portable hash: at step t from node v the walk
    picks neighbor index md5(seed:walk_id:t:v) mod deg(v) — fully
    deterministic, partitioning-independent, and reproducible bit-for-
    bit in any engine with md5 (the repo's portable-RNG contract, same
    as weighted_sample / minhash_portable).

    Scale: adjacency is built once ((src, dst, idx, deg) via one sort-
    window per src); each step is ONE equi hash join of the frontier
    (2 longs + the path string) against adjacency on (src, idx) — the
    multiplicative blowup of naive path enumeration never appears, the
    frontier stays exactly |nodes| rows for all steps. walk_length is a
    fixed small constant, so the loop unrolls into a linear chain of
    joins (no lineage-cut needed at these depths).

    HUB-SAFETY (round-14 probe lesson, SCALE.md): the pick index must
    be IN the join key, not a post-join filter. The earlier shape
    joined frontier→adjacency on src alone and filtered idx == pick
    after — emitting deg(cur) rows per walker, quadratic the moment
    walkers pile onto a hub (the 20M-edge probe's ~1M-degree hub made
    step 2 a ~1e11-row join). Now each step first joins the frontier
    to a node→degree table (frontier-sized) to compute pick, then
    equi-joins adjacency on BOTH (src, idx) — the hash join emits
    exactly one row per walker regardless of degree skew. Picks are
    unchanged bit-for-bit (same md5 formula, same deg value).

    Returns (walk_id, path) where path is the comma-joined node chain.
    """
    e = (
        pairs.select(
            F.least(F.col(id1), F.col(id2)).alias("a"),
            F.greatest(F.col(id1), F.col(id2)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    adj = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    w = Window.partitionBy("src").orderBy("dst")
    wd = Window.partitionBy("src")
    # joined once per step, but NOT persisted: the identical adjacency
    # subtree dedups via ReusedExchange across all steps (8-step probe
    # at sf0.1: 17.0 s un-persisted vs 46.8 s persisted — the cache
    # disabled the reuse and paid 2.4M-row materialization instead)
    indexed = adj.select(
        "src", "dst",
        (F.row_number().over(w) - 1).cast("long").alias("idx"),
        F.count(F.lit(1)).over(wd).cast("long").alias("deg"),
    )
    frontier = (
        adj.select("src").distinct()
        .select(
            F.col("src").alias("walk_id"),
            F.col("src").alias("cur"),
            F.col("src").cast("string").alias("path"),
        )
    )
    # node→degree side table (node-cardinality, 2 longs): lets pick be
    # computed BEFORE the adjacency join so idx joins as an equi key
    degs = adj.groupBy(F.col("src").alias("_dn")).agg(
        F.count(F.lit(1)).cast("long").alias("_deg"))
    for t in range(1, int(walk_length) + 1):
        pick = F.pmod(
            md5_long(F.concat_ws(
                ":", F.lit(seed), F.col("walk_id").cast("string"),
                F.lit(str(t)), F.col("cur").cast("string"))),
            F.col("_deg"),
        )
        stepped = (
            frontier.join(degs, frontier["cur"] == F.col("_dn"))
            .select("walk_id", "cur", "path", pick.alias("_pick"))
        )
        frontier = (
            stepped.join(indexed,
                         (stepped["cur"] == indexed["src"])
                         & (stepped["_pick"] == indexed["idx"]))
            .select(
                F.col("walk_id"),
                F.col("dst").alias("cur"),
                F.concat_ws(",", F.col("path"),
                            F.col("dst").cast("string")).alias("path"),
            )
        )
    return frontier.select("walk_id", "path")


def kcore(
    pairs: DataFrame,
    k: int = 3,
    rounds: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded k-core peeling: `rounds` iterations of "drop every node
    with degree < k, restrict edges to survivors" over an undirected
    (id_1, id_2) pair frame. The contract is the R-ROUND PEEL — a
    deterministic, engine-replayable object (the DuckDB oracle unrolls
    the same R rounds); when a round removes nothing it has converged
    to the true k-core, which the fixture test asserts by running one
    extra round. Peeling removes ≥1 node per non-converged round and
    the core degeneracy of real graphs is small, so a fixed small R is
    the practical fixpoint (same bounded-rounds discipline as
    pagerank's 6 rounds).

    Each round is one degree aggregate + two semi joins on the node
    key, lineage-cut per round (iterative-loop lesson, SCALE.md).
    Returns (node, degree) of the surviving subgraph after R rounds.

    GROUP-STATE BOUND (round-14 probe lesson, SCALE.md): the per-round
    degree aggregate's cost is group state, not bytes — a 40M-edge adj
    materialized into few fat partitions put ~1M-group partial hash
    maps in each of 8 concurrent tasks and threw AGGREGATE_OUT_OF_
    MEMORY under a default 1g heap. Every lineage cut therefore goes
    through an explicit AQE-exempt `repartition(parts, "src")`, sized
    from the materialized edge count (~150k rows/partition, floor 8) —
    groups per task are bounded by the hash partitioning, and both the
    degree groupBy and the src-side keep join become exchange-free on
    the cut frame. Tiny driver-SF graphs stay at 8 partitions, so the
    certified plans gain no scheduling overhead.

    Round snapshots are DISK_ONLY local checkpoints: adj is
    corpus-sized, and MEMORY_AND_DISK blocks hold the protected half
    of the unified pool's storage fraction for the whole loop —
    measured at the 20M-edge probe, the round-0 SMJ sorts could not
    acquire a single page under a default 1g heap until the snapshots
    left memory (SCALE.md round 14).
    """
    from pyspark.storagelevel import StorageLevel

    from gpu_bdb_spark.operators.dedup import _lineage_cut

    adj = pairs.select(F.col("id_1").alias("src"),
                       F.col("id_2").alias("dst")).unionByName(
        pairs.select(F.col("id_2").alias("src"),
                     F.col("id_1").alias("dst")))
    adj = _lineage_cut(adj, checkpoint_dir,
                       local_storage_level=StorageLevel.DISK_ONLY)
    # one count on the (eagerly materialized) cut frame — cheap, and
    # the only way to size group state honestly (plan stats on a
    # LogicalRDD are unknown)
    parts = max(8, min(1024, adj.count() // 150_000))
    # not cut again: the exchange lives inside round 0's single
    # checkpoint action, where ReusedExchange dedups its consumers
    adj = adj.repartition(parts, "src")
    for _ in range(int(rounds)):
        keep = (
            adj.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= int(k))
            .select("src")
        )
        adj = _lineage_cut(
            adj.join(keep, "src")
            .join(keep.withColumnsRenamed({"src": "dst"}), "dst")
            .select("src", "dst")
            .repartition(parts, "src"),
            checkpoint_dir,
            local_storage_level=StorageLevel.DISK_ONLY)
    return adj.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"))
