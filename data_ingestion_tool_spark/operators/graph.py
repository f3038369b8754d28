"""Graph analytics over the order network (EXT tier): fixed-iteration
PageRank on the bipartite customer↔supplier graph induced by
``lineitem ⋈ orders``.

Scale design — the iterative-algorithm discipline this engine uses
everywhere (kmeans, connected components):

- **Bounded driver state.** The only scalars that ever reach the
  driver are the node count and the teleport constant derived from it;
  ranks stay distributed end-to-end.
- **One shuffle per iteration.** Each step is ``edges ⋈ ranks`` on the
  pre-partitioned source key followed by a partial+final hash-agg on
  the destination key. Edges (with out-degree pre-attached) are
  computed once and cached; the per-iteration plan never regrows.
- **Lineage truncation.** Each iteration's rank table is
  ``localCheckpoint``-ed so the DAG stays O(1) deep regardless of the
  iteration count — the same guard ``dedup_near_clusters`` uses.
- **Cross-engine exactness via fixed-point integers.** Ranks are
  BIGINT micromass units (Σ ≈ 10¹²); every step is integer multiply /
  integer divide / integer sum, so partition order cannot perturb a
  single bit and the DuckDB oracle (the same five iterations unrolled
  as CTEs) replays the result exactly — no float-summation wobble,
  which matters because PageRank compounds error across iterations.

At 100 TB the graph is edge-partitioned; the rank join is a standard
skewed-key hash join (AQE splits hubs) and the aggregation combines
map-side, so a celebrity node costs bandwidth proportional to its
degree, never a fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_tool_spark.operators.base import QuerySpec, cached
from data_ingestion_tool_spark.sources.tables import load_table

#: Fixed-point scale: total rank mass in integer units. 10**12 keeps
#: every intermediate (85 × mass) < 2**63 with ~12 significant digits.
_PR_SCALE = 10**12
_PR_ITERS = 5
#: Damping 0.85 as an exact integer ratio.
_PR_D_NUM, _PR_D_DEN = 85, 100


def _supply_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Symmetric (edges, out-degree, pairs) of the customer↔supplier
    graph.

    Node ids are BIGINT end-to-end (round 12, guide §2.3 narrower
    types): customer ``c`` is ``c``, supplier ``s`` is ``~s`` (bitwise
    NOT, i.e. ``-s-1``) — the sign bit replaces the old ``"c"||key`` /
    ``"s"||key`` STRING ids, so every setup distinct, the degree agg,
    the per-iteration src join, and the dst hash-agg hash/compare/
    shuffle 8-byte longs instead of variable-width strings. The
    encoding is one-to-one for every non-negative int64 key and does
    no arithmetic, so no key width can overflow it (``2c`` would, under
    ANSI, from 2^62 up). The public ``node`` column is decoded back to the identical string form
    in the final projection only (:func:`pagerank_supply_graph`), so
    results are byte-equal.

    The distinct pair table is returned so the caller can cache it
    (round 12): ``pairs`` feeds FOUR subtrees — both union directions
    of ``edges``, which itself feeds both ``deg`` and the caller's
    ``edges_deg`` — so uncached, the fact join + distinct ran up to 4×
    during graph setup (partial exchange reuse hid only some of it;
    the r12 lab measured setup alone at 4.6 s vs 6.7 s for the full
    5-iteration query once pairs was cached).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            # cast first: node ids are BIGINT end-to-end whatever
            # width a source loads the keys as
            F.col("o_custkey").cast("bigint").alias("cust"),
            F.bitwise_not(F.col("l_suppkey").cast("bigint")).alias("supp"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).unionAll(pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return edges, deg, pairs


def _pr_iteration(
    edges_deg: DataFrame, ranks: DataFrame, teleport: int
) -> DataFrame:
    """One lazy PageRank step (pre-checkpoint) — factored out so the
    per-iteration plan shape is plan-assertable in tests: one hash
    join on src, one dst hash-agg (partial+final), zero Python
    stages, zero cartesians.

    No join back onto the node set (round 12): the graph is symmetric
    BY CONSTRUCTION (``edges`` is the union of both directions of
    ``pairs``), so every node appears as a ``dst`` — set(dst) =
    set(src) = all nodes — and, by induction from ranks₀ = deg's node
    set, the src-join drops no edge and the dst-aggregate emits every
    node each step. The former per-iteration LEFT JOIN onto ``deg``
    existed only to re-attach zero-in-degree nodes, which a symmetric
    graph cannot have; removing it removes one join + one exchange
    from every iteration (r12 lab: 121 → 103 stages across the
    5-iteration query, identical output). A directed-graph variant
    would need the left join back — the proof is structural, so the
    guard is the unionAll above, not a data property.
    """
    return (
        edges_deg.join(ranks.withColumnRenamed("node", "src"), "src")
        .select("dst", F.expr("r div deg").alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("s"))
        .select(
            F.col("dst").alias("node"),
            (
                F.lit(teleport) + F.expr(f"({_PR_D_NUM} * s) div {_PR_D_DEN}")
            ).alias("r"),
        )
    )


def pagerank_supply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five damped PageRank iterations over the undirected (symmetric
    directed) customer↔supplier graph: an edge links customer ``c`` and
    supplier ``s`` when any of ``c``'s orders contains a line supplied
    by ``s``. Returns every node's final integer rank mass — the
    centrality ranking a buyer-graph health report starts from.

    Update rule (all BIGINT):
    ``r'(v) = (15·SCALE) div (100·n) + (85 · Σ_{u→v} r(u) div deg(u)) div 100``.
    """
    edges, deg, pairs = _supply_graph(spark, sf_dir)
    # pairs and both setup products are cached: deg feeds the node
    # count, the initial ranks, and the edges_deg build; edges_deg
    # feeds the per-iteration src join. deg.count() (needed for the
    # teleport constant anyway) materializes deg's cache up front;
    # edges_deg materializes on iteration 1 of the final eager
    # evaluation. Iterations themselves touch ONLY edges_deg since the
    # round-12 left-join removal (_pr_iteration).
    # repartition BY THE JOIN KEY before caching: the in-memory scan
    # then reports hash-partitioning on src, so each iteration's
    # edges⋈ranks shuffles only the (node-sized) rank table — the
    # (edge-sized) side never re-exchanges across the 5 iterations
    edges_deg = edges.join(deg, "src").repartition("src")
    with cached(pairs), cached(deg), cached(edges_deg):
        n_nodes = deg.count()
        teleport = (_PR_SCALE * (_PR_D_DEN - _PR_D_NUM)) // (_PR_D_DEN * n_nodes)
        ranks = deg.select(
            F.col("src").alias("node"), F.lit(_PR_SCALE // n_nodes).alias("r")
        )
        for it in range(_PR_ITERS):
            # Intermediate checkpoints stay lazy; the FINAL one is
            # eager so the whole 5-iteration chain evaluates here,
            # inside the persist window — edges_deg materializes on
            # iteration 1 and the other 4 read the cached blocks. The
            # returned DataFrame then reads its own checkpointed
            # blocks, independent of the (unpersisted) edge cache.
            ranks = _pr_iteration(edges_deg, ranks, teleport).localCheckpoint(
                eager=(it == _PR_ITERS - 1)
            )
        # decode the BIGINT node ids (c / ~s, see _supply_graph) back
        # to the public "c{key}"/"s{key}" strings by sign — one
        # projection over the final checkpointed table, identical
        # output to the all-string lineage. `~node` undoes the NOT
        # without arithmetic (`-node-1` would overflow at -2^63).
        node = F.col("node")
        return ranks.select(
            F.when(node >= 0, F.concat(F.lit("c"), node))
            .otherwise(F.concat(F.lit("s"), F.bitwise_not(node)))
            .alias("node"),
            "r",
        )


def _pagerank_sql() -> str:
    head = rf"""
WITH pairs AS (
  SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT cust AS src, supp AS dst FROM pairs
  UNION ALL
  SELECT supp AS src, cust AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
n AS (SELECT COUNT(*) AS n FROM deg),
tele AS (
  SELECT CAST(({_PR_SCALE} * ({_PR_D_DEN} - {_PR_D_NUM})) // ({_PR_D_DEN} * n)
              AS BIGINT) AS t,
         CAST({_PR_SCALE} // n AS BIGINT) AS r0
  FROM n
),
it0 AS (SELECT src AS node, r0 AS r FROM deg, tele)"""
    its = []
    for k in range(1, _PR_ITERS + 1):
        its.append(rf"""
it{k} AS (
  SELECT d.src AS node,
         CAST((SELECT t FROM tele)
              + ({_PR_D_NUM} * COALESCE(s.s, 0)) // {_PR_D_DEN} AS BIGINT) AS r
  FROM deg d LEFT JOIN (
    SELECT e.dst, CAST(SUM(p.r // ed.deg) AS BIGINT) AS s
    FROM edges e
    JOIN it{k - 1} p ON e.src = p.node
    JOIN deg ed ON e.src = ed.src
    GROUP BY e.dst
  ) s ON d.src = s.dst
)""")
    return (
        head
        + ","
        + ",".join(its)
        + f"\nSELECT node, r FROM it{_PR_ITERS}"
    )


PAGERANK_SUPPLY_GRAPH_SQL = _pagerank_sql()


SPECS: list[QuerySpec] = [
    QuerySpec(
        "pagerank_supply_graph",
        pagerank_supply_graph,
        PAGERANK_SUPPLY_GRAPH_SQL,
        "5-iteration fixed-point PageRank on the customer↔supplier graph",
        ("graph", "iterative"),
    ),
]
