"""Triangle counting over the co-purchase part graph — the second
graph primitive next to PageRank (operators/graph.py) and connected
components (operators/dedup.py). Triangle participation is the
standard cohesion/spam signal on web and citation graphs (clustering
coefficient numerator), and the canonical "quadratic unless you
orient it" distributed-graph workload.

Scale shape (Suri & Vassilvitskii 2011, "Counting triangles and the
curse of the last reducer"): every edge is ORIENTED from its lower
(degree, id) endpoint to the higher before the wedge join, so a
node's out-degree is bounded by ~√m regardless of its raw degree —
the hub that would otherwise produce deg² wedges in one task
produces at most O(√m) per neighbor. Both wedge-closing joins are
plain equi-joins on node ids; no node ever sees the full adjacency
of a hub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tmputil import read_artifact

_TRI_TOPK = 20
_TRI_PRIORITY = "1-URGENT"  # graph = parts co-ordered in urgent orders


_TRIANGLE_SQL = f"""
WITH li AS (
  SELECT l.l_orderkey AS ok, l.l_partkey AS pk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '{_TRI_PRIORITY}'
),
edges AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node
),
oe AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
tri AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM oe e1
  JOIN oe e2 ON e1.t = e2.s
  JOIN oe e3 ON e3.s = e1.s AND e3.t = e2.t
),
pernode AS (
  SELECT node, count(*) AS tri_cnt FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri) GROUP BY node
)
SELECT node, tri_cnt, clustering_coeff FROM (
  SELECT p.node AS node, p.tri_cnt AS tri_cnt,
         round(2.0 * p.tri_cnt / (deg.d * (deg.d - 1)), 6) AS clustering_coeff,
         row_number() OVER (ORDER BY p.tri_cnt DESC, p.node) AS rn
  FROM pernode p JOIN deg ON deg.node = p.node)
WHERE rn <= {_TRI_TOPK}
"""


@register("q_triangle_count", oracle=_TRIANGLE_SQL)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation and local clustering
    coefficient (2·tri / d·(d−1); top-20 by triangle count, id
    tiebreak) on the graph whose edges connect parts co-ordered in
    the same urgent order — degree-oriented wedge join, the
    MapReduce-classic triangle algorithm.

    Plan: the edge list comes from the STORED co-order graph
    (api.ensure_coorder_edges — the r8 uniform index-lifecycle
    contract; the self-join + distinct build runs once per session,
    not per query); orientation joins the ~|V| degree table twice
    (broadcast-size here, co-partitioned at scale); the wedge closure
    is two node-keyed equi-joins whose fan-out the (degree, id)
    orientation caps at O(√m) per node. Counting explodes each
    triangle to its 3 corners and hash-aggregates — partial agg
    collapses per partition before the exchange."""
    from ..api import ensure_coorder_edges

    # Lazy checkpoints truncate lineage at each reused subtree —
    # oe feeds all three wedge roles, tri feeds three corner
    # branches; without them Catalyst re-derives the build per
    # consumer (same discipline as graph.py's PageRank rounds).
    edges = read_artifact(spark, ensure_coorder_edges(spark, sf_dir))
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=False)  # feeds orientation (×2) + coeff
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    oe = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint(eager=False)
    )
    e1 = oe.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = oe.select(F.col("s").alias("b"), F.col("t").alias("c"))
    e3 = oe.select(F.col("s").alias("a"), F.col("t").alias("c"))
    # tri feeds three union branches (one per triangle corner);
    # checkpoint so the two wedge joins run once, not three times.
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).localCheckpoint(eager=False)
    pernode = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("tri_cnt"))
    )
    w = Window.orderBy(F.desc("tri_cnt"), F.asc("node"))
    return (
        pernode.join(deg, "node")
        .withColumn(
            "clustering_coeff",
            F.round(2.0 * F.col("tri_cnt") / (F.col("d") * (F.col("d") - 1)), 6),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TRI_TOPK)
        .select("node", "tri_cnt", "clustering_coeff")
    )


_LP_ROUNDS = 2
_LP_TOPK = 20


def _lp_sql() -> str:
    def rnd(prev: str, k: int) -> str:
        return f"""
votes{k} AS (
  SELECT e.dst AS node, p.lbl AS lbl, count(*) AS n
  FROM bi e JOIN {prev} p ON p.node = e.src
  GROUP BY e.dst, p.lbl
),
l{k} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY n DESC, lbl) AS rn
    FROM votes{k})
  WHERE rn = 1
)"""

    chain = ",".join(rnd(f"l{k-1}", k) for k in range(1, _LP_ROUNDS + 1))
    return f"""
WITH li AS (
  SELECT l.l_orderkey AS ok, l.l_partkey AS pk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '{_TRI_PRIORITY}'
),
edges AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
bi AS (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM bi),
{chain}
SELECT lbl AS community, count(*) AS size
FROM l{_LP_ROUNDS} GROUP BY lbl
ORDER BY size DESC, community LIMIT {_LP_TOPK}
"""


@register("q_communities_lp", oracle=_lp_sql())
def q_communities_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via SYNCHRONOUS label propagation
    (Raghavan et al. 2007), 2 unrolled rounds with a deterministic
    vote rule — each node takes the most frequent neighbor label,
    ties to the smallest label — so the result is engine- and
    partitioning-identical (async LPA's order-dependence is exactly
    what this variant removes). Top-20 communities by size. Completes
    the graph family: connectivity (components), centrality
    (PageRank), cohesion (triangles), and now mesoscale structure.

    Plan: per round, one edge⋈label equi-join, one (node, label)
    vote count (partial-aggregable), one per-node argmax window over
    vote rows (fan-in bounded by distinct neighbor labels).
    Iterations are a fixed budget like q_pagerank, and follow the
    same r8 discipline: the STORED co-order edge list
    (api.ensure_coorder_edges) behind ONE eager checkpoint of the
    bidirected form, all rounds in a single lazy plan (bounded
    lineage by construction; the former per-round checkpoints
    serialized the rounds), and the final top-k as orderBy().limit()
    — TakeOrderedAndProject, not a single-partition global window."""
    from ..api import ensure_coorder_edges

    edges = read_artifact(spark, ensure_coorder_edges(spark, sf_dir))
    bi = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint(eager=True)
    )
    lbl = (
        bi.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    for _ in range(_LP_ROUNDS):
        votes = (
            bi.join(lbl.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count("*").alias("n"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("n"), F.asc("lbl"))
        lbl = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return (
        lbl.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(_LP_TOPK)
    )


# ----------------------------------------------------------------- k-core
#
# Iterative peel: drop nodes of degree < K, recompute degrees over
# the surviving subgraph, repeat. The K-core is the maximal subgraph
# where every node keeps ≥ K neighbors — the spam/bot-farm filter
# (low-core URLs are link-graph periphery) and the dense-seed finder
# for community detection. Like PageRank the rounds are UNROLLED to
# a fixed budget in both engines, so the oracle is exact whether or
# not the peel has converged by the last round; at sf scales it
# converges (peeling is monotone — each round only removes, and a
# round that removes nothing is a fixpoint, so extra rounds are
# no-ops).

_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_sql() -> str:
    # r13 oracle-cost rewrite, results byte-identical: (1) MATERIALIZED
    # everywhere a CTE is referenced more than once — each round
    # references its predecessor three times, so DuckDB's default CTE
    # inlining re-evaluated the whole chain back through the distinct
    # edge self-join ~3^rounds times; (2) the per-round degree count
    # runs over the BIDIRECTED edge list with two node equi-joins (the
    # exact shape the Spark side executes) instead of the original
    # ``ON e.u = n.node OR e.v = n.node`` OR-join, which DuckDB can
    # only run as a nested loop over nodes×edges. A node's incident
    # count over bi (src = node, dst surviving) equals its undirected
    # degree (u < v, no self-loops), degree-0 nodes vanish from the
    # inner join exactly as the d >= K filter would drop them, and the
    # final report keeps its LEFT JOIN so core members whose round-4
    # degree recomputes to 0 still report core_deg 0. Measured 144 s
    # at sf0.1 inlined → 60 s materialized → ~1 s in this form.
    rounds = []
    prev = "n0"
    for k in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            f"""n{k} AS MATERIALIZED (
  SELECT b.src AS node
  FROM bi b
  JOIN {prev} p1 ON b.src = p1.node
  JOIN {prev} p2 ON b.dst = p2.node
  GROUP BY b.src
  HAVING count(*) >= {_KCORE_K}
)"""
        )
        prev = f"n{k}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH li AS (
  SELECT l.l_orderkey AS ok, l.l_partkey AS pk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '{_TRI_PRIORITY}'
),
edges AS MATERIALIZED (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
bi AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL
  SELECT v AS src, u AS dst FROM edges
),
n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM bi),
{rounds_sql},
deg AS (
  SELECT b.src AS node, count(*) AS d
  FROM bi b
  JOIN {prev} p1 ON b.src = p1.node
  JOIN {prev} p2 ON b.dst = p2.node
  GROUP BY b.src
)
SELECT n.node AS node, CAST(coalesce(d.d, 0) AS BIGINT) AS core_deg
FROM {prev} n
LEFT JOIN deg d ON d.node = n.node
"""


@register("q_kcore", oracle=_kcore_sql())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{K}-core of the co-order part graph (K=3, 4 unrolled peel
    rounds): surviving nodes with their within-core degree. See the
    module comment above _KCORE_K for semantics and why fixed
    unrolled rounds stay oracle-exact.

    Plan: the STORED co-order edge list (api.ensure_coorder_edges,
    shared with the rest of the graph family); each peel round
    is one semi-join of the edge list against the survivor set and
    one degree groupBy — shuffle ∝ surviving edges, strictly
    shrinking per round. The survivor set is re-checkpointed each
    round so the plan stays constant-size. NOTE the boundary with the
    r8 lazy-rounds discipline (q_pagerank/q_communities_lp): those
    fuse fixed rounds into one plan because each round's input SIZE
    is round-invariant; here every round's cost depends on how much
    the PREVIOUS round peeled, and the fused-lazy variant was
    measured 25× SLOWER at sf0.1 (106 s vs 4.2 s — four compounding
    semi-join rounds with no materialized stats mis-plan every join).
    Checkpoint-per-round is the correct shape for shrinking-set
    iteration."""
    from ..api import ensure_coorder_edges

    edges = read_artifact(spark, ensure_coorder_edges(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    surv = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def core_degrees(surv_df):
        keep = edges.join(
            surv_df.select(F.col("node").alias("u")), "u", "left_semi"
        ).join(surv_df.select(F.col("node").alias("v")), "v", "left_semi")
        ends = keep.select(F.col("u").alias("node")).unionAll(
            keep.select(F.col("v").alias("node"))
        )
        return (
            surv_df.join(
                ends.groupBy("node").agg(F.count("*").alias("d")),
                "node",
                "left",
            )
            .select("node", F.coalesce(F.col("d"), F.lit(0)).alias("d"))
        )

    for _ in range(_KCORE_ROUNDS):
        surv = (
            core_degrees(surv)
            .filter(F.col("d") >= _KCORE_K)
            .select("node")
            .localCheckpoint(eager=True)
        )
    return core_degrees(surv).select(
        "node", F.col("d").cast("long").alias("core_deg")
    )
