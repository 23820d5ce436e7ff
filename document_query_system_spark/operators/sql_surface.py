"""Modern SQL surface (Spark 4): recursive CTEs, pipe syntax,
LATERAL correlated subqueries, and collation-aware grouping.

These exist so a user of the reference who writes plain SQL against
the engine (the reference exposes ad-hoc queries through its API
layer; SURVEY §3) gets the full modern-SQL surface, not just the
DataFrame operators. Each is expressed as spark.sql() over registered
temp views — the plans compile to the same physical operators the
DataFrame twins pin elsewhere (the recursion is the one genuinely new
physical shape: an iterative UnionLoop with a per-step dedup).

Scale notes per query in the docstrings; none of these introduces a
new shuffle class beyond the operators already pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..sources.tables import load
from ..sources.tmputil import read_artifact

_BFS_MAX_DEPTH = 3
# Same derived graph as the triangle family — imported, not
# re-declared, so the oracle's inline edge derivation can never
# desynchronize from the stored edge index (r8 review).
from .graph_metrics import _TRI_PRIORITY  # noqa: E402


_BFS_BODY = f"""
bi AS (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges),
seed AS (SELECT min(src) AS s FROM bi),
bfs(node, depth) AS (
  SELECT s, 0 FROM seed
  UNION ALL
  SELECT DISTINCT e.dst, b.depth + 1
  FROM bfs b JOIN bi e ON e.src = b.node
  WHERE b.depth < {_BFS_MAX_DEPTH}
)
SELECT CAST(depth AS INT) AS depth, CAST(count(*) AS BIGINT) AS n_nodes
FROM (SELECT node, min(depth) AS depth FROM bfs GROUP BY node)
GROUP BY depth
"""


def _bfs_sql() -> str:
    """DuckDB oracle: derives the edge list inline (the oracle has no
    stored index), then the shared recursion body. Breadth-first
    reachability from the smallest node, depth-capped. The recursive
    step SELECT DISTINCTs the frontier, so each iteration carries
    ≤|nodes| rows (never path-counts — with UNION ALL alone a dense
    graph multiplies paths per hop); min(depth) per node then
    collapses revisits to the true BFS layer."""
    return f"""
WITH RECURSIVE li AS (
  SELECT l.l_orderkey AS ok, l.l_partkey AS pk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '{_TRI_PRIORITY}'
),
edges AS (
  SELECT DISTINCT a.pk AS u, b.pk AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),{_BFS_BODY}"""


def _views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


@register("q_recursive_bfs", oracle=_bfs_sql())
def q_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): depth-capped BFS over the co-order
    part graph — node counts per true BFS layer from the smallest
    node. The SQL-native sibling of the DataFrame-loop graph family
    (q_pagerank / q_dedup_clusters): same fixed-budget iteration
    discipline, expressed as WITH RECURSIVE and executed by Spark's
    recursion operator instead of a Python driver loop.

    Scale: the edge list comes from the STORED co-order graph
    (api.ensure_coorder_edges, shared with the whole graph family);
    the recursive step is one frontier⨯edges equi-join + a DISTINCT
    per iteration (frontier ≤ |nodes| — the DISTINCT is the
    path-explosion guard), iterations capped at _BFS_MAX_DEPTH (3) by
    the WHERE;
    the closing min/count aggregates are node-bound. The oracle runs
    the same recursion body on DuckDB with the edge derivation
    inlined (the oracle has no stored index)."""
    from ..api import ensure_coorder_edges

    read_artifact(spark, ensure_coorder_edges(spark, sf_dir)).createOrReplaceTempView(
        "edges"
    )
    return spark.sql(f"WITH RECURSIVE{_BFS_BODY}")


_PIPE_SQL = """
FROM lineitem
|> WHERE l_shipdate >= TIMESTAMP '1995-01-01'
|> AGGREGATE round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                           AS BIGINT)) / 100.0D, 2) AS revenue,
             count(*) AS n_items
   GROUP BY l_returnflag, l_linestatus
|> WHERE n_items > 10
|> SELECT l_returnflag, l_linestatus, revenue, n_items
"""


@register(
    "q_pipe_syntax",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                           AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
GROUP BY l_returnflag, l_linestatus
HAVING count(*) > 10
""",
)
def q_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, |> operators): the pricing-summary
    shape written as a linear pipeline — scan |> filter |> aggregate
    |> having |> project. Pure syntax: Catalyst compiles it to the
    identical filtered hash-aggregate plan as the GROUP BY form (the
    oracle), so the filter still pushes into the Parquet scan and the
    aggregate still partial-aggregates map-side. Revenue sums integer
    CENTS of the per-row product (the repo-wide float-determinism
    discipline, q_sql_udf's shape): a raw double sum is
    partition-order-dependent at a .005 rounding boundary."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_PIPE_SQL)


_LATERAL_SQL = """
SELECT r.r_name AS region, l.s_name AS supplier, l.acctbal
FROM region r,
LATERAL (
  SELECT s.s_name, round(s.s_acctbal, 2) AS acctbal
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  ORDER BY s.s_acctbal DESC, s.s_name LIMIT 2
) l
"""


@register("q_lateral_topk", oracle=_LATERAL_SQL)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: top-2 suppliers by account balance
    per region, written as the SQL-standard per-row subquery instead
    of the window-rank idiom (q_topk_per_group is the DataFrame twin).
    Spark decorrelates the LATERAL into a ranked join under the hood —
    per-group movement stays bounded by the LIMIT. Identical text runs
    on DuckDB as the oracle."""
    _views(spark, sf_dir, "region", "nation", "supplier")
    return spark.sql(_LATERAL_SQL)


@register(
    "q_sql_udf",
    oracle="""
SELECT l_returnflag,
       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) * 100, 0) AS BIGINT))
                  AS DOUBLE) / 100.0, 2) AS charged,
       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                           AS BIGINT)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) / 100.0, 4) AS avg_net
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar functions (Spark 4 CREATE FUNCTION ...
    RETURN <expr>): the engine-level form of a shared business-logic
    expression library — net_rev and charged are defined ONCE and
    reused across queries, and because the body is a SQL expression
    (not a Python UDF) Catalyst INLINES it at the call site: full
    codegen, pushdown through it, zero serialization boundary. The
    oracle inlines the same expressions by hand, proving the UDF
    call path is a pure macro expansion. Aggregation sums integer
    CENTS of the per-row UDF values (a raw double sum is
    partition-order-dependent at a rounding boundary — the repo-wide
    integer-unit discipline, graph.py:34)."""
    _views(spark, sf_dir, "lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_rev(price DOUBLE,"
        " disc DOUBLE) RETURNS DOUBLE RETURN price * (1 - disc)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged(price DOUBLE,"
        " disc DOUBLE, tax DOUBLE) RETURNS DOUBLE"
        " RETURN net_rev(price, disc) * (1 + tax)"
    )
    return spark.sql(
        """
SELECT l_returnflag,
       round(sum(CAST(round(charged(l_extendedprice, l_discount, l_tax)
                            * 100, 0) AS BIGINT)) / 100.0D, 2) AS charged,
       round(sum(CAST(round(net_rev(l_extendedprice, l_discount) * 100, 0)
                      AS BIGINT))
             / CAST(count(*) AS DOUBLE) / 100.0D, 4) AS avg_net
FROM lineitem
GROUP BY l_returnflag
"""
    )


_COLLATE_SQL = """
SELECT min(lang_mixed) AS rep, CAST(count(*) AS BIGINT) AS n
FROM (SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END
             AS lang_mixed
      FROM documents)
GROUP BY collate(lang_mixed, 'UTF8_LCASE')
"""


@register(
    "q_collation_group",
    oracle="""
SELECT min(lang_mixed) AS rep, CAST(count(*) AS BIGINT) AS n
FROM (SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END
             AS lang_mixed
      FROM documents)
GROUP BY lower(lang_mixed)
""",
)
def q_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4): case-mixed language tags
    grouped under UTF8_LCASE so 'EN'/'en' land in one group — the
    engine-level form of normalize-then-group (the oracle lowercases
    explicitly; for ASCII tags the two are semantically identical).
    The collated key itself is NOT output (its representative case is
    whichever value the engine surfaces); the deterministic min() of
    the raw strings is. Cost note: a collated GROUP BY plans as
    SortAggregate by engine design (collation-aware equality has no
    UnsafeRow binary-hash path in Spark 4) — documented as intrinsic
    in tests/test_plan_quality._SORT_AGG_INTRINSIC; at 100 TB prefer
    the explicit lower()-then-groupBy form (the oracle's shape) when
    the tags are known-ASCII, which keeps the hash-agg path."""
    _views(spark, sf_dir, "documents")
    return spark.sql(_COLLATE_SQL)
