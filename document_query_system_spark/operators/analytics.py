"""Analytical query battery: statistical aggregates, pivot,
percentiles, multi-join TPC-H-shaped analytics, and skew-aware
two-phase aggregation.

These pin the engine's relational depth beyond the reference's
surface (SURVEY.md §2.4 engine-parity scope): the shapes a user of
a general analytics engine runs daily, each with the join strategy /
shuffle discipline called out for the 100 TB tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load, local_rows


@register(
    "q_scd2_intervals",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), isl AS (
  SELECT user_id, event_type, ts,
         sum(CASE WHEN prev IS NULL OR prev <> event_type
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM seq
), runs AS (
  SELECT user_id, event_type, island,
         min(ts) AS valid_from,
         CAST(count(*) AS BIGINT) AS n_events
  FROM isl GROUP BY user_id, event_type, island
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from) AS valid_to,
       n_events
FROM runs
""",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 interval build from a change log (gaps-and-islands):
    collapse each user's consecutive same-event-type run into one
    validity row [valid_from, valid_to), valid_to = next run's start
    (NULL = current). The dimension-table maintenance shape every
    warehouse ingest needs and no single built-in provides.

    Shape: two windows + one aggregate, ALL partitioned by user_id —
    one shuffle total (the agg and second window reuse the first
    window's hash partitioning; AQE coalesces). Per-task window state
    is one row (lag) / one counter (running sum), so it streams at
    any scale; the second window runs over compressed runs, not raw
    events."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    isl = chg.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    runs = isl.groupBy("user_id", "event_type", "island").agg(
        F.min("ts").alias("valid_from"),
        F.count("*").cast("long").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return runs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


@register(
    "q_agg_stats",
    oracle="""
SELECT l_returnflag,
       round(avg(l_extendedprice), 4)           AS avg_price,
       round(stddev_samp(l_extendedprice), 4)   AS sd_price,
       round(var_samp(l_discount), 8)           AS var_disc,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate battery — stddev/variance/correlation/
    covariance, all single-pass partial-aggregable (each is a small
    moment sketch per group, so the shuffle carries O(groups) not
    O(rows))."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_discount"), 8).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "cov_qty_price"
        ),
    )


@register(
    "q_agg_percentiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
       round(min(l_extendedprice), 2)                 AS lo,
       round(max(l_extendedprice), 2)                 AS hi
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). The approximate sketch form
    (percentile_approx / KLL) is the 100 TB default — exact
    percentile buffers all group values; the exact form is used here
    because it is oracle-checkable and the driver tables fit."""
    li = load(spark, sf_dir, "lineitem")
    # One array-percentile buffer per group, not one per requested
    # quantile (the q_winsorize/q_quantile_bins device).
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, array(0.5, 0.95))").alias("ps"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("ps", 1), 4).alias("p50"),
            F.round(F.element_at("ps", 2), 4).alias("p95"),
            "lo",
            "hi",
        )
    )


@register("q_agg_percentiles_approx", oracle=None)  # sketch-specific values
def q_agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: percentile_approx (KLL-style
    sketch, bounded memory per group, mergeable partials) — the
    scale default documented next to the exact q_agg_percentiles.
    Rows-only: sketch outputs are engine-specific by construction."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95_approx"),
    )


@register(
    "q_pivot_lang_source",
    oracle="""
SELECT lang,
       CAST(count(*) FILTER (source = 'web')   AS BIGINT) AS web,
       CAST(count(*) FILTER (source = 'book')  AS BIGINT) AS book,
       CAST(count(*) FILTER (source = 'code')  AS BIGINT) AS code,
       CAST(count(*) FILTER (source = 'wiki')  AS BIGINT) AS wiki
FROM documents
GROUP BY lang
""",
)
def q_pivot_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): per-language counts by source. The pivot
    column list is explicit — with it, Spark needs ONE pass (no
    values-discovery job) and the plan is a plain hash aggregate with
    conditional counters."""
    d = load(spark, sf_dir, "documents")
    piv = (
        d.groupBy("lang")
        .pivot("source", ["web", "book", "code", "wiki"])
        .agg(F.count(F.lit(1)))
    )
    out = piv.select(
        "lang",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
          for c in ("web", "book", "code", "wiki")],
    )
    return out


@register(
    "q_shipping_priority",
    oracle="""
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter → fact join → agg →
    top-k. The customer side shrinks to one segment before joining
    (filter first, join second — the optimizer pushes it, but writing
    it that way keeps the intent visible); top-10 via
    TakeOrderedAndProject, no global sort."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1995-03-15"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    joined = c.join(o, c.c_custkey == o.o_custkey).join(
        li, o.o_orderkey == li.l_orderkey
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q_local_supplier_volume",
    oracle="""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1994-01-01'
  AND o_orderdate < TIMESTAMP '1995-01-01'
GROUP BY n_name
""",
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join. region/nation are broadcast
    (fixed tiny catalogs — BROADCAST_DIMS); the fact-side joins
    shuffle on their keys and AQE handles runtime sizing. The
    c_nationkey = s_nationkey condition closes the 'local supplier'
    cycle."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1994-01-01")
        & (F.col("o_orderdate") < "1995-01-01")
    ).select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = F.broadcast(load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey"))
    r = F.broadcast(
        load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    )
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@register(
    "q_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: explicit GROUPING SETS (disjoint axes + grand total in one
    pass — rollup/cube's general form; Spark expands to a single
    Expand + hash aggregate, one shuffle)."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("dqs_lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty
        FROM dqs_lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "q_exists_subquery",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
""",
)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — planned as a left-semi join on the
    correlation key (the decorrelation Catalyst does automatically;
    same plan as the explicit semi join in J6)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    o.createOrReplaceTempView("dqs_orders_ex")
    li.createOrReplaceTempView("dqs_lineitem_ex")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM dqs_orders_ex o
        WHERE EXISTS (SELECT 1 FROM dqs_lineitem_ex l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        """
    )


@register(
    "q_scalar_subquery",
    oracle="""
SELECT p_partkey, p_retailprice,
       round(p_retailprice - (SELECT avg(p_retailprice) FROM part), 4) AS dev
FROM part
WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
""",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (uncorrelated) — the one-row aggregate is
    computed once and broadcast into the filter/projection, not
    re-evaluated per row."""
    p = load(spark, sf_dir, "part")
    p.createOrReplaceTempView("dqs_part_sc")
    return spark.sql(
        """
        SELECT p_partkey, p_retailprice,
               round(p_retailprice - (SELECT avg(p_retailprice) FROM dqs_part_sc), 4) AS dev
        FROM dqs_part_sc
        WHERE p_retailprice > (SELECT avg(p_retailprice) FROM dqs_part_sc)
        """
    )


@register(
    "q_range_frame",
    oracle="""
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
                              RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                                        AND CURRENT ROW), 2) AS rolling_1h
FROM events
""",
)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: event-time RANGE frame — per-user rolling 1-hour sum (a
    value-based frame, unlike the ROWS frame of q_running_sum; ties on
    ts aggregate together, which is why no tiebreak column is needed
    for determinism)."""
    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("dqs_events_rf")
    return spark.sql(
        """
        SELECT event_id, user_id,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
                                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                                                AND CURRENT ROW), 2) AS rolling_1h
        FROM dqs_events_rf
        """
    )


_SALT = 8


@register(
    "q_skew_salted_agg",
    oracle="""
SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed group keys: phase 1
    aggregates (key, salt) — splitting a hot key across SALT reducers
    — phase 2 merges salts per key. Result is identical to the direct
    groupBy (which the oracle runs); the payoff is at scale, when one
    key holds half the table and would otherwise pin a single reducer.
    (For plain sum/count Spark's map-side partial agg already defuses
    skew; the salted form is the general pattern for when it can't —
    e.g. exact distinct or collect-style buffers per key.)"""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    salted = li.withColumn(
        "salt", (F.crc32(F.col("l_quantity").cast("string")) % _SALT).cast("int")
    )
    phase1 = salted.groupBy("l_returnflag", "salt").agg(
        F.sum("l_quantity").alias("s"), F.count("*").alias("c")
    )
    return phase1.groupBy("l_returnflag").agg(
        F.round(F.sum("s"), 2).alias("sum_qty"),
        F.sum("c").alias("n"),
    )


@register(
    "q_skew_salted_join",
    oracle="""
SELECT l.l_returnflag, d.label,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l.l_quantity), 2) AS sum_qty
FROM lineitem l
JOIN (VALUES ('A', 'returned'), ('N', 'in_flight'), ('R', 'refused'))
     d(flag, label)
  ON l.l_returnflag = d.flag
GROUP BY l.l_returnflag, d.label
""",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted replicated join for skewed join keys — the join-side
    companion of q_skew_salted_agg: l_returnflag has 3 values over
    the whole fact table, so a shuffle join on it pins each value's
    entire volume on ONE reducer. The salt spreads each key across
    SALT reducers by replicating the dimension side SALT× (tiny side
    pays the copy) and salting the fact side deterministically; the
    join keys on (flag, salt) and the result is identical to the
    plain join, which the oracle runs.

    The join is pinned SHUFFLE_HASH to model the real case (dim too
    big to broadcast — when it isn't, broadcasting IS the fix and no
    salt is needed; AQE's skew-join split handles sort-merge spills
    the same way, this is the explicit form for when neither
    applies)."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    dim = local_rows(
        spark,
        [("A", "returned"), ("N", "in_flight"), ("R", "refused")],
        "flag STRING, label STRING",
    )
    dim_salted = dim.select(
        "flag",
        "label",
        F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1))).alias("salt"),
    )
    fact_salted = li.withColumn(
        "salt", (F.crc32(F.col("l_quantity").cast("string")) % _SALT).cast("int")
    )
    joined = fact_salted.join(
        dim_salted.hint("SHUFFLE_HASH"),
        (F.col("l_returnflag") == F.col("flag"))
        & (fact_salted.salt == dim_salted.salt),
    )
    return joined.groupBy("l_returnflag", "label").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "q_funnel_conversion",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users,
       0.0 AS avg_sec_from_prev
FROM v
UNION ALL
SELECT '2_click' AS stage, CAST(count(*) AS BIGINT) AS n_users,
       round(avg(epoch(c.t2 - v.t1)), 2) AS avg_sec_from_prev
FROM c JOIN v USING (user_id)
UNION ALL
SELECT '3_purchase' AS stage, CAST(count(*) AS BIGINT) AS n_users,
       round(avg(epoch(p.t3 - c.t2)), 2) AS avg_sec_from_prev
FROM p JOIN c USING (user_id)
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: users whose
    first 'view' is followed (at or after it) by a 'click', followed
    by a 'purchase' — per stage, how many users arrive and the mean
    seconds from the previous stage. Sequential-pattern analytics
    without a UDF: each stage is a filtered min-aggregate constrained
    by the previous stage's timestamp.

    Scale shape: every aggregate and join keys on user_id — one
    logical partitioning carried through the whole funnel (the
    exchanges reuse it), no window over the full event table, and
    stage N's input shrinks monotonically (only stage-N-1 converters
    join back). Funnel depth adds joins linearly, never fan-out.
    Stage tables materialize eagerly (per-user, tiny): v feeds both c
    and the report, c feeds both p and the report — without the
    checkpoints Catalyst re-derives each stage per consumer and the
    single static plan carries every re-derivation's shuffles."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=True)
    )
    # stages CARRY the prior stage's timestamp (t1 rides through c,
    # t2 through p) so the report reads each stage table alone — no
    # join back to the previous stage at report time.
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
        .localCheckpoint(eager=True)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t2"), "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id", "t2")
        .agg(F.min("ts").alias("t3"))
        .localCheckpoint(eager=True)
    )
    s1 = v.agg(F.count("*").cast("long").alias("n_users")).select(
        F.lit("1_view").alias("stage"),
        "n_users",
        F.lit(0.0).alias("avg_sec_from_prev"),
    )
    s2 = (
        c.agg(
            F.count("*").cast("long").alias("n_users"),
            F.round(
                F.avg(
                    F.col("t2").cast("double") - F.col("t1").cast("double")
                ),
                2,
            ).alias("avg_sec_from_prev"),
        )
        .select(F.lit("2_click").alias("stage"), "n_users", "avg_sec_from_prev")
    )
    s3 = (
        p.agg(
            F.count("*").cast("long").alias("n_users"),
            F.round(
                F.avg(
                    F.col("t3").cast("double") - F.col("t2").cast("double")
                ),
                2,
            ).alias("avg_sec_from_prev"),
        )
        .select(
            F.lit("3_purchase").alias("stage"), "n_users", "avg_sec_from_prev"
        )
    )
    return s1.unionByName(s2).unionByName(s3)


@register(
    "q_zscore_outliers",
    oracle="""
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round(e.value, 2) AS value,
       round((e.value - s.mu) / s.sigma, 4) AS zscore
FROM events e JOIN stats s USING (event_type)
WHERE abs((e.value - s.mu) / s.sigma) > 3.0
""",
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier detection — the monitoring cut every
    ingest pipeline runs on numeric streams: events whose value is
    more than 3 sample standard deviations from their type's mean.

    Shape: one per-type aggregate (a handful of rows → broadcast back
    over the scan), then a scan-local filter — two passes over the
    table, no window, no per-row state. At 100 TB the stats side is
    fixed-cardinality; production swaps the exact pass for streaming
    moment sketches without changing the probe side."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    stats = F.broadcast(
        ev.groupBy("event_type").agg(
            F.avg("value").alias("mu"),
            F.stddev_samp("value").alias("sigma"),
        )
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(stats, "event_type")
        .filter(F.abs(z) > 3.0)
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


@register(
    "q_data_quality_checks",
    oracle="""
SELECT 'lineitem_orderkey_not_null' AS check_name,
       CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT) AS n_violations
FROM lineitem
UNION ALL
SELECT 'lineitem_quantity_positive' AS check_name,
       CAST(count(*) FILTER (WHERE l_quantity <= 0) AS BIGINT) AS n_violations
FROM lineitem
UNION ALL
SELECT 'orders_orderkey_unique' AS check_name,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'lineitem_orderkey_in_orders' AS check_name,
       CAST(count(*) AS BIGINT) AS n_violations
FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'events_value_in_range' AS check_name,
       CAST(count(*) FILTER (WHERE value < 0 OR value > 10000) AS BIGINT)
         AS n_violations
FROM events
""",
)
def q_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (the dbt-test / Deequ shape):
    not-null, range, uniqueness, and referential-integrity checks
    each reduced to a violation COUNT, unioned into one small report.

    Shapes by check class: null/range checks are conditional
    aggregates fused into the scan (one pass, no shuffle); uniqueness
    is count−count(distinct) (one exchange); referential integrity is
    a left-anti join against the parent keys — the same anti-join
    S9/delete uses, so orphan detection scales exactly like the
    engine's delete path. A 0-violation report over the driver tables
    is the assertion; the checks themselves can fail loudly on real
    ingest. Each check's 1-row result materializes eagerly (a check
    suite RUNS its checks then assembles the report — the
    alternative is one static plan carrying five independent
    reductions, re-reading every table inside one oversized job)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = load(spark, sf_dir, "orders").select("o_orderkey")
    ev = load(spark, sf_dir, "events").select("value")

    def report(name: str, col) -> tuple:
        # (check_name, n_violations) Column pair, splatted into .agg()
        return (
            F.lit(name).alias("check_name"),
            col.cast("long").alias("n_violations"),
        )

    c1 = li.agg(
        *report(
            "lineitem_orderkey_not_null",
            F.count(F.when(F.col("l_orderkey").isNull(), 1)),
        )
    )
    c2 = li.agg(
        *report(
            "lineitem_quantity_positive",
            F.count(F.when(F.col("l_quantity") <= 0, 1)),
        )
    )
    c3 = od.agg(
        *report(
            "orders_orderkey_unique",
            F.count("*") - F.countDistinct("o_orderkey"),
        )
    )
    c4 = li.join(od, li.l_orderkey == od.o_orderkey, "left_anti").agg(
        *report("lineitem_orderkey_in_orders", F.count("*"))
    )
    c5 = ev.agg(
        *report(
            "events_value_in_range",
            F.count(F.when((F.col("value") < 0) | (F.col("value") > 10000), 1)),
        )
    )
    checks = [df.localCheckpoint(eager=True) for df in (c1, c2, c3, c4, c5)]
    out = checks[0]
    for chk in checks[1:]:
        out = out.unionByName(chk)
    return out


@register(
    "q_user_trend",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(regr_slope(value, epoch(ts)) * 86400, 4) AS slope_per_day,
       round(corr(value, epoch(ts)), 4) AS ts_corr
FROM events
GROUP BY user_id
HAVING count(*) >= 2
""",
)
def q_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value trend via the SQL regression aggregates: OLS
    slope of value over event time (scaled to per-day) and the
    time-value correlation — drift detection as ONE hash aggregate,
    no window, no per-group UDF (the applyInPandas formulation this
    replaces ships every group's rows through Python; regr_slope is
    a streaming moment computation inside whole-stage codegen)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("double").alias("tsec"), "value"
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.regr_slope("value", "tsec") * 86400, 4).alias(
                "slope_per_day"
            ),
            F.round(F.corr("value", "tsec"), 4).alias("ts_corr"),
        )
        .filter(F.col("n_events") >= 2)
    )


@register(
    "q_event_transitions",
    oracle="""
WITH t AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
c AS (
  SELECT prev, event_type AS next, count(*) AS n
  FROM t WHERE prev IS NOT NULL GROUP BY prev, event_type
),
tot AS (SELECT prev, sum(n) AS n_from FROM c GROUP BY prev)
SELECT c.prev, c.next, CAST(c.n AS BIGINT) AS n,
       round(c.n / CAST(t.n_from AS DOUBLE), 6) AS p
FROM c JOIN tot t USING (prev)
""",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix: for each user's
    time-ordered stream, count (previous type → next type) pairs and
    normalize per source type — the Markov-chain view of user paths
    (drop-off analysis, anomalous-sequence detection).

    Shape: one window (lag over the per-user ordering — the only
    full-table pass), then two fixed-cardinality aggregates (|types|²
    rows at most); the normalizing totals join is broadcast-size. At
    100 TB the window partitions by user and never crosses users, so
    state per task is one row."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    # lazily checkpointed: c feeds both the totals aggregate and the
    # final join — without it Catalyst re-derives the window+count
    # subtree per consumer and the static plan doubles its shuffles.
    c = (
        t.groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = F.broadcast(c.groupBy("prev").agg(F.sum("n").alias("n_from")))
    return c.join(tot, "prev").select(
        "prev",
        "next",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.col("n_from").cast("double"), 6).alias("p"),
    )


_MAD_K = 1.4826  # consistency constant: MAD × 1.4826 ≈ σ for normal data


@register(
    "q_mad_outliers",
    oracle=f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type AS event_type, any_value(m.med) AS med,
         quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m ON e.event_type = m.event_type
  GROUP BY e.event_type
)
SELECT d.event_type AS event_type,
       round(d.med, 6) AS med,
       round(d.mad, 6) AS mad,
       count(CASE WHEN round(abs(e.value - d.med), 6)
                       > round(3 * {_MAD_K} * d.mad, 6) THEN 1 END) AS n_outliers
FROM events e JOIN dev d ON e.event_type = d.event_type
GROUP BY d.event_type, d.med, d.mad
""",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    monitoring cut q_zscore_outliers' mean/stddev version breaks on:
    one extreme value inflates σ and hides the rest, while the
    median/MAD pair is 50%-breakdown robust. Flags events where
    |value − median| > 3·1.4826·MAD per event type.

    Shape: two exact-median passes over the table (medians buffer
    per-group values — the 100 TB swap is percentile_approx, same
    note as q_agg_percentiles), then a broadcast of the
    fixed-cardinality stats back over the scan for a one-pass
    conditional count. Both boundary comparands are rounded to 6
    inside BOTH engines, so the outlier decision at the threshold is
    identical."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = F.broadcast(
        ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    )
    dev = F.broadcast(
        ev.join(med, "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("med").alias("med"),
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        )
    )
    return (
        ev.join(dev, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(
                F.when(
                    F.round(F.abs(F.col("value") - F.col("med")), 6)
                    > F.round(3 * _MAD_K * F.col("mad"), 6),
                    1,
                )
            ).alias("n_outliers")
        )
        .select(
            "event_type",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
    )


@register(
    "q_chi2_independence",
    oracle="""
WITH obs AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source),
rm AS (SELECT lang, sum(o) AS r FROM obs GROUP BY lang),
cm AS (SELECT source, sum(o) AS c FROM obs GROUP BY source),
n AS (SELECT sum(o) AS n FROM obs),
cells AS (
  SELECT rm.lang, cm.source, rm.r * cm.c / n.n AS e, coalesce(obs.o, 0) AS o
  FROM rm CROSS JOIN cm CROSS JOIN n
  LEFT JOIN obs ON obs.lang = rm.lang AND obs.source = cm.source
)
SELECT round(sum((o - e) * (o - e) / e), 4) AS chi2,
       CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS BIGINT) AS dof,
       CAST(sum(o) AS BIGINT) AS n
FROM cells
""",
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test on the lang × source
    contingency table — the corpus-balance diagnostic that tells you
    whether language mix drifts by ingestion source (a skewed crawl
    shard shows up here before it shows up in model evals). Emits the
    statistic, degrees of freedom, and N; the caller compares against
    the chi-square critical value.

    Shape: ONE corpus-sized aggregate (the contingency cells); the
    margins, expected counts, and statistic all run on R×C rows.
    Zero-observed cells are materialized from the margin cross join
    (they still contribute their expected mass), so the statistic is
    exact, not observed-cells-only."""
    docs = load(spark, sf_dir, "documents").select("lang", "source")
    obs = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    obs = obs.localCheckpoint(eager=False)  # feeds margins + cells
    # Margins are R- and C-row tables derived from the cached cells;
    # checkpointing them keeps their (tiny) aggregate exchanges out
    # of the final statistic's plan — the q_data_quality_checks
    # discipline of materializing sub-results a report assembles.
    rm = obs.groupBy("lang").agg(F.sum("o").alias("r")).localCheckpoint(eager=False)
    cm = obs.groupBy("source").agg(F.sum("o").alias("c")).localCheckpoint(eager=False)
    n = obs.agg(F.sum("o").alias("n")).localCheckpoint(eager=False)
    cells = (
        rm.crossJoin(F.broadcast(cm))
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(obs), ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            (F.col("r") * F.col("c") / F.col("n")).alias("e"),
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        )
    )
    # cells is R×C rows — single-partition it so the final aggregate
    # (including the countDistinct expand) needs no exchange.
    return cells.coalesce(1).agg(
        F.round(F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e")), 4).alias("chi2"),
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        ).cast("long").alias("dof"),
        F.sum("o").cast("long").alias("n"),
    )


_BIN_PS = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]


@register(
    "q_quantile_bins",
    oracle="""
WITH b AS (
  SELECT list_transform(
           quantile_cont(l_extendedprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
           x -> round(x, 4)) AS bs
  FROM lineitem
),
binned AS (
  SELECT 1 + len(list_filter(b.bs, x -> l_extendedprice > x)) AS bin,
         l_extendedprice AS v
  FROM lineitem CROSS JOIN b
)
SELECT CAST(bin AS INT) AS bin, count(*) AS n,
       round(min(v), 2) AS lo, round(max(v), 2) AS hi,
       round(avg(v), 4) AS avg_v
FROM binned GROUP BY bin
""",
)
def q_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile binning of a numeric feature (the quantile
    bucketing step of feature engineering / monotone binning): 9
    interpolated decile boundaries, then each row assigned scan-locally.
    Boundaries are rounded to 4 in BOTH engines before comparison so
    bin membership at a boundary is engine-identical.

    Shape: one exact-percentile aggregate produces a 1-row,
    9-element boundary array that broadcast-cross-joins back over
    the scan — binning is then a pure column expression (count of
    boundaries below the value), and the per-bin rollup is a 10-group
    hash aggregate. The 100 TB swap is percentile_approx for the
    boundary pass; nothing else changes."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    ps = ", ".join(str(p) for p in _BIN_PS)
    b = li.agg(
        F.transform(
            F.expr(f"percentile(v, array({ps}))"), lambda x: F.round(x, 4)
        ).alias("bs")
    )
    binned = li.crossJoin(F.broadcast(b)).select(
        (
            1 + F.size(F.filter(F.col("bs"), lambda x: F.col("v") > x))
        ).cast("int").alias("bin"),
        "v",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.min("v"), 2).alias("lo"),
        F.round(F.max("v"), 2).alias("hi"),
        F.round(F.avg("v"), 4).alias("avg_v"),
    )


_BIN_APPROX_ACC = 10000  # percentile_approx rank error <= n/accuracy


@register("q_quantile_bins_approx", oracle=None)  # sketch boundaries
def q_quantile_bins_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path of q_quantile_bins, actually executed: the
    decile boundary pass uses percentile_approx (KLL-style sketch,
    bounded memory, mergeable partials — exact ``percentile`` buffers
    every value) and everything downstream is byte-identical to the
    exact twin: broadcast 9-element boundary array, scan-local bin
    expression, 10-group rollup. Rows-only by construction (sketch
    boundaries are engine-specific); the local suite brackets every
    cumulative bin count by the sketch's rank-error guarantee
    (error <= n/accuracy per boundary) against DuckDB's exact CDF."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    ps = ", ".join(str(p) for p in _BIN_PS)
    b = li.agg(
        F.transform(
            F.expr(f"percentile_approx(v, array({ps}), {_BIN_APPROX_ACC})"),
            lambda x: F.round(x, 4),
        ).alias("bs")
    )
    binned = li.crossJoin(F.broadcast(b)).select(
        (
            1 + F.size(F.filter(F.col("bs"), lambda x: F.col("v") > x))
        ).cast("int").alias("bin"),
        "v",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.min("v"), 2).alias("lo"),
        F.round(F.max("v"), 2).alias("hi"),
        F.round(F.avg("v"), 4).alias("avg_v"),
    )


@register(
    "q_psi_drift",
    oracle="""
WITH ref AS (SELECT n_chars AS v FROM documents WHERE lang = 'en'),
cand AS (SELECT n_chars AS v FROM documents WHERE lang <> 'en'),
b AS (
  SELECT list_transform(quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                        x -> round(x, 4)) AS bs
  FROM ref
),
rb AS (SELECT 1 + len(list_filter(b.bs, x -> v > x)) AS bin FROM ref CROSS JOIN b),
cb AS (SELECT 1 + len(list_filter(b.bs, x -> v > x)) AS bin FROM cand CROSS JOIN b),
bins AS (SELECT unnest(generate_series(1, 10)) AS bin),
p AS (SELECT bins.bin AS bin,
             (coalesce(r.n, 0) + 0.5) / ((SELECT count(*) FROM ref) + 5.0) AS p,
             (coalesce(c.n, 0) + 0.5) / ((SELECT count(*) FROM cand) + 5.0) AS q
      FROM bins
      LEFT JOIN (SELECT bin, count(*) AS n FROM rb GROUP BY bin) r ON r.bin = bins.bin
      LEFT JOIN (SELECT bin, count(*) AS n FROM cb GROUP BY bin) c ON c.bin = bins.bin)
SELECT round(sum((q - p) * ln(q / p)), 6) AS psi FROM p
""",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the English and
    non-English document-length distributions — the drift metric
    feature stores alarm on (<0.1 stable, >0.25 drifted). Bins are
    the REFERENCE deciles (standard practice); counts get +0.5
    smoothing in both engines so empty bins cannot blow up the log.

    Shape: one exact-percentile pass over the reference builds a
    9-element boundary array (the q_quantile_bins pattern) broadcast
    back over both scans; bin counting is scan-local and the PSI sum
    runs on 10 rows. The 100 TB swap is percentile_approx for the
    boundary pass."""
    docs = load(spark, sf_dir, "documents").select("lang", "n_chars")
    ref = docs.filter(F.col("lang") == "en").select(F.col("n_chars").alias("v"))
    cand = docs.filter(F.col("lang") != "en").select(F.col("n_chars").alias("v"))
    ps = ", ".join(str(p) for p in _BIN_PS)
    b = ref.agg(
        F.transform(
            F.expr(f"percentile(v, array({ps}))"), lambda x: F.round(x, 4)
        ).alias("bs")
    ).localCheckpoint(eager=False)

    def binned(df):
        return df.crossJoin(F.broadcast(b)).select(
            (1 + F.size(F.filter(F.col("bs"), lambda x: F.col("v") > x)))
            .cast("int")
            .alias("bin")
        )

    # Tiny intermediates (bin histograms, sample sizes) are
    # checkpointed so the final 10-row statistic carries no
    # corpus-sized subtrees (q_chi2_independence discipline).
    rb = binned(ref).groupBy("bin").agg(F.count("*").alias("rn")).localCheckpoint(eager=False)
    cb = binned(cand).groupBy("bin").agg(F.count("*").alias("cn")).localCheckpoint(eager=False)
    nr = ref.count()
    nc = cand.count()
    bins = spark.range(1, 11).select(F.col("id").cast("int").alias("bin"))
    p = (
        bins.join(F.broadcast(rb), "bin", "left")
        .join(F.broadcast(cb), "bin", "left")
        .select(
            ((F.coalesce(F.col("rn"), F.lit(0)) + 0.5) / F.lit(nr + 5.0)).alias("p"),
            ((F.coalesce(F.col("cn"), F.lit(0)) + 0.5) / F.lit(nc + 5.0)).alias("q"),
        )
    )
    return p.coalesce(1).agg(
        F.round(F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))), 6).alias("psi")
    )


@register(
    "q_ks_drift",
    oracle="""
WITH a AS (SELECT n_chars AS v FROM documents WHERE lang = 'en'),
bq AS (SELECT n_chars AS v FROM documents WHERE lang <> 'en'),
u AS (SELECT v, 1 AS ia, 0 AS ib FROM a UNION ALL SELECT v, 0, 1 FROM bq),
g AS (SELECT v, sum(ia) AS na, sum(ib) AS nb FROM u GROUP BY v),
c AS (SELECT v,
             sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               / (SELECT count(*) FROM a)::DOUBLE AS fa,
             sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               / (SELECT count(*) FROM bq)::DOUBLE AS fb
      FROM g)
SELECT round(max(round(abs(fa - fb), 9)), 6) AS ks_d,
       (SELECT count(*) FROM a) AS n_ref,
       (SELECT count(*) FROM bq) AS n_cand
FROM c
""",
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic (max CDF gap) between
    the English and non-English document-length distributions — the
    binning-free companion to q_psi_drift. CDFs cumulate over
    DISTINCT values (per-value counts first), so ties cannot make the
    running sums order-dependent across engines; the max runs over
    round-9 gaps and rounds to 6.

    Shape: one per-value count aggregate, then an ordered prefix-sum
    window over the ~|distinct values| table and a scalar max. The
    global window sorts values, not raw rows — at 100 TB the
    distinct-value table is the small one (and a binned ECDF on the
    q_quantile_bins boundaries is the sketch swap-in)."""
    docs = load(spark, sf_dir, "documents").select("lang", "n_chars")
    a = docs.filter(F.col("lang") == "en").select(F.col("n_chars").alias("v"))
    b = docs.filter(F.col("lang") != "en").select(F.col("n_chars").alias("v"))
    na = a.count()
    nb = b.count()
    u = a.select("v", F.lit(1).alias("ia"), F.lit(0).alias("ib")).unionAll(
        b.select("v", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    )
    g = u.groupBy("v").agg(F.sum("ia").alias("cna"), F.sum("ib").alias("cnb"))
    from pyspark.sql import Window

    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        (F.sum("cna").over(w) / F.lit(float(na))).alias("fa"),
        (F.sum("cnb").over(w) / F.lit(float(nb))).alias("fb"),
    )
    return c.agg(
        F.round(F.max(F.round(F.abs(F.col("fa") - F.col("fb")), 9)), 6).alias("ks_d"),
        F.lit(na).cast("long").alias("n_ref"),
        F.lit(nb).cast("long").alias("n_cand"),
    )


@register(
    "q_benford_digits",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM lineitem WHERE l_extendedprice >= 1
),
n AS (SELECT count(*) AS n FROM d)
SELECT digit, count(*) AS observed,
       round(count(*) / any_value(n.n)::DOUBLE, 6) AS obs_frac,
       round(log10(1 + 1.0 / digit), 6) AS benford_frac
FROM d CROSS JOIN n
GROUP BY digit
""",
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of the price column — the
    fabricated-data forensic: natural multi-scale quantities follow
    P(d) = log10(1+1/d); synthetic or tampered columns don't (TPC-H
    prices are uniform-ish, so they visibly DON'T — which is the
    point of printing observed next to expected). First digits come
    from integer string formatting, not float log10, so there is no
    power-of-ten boundary case to diverge on.

    Shape: scan-local digit extraction, one 9-group hash aggregate,
    and a broadcast scalar count — one pass, one tiny exchange."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") >= 1)
    d = li.select(
        F.substring(
            F.floor(F.col("l_extendedprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    n = d.count()
    return d.groupBy("digit").agg(
        F.count("*").alias("observed"),
        F.round(F.count("*") / F.lit(float(n)), 6).alias("obs_frac"),
        F.round(F.log10(1 + 1.0 / F.col("digit")), 6).alias("benford_frac"),
    )


@register(
    "q_rfm_segments",
    oracle="""
WITH rfm AS (
  SELECT user_id, max(ts) AS last_ts, count(*) AS freq,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY user_id
),
scored AS (
  SELECT user_id, cents,
         ntile(5) OVER (ORDER BY last_ts DESC, user_id) AS r,
         ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
         ntile(5) OVER (ORDER BY cents DESC, user_id) AS m
  FROM rfm
)
SELECT r, f, m, count(*) AS n_users,
       round(CAST(sum(cents) AS BIGINT) / count(*) / 100.0, 2) AS avg_monetary
FROM scored GROUP BY r, f, m
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic entity-scoring rollup: per user
    recency (last event), frequency (event count), monetary (value
    sum), each quintiled with a user_id tiebreak so ntile is
    deterministic, then users counted per (R,F,M) cell.

    Shape: ONE corpus-sized aggregate (per-user triple, partial-
    aggregable); the three ntiles run over the |users| table — the
    small side — in a single-partition window acceptable precisely
    because it is users, not events (at larger |users|, swap ntile
    for the percentile-boundary binning of q_quantile_bins, which
    needs no global sort). Monetary is summed in integer CENTS — an
    order-independent exact sum — so both the quintile sort key and
    the per-cell average are derived from identical integer operands
    in both engines (a float sum hit a half-cent rounding boundary at
    sf0.1)."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    rfm = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").alias("freq"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
    )
    scored = rfm.select(
        "user_id",
        "cents",
        F.ntile(5).over(Window.orderBy(F.desc("last_ts"), "user_id")).alias("r"),
        F.ntile(5).over(Window.orderBy(F.desc("freq"), "user_id")).alias("f"),
        F.ntile(5).over(Window.orderBy(F.desc("cents"), "user_id")).alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count("*").alias("n_users"),
        F.round(F.sum("cents") / F.count("*") / 100.0, 2).alias("avg_monetary"),
    )


# ---------------------------------------------------------- winsorization
#
# Percentile clamping — the outlier-taming pass feature engineering
# runs before normalization (tails squashed to the [p05, p95]
# boundaries instead of dropped). Boundaries come from ONE exact
# interpolated-percentile aggregate (rounded to 4 in both engines so
# the clamp decision is engine-identical), broadcast back over the
# scan; the report aggregates in integer CENTS so no float sum is
# order-dependent. The 100 TB swap is percentile_approx for the
# boundary pass — same note as q_quantile_bins.

_WINSOR_LO = 0.05
_WINSOR_HI = 0.95


@register(
    "q_winsorize",
    oracle=f"""
WITH b AS (
  SELECT round(quantile_cont(l_extendedprice, {_WINSOR_LO}), 4) AS lo,
         round(quantile_cont(l_extendedprice, {_WINSOR_HI}), 4) AS hi
  FROM lineitem
),
w AS (
  SELECT l.l_returnflag AS flag,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(least(greatest(l.l_extendedprice, b.lo), b.hi) * 100)
              AS BIGINT) AS wcents,
         (l.l_extendedprice < b.lo) AS clamped_lo,
         (l.l_extendedprice > b.hi) AS clamped_hi
  FROM lineitem l CROSS JOIN b
)
SELECT flag, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN clamped_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
       CAST(sum(CASE WHEN clamped_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
       round(CAST(sum(cents) AS DOUBLE) / count(*) / 100.0, 4) AS mean_raw,
       round(CAST(sum(wcents) AS DOUBLE) / count(*) / 100.0, 4) AS mean_winsorized
FROM w GROUP BY flag
""",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize the price column to its global [p05, p95] and report
    per return-flag: row count, clamped-tail counts, and the raw vs
    winsorized means — the before/after audit of the clamp. See the
    module comment above _WINSOR_LO for the plan shape."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
    )
    # ONE array-percentile aggregate (the q_quantile_bins device):
    # two scalar percentile() calls each keep their own sort buffer;
    # the array form shares one.
    b = F.broadcast(
        li.agg(
            F.expr(f"percentile(v, array({_WINSOR_LO}, {_WINSOR_HI}))").alias(
                "bs"
            )
        ).select(
            F.round(F.element_at("bs", 1), 4).alias("lo"),
            F.round(F.element_at("bs", 2), 4).alias("hi"),
        )
    )
    w = li.crossJoin(b).select(
        "flag",
        F.round(F.col("v") * 100).cast("long").alias("cents"),
        F.round(F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi")) * 100)
        .cast("long")
        .alias("wcents"),
        (F.col("v") < F.col("lo")).alias("clamped_lo"),
        (F.col("v") > F.col("hi")).alias("clamped_hi"),
    )
    return w.groupBy("flag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("clamped_lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_lo"),
        F.sum(F.when(F.col("clamped_hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_hi"),
        F.round(F.sum("cents").cast("double") / F.count("*") / 100.0, 4).alias(
            "mean_raw"
        ),
        F.round(F.sum("wcents").cast("double") / F.count("*") / 100.0, 4).alias(
            "mean_winsorized"
        ),
    )


@register("q_winsorize_approx", oracle=None)  # sketch boundaries
def q_winsorize_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path of q_winsorize, actually executed: the [p05,
    p95] clamp bounds come from ONE percentile_approx sketch (bounded
    memory, mergeable partials) instead of the exact sort buffer;
    clamp, integer-cents accounting, and per-flag rollup are
    byte-identical to the exact twin. Rows-only; the local suite
    brackets each clamped-tail fraction by the sketch's rank-error
    guarantee against DuckDB's exact CDF."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
    )
    b = F.broadcast(
        li.agg(
            F.expr(
                f"percentile_approx(v, array({_WINSOR_LO}, {_WINSOR_HI}),"
                f" {_BIN_APPROX_ACC})"
            ).alias("bs")
        ).select(
            F.round(F.element_at("bs", 1), 4).alias("lo"),
            F.round(F.element_at("bs", 2), 4).alias("hi"),
        )
    )
    w = li.crossJoin(b).select(
        "flag",
        F.round(F.col("v") * 100).cast("long").alias("cents"),
        F.round(F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi")) * 100)
        .cast("long")
        .alias("wcents"),
        (F.col("v") < F.col("lo")).alias("clamped_lo"),
        (F.col("v") > F.col("hi")).alias("clamped_hi"),
    )
    return w.groupBy("flag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("clamped_lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_lo"),
        F.sum(F.when(F.col("clamped_hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_hi"),
        F.round(F.sum("cents").cast("double") / F.count("*") / 100.0, 4).alias(
            "mean_raw"
        ),
        F.round(F.sum("wcents").cast("double") / F.count("*") / 100.0, 4).alias(
            "mean_winsorized"
        ),
    )
