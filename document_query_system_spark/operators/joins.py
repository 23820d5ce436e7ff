"""Join operators (SURVEY.md §2.3).

The reference's only join-shaped computation is the question×chunk
cross-score (J1, operators/search.py); the rest of the join surface
is engine parity over the driver tables. Physical strategy notes per
query: dimensions are broadcast explicitly, large-large joins shuffle
on the key (AQE handles skew), the as-of join is a single-shuffle
union+window — never a fan-out join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load, local_rows


@register(
    "q_join_hash",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'F'
""",
)
def q_join_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: equi inner join orders ⋈ customer. customer ≪ orders, so
    Catalyst broadcasts it under the 10MB default at bench SF; at
    100 TB this becomes a shuffled hash join on o_custkey."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    cust = load(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "q_join_broadcast",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name, r.r_name
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN ('ASIA', 'EUROPE')
""",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: star-schema dimension joins with explicit broadcast — nation
    (25 rows) and region (5 rows) are fixed-cardinality catalogs; the
    fact side never shuffles regardless of scale."""
    cust = load(spark, sf_dir, "customer")
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    region = F.broadcast(
        load(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    )
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@register(
    "q_join_sortmerge",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, o.o_orderpriority
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_quantity > 45
""",
)
def q_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: large-large join with an explicit MERGE hint — the strategy
    for two fact tables too big to broadcast or hash-build; both sides
    shuffle-sort on l_orderkey/o_orderkey and stream-merge."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    orders = load(spark, sf_dir, "orders").hint("merge")
    return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "o_orderpriority"
    )


@register(
    "q_join_left_nomatch",
    oracle="""
SELECT c.c_custkey, c.c_name,
       coalesce(oc.n_orders, 0) AS n_orders,
       CASE WHEN oc.n_orders IS NULL
            THEN 'No relevant information found' ELSE 'ok' END AS status
FROM customer c
LEFT JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) oc
  ON c.c_custkey = oc.o_custkey
""",
)
def q_join_left_nomatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: left outer join + coalesce default — the reference's
    'question with zero matching chunks still answers'
    (ref: src/main.py:119-125, 167-172). Pre-aggregating the right
    side before the join keeps the shuffle payload to one row per key."""
    cust = load(spark, sf_dir, "customer")
    oc = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    return cust.join(oc, cust.c_custkey == oc.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.when(F.col("n_orders").isNull(), "No relevant information found")
        .otherwise("ok")
        .alias("status"),
    )


@register(
    "q_join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 semi: 'documents having ≥1 chunk' shape — EXISTS as left-semi
    join; no right-side columns cross the shuffle."""
    cust = load(spark, sf_dir, "customer")
    open_orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return cust.join(
        open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "q_delete_anti_join",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
""",
)
def q_delete_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/J6 anti: delete-by-filter as left-anti join — the Pinecone
    delete(ids)/delete(filter) rewrite (ref: pinecone_manager.py:140-166;
    filter built at vectorizer.py:159-176)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_range",
    oracle="""
WITH tiers(tier, lo, hi) AS (VALUES
  ('low', 0.0, 50.0), ('mid', 50.0, 150.0), ('high', 150.0, 1e18))
SELECT e.event_id, e.value, t.tier
FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
""",
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: theta/range join against a tiny tier dimension — broadcast
    nested-loop with a 3-row build side; the fact side streams through
    without shuffling at any scale."""
    ev = load(spark, sf_dir, "events")
    tiers = F.broadcast(
        local_rows(
            spark,
            [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e18)],
            "tier STRING, lo DOUBLE, hi DOUBLE",
        )
    )
    return ev.join(
        tiers, (ev.value >= tiers.lo) & (ev.value < tiers.hi)
    ).select("event_id", "value", "tier")


@register(
    "q_join_asof",
    oracle="""
WITH od AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, od.last_orderkey
FROM events e
ASOF LEFT JOIN od ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
""",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: as-of join — each event matched to the latest order of the
    same customer at or before the event time. Implemented as the
    scalable union+window pattern: tag both sides, union, one shuffle
    on the key, last(value, ignorenulls) over (key ORDER BY time) —
    no row fan-out, unlike a range-join + top-1 rewrite. Ties resolved
    deterministically (orders keyed by max orderkey per date; order
    rows sort before events at equal timestamps, matching ASOF's
    ts >= o_orderdate inclusivity)."""
    ev = load(spark, sf_dir, "events")
    od = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    left = ev.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("side"),  # events sort after orders at equal t
        "event_id",
        F.lit(None).cast("long").alias("last_orderkey"),
    )
    right = od.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        "last_orderkey",
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = left.unionByName(right).withColumn(
        "last_orderkey", F.last("last_orderkey", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("side") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.unix_micros("t").alias("ts_us"),
        "last_orderkey",
    )


@register(
    "q_join_asof_forward",
    oracle="""
WITH od AS (
  SELECT o_custkey, o_orderdate, min(o_orderkey) AS next_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
),
nxt AS (
  SELECT e.event_id, min(od.o_orderdate) AS nd
  FROM events e JOIN od ON e.user_id = od.o_custkey
    AND od.o_orderdate > e.ts
    AND od.o_orderdate <= e.ts + INTERVAL 7 DAY
  GROUP BY e.event_id
)
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, od.next_orderkey
FROM events e
LEFT JOIN nxt ON nxt.event_id = e.event_id
LEFT JOIN od ON od.o_custkey = e.user_id AND od.o_orderdate = nxt.nd
""",
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 variant: FORWARD as-of join with a tolerance — each event
    matched to the EARLIEST order of the same customer strictly after
    the event time, but only within a 7-day window (no match → null).
    The direction+tolerance pair is what reference as-of APIs (pandas
    merge_asof direction='forward', tolerance=...) add over the plain
    backward join.

    Same scalable union+window shape as q_join_asof — tag both sides,
    one shuffle on the key, first(value, ignorenulls) over
    (key ORDER BY time ROWS CURRENT→FOLLOWING) — no row fan-out (a
    range-join rewrite would multiply events by every order in the
    window). The tolerance is a post-window filter: a match beyond 7
    days nulls out, it never re-joins. Orders at exactly the event
    timestamp sort before the event (side order), matching the
    oracle's strict '>'."""
    ev = load(spark, sf_dir, "events")
    od = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.min("o_orderkey").alias("next_orderkey"))
    )
    left = ev.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("side"),  # events sort after same-t orders → strict >
        "event_id",
        F.lit(None).cast("timestamp").alias("nd"),
        F.lit(None).cast("long").alias("next_orderkey"),
    )
    right = od.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderdate").alias("nd"),
        "next_orderkey",
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = left.unionByName(right).select(
        "*",
        F.first("nd", ignorenulls=True).over(w).alias("m_nd"),
        F.first("next_orderkey", ignorenulls=True).over(w).alias("m_key"),
    )
    in_tol = F.col("m_nd") <= F.col("t") + F.expr("INTERVAL 7 DAYS")
    return merged.filter(F.col("side") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.unix_micros("t").alias("ts_us"),
        F.when(in_tol, F.col("m_key")).alias("next_orderkey"),
    )


@register(
    "q_join_asof_nearest",
    oracle="""
WITH od AS (
  SELECT o_custkey, o_orderdate, min(o_orderkey) AS okey
  FROM orders GROUP BY o_custkey, o_orderdate
),
cand AS (
  SELECT e.event_id, od.o_orderdate, od.okey,
         abs(epoch(e.ts - od.o_orderdate)) AS gap
  FROM events e JOIN od ON e.user_id = od.o_custkey
    AND od.o_orderdate BETWEEN e.ts - INTERVAL 3 DAY
                           AND e.ts + INTERVAL 3 DAY
)
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, b.okey AS nearest_orderkey
FROM events e
LEFT JOIN (
  SELECT event_id, okey FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id
                                 ORDER BY gap, o_orderdate) AS rn
    FROM cand)
  WHERE rn = 1
) b USING (event_id)
""",
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 variant: NEAREST as-of join — each event matched to the
    same customer's order with the smallest |event − order| gap
    within a ±3-day tolerance; an exact tie between the order before
    and the order after resolves backward (earlier date), completing
    the merge_asof direction family (backward / forward / nearest).

    No-fan-out shape: ONE union + ONE shuffle on the key, then the
    backward candidate (last at-or-before) and forward candidate
    (first strictly-after) come from two frames over the SAME window
    sort — Spark executes a single partition sort for both. The
    nearest pick and the tolerance are per-row expressions after the
    window; the oracle's range-join + row_number formulation fans out
    |events × orders-in-window| instead, which is exactly what this
    plan avoids."""
    tol = F.expr("INTERVAL 3 DAYS")
    ev = load(spark, sf_dir, "events")
    od = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.min("o_orderkey").alias("okey"))
    )
    left = ev.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("timestamp").alias("od_t"),
        F.lit(None).cast("long").alias("okey"),
    )
    right = od.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderdate").alias("od_t"),
        "okey",
    )
    order = Window.partitionBy("k").orderBy("t", "side")
    wb = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    merged = left.unionByName(right).select(
        "*",
        F.last("od_t", ignorenulls=True).over(wb).alias("bk_t"),
        F.last("okey", ignorenulls=True).over(wb).alias("bk_key"),
        F.first("od_t", ignorenulls=True).over(wf).alias("fw_t"),
        F.first("okey", ignorenulls=True).over(wf).alias("fw_key"),
    )
    gb = F.col("t").cast("double") - F.col("bk_t").cast("double")
    gf = F.col("fw_t").cast("double") - F.col("t").cast("double")
    bk_ok = F.col("bk_t").isNotNull() & (F.col("bk_t") >= F.col("t") - tol)
    fw_ok = F.col("fw_t").isNotNull() & (F.col("fw_t") <= F.col("t") + tol)
    nearest = (
        F.when(bk_ok & fw_ok, F.when(gb <= gf, F.col("bk_key")).otherwise(F.col("fw_key")))
        .when(bk_ok, F.col("bk_key"))
        .when(fw_ok, F.col("fw_key"))
    )
    return merged.filter(F.col("side") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.unix_micros("t").alias("ts_us"),
        nearest.alias("nearest_orderkey"),
    )


@register(
    "q_snapshot_diff",
    oracle="""
WITH snap_a AS (
  SELECT o_orderkey AS k, round(o_totalprice, 2) AS val
  FROM orders WHERE o_orderkey % 11 <> 0
),
snap_b AS (
  SELECT o_orderkey AS k,
         round(o_totalprice * (CASE WHEN o_orderkey % 5 = 0 THEN 1.1 ELSE 1.0 END), 2) AS val
  FROM orders WHERE o_orderkey % 13 <> 0
),
d AS (
  SELECT coalesce(a.k, b.k) AS k,
         CASE WHEN a.k IS NULL THEN 'added'
              WHEN b.k IS NULL THEN 'removed'
              WHEN a.val <> b.val THEN 'changed'
              ELSE 'same' END AS status
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
)
SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(k) AS BIGINT) AS min_key
FROM d GROUP BY status
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (the data-diff every migration and
    backfill validation runs): FULL OUTER join of two table versions
    on the primary key, classifying each key as added / removed /
    changed / same, summarized per status. The two snapshots here
    derive deterministically from orders (disjoint key drops simulate
    deletes/inserts, a 10% price bump on keys divisible by 5
    simulates updates).

    Scale shape: one sort-merge full-outer on the key — the ONLY join
    type that keeps both sides' unmatched rows, which is the whole
    point of a diff; both snapshot scans prune to (key, value) and
    the classification is a post-join expression. At 100 TB this is
    the job you run bucketed on the key so the join is co-located."""
    od = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    snap_a = od.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("ka"),
        F.round("o_totalprice", 2).alias("va"),
    )
    snap_b = od.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("kb"),
        F.round(
            F.col("o_totalprice")
            * F.when(F.col("o_orderkey") % 5 == 0, 1.1).otherwise(1.0),
            2,
        ).alias("vb"),
    )
    status = (
        F.when(F.col("ka").isNull(), "added")
        .when(F.col("kb").isNull(), "removed")
        .when(F.col("va") != F.col("vb"), "changed")
        .otherwise("same")
    )
    d = snap_a.join(snap_b, snap_a.ka == snap_b.kb, "full_outer").select(
        F.coalesce("ka", "kb").alias("k"), status.alias("status")
    )
    return d.groupBy("status").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("k").cast("long").alias("min_key"),
    )


# ------------------------------------------- bucketed interval join
#
# Large-large INTERVAL OVERLAP join — the shape Spark has no native
# operator for (q_join_range broadcasts a 3-row dimension; here BOTH
# sides carry intervals). The scalable rewrite is time
# discretization: explode each interval to the fixed-grain buckets
# it touches, equi-join on the bucket id, then apply the exact
# overlap predicate and de-duplicate pairs that met in more than one
# bucket. Fan-out per row = span/grain, so the grain is the knob
# trading explode factor against per-bucket candidate count — the
# same technique Flink/Trino interval joins and spatial grid joins
# use, and at 100 TB the bucket id doubles as the co-partitioning
# key for both sides.

_IVL_GRAIN_US = 21_600_000_000  # 6-hour buckets, in microseconds


@register(
    "q_join_interval_bucketed",
    oracle=f"""
WITH spans AS (
  SELECT user_id,
         epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
  FROM events GROUP BY user_id, date_trunc('day', ts)
), sb AS (
  SELECT user_id, s_us, e_us,
         unnest(generate_series(s_us // {_IVL_GRAIN_US},
                                e_us // {_IVL_GRAIN_US})) AS bkt
  FROM spans
), wins AS (
  SELECT epoch_us(d + INTERVAL 5 HOUR) AS w_s,
         epoch_us(d + INTERVAL 7 HOUR) AS w_e
  FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                      TIMESTAMP '2024-01-31',
                                      INTERVAL 1 DAY)) AS d)
), wb AS (
  SELECT w_s, w_e,
         unnest(generate_series(w_s // {_IVL_GRAIN_US},
                                (w_e - 1) // {_IVL_GRAIN_US})) AS bkt
  FROM wins
)
SELECT DISTINCT user_id, w_s AS window_start_us,
       least(e_us, w_e) - greatest(s_us, w_s) AS overlap_us
FROM sb JOIN wb USING (bkt)
WHERE least(e_us, w_e) - greatest(s_us, w_s) > 0
""",
)
def q_join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which daily 05:00–07:00 maintenance windows does each user's
    per-day activity span [min ts, max ts] overlap, and by how many
    microseconds. All arithmetic is integer epoch-microseconds (`div`
    here, `//` in DuckDB — identical on non-negative values), so the
    result is exact with no float rounding anywhere.

    The 05–07h window deliberately straddles a 6-hour bucket
    boundary: a window explodes to two buckets, a span covering both
    meets it twice, and the trailing dropDuplicates is load-bearing
    (remove it and the oracle catches the dup). Plan: two shuffles —
    the span aggregate on (user, day) and the dedup on the output
    key (the bucket join itself moves nothing: the exploded window
    side is tiny and broadcast). At scale with both sides large the
    bucket id becomes the shuffle key for an SMJ and the dedup
    piggybacks on that same partitioning."""
    ev = load(spark, sf_dir, "events")
    spans = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).agg(
        F.unix_micros(F.min("ts")).alias("s_us"),
        F.unix_micros(F.max("ts")).alias("e_us"),
    )
    sb = spans.select(
        "user_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                F.expr(f"s_us div {_IVL_GRAIN_US}"),
                F.expr(f"e_us div {_IVL_GRAIN_US}"),
            )
        ).alias("bkt"),
    )
    wins = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit("2024-01-01 00:00:00").cast("timestamp"),
                    F.lit("2024-01-31 00:00:00").cast("timestamp"),
                    F.expr("interval 1 day"),
                )
            ).alias("d")
        )
        .select(
            F.unix_micros(F.col("d") + F.expr("interval 5 hours")).alias("w_s"),
            F.unix_micros(F.col("d") + F.expr("interval 7 hours")).alias("w_e"),
        )
    )
    wb = wins.select(
        "w_s",
        "w_e",
        F.explode(
            F.sequence(
                F.expr(f"w_s div {_IVL_GRAIN_US}"),
                F.expr(f"(w_e - 1) div {_IVL_GRAIN_US}"),
            )
        ).alias("bkt"),
    )
    ov = F.least("e_us", "w_e") - F.greatest("s_us", "w_s")
    return (
        sb.join(F.broadcast(wb), "bkt")
        .filter(ov > 0)
        .select(
            "user_id",
            F.col("w_s").alias("window_start_us"),
            ov.alias("overlap_us"),
        )
        .dropDuplicates()
    )


@register(
    "q_join_null_safe",
    oracle="""
WITH a AS (
  SELECT event_id,
         CASE WHEN event_id % 97 = 0 THEN NULL ELSE user_id // 2 END AS key
  FROM events WHERE user_id % 2 = 0
),
b AS (
  SELECT event_id,
         CASE WHEN event_id % 97 = 0 THEN NULL ELSE user_id // 2 END AS key
  FROM events WHERE user_id % 2 = 1
)
SELECT (SELECT count(*) FROM a JOIN b ON a.key = b.key) AS n_eq,
       (SELECT count(*) FROM a JOIN b ON a.key IS NOT DISTINCT FROM b.key)
         AS n_null_safe
""",
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe join semantics (Spark `<=>` / SQL IS NOT DISTINCT
    FROM) pinned against plain equality on a ~1%-null key: equality
    silently drops null keys, the null-safe form pairs them — the
    semantic corner that corrupts fact-dimension joins with optional
    keys when chosen wrong. Emits both match counts so the delta is
    visible.

    Shape: two hash joins on the same derived sides; the null-safe
    condition still hash-partitions (null hashes to a single key —
    which is WHY production caps or salts the null bucket, the same
    hot-key discipline as q_skew_salted_join)."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    # Key = paired user ids (even user 2k ↔ odd user 2k+1), ~1% nulled:
    # high-cardinality on purpose — a low-cardinality key (first cut
    # used event_type, 5 values) makes the equality join itself
    # quadratic (~500M pairs at sf0.1, 29 s) before null semantics
    # even matter.
    key = F.when(F.col("event_id") % 97 == 0, F.lit(None)).otherwise(
        F.floor(F.col("user_id") / 2).cast("long")
    )
    a = ev.filter(F.col("user_id") % 2 == 0).select(
        F.col("event_id").alias("a_id"), key.alias("ka")
    )
    b = ev.filter(F.col("user_id") % 2 == 1).select(
        F.col("event_id").alias("b_id"), key.alias("kb")
    )
    n_eq = a.join(b, F.col("ka") == F.col("kb")).agg(
        F.count("*").alias("n_eq")
    )
    n_ns = a.join(b, F.col("ka").eqNullSafe(F.col("kb"))).agg(
        F.count("*").alias("n_null_safe")
    )
    return n_eq.crossJoin(F.broadcast(n_ns))
