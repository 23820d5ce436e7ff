"""Event-time windowing — batch and Structured Streaming
(SURVEY.md §2.9 T1-T6).

The reference has no streaming surface (asyncio request fan-out only,
SURVEY §2.9); this module provides the engine's event-time semantics
over the events table. Each window shape ships twice:

- a *batch* query (oracle-checkable — tumbling/sliding/session
  windows are deterministic SQL over a static table), and
- a *streaming* job with the same plan over readStream + watermark,
  driven with trigger(availableNow) into a memory sink so the
  registered query still returns a plain DataFrame (rows-only check:
  sink contents aren't ANSI-SQL-reproducible once watermarking and
  incremental triggers are involved).

Scale: state for windowed aggs is bounded by the watermark horizon;
session windows use Spark's native session_window (merging state per
user). Sliding windows fan each row into window/slide copies — the
explode factor (4×) is explicit in the batch twin.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ..sources.tables import events_ts_unit, load
from ..sources.tmputil import read_artifact, write_artifact


def _events_stream_schema(ts_type: T.DataType) -> T.StructType:
    # ts arrives as raw-nanos LONG or native TIMESTAMP depending on the
    # driver file's footer unit (see sources/tables.py:events_ts_unit).
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


@register(
    "q_tumbling_window",
    oracle="""
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (batch twin): 1-hour tumbling window aggregation using
    Spark's window() — start boundaries equal date_trunc for aligned
    windows, which is the oracle formulation."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_sliding_window_events",
    oracle="""
WITH slid AS (
  SELECT e.*,
         time_bucket(INTERVAL '15 minutes', e.ts)
           - k.k * INTERVAL '15 minutes' AS window_start
  FROM events e, (SELECT unnest(generate_series(0, 3)) AS k) k
)
SELECT epoch_us(window_start) AS window_start_us,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM slid
GROUP BY window_start
""",
)
def q_sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (batch twin): 1-hour window sliding every 15 minutes — each
    event lands in 4 windows (the oracle makes the 4× fan-out explicit
    via generate_series)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_session_window",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM sessions
GROUP BY user_id, session_id
""",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 (batch twin): 30-minute-gap session windows per user via
    Spark's native session_window; the oracle is the classic
    gaps-and-islands rewrite (SURVEY §7 risk register)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


def _read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: file-based streaming source over the events parquet —
    the streaming analog of the reference's polling ingestion loop
    (ref: ingestion_service.py:376-416). The pinned schema branches on
    the parquet footer's ts unit (sources/tables.py:events_ts_unit):
    TIMESTAMP(MICROS) reads natively; TIMESTAMP(NANOS) reads as raw
    LONG then converts, matching the batch loader."""
    # The driver data is a single file, not a directory; the file-stream
    # source requires a directory basePath, so address it via a glob
    # (basePath resolves to sf_dir, the glob selects the one file).
    # maxFilesPerTrigger bounds per-batch work on a real multi-file
    # landing dir; 64 (not 1) keeps micro-batch count — and with it
    # per-batch state-checkpoint overhead — low when the source has
    # more than a handful of files.
    if events_ts_unit(sf_dir) == "ns":
        raw = (
            spark.readStream.schema(_events_stream_schema(T.LongType()))
            .option("maxFilesPerTrigger", "64")
            .parquet(f"{sf_dir}/events.parqu*")
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return (
        spark.readStream.schema(_events_stream_schema(T.TimestampType()))
        .option("maxFilesPerTrigger", "64")
        .parquet(f"{sf_dir}/events.parqu*")
    )


#: Stateful-operator partition count for the local streaming jobs.
#: A streaming query's state-store instance count is frozen to
#: spark.sql.shuffle.partitions at its FIRST micro-batch, and every
#: instance pays per-batch checkpoint file I/O whether or not it holds
#: state — at local bench scale 32 instances are pure overhead (the
#: state here is a few thousand keys). On a real cluster this knob is
#: sized to executor count × cores once, before the query first runs.
_STREAM_SHUFFLE_PARTITIONS = "4"


class _scoped_shuffle_partitions:
    """Set spark.sql.shuffle.partitions for the duration of starting a
    streaming query, restoring the previous value after (the streaming
    query keeps the value it saw at start; later batch plans in the
    session are unaffected)."""

    def __init__(self, spark: SparkSession, n: str):
        self._spark, self._n = spark, n

    def __enter__(self):
        self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", self._n)

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._prev)


def _drain(q, timeout_sec: int = 120) -> None:
    """Wait for an availableNow query to finish and NEVER leave its
    thread running: a zombie stream interrupted later (next query,
    session stop) dies with a MicroBatchExecution interrupt stack in
    whatever process output is being captured (this polluted the r2
    bench artifact). Timeout → explicit stop + hard failure."""
    try:
        finished = q.awaitTermination(timeout_sec)
    except Exception:
        if q.isActive:  # pragma: no cover - defensive
            q.stop()
        raise
    if not finished:  # pragma: no cover - only on pathological stalls
        q.stop()
        raise RuntimeError(
            f"streaming query {q.name or q.id} exceeded {timeout_sec}s"
        )


def _run_to_memory(
    stream_df: DataFrame, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming plan to completion with availableNow and
    return the sink contents as a batch DataFrame."""
    sink = "s" + uuid.uuid4().hex[:12]
    with _scoped_shuffle_partitions(spark, _STREAM_SHUFFLE_PARTITIONS):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    return spark.table(sink)


@register(
    "q_stream_tumbling",
    oracle="""
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2/T5: Structured Streaming tumbling-window count with a
    10-minute watermark, executed incrementally (availableNow) into a
    memory sink. Same logical plan as q_tumbling_window.

    VALUE-checkable despite being a real stream: the driver file is a
    single parquet (one micro-batch under maxFilesPerTrigger) and the
    sink runs in COMPLETE mode, so the memory table holds the final
    aggregation state — identical to the batch twin's result. The
    oracle is the batch twin's SQL."""
    ev = _read_event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, spark)


@register(
    "q_stream_stream_join",
    oracle="""
SELECT a.user_id AS a_user, a.event_id AS view_id, b.event_id AS click_id
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'click'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
""",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each 'view' event joined to
    'click' events by the same user within [0, 30 min] after it. Both
    sides carry watermarks and the join condition bounds event time on
    both ends, so the state store retains only the interval horizon
    per side — the canonical funnel/attribution join, running here
    under availableNow.

    VALUE-checkable: an INNER stream-stream join emits every matched
    pair in the micro-batch where the match is found (watermarks only
    bound state retention and outer-null emission), and the single
    driver file is one micro-batch — so the appended sink holds
    exactly the batch interval-join result."""
    a = (
        _read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    b = (
        _read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("a_user", "view_id", "click_id")
    return _run_to_memory(joined, spark, output_mode="append")


@register(
    "q_stream_session",
    oracle="""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
               OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
),
agg AS (
  SELECT user_id, sid, epoch_us(min(ts)) AS session_start_us,
         count(*) AS n_events, max(ts) AS last_ts
  FROM sess GROUP BY user_id, sid
),
wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events)
SELECT user_id, session_start_us, n_events
FROM agg, wm
WHERE last_ts + INTERVAL 30 MINUTE <= w
""",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 (streaming form): session_window aggregation under a
    watermark — Spark's merging-window state (sessions extend/merge as
    events arrive, emit on watermark close). Batch twin with a full
    gaps-and-islands oracle: q_session_window.

    VALUE-checkable INCLUDING the watermark holdback: append mode
    emits a session only once the watermark passes its end, and with
    the single driver file the final watermark is max(ts) − 30 min —
    so the sink holds exactly the gaps-and-islands sessions whose end
    (last event + 30 min gap) is ≤ that watermark; the few sessions
    near the end of the timeline stay in state at shutdown, and the
    oracle's WHERE clause reproduces precisely that holdback
    (calibrated: 9536 of 9549 sessions at sf0.01, 945 at sf0.001).

    Boundary semantics (r5 ADVICE item 2): Spark's session-state
    eviction is INCLUSIVE at the watermark — a session whose end
    equals the final watermark exactly IS emitted — matching the
    oracle's ``last_ts + gap <= w``. Pinned empirically by
    tests/test_streaming_boundary.py with an exact-tie fixture, so a
    Spark comparison-direction change fails CI rather than the
    driver gate on tie-shaped data."""
    ev = _read_event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
        )
    )
    return _run_to_memory(agg, spark, output_mode="append")


@register(
    "q_stream_upsert_foreachbatch",
    oracle="""
SELECT user_id, event_type, event_id, value
FROM (
  SELECT user_id, event_type, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
)
def q_stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6/S8 streaming sink: foreachBatch MERGE — each micro-batch is
    upserted into a keyed Parquet table with last-writer-wins
    semantics (the Structured Streaming form of the reference's
    batched Pinecone upsert, ref: pinecone_manager.py:61-103). The
    returned DataFrame is the final table state: one row per
    (user_id, event_type) key.

    VALUE-checkable: the (ts, event_id) tiebreak makes the surviving
    row deterministic whatever the batch split, so the final table
    equals the batch last-writer-wins query (q_upsert_last_writer's
    oracle)."""
    import uuid as _uuid

    from ..sources.sinks import upsert_parquet
    from ..sources.tmputil import tmp_path

    path = tmp_path(f"stream_upsert_{_uuid.uuid4().hex[:8]}")
    ev = _read_event_stream(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        keyed = batch_df.withColumn(
            "key", F.concat_ws("|", "user_id", "event_type")
        )
        upsert_parquet(spark, keyed, path, key="key", order_col=["ts", "event_id"])

    with _scoped_shuffle_partitions(spark, _STREAM_SHUFFLE_PARTITIONS):
        q = (
            ev.writeStream.foreachBatch(merge)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{path}_ckpt")
            .start()
        )
        _drain(q)
    return read_artifact(spark, path).select(
        "user_id", "event_type", "event_id", "value"
    )


@register(
    "q_stream_stateful_counts",
    oracle="""
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY user_id
""",
)
def q_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6+ (custom stateful operator): applyInPandasWithState keyed by
    user_id — per-user running event count and value sum held in a
    user-managed state store across micro-batches, the Structured
    Streaming analog of a hand-rolled stateful fold. State per key is
    two scalars, so the store stays O(|users|) regardless of stream
    length.

    VALUE-checkable: update mode emits one row per key per micro-batch
    it appears in; the single driver file is one micro-batch, so the
    sink holds exactly the per-user totals (rounding inside absorbs
    pandas-vs-DuckDB summation order)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _read_event_stream(spark, sf_dir).select("user_id", "value")

    def update(
        key: tuple, pdfs: "Iterator[pd.DataFrame]", state: GroupState
    ) -> "Iterator[pd.DataFrame]":
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 2)]}
        )

    counted = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(counted, spark, output_mode="update")


@register(
    "q_stream_dedup",
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS n_first_seen
FROM events
GROUP BY event_type
""",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: stateful streaming dedup — dropDuplicatesWithinWatermark on
    (user_id, event_type), the streaming form of the upsert sink (S8).
    State is bounded by the watermark horizon.

    VALUE-checkable: WHICH row survives dedup is arbitrary, but the
    downstream count of first-seen rows per event_type equals the
    count of DISTINCT (user_id, event_type) keys — deterministic
    regardless of arrival order."""
    ev = _read_event_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_first_seen"))
    )
    return _run_to_memory(deduped, spark)


class _scoped_state_store_provider:
    """Set the state-store provider for the duration of starting a
    streaming query (the query keeps the provider it saw at start;
    restore keeps later queries on the session default)."""

    _KEY = "spark.sql.streaming.stateStore.providerClass"

    def __init__(self, spark: SparkSession, cls: str):
        self._spark, self._cls = spark, cls

    def __enter__(self):
        self._old = self._spark.conf.get(self._KEY, None)
        self._spark.conf.set(self._KEY, self._cls)

    def __exit__(self, *exc):
        if self._old is None:
            self._spark.conf.unset(self._KEY)
        else:
            self._spark.conf.set(self._KEY, self._old)


#: DuckDB oracle for stream_transform_with_state (the opt-in test
#: uses it; not driver-registered — see the docstring).
TRANSFORM_WITH_STATE_ORACLE = """
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(max(value), 2) AS max_value
FROM events
GROUP BY user_id, event_type
"""


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6+ (modern stateful API): transformWithStateInPandas — the
    Spark 4 StatefulProcessor replacing applyInPandasWithState
    (q_stream_stateful_counts shows the legacy form) — keyed by
    user_id with a typed MapState(event_type → (count, max)) held in
    the RocksDB state store, which the new operator requires and
    which is also the provider you'd run at 100 TB (state spills to
    disk instead of capping at executor heap).

    NOT driver-registered: the operator's state-server protocol needs
    the ``google.protobuf`` Python package, absent from this sandbox
    (same class of seam as the codec libraries,
    sources/extraction.py:760-775) — a registered query would error
    identically in the driver's environment. The opt-in test
    (tests/test_streaming_boundary.py) runs it against
    TRANSFORM_WITH_STATE_ORACLE wherever protobuf IS installed and
    skips cleanly here.

    State is O(|users| × |event types|); per-batch work is pandas
    groupby over each user's Arrow batch. VALUE-checkable under the
    same convention as the legacy twin: update mode emits each user's
    full per-type map once per micro-batch it appears in, and the
    single driver file is one micro-batch, so the sink holds exactly
    the per-(user, type) totals the oracle computes."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class PerTypeStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.per_type = handle.getMapState(
                "per_type", "event_type STRING", "n LONG, vmax DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            for pdf in rows:
                for et, g in pdf.groupby("event_type"):
                    if self.per_type.containsKey((et,)):
                        n, vmax = self.per_type.getValue((et,))
                    else:
                        n, vmax = 0, float("-inf")
                    self.per_type.updateValue(
                        (et,), (n + len(g), max(vmax, float(g["value"].max())))
                    )
            # raw max here; rounding happens in the DataFrame below
            # with SQL round semantics (Python round() is half-even,
            # SQL round is half-up — the repo convention is to round
            # inside the query so both engines agree).
            out = [
                (key[0], k[0], v[0], v[1]) for k, v in self.per_type.iterator()
            ]
            yield pd.DataFrame(
                out, columns=["user_id", "event_type", "n_events", "max_value"]
            )

        def close(self) -> None:
            pass

    ev = _read_event_stream(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )
    out = ev.groupBy("user_id").transformWithStateInPandas(
        PerTypeStats(),
        outputStructType=(
            "user_id long, event_type string, n_events long, max_value double"
        ),
        outputMode="Update",
        timeMode="None",
    )
    rounded = out.withColumn("max_value", F.round("max_value", 2))
    with _scoped_state_store_provider(
        spark,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    ):
        return _run_to_memory(rounded, spark, output_mode="update")


@register(
    "q_stream_static_join",
    oracle="""
SELECT c.c_nationkey AS nation_key,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 2) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey
""",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+J4 composed: stream-STATIC join — the enrichment shape every
    streaming pipeline runs first (events against a slowly-changing
    dimension), joining the event stream to the static customer table
    and aggregating per nation. The static side is broadcast: a
    stream-static equi-join keeps NO join state (the dimension is
    re-read per micro-batch, broadcast to every task), so unlike the
    stream-stream interval join there is no watermark bookkeeping on
    the dimension side — the canonical pattern for dimension tables
    that fit executor memory; bigger dims shift to a bucketed
    shuffle join with the same plan semantics.

    VALUE-checkable: complete-mode groupBy over the single driver
    micro-batch equals the batch join+aggregate the oracle runs."""
    ev = _read_event_stream(spark, sf_dir).select("user_id", "value")
    cust = F.broadcast(
        load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    agg = (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("c_nationkey").alias("nation_key"), "n_events", "sum_value"
        )
    )
    return _run_to_memory(agg, spark)


@register(
    "q_stream_sliding",
    oracle="""
WITH slid AS (
  SELECT e.*,
         time_bucket(INTERVAL '15 minutes', e.ts)
           - k.k * INTERVAL '15 minutes' AS window_start
  FROM events e, (SELECT unnest(generate_series(0, 3)) AS k) k
)
SELECT epoch_us(window_start) AS window_start_us,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM slid
GROUP BY window_start
""",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3/T5 streaming form: 1-hour window sliding every 15 minutes
    over the event stream with a 10-minute watermark — completing the
    batch/stream twin pairs (tumbling and session already ship both
    ways). Each event fans into 4 windows of aggregation state; the
    watermark bounds how long each window's state lives.

    VALUE-checkable under the single-micro-batch + complete-mode
    convention: the sink holds the final aggregation state, equal to
    the batch twin's result, which is the oracle."""
    ev = _read_event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, spark)


def _stream_cms_sql() -> str:
    from ..functions.hashing import token_hash_sql
    from ..operators.sketches import cms_cells_sql

    h = token_hash_sql("CAST(user_id AS VARCHAR)")
    return f"""
WITH hh AS (SELECT {h} AS h FROM events),
cells AS ({cms_cells_sql('h', 'hh')})
SELECT row_i, cell, CAST(count(*) AS BIGINT) AS total
FROM cells GROUP BY row_i, cell
"""


@register("q_stream_cms", oracle=_stream_cms_sql())
def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 + sketches: a STREAMING count-min sketch of user-activity
    frequencies. Each micro-batch computes its own d×w partial sketch
    (≤64 cells) and foreachBatch-appends it; the final table state is
    the cell-wise SUM of all partials. Because CMS merge is
    associative addition, the result is value-identical to the batch
    sketch over the same events however availableNow splits the
    stream — which is exactly what the DuckDB oracle checks.

    Scale shape: per batch only d·w cell rows are written, whatever
    the batch size; the merge-on-read groupBy touches
    n_batches · d·w rows. This is the streaming form of
    q_heavy_hitters_cms's mergeability claim, demonstrated rather
    than asserted."""
    import uuid as _uuid

    from ..functions.hashing import token_hash
    from ..operators.sketches import cms_cell_structs
    from ..sources.tmputil import tmp_path

    path = tmp_path(f"stream_cms_{_uuid.uuid4().hex[:8]}")
    ev = _read_event_stream(spark, sf_dir).select(
        token_hash(F.col("user_id").cast("string")).alias("h")
    )
    cells = ev.select(F.explode(cms_cell_structs(F.col("h"))).alias("rc")).select(
        F.col("rc.row_i").alias("row_i"), F.col("rc.cell").alias("cell")
    )

    def append_partial(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("row_i", "cell").agg(
            F.count("*").alias("total")
        )
        write_artifact(partial.write.mode("append"), path)

    with _scoped_shuffle_partitions(spark, _STREAM_SHUFFLE_PARTITIONS):
        q = (
            cells.writeStream.foreachBatch(append_partial)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{path}_ckpt")
            .start()
        )
        _drain(q)
    return (
        read_artifact(spark, path)
        .groupBy("row_i", "cell")
        .agg(F.sum("total").cast("long").alias("total"))
    )


# ------------------------------------------------- streaming anomaly monitor
#
# The streaming member of the monitoring battery (batch siblings:
# q_zscore_outliers, q_psi_drift): per (event_type, 1-hour tumbling
# window) the stream computes count + mean value; each window is then
# flagged against the STATIC per-type baseline (mean and σ over the
# full historical table, tested at 3·SE = 3σ/√n of the window mean) — the alerting shape a production monitor
# runs, with the baseline refreshed offline and the stream only
# paying a windowed aggregate. Determinism discipline: every mean /
# variance on BOTH engines derives from integer-CENTS sums (value ≤
# ~560 ⇒ cents² · rows ≪ 2⁶³), so the 3·SE boundary comparison is on
# bit-identical doubles; display values round after flagging.


@register(
    "q_stream_anomaly",
    oracle="""
WITH base AS (
  SELECT event_type,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
           / count(*) AS mu_c,
         sqrt(greatest(
           CAST(sum(CAST(round(value * 100) AS BIGINT)
                    * CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
             / count(*)
             - pow(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   / count(*), 2),
           0.0)) AS sd_c
  FROM events GROUP BY event_type
),
win AS (
  SELECT date_trunc('hour', ts) AS w, event_type,
         count(*) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
           / count(*) AS win_mean_c
  FROM events GROUP BY date_trunc('hour', ts), event_type
)
SELECT epoch_us(win.w) AS window_start_us,
       win.event_type AS event_type,
       win.n_events,
       -- floor(x*100 + 0.5)/10000: a cents-mean like 6599.125 is a
       -- half-way tie at 4 dp where the engines' round() rules
       -- disagree; floor(+0.5) on the bit-identical double is
       -- deterministic everywhere.
       CAST(floor(win.win_mean_c * 100.0 + 0.5) AS BIGINT) / 10000.0 AS win_mean,
       CAST(floor(b.mu_c * 100.0 + 0.5) AS BIGINT) / 10000.0 AS base_mean,
       CAST(floor(b.sd_c * 100.0 + 0.5) AS BIGINT) / 10000.0 AS base_sd,
       -- 3σ on the STANDARD ERROR of the window mean (sd/√n): the
       -- statistically right test for a window MEAN, and it actually
       -- fires (16 of 3600 windows at sf0.1 ≈ the CLT tail rate) —
       -- a population-σ threshold never trips on window means and
       -- would make the flag vacuous (the q_token_budget_cap
       -- lesson: exercise the semantics, don't just compute them).
       (abs(win.win_mean_c - b.mu_c)
          > 3 * b.sd_c / sqrt(win.n_events)) AS is_anomalous
FROM win JOIN base b ON b.event_type = win.event_type
""",
)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly monitor: tumbling 1-hour per-type windows
    computed by the STREAM (integer-cents count/sum, complete mode),
    then flagged in a batch post-pass against the static per-type
    mean ± 3·SE baseline — the stream pays only the windowed aggregate;
    the baseline is offline state (see the module comment above).

    The flag comparison runs on doubles derived identically from
    integer sums in both engines, so the 3·SE boundary is
    engine-identical; display values round after the flag."""
    ev = _read_event_stream(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents).alias("sum_c"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_c",
        )
    )
    win = _run_to_memory(agg, spark).select(
        "window_start_us",
        "event_type",
        "n_events",
        (F.col("sum_c").cast("double") / F.col("n_events")).alias("win_mean_c"),
    )
    sq = cents * cents
    base_src = load(spark, sf_dir, "events").select("event_type", "value")
    mu_c = F.col("sum_c").cast("double") / F.col("n")
    base = F.broadcast(
        base_src.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("sum_c"),
            F.sum(sq).alias("sumsq_c"),
        )
        .select(
            "event_type",
            mu_c.alias("mu_c"),
            F.sqrt(
                F.greatest(
                    F.col("sumsq_c").cast("double") / F.col("n")
                    - F.pow(mu_c, 2),
                    F.lit(0.0),
                )
            ).alias("sd_c"),
        )
    )
    def _fix4(c):  # floor(x*100+0.5)/1e4 — tie-free 4-dp (see oracle)
        return F.floor(c * 100.0 + 0.5).cast("long") / 10000.0

    return win.join(base, "event_type").select(
        "window_start_us",
        "event_type",
        "n_events",
        _fix4(F.col("win_mean_c")).alias("win_mean"),
        _fix4(F.col("mu_c")).alias("base_mean"),
        _fix4(F.col("sd_c")).alias("base_sd"),
        (
            F.abs(F.col("win_mean_c") - F.col("mu_c"))
            > 3 * F.col("sd_c") / F.sqrt(F.col("n_events"))
        ).alias("is_anomalous"),
    )
