"""Time-series operators: tumbling-window aggregation (batch equivalent of
the streaming S04 check), sessionization, and as-of join.

As-of join is the one operator here Spark lacks natively. ``asof_join``
expresses it as a union of both sides and one carry-forward window over
the join key: one shuffle, no Python worker. DuckDB's native ASOF JOIN
is the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, Window

from pyconnect_spark.operators._util import davg, dsum, sql_dsum, t
from pyconnect_spark.query import QueryRegistry

REGISTRY = QueryRegistry()


@REGISTRY.register(
    "ts01_tumbling_window",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 5-minute windows over events — the batch twin of the "
    "streaming window-agg (S04); window() keys are epoch-aligned in both "
    "engines so buckets match exactly.",
    tags=("timeseries", "window-agg"),
)
def ts01(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@REGISTRY.register(
    "ts02_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(SUM(is_new) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
    doc="Sessionization via gap detection (lag + cumulative flag): one "
    "shuffle on user_id, everything else within-partition. The streaming "
    "twin is session_window(ts, gap).",
    tags=("timeseries", "session"),
)
def ts02(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestamp_diff is valid on both TIMESTAMP and TIMESTAMP_NTZ, so this
    # works no matter which timestamp flavor the catalog hands us.
    gap_us = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    flagged = ev.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("is_new").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@REGISTRY.register(
    "ts04_sliding_window",
    oracle=f"""
    WITH contrib AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start, event_type, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', event_type, value FROM events
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n, {sql_dsum('value')} AS sum_value
    FROM contrib GROUP BY 1, 2
    """,
    doc="Sliding windows (10 min window, 5 min slide): every event lands in "
    "exactly two windows; the oracle materializes both contributions "
    "explicitly.",
    tags=("timeseries", "window-agg", "sliding"),
)
def ts04(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@REGISTRY.register(
    "ts05_session_window_agg",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
    doc="Gap-based session windows via session_window(ts, gap); the oracle "
    "derives the same sessions with lag + cumulative-flag SQL. (Second-"
    "precision session_start keys both engines identically because event "
    "timestamps are µs-precise and sessions start on a data row.)",
    tags=("timeseries", "session"),
)
def ts05(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """Backward as-of join as a pure-JVM union + carry-forward window.

    Both sides are tagged and unioned on (key, ts); a single
    partitionBy(key).orderBy(ts, tag) window carries the last non-null
    right-row id forward; left rows then read the carried value. Exactly
    one shuffle (on the key), no Python workers, no per-group overhead —
    at sf0.1 this is ~8× faster than the cogroup+pd.merge_asof
    formulation (whose per-group Python dispatch dominates when there are
    many small groups), and it scales with AQE like any window op.
    Events sort before same-timestamp left rows (tag 0 < 1) ⇒ exact-match
    semantics (ties match), like merge_asof(allow_exact_matches=True).
    """
    ev = right.select(
        F.col(right_key).alias("k"),
        F.col(right_ts).alias("ts"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(0).alias("tag"),
    )
    od = left.select(
        F.col(left_key).alias("k"),
        F.col(left_ts).alias("ts"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey"),
        F.lit(1).alias("tag"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.unionByName(od)
        .withColumn("last_event_id", F.last("event_id", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select("o_orderkey", "last_event_id")
    )


@REGISTRY.register(
    "ts03_asof_join",
    oracle="""
    SELECT o.o_orderkey, e.event_id AS last_event_id
    FROM orders o
    ASOF LEFT JOIN events e
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    """,
    doc="As-of join (latest event at-or-before each order, per user) via "
    "union + carry-forward window — one shuffle, all JVM.",
    tags=("timeseries", "asof-join"),
)
def ts03(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    events = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return asof_join(
        orders,
        events,
        left_key="o_custkey",
        right_key="user_id",
        left_ts="o_orderdate",
        right_ts="ts",
    )


@REGISTRY.register(
    "ts06_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_full_funnel
    """,
    doc="Ordered funnel (view -> click -> purchase): users whose first "
    "click strictly follows their first view, and first purchase strictly "
    "follows that click. Staged min-ts aggregations, each shuffling on "
    "user_id — the SAME key every stage, so on a cluster the exchange "
    "output of stage N is already co-partitioned for stage N+1 (no "
    "re-shuffle of the big side; AQE reuses the layout). The per-stage "
    "event_type filter pushes to the parquet scan, so each pass reads "
    "only its funnel step's rows.",
    tags=("timeseries", "events", "funnel"),
)
def ts06(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_view_click")))
        .crossJoin(p.agg(F.count("*").alias("n_full_funnel")))
    )


@REGISTRY.register(
    "ts07_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort_date
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             date_diff('day', f.cohort_date, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT strftime(f.cohort_date, '%Y-%m-%d') AS cohort_date,
           CAST(a.day_offset AS BIGINT) AS day_offset,
           COUNT(*) AS n_users
    FROM first_seen f JOIN activity a ON f.user_id = a.user_id
    GROUP BY f.cohort_date, a.day_offset
    """,
    doc="Retention cohorts: users grouped by first-seen date, counted on "
    "each later day-offset they were active. One min-ts aggregation on "
    "user_id, broadcast back onto the event stream (first_seen is "
    "|users|-sized — small relative to events at any scale that matters), "
    "distinct per (user, offset), then a count. The only fact-sized "
    "shuffle is the per-user distinct; at 100 TB pre-partition events by "
    "user_id once and both the min and the distinct reuse that layout.",
    tags=("timeseries", "events", "retention"),
)
def ts07(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_date")
    )
    activity = (
        ev.join(F.broadcast(first_seen), "user_id")
        .select(
            "user_id",
            "cohort_date",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_date"))
            .cast("long")
            .alias("day_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        # string date: identical rendering and pandas dtype in both engines
        F.date_format("cohort_date", "yyyy-MM-dd").alias("cohort_date"),
        "day_offset",
    ).agg(F.count("*").alias("n_users"))


@REGISTRY.register(
    "ts08_props_json",
    oracle="""
    SELECT event_type,
           CAST(floor(CAST(json_extract_string(props, '$.k') AS INT) / 10)
                AS BIGINT) AS k_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS DOUBLE) / COUNT(*) AS avg_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY event_type, k_bucket
    """,
    doc="Semi-structured event properties, both extraction paths in one "
    "plan (round-3 merge of ts08_props_json and ts10_json_struct): "
    "from_json parses props into a typed struct once per row — the right "
    "call when multiple fields are consumed — and feeds the bucketed "
    "grouping key, while get_json_object per-path extraction feeds the "
    "k aggregates; both run JVM-side inside whole-stage codegen (no "
    "Python), and unparseable rows are filtered before the shuffle. The "
    "integer sum is exact, divided once in double, so both engines agree "
    "bitwise. At scale the JSON parse happens once per row in the scan "
    "stage — for hot paths, materialize extracted fields as typed "
    "columns at ingest (schema-on-write) and this becomes a plain "
    "columnar agg.",
    tags=("timeseries", "events", "json", "from_json"),
)
def ts08(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    j = F.from_json(F.col("props"), "k INT")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select(
            "event_type",
            j["k"].alias("jk"),
            k.alias("k"),
            F.col("value").cast("decimal(12,2)").alias("v"),
        )
        .filter(F.col("jk").isNotNull())
        .groupBy("event_type", F.floor(F.col("jk") / 10).cast("long").alias("k_bucket"))
        .agg(
            F.count("*").alias("n_events"),
            (F.sum("k").cast("double") / F.count("*")).alias("avg_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.sum("v").cast("double").alias("total_value"),
        )
    )


@REGISTRY.register(
    "ts09_rollup_cascade",
    oracle="""
    SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Continuous-aggregate rollup cascade (the hypertable pattern): "
    "day-level aggregates are computed FROM hour-level partials, which "
    "are computed from minute-level partials — raw events are scanned "
    "exactly once and each coarser grain re-aggregates ~60x fewer rows. "
    "Works because sum/count are reaggregable (avg is derived at the end, "
    "never averaged-of-averages); sums are exact decimals so the cascade "
    "is bit-identical to the direct day-level oracle. At 100 TB the "
    "minute partials are the materialized view; refreshing a late day "
    "touches one day of partials, not the raw table.",
    tags=("timeseries", "events", "rollup", "hypertable"),
)
def ts09(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        F.date_trunc("minute", "ts").alias("minute"),
        "event_type",
        F.col("value").cast("decimal(12,2)").alias("v"),
    )
    minute = ev.groupBy("minute", "event_type").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    hour = minute.groupBy(
        F.date_trunc("hour", "minute").alias("hour"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    day = hour.groupBy(
        F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    return day.select(
        "day",
        "event_type",
        F.col("n").alias("n_events"),
        F.col("s").cast("double").alias("total_value"),
        (F.col("s").cast("double") / F.col("n")).alias("avg_value"),
    )


# ts10_json_struct merged into ts08_props_json (round 3): one query now
# exercises both from_json (typed struct, bucketing key) and
# get_json_object (per-path extraction, aggregates) over the same scan.


@REGISTRY.register(
    "ts11_rolling_time_window",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(12,2)))
                OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rolling_1h_value,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS rolling_1h_n
    FROM events
    """,
    doc="Rolling event-time feature: per user, the trailing-1-hour sum and "
    "count at every event — the classic time-series feature column. A "
    "RANGE frame over epoch seconds (not ROWS: events are irregular, the "
    "window is defined by time distance). One shuffle on user_id + one "
    "per-partition sort; Spark evaluates the sliding frame incrementally "
    "(add/evict at the boundaries), so cost is O(events), not "
    "O(events x window). Exact-decimal sums keep every frame bit-stable.",
    tags=("timeseries", "events", "window", "rolling"),
)
def ts11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double").alias("rolling_1h_value"),
        F.count("*").over(w).cast("long").alias("rolling_1h_n"),
    )


@REGISTRY.register(
    "ts12_ewma",
    oracle="""
    WITH ordered AS (
      SELECT user_id,
             list_transform(list(value ORDER BY ts, event_id),
                            x -> CAST(x AS DOUBLE)) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           round(list_reduce(vals,
                 (acc, x) -> CAST(0.2 AS DOUBLE) * x
                           + CAST(0.8 AS DOUBLE) * acc), 6) AS ewma
    FROM ordered
    """,
    doc="Per-user EWMA (alpha=0.2, y_1 = x_1) — sequential recurrent state "
    "WITHOUT a UDF: an event-time-ordered left fold over the value "
    "sequence (array_sort(collect_list(struct)) then aggregate). Both "
    "engines fold left-to-right in double, so even this order-sensitive "
    "recurrence is bit-reproducible. Per-user state fits memory by "
    "construction (one array per user); the unbounded/streaming "
    "formulation is the applyInPandasWithState running-state operator "
    "(S08) carrying y forward across micro-batches.",
    tags=("timeseries", "events", "ewma", "fold"),
)
def ts12(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    arr = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", F.col("value").cast("double").alias("v")))
    )
    grouped = ev.groupBy("user_id").agg(
        F.transform(arr, lambda s: s["v"]).alias("vals")
    )
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: F.lit(0.2) * x + F.lit(0.8) * acc,
    )
    return grouped.select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        F.round(ewma, 6).alias("ewma"),
    )


@REGISTRY.register(
    "ts13_ohlc_bars",
    oracle=f"""
    WITH keyed AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS win,
             event_type, value,
             printf('%020d:%012d', epoch_us(ts), event_id) AS ord
      FROM events
    )
    SELECT strftime(win, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           round(arg_min(value, ord), 2) AS open,
           round(MAX(value), 2) AS high,
           round(MIN(value), 2) AS low,
           round(arg_max(value, ord), 2) AS close,
           COUNT(*) AS n,
           {sql_dsum('value')} AS volume
    FROM keyed GROUP BY win, event_type
    """,
    doc="OHLC bars (open/high/low/close + volume) per 15-minute window per "
    "event type — the financial-rollup staple. Open/close are picked by "
    "min_by/max_by over a zero-padded (epoch_us, event_id) string key, a "
    "total order both engines share, so ties at equal timestamps resolve "
    "identically. One shuffle on (window, type); min_by/max_by aggregate "
    "with partial merge like any other agg — no per-window sort.",
    tags=("timeseries", "window-agg", "ohlc"),
)
def ts13(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # date_format's 20-digit wall-clock rendering (deterministic under the
    # pinned UTC session; valid on TIMESTAMP and TIMESTAMP_NTZ alike) sorts
    # lexicographically == chronologically, so it is the same total order as
    # the oracle's epoch_us key (ord is internal: only the min_by/max_by
    # winners are compared, never the key itself).
    ordk = F.format_string(
        "%s:%012d", F.date_format("ts", "yyyyMMddHHmmssSSSSSS"), F.col("event_id")
    )
    return (
        ev.select("ts", "event_type", "value", ordk.alias("ord"))
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.round(F.min_by("value", F.col("ord")), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", F.col("ord")), 2).alias("close"),
            F.count("*").alias("n"),
            dsum("value").alias("volume"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n",
            "volume",
        )
    )


@REGISTRY.register(
    "ts14_resample_ffill",
    oracle="""
    WITH bounds AS (
      SELECT time_bucket(INTERVAL '1 hour', MIN(ts)) AS t0,
             time_bucket(INTERVAL '1 hour', MAX(ts)) AS t1
      FROM events
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(t0, t1, INTERVAL '1 hour')) AS slot
      FROM bounds CROSS JOIN (SELECT DISTINCT event_type FROM events)
    ),
    hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS slot, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    ),
    joined AS (
      SELECT g.event_type, g.slot, h.n, h.sum_value,
             COUNT(h.n) OVER (PARTITION BY g.event_type ORDER BY g.slot) AS grp
      FROM grid g LEFT JOIN hourly h ON h.slot = g.slot AND h.event_type = g.event_type
    )
    SELECT event_type,
           strftime(slot, '%Y-%m-%d %H:%M:%S') AS slot_start,
           coalesce(n, 0) AS n,
           first_value(sum_value) OVER (PARTITION BY event_type, grp ORDER BY slot)
               AS sum_value_ffill,
           n IS NULL AS gap_filled
    FROM joined
    """,
    doc="Resample to a fixed 1-hour grid with forward-fill — the "
    "timeseries gap-fill staple (TimescaleDB time_bucket_gapfill / "
    "pandas resample().ffill()). The dense grid comes from sequence() + "
    "explode over the observed bound (per group: #slots rows, tiny vs "
    "the fact table); missing slots left-join to NULL and inherit the "
    "last observed aggregate via the count-over-nulls run-group trick "
    "(count ignores NULLs, so each gap shares its predecessor's group "
    "id) — no UDF, no per-row loop, one shuffle on event_type.",
    tags=("timeseries", "resample", "gapfill"),
)
def ts14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("slot"), "event_type", "n", "sum_value")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = (
        bounds.crossJoin(ev.select("event_type").distinct())
        .select(
            "event_type",
            F.explode(
                F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
            ).alias("slot"),
        )
    )
    joined = grid.join(hourly, ["slot", "event_type"], "left")
    wgrp = Window.partitionBy("event_type").orderBy("slot")
    wfill = Window.partitionBy("event_type", "grp").orderBy("slot")
    return (
        joined.withColumn("grp", F.count("n").over(wgrp))
        .select(
            "event_type",
            F.date_format("slot", "yyyy-MM-dd HH:mm:ss").alias("slot_start"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.first("sum_value").over(wfill).alias("sum_value_ffill"),
            F.col("n").isNull().alias("gap_filled"),
        )
    )


@REGISTRY.register(
    "ts15_zscore_anomaly",
    oracle="""
    WITH scored AS (
      SELECT event_type, value,
             AVG(value)         OVER w AS mu,
             STDDEV_SAMP(value) OVER w AS sd,
             COUNT(*)           OVER w AS n_prev
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           COUNT(*) AS n_scored,
           CAST(SUM(CASE WHEN round(abs((value - mu) / sd), 6) > 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           round(MAX(abs((value - mu) / sd)), 6) AS max_abs_z
    FROM scored
    WHERE n_prev >= 30 AND sd > 1e-9
    GROUP BY event_type
    """,
    doc="Rolling z-score anomaly detection: each event is scored against "
    "the mean/stddev of the PRECEDING 100 events of its type (strictly "
    "preceding frame - no self-leakage), flagged when |z| > 3, and "
    "summarized per type. Warm-up guard: rows with fewer than 30 "
    "predecessors are unscored, and zero-variance windows are skipped. "
    "One shuffle on event_type, then a within-partition ordered frame - "
    "the moving aggregate is O(1) per row (add/evict), not O(frame). At "
    "100 TB event_type is low-cardinality, so the scale path is the "
    "same query over (event_type, coarse time bucket) salted keys; the "
    "frame semantics are unchanged because buckets overlap by 100 rows. "
    "The z comparison uses the 6-dp rounded value so an ulp of stddev "
    "drift cannot flip a flag between engines.",
    tags=("timeseries", "anomaly", "window-frame"),
)
def ts15(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-100, -1)
    )
    scored = ev.select(
        "event_type",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count("*").over(w).alias("n_prev"),
    )
    z = F.abs((F.col("value") - F.col("mu")) / F.col("sd"))
    return (
        scored.filter((F.col("n_prev") >= 30) & (F.col("sd") > 1e-9))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_scored"),
            F.sum(F.when(F.round(z, 6) > 3, 1).otherwise(0))
            .cast("long")
            .alias("n_anomalies"),
            F.round(F.max(z), 6).alias("max_abs_z"),
        )
    )


@REGISTRY.register(
    "ts16_time_weighted_avg",
    oracle="""
    WITH stepped AS (
      SELECT event_type,
             date_trunc('hour', ts) AS hr,
             epoch_us(ts) AS t_us,
             value,
             LEAD(epoch_us(ts)) OVER w AS t_next,
             LEAD(value)        OVER w AS v_next
      FROM events
      WINDOW w AS (PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id)
    )
    SELECT event_type,
           strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_events,
           round(SUM((t_next - t_us) * (value + v_next) / 2.0)
                 / SUM(t_next - t_us), 6) AS twa
    FROM stepped
    WHERE t_next IS NOT NULL
    GROUP BY event_type, hr
    HAVING SUM(t_next - t_us) > 0
    """,
    doc="Time-weighted average per (event_type, hour): trapezoidal "
    "integration over consecutive samples — the TimescaleDB/kdb-style "
    "TWA that a plain AVG gets wrong on irregularly-spaced series "
    "(a value held for 50 minutes must weigh more than one held for "
    "10 seconds). lead() pairs each sample with its successor inside "
    "the hour (deterministic order: ts, then unique event_id); the "
    "weight is the inter-sample gap in epoch-µs, so both engines "
    "integrate in exact integer time. Hours with a single sample or "
    "zero total span carry no area and are excluded. One shuffle on "
    "(event_type, hour) — the window and the aggregation share it; at "
    "100 TB the key space is (types x hours), perfectly parallel and "
    "unskewed. n_events counts samples (pairs + 1).",
    tags=("timeseries", "twa", "window-frame"),
)
def ts16(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # Project the hour bucket BEFORE the window so the window partition key
    # and the downstream groupBy key are the same attribute — Catalyst then
    # reuses one hash partitioning for both (1 exchange, not 2).
    bucketed = ev.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "ts",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        "value",
    )
    w = Window.partitionBy("event_type", "hr").orderBy("ts", "event_id")
    stepped = bucketed.select(
        "event_type",
        "hr",
        "t_us",
        "value",
        F.lead("t_us").over(w).alias("t_next"),
        F.lead("value").over(w).alias("v_next"),
    ).filter(F.col("t_next").isNotNull())
    area = (F.col("t_next") - F.col("t_us")) * (F.col("value") + F.col("v_next")) / 2.0
    span = F.col("t_next") - F.col("t_us")
    return (
        stepped.groupBy("event_type", "hr")
        .agg(
            (F.count("*") + 1).cast("long").alias("n_events"),
            F.sum(area).alias("_area"),
            F.sum(span).alias("_span"),
        )
        .filter(F.col("_span") > 0)
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "n_events",
            F.round(F.col("_area") / F.col("_span"), 6).alias("twa"),
        )
    )


@REGISTRY.register(
    "ts17_interpolate",
    oracle="""
    WITH bounds AS (
      SELECT time_bucket(INTERVAL '1 hour', MIN(ts)) AS t0,
             time_bucket(INTERVAL '1 hour', MAX(ts)) AS t1
      FROM events
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(t0, t1, INTERVAL '1 hour')) AS slot
      FROM bounds CROSS JOIN (SELECT DISTINCT event_type FROM events)
    ),
    hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS slot, event_type,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(value) AS v
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT g.event_type, g.slot, h.v,
             COUNT(h.v) OVER (PARTITION BY g.event_type ORDER BY g.slot) AS grp,
             COUNT(h.v) OVER (PARTITION BY g.event_type ORDER BY g.slot DESC) AS rgrp
      FROM grid g
      LEFT JOIN hourly h ON h.slot = g.slot AND h.event_type = g.event_type
    ),
    f AS (
      SELECT event_type, slot, v,
             first_value(v) OVER (PARTITION BY event_type, grp ORDER BY slot) AS pv,
             first_value(slot) OVER (PARTITION BY event_type, grp ORDER BY slot)
                 AS pslot,
             first_value(v) OVER (PARTITION BY event_type, rgrp ORDER BY slot DESC)
                 AS nv,
             first_value(slot) OVER (PARTITION BY event_type, rgrp ORDER BY slot DESC)
                 AS nslot
      FROM j
    )
    SELECT event_type, strftime(slot, '%Y-%m-%d %H:%M:%S') AS slot_start,
           v IS NULL AS interpolated,
           round(CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv) * (CAST(epoch(slot) - epoch(pslot) AS DOUBLE)
                                 / (epoch(nslot) - epoch(pslot)))
             WHEN pv IS NOT NULL THEN pv
             ELSE nv END, 6) AS value_interp
    FROM f
    """,
    doc="Resample to a 1-hour grid with LINEAR INTERPOLATION across gaps — "
    "the companion to ts14's forward-fill (TimescaleDB "
    "time_bucket_gapfill + interpolate(); pandas resample().interpolate"
    "()). The previous known sample comes from ts14's count-over-nulls "
    "run-group trick; the NEXT known sample comes from the same trick "
    "run in reverse slot order — two window passes over the dense grid, "
    "no UDF, no self-join, one shuffle on event_type. Leading/trailing "
    "gaps (no sample on one side) degrade to nearest-fill. Grid rows "
    "per group = #slots (corpus-independent), so at 100 TB the window "
    "state is bounded by the time span, not the event volume; the fact "
    "scan contributes only the hourly pre-aggregate (map-side combine). "
    "Interpolation weights are integer-second ratios of exact decimal "
    "means, rounded at 6 dp so both engines emit identical doubles.",
    tags=("timeseries", "resample", "gapfill", "interpolate"),
)
def ts17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(davg("value").alias("v"))
        .select(F.col("w.start").alias("slot"), "event_type", "v")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = bounds.crossJoin(ev.select("event_type").distinct()).select(
        "event_type",
        F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))).alias("slot"),
    )
    j = grid.join(hourly, ["slot", "event_type"], "left")
    wf = Window.partitionBy("event_type").orderBy("slot")
    wr = Window.partitionBy("event_type").orderBy(F.desc("slot"))
    j = j.withColumn("grp", F.count("v").over(wf)).withColumn(
        "rgrp", F.count("v").over(wr)
    )
    wg = Window.partitionBy("event_type", "grp").orderBy("slot")
    wrg = Window.partitionBy("event_type", "rgrp").orderBy(F.desc("slot"))
    f = (
        j.withColumn("pv", F.first("v").over(wg))
        .withColumn("pslot", F.first("slot").over(wg))
        .withColumn("nv", F.first("v").over(wrg))
        .withColumn("nslot", F.first("slot").over(wrg))
    )
    frac = (
        (F.unix_timestamp("slot") - F.unix_timestamp("pslot")).cast("double")
        / (F.unix_timestamp("nslot") - F.unix_timestamp("pslot")).cast("double")
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return f.select(
        "event_type",
        F.date_format("slot", "yyyy-MM-dd HH:mm:ss").alias("slot_start"),
        F.col("v").isNull().alias("interpolated"),
        F.round(interp, 6).alias("value_interp"),
    )


@REGISTRY.register(
    "ts18_cusum_change",
    oracle="""
    WITH RECURSIVE hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS slot,
             round(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(value), 6) AS m
      FROM events GROUP BY 1, 2
    ),
    mu AS (
      SELECT event_type,
             CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu
      FROM hourly GROUP BY 1
    ),
    devs AS (
      SELECT h.event_type, list(round(m - mu, 6) ORDER BY slot) AS dev
      FROM hourly h JOIN mu USING (event_type) GROUP BY 1
    ),
    walk(event_type, i, s, mx) AS (
      SELECT event_type, 1, greatest(0, dev[1]), greatest(0, dev[1]) FROM devs
      UNION ALL
      SELECT w.event_type, w.i + 1,
             greatest(0, w.s + d.dev[w.i + 1]),
             greatest(w.mx, greatest(0, w.s + d.dev[w.i + 1]))
      FROM walk w JOIN devs d USING (event_type) WHERE w.i < len(d.dev)
    )
    SELECT w.event_type, CAST(len(d.dev) AS BIGINT) AS n_slots,
           round(w.mx, 6) AS max_cusum, round(w.s, 6) AS final_cusum
    FROM walk w JOIN devs d USING (event_type) WHERE w.i = len(d.dev)
    """,
    doc="One-sided CUSUM change detection per event_type (Page 1954): fold "
    "S_i = max(0, S_{i-1} + (m_i - mu)) over the hourly-mean series and "
    "report the peak — the classic drift/level-shift detector that "
    "per-window z-scores (ts15) miss because it ACCUMULATES small "
    "persistent deviations. The recurrence is ts12's no-UDF ordered-"
    "left-fold pattern extended to a STRUCT accumulator (running value + "
    "running max in one pass); the oracle replays it with a recursive-"
    "CTE walk, so the order-sensitive recurrence is still bit-checked. "
    "Per-type state is one #slots-long array (bounded by the time span, "
    "not event volume) and the plan is one event_type exchange; inputs "
    "are 6dp-pinned so both engines fold identical doubles.",
    tags=("timeseries", "cusum", "changepoint", "fold"),
)
def ts18(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.round(davg("value"), 6).alias("m"))
        .select("event_type", F.col("w.start").alias("slot"), "m")
    )
    mu = hourly.groupBy("event_type").agg(
        (F.sum(F.col("m").cast("decimal(18,6)")).cast("double") / F.count("*")).alias("mu")
    )
    devs = (
        hourly.join(mu, "event_type")
        .groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("slot", F.round(F.col("m") - F.col("mu"), 6).alias("d"))
                    )
                ),
                lambda s: s["d"],
            ).alias("dev")
        )
    )
    zero = F.lit(0.0)
    step = lambda acc, x: F.struct(  # noqa: E731 — inline fold step
        F.greatest(zero, acc["s"] + x).alias("s"),
        F.greatest(acc["m"], F.greatest(zero, acc["s"] + x)).alias("m"),
    )
    fold = F.aggregate(
        "dev", F.struct(zero.alias("s"), zero.alias("m")), step
    )
    return devs.select(
        "event_type",
        F.size("dev").cast("long").alias("n_slots"),
        F.round(fold["m"], 6).alias("max_cusum"),
        F.round(fold["s"], 6).alias("final_cusum"),
    )


@REGISTRY.register(
    "ts19_seasonal_residual",
    oracle="""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS slot,
             hour(ts) AS hod,
             round(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(value), 6) AS m
      FROM events GROUP BY 1, 2, 3
    ),
    profile AS (
      SELECT event_type, hod,
             CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS prof
      FROM hourly GROUP BY 1, 2
    ),
    resid AS (
      SELECT h.event_type, strftime(h.slot, '%Y-%m-%d %H:%M:%S') AS slot_start,
             round(h.m - p.prof, 6) AS residual,
             row_number() OVER (PARTITION BY h.event_type
                                ORDER BY abs(round(h.m - p.prof, 6)) DESC,
                                         h.slot) AS rk
      FROM hourly h
      JOIN profile p ON h.event_type = p.event_type AND h.hod = p.hod
    )
    SELECT event_type, slot_start, residual FROM resid WHERE rk <= 3
    """,
    doc="Seasonal-baseline anomaly detection: build each event_type's "
    "hour-of-day profile (the seasonal-naive forecast — mean of that "
    "hour-of-day's hourly means across days), subtract it, and report "
    "the top-3 absolute residuals per type. Catches the anomaly class "
    "both z-scores (ts15) and CUSUM (ts18) mis-handle: a spike that is "
    "NORMAL at 18:00 but anomalous at 04:00 — deviation is measured "
    "against the seasonal profile, not a global or rolling mean. The "
    "24-row-per-type profile joins broadcast back to the hourly frame; "
    "the top-3 rank window prunes partially (WindowGroupLimit). At "
    "100 TB the fact contributes only the hourly pre-aggregate — "
    "everything after is profile-sized. 6dp-pinned means + exact "
    "decimal profile averages keep both engines' residuals identical.",
    tags=("timeseries", "seasonal", "anomaly", "profile"),
)
def ts19(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.window("ts", "1 hour").alias("w"),
            F.hour("ts").alias("hod"),
        )
        .agg(F.round(davg("value"), 6).alias("m"))
        .select("event_type", F.col("w.start").alias("slot"), "hod", "m")
    )
    profile = hourly.groupBy("event_type", "hod").agg(
        (F.sum(F.col("m").cast("decimal(18,6)")).cast("double") / F.count("*")).alias(
            "prof"
        )
    )
    resid = hourly.join(F.broadcast(profile), ["event_type", "hod"]).select(
        "event_type",
        F.date_format("slot", "yyyy-MM-dd HH:mm:ss").alias("slot_start"),
        F.round(F.col("m") - F.col("prof"), 6).alias("residual"),
        F.col("slot"),
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.abs(F.col("residual")).desc(), "slot")
    )
    return (
        resid.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select("event_type", "slot_start", "residual")
    )


@REGISTRY.register(
    "ts20_churn_gaps",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS BIGINT) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(ts) AS last_ts,
             quantile_cont(gap_us, 0.5) AS median_gap_us
      FROM gaps GROUP BY 1 HAVING COUNT(*) >= 3
    ),
    horizon AS (SELECT MAX(ts) AS h FROM events)
    SELECT p.user_id, p.n_events,
           strftime(p.last_ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
           p.median_gap_us,
           CAST(epoch_us(horizon.h) - epoch_us(p.last_ts) AS BIGINT)
               AS silence_us,
           CAST(CASE WHEN epoch_us(horizon.h) - epoch_us(p.last_ts)
                          > 3 * p.median_gap_us
                     THEN 1 ELSE 0 END AS BIGINT) AS churned
    FROM per_user p CROSS JOIN horizon
    """,
    doc="Churn detection from inter-event gap statistics: a user whose "
    "silence since their last event exceeds 3x their OWN median "
    "inter-event gap has broken their personal rhythm — the "
    "per-entity-baseline churn rule (a global inactivity cutoff "
    "misclassifies both daily and monthly users; ts15/ts19 apply the "
    "same own-baseline idea to values, this applies it to TIMING). One "
    "(user_id) exchange computes lag gaps, the event count, last-seen, "
    "and the median gap in a single partition pass; the corpus horizon "
    "(max ts) is a scalar broadcast. Gaps stay in integer "
    "microseconds END TO END (the 0.5-quantile midpoint of two longs is "
    "exact in double, and the churn comparison runs in the us domain), "
    "so no value ever sits on a rounding boundary; ties in the event "
    "order break on event_id. At 100 TB this is the sessionize "
    "shuffle (ts02) with a percentile instead of a gap threshold — "
    "same single-exchange shape, user-count-bounded output.",
    tags=("timeseries", "churn", "gaps", "percentile"),
)
def ts20(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        "ts",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).cast("long").alias("gap_us"),
    )
    per_user = (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("ts").alias("last_ts"),
            F.percentile("gap_us", F.lit(0.5)).alias("median_gap_us"),
        )
        .filter(F.col("n_events") >= 3)
    )
    horizon = ev.agg(F.max("ts").alias("h"))
    silence_us = F.unix_micros("h") - F.unix_micros("last_ts")
    return per_user.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        "n_events",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        "median_gap_us",
        silence_us.cast("long").alias("silence_us"),
        F.when(silence_us > 3 * F.col("median_gap_us"), 1)
        .otherwise(0)
        .cast("long")
        .alias("churned"),
    )


@REGISTRY.register(
    "ts21_trend_forecast",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    origin AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    idx AS (
      SELECT d.event_type,
             CAST(date_diff('day', o.d0, d.day) AS DOUBLE) AS x, d.n
      FROM daily d CROSS JOIN origin o
    ),
    fit AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             regr_slope(n, x) AS slope,
             regr_intercept(n, x) AS intercept,
             MAX(x) AS x_max
      FROM idx GROUP BY 1
    )
    SELECT event_type, n_days,
           round(slope, 6) AS slope_per_day,
           round(intercept + slope * (x_max + 1), 6) AS next_day_forecast
    FROM fit
    """,
    doc="Per-series trend forecast: ordinary-least-squares fit of daily "
    "event volume against the day index via the regr_* moment "
    "aggregates, extrapolated one step ahead — the capacity-planning / "
    "volume-alerting baseline every pipeline dashboard starts from "
    "(and the drift detector ts18 complements: CUSUM finds WHEN volume "
    "broke, this says WHERE it is heading). The daily pre-aggregation "
    "is one (type, day) combiner-shrunk exchange; the regression then "
    "runs on |types| x |days| rows via single-pass moment formulas "
    "(regr_slope/intercept are sum-of-products aggregates — no "
    "iteration, no matrix solve), so at 100 TB the fit costs one "
    "scan + a tiny second agg, like ts09's rollup. Day indices are "
    "exact integers from a shared origin so both engines' moments "
    "agree to rounding.",
    tags=("timeseries", "forecast", "regression", "trend"),
)
def ts21(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    origin = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    idx = daily.crossJoin(F.broadcast(origin)).select(
        "event_type",
        F.datediff("day", "d0").cast("double").alias("x"),
        "n",
    )
    fit = idx.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.regr_slope("n", "x").alias("slope"),
        F.regr_intercept("n", "x").alias("intercept"),
        F.max("x").alias("x_max"),
    )
    return fit.select(
        "event_type",
        "n_days",
        F.round("slope", 6).alias("slope_per_day"),
        F.round(F.col("intercept") + F.col("slope") * (F.col("x_max") + 1), 6).alias(
            "next_day_forecast"
        ),
    )


@REGISTRY.register(
    "ts22_holt_smoothing",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, list(y ORDER BY day) AS ys
      FROM daily GROUP BY 1 HAVING COUNT(*) >= 2
    ),
    walk(event_type, i, l, b) AS (
      SELECT event_type, 2, ys[2]*0.5 + (ys[1] + (ys[2]-ys[1]))*0.5,
             ((ys[2]*0.5 + (ys[1] + (ys[2]-ys[1]))*0.5) - ys[1])*0.25
               + (ys[2]-ys[1])*0.75
      FROM series
      UNION ALL
      SELECT w.event_type, w.i + 1,
             s.ys[w.i + 1]*0.5 + (w.l + w.b)*0.5,
             ((s.ys[w.i + 1]*0.5 + (w.l + w.b)*0.5) - w.l)*0.25 + w.b*0.75
      FROM walk w JOIN series s USING (event_type) WHERE w.i < len(s.ys)
    )
    SELECT w.event_type, CAST(len(s.ys) AS BIGINT) AS n_days,
           round(w.l, 6) AS level, round(w.b, 6) AS trend,
           round(w.l + 7 * w.b, 6) AS forecast_7d
    FROM walk w JOIN series s USING (event_type) WHERE w.i = len(s.ys)
    """,
    doc="Holt's linear (double-exponential) smoothing per event_type over "
    "daily volume — forecasting tier 2: unlike ts21's global OLS line, "
    "the level/trend pair adapts to recent data, which is what "
    "operational forecasts actually use (alpha=0.5, beta=0.25 — "
    "binary-exact constants, so both engines' folds are bit-identical "
    "with NO input rounding; daily counts are exact integers). The "
    "coupled recurrence l_t = a*y + (1-a)(l+b), b_t = g*(l_t - l) + "
    "(1-g)*b is ts12/ts18's no-UDF ordered-left-fold with a 2-field "
    "struct accumulator; the oracle replays it as a recursive-CTE walk "
    "so the order-sensitive recurrence is value-checked end to end. "
    "Per-type state is one #days-long array (time-span-bounded); one "
    "(type, day) combiner exchange, then a |types|-row fold — at "
    "100 TB the fold input is the pre-aggregated daily frame, never "
    "events.",
    tags=("timeseries", "forecast", "smoothing", "fold"),
)
def ts22(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("double").alias("y")
    )
    series = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "y"))), lambda s: s["y"]
            ).alias("ys")
        )
        .filter(F.size("ys") >= 2)
    )
    y1 = F.element_at("ys", 1)
    y2 = F.element_at("ys", 2)
    l2 = y2 * 0.5 + (y1 + (y2 - y1)) * 0.5
    b2 = (l2 - y1) * 0.25 + (y2 - y1) * 0.75
    init = F.struct(l2.alias("l"), b2.alias("b"))
    step = lambda acc, y: F.struct(  # noqa: E731 — Holt update
        (y * 0.5 + (acc["l"] + acc["b"]) * 0.5).alias("l"),
        (((y * 0.5 + (acc["l"] + acc["b"]) * 0.5) - acc["l"]) * 0.25 + acc["b"] * 0.75).alias(
            "b"
        ),
    )
    rest = F.expr("slice(ys, 3, greatest(size(ys) - 2, 0))")
    fold = F.aggregate(rest, init, step)
    return series.select(
        "event_type",
        F.size("ys").cast("long").alias("n_days"),
        F.round(fold["l"], 6).alias("level"),
        F.round(fold["b"], 6).alias("trend"),
        F.round(fold["l"] + 7 * fold["b"], 6).alias("forecast_7d"),
    )


@REGISTRY.register(
    "ts23_session_facts",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
               AS duration_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS converted,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
    FROM numbered GROUP BY 1, 2
    """,
    doc="Session fact table — the materialized artifact sessionization "
    "exists to produce (ts02 counts sessions; this EMITS them): one row "
    "per (user, session) with start, duration, event volume, type "
    "breadth, a conversion flag, and exact-decimal session value — the "
    "grain funnels, LTV models, and engagement dashboards all join "
    "against. The 30-minute-gap rule is ts02's; the session id is the "
    "running sum of new-session flags under the SAME user-keyed ordered "
    "window, so numbering adds no exchange — one user_id shuffle end to "
    "end, then a (user, session) agg with map-side combine. Durations "
    "in integer microseconds; ties order by event_id.",
    tags=("timeseries", "session", "facts", "ltv"),
)
def ts23(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    flagged = ev.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return numbered.groupBy(
        "user_id", F.col("session_no").cast("long").alias("session_no")
    ).agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("long")
        .alias("duration_us"),
        F.count("*").cast("long").alias("n_events"),
        F.count_distinct("event_type").cast("long").alias("n_types"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("converted"),
        dsum("value").alias("session_value"),
    )


@REGISTRY.register(
    "ts24_active_time",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 60000000 AS e,
             event_id
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) >= s
                  THEN 0 ELSE 1 END AS is_new
      FROM iv
    ),
    grouped AS (
      SELECT user_id, s, e,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS UNBOUNDED PRECEDING) AS grp
      FROM flagged
    ),
    merged AS (
      SELECT user_id, grp, MAX(e) - MIN(s) AS span_us
      FROM grouped GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_active_periods,
           CAST(SUM(span_us) AS BIGINT) AS active_us
    FROM merged GROUP BY 1
    """,
    doc="Interval-union active time: each event opens a 1-minute activity "
    "window; overlapping windows merge, and the user's active time is "
    "the union length — the engagement metric raw event counts inflate "
    "(100 events in one minute is one active minute). The merge is the "
    "classic sweep: an interval starts a NEW group iff its start "
    "exceeds the running max of all previous ends (cummax over a "
    "1-PRECEDING frame), groups number by running sum, and each "
    "group's span is max(end)-min(start) — three window passes and two "
    "aggs, ALL under one user_id exchange, no self-join (the naive "
    "interval-overlap join is quadratic per user). Integer-microsecond "
    "arithmetic end to end; ties order by event_id. The same sweep "
    "merges ad-break schedules, maintenance windows, and speech "
    "segments at 100 TB — anything needing coverage length, keyed by "
    "any entity.",
    tags=("timeseries", "intervals", "union", "engagement"),
)
def ts24(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + 60_000_000).alias("e"),
        "event_id",
    )
    w_order = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "is_new", F.when(prev_max_e >= F.col("s"), 0).otherwise(1)
    )
    # Group numbering MUST share the is_new pass's total order (s,
    # event_id): with (s, e) the e = s+60s construction ties completely at
    # equal timestamps, so a tied is_new=0 row could order before its
    # is_new=1 sibling and attach to the PREVIOUS activity period,
    # inflating active_us across a silent gap (and letting engines
    # diverge on the ambiguity).
    w_grp = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    grouped = flagged.withColumn("grp", F.sum("is_new").over(w_grp))
    merged = grouped.groupBy("user_id", "grp").agg(
        (F.max("e") - F.min("s")).alias("span_us")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_active_periods"),
        F.sum("span_us").cast("long").alias("active_us"),
    )


@REGISTRY.register(
    "ts25_cumulative_distinct",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1
    ),
    daily AS (
      SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
    FROM daily
    """,
    doc="Cumulative distinct users by day — the growth-curve staple that "
    "CANNOT be computed as a window count-distinct (distinct is not "
    "frame-decomposable): instead each user reduces to their first-seen "
    "day (one user-keyed agg), first-seen days count into daily "
    "new-user totals, and a running sum over the day-level frame gives "
    "the exact cumulative curve. At 100 TB the only corpus-scale cost "
    "is the first-seen aggregation (map-side combine on user_id); the "
    "running sum runs on |days| rows. Same first-seen trick as ts07's "
    "cohorts, pointed at the growth curve.",
    tags=("timeseries", "distinct", "growth", "window"),
)
def ts25(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("new_users")
    )
    # distributed exact running sum (rankops): the day frame is calendar-
    # sized, but the plan stays single-partition-window-free like every
    # other declared query (and the cumsum source is a long — exact under
    # any regrouping)
    from pyconnect_spark.operators.rankops import with_global_order

    cum = with_global_order(
        daily, [F.asc("day")], cumsum={"new_users": "cumulative_users"}
    )
    return cum.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.col("cumulative_users").cast("long").alias("cumulative_users"),
    )


@REGISTRY.register(
    "ts26_wow_change",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
           lag(n, 7) OVER w AS n_prev_week,
           CAST(n - lag(n, 7) OVER w AS BIGINT) AS wow_delta,
           round((n - lag(n, 7) OVER w) * 100.0 / lag(n, 7) OVER w, 6)
               AS wow_pct
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
    doc="Week-over-week change per series: daily volume joined to itself "
    "7 rows back via lag(n, 7) — the reporting staple behind every "
    "growth dashboard, done without the self-join most SQL ports write "
    "(lag over the ordered day frame is one window pass on the "
    "pre-aggregated |types|x|days| rows; a calendar self-join would "
    "re-shuffle twice). First-week rows keep NULL deltas — honest "
    "no-baseline, not zero. The day grid here is dense per type; for "
    "sparse series compose with ts14's grid densification first so "
    "lag(7) means seven CALENDAR days.",
    tags=("timeseries", "wow", "growth", "window"),
)
def ts26(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("n", 7).over(w)
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        prev.alias("n_prev_week"),
        (F.col("n") - prev).cast("long").alias("wow_delta"),
        F.round((F.col("n") - prev) * 100.0 / prev, 6).alias("wow_pct"),
    )


@REGISTRY.register(
    "ts27_peak_days",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
           CAST(CASE WHEN n > COALESCE(lag(n) OVER w, -1)
                      AND n > COALESCE(lead(n) OVER w, -1)
                     THEN 1 ELSE 0 END AS BIGINT) AS is_peak,
           CAST(CASE WHEN n < COALESCE(lag(n) OVER w, n + 1)
                      AND n < COALESCE(lead(n) OVER w, n + 1)
                     THEN 1 ELSE 0 END AS BIGINT) AS is_trough
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
    doc="Local peak/trough detection per series: a day is a peak iff it "
    "strictly exceeds both calendar neighbors (edges count as peaks "
    "against a -1 sentinel, troughs symmetrically) — the turning-point "
    "annotation layered under every anomaly triage dashboard (ts15/x39 "
    "say a value is EXTREME; this says it is a local EXTREMUM, which "
    "needs neighbors, not distributions). One lag+lead window pass "
    "over the |types|x|days| pre-aggregate — corpus cost is the daily "
    "count exchange the other calendar operators already share. "
    "COALESCE sentinels make edge semantics explicit and identical in "
    "both engines.",
    tags=("timeseries", "peaks", "anomaly", "window"),
)
def ts27(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.coalesce(F.lag("n").over(w), F.lit(-1))
    nxt = F.coalesce(F.lead("n").over(w), F.lit(-1))
    prev_t = F.coalesce(F.lag("n").over(w), F.col("n") + 1)
    nxt_t = F.coalesce(F.lead("n").over(w), F.col("n") + 1)
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.when((F.col("n") > prev) & (F.col("n") > nxt), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_peak"),
        F.when((F.col("n") < prev_t) & (F.col("n") < nxt_t), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_trough"),
    )


@REGISTRY.register(
    "ts28_autocorrelation",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, day, n,
             lag(n, 1) OVER w AS l1,
             lag(n, 2) OVER w AS l2,
             lag(n, 7) OVER w AS l7
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           round(corr(n, l1), 6) AS acf_1,
           round(corr(n, l2), 6) AS acf_2,
           round(corr(n, l7), 6) AS acf_7
    FROM lagged GROUP BY 1
    """,
    doc="Autocorrelation of daily volume at lags 1, 2, and 7 per series — "
    "the seasonality detector that DECIDES which downstream model "
    "applies: high acf_7 says weekly seasonality (use ts19's profile "
    "baseline), high acf_1 says momentum (ts22's Holt trend), all-flat "
    "says white noise (ts15's z-scores suffice). Lagged copies come "
    "from one ordered window pass over the |types|x|days| "
    "pre-aggregate; corr() is a single-pass moment aggregate (same "
    "family as ts21's regr_*), and NULL lag rows drop out of each "
    "pair's correlation exactly as the textbook ACF does. Corpus cost "
    "is the shared daily-count exchange; the statistics run on "
    "calendar-sized frames.",
    tags=("timeseries", "acf", "seasonality", "stats"),
)
def ts28(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "n",
        F.lag("n", 1).over(w).alias("l1"),
        F.lag("n", 2).over(w).alias("l2"),
        F.lag("n", 7).over(w).alias("l7"),
    )
    return lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.corr("n", "l1"), 6).alias("acf_1"),
        F.round(F.corr("n", "l2"), 6).alias("acf_2"),
        F.round(F.corr("n", "l7"), 6).alias("acf_7"),
    )


@REGISTRY.register(
    "ts29_survival_curve",
    oracle="""
    WITH horizon AS (SELECT MAX(ts) AS h FROM events),
    users AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM events GROUP BY 1
    ),
    spans AS (
      SELECT u.user_id,
             CASE WHEN u.tp IS NOT NULL AND u.tp >= u.t0
                  THEN CAST(floor((epoch_us(u.tp) - epoch_us(u.t0)) / 86400e6)
                            AS BIGINT)
                  ELSE CAST(floor((epoch_us(hz.h) - epoch_us(u.t0)) / 86400e6)
                            AS BIGINT) END AS day,
             CASE WHEN u.tp IS NOT NULL AND u.tp >= u.t0 THEN 1 ELSE 0 END
                 AS converted
      FROM users u CROSS JOIN horizon hz
      WHERE u.t0 IS NOT NULL
    ),
    daily AS (
      SELECT day,
             CAST(SUM(converted) AS DOUBLE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS leaving
      FROM spans GROUP BY 1
    ),
    km AS (
      SELECT day, d, leaving,
             SUM(leaving) OVER (ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                 AS n_at_risk
      FROM daily
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_converted,
           CAST(leaving - d AS BIGINT) AS n_censored,
           round(exp(SUM(ln(1 - d / n_at_risk))
                     OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)), 6)
               AS survival
    FROM km WHERE d > 0 OR leaving > d
    """,
    doc="Kaplan-Meier survival of first-view-to-purchase conversion with "
    "RIGHT-CENSORING — the estimator that answers 'what fraction has "
    "not yet converted by day d' WITHOUT the bias of dropping users "
    "the observation window cut off (x41's lag percentiles use only "
    "converters; this uses everyone, which is why survival curves are "
    "the standard for time-to-event). Users reduce to (duration-days, "
    "converted-flag) where non-converters censor at the corpus "
    "horizon; the day-level at-risk counts come from a running sum of "
    "prior departures, and S(d) = prod(1 - d_i/n_i) evaluates in the "
    "log domain as exp(running-sum(ln)) — one ordered window over the "
    "|days| frame, no iteration. Corpus cost is one user-keyed "
    "conditional-MIN pass (ts06's trick); the estimator runs on "
    "calendar-sized rows.",
    tags=("timeseries", "survival", "kaplan-meier", "censoring"),
)
def ts29(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("h"))
    users = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    conv = F.col("tp").isNotNull() & (F.col("tp") >= F.col("t0"))
    spans = (
        users.crossJoin(F.broadcast(horizon))
        .filter(F.col("t0").isNotNull())
        .select(
            F.when(
                conv,
                F.floor((F.unix_micros("tp") - F.unix_micros("t0")) / 86400e6),
            )
            .otherwise(F.floor((F.unix_micros("h") - F.unix_micros("t0")) / 86400e6))
            .cast("long")
            .alias("day"),
            F.when(conv, 1).otherwise(0).alias("converted"),
        )
    )
    daily = spans.groupBy("day").agg(
        F.sum("converted").cast("double").alias("d"),
        F.count("*").cast("double").alias("leaving"),
    )
    # at-risk = everyone who departs on this day or later: a SUFFIX sum
    # over the same day frame, computed as a DISTRIBUTED inclusive cumsum
    # in DESCENDING day order (rankops) — exact, since `leaving` holds
    # integer-valued doubles. Deriving it from a separate COUNT(*) agg
    # would re-execute the whole user-reduction subtree (the plan test
    # pins events at <= 2 scans: horizon + the conditional-MIN pass).
    from pyconnect_spark.operators.rankops import with_global_order

    km = with_global_order(daily, [F.desc("day")], cumsum={"leaving": "n_at_risk"})
    filt = km.filter((F.col("d") > 0) | (F.col("leaving") > F.col("d"))).withColumn(
        "_lnterm", F.log(1 - F.col("d") / F.col("n_at_risk"))
    )
    # KM product in the log domain: a second distributed running sum,
    # ascending this time
    surv = with_global_order(filt, [F.asc("day")], cumsum={"_lnterm": "_lncum"})
    return surv.select(
        F.col("day").cast("long").alias("day"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("n_converted"),
        (F.col("leaving") - F.col("d")).cast("long").alias("n_censored"),
        F.round(F.exp("_lncum"), 6).alias("survival"),
    )


@REGISTRY.register(
    "ts30_burstiness",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS DOUBLE) AS g
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(COUNT(g) AS BIGINT) AS n_gaps,
           round(AVG(g) / 1e6, 6) AS mean_gap_s,
           round(stddev_samp(g) / 1e6, 6) AS std_gap_s,
           round(stddev_samp(g) / AVG(g), 6) AS cv,
           round((stddev_samp(g) - AVG(g)) / (stddev_samp(g) + AVG(g)), 6)
               AS burstiness
    FROM gaps GROUP BY 1
    """,
    doc="Burstiness of each event stream from inter-arrival statistics: "
    "the coefficient of variation of gaps and the Goh-Barabasi "
    "burstiness index B = (sigma - mu)/(sigma + mu) — B near -1 is a "
    "metronome (scheduled jobs), near 0 is Poisson (organic arrivals), "
    "toward +1 is bursty (cascades, incidents, scrapers). This is the "
    "PROCESS-character diagnostic that tells you whether ts01's fixed "
    "windows or ts02's gap sessions fit the stream, and a bot signal "
    "(machine traffic is far from Poisson in either direction). One "
    "type-keyed ordered window for the gaps, then single-pass moment "
    "aggregates — the sessionize exchange with statistics instead of "
    "a threshold.",
    tags=("timeseries", "burstiness", "poisson", "stats"),
)
def ts30(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
        .cast("double")
        .alias("g"),
    )
    mu = F.avg("g")
    sd = F.stddev_samp("g")
    return gaps.groupBy("event_type").agg(
        F.count("g").cast("long").alias("n_gaps"),
        F.round(mu / 1e6, 6).alias("mean_gap_s"),
        F.round(sd / 1e6, 6).alias("std_gap_s"),
        F.round(sd / mu, 6).alias("cv"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
    )


@REGISTRY.register(
    "ts31_transition_latency",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur, ts,
             lead(event_type) OVER w AS nxt,
             CAST(epoch_us(lead(ts) OVER w) - epoch_us(ts) AS BIGINT)
                 AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT cur AS cur_event, nxt AS next_event,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           quantile_cont(gap_us, 0.5) AS p50_gap_us,
           quantile_cont(gap_us, 0.9) AS p90_gap_us
    FROM seq WHERE nxt IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Transition latency distribution: for every adjacent event-type "
    "pair in a user's stream, the median and p90 time between them — "
    "x46 says WHICH transitions happen, this says HOW FAST (the "
    "hesitation map: a slow view->click is friction, a sub-second "
    "click->purchase is a bot), generalizing x41's single view->"
    "purchase lag to the full transition matrix. Pairs and gaps come "
    "from one lead() pass under the user exchange; percentiles "
    "aggregate on |types|²-bounded keys in exact integer microseconds "
    "(0.5/0.9 interpolation of longs is exact in double — ts20's "
    "no-rounding-boundary rule).",
    tags=("timeseries", "latency", "transitions", "percentile"),
)
def ts31(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts"))
        .cast("long")
        .alias("gap_us"),
    ).filter(F.col("nxt").isNotNull())
    return seq.groupBy(
        F.col("cur").alias("cur_event"), F.col("nxt").alias("next_event")
    ).agg(
        F.count("*").cast("long").alias("n_transitions"),
        F.percentile("gap_us", F.lit(0.5)).alias("p50_gap_us"),
        F.percentile("gap_us", F.lit(0.9)).alias("p90_gap_us"),
    )


@REGISTRY.register(
    "ts32_weekday_weekend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    split AS (
      SELECT event_type,
             CASE WHEN dayofweek(day) IN (0, 6) THEN 'weekend'
                  ELSE 'weekday' END AS kind,
             n
      FROM daily
    )
    SELECT event_type,
           round(AVG(CASE WHEN kind = 'weekday' THEN n END), 6)
               AS weekday_avg,
           round(AVG(CASE WHEN kind = 'weekend' THEN n END), 6)
               AS weekend_avg,
           round(AVG(CASE WHEN kind = 'weekend' THEN n END)
                 / AVG(CASE WHEN kind = 'weekday' THEN n END), 6)
               AS weekend_ratio
    FROM split GROUP BY 1
    """,
    doc="Weekday-vs-weekend volume profile per series: average daily "
    "count on each day class and their ratio — the coarse weekly-"
    "seasonality summary (consumer traffic ratios > 1, B2B << 1) that "
    "reads in one number what ts28's acf_7 detects statistically, and "
    "the capacity-planning split behind weekday/weekend autoscaling "
    "schedules. DuckDB's dayofweek is 0=Sunday while Spark's "
    "dayofweek is 1=Sunday — the oracle encodes each engine's own "
    "convention so the day classes align (a real cross-engine port "
    "trap). One conditional-avg pass over the shared daily frame.",
    tags=("timeseries", "seasonality", "profile", "capacity"),
)
def ts32(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    # Spark dayofweek: 1=Sunday..7=Saturday; weekend = {1, 7}
    kind = F.when(F.dayofweek("day").isin(1, 7), "weekend").otherwise("weekday")
    split = daily.select("event_type", kind.alias("kind"), "n")
    wd = F.avg(F.when(F.col("kind") == "weekday", F.col("n")))
    we = F.avg(F.when(F.col("kind") == "weekend", F.col("n")))
    return split.groupBy("event_type").agg(
        F.round(wd, 6).alias("weekday_avg"),
        F.round(we, 6).alias("weekend_avg"),
        F.round(we / wd, 6).alias("weekend_ratio"),
    )


@REGISTRY.register(
    "ts33_rolling_wau",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    support AS (
      SELECT user_id, day + CAST(o.off AS INT) AS window_end
      FROM user_days,
           LATERAL (SELECT unnest(range(0, 7)) AS off) o
    ),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM user_days)
    SELECT strftime(s.window_end, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS wau
    FROM support s CROSS JOIN span
    WHERE s.window_end BETWEEN span.d0 AND span.d1
    GROUP BY 1
    """,
    doc="Rolling 7-day active users per day — the WAU curve every product "
    "dashboard shows, and a textbook trap: DISTINCT is not "
    "frame-decomposable, so a window count-distinct over a 7-day frame "
    "is impossible and daily-distinct sums overcount. The correct "
    "decomposition: each (user, active-day) pair SUPPORTS the 7 window "
    "ends it falls inside, so exploding user-days by offsets 0..6 and "
    "distinct-counting per window end gives the exact answer — a "
    "bounded 7x expansion of the deduplicated user-day frame (NOT raw "
    "events), then one (day, user) distinct. Window ends clamp to the "
    "observed span so partial leading windows keep honest semantics "
    "(the first 6 days really do have fewer contributing days).",
    tags=("timeseries", "wau", "distinct", "rolling"),
)
def ts33(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    user_days = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    support = user_days.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
    ).select("user_id", F.date_add("day", F.col("off").cast("int")).alias("window_end"))
    span = user_days.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    return (
        support.crossJoin(F.broadcast(span))
        .filter(F.col("window_end").between(F.col("d0"), F.col("d1")))
        .groupBy(F.date_format("window_end", "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
    )


@REGISTRY.register(
    "ts34_feed_continuity",
    oracle="""
    WITH present AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events
    ),
    gaps AS (
      SELECT event_type, day,
             CAST(date_diff('day', lag(day) OVER w, day) AS BIGINT) AS gap
      FROM present WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS days_present,
           CAST(date_diff('day', MIN(day), MAX(day)) + 1 AS BIGINT)
               AS span_days,
           CAST(date_diff('day', MIN(day), MAX(day)) + 1 - COUNT(*) AS BIGINT)
               AS days_missing,
           CAST(COALESCE(MAX(gap), 1) AS BIGINT) AS longest_gap_days
    FROM gaps GROUP BY 1
    """,
    doc="Feed-continuity audit per event stream: days present vs the "
    "calendar span, missing-day count, and the longest day gap — the "
    "data-SLA monitor that catches silently dead upstream feeds "
    "(days_missing > 0 on a feed that should be daily is an incident, "
    "and longest_gap tells you whether it was one blip or an outage; "
    "x44 checks rows that ARRIVED, this checks rows that DIDN'T). The "
    "distinct (type, day) frame is calendar-sized; gaps come from one "
    "lag() pass, and the summary needs no calendar spine because "
    "span - present = missing (the spine-join of ts14 is only needed "
    "when you must LIST the missing days).",
    tags=("timeseries", "continuity", "sla", "monitoring"),
)
def ts34(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    present = ev.select(
        "event_type", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("day")
    gaps = present.withColumn(
        "gap", F.datediff("day", F.lag("day").over(w)).cast("long")
    )
    span = F.datediff(F.max("day"), F.min("day")) + 1
    return gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("days_present"),
        span.cast("long").alias("span_days"),
        (span - F.count("*")).cast("long").alias("days_missing"),
        F.coalesce(F.max("gap"), F.lit(1)).cast("long").alias("longest_gap_days"),
    )


@REGISTRY.register(
    "ts35_dow_hour_heatmap",
    oracle="""
    WITH h AS (
      SELECT CAST(isodow(ts) AS BIGINT) AS dow,
             CAST(hour(ts) AS BIGINT) AS hour, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT dow, hour, CAST(n AS BIGINT) AS n_events,
           round(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share
    FROM h
    """,
    doc="Weekly activity heatmap: event counts and corpus share by (ISO "
    "day-of-week, hour) — the 7x24 seasonality fingerprint that traffic "
    "shaping, capacity planning, and anomaly baselines all start from. "
    "One combiner-shrunk aggregate over the fact (the heavy exchange "
    "carries at most 168 buckets per map task); the share window runs on "
    "the 168-row result, never the fact. Spark's dayofweek() is "
    "Sunday=1, so ISO numbering is derived arithmetically to match the "
    "oracle's isodow().",
    tags=("timeseries", "seasonality", "heatmap"),
)
def ts35(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy(
        (((F.dayofweek("ts") + 5) % 7) + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count("*").alias("n"))
    # grand total via broadcast scalar (ReusedExchange on the 168-row agg),
    # not a SUM() OVER () single-partition window
    tot = agg.agg(F.sum("n").alias("_tot"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hour",
        F.col("n").cast("long").alias("n_events"),
        F.round(F.col("n").cast("double") / F.col("_tot"), 6).alias("share"),
    )


@REGISTRY.register(
    "ts36_mad_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, quantile_cont(n, 0.5) AS med FROM daily GROUP BY 1
    ),
    mad AS (
      SELECT d.event_type, m.med,
             quantile_cont(abs(d.n - m.med), 0.5) AS mad
      FROM daily d JOIN med m USING (event_type) GROUP BY 1, 2
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           round(a.med, 6) AS med_daily,
           round(a.mad, 6) AS mad_daily,
           CAST(SUM(CASE WHEN abs(d.n - a.med) > 3 * a.mad AND a.mad > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM daily d JOIN mad a USING (event_type)
    GROUP BY 1, a.med, a.mad
    """,
    doc="Robust daily-volume anomaly detection per event stream: median "
    "and MAD (median absolute deviation) of daily counts, days flagged "
    "where |count - median| > 3*MAD — the robust twin of ts15's "
    "z-score (a single 100x spike day inflates a stddev enough to mask "
    "itself; it cannot move a median). Two exact-median passes over the "
    "DAILY frame (calendar-sized, not event-sized — the fact collapses "
    "to (type, day) counts first with map-side combine); at 100 TB the "
    "medians switch to approx_percentile sketches and the daily frame "
    "is the rollup table ts09 maintains. MAD=0 (over half the days "
    "share one count) disables flagging rather than flagging everything. "
    "Integer counts keep both engines' interpolated medians on exact "
    "dyadic values, so the > comparison cannot knife-edge diverge.",
    tags=("timeseries", "anomaly", "robust", "monitoring"),
)
def ts36(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    med = daily.groupBy("event_type").agg(F.percentile("n", 0.5).alias("med"))
    mad = (
        daily.join(med, "event_type")
        .groupBy("event_type", "med")
        .agg(F.percentile(F.abs(F.col("n") - F.col("med")), 0.5).alias("mad"))
    )
    return (
        daily.join(mad, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum(
                F.when(
                    (F.abs(F.col("n") - F.col("med")) > 3 * F.col("mad"))
                    & (F.col("mad") > 0),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalies"),
        )
        .select(
            "event_type",
            "n_days",
            F.round("med", 6).alias("med_daily"),
            F.round("mad", 6).alias("mad_daily"),
            "n_anomalies",
        )
    )


@REGISTRY.register(
    "ts37_interarrival_quantiles",
    oracle="""
    WITH g AS (
      SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)) / 1e6 AS gap_s
      FROM events
    )
    SELECT CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
           round(quantile_cont(gap_s, 0.5), 6) AS p50_s,
           round(quantile_cont(gap_s, 0.9), 6) AS p90_s,
           round(quantile_cont(gap_s, 0.99), 6) AS p99_s,
           round(AVG(gap_s), 6) AS mean_s
    FROM g WHERE gap_s IS NOT NULL
    """,
    doc="Inter-arrival time distribution: per-user event gaps (lag under "
    "one user_id exchange, microsecond integers until the final divide) "
    "summarized as exact p50/p90/p99/mean — the latency-profile shape "
    "of user behavior (bursty vs paced) and the empirical basis for "
    "session-timeout choices (ts02's 30-minute gap should sit far in "
    "this distribution's tail). Exact percentile here is the "
    "oracle-checkable tier: it buffers the gap column per partial "
    "aggregate, so at 100 TB the production tier swaps in "
    "approx_percentile (t-digest sketch, mergeable, same call shape) "
    "while this exact form remains the small-slice auditor.",
    tags=("timeseries", "interarrival", "percentiles"),
)
def ts37(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        ((us - F.lag(us).over(w)) / F.lit(1e6)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return gaps.agg(
        F.count("gap_s").cast("long").alias("n_gaps"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 6).alias("p50_s"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 6).alias("p90_s"),
        F.round(F.percentile("gap_s", F.lit(0.99)), 6).alias("p99_s"),
        F.round(F.avg("gap_s"), 6).alias("mean_s"),
    )


@REGISTRY.register(
    "ts38_dau_mau_stickiness",
    oracle="""
    WITH d AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS month,
             CAST(ts AS DATE) AS day, user_id
      FROM events
    ),
    dau AS (
      SELECT month, day, COUNT(DISTINCT user_id) AS dau
      FROM d GROUP BY 1, 2
    ),
    mau AS (
      SELECT month, COUNT(DISTINCT user_id) AS mau FROM d GROUP BY 1
    )
    SELECT a.month,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           round(AVG(a.dau), 6) AS avg_dau,
           CAST(m.mau AS BIGINT) AS mau,
           round(AVG(a.dau) / m.mau, 6) AS stickiness
    FROM dau a JOIN mau m USING (month)
    GROUP BY 1, m.mau
    """,
    doc="DAU/MAU stickiness per month: average daily active users over "
    "monthly actives — the canonical engagement ratio (a product used "
    "daily scores ~1, monthly ~1/30; movements week-over-week are the "
    "retention early-warning). Two distinct-count aggregates over the "
    "(month/day, user) projection — both combiner-shrunk, text never "
    "moves — then a month-keyed join of calendar-sized frames. At "
    "100 TB the daily frame comes from the ts09 rollup and the "
    "distincts switch to x49's mergeable HLL sketches (union daily "
    "sketches for the month instead of re-scanning).",
    tags=("timeseries", "engagement", "dau-mau"),
)
def ts38(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    d = ev.select(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM").alias("month"),
        F.col("ts").cast("date").alias("day"),
        "user_id",
    )
    dau = d.groupBy("month", "day").agg(F.count_distinct("user_id").alias("dau"))
    mau = d.groupBy("month").agg(F.count_distinct("user_id").alias("mau"))
    return (
        dau.join(mau, "month")
        .groupBy("month", "mau")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.round(F.avg("dau"), 6).alias("avg_dau"),
            F.round(F.avg("dau") / F.col("mau"), 6).alias("stickiness"),
        )
        .select(
            "month",
            "n_days",
            "avg_dau",
            F.col("mau").cast("long").alias("mau"),
            "stickiness",
        )
    )


@REGISTRY.register(
    "ts39_holt_winters",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, list(y ORDER BY day) AS ys
      FROM daily GROUP BY 1 HAVING COUNT(*) >= 15
    ),
    init AS (
      SELECT event_type, ys,
             list_aggregate(ys[1:7], 'sum') / 7 AS l0,
             (list_aggregate(ys[8:14], 'sum') / 7
              - list_aggregate(ys[1:7], 'sum') / 7) / 7 AS b0
      FROM series
    ),
    walk(event_type, i, l, b, s) AS (
      SELECT event_type, 7, l0, b0,
             list_transform(range(1, 8),
                            k -> ys[CAST(k AS INT)] - l0)
      FROM init
      UNION ALL
      SELECT w.event_type, w.i + 1,
             0.5*(s2.ys[w.i + 1] - w.s[1]) + 0.5*(w.l + w.b),
             0.25*((0.5*(s2.ys[w.i + 1] - w.s[1]) + 0.5*(w.l + w.b)) - w.l)
               + 0.75*w.b,
             list_append(w.s[2:7],
               0.25*(s2.ys[w.i + 1]
                     - (0.5*(s2.ys[w.i + 1] - w.s[1]) + 0.5*(w.l + w.b)))
                 + 0.75*w.s[1])
      FROM walk w JOIN series s2 USING (event_type)
      WHERE w.i < len(s2.ys)
    )
    SELECT w.event_type, CAST(len(s2.ys) AS BIGINT) AS n_days,
           round(w.l, 6) AS level, round(w.b, 6) AS trend,
           round(w.s[7], 6) AS season_last,
           round(w.l + 7*w.b + w.s[7], 6) AS forecast_7d
    FROM walk w JOIN series s2 USING (event_type)
    WHERE w.i = len(s2.ys)
    """,
    doc="Holt-Winters additive triple smoothing per event_type (weekly "
    "season m=7) — forecasting tier 3 above ts21's OLS line and ts22's "
    "level+trend: the seasonal state lets the forecast carry the "
    "weekday shape ts35's heatmap shows exists. alpha=0.5, gamma=0.25, "
    "delta=0.25 — binary-exact constants, so the coupled recurrence "
    "l_t = a(y_t - s_{t-m}) + (1-a)(l+b), b_t = g(l_t-l) + (1-g)b, "
    "s_t = d(y_t-l_t) + (1-d)s_{t-m} folds bit-identically in both "
    "engines; the accumulator is a 2-scalar + 7-slot-array struct "
    "rotated per step, and the oracle replays the exact fold as a "
    "recursive-CTE walk carrying the seasonal LIST. Seven-day "
    "averages initialize level/trend/season (needs >= 15 days). One "
    "(type, day) combiner exchange, then a |types|-row fold over "
    "day-span-bounded arrays — events are never refolded at 100 TB, "
    "the rollup frame is.",
    tags=("timeseries", "forecast", "holt-winters", "seasonal", "fold"),
)
def ts39(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("double").alias("y")
    )
    series = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "y"))), lambda r: r["y"]
            ).alias("ys")
        )
        .filter(F.size("ys") >= 15)
    )
    ysum = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    l0 = ysum(F.slice("ys", 1, 7)) / 7
    b0 = (ysum(F.slice("ys", 8, 7)) / 7 - l0) / 7
    s0 = F.transform(F.slice("ys", 1, 7), lambda y: y - F.col("l0"))
    init = series.select(
        "event_type", "ys", l0.alias("l0"), b0.alias("b0")
    ).withColumn("s0", s0)

    def step(acc, y):
        l2 = 0.5 * (y - acc["s"][0]) + 0.5 * (acc["l"] + acc["b"])
        b2 = 0.25 * (l2 - acc["l"]) + 0.75 * acc["b"]
        snew = 0.25 * (y - l2) + 0.75 * acc["s"][0]
        return F.struct(
            l2.alias("l"),
            b2.alias("b"),
            F.concat(F.slice(acc["s"], 2, 6), F.array(snew)).alias("s"),
        )

    folded = F.aggregate(
        F.slice("ys", 8, F.size("ys") - 7),
        F.struct(
            F.col("l0").alias("l"), F.col("b0").alias("b"), F.col("s0").alias("s")
        ),
        step,
    )
    return init.select(
        "event_type",
        F.size("ys").cast("long").alias("n_days"),
        folded.alias("hw"),
    ).select(
        "event_type",
        "n_days",
        F.round(F.col("hw.l"), 6).alias("level"),
        F.round(F.col("hw.b"), 6).alias("trend"),
        F.round(F.col("hw.s")[6], 6).alias("season_last"),
        F.round(F.col("hw.l") + 7 * F.col("hw.b") + F.col("hw.s")[6], 6).alias(
            "forecast_7d"
        ),
    )


_QSK_K = 512


@REGISTRY.register(
    "ts40_quantile_sketch_rollup",
    oracle=f"""
    WITH h AS (
      SELECT event_type, CAST(ts AS DATE) AS day, event_id, value,
             CAST(('0x' || substr(md5('kqs:' || CAST(event_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) AS hv
      FROM events
    ),
    d AS (
      SELECT * FROM (
        SELECT h.*, row_number() OVER (PARTITION BY event_type, day
                                       ORDER BY hv, event_id) AS rn
        FROM h
      ) WHERE rn <= {_QSK_K}
    ),
    s AS (
      SELECT * FROM (
        SELECT event_type, event_id, value, hv,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY hv, event_id) AS rn2
        FROM d
      ) WHERE rn2 <= {_QSK_K}
    ),
    r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS kk
      FROM s
    ),
    est AS (
      SELECT event_type,
             CAST(MAX(kk) AS BIGINT) AS n_sample,
             MAX(CASE WHEN rk = CAST(ceil(0.5 * kk) AS BIGINT)
                      THEN value END) AS e50,
             MAX(CASE WHEN rk = CAST(ceil(0.95 * kk) AS BIGINT)
                      THEN value END) AS e95,
             MAX(CASE WHEN rk = CAST(ceil(0.99 * kk) AS BIGINT)
                      THEN value END) AS e99
      FROM r GROUP BY 1
    ),
    er AS (
      SELECT ev.event_type,
             SUM(CASE WHEN ev.value <= e.e50 THEN 1 ELSE 0 END) * 1.0
               / COUNT(*) AS r50,
             SUM(CASE WHEN ev.value <= e.e95 THEN 1 ELSE 0 END) * 1.0
               / COUNT(*) AS r95,
             SUM(CASE WHEN ev.value <= e.e99 THEN 1 ELSE 0 END) * 1.0
               / COUNT(*) AS r99
      FROM events ev JOIN est e USING (event_type)
      GROUP BY 1
    ),
    meta AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
      FROM events GROUP BY 1
    )
    SELECT m.event_type, m.n_days, e.n_sample,
           round(e.e50, 6) AS est_p50, round(abs(x.r50 - 0.5), 6) AS rank_err_p50,
           round(e.e95, 6) AS est_p95, round(abs(x.r95 - 0.95), 6) AS rank_err_p95,
           round(e.e99, 6) AS est_p99, round(abs(x.r99 - 0.99), 6) AS rank_err_p99
    FROM meta m JOIN est e USING (event_type) JOIN er x USING (event_type)
    """,
    doc="Mergeable-quantile rollup via a deterministic bottom-k reservoir "
    f"(k={_QSK_K}, md5-keyed): per-(type, day) samples keep the k events "
    "with smallest md5(event_id) — a uniform without-replacement sample "
    "that is TOURNAMENT-MERGEABLE (the k smallest hashes of a union are "
    "the k smallest of the per-day k-smallest), so daily sample tables "
    "MERGE to any date-range sample without rescanning the fact: the "
    "re-aggregable percentile that percentile_approx cannot provide, "
    "and the mechanism behind latency dashboards at 100 TB (store "
    "k rows per group-day, merge on query). Quantiles read off the "
    "merged sample by nearest-rank (ceil(q*k) — an actual data value, "
    "like KLL returns), and the output reports each estimate's REALIZED "
    "rank error against one exact fact pass — rank space is where a "
    "quantile sketch's guarantee lives (uniform k-sample => rank error "
    "~ sqrt(q(1-q)/k), ~2.2% at k=512/q=0.5). Because the reservoir is "
    "md5-keyed, DuckDB rebuilds the IDENTICAL sample and the estimator "
    "itself is hash-checked (tx31's replayable-sketch trade; round-6 "
    "verdict task #3 stretch) — no FP enters before the final division: "
    "sampling is integer hash ranks, selection is integer nearest-rank. "
    "All windows partition by (type[, day]); the merge level ranks at "
    "most days*k rows per type. DataSketches KLL (kll_sketch_agg_double) "
    "is the interop alternative with better worst-case rank error at "
    "equal bytes; this variant trades that for replayability and "
    "arbitrary-predicate re-aggregation (a sample answers ANY "
    "downstream statistic, not just quantiles).",
    tags=("timeseries", "sketch", "quantile", "reservoir", "mergeable", "approx"),
)
def ts40(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "event_id",
        "value",
    )
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kqs:"), F.col("event_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    h = ev.withColumn("hv", hv)
    daily = h.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type", "day").orderBy("hv", "event_id")
        ),
    ).where(F.col("rn") <= _QSK_K)
    samp = daily.withColumn(
        "rn2",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("hv", "event_id")
        ),
    ).where(F.col("rn2") <= _QSK_K)
    ranked = samp.select(
        "event_type",
        "value",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("value", "event_id"))
        .alias("rk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("kk"),
    )
    est = ranked.groupBy("event_type").agg(
        F.max("kk").cast("long").alias("n_sample"),
        *[
            F.max(
                F.when(
                    F.col("rk")
                    == F.ceil(F.lit(q) * F.col("kk")).cast("long"),
                    F.col("value"),
                )
            ).alias(f"e{int(q * 100)}")
            for q in (0.5, 0.95, 0.99)
        ],
    )
    er = (
        ev.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            *[
                (
                    F.sum(
                        F.when(F.col("value") <= F.col(f"e{p}"), 1).otherwise(0)
                    )
                    * 1.0
                    / F.count("*")
                ).alias(f"r{p}")
                for p in (50, 95, 99)
            ]
        )
    )
    meta = ev.groupBy("event_type").agg(
        F.count_distinct("day").cast("long").alias("n_days")
    )
    out = meta.join(est, "event_type").join(er, "event_type")
    cols = ["event_type", "n_days", "n_sample"]
    for p, q in ((50, 0.5), (95, 0.95), (99, 0.99)):
        cols.append(F.round(F.col(f"e{p}"), 6).alias(f"est_p{p}"))
        cols.append(
            F.round(F.abs(F.col(f"r{p}") - F.lit(q)), 6).alias(f"rank_err_p{p}")
        )
    return out.select(*cols)


@REGISTRY.register(
    "ts41_forecast_backtest",
    oracle=r"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    feats AS (
      SELECT *,
             lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS naive,
             lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS snaive
      FROM idx
    ),
    test AS (SELECT * FROM feats WHERE i > n - 7 AND n >= 21),
    scale AS (
      SELECT event_type, AVG(ABS(y - snaive)) AS mae_insample
      FROM feats WHERE i <= n - 7 AND snaive IS NOT NULL GROUP BY 1
    )
    SELECT t.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_test_days,
           round(AVG(ABS(t.y - t.naive)), 6) AS mae_naive,
           round(AVG(ABS(t.y - t.snaive)), 6) AS mae_seasonal_naive,
           round(AVG(ABS(t.y - t.snaive)) / s.mae_insample, 6) AS mase
    FROM test t JOIN scale s USING (event_type)
    GROUP BY 1, s.mae_insample
    """,
    doc="Forecast backtest scoring — the evaluation leg of the "
    "forecasting trilogy (ts21 OLS trend, ts22 Holt, ts39 "
    "Holt-Winters): hold out each type's last 7 days, score the "
    "one-step naive (y[t-1]) and seasonal-naive (y[t-7]) baselines by "
    "test MAE, and report MASE (Hyndman-Koehler 2006) = test seasonal-"
    "naive MAE over in-sample seasonal-naive MAE — the scale-free "
    "accuracy number that makes types of different volumes comparable "
    "and any model's claim falsifiable (a model beating MASE 1.0 beats "
    "the seasonal repeat). All lag/row_number windows partition per "
    "event_type over the day-span-bounded rollup frame — one combiner "
    "exchange on the fact, |types|-sized everything after.",
    tags=("timeseries", "forecast", "backtest", "mase", "evaluation"),
)
def ts41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("y"))
    w_ord = Window.partitionBy("event_type").orderBy("day")
    w_all = Window.partitionBy("event_type")
    feats = daily.select(
        "event_type",
        "day",
        "y",
        F.row_number().over(w_ord).alias("i"),
        F.count("*").over(w_all).alias("n"),
        F.lag("y", 1).over(w_ord).alias("naive"),
        F.lag("y", 7).over(w_ord).alias("snaive"),
    )
    test = feats.filter((F.col("i") > F.col("n") - 7) & (F.col("n") >= 21))
    scale = (
        feats.filter(
            (F.col("i") <= F.col("n") - 7) & F.col("snaive").isNotNull()
        )
        .groupBy("event_type")
        .agg(F.avg(F.abs(F.col("y") - F.col("snaive"))).alias("mae_insample"))
    )
    return (
        test.join(scale, "event_type")
        .groupBy("event_type", "mae_insample")
        .agg(
            F.count("*").cast("long").alias("n_test_days"),
            F.round(F.avg(F.abs(F.col("y") - F.col("naive"))), 6).alias(
                "mae_naive"
            ),
            F.round(F.avg(F.abs(F.col("y") - F.col("snaive"))), 6).alias(
                "mae_seasonal_naive"
            ),
            F.round(
                F.avg(F.abs(F.col("y") - F.col("snaive")))
                / F.first("mae_insample"),
                6,
            ).alias("mase"),
        )
        .drop("mae_insample")
    )


@REGISTRY.register(
    "ts42_forecastability_strength",
    oracle=r"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT *, AVG(y) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t,
             isodow(day) - 1 AS dw
      FROM daily
    ),
    det AS (SELECT *, y - t AS d FROM tr),
    seas AS (SELECT event_type, dw, AVG(d) AS s FROM det GROUP BY 1, 2),
    full_ AS (
      SELECT d.event_type, d.t, s.s, d.d - s.s AS r
      FROM det d JOIN seas s ON s.event_type = d.event_type AND s.dw = d.dw
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             AVG(r*r) - AVG(r)*AVG(r) AS var_r,
             AVG((s+r)*(s+r)) - AVG(s+r)*AVG(s+r) AS var_sr,
             AVG((t+r)*(t+r)) - AVG(t+r)*AVG(t+r) AS var_tr
      FROM full_ GROUP BY 1
    )
    SELECT event_type, n_days,
           round(greatest(0.0, 1 - var_r / var_sr), 6) AS seasonal_strength,
           round(greatest(0.0, 1 - var_r / var_tr), 6) AS trend_strength
    FROM m
    """,
    doc="Forecastability diagnostics (Hyndman-Wang-Laptev strength "
    "measures): classical decomposition of each type's daily series — "
    "trend = 7-day centered moving average, seasonal = per-weekday mean "
    "of the detrended series, residual = the rest — then seasonal "
    "strength = max(0, 1 - Var(R)/Var(S+R)) and trend strength = "
    "max(0, 1 - Var(R)/Var(T+R)). These two numbers decide WHICH "
    "forecaster the series deserves (ts21 trend line, ts22 Holt, ts39 "
    "Holt-Winters) and calibrate how seriously to take ts41's MASE: a "
    "type with seasonal strength ~0 cannot beat seasonal-naive by "
    "skill. Variances are written as explicit moments (avg(x^2) - "
    "avg(x)^2) so both engines run the identical formula rather than "
    "their own variance kernels. One combiner exchange on the fact; "
    "every window and join after is day-span- or weekday-bounded.",
    tags=("timeseries", "forecast", "decomposition", "diagnostics"),
)
def ts42(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("y"))
    w_ma = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "y",
        F.avg("y").over(w_ma).alias("t"),
        (F.weekday("day")).alias("dw"),
    )
    det = tr.withColumn("d", F.col("y") - F.col("t"))
    seas = det.groupBy("event_type", "dw").agg(F.avg("d").alias("s"))
    full = det.join(seas, ["event_type", "dw"]).select(
        "event_type",
        "t",
        "s",
        (F.col("d") - F.col("s")).alias("r"),
    )
    sr = F.col("s") + F.col("r")
    tre = F.col("t") + F.col("r")
    m = full.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        (F.avg(F.col("r") * F.col("r")) - F.avg("r") * F.avg("r")).alias(
            "var_r"
        ),
        (F.avg(sr * sr) - F.avg(sr) * F.avg(sr)).alias("var_sr"),
        (F.avg(tre * tre) - F.avg(tre) * F.avg(tre)).alias("var_tr"),
    )
    return m.select(
        "event_type",
        "n_days",
        F.round(
            F.greatest(F.lit(0.0), 1 - F.col("var_r") / F.col("var_sr")), 6
        ).alias("seasonal_strength"),
        F.round(
            F.greatest(F.lit(0.0), 1 - F.col("var_r") / F.col("var_tr")), 6
        ).alias("trend_strength"),
    )


@REGISTRY.register(
    "ts43_ewma_control_chart",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    ord AS (
      SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    ),
    rec(event_type, rn, day, n, z) AS (
      SELECT event_type, rn, day, n, n FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.event_type, o.rn, o.day, o.n, 0.2 * o.n + 0.8 * r.z
      FROM ord o JOIN rec r ON o.event_type = r.event_type AND o.rn = r.rn + 1
    ),
    stats AS (
      SELECT event_type, AVG(n) AS mu, stddev_samp(n) AS sd FROM daily GROUP BY 1
    ),
    flagged AS (
      SELECT r.event_type, r.rn, r.day, r.z, s.mu, s.sd,
             CASE WHEN round(abs(r.z - s.mu), 9) >
                       round(3 * s.sd * sqrt((0.2 / 1.8)
                             * (1 - power(0.8, 2 * r.rn))), 9)
                  THEN 1 ELSE 0 END AS ooc
      FROM rec r JOIN stats s USING (event_type)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           round(ANY_VALUE(mu), 6) AS mean_daily,
           round(MAX(CASE WHEN rn = (SELECT MAX(rn) FROM flagged f2
                                     WHERE f2.event_type = flagged.event_type)
                          THEN z END), 6) AS ewma_last,
           CAST(SUM(ooc) AS BIGINT) AS n_out_of_control,
           strftime(MIN(CASE WHEN ooc = 1 THEN day END), '%Y-%m-%d')
               AS first_ooc_day
    FROM flagged GROUP BY 1
    """,
    doc="EWMA control chart (lambda=0.2, the SPC textbook setting) over "
    "daily volumes per event stream: z_t = 0.2 x_t + 0.8 z_(t-1) "
    "initialized at the first observation, flagged out-of-control when "
    "|z - mu| exceeds 3 sigma sqrt(lambda/(2-lambda) (1-(1-lambda)^2t)) "
    "— the TIME-VARYING limit that widens as the EWMA warms up, which "
    "is what distinguishes a control chart from ts15's plain z-score "
    "(small persistent shifts accumulate in z long before any single "
    "day trips 3 sigma; that's the chart's reason to exist). The "
    "recursion is inherently sequential per series, so each type's "
    "(day, n) pairs fold in ONE JVM aggregate over the calendar-sized "
    "daily rollup (the fact collapses with map-side combine first); "
    "the oracle replays the identical chain via a recursive CTE, and "
    "both engines round dev/limit to 9dp before the flag decision — "
    "the repo's ulp-boundary convention. Series are independent, so "
    "the fold parallelizes per type; at 100 TB the daily frame is the "
    "ts09 rollup table, never the fact.",
    tags=("timeseries", "ewma", "spc", "control-chart", "anomaly"),
)
def ts43(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("xs"),
        F.avg("n").alias("mu"),
        F.stddev_samp("n").alias("sd"),
    )
    empty = F.array().cast("array<struct<day:date,n:double,z:double>>")
    zs = F.aggregate(
        F.col("xs"),
        empty,
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.struct(
                    x["day"].alias("day"),
                    x["n"].alias("n"),
                    F.when(F.size(acc) == 0, x["n"])
                    .otherwise(0.2 * x["n"] + 0.8 * F.element_at(acc, -1)["z"])
                    .alias("z"),
                )
            ),
        ),
    )
    expl = series.select(
        "event_type", "mu", "sd", F.posexplode(zs).alias("t0", "p")
    ).select(
        "event_type",
        "mu",
        "sd",
        (F.col("t0") + 1).alias("rn"),
        F.col("p.day").alias("day"),
        F.col("p.z").alias("z"),
    )
    limit = 3 * F.col("sd") * F.sqrt(
        (0.2 / 1.8) * (1 - F.pow(F.lit(0.8), 2 * F.col("rn")))
    )
    ooc = (
        F.round(F.abs(F.col("z") - F.col("mu")), 9) > F.round(limit, 9)
    ).cast("int")
    flagged = expl.withColumn("ooc", ooc)
    return flagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.first("mu"), 6).alias("mean_daily"),
        F.round(F.max_by("z", "rn"), 6).alias("ewma_last"),
        F.sum("ooc").cast("long").alias("n_out_of_control"),
        F.date_format(
            F.min(F.when(F.col("ooc") == 1, F.col("day"))), "yyyy-MM-dd"
        ).alias("first_ooc_day"),
    )


@REGISTRY.register(
    "ts44_gap_downtime",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch(ts) - lag(epoch(ts))
                 OVER (PARTITION BY event_type
                       ORDER BY ts, event_id) AS gap_s
      FROM events
    ),
    span AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             (epoch(MAX(ts)) - epoch(MIN(ts))) / 3600.0 AS span_hours
      FROM events GROUP BY event_type HAVING COUNT(*) >= 2
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN round(gap_s / 3600.0, 9) > 1.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
             SUM(CASE WHEN round(gap_s / 3600.0, 9) > 1.0
                      THEN gap_s / 3600.0 ELSE 0 END) AS gap_hours,
             MAX(gap_s) / 3600.0 AS max_gap_hours
      FROM g WHERE gap_s IS NOT NULL GROUP BY event_type
    )
    SELECT s.event_type, s.n_events,
           round(s.span_hours, 6) AS span_hours,
           a.n_gaps,
           round(a.gap_hours, 6) AS total_gap_hours,
           round(a.max_gap_hours, 6) AS max_gap_hours,
           round(100.0 * a.gap_hours / s.span_hours, 6) AS downtime_pct
    FROM span s JOIN agg a USING (event_type)
    """,
    doc="Feed-gap / downtime report per event stream: consecutive "
    "inter-arrival gaps over one hour are outages; reports gap count, "
    "total and max outage hours, and downtime share of the stream's "
    "span — the SLA view of ts34's continuity audit (which checks "
    "calendar-day coverage, not intra-day holes). One lag window "
    "PARTITIONED by event_type (each series sorts independently — no "
    "global sort, survives 100x) feeding a per-type agg with map-side "
    "combine; timestamps diff as epoch doubles, and both engines round "
    "the gap to 9 dp before the 1-hour threshold decision (ulp "
    "convention). At 100 TB this is one shuffle on event_type; if a "
    "single stream's volume skews a partition, AQE skew-split handles "
    "it because the window key equals the shuffle key.",
    tags=("timeseries", "gaps", "sla", "downtime"),
)
def ts44(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("ts").cast("double").alias("sec")
    )
    w = Window.partitionBy("event_type").orderBy("sec", "event_id")
    gap_h = (F.col("sec") - F.lag("sec").over(w)) / 3600.0
    g = ev.withColumn("gap_h", gap_h)
    is_gap = F.round(F.col("gap_h"), 9) > 1.0
    # Types with a single event have no gaps: the oracle's span-to-agg
    # inner join drops them, so both engines filter to n_events >= 2
    # (also removes the 0-span divide-by-zero degenerate).
    return g.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round((F.max("sec") - F.min("sec")) / 3600.0, 6).alias(
            "span_hours"
        ),
        F.sum(F.when(is_gap, 1).otherwise(0)).cast("long").alias("n_gaps"),
        F.round(
            F.sum(F.when(is_gap, F.col("gap_h")).otherwise(0.0)), 6
        ).alias("total_gap_hours"),
        F.round(F.max("gap_h"), 6).alias("max_gap_hours"),
        F.round(
            100.0
            * F.sum(F.when(is_gap, F.col("gap_h")).otherwise(0.0))
            / ((F.max("sec") - F.min("sec")) / 3600.0),
            6,
        ).alias("downtime_pct"),
    ).where(F.col("n_events") >= 2)


@REGISTRY.register(
    "ts45_asof_forward_tolerance",
    oracle="""
    WITH c AS (
      SELECT o.o_orderkey, e.event_id, e.ts,
             row_number() OVER (PARTITION BY o.o_orderkey
                                ORDER BY e.ts, e.event_id) AS rn
      FROM orders o JOIN events e
        ON e.user_id = o.o_custkey
       AND e.ts >= CAST(o.o_orderdate AS TIMESTAMP)
    ),
    lagd AS (
      SELECT o.o_orderkey, c.event_id,
             (epoch(c.ts) - epoch(CAST(o.o_orderdate AS TIMESTAMP)))
                 / 3600.0 AS lh
      FROM orders o LEFT JOIN c
        ON c.o_orderkey = o.o_orderkey AND c.rn = 1
    )
    SELECT o_orderkey,
           CASE WHEN round(lh, 9) <= 168.0 THEN event_id END
               AS next_event_id,
           CASE WHEN round(lh, 9) <= 168.0 THEN round(lh, 6) END
               AS lag_hours
    FROM lagd
    """,
    doc="FORWARD as-of join with tolerance (pandas merge_asof "
    "direction='forward', tolerance=7d): for each order, the first "
    "event at-or-after the order date for that customer, nulled when "
    "it falls outside the 7-day window — the reaction-time twin of "
    "ts03's carry-backward as-of. Same union+window shape as ts03: "
    "orders and events union-tag into one frame, one window "
    "PARTITIONED by user ordered by (ts, tag, id) takes "
    "first(event, ignorenulls) over [current, unbounded following] — "
    "one shuffle on the join key, no range cross-join, no per-row "
    "probe. Ties at the exact order timestamp match (tag orders "
    "events after orders at equal ts). Tolerance applies AFTER the "
    "match, exactly like merge_asof; both engines round the lag to "
    "9 dp before the 168 h cutoff decision. At 100 TB the partition "
    "key is the user — hot users skew-split under AQE because the "
    "window key equals the shuffle key.",
    tags=("timeseries", "asof-join", "forward", "tolerance"),
)
def ts45(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
    )
    events = t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), "ts", "event_id"
    )
    tagged = orders.select(
        "k", "ts", F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("event_id"), "o_orderkey",
    ).unionByName(
        events.select(
            "k", "ts", F.lit(1).alias("tag"), "event_id",
            F.lit(None).cast("long").alias("o_orderkey"),
        )
    )
    w = (
        Window.partitionBy("k")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nxt = F.first(
        F.when(
            F.col("tag") == 1,
            F.struct(F.col("ts").alias("ets"), F.col("event_id").alias("eid")),
        ),
        ignorenulls=True,
    ).over(w)
    matched = (
        tagged.withColumn("nxt", nxt)
        .filter(F.col("tag") == 0)
        .select(
            "o_orderkey",
            F.col("nxt.eid").alias("eid"),
            (
                (F.col("nxt.ets").cast("double") - F.col("ts").cast("double"))
                / 3600.0
            ).alias("lh"),
        )
    )
    in_tol = F.round(F.col("lh"), 9) <= 168.0
    return matched.select(
        "o_orderkey",
        F.when(in_tol, F.col("eid")).alias("next_event_id"),
        F.when(in_tol, F.round(F.col("lh"), 6)).alias("lag_hours"),
    )


@REGISTRY.register(
    "ts46_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, SUM(value) AS v
      FROM events GROUP BY 1, 2
    ),
    dd AS (
      SELECT event_type, day, v,
             MAX(v) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS peak
      FROM daily
    ),
    mx AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             MAX(peak - v) AS mdd, MAX(peak) AS top_peak
      FROM dd GROUP BY event_type
    )
    SELECT m.event_type, m.n_days,
           round(m.top_peak, 6) AS peak_daily_value,
           round(m.mdd, 6) AS max_drawdown,
           round(m.mdd / m.top_peak, 6) AS max_drawdown_frac,
           strftime(MIN(CASE WHEN round(d.peak - d.v, 9) = round(m.mdd, 9)
                             THEN d.day END), '%Y-%m-%d') AS worst_day
    FROM mx m JOIN dd d USING (event_type)
    GROUP BY m.event_type, m.n_days, m.mdd, m.top_peak
    """,
    doc="Peak-to-current drawdown of daily volume per event stream: the "
    "running maximum of the daily value series minus the current day, "
    "maximized over the stream — detects volume collapses that z-score "
    "anomaly checks (ts15) miss when the fall is gradual (each day is "
    "within sigma of the last, but the cumulative slide from peak is "
    "huge; the drawdown compares against the best day EVER, not the "
    "local mean). Reports the worst drawdown, its fraction of peak, "
    "and the first day it was realized (9 dp compare — ulp "
    "convention). Plan: the daily rollup collapses the fact with "
    "map-side combine, then TWO windows both PARTITIONED by "
    "event_type (running max, then a bounded agg+join for the argmax "
    "day) — no global sort, series parallelize, AQE skew-split "
    "applies since window key = shuffle key.",
    tags=("timeseries", "drawdown", "anomaly", "volume"),
)
def ts46(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = daily.withColumn("peak", F.max("v").over(w))
    mx = dd.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max(F.col("peak") - F.col("v")).alias("mdd"),
        F.max("peak").alias("top_peak"),
    )
    return (
        mx.join(dd, "event_type")
        .groupBy("event_type", "n_days", "mdd", "top_peak")
        .agg(
            F.date_format(
                F.min(
                    F.when(
                        F.round(F.col("peak") - F.col("v"), 9)
                        == F.round(F.col("mdd"), 9),
                        F.col("day"),
                    )
                ),
                "yyyy-MM-dd",
            ).alias("worst_day")
        )
        .select(
            "event_type",
            "n_days",
            F.round("top_peak", 6).alias("peak_daily_value"),
            F.round("mdd", 6).alias("max_drawdown"),
            F.round(F.col("mdd") / F.col("top_peak"), 6).alias(
                "max_drawdown_frac"
            ),
            "worst_day",
        )
    )


@REGISTRY.register(
    "ts47_sliding_burst_audit",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    w AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                            RANGE BETWEEN 3599 PRECEDING
                                AND CURRENT ROW) AS burst
      FROM e
    ),
    per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(MAX(burst) AS BIGINT) AS max_burst_1h
      FROM w GROUP BY user_id
    )
    SELECT user_id, n_events, max_burst_1h,
           round(max_burst_1h * 1.0 / n_events, 6) AS burst_share
    FROM per_user
    ORDER BY max_burst_1h DESC, user_id
    LIMIT 10
    """,
    doc="Sliding-window burst audit: each user's maximum event count in "
    "ANY trailing 1-hour window (RANGE frame over epoch seconds — the "
    "true sliding window, not ts04's fixed 30-min hops which a burst "
    "can straddle), top-10 offenders with their burst share. This is "
    "the measurement that sizes a rate limit or flags scraper "
    "accounts; ts30's burstiness is a distribution-shape statistic, "
    "this is the operational max. Plan: ONE range-frame window "
    "PARTITIONED by user (sorted within partition only), then a "
    "per-user agg and TakeOrdered-10 — no global sort of the fact; "
    "epoch floors to whole seconds in BOTH engines so the frame "
    "boundary is integer-exact. At 100 TB the window key equals the "
    "shuffle key (AQE skew-split for hot users), and the range frame "
    "is O(events-in-window) memory per user, not O(history).",
    tags=("timeseries", "sliding-window", "burst", "rate-limit", "ops"),
)
def ts47(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    bursts = ev.withColumn("burst", F.count("*").over(w))
    per_user = bursts.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("burst").cast("long").alias("max_burst_1h"),
    )
    return (
        per_user.select(
            "user_id",
            "n_events",
            "max_burst_1h",
            F.round(
                F.col("max_burst_1h") * 1.0 / F.col("n_events"), 6
            ).alias("burst_share"),
        )
        .orderBy(F.desc("max_burst_1h"), "user_id")
        .limit(10)
    )


@REGISTRY.register(
    "ts48_concurrency_peaks",
    oracle="""
    WITH ev AS (
      SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t0
      FROM events
    ),
    deltas AS (
      SELECT t0 AS t, CAST(1 AS BIGINT) AS delta, event_id FROM ev
      UNION ALL
      SELECT t0 + 60 AS t, CAST(-1 AS BIGINT) AS delta, event_id FROM ev
    ),
    swept AS (
      SELECT t, delta,
             SUM(delta) OVER (ORDER BY t, delta DESC, event_id
                              ROWS UNBOUNDED PRECEDING) AS occ
      FROM deltas
    )
    SELECT CAST(floor(t / 3600.0) AS BIGINT) AS hour_epoch,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_opens,
           CAST(MAX(occ) AS BIGINT) AS peak_concurrency
    FROM swept
    GROUP BY 1
    ORDER BY hour_epoch
    """,
    doc="Peak concurrency per hour by interval sweep-line — the "
    "occupancy measurement behind capacity planning (max simultaneous "
    "sessions/viewers/connections): every event opens a 60-second "
    "activity interval, each interval emits a +1 at open and a -1 at "
    "close, and the running sum of deltas under the total order "
    "(t, opens-before-closes, event_id) IS the live-concurrency step "
    "function; per hour the report carries open count and the peak. "
    "ts24 unions intervals PER USER (active seconds); this is the "
    "corpus-wide height of the interval stack, a different statistic. "
    "The prefix sum is NOT a global window: rankops.with_global_order "
    "computes it as a range-partitioned cumsum with broadcast per-"
    "partition offsets (integer deltas, so the distributed regroup is "
    "exact under any partitioning), pinned by the repo-wide "
    "no-unpartitioned-window plan test. Peaks are sampled at delta "
    "points, the exact semantics of a step function's maximum. At "
    "100 TB this is two map passes (delta emit), ONE range exchange, "
    "and an hour-grain agg.",
    tags=("timeseries", "sweep-line", "concurrency", "capacity", "ops"),
)
def ts48(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.operators.rankops import with_global_order

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("t0"),
    )
    opens = ev.select(
        F.col("t0").alias("t"), F.lit(1).cast("long").alias("delta"), "event_id"
    )
    closes = ev.select(
        (F.col("t0") + 60).alias("t"),
        F.lit(-1).cast("long").alias("delta"),
        "event_id",
    )
    deltas = opens.unionAll(closes)
    swept = with_global_order(
        deltas,
        [F.col("t"), F.desc("delta"), F.col("event_id")],
        cumsum={"delta": "occ"},
    )
    return (
        swept.groupBy(
            F.floor(F.col("t") / 3600.0).cast("long").alias("hour_epoch")
        )
        .agg(
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_opens"),
            F.max("occ").cast("long").alias("peak_concurrency"),
        )
        .orderBy("hour_epoch")
    )


@REGISTRY.register(
    "ts49_bollinger_bands",
    oracle="""
    WITH closes AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value AS close
      FROM (
        SELECT event_type, ts, value,
               row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    banded AS (
      SELECT event_type, day, close,
             AVG(close)         OVER w AS mid,
             STDDEV_SAMP(close) OVER w AS sd,
             COUNT(*)           OVER w AS n_obs
      FROM closes
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(CASE WHEN round(close - (mid + 2 * sd), 6) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_breakout_up,
           CAST(SUM(CASE WHEN round((mid - 2 * sd) - close, 6) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_breakout_down,
           round(AVG(4 * sd), 6) AS mean_band_width
    FROM banded
    WHERE n_obs = 20 AND sd > 1e-9
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Bollinger bands over per-type daily closes: the last value of "
    "each (event_type, day) — deterministic close via (ts, event_id) "
    "tie-break — feeds a 20-observation rolling mean +/- 2 sigma "
    "band, and days piercing a band count as breakouts (the classic "
    "volatility-envelope signal, same family as ts15/ts43 control "
    "charts but band-relative rather than z-relative). Warm-up guard: "
    "only full 20-row frames score, zero-variance frames are skipped, "
    "and the breakout decision compares the 6 dp-rounded margin (the "
    "ts15 convention) so an ulp of stddev drift cannot flip a count "
    "between engines. Plan: one (type, day)-keyed close extraction "
    "(high-cardinality partitioned window), then a per-type ordered "
    "frame over the ~|days| close rows — the moving aggregate is "
    "O(1)/row. At 100 TB the close extraction is the only pass that "
    "sees raw events; the band pass runs on the day-grain rollup, "
    "thousands of rows per type regardless of corpus size.",
    tags=("timeseries", "finance", "window-frame", "anomaly"),
)
def ts49(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    wrn = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    closes = (
        ev.withColumn("rn", F.row_number().over(wrn))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.col("value").alias("close"),
        )
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-19, Window.currentRow)
    )
    banded = closes.select(
        "event_type",
        "close",
        F.avg("close").over(wb).alias("mid"),
        F.stddev_samp("close").over(wb).alias("sd"),
        F.count("*").over(wb).alias("n_obs"),
    )
    up = F.round(F.col("close") - (F.col("mid") + 2 * F.col("sd")), 6) > 0
    dn = F.round((F.col("mid") - 2 * F.col("sd")) - F.col("close"), 6) > 0
    return (
        banded.filter((F.col("n_obs") == 20) & (F.col("sd") > 1e-9))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_scored"),
            F.sum(F.when(up, 1).otherwise(0)).cast("long").alias("n_breakout_up"),
            F.sum(F.when(dn, 1).otherwise(0)).cast("long").alias("n_breakout_down"),
            F.round(F.avg(4 * F.col("sd")), 6).alias("mean_band_width"),
        )
        .orderBy("event_type")
    )


@REGISTRY.register(
    "ts50_changepoint_binseg",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                        / COUNT(value), 6) AS DECIMAL(18,6)) AS m
      FROM events GROUP BY 1, 2
    ),
    pre AS (
      SELECT event_type, day, m,
             SUM(m)     OVER w AS s_k,
             SUM(m * m) OVER w AS q_k,
             COUNT(*)   OVER w AS k
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
      SELECT event_type, SUM(m) AS s_n, SUM(m * m) AS q_n, COUNT(*) AS n
      FROM daily GROUP BY 1
    ),
    cost AS (
      SELECT p.event_type, p.day, p.k, t.n, p.s_k, t.s_n,
             round((CAST(p.q_k AS DOUBLE)
                    - CAST(p.s_k AS DOUBLE) * CAST(p.s_k AS DOUBLE) / p.k)
                   + (CAST(t.q_n - p.q_k AS DOUBLE)
                      - CAST(t.s_n - p.s_k AS DOUBLE)
                        * CAST(t.s_n - p.s_k AS DOUBLE) / (t.n - p.k)), 6)
                 AS sse
      FROM pre p JOIN tot t USING (event_type)
      WHERE p.k < t.n
    ),
    best AS (
      SELECT event_type, day, k, n, s_k, s_n, sse,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY sse, day) AS rn
      FROM cost QUALIFY rn = 1
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS split_day,
           CAST(k AS BIGINT) AS n_pre, CAST(n - k AS BIGINT) AS n_post,
           round(CAST(s_k AS DOUBLE) / k, 6) AS pre_mean,
           round(CAST(s_n - s_k AS DOUBLE) / (n - k), 6) AS post_mean,
           round(CAST(s_n - s_k AS DOUBLE) / (n - k)
                 - CAST(s_k AS DOUBLE) / k, 6) AS mean_shift,
           sse AS split_sse
    FROM best ORDER BY event_type
    """,
    doc="Single-changepoint estimation by binary segmentation (the first "
    "split of the BinSeg/PELT family; ts18's CUSUM detects that a "
    "shift happened, this estimates WHERE): per event_type, the daily-"
    "mean series is split at the day minimizing total within-segment "
    "SSE, evaluated for every candidate split in one pass from exact "
    "prefix sums — cost(k) = (Q_k - S_k^2/k) + (Q_rest - S_rest^2/"
    "(n-k)) needs only DECIMAL running sums of m and m^2, no per-split "
    "rescan. Daily means round to 6 dp and become DECIMAL, so prefix "
    "sums are exact and order-independent; the SSE rounds to 6 dp "
    "before the argmin (tie-break: earlier day). Emits segment sizes, "
    "means, shift, and the achieved SSE. Plan: day-grain rollup, one "
    "partitioned cumsum window, a per-type totals join, a per-type "
    "argmin window over |days| rows. At 100 TB only the day rollup "
    "sees raw events; each further BinSeg recursion level is one more "
    "pass over the day-grain frame with segment-id added to the keys.",
    tags=("timeseries", "changepoint", "binseg", "anomaly"),
)
def ts50(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
                / F.count("value"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("m")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = daily.select(
        "event_type",
        "day",
        F.sum("m").over(w).alias("s_k"),
        F.sum(F.col("m") * F.col("m")).over(w).alias("q_k"),
        F.count("*").over(w).alias("k"),
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("m").alias("s_n"),
        F.sum(F.col("m") * F.col("m")).alias("q_n"),
        F.count("*").alias("n"),
    )
    sk = F.col("s_k").cast("double")
    srest = (F.col("s_n") - F.col("s_k")).cast("double")
    sse = F.round(
        (F.col("q_k").cast("double") - sk * sk / F.col("k"))
        + (
            (F.col("q_n") - F.col("q_k")).cast("double")
            - srest * srest / (F.col("n") - F.col("k"))
        ),
        6,
    )
    cost = (
        pre.join(F.broadcast(tot), "event_type")
        .filter(F.col("k") < F.col("n"))
        .withColumn("sse", sse)
    )
    wbest = Window.partitionBy("event_type").orderBy("sse", "day")
    best = cost.withColumn("rn", F.row_number().over(wbest)).filter(
        F.col("rn") == 1
    )
    return best.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("split_day"),
        F.col("k").cast("long").alias("n_pre"),
        (F.col("n") - F.col("k")).cast("long").alias("n_post"),
        F.round(F.col("s_k").cast("double") / F.col("k"), 6).alias("pre_mean"),
        F.round(srest / (F.col("n") - F.col("k")), 6).alias("post_mean"),
        F.round(
            srest / (F.col("n") - F.col("k"))
            - F.col("s_k").cast("double") / F.col("k"),
            6,
        ).alias("mean_shift"),
        F.col("sse").alias("split_sse"),
    ).orderBy("event_type")


@REGISTRY.register(
    "ts51_interrupted_time_series",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                        / COUNT(value), 6) AS DECIMAL(18,6)) AS m
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT event_type, MIN(day) AS d0,
             CAST(date_diff('day', MIN(day), MAX(day)) / 2 AS BIGINT)
                 AS t_split
      FROM daily GROUP BY 1
    ),
    seg AS (
      SELECT d.event_type,
             CAST(date_diff('day', s.d0, d.day) AS BIGINT) AS tt, d.m,
             CASE WHEN CAST(date_diff('day', s.d0, d.day) AS BIGINT)
                       <= s.t_split
                  THEN 'pre' ELSE 'post' END AS seg,
             s.t_split
      FROM daily d JOIN spans s USING (event_type)
    ),
    fits AS (
      SELECT event_type, seg, t_split,
             COUNT(*) AS n,
             SUM(tt) AS st, SUM(tt * tt) AS stt,
             SUM(m) AS sy, SUM(tt * m) AS sty
      FROM seg GROUP BY 1, 2, 3
    ),
    coef AS (
      SELECT event_type, seg, t_split,
             (n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                 AS b,
             CAST(sy AS DOUBLE) / n AS ybar, CAST(st AS DOUBLE) / n AS tbar
      FROM fits WHERE n >= 3
    ),
    ab AS (
      SELECT event_type, seg, t_split, b, ybar - b * tbar AS a FROM coef
    )
    SELECT p.event_type,
           round(p.b, 6) AS pre_slope,
           round(q.b, 6) AS post_slope,
           round(q.b - p.b, 6) AS slope_change,
           round((q.a + q.b * p.t_split) - (p.a + p.b * p.t_split), 6)
               AS level_change_at_split
    FROM ab p JOIN ab q
      ON p.event_type = q.event_type AND p.seg = 'pre' AND q.seg = 'post'
    ORDER BY p.event_type
    """,
    doc="Interrupted time-series / segmented regression (the causal-"
    "inference readout layered on a changepoint: ts50 estimates WHERE "
    "the series broke, this quantifies HOW — slope change and the "
    "level discontinuity at the break): per event_type the daily-mean "
    "series splits at its calendar midpoint (standing in for the "
    "known intervention date) and each segment gets a closed-form OLS "
    "line from exact sufficient statistics — n, sum t, sum t^2 "
    "(integers), sum m, sum t*m (DECIMAL, since the daily means pass "
    "the 6 dp barrier first) — so the slope/intercept are single "
    "double expressions over order-independent sums, identical in "
    "both engines. Emits pre/post slopes, the slope change, and the "
    "level change evaluated AT the split. Plan: day-grain rollup, a "
    "broadcast per-type span table, one (type, segment) agg of five "
    "sufficient statistics, a 2-row-per-type self-join. At 100 TB "
    "only the rollup touches raw events; adding covariates upgrades "
    "the same shape to normal equations (x12's Gram-matrix pattern).",
    tags=("timeseries", "regression", "causal", "its"),
)
def ts51(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
            / F.count("value"),
            6,
        )
        .cast("decimal(18,6)")
        .alias("m")
    )
    spans = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"),
        (F.datediff(F.max("day"), F.min("day")) / 2)
        .cast("long")
        .alias("t_split"),
    )
    seg = daily.join(F.broadcast(spans), "event_type").select(
        "event_type",
        F.datediff("day", "d0").cast("long").alias("tt"),
        "m",
        F.when(
            F.datediff("day", "d0").cast("long") <= F.col("t_split"), "pre"
        )
        .otherwise("post")
        .alias("seg"),
        "t_split",
    )
    fits = seg.groupBy("event_type", "seg", "t_split").agg(
        F.count("*").alias("n"),
        F.sum("tt").alias("st"),
        F.sum(F.col("tt") * F.col("tt")).alias("stt"),
        F.sum("m").alias("sy"),
        F.sum(F.col("tt") * F.col("m")).alias("sty"),
    )
    b = (
        F.col("n") * F.col("sty").cast("double")
        - F.col("st").cast("double") * F.col("sy").cast("double")
    ) / (
        F.col("n") * F.col("stt").cast("double")
        - F.col("st").cast("double") * F.col("st").cast("double")
    )
    coef = fits.filter(F.col("n") >= 3).select(
        "event_type",
        "seg",
        "t_split",
        b.alias("b"),
        (F.col("sy").cast("double") / F.col("n")).alias("ybar"),
        (F.col("st").cast("double") / F.col("n")).alias("tbar"),
    )
    ab = coef.select(
        "event_type",
        "seg",
        "t_split",
        "b",
        (F.col("ybar") - F.col("b") * F.col("tbar")).alias("a"),
    )
    p = ab.filter(F.col("seg") == "pre").alias("p")
    q = ab.filter(F.col("seg") == "post").alias("q")
    return (
        p.join(q, F.col("p.event_type") == F.col("q.event_type"))
        .select(
            F.col("p.event_type").alias("event_type"),
            F.round(F.col("p.b"), 6).alias("pre_slope"),
            F.round(F.col("q.b"), 6).alias("post_slope"),
            F.round(F.col("q.b") - F.col("p.b"), 6).alias("slope_change"),
            F.round(
                (F.col("q.a") + F.col("q.b") * F.col("p.t_split"))
                - (F.col("p.a") + F.col("p.b") * F.col("p.t_split")),
                6,
            ).alias("level_change_at_split"),
        )
        .orderBy("event_type")
    )


@REGISTRY.register(
    "ts52_peak_prominence",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                        / COUNT(value), 6) AS DECIMAL(18,6)) AS m
      FROM events GROUP BY 1, 2
    ),
    ctx AS (
      SELECT event_type, day, m,
             lag(m, 1)  OVER w AS l1, lag(m, 2)  OVER w AS l2,
             lead(m, 1) OVER w AS r1, lead(m, 2) OVER w AS r2,
             median(CAST(m AS DOUBLE)) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 7 FOLLOWING) AS med,
             COUNT(*) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 7 FOLLOWING) AS n_ctx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           round(CAST(m AS DOUBLE), 6) AS height,
           round(CAST(m AS DOUBLE) - med, 6) AS prominence
    FROM ctx
    WHERE l1 IS NOT NULL AND l2 IS NOT NULL
      AND r1 IS NOT NULL AND r2 IS NOT NULL
      AND m > l1 AND m > l2 AND m > r1 AND m > r2
      AND n_ctx = 15
      AND round(CAST(m AS DOUBLE) - med, 6) > 0
    ORDER BY round(CAST(m AS DOUBLE) - med, 6) DESC, event_type, day
    LIMIT 20
    """,
    doc="Local-peak detection with rolling-median prominence (the "
    "operational scipy.find_peaks shape, distributed): a day is a peak "
    "when its mean strictly exceeds both 2-day flanks (exact DECIMAL "
    "comparisons — no rounding lottery at the extrema test), scored "
    "by height above the +-7-day rolling MEDIAN (robust local "
    "baseline: a level shift or trend doesn't inflate prominence the "
    "way a rolling-mean baseline would — the complement to ts36's MAD "
    "and ts15's z-scores, which flag outliers; this localizes peak "
    "EVENTS). Full 15-row context required (edge days can't score), "
    "top-20 peaks by 6 dp-rounded prominence with (type, day) "
    "tie-break. Both engines interpolate the even-count median "
    "identically ((a+b)/2 of the middle pair in double). Plan: "
    "day-grain rollup, per-type lag/lead + median frames (partitioned "
    "windows, type == shuffle key), TakeOrdered top-20. At 100 TB "
    "only the rollup sees raw events; the peak pass runs on |days| "
    "rows per type.",
    tags=("timeseries", "peaks", "anomaly", "robust"),
)
def ts52(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
            / F.count("value"),
            6,
        )
        .cast("decimal(18,6)")
        .alias("m")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    wm = w.rowsBetween(-7, 7)
    ctx = daily.select(
        "event_type",
        "day",
        "m",
        F.lag("m", 1).over(w).alias("l1"),
        F.lag("m", 2).over(w).alias("l2"),
        F.lead("m", 1).over(w).alias("r1"),
        F.lead("m", 2).over(w).alias("r2"),
        F.expr("percentile(CAST(m AS DOUBLE), 0.5)").over(wm).alias("med"),
        F.count("*").over(wm).alias("n_ctx"),
    )
    prom = F.round(F.col("m").cast("double") - F.col("med"), 6)
    return (
        ctx.filter(
            F.col("l1").isNotNull()
            & F.col("l2").isNotNull()
            & F.col("r1").isNotNull()
            & F.col("r2").isNotNull()
            & (F.col("m") > F.col("l1"))
            & (F.col("m") > F.col("l2"))
            & (F.col("m") > F.col("r1"))
            & (F.col("m") > F.col("r2"))
            & (F.col("n_ctx") == 15)
            & (prom > 0)
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(F.col("m").cast("double"), 6).alias("height"),
            prom.alias("prominence"),
        )
        .orderBy(F.desc("prominence"), "event_type", "day")
        .limit(20)
    )


@REGISTRY.register(
    "ts53_anomaly_ensemble",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                        / COUNT(value), 6) AS DECIMAL(18,6)) AS m
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             AVG(CAST(m AS DOUBLE)) AS mu,
             STDDEV_SAMP(CAST(m AS DOUBLE)) AS sd,
             median(CAST(m AS DOUBLE)) AS med
      FROM daily GROUP BY 1
    ),
    mad AS (
      SELECT d.event_type,
             median(abs(CAST(d.m AS DOUBLE) - s.med)) AS mad
      FROM daily d JOIN stats s USING (event_type)
      GROUP BY 1
    ),
    diffs AS (
      SELECT event_type, day, m,
             CAST(m AS DOUBLE)
               - CAST(lag(m) OVER (PARTITION BY event_type ORDER BY day)
                      AS DOUBLE) AS dd
      FROM daily
    ),
    dstats AS (
      SELECT event_type, STDDEV_SAMP(dd) AS dsd
      FROM diffs WHERE dd IS NOT NULL GROUP BY 1
    ),
    scored AS (
      SELECT d.event_type, d.day, CAST(d.m AS DOUBLE) AS m,
             CASE WHEN s.sd > 1e-9
                   AND round(abs(CAST(d.m AS DOUBLE) - s.mu) / s.sd, 6) > 2
                  THEN 1 ELSE 0 END AS f_z,
             CASE WHEN md.mad > 1e-9
                   AND round(abs(CAST(d.m AS DOUBLE) - s.med)
                             / (1.4826 * md.mad), 6) > 3
                  THEN 1 ELSE 0 END AS f_mad,
             CASE WHEN f.dd IS NOT NULL AND ds.dsd > 1e-9
                   AND round(abs(f.dd) / ds.dsd, 6) > 2
                  THEN 1 ELSE 0 END AS f_jump
      FROM daily d
      JOIN stats s USING (event_type)
      JOIN mad md ON md.event_type = d.event_type
      JOIN dstats ds ON ds.event_type = d.event_type
      JOIN diffs f ON f.event_type = d.event_type AND f.day = d.day
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           round(m, 6) AS daily_mean,
           CAST(f_z + f_mad + f_jump AS BIGINT) AS votes,
           CAST(f_z AS BIGINT) AS f_z, CAST(f_mad AS BIGINT) AS f_mad,
           CAST(f_jump AS BIGINT) AS f_jump
    FROM scored
    WHERE f_z + f_mad + f_jump >= 2
    ORDER BY event_type, day
    """,
    doc="Majority-vote anomaly ensemble at day grain — how production "
    "alerting actually ships the detectors this repo implements "
    "individually (ts15 z-score, ts36 MAD, day-over-day jump): each "
    "daily mean is scored by three independent rules (|z| > 2 against "
    "the per-type global mean/std; |m - median| > 3 * 1.4826 * MAD, "
    "the robust tier; |day-over-day diff| > 2 sigma of diffs, the "
    "velocity tier) and only days flagged by >= 2 detectors surface — "
    "single-rule false positives cancel, which is the entire point of "
    "ensembling. Every comparison is on a 6 dp-rounded statistic "
    "(house barrier); zero-variance guards on each rule. Plan: one "
    "day-grain rollup feeds four small per-type stat aggregates "
    "(|types| rows each, broadcast back) and one lag window "
    "partitioned by type — at 100 TB the rollup is the only pass "
    "over raw events, like ts49-ts52.",
    tags=("timeseries", "anomaly", "ensemble", "robust"),
)
def ts53(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
            / F.count("value"),
            6,
        )
        .cast("decimal(18,6)")
        .alias("m")
    )
    md = F.col("m").cast("double")
    stats = daily.groupBy("event_type").agg(
        F.avg(md).alias("mu"),
        F.stddev_samp(md).alias("sd"),
        F.expr("percentile(CAST(m AS DOUBLE), 0.5)").alias("med"),
    )
    mad = (
        daily.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(
                "percentile(abs(CAST(m AS DOUBLE) - med), 0.5)"
            ).alias("mad")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    diffs = daily.withColumn("dd", md - F.lag(md).over(w))
    dstats = diffs.filter(F.col("dd").isNotNull()).groupBy("event_type").agg(
        F.stddev_samp("dd").alias("dsd")
    )
    scored = (
        diffs.join(F.broadcast(stats), "event_type")
        .join(F.broadcast(mad), "event_type")
        .join(F.broadcast(dstats), "event_type")
        .select(
            "event_type",
            "day",
            md.alias("mv"),
            F.when(
                (F.col("sd") > 1e-9)
                & (F.round(F.abs(md - F.col("mu")) / F.col("sd"), 6) > 2),
                1,
            )
            .otherwise(0)
            .alias("f_z"),
            F.when(
                (F.col("mad") > 1e-9)
                & (
                    F.round(
                        F.abs(md - F.col("med")) / (1.4826 * F.col("mad")), 6
                    )
                    > 3
                ),
                1,
            )
            .otherwise(0)
            .alias("f_mad"),
            F.when(
                F.col("dd").isNotNull()
                & (F.col("dsd") > 1e-9)
                & (F.round(F.abs(F.col("dd")) / F.col("dsd"), 6) > 2),
                1,
            )
            .otherwise(0)
            .alias("f_jump"),
        )
    )
    votes = F.col("f_z") + F.col("f_mad") + F.col("f_jump")
    return (
        scored.filter(votes >= 2)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("mv", 6).alias("daily_mean"),
            votes.cast("long").alias("votes"),
            F.col("f_z").cast("long").alias("f_z"),
            F.col("f_mad").cast("long").alias("f_mad"),
            F.col("f_jump").cast("long").alias("f_jump"),
        )
        .orderBy("event_type", "day")
    )


_LB_LAGS = 10
_LB_CHI2_95_DOF10 = 18.307  # chi-square 0.95 quantile, dof = 10 (fixed table)


@REGISTRY.register(
    "ts54_ljung_box_whiteness",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    mu AS (
      SELECT event_type, COUNT(*) AS n, SUM(y) / COUNT(*) AS m
      FROM daily GROUP BY 1 HAVING COUNT(*) >= 15
    ),
    lagged AS (
      SELECT d.event_type, d.day, d.y, mu.m, mu.n,
             {", ".join(f"lag(d.y, {k}) OVER (PARTITION BY d.event_type ORDER BY d.day) AS l{k}" for k in range(1, _LB_LAGS + 1))}
      FROM daily d JOIN mu USING (event_type)
    ),
    sums AS (
      SELECT event_type, MAX(n) AS n,
             CAST(SUM(CAST(round((y - m) * (y - m), 9)
                           AS DECIMAL(28,9))) AS DOUBLE) AS den,
             {", ".join(f"CAST(SUM(CASE WHEN l{k} IS NULL THEN CAST(0 AS DECIMAL(28,9)) ELSE CAST(round((y - m) * (l{k} - m), 9) AS DECIMAL(28,9)) END) AS DOUBLE) AS num{k}" for k in range(1, _LB_LAGS + 1))}
      FROM lagged GROUP BY 1
    ),
    r AS (
      SELECT event_type, n,
             {", ".join(f"round(num{k} / den, 9) AS r{k}" for k in range(1, _LB_LAGS + 1))}
      FROM sums
    ),
    q AS (
      SELECT event_type, n,
             r1, r7,
             n * (n + 2.0) * ({" + ".join(f"r{k} * r{k} / (n - {k})" for k in range(1, _LB_LAGS + 1))}) AS q10
      FROM r
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           round(r1, 6) AS acf_1,
           round(r7, 6) AS acf_7,
           round(q10, 6) AS q10,
           CAST({_LB_LAGS} AS BIGINT) AS dof,
           CAST(CASE WHEN round(q10, 9) <= {_LB_CHI2_95_DOF10}
                     THEN 1 ELSE 0 END AS BIGINT) AS is_white_noise
    FROM q
    """,
    doc="Ljung-Box portmanteau whiteness test (Q over ACF lags 1..10) on "
    "each type's daily-volume series — the JOINT-significance upgrade "
    "of ts28's per-lag ACF readout, and the standard residual-diagnosis "
    "gate after fitting ts21/ts22/ts39 forecasts (a model whose "
    "residuals fail whiteness is leaving signal on the table; a RAW "
    "series that PASSES needs no model beyond ts15's z-scores). Uses "
    "the Box-Jenkins r_k (lag products over the centered series, one "
    "shared denominator), Q = n(n+2) * sum r_k^2/(n-k), compared to "
    "the fixed chi-square 95% critical value for dof=10 — a one-row "
    "broadcast constant, no CDF evaluation. Determinism: the per-type "
    "mean is one exact integer-sum division; every lag product rounds "
    "to 9 dp and accumulates as DECIMAL (order-free under any "
    "repartitioning, the repo's FP-sum convention); r_k rounds to 9 dp "
    "before squaring. Plan: the corpus collapses to the shared "
    "|types|x|days| daily exchange; ten lags come from ONE window pass "
    "PARTITIONED by type (key == shuffle key); everything after is "
    "calendar-sized. Types with under 15 days are excluded in both "
    "engines (Q needs n >> lags).",
    tags=("timeseries", "stats", "ljung-box", "whiteness", "acf"),
)
def ts54(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("y"))
    mu = (
        daily.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum("y") / F.count("*")).alias("m"),
        )
        .where(F.col("n") >= 15)
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "y",
        "m",
        "n",
        *[F.lag("y", k).over(w).alias(f"l{k}") for k in range(1, _LB_LAGS + 1)],
    )
    dec = "decimal(28,9)"
    sums = lagged.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(
            F.round((F.col("y") - F.col("m")) * (F.col("y") - F.col("m")), 9)
            .cast(dec)
        )
        .cast("double")
        .alias("den"),
        *[
            F.sum(
                F.when(F.col(f"l{k}").isNull(), F.lit(0).cast(dec)).otherwise(
                    F.round(
                        (F.col("y") - F.col("m"))
                        * (F.col(f"l{k}") - F.col("m")),
                        9,
                    ).cast(dec)
                )
            )
            .cast("double")
            .alias(f"num{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    r = sums.select(
        "event_type",
        "n",
        *[
            F.round(F.col(f"num{k}") / F.col("den"), 9).alias(f"r{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    q10 = (
        F.col("n")
        * (F.col("n") + F.lit(2.0))
        * sum(
            F.col(f"r{k}") * F.col(f"r{k}") / (F.col("n") - F.lit(k))
            for k in range(1, _LB_LAGS + 1)
        )
    )
    return r.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.round("r1", 6).alias("acf_1"),
        F.round("r7", 6).alias("acf_7"),
        F.round(q10, 6).alias("q10"),
        F.lit(_LB_LAGS).cast("long").alias("dof"),
        F.when(F.round(q10, 9) <= _LB_CHI2_95_DOF10, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_white_noise"),
    )


_XC_MAX_LAG = 7


@REGISTRY.register(
    "ts55_lead_lag_xcorr",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    lags AS (SELECT unnest(range(-{_XC_MAX_LAG}, {_XC_MAX_LAG} + 1)) AS lg),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, l.lg,
             a.n AS x, b.n AS y
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.day = a.day + CAST(l.lg AS INT) * INTERVAL 1 DAY
                  AND a.event_type < b.event_type
    ),
    stats AS (
      SELECT type_a, type_b, lg,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY 1, 2, 3 HAVING COUNT(*) >= 10
    ),
    corr AS (
      SELECT type_a, type_b, lg, k,
             round((k * sxy - sx * sy) * 1.0
                   / sqrt((k * sxx - sx * sx) * 1.0 * (k * syy - sy * sy)),
                   9) AS r9
      FROM stats
      WHERE (k * sxx - sx * sx) > 0 AND (k * syy - sy * sy) > 0
    ),
    best AS (
      SELECT * FROM (
        SELECT corr.*, row_number() OVER (
          PARTITION BY type_a, type_b ORDER BY r9 DESC, lg) AS rn
        FROM corr
      ) WHERE rn = 1
    ),
    zero AS (
      SELECT type_a, type_b, r9 AS r0 FROM corr WHERE lg = 0
    )
    SELECT b.type_a, b.type_b,
           CAST(b.lg AS BIGINT) AS best_lag,
           CAST(b.k AS BIGINT) AS n_days,
           round(b.r9, 6) AS best_corr,
           round(z.r0, 6) AS corr_lag0
    FROM best b JOIN zero z USING (type_a, type_b)
    ORDER BY b.type_a, b.type_b
    """,
    doc="Lead-lag cross-correlation between event-type pairs: daily-count "
    f"series correlated at every lag in [-{_XC_MAX_LAG}, {_XC_MAX_LAG}] "
    "days, reporting each pair's best lag, the correlation there, and "
    "the lag-0 baseline — the 'does click lead purchase by k days?' "
    "question behind marketing-mix and capacity models, and the "
    "CROSS-series completion of ts28's autocorrelation (x65's CUPED "
    "consumes exactly such a leading covariate once this query finds "
    "one). Determinism by construction: daily counts are integers, so "
    "all five correlation sufficient statistics are EXACT integer sums "
    "under any partitioning — the only FP is one final "
    "division/sqrt, rounded to 9 dp before the best-lag rank (earlier "
    "lag tie-break). Pairs with under 10 overlapping days or zero "
    "variance drop in both engines. Plan: the corpus collapses to the "
    "shared |types|x|days| daily exchange once; the 15-lag explode and "
    "self-join run on calendar-sized frames (|types|^2 x lags x days "
    "rows); the best-lag window partitions by pair. At 100 TB nothing "
    "downstream of the daily rollup grows with the corpus.",
    tags=("timeseries", "xcorr", "lead-lag", "stats"),
)
def ts55(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    lags = spark.range(-_XC_MAX_LAG, _XC_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lg")
    )
    a = daily.select(
        F.col("event_type").alias("type_a"), F.col("day").alias("day_a"), F.col("n").alias("x")
    )
    b = daily.select(
        F.col("event_type").alias("type_b"), F.col("day").alias("day_b"), F.col("n").alias("y")
    )
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("day_b") == F.expr("date_add(day_a, lg)"))
            & (F.col("type_a") < F.col("type_b")),
        )
    )
    stats = (
        pairs.groupBy("type_a", "type_b", "lg")
        .agg(
            F.count("*").cast("long").alias("k"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        )
        .where(F.col("k") >= 10)
    )
    vx = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = stats.where((vx > 0) & (vy > 0)).select(
        "type_a",
        "type_b",
        "lg",
        "k",
        F.round(
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * 1.0
            / F.sqrt(vx * 1.0 * vy),
            9,
        ).alias("r9"),
    )
    w = Window.partitionBy("type_a", "type_b").orderBy(F.desc("r9"), "lg")
    best = corr.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    zero = corr.where(F.col("lg") == 0).select(
        "type_a", "type_b", F.col("r9").alias("r0")
    )
    return (
        best.join(zero, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.col("lg").cast("long").alias("best_lag"),
            F.col("k").cast("long").alias("n_days"),
            F.round("r9", 6).alias("best_corr"),
            F.round("r0", 6).alias("corr_lag0"),
        )
        .orderBy("type_a", "type_b")
    )


@REGISTRY.register(
    "ts56_theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, n,
             CAST(date_diff('day', DATE '2020-01-01', day) AS BIGINT) AS d
      FROM daily
    ),
    slopes AS (
      SELECT a.event_type,
             round((b.n - a.n) * 1.0 / (b.d - a.d), 9) AS s9
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND a.d < b.d
    ),
    ranked AS (
      SELECT event_type, s9,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY s9, s9) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM slopes
    ),
    med AS (
      SELECT event_type, MAX(m) AS m,
             SUM(CASE WHEN rk = (m + 1) // 2 THEN s9 ELSE 0 END)
               + SUM(CASE WHEN rk = (m + 2) // 2 THEN s9 ELSE 0 END)
                 AS med2
      FROM ranked GROUP BY 1
    ),
    ols AS (
      SELECT event_type,
             round((k * sdn - sd * sn) * 1.0 / (k * sdd - sd * sd), 9)
                 AS ols9
      FROM (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(d) AS BIGINT) AS sd,
               CAST(SUM(n) AS BIGINT) AS sn,
               CAST(SUM(d * n) AS BIGINT) AS sdn,
               CAST(SUM(d * d) AS BIGINT) AS sdd
        FROM idx GROUP BY 1
      )
    )
    SELECT m.event_type,
           CAST(m.m AS BIGINT) AS n_pairs,
           round(m.med2 / 2.0, 6) AS theil_sen_slope,
           round(o.ols9, 6) AS ols_slope,
           round(abs(m.med2 / 2.0 - o.ols9), 6) AS slope_gap
    FROM med m JOIN ols o USING (event_type)
    ORDER BY m.event_type
    """,
    doc="Theil-Sen robust trend estimator per event-type daily series — "
    "the median of all pairwise slopes (29.3% breakdown point: up to "
    "a third of the days can be arbitrarily corrupted before the "
    "estimate moves, vs ts21's OLS where ONE outlier day drags the "
    "fit), reported next to the OLS slope with the gap as the "
    "robustness diagnostic a capacity planner reads before trusting "
    "either (big gap = outlier days are steering OLS; agreeing slopes "
    "= clean series). Pairwise slopes are single divisions of exact "
    "integer count/day differences rounded to 9 dp before ranking; "
    "the median is rank-selected (even counts average the two middle "
    "order statistics — both engines pick ranks (m+1)//2 and "
    "(m+2)//2, integer arithmetic). Plan: the corpus collapses to the "
    "shared daily exchange; the O(days^2) pair join runs per type on "
    "calendar-sized frames (~435 pairs per 30-day type) and the rank "
    "window partitions by type — at 100 TB nothing downstream of the "
    "daily rollup grows with the corpus, and a years-long series "
    "switches to the published O(n log n) randomized median-of-slopes "
    "refinement over the same exchange.",
    tags=("timeseries", "trend", "robust", "theil-sen", "stats"),
)
def ts56(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    idx = daily.select(
        "event_type",
        "n",
        F.datediff(F.col("day"), F.lit("2020-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.round(
            (F.col("b.n") - F.col("a.n")) * 1.0 / (F.col("b.d") - F.col("a.d")),
            9,
        ).alias("s9"),
    )
    w = Window.partitionBy("event_type").orderBy("s9")
    wc = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "s9",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wc).alias("m"),
    )
    med = ranked.groupBy("event_type").agg(
        F.max("m").cast("long").alias("m"),
        (
            F.sum(
                F.when(
                    F.col("rk") == F.expr("CAST((m + 1) DIV 2 AS BIGINT)"),
                    F.col("s9"),
                ).otherwise(0.0)
            )
            + F.sum(
                F.when(
                    F.col("rk") == F.expr("CAST((m + 2) DIV 2 AS BIGINT)"),
                    F.col("s9"),
                ).otherwise(0.0)
            )
        ).alias("med2"),
    )
    # OLS slope from exact integer sufficient statistics (ts51's fold):
    # slope = (k*Sdn - Sd*Sn) / (k*Sdd - Sd^2) — all-integer numerator
    # and denominator, one final division (regr_slope's textbook form)
    ols_stats = idx.groupBy("event_type").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("n").cast("long").alias("sn"),
        F.sum(F.col("d") * F.col("n")).cast("long").alias("sdn"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
    )
    ols = ols_stats.select(
        "event_type",
        F.round(
            (F.col("k") * F.col("sdn") - F.col("sd") * F.col("sn"))
            * 1.0
            / (F.col("k") * F.col("sdd") - F.col("sd") * F.col("sd")),
            9,
        ).alias("ols9"),
    )
    return (
        med.join(ols, "event_type")
        .select(
            "event_type",
            F.col("m").alias("n_pairs"),
            F.round(F.col("med2") / 2.0, 6).alias("theil_sen_slope"),
            F.round("ols9", 6).alias("ols_slope"),
            F.round(F.abs(F.col("med2") / 2.0 - F.col("ols9")), 6).alias(
                "slope_gap"
            ),
        )
        .orderBy("event_type")
    )


@REGISTRY.register(
    "ts57_classical_decomposition",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, day, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             CAST(dayofweek(day) AS BIGINT) AS dow,
             COUNT(*) OVER (PARTITION BY event_type) AS nd
      FROM daily
    ),
    trend AS (
      SELECT event_type, day, n, i, dow, nd,
             CASE WHEN i >= 4 AND i <= nd - 3 THEN
               round((SUM(n) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) / 7.0, 9)
             END AS tr
      FROM idx
    ),
    detr AS (
      SELECT event_type, dow, round(n - tr, 9) AS dt
      FROM trend WHERE tr IS NOT NULL
    ),
    seas AS (
      SELECT event_type, dow,
             round(CAST(SUM(CAST(dt AS DECIMAL(20,9))) AS DOUBLE)
                   / COUNT(*), 9) AS s
      FROM detr GROUP BY 1, 2
    ),
    resid AS (
      SELECT t.event_type, round(t.n - t.tr - s.s, 9) AS r,
             t.n AS n
      FROM trend t JOIN seas s
        ON s.event_type = t.event_type AND s.dow = t.dow
      WHERE t.tr IS NOT NULL
    ),
    vars AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days_used,
             CAST(SUM(CAST(round(r * r, 9) AS DECIMAL(28,9))) AS DOUBLE)
                 AS ssr,
             CAST(SUM(n) AS BIGINT) AS sn,
             CAST(SUM(n * n) AS BIGINT) AS snn
      FROM resid GROUP BY 1
    ),
    amp AS (
      SELECT event_type, round(MAX(s) - MIN(s), 6) AS seasonal_amplitude
      FROM seas GROUP BY 1
    )
    SELECT v.event_type, v.n_days_used,
           a.seasonal_amplitude,
           round(v.ssr / v.n_days_used, 6) AS resid_var,
           round(1.0 - (v.ssr / v.n_days_used)
                 / ((v.snn - v.sn * v.sn * 1.0 / v.n_days_used)
                    / v.n_days_used), 6) AS decomposition_r2
    FROM vars v JOIN amp a USING (event_type)
    ORDER BY v.event_type
    """,
    doc="Classical additive seasonal decomposition (the moving-average "
    "textbook method STL refines): per type, trend = centered 7-day "
    "moving average of daily volume, weekly seasonal = day-of-week "
    "means of the detrended series, residual = what's left — "
    "reporting the seasonal amplitude (peak-to-trough weekly swing), "
    "residual variance, and the decomposition R² (share of variance "
    "the trend+seasonal structure explains; the model-free "
    "counterpart of ts39's Holt-Winters FIT — this one makes no "
    "smoothing-parameter choices at all, which is why it's the "
    "standard first look). Determinism: daily counts are integers, "
    "the 7-day MA is an exact integer sum over a ROWS frame divided "
    "once, every residual product crosses the round-9/DECIMAL-sum "
    "barrier, and raw-variance terms are exact integer sums. Edge "
    "days without a full MA window drop in both engines (the "
    "textbook convention). Plan: one daily exchange; MA and "
    "row-index windows partition by type (key == shuffle key); "
    "seasonal/variance aggs are calendar-sized. At 100 TB nothing "
    "downstream of the daily rollup grows with the corpus.",
    tags=("timeseries", "seasonal", "decomposition", "stl", "stats"),
)
def ts57(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    wc = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "day",
        "n",
        F.row_number().over(w).alias("i"),
        F.dayofweek("day").cast("long").alias("dow"),
        F.count("*").over(wc).alias("nd"),
    )
    ma = F.sum("n").over(w.rowsBetween(-3, 3)) / 7.0
    trend = idx.select(
        "event_type",
        "day",
        "n",
        "dow",
        F.when(
            (F.col("i") >= 4) & (F.col("i") <= F.col("nd") - 3),
            F.round(ma, 9),
        ).alias("tr"),
    )
    detr = trend.where(F.col("tr").isNotNull()).select(
        "event_type", "dow", F.round(F.col("n") - F.col("tr"), 9).alias("dt")
    )
    seas = detr.groupBy("event_type", "dow").agg(
        F.round(
            F.sum(F.col("dt").cast("decimal(20,9)")).cast("double")
            / F.count("*"),
            9,
        ).alias("s")
    )
    resid = (
        trend.where(F.col("tr").isNotNull())
        .join(seas, ["event_type", "dow"])
        .select(
            "event_type",
            "n",
            F.round(F.col("n") - F.col("tr") - F.col("s"), 9).alias("r"),
        )
    )
    vars = resid.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days_used"),
        F.sum(F.round(F.col("r") * F.col("r"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("ssr"),
        F.sum("n").cast("long").alias("sn"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("snn"),
    )
    amp = seas.groupBy("event_type").agg(
        F.round(F.max("s") - F.min("s"), 6).alias("seasonal_amplitude")
    )
    rvar = F.col("ssr") / F.col("n_days_used")
    tvar = (
        F.col("snn") - F.col("sn") * F.col("sn") * 1.0 / F.col("n_days_used")
    ) / F.col("n_days_used")
    return (
        vars.join(amp, "event_type")
        .select(
            "event_type",
            "n_days_used",
            "seasonal_amplitude",
            F.round(rvar, 6).alias("resid_var"),
            F.round(1.0 - rvar / tvar, 6).alias("decomposition_r2"),
        )
        .orderBy("event_type")
    )


@REGISTRY.register(
    "ts58_hourly_profile",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, SUM(n) AS tn, COUNT(*) AS n_hours
      FROM hourly GROUP BY 1
    ),
    ranked AS (
      SELECT h.event_type, h.hr, h.n, t.tn, t.n_hours,
             row_number() OVER (PARTITION BY h.event_type
                                ORDER BY h.n DESC, h.hr) AS rk
      FROM hourly h JOIN tot t USING (event_type)
    )
    SELECT event_type,
           CAST(MAX(n_hours) AS BIGINT) AS n_active_hours,
           CAST(MAX(CASE WHEN rk = 1 THEN hr END) AS BIGINT) AS peak_hour,
           round(MAX(CASE WHEN rk = 1 THEN n * 1.0 / tn END), 6)
               AS peak_share,
           round(CAST(SUM(CAST(round((n * 1.0 / tn) * (n * 1.0 / tn), 9)
                               AS DECIMAL(20,9))) AS DOUBLE), 6)
               AS hhi_concentration
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
    doc="Hour-of-day load profile per event type: peak hour, its traffic "
    "share, and the Herfindahl concentration of the 24-hour "
    "distribution (HHI = sum of squared hourly shares: 1/24 ~ 0.042 "
    "is perfectly flat, 1.0 is a single-hour spike) — the intra-day "
    "complement of ts32's weekday/weekend split and the capacity "
    "number an autoscaling policy reads (flat HHI = provision for "
    "mean; spiky HHI = provision for the peak hour). All shares are "
    "single divisions of exact integer counts; squared shares round "
    "to 9 dp and accumulate as DECIMAL (the repo's FP-sum "
    "convention — order-free under any partial-aggregation order). "
    "Plan: one (type, hour) "
    "combiner rollup — 24 x |types| rows — then calendar-sized "
    "arithmetic; the rank window partitions by type. At 100 TB "
    "nothing downstream of the rollup grows with the corpus.",
    tags=("timeseries", "profile", "hourly", "capacity", "concentration"),
)
def ts58(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(F.count("*").cast("long").alias("n"))
    tot = hourly.groupBy("event_type").agg(
        F.sum("n").alias("tn"), F.count("*").alias("n_hours")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), "hr")
    ranked = hourly.join(tot, "event_type").withColumn(
        "rk", F.row_number().over(w)
    )
    share = F.col("n") * 1.0 / F.col("tn")
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n_hours").cast("long").alias("n_active_hours"),
            F.max(F.when(F.col("rk") == 1, F.col("hr")))
            .cast("long")
            .alias("peak_hour"),
            F.round(F.max(F.when(F.col("rk") == 1, share)), 6).alias(
                "peak_share"
            ),
            F.round(
                F.sum(
                    F.round(share * share, 9).cast("decimal(20,9)")
                ).cast("double"),
                6,
            ).alias("hhi_concentration"),
        )
        .orderBy("event_type")
    )


@REGISTRY.register(
    "ts59_poisson_fit",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch(ts) - lag(epoch(ts))
                 OVER (PARTITION BY event_type
                       ORDER BY ts, event_id) AS gap_s
      FROM events
    ),
    gaps AS (
      SELECT event_type, gap_s FROM g
      WHERE gap_s IS NOT NULL AND gap_s > 0
    ),
    rate AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             COUNT(*) / CAST(SUM(gap_s) AS DOUBLE) AS lam
      FROM gaps GROUP BY 1
    ),
    ranked AS (
      SELECT ga.event_type, ga.gap_s, r.n, r.lam,
             row_number() OVER (PARTITION BY ga.event_type
                                ORDER BY ga.gap_s, ga.gap_s) AS rk
      FROM gaps ga JOIN rate r USING (event_type)
    ),
    dist AS (
      SELECT event_type, n, lam,
             round(greatest(
               abs(rk * 1.0 / n - (1.0 - exp(-(lam * gap_s)))),
               abs((rk - 1) * 1.0 / n - (1.0 - exp(-(lam * gap_s))))
             ), 9) AS d9
      FROM ranked
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           round(MAX(lam) * 3600.0, 6) AS events_per_hour,
           round(MAX(d9), 6) AS ks_distance,
           CAST(CASE WHEN round(MAX(d9) * sqrt(MAX(n)), 9) <= 1.358
                     THEN 1 ELSE 0 END AS BIGINT) AS poisson_plausible
    FROM dist GROUP BY 1 ORDER BY 1
    """,
    doc="Poisson-arrivals goodness-of-fit per event stream: inter-arrival "
    "gaps against the exponential law with the MLE rate (lambda = "
    "n/sum gaps), scored by the one-sample Kolmogorov-Smirnov distance "
    "with the 95% plausibility verdict (D*sqrt(n) <= 1.358, the "
    "asymptotic critical value as a fixed constant) — the assumption "
    "check BEHIND the rest of the stack: x75's bootstrap, ts47's burst "
    "thresholds and queueing math (x74) all quietly assume "
    "Poisson-like arrivals, ts30 measures burstiness descriptively, "
    "and THIS query says whether the exponential model is actually "
    "tenable per stream. One-sample KS against a CONTINUOUS "
    "distribution compares both ECDF step edges (rk/n and (rk-1)/n) at "
    "every observed gap — the textbook D+, D- construction. "
    "Determinism: gaps are integer epoch seconds, lambda is one "
    "division, the theoretical CDF is IEEE exp on identical inputs, "
    "distances round to 9 dp before the max, and ties in gap_s are "
    "harmless (equal gaps produce the same CDF value; the ECDF edge "
    "set is rank-driven). Plan: one lag window and one rank window, "
    "both PARTITIONED by type (key == shuffle key); everything else is "
    "per-type aggregates. At 100 TB: the ts44 posture — a single "
    "type-keyed exchange; at extreme per-type volumes the KS scan runs "
    "on a deterministic md5 gap sample (ts40's reservoir) with the "
    "same downstream arithmetic.",
    tags=("timeseries", "poisson", "ks-test", "goodness-of-fit", "stats"),
)
def ts59(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("ts").cast("double").alias("sec")
    )
    w = Window.partitionBy("event_type").orderBy("sec", "event_id")
    gaps = (
        ev.withColumn("gap_s", F.col("sec") - F.lag("sec").over(w))
        .where(F.col("gap_s").isNotNull() & (F.col("gap_s") > 0))
        .select("event_type", "gap_s")
    )
    rate = gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        (F.count("*") / F.sum("gap_s").cast("double")).alias("lam"),
    )
    wr = Window.partitionBy("event_type").orderBy("gap_s")
    ranked = gaps.join(F.broadcast(rate), "event_type").withColumn(
        "rk", F.row_number().over(wr)
    )
    cdf = 1.0 - F.exp(-(F.col("lam") * F.col("gap_s")))
    d9 = F.round(
        F.greatest(
            F.abs(F.col("rk") * 1.0 / F.col("n") - cdf),
            F.abs((F.col("rk") - 1) * 1.0 / F.col("n") - cdf),
        ),
        9,
    )
    dist = ranked.select("event_type", "n", "lam", d9.alias("d9"))
    return (
        dist.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_gaps"),
            F.round(F.max("lam") * 3600.0, 6).alias("events_per_hour"),
            F.round(F.max("d9"), 6).alias("ks_distance"),
            F.when(
                F.round(F.max("d9") * F.sqrt(F.max("n")), 9) <= 1.358, 1
            )
            .otherwise(0)
            .cast("long")
            .alias("poisson_plausible"),
        )
        .orderBy("event_type")
    )


@REGISTRY.register(
    "ts60_runs_test",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type,
             CAST(MAX(CASE WHEN rk = (m + 1) // 2 THEN n END)
                  + MAX(CASE WHEN rk = (m + 2) // 2 THEN n END)
                  AS DOUBLE) / 2.0 AS median
      FROM (
        SELECT event_type, n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY n, day) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS m
        FROM daily
      ) GROUP BY 1
    ),
    signed AS (
      SELECT d.event_type, d.day,
             CASE WHEN d.n > m.median THEN 1 ELSE 0 END AS s
      FROM daily d JOIN med m USING (event_type)
      WHERE d.n <> m.median
    ),
    runs AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN s <> prev OR prev IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS r,
             CAST(SUM(s) AS BIGINT) AS n1,
             CAST(SUM(1 - s) AS BIGINT) AS n2
      FROM (
        SELECT event_type, s,
               lag(s) OVER (PARTITION BY event_type ORDER BY day) AS prev
        FROM signed
      ) GROUP BY 1
    )
    SELECT event_type,
           CAST(n1 + n2 AS BIGINT) AS n_days,
           r AS n_runs,
           round(1.0 + 2.0 * n1 * n2 / (n1 + n2), 6) AS expected_runs,
           round((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6)
               AS z_score,
           CAST(CASE WHEN round(abs(
                  (r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                  / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                         / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))), 9)
                     <= 1.96 THEN 1 ELSE 0 END AS BIGINT) AS is_random
    FROM runs
    WHERE n1 > 0 AND n2 > 0
    ORDER BY event_type
    """,
    doc="Wald-Wolfowitz runs test for randomness of each type's daily "
    "series around its median: days sign as above/below the per-type "
    "median (exact-median days drop, the textbook convention), "
    "consecutive same-sign days form runs, and too FEW runs means "
    "positive serial dependence (trends/regimes) while too MANY means "
    "oscillation — the NONPARAMETRIC companion of ts54's Ljung-Box "
    "(which assumes enough moments for the ACF to mean something; the "
    "runs test only needs an ordering) and the cheapest pre-check "
    "before trusting ts15's iid-ish z-scores. Expected runs "
    "1 + 2*n1*n2/n and its variance are closed forms of exact integer "
    "counts; the median is rank-selected with integer middle-rank "
    "arithmetic (ts56's idiom); the run count is a lag comparison of "
    "0/1 signs — pure integers until one final z division, rounded to "
    "9 dp before the 1.96 verdict in both engines. Plan: the shared "
    "daily exchange, then three type-partitioned window passes on "
    "calendar-sized frames. At 100 TB nothing downstream of the daily "
    "rollup grows with the corpus.",
    tags=("timeseries", "runs-test", "randomness", "nonparametric", "stats"),
)
def ts60(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    wrk = Window.partitionBy("event_type").orderBy("n", "day")
    wc = Window.partitionBy("event_type")
    ranked = daily.select(
        "event_type",
        "n",
        F.row_number().over(wrk).alias("rk"),
        F.count("*").over(wc).alias("m"),
    )
    med = ranked.groupBy("event_type").agg(
        (
            (
                F.max(
                    F.when(
                        F.col("rk") == F.expr("CAST((m + 1) DIV 2 AS BIGINT)"),
                        F.col("n"),
                    )
                )
                + F.max(
                    F.when(
                        F.col("rk") == F.expr("CAST((m + 2) DIV 2 AS BIGINT)"),
                        F.col("n"),
                    )
                )
            ).cast("double")
            / 2.0
        ).alias("median")
    )
    signed = (
        daily.join(F.broadcast(med), "event_type")
        .where(F.col("n") != F.col("median"))
        .select(
            "event_type",
            "day",
            F.when(F.col("n") > F.col("median"), 1).otherwise(0).alias("s"),
        )
    )
    wlag = Window.partitionBy("event_type").orderBy("day")
    runs = (
        signed.withColumn("prev", F.lag("s").over(wlag))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("prev").isNull() | (F.col("s") != F.col("prev")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("r"),
            F.sum("s").cast("long").alias("n1"),
            F.sum(1 - F.col("s")).cast("long").alias("n2"),
        )
        .where((F.col("n1") > 0) & (F.col("n2") > 0))
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    z = (r - mu) / F.sqrt(var)
    return runs.select(
        "event_type",
        (n1 + n2).cast("long").alias("n_days"),
        r.alias("n_runs"),
        F.round(mu, 6).alias("expected_runs"),
        F.round(z, 6).alias("z_score"),
        F.when(F.round(F.abs(z), 9) <= 1.96, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_random"),
    ).orderBy("event_type")


@REGISTRY.register(
    "ts61_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.n > a.n THEN 1
                           WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT)
                 AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY 1
    ),
    nd AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                 AS tie_term
      FROM (SELECT event_type, n, CAST(COUNT(*) AS BIGINT) AS t
            FROM daily GROUP BY 1, 2)
      WHERE t > 1 GROUP BY 1
    )
    SELECT nd.event_type, nd.n_days, s.s_stat,
           round((nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                  - COALESCE(ties.tie_term, 0)) / 18.0, 6) AS var_s,
           round(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                      WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                      ELSE 0 END
                 / sqrt((nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                         - COALESCE(ties.tie_term, 0)) / 18.0), 6) AS z,
           CASE WHEN abs(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                              WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                              ELSE 0 END
                 / sqrt((nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                         - COALESCE(ties.tie_term, 0)) / 18.0)) > 1.96
                THEN (CASE WHEN s.s_stat > 0 THEN 'increasing'
                           ELSE 'decreasing' END)
                ELSE 'no_trend' END AS verdict
    FROM nd JOIN s USING (event_type)
    LEFT JOIN ties USING (event_type)
    ORDER BY event_type
    """,
    doc="Mann-Kendall nonparametric trend test per event type over the "
    "daily event-count series: S = sum over all day pairs of "
    "sign(n_j - n_i), j > i — monotone-trend detection with NO "
    "distributional assumption and no linearity requirement, the "
    "standard hydrology/ops companion to ts56's Theil-Sen slope "
    "magnitude (Mann 1945, Kendall 1975; tie-corrected variance "
    "n(n-1)(2n+5)/18 - sum t(t-1)(2t+5)/18, continuity-corrected z). "
    "Everything is EXACT integers (daily counts, sign sums, tie terms) "
    "until the single variance division, so both engines agree "
    "bit-for-bit without rounding barriers. Plan: one combiner-shrunk "
    "daily rollup is the only corpus-scale exchange; the O(days^2) "
    "pair join runs on calendar-sized frames (ts56's posture — ~90 "
    "days x types at any corpus size); tie groups are a second "
    "calendar-frame rollup.",
    tags=("timeseries", "trend", "nonparametric", "stats-test"),
)
def ts61(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.when(F.col("b.n") > F.col("a.n"), 1)
            .when(F.col("b.n") < F.col("a.n"), -1)
            .otherwise(0)
            .alias("sgn"),
        )
        .groupBy("event_type")
        .agg(F.sum("sgn").cast("long").alias("s_stat"))
    )
    nd = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days")
    )
    ties = (
        daily.groupBy("event_type", "n")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    j = nd.join(s, "event_type").join(ties, "event_type", "left")
    var_s = (
        F.col("n_days")
        * (F.col("n_days") - 1)
        * (2 * F.col("n_days") + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0))
    ) / 18.0
    s_adj = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
    )
    z = s_adj / F.sqrt(var_s)
    return j.select(
        "event_type",
        "n_days",
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.when(
            F.abs(z) > 1.96,
            F.when(F.col("s_stat") > 0, "increasing").otherwise("decreasing"),
        )
        .otherwise("no_trend")
        .alias("verdict"),
    ).orderBy("event_type")


@REGISTRY.register(
    "ts62_seasonal_strength",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, day, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             CAST(dayofweek(day) AS BIGINT) AS dow,
             COUNT(*) OVER (PARTITION BY event_type) AS nd
      FROM daily
    ),
    trend AS (
      SELECT event_type, day, n, i, dow, nd,
             CASE WHEN i >= 4 AND i <= nd - 3 THEN
               round((SUM(n) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) / 7.0, 9)
             END AS tr
      FROM idx
    ),
    detr AS (
      SELECT event_type, dow, round(n - tr, 9) AS dt
      FROM trend WHERE tr IS NOT NULL
    ),
    seas AS (
      SELECT event_type, dow,
             round(CAST(SUM(CAST(dt AS DECIMAL(20,9))) AS DOUBLE)
                   / COUNT(*), 9) AS s
      FROM detr GROUP BY 1, 2
    ),
    parts AS (
      SELECT t.event_type,
             round(t.n - t.tr - s.s, 9) AS r,
             round(t.n - t.tr, 9) AS sr,
             round(t.n - s.s, 9) AS tr2
      FROM trend t JOIN seas s
        ON s.event_type = t.event_type AND s.dow = t.dow
      WHERE t.tr IS NOT NULL
    ),
    v AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CAST(round(r * r, 9) AS DECIMAL(28,9))) AS DOUBLE) AS qr,
             CAST(SUM(CAST(r AS DECIMAL(20,9))) AS DOUBLE) AS lr,
             CAST(SUM(CAST(round(sr * sr, 9) AS DECIMAL(28,9))) AS DOUBLE) AS qs,
             CAST(SUM(CAST(sr AS DECIMAL(20,9))) AS DOUBLE) AS ls,
             CAST(SUM(CAST(round(tr2 * tr2, 9) AS DECIMAL(28,9))) AS DOUBLE) AS qt,
             CAST(SUM(CAST(tr2 AS DECIMAL(20,9))) AS DOUBLE) AS lt
      FROM parts GROUP BY 1
    )
    SELECT event_type, m AS n_days_used,
           round(greatest(1.0 - (qr / m - (lr / m) * (lr / m))
                                / (qt / m - (lt / m) * (lt / m)), 0.0)
                 + 0.0, 6) AS trend_strength,
           round(greatest(1.0 - (qr / m - (lr / m) * (lr / m))
                                / (qs / m - (ls / m) * (ls / m)), 0.0)
                 + 0.0, 6) AS seasonal_strength
    FROM v ORDER BY event_type
    """,
    doc="Seasonal- and trend-strength indices (Hyndman & Athanasopoulos, "
    "FPP3 ch. 4.3, the STL feature every forecasting triage starts "
    "with): F_T = max(0, 1 - var(R)/var(T+R)) and "
    "F_S = max(0, 1 - var(R)/var(S+R)) over ts57's classical "
    "decomposition components (7-day MA trend, day-of-week seasonal, "
    "residual) — one number per type answering 'does this series even "
    "HAVE structure worth a seasonal model (ts39) or is ts21's plain "
    "trend enough'. Shares ts57's machinery verbatim; variances use "
    "the exact round-9/DECIMAL raw-moment barrier and the two strength "
    "expressions are identical single formulas in both engines (+0.0 "
    "normalizes the -0.0 canon at the clamp). Plan: identical to ts57 "
    "— one daily exchange, type-partitioned windows, calendar-sized "
    "aggs; nothing downstream of the daily rollup grows with the "
    "corpus.",
    tags=("timeseries", "seasonal", "strength", "stl", "triage"),
)
def ts62(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    wc = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "day",
        "n",
        F.row_number().over(w).alias("i"),
        F.dayofweek("day").cast("long").alias("dow"),
        F.count("*").over(wc).alias("nd"),
    )
    ma = F.sum("n").over(w.rowsBetween(-3, 3)) / 7.0
    trend = idx.select(
        "event_type",
        "day",
        "n",
        "dow",
        F.when(
            (F.col("i") >= 4) & (F.col("i") <= F.col("nd") - 3),
            F.round(ma, 9),
        ).alias("tr"),
    )
    detr = trend.where(F.col("tr").isNotNull()).select(
        "event_type", "dow", F.round(F.col("n") - F.col("tr"), 9).alias("dt")
    )
    seas = detr.groupBy("event_type", "dow").agg(
        F.round(
            F.sum(F.col("dt").cast("decimal(20,9)")).cast("double")
            / F.count("*"),
            9,
        ).alias("s")
    )
    parts = (
        trend.where(F.col("tr").isNotNull())
        .join(seas, ["event_type", "dow"])
        .select(
            "event_type",
            F.round(F.col("n") - F.col("tr") - F.col("s"), 9).alias("r"),
            F.round(F.col("n") - F.col("tr"), 9).alias("sr"),
            F.round(F.col("n") - F.col("s"), 9).alias("tr2"),
        )
    )

    def q(c):
        return (
            F.sum(F.round(F.col(c) * F.col(c), 9).cast("decimal(28,9)"))
            .cast("double")
        )

    def l(c):
        return F.sum(F.col(c).cast("decimal(20,9)")).cast("double")

    v = parts.groupBy("event_type").agg(
        F.count("*").cast("long").alias("m"),
        q("r").alias("qr"),
        l("r").alias("lr"),
        q("sr").alias("qs"),
        l("sr").alias("ls"),
        q("tr2").alias("qt"),
        l("tr2").alias("lt"),
    )
    m = F.col("m")

    def var(qc, lc):
        return F.col(qc) / m - (F.col(lc) / m) * (F.col(lc) / m)

    return v.select(
        "event_type",
        m.alias("n_days_used"),
        F.round(
            F.greatest(F.lit(1.0) - var("qr", "lr") / var("qt", "lt"), F.lit(0.0))
            + 0.0,
            6,
        ).alias("trend_strength"),
        F.round(
            F.greatest(F.lit(1.0) - var("qr", "lr") / var("qs", "ls"), F.lit(0.0))
            + 0.0,
            6,
        ).alias("seasonal_strength"),
    ).orderBy("event_type")


@REGISTRY.register(
    "ts63_page_hinkley",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(n) AS BIGINT) AS sn, CAST(SUM(n * n) AS BIGINT) AS snn
      FROM daily GROUP BY 1
    ),
    dev AS (
      SELECT d.event_type, d.day,
             round(d.n - s.sn * 1.0 / s.nd, 9) AS dv
      FROM daily d JOIN stats s USING (event_type)
    ),
    cum AS (
      SELECT event_type, day,
             CAST(SUM(CAST(dv AS DECIMAL(20,9)))
                  OVER (PARTITION BY event_type ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS m
      FROM dev
    ),
    ph AS (
      SELECT event_type, day,
             round(m - MIN(m) OVER (PARTITION BY event_type ORDER BY day
                                    ROWS UNBOUNDED PRECEDING), 9) AS ph
      FROM cum
    ),
    pk AS (
      SELECT event_type, MAX(ph) AS mph FROM ph GROUP BY 1
    ),
    peak AS (
      SELECT ph.event_type, MIN(ph.day) AS peak_day, MAX(ph.ph) AS mph
      FROM ph JOIN pk ON pk.event_type = ph.event_type AND ph.ph = pk.mph
      GROUP BY 1
    )
    SELECT s.event_type, s.nd AS n_days,
           round(p.mph, 6) AS ph_max,
           strftime(p.peak_day, '%Y-%m-%d') AS peak_day,
           round(3.0 * sqrt(s.snn * 1.0 / s.nd
                            - (s.sn * 1.0 / s.nd) * (s.sn * 1.0 / s.nd)),
                 6) AS lambda_3sd,
           CASE WHEN p.mph > 3.0 * sqrt(s.snn * 1.0 / s.nd
                            - (s.sn * 1.0 / s.nd) * (s.sn * 1.0 / s.nd))
                THEN 'drift' ELSE 'stable' END AS verdict
    FROM stats s JOIN peak p USING (event_type)
    ORDER BY s.event_type
    """,
    doc="Page-Hinkley mean-shift detection per event type over the daily "
    "count series (Page 1954; the sequential drift test every "
    "streaming-ML monitor ships): cumulative deviation from the "
    "series mean m_t = sum(x_i - mean), PH_t = m_t - min_(s<=t) m_s, "
    "alarm when max PH exceeds lambda = 3 sd — an UPWARD mean shift "
    "makes m_t climb away from its running minimum (ts50's binary "
    "segmentation finds WHERE a level shifts offline; PH is the "
    "one-pass monitor shape, and its running-min formulation needs "
    "no sequential state, unlike ts43's EWMA fold). Determinism: "
    "daily counts and raw moments are exact integers; deviations "
    "cross the 9 dp barrier into a DECIMAL running sum over a "
    "type-partitioned ROWS frame; the threshold is one closed-form "
    "expression; peak day tie-breaks to the earliest. Plan: one daily "
    "exchange, two type-partitioned running windows (key == shuffle "
    "key), calendar-sized joins.",
    tags=("timeseries", "drift", "changepoint", "monitoring"),
)
def ts63(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("n").cast("long").alias("sn"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("snn"),
    )
    dev = daily.join(stats, "event_type").select(
        "event_type",
        "day",
        F.round(F.col("n") - F.col("sn") * 1.0 / F.col("nd"), 9).alias("dv"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dev.select(
        "event_type",
        "day",
        F.sum(F.col("dv").cast("decimal(20,9)")).over(w).cast("double").alias("m"),
    )
    ph = cum.select(
        "event_type",
        "day",
        F.round(F.col("m") - F.min("m").over(w), 9).alias("ph"),
    )
    pk = ph.groupBy("event_type").agg(F.max("ph").alias("mph"))
    peak = (
        ph.join(pk, "event_type")
        .where(F.col("ph") == F.col("mph"))
        .groupBy("event_type")
        .agg(F.min("day").alias("peak_day"), F.max("ph").alias("mph"))
    )
    mean = F.col("sn") * 1.0 / F.col("nd")
    lam = 3.0 * F.sqrt(F.col("snn") * 1.0 / F.col("nd") - mean * mean)
    return (
        stats.join(peak, "event_type")
        .select(
            "event_type",
            F.col("nd").alias("n_days"),
            F.round(F.col("mph"), 6).alias("ph_max"),
            F.date_format("peak_day", "yyyy-MM-dd").alias("peak_day"),
            F.round(lam, 6).alias("lambda_3sd"),
            F.when(F.col("mph") > lam, "drift").otherwise("stable").alias(
                "verdict"
            ),
        )
        .orderBy("event_type")
    )


_TS64_BLOCKS = (8, 16, 32)


def _ts64_oracle() -> str:
    m_union = " UNION ALL ".join(f"SELECT {m} AS m" for m in _TS64_BLOCKS)
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, day, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily
    ),
    ms AS ({m_union}),
    blk AS (
      SELECT idx.event_type, ms.m, (idx.i - 1) // ms.m AS b,
             idx.day, idx.n
      FROM idx CROSS JOIN ms
    ),
    bstat AS (
      SELECT event_type, m, b, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(n) AS BIGINT) AS sn, CAST(SUM(n * n) AS BIGINT) AS snn
      FROM blk GROUP BY 1, 2, 3
    ),
    full_blk AS (SELECT * FROM bstat WHERE cnt = m),
    dev AS (
      SELECT blk.event_type, blk.m, blk.b, blk.day,
             round(blk.n - f.sn * 1.0 / f.m, 9) AS dv,
             f.snn, f.sn
      FROM blk JOIN full_blk f
        ON f.event_type = blk.event_type AND f.m = blk.m AND f.b = blk.b
    ),
    cum AS (
      SELECT event_type, m, b, snn, sn,
             CAST(SUM(CAST(dv AS DECIMAL(20,9)))
                  OVER (PARTITION BY event_type, m, b ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS z
      FROM dev
    ),
    rs AS (
      SELECT event_type, m, b,
             round(MAX(z) - MIN(z), 9) AS r,
             sqrt(MAX(snn) * 1.0 / m
                  - (MAX(sn) * 1.0 / m) * (MAX(sn) * 1.0 / m)) AS s
      FROM cum GROUP BY 1, 2, 3
    ),
    mrs AS (
      SELECT event_type, m,
             round(CAST(SUM(CAST(round(r / s, 9) AS DECIMAL(20,9)))
                        AS DOUBLE) / COUNT(*), 9) AS mean_rs
      FROM rs WHERE s > 0 GROUP BY 1, 2
    ),
    pts AS (
      SELECT event_type, round(ln(CAST(m AS DOUBLE)), 9) AS x,
             round(ln(mean_rs), 9) AS y, m, mean_rs
      FROM mrs WHERE mean_rs > 0
    ),
    fit AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(x AS DECIMAL(20,9))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(20,9))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(20,9))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(20,9))) AS DOUBLE) AS sxy
      FROM pts GROUP BY 1
    ),
    wide AS (
      SELECT event_type,
             {", ".join(f"MAX(CASE WHEN m = {m} THEN round(mean_rs, 6) END) AS rs{m}" for m in _TS64_BLOCKS)}
      FROM pts GROUP BY 1
    )
    SELECT f.event_type,
           round((f.k * f.sxy - f.sx * f.sy)
                 / (f.k * f.sxx - f.sx * f.sx), 6) AS hurst,
           {", ".join(f"w.rs{m}" for m in _TS64_BLOCKS)}
    FROM fit f JOIN wide w USING (event_type)
    WHERE f.k >= 2
    ORDER BY f.event_type
    """


@REGISTRY.register(
    "ts64_hurst_rs",
    oracle=_ts64_oracle(),
    doc="Hurst exponent by rescaled-range (R/S) analysis per event type "
    "(Hurst 1951/Mandelbrot): the daily count series splits into full "
    f"blocks of m in {_TS64_BLOCKS} days; per block R = range of the "
    "cumulative mean-deviation walk, S = population std; H = OLS slope "
    "of ln(mean R/S) on ln(m). H ≈ 0.5 is memoryless, H > 0.5 "
    "long-range dependent (bursts cluster — capacity planning must "
    "size for runs, not i.i.d. noise; complements ts30's burstiness "
    "and ts54's short-lag whiteness with the LONG-memory view). "
    "Determinism: counts/raw moments exact integers; deviations and "
    "every R/S cross the 9 dp DECIMAL barrier; the OLS is the tx51 "
    "closed form; incomplete trailing blocks and zero-variance blocks "
    "drop in BOTH engines. Plan: one daily exchange; the walk is a "
    "(type, m, block)-partitioned running window over calendar-sized "
    "frames; everything after is |types| x 3 arithmetic.",
    tags=("timeseries", "hurst", "long-memory", "stats"),
)
def ts64(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.withColumn("i", F.row_number().over(w))
    ms = spark.range(1).select(
        F.explode(F.array(*[F.lit(m) for m in _TS64_BLOCKS])).alias("m")
    )
    blk = idx.crossJoin(F.broadcast(ms)).select(
        "event_type",
        "m",
        ((F.col("i") - 1) / F.col("m")).cast("long").alias("b"),
        "day",
        "n",
    )
    bstat = blk.groupBy("event_type", "m", "b").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("n").cast("long").alias("sn"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("snn"),
    )
    full_blk = bstat.filter(F.col("cnt") == F.col("m"))
    dev = blk.join(full_blk, ["event_type", "m", "b"]).select(
        "event_type",
        "m",
        "b",
        "day",
        F.round(F.col("n") - F.col("sn") * 1.0 / F.col("m"), 9).alias("dv"),
        "snn",
        "sn",
    )
    wb = (
        Window.partitionBy("event_type", "m", "b")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dev.select(
        "event_type",
        "m",
        "b",
        "snn",
        "sn",
        F.sum(F.col("dv").cast("decimal(20,9)")).over(wb).cast("double").alias("z"),
    )
    mean = F.max("sn") * 1.0 / F.col("m")
    rs = cum.groupBy("event_type", "m", "b").agg(
        F.round(F.max("z") - F.min("z"), 9).alias("r"),
        F.sqrt(F.max("snn") * 1.0 / F.col("m") - mean * mean).alias("s"),
    )
    mrs = (
        rs.filter(F.col("s") > 0)
        .groupBy("event_type", "m")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("r") / F.col("s"), 9).cast("decimal(20,9)")
                ).cast("double")
                / F.count("*"),
                9,
            ).alias("mean_rs")
        )
    )
    pts = mrs.filter(F.col("mean_rs") > 0).select(
        "event_type",
        "m",
        "mean_rs",
        F.round(F.log(F.col("m").cast("double")), 9).alias("x"),
        F.round(F.log("mean_rs"), 9).alias("y"),
    )
    fit = pts.groupBy("event_type").agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("x").cast("decimal(20,9)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(20,9)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 9).cast("decimal(20,9)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("x") * F.col("y"), 9).cast("decimal(20,9)"))
        .cast("double")
        .alias("sxy"),
    )
    wide = pts.groupBy("event_type").agg(
        *[
            F.max(
                F.when(F.col("m") == m, F.round(F.col("mean_rs"), 6))
            ).alias(f"rs{m}")
            for m in _TS64_BLOCKS
        ]
    )
    k, sx, sy, sxx, sxy = (
        F.col("k"),
        F.col("sx"),
        F.col("sy"),
        F.col("sxx"),
        F.col("sxy"),
    )
    return (
        fit.filter(F.col("k") >= 2)
        .join(wide, "event_type")
        .select(
            "event_type",
            F.round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6).alias(
                "hurst"
            ),
            *[F.col(f"rs{m}") for m in _TS64_BLOCKS],
        )
        .orderBy("event_type")
    )


@REGISTRY.register(
    "ts65_pacf_yule_walker",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, n,
             lag(n, 1) OVER w AS l1,
             lag(n, 2) OVER w AS l2,
             lag(n, 3) OVER w AS l3
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    acf AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             round(corr(n, l1), 9) AS r1,
             round(corr(n, l2), 9) AS r2,
             round(corr(n, l3), 9) AS r3
      FROM lagged GROUP BY 1
    ),
    dl2 AS (
      SELECT *,
             CASE WHEN 1 - r1 * r1 = 0 THEN NULL
                  ELSE (r2 - r1 * r1) / (1 - r1 * r1) END AS phi22
      FROM acf
    ),
    dl3 AS (
      SELECT *, r1 * (1 - phi22) AS phi21 FROM dl2
    )
    SELECT event_type, n_days,
           round(r1, 6) AS acf_1,
           round(r2, 6) AS acf_2,
           round(r3, 6) AS acf_3,
           round(r1, 6) AS pacf_1,
           round(phi22, 6) AS pacf_2,
           round(CASE WHEN 1 - phi21 * r1 - phi22 * r2 = 0 THEN NULL
                      ELSE (r3 - phi21 * r2 - phi22 * r1)
                           / (1 - phi21 * r1 - phi22 * r2) END, 6)
               AS pacf_3
    FROM dl3
    """,
    doc="Partial autocorrelation (lags 1-3) per series via the "
    "Durbin-Levinson closed forms — the AR-order selector ts28's raw "
    "ACF cannot be (an AR(1) has geometric ACF at ALL lags but PACF "
    "that cuts off after lag 1; PACF is what the Box-Jenkins 'which "
    "p?' decision reads): phi11 = r1, phi22 = (r2 - r1^2)/(1 - r1^2), "
    "phi21 = r1(1 - phi22), phi33 = (r3 - phi21 r2 - phi22 r1)/(1 - "
    "phi21 r1 - phi22 r2) — the k <= 3 recursion unrolled to plain "
    "arithmetic, so no iterative solver exists in either engine. ACF "
    "estimates are ts28's lagged corr() pairs rounded at 9 dp (the "
    "cross-engine barrier: everything after is exact IEEE arithmetic "
    "on identical inputs, with zero-denominator guards in both). "
    "Plan: one daily rollup exchange, a (type)-partitioned lag "
    "window, a k-row moment agg — calendar-sized frames after the "
    "first pass, same as ts28.",
    tags=("timeseries", "pacf", "yule-walker", "stats"),
)
def ts65(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "n",
        F.lag("n", 1).over(w).alias("l1"),
        F.lag("n", 2).over(w).alias("l2"),
        F.lag("n", 3).over(w).alias("l3"),
    )
    acf = lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.corr("n", "l1"), 9).alias("r1"),
        F.round(F.corr("n", "l2"), 9).alias("r2"),
        F.round(F.corr("n", "l3"), 9).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    den2 = 1 - r1 * r1
    phi22 = F.when(den2 != 0, (r2 - r1 * r1) / den2)
    dl = acf.withColumn("phi22", phi22).withColumn(
        "phi21", r1 * (1 - F.col("phi22"))
    )
    den3 = 1 - F.col("phi21") * r1 - F.col("phi22") * r2
    phi33 = F.when(
        den3 != 0,
        (r3 - F.col("phi21") * r2 - F.col("phi22") * r1) / den3,
    )
    return dl.select(
        "event_type",
        "n_days",
        F.round(r1, 6).alias("acf_1"),
        F.round(r2, 6).alias("acf_2"),
        F.round(r3, 6).alias("acf_3"),
        F.round(r1, 6).alias("pacf_1"),
        F.round(F.col("phi22"), 6).alias("pacf_2"),
        F.round(phi33, 6).alias("pacf_3"),
    )


@REGISTRY.register(
    "ts66_variance_ratio",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    diffs AS (
      SELECT event_type,
             x - lag(x, 1) OVER w AS d1,
             x - lag(x, 5) OVER w AS d5
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(d5) AS BIGINT) AS n_q,
             round(var_samp(d1), 9) AS v1,
             round(var_samp(d5), 9) AS v5
      FROM diffs GROUP BY 1
    )
    SELECT event_type, n_q,
           round(v5 / (5 * v1), 6) AS vr_5,
           round((v5 / (5 * v1) - 1)
                 / sqrt(2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5 * n_q)), 6)
               AS z_stat
    FROM m
    """,
    doc="Lo-MacKinlay variance-ratio test (q=5) on daily volume per "
    "series — the random-walk diagnostic BETWEEN ts64's Hurst "
    "exponent (global memory) and ts28's ACF (single lags): under an "
    "uncorrelated-increments null the variance of 5-day differences "
    "is exactly 5x the 1-day variance, so VR(5) > 1 reads as "
    "momentum, < 1 as mean reversion, with the homoscedastic normal "
    "z = (VR-1)/sqrt(2(2q-1)(q-1)/(3qn)). Both difference series "
    "come from ONE (type)-partitioned lag window over the daily "
    "rollup; var_samp is a moment aggregate rounded at 9 dp (the "
    "cross-engine barrier) before the exact-arithmetic ratio and z. "
    "Plan: one daily-count exchange, one partitioned window, a k-row "
    "agg — ts28's cost envelope exactly.",
    tags=("timeseries", "variance-ratio", "random-walk", "stats"),
)
def ts66(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    diffs = daily.select(
        "event_type",
        (F.col("x") - F.lag("x", 1).over(w)).alias("d1"),
        (F.col("x") - F.lag("x", 5).over(w)).alias("d5"),
    )
    m = diffs.groupBy("event_type").agg(
        F.count("d5").alias("n_q"),
        F.round(F.var_samp("d1"), 9).alias("v1"),
        F.round(F.var_samp("d5"), 9).alias("v5"),
    )
    vr = F.col("v5") / (5 * F.col("v1"))
    se = F.sqrt(
        F.lit(2.0 * (2 * 5 - 1) * (5 - 1)) / (F.lit(3.0 * 5) * F.col("n_q"))
    )
    return m.select(
        "event_type",
        F.col("n_q").cast("long").alias("n_q"),
        F.round(vr, 6).alias("vr_5"),
        F.round((vr - 1) / se, 6).alias("z_stat"),
    )


@REGISTRY.register(
    "ts67_acf_significance",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, n,
             lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2,
             lag(n, 3) OVER w AS l3, lag(n, 4) OVER w AS l4,
             lag(n, 5) OVER w AS l5, lag(n, 6) OVER w AS l6,
             lag(n, 7) OVER w AS l7
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    wide AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             round(corr(n, l1), 9) AS r1, round(corr(n, l2), 9) AS r2,
             round(corr(n, l3), 9) AS r3, round(corr(n, l4), 9) AS r4,
             round(corr(n, l5), 9) AS r5, round(corr(n, l6), 9) AS r6,
             round(corr(n, l7), 9) AS r7
      FROM lagged GROUP BY 1
    ),
    tall AS (
      SELECT event_type, n_days, l.lag,
             CASE l.lag WHEN 1 THEN r1 WHEN 2 THEN r2 WHEN 3 THEN r3
                  WHEN 4 THEN r4 WHEN 5 THEN r5 WHEN 6 THEN r6
                  ELSE r7 END AS r9
      FROM wide CROSS JOIN
           (SELECT UNNEST([1, 2, 3, 4, 5, 6, 7]) AS lag) l
    ),
    banded AS (
      SELECT event_type, CAST(lag AS BIGINT) AS lag, r9,
             round(sqrt((1 + 2 * COALESCE(SUM(r9 * r9) OVER
                 (PARTITION BY event_type ORDER BY lag
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                 / n_days), 9) AS se9
      FROM tall
    )
    SELECT event_type, lag,
           round(r9, 6) AS acf,
           round(se9, 6) AS bartlett_se,
           abs(r9) > 1.96 * se9 AS significant
    FROM banded ORDER BY event_type, lag
    """,
    doc="ACF significance table (lags 1-7) with Bartlett's growing "
    "standard error — the piece ts28's raw ACF and ts54's portmanteau "
    "Ljung-Box both omit: WHICH individual lags are significant, "
    "under the correct null band se_k = sqrt((1 + 2*sum_{j<k} "
    "r_j^2)/n) that widens as earlier autocorrelation accumulates "
    "(the naive 1/sqrt(n) band over-flags once lag-1 momentum "
    "exists). The 7 lagged copies come from ONE (type)-partitioned "
    "window pass; corr moments round at 9 dp (the barrier) before "
    "the unpivot, and the cumulative r^2 prefix runs over the "
    "(type)-partitioned 5x7 frame. Plan: one daily-count exchange, "
    "one lag window, a k-row agg, then constant-size reshaping — "
    "ts28's exact cost envelope with the decision column added.",
    tags=("timeseries", "acf", "bartlett", "significance", "stats"),
)
def ts67(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "n",
        *[F.lag("n", k).over(w).alias(f"l{k}") for k in range(1, 8)],
    )
    wide = lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        *[
            F.round(F.corr("n", f"l{k}"), 9).alias(f"r{k}")
            for k in range(1, 8)
        ],
    )
    stack_args = ", ".join(f"{k}, r{k}" for k in range(1, 8))
    tall = wide.select(
        "event_type",
        "n_days",
        F.expr(f"stack(7, {stack_args}) AS (lag, r9)"),
    ).select("event_type", "n_days", F.col("lag").cast("long").alias("lag"), "r9")
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    banded = tall.select(
        "event_type",
        "lag",
        "r9",
        F.round(
            F.sqrt(
                (
                    1
                    + 2
                    * F.coalesce(
                        F.sum(F.col("r9") * F.col("r9")).over(wcum),
                        F.lit(0.0),
                    )
                )
                / F.col("n_days")
            ),
            9,
        ).alias("se9"),
    )
    return banded.select(
        "event_type",
        "lag",
        F.round("r9", 6).alias("acf"),
        F.round("se9", 6).alias("bartlett_se"),
        (F.abs(F.col("r9")) > 1.96 * F.col("se9")).alias("significant"),
    ).orderBy("event_type", "lag")


@REGISTRY.register(
    "ts68_period_scan",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM daily
    ),
    buckets AS (
      SELECT p.period, daily.d % p.period AS k,
             CAST(COUNT(*) AS BIGINT) AS nk,
             CAST(SUM(x) AS BIGINT) AS sk
      FROM daily, (SELECT unnest(range(2, 15)) AS period) p
      GROUP BY 1, 2
    ),
    per AS (
      SELECT period,
             CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(SUM(CAST(round(CAST(sk AS DOUBLE) * sk / nk, 9)
                           AS DECIMAL(38,9))) AS DOUBLE) AS ssb_plus
      FROM buckets GROUP BY 1
    )
    SELECT period, n_buckets, n AS n_days,
           round((ssb_plus - CAST(s AS DOUBLE) * s / n)
                 / (sxx - CAST(s AS DOUBLE) * s / n), 6) AS r2
    FROM per, tot
    ORDER BY period
    """,
    doc="Seasonality period scan: for every candidate period p in "
    "[2, 14], fold the daily event-count series modulo p and measure "
    "the fraction of variance explained by the fold (R^2 = between-"
    "bucket SS / total SS over epoch-day buckets d mod p) — the "
    "detector that FINDS the dominant cycle, where ts62 measures "
    "strength at one pinned period. Peak at p=7 = weekly cadence; "
    "harmonics (p=14) score <= the fundamental. Folding by (d mod p) "
    "partitions identical day-sets regardless of phase, so the epoch-"
    "day index needs no min-date join. Day count n, event sums S, "
    "S_k and the sum of squares are exact integers in both engines; "
    "the between-bucket term sk^2/nk is a single IEEE expression of "
    "those integers per bucket, rounded at the repo's 9-dp barrier "
    "and summed as DECIMAL(38,9) (the ts70/ts72 idiom) so the "
    "accumulation is order-independent across engines and "
    "partitionings; the final R^2 ratio rounds at 6 dp. Plan: ONE "
    "daily combiner agg over events, a 13x explode of "
    "the ~|days|-row frame, a (period, k)-grain agg (<= 14*14 + |days| "
    "x 13 rows), and a broadcast 1-row grand total — events are "
    "scanned once; at 100 TB the only corpus-scale exchange is the "
    "daily rollup.",
    tags=("timeseries", "seasonality", "spectral", "stats"),
)
def ts68(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("dt"))
        .agg(F.count("*").alias("x"))
        .select(
            F.datediff(F.col("dt"), F.lit("1970-01-01").cast("date")).alias(
                "d"
            ),
            "x",
        )
        # pinned: the grand-total agg and the bucket agg both read it —
        # unpinned lineage would scan events twice
        .localCheckpoint(eager=False)
    )
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    buckets = (
        daily.select(
            "d",
            "x",
            F.explode(F.array([F.lit(i) for i in range(2, 15)])).alias(
                "period"
            ),
        )
        .groupBy("period", (F.col("d") % F.col("period")).alias("k"))
        .agg(F.count("*").alias("nk"), F.sum("x").alias("sk"))
    )
    per = buckets.groupBy("period").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum(
            F.round(
                F.col("sk").cast("double") * F.col("sk") / F.col("nk"), 9
            ).cast("decimal(38,9)")
        )
        .cast("double")
        .alias("ssb_plus"),
    )
    s, n, sxx = F.col("s"), F.col("n"), F.col("sxx")
    correction = s.cast("double") * s / n
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("period").cast("long").alias("period"),
            "n_buckets",
            n.cast("long").alias("n_days"),
            F.round(
                (F.col("ssb_plus") - correction) / (sxx - correction), 6
            ).alias("r2"),
        )
        .orderBy("period")
    )


@REGISTRY.register(
    "ts69_seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, x,
             lag(x, 1) OVER (PARTITION BY event_type ORDER BY d) AS f_naive,
             lag(x, 7) OVER (PARTITION BY event_type ORDER BY d) AS f_snaive
      FROM daily
    ),
    eval AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_eval,
             SUM(abs(x - f_naive)) AS ae1,
             SUM(abs(x - f_snaive)) AS ae7,
             SUM((x - f_naive) * (x - f_naive)) AS se1,
             SUM((x - f_snaive) * (x - f_snaive)) AS se7
      FROM lagged
      WHERE f_naive IS NOT NULL AND f_snaive IS NOT NULL
      GROUP BY 1
    )
    SELECT event_type, n_eval,
           round(CAST(ae1 AS DOUBLE) / n_eval, 6) AS mae_naive,
           round(CAST(ae7 AS DOUBLE) / n_eval, 6) AS mae_snaive,
           round(sqrt(CAST(se1 AS DOUBLE) / n_eval), 6) AS rmse_naive,
           round(sqrt(CAST(se7 AS DOUBLE) / n_eval), 6) AS rmse_snaive,
           round(CAST(ae7 AS DOUBLE) / ae1, 6) AS mase_vs_naive
    FROM eval
    ORDER BY event_type
    """,
    doc="Forecast backtest harness: per event type, score the two "
    "zero-parameter baselines every demand-forecasting effort must "
    "beat — naive (yesterday's count) and seasonal-naive (the count "
    "one week ago) — over the observed-day daily series, reporting "
    "MAE, RMSE and the MASE-style ratio mae_snaive/mae_naive (<1 "
    "means the weekly cycle carries real signal; ts68 finds the "
    "period, this measures its forecasting value). Both lags are "
    "previous OBSERVED days (the daily frame's own order), evaluated "
    "only where both forecasts exist so the two baselines share one "
    "eval window. Counts and errors are exact integers in both "
    "engines; the final divisions/sqrt are single IEEE expressions "
    "rounded at 6 dp. Plan: one daily combiner agg over events, ONE "
    "(event_type)-partitioned window producing both lags, a "
    "|types|-row agg. At 100 TB the daily rollup is the only "
    "corpus-scale exchange; the window runs at day grain.",
    tags=("timeseries", "forecast", "backtest", "seasonality"),
)
def ts69(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("dt")
    ).agg(F.count("*").alias("x"))
    w = Window.partitionBy("event_type").orderBy("dt")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("f_naive"),
        F.lag("x", 7).over(w).alias("f_snaive"),
    ).filter(F.col("f_naive").isNotNull() & F.col("f_snaive").isNotNull())
    ev_ = lagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_eval"),
        F.sum(F.abs(F.col("x") - F.col("f_naive"))).alias("ae1"),
        F.sum(F.abs(F.col("x") - F.col("f_snaive"))).alias("ae7"),
        F.sum(
            (F.col("x") - F.col("f_naive")) * (F.col("x") - F.col("f_naive"))
        ).alias("se1"),
        F.sum(
            (F.col("x") - F.col("f_snaive"))
            * (F.col("x") - F.col("f_snaive"))
        ).alias("se7"),
    )
    n = F.col("n_eval")
    return ev_.select(
        "event_type",
        "n_eval",
        F.round(F.col("ae1").cast("double") / n, 6).alias("mae_naive"),
        F.round(F.col("ae7").cast("double") / n, 6).alias("mae_snaive"),
        F.round(F.sqrt(F.col("se1").cast("double") / n), 6).alias(
            "rmse_naive"
        ),
        F.round(F.sqrt(F.col("se7").cast("double") / n), 6).alias(
            "rmse_snaive"
        ),
        F.round(F.col("ae7").cast("double") / F.col("ae1"), 6).alias(
            "mase_vs_naive"
        ),
    ).orderBy("event_type")


@REGISTRY.register(
    "ts70_mix_share_drift",
    oracle="""
    WITH weekly0 AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
                 AS wk0,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    weekly AS (
      SELECT wk0 - (SELECT MIN(wk0) FROM weekly0) AS wk, event_type, c
      FROM weekly0
    ),
    wktot AS (
      SELECT wk, CAST(SUM(c) AS BIGINT) AS tot FROM weekly GROUP BY 1
    ),
    grid AS (
      SELECT w.wk, t.event_type, w.tot, COALESCE(x.c, 0) AS c
      FROM wktot w
      CROSS JOIN (SELECT DISTINCT event_type FROM weekly) t
      LEFT JOIN weekly x ON x.wk = w.wk AND x.event_type = t.event_type
    ),
    shares AS (
      SELECT event_type, wk,
             round(c * 1.0 / tot, 9) AS h9
      FROM grid
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(wk) AS BIGINT) AS sw,
             CAST(SUM(wk * wk) AS BIGINT) AS sww,
             CAST(SUM(CAST(h9 AS DECIMAL(20,9))) AS DOUBLE) AS sh,
             CAST(SUM(CAST(wk AS DECIMAL(10,0))
                      * CAST(h9 AS DECIMAL(12,9))) AS DOUBLE) AS swh
      FROM shares GROUP BY 1
    )
    SELECT event_type, n AS n_weeks,
           round(sh / n, 6) AS mean_share,
           round((n * swh - sw * sh)
                 / (CAST(n AS DOUBLE) * sww - CAST(sw AS DOUBLE) * sw), 9)
               AS share_slope_per_week
    FROM s
    ORDER BY event_type
    """,
    doc="Event-mix drift attribution: per event type, the OLS slope of "
    "its weekly traffic SHARE against the min-centered week index over the "
    "dense (week x type) grid (absent weeks count as share 0 — "
    "missing-row bias would otherwise make a dying type look flat). "
    "The mix-shift early-warning next to ts61's Mann-Kendall (which "
    "trends VOLUME; a type can hold volume while losing share in a "
    "growing stream) and x57's growth decomposition (monthly revenue "
    "mix; this is the event-stream twin at week grain). Shares cross "
    "the 9-dp DECIMAL barrier before summation; centering the week "
    "index at the observed origin keeps indices and their squares "
    "small exact integers (no 38-digit decimal products, no large-"
    "term cancellation in the slope numerator), so every regression "
    "moment is engine-exact; the slope is one IEEE expression, rounded at 9 dp "
    "(slopes are O(1e-4)/week). Plan: one weekly combiner agg over "
    "events, a |weeks|x|types| grid built from two tiny frames, a "
    "|types|-row moment agg — events scan once; at 100 TB only the "
    "weekly rollup is corpus-scale.",
    tags=("timeseries", "drift", "mix", "regression"),
)
def ts70(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    weekly0 = (
        ev.groupBy(
            F.expr(
                "CAST(datediff(to_date(ts), DATE '1970-01-01') DIV 7 "
                "AS BIGINT)"
            ).alias("wk0"),
            "event_type",
        )
        .agg(F.count("*").alias("c"))
        # pinned: the min-week centering, week totals, the type list and
        # the left join all read it
        .localCheckpoint(eager=False)
    )
    wkmin = weekly0.agg(F.min("wk0").alias("wkmin"))
    # center the week index at the observed origin: moments stay small
    # integers (no 38-digit decimal products, no large-term cancellation
    # in the slope numerator)
    weekly = weekly0.crossJoin(F.broadcast(wkmin)).select(
        (F.col("wk0") - F.col("wkmin")).alias("wk"), "event_type", "c"
    )
    wktot = weekly.groupBy("wk").agg(F.sum("c").cast("long").alias("tot"))
    types = weekly.select("event_type").distinct()
    grid = (
        wktot.crossJoin(F.broadcast(types))
        .join(weekly.withColumnRenamed("c", "c0"), ["wk", "event_type"], "left")
        .select(
            "event_type",
            "wk",
            F.round(
                F.coalesce(F.col("c0"), F.lit(0)) * 1.0 / F.col("tot"), 9
            ).alias("h9"),
        )
    )
    s = grid.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("wk").cast("long").alias("sw"),
        F.sum(F.col("wk") * F.col("wk")).cast("long").alias("sww"),
        F.sum(F.col("h9").cast("decimal(20,9)")).cast("double").alias("sh"),
        F.sum(
            F.col("wk").cast("decimal(10,0)")
            * F.col("h9").cast("decimal(12,9)")
        )
        .cast("double")
        .alias("swh"),
    )
    n, sw = F.col("n"), F.col("sw")
    return s.select(
        "event_type",
        n.alias("n_weeks"),
        F.round(F.col("sh") / n, 6).alias("mean_share"),
        F.round(
            (n * F.col("swh") - sw * F.col("sh"))
            / (n.cast("double") * F.col("sww") - sw.cast("double") * sw),
            9,
        ).alias("share_slope_per_week"),
    ).orderBy("event_type")


@REGISTRY.register(
    "ts71_anomaly_run_lengths",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY 1
    ),
    flagged AS (
      SELECT d.event_type, d.d, st.n,
             (st.n * d.x - st.s) * (st.n * d.x - st.s)
               > 4 * (st.n * st.sxx - st.s * st.s) AS anom
      FROM daily d JOIN stats st USING (event_type)
    ),
    runs AS (
      SELECT event_type, n,
             d - row_number() OVER (PARTITION BY event_type ORDER BY d)
                 AS grp
      FROM flagged WHERE anom
    ),
    rl AS (
      SELECT event_type, MAX(n) AS n_days, grp,
             CAST(COUNT(*) AS BIGINT) AS run_len
      FROM runs GROUP BY event_type, grp
    )
    SELECT event_type,
           MAX(n_days) AS n_days,
           CAST(SUM(run_len) AS BIGINT) AS n_anom_days,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(run_len) AS BIGINT) AS max_run_len,
           round(SUM(run_len) * 1.0 / COUNT(*), 6) AS mean_run_len,
           round(SUM(run_len) * 1.0 / MAX(n_days), 6) AS anom_day_share
    FROM rl
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Anomaly persistence profile: per event type, flag daily-count "
    "anomalies at the 2-sigma population gate and report the RUN-"
    "LENGTH distribution of consecutive anomalous days (d minus "
    "row_number grouping over the observed-day index) — ts15 flags "
    "points, this measures whether anomalies arrive as isolated "
    "blips (monitoring noise, alert-gate with cooldown: S34) or "
    "multi-day regimes (real shifts, page someone). The 2-sigma "
    "test is INTEGER-EXACT: (n*x - s)^2 > 4*(n*sxx - s^2) is the "
    "threshold inequality cleared of division and sqrt, so both "
    "engines compare the same integers and no FP boundary can flip "
    "a flag; run grouping and lengths are integer window/agg "
    "arithmetic; only the two final ratios are doubles, rounded at "
    "6 dp. Plan: one daily combiner agg over events, a broadcast "
    "|types|-row stats join, one (event_type)-partitioned window, "
    "two small aggs. At 100 TB only the daily rollup is corpus-"
    "scale.",
    tags=("timeseries", "anomaly", "runs", "monitoring"),
)
def ts71(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            ).alias("d"),
        )
        .agg(F.count("*").alias("x"))
        # pinned: the stats agg and the flag join both read it
        .localCheckpoint(eager=False)
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    n, s, sxx, x = F.col("n"), F.col("s"), F.col("sxx"), F.col("x")
    dev = n * x - s
    flagged = daily.join(F.broadcast(stats), "event_type").filter(
        dev * dev > 4 * (n * sxx - s * s)
    )
    w = Window.partitionBy("event_type").orderBy("d")
    runs = flagged.select(
        "event_type",
        "n",
        (F.col("d") - F.row_number().over(w)).alias("grp"),
    )
    rl = runs.groupBy("event_type", "grp").agg(
        F.max("n").alias("n_days"),
        F.count("*").cast("long").alias("run_len"),
    )
    return (
        rl.groupBy("event_type")
        .agg(
            F.max("n_days").cast("long").alias("n_days"),
            F.sum("run_len").cast("long").alias("n_anom_days"),
            F.count("*").cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("max_run_len"),
            F.round(F.sum("run_len") * 1.0 / F.count("*"), 6).alias(
                "mean_run_len"
            ),
            F.round(F.sum("run_len") * 1.0 / F.max("n_days"), 6).alias(
                "anom_day_share"
            ),
        )
        .orderBy("event_type")
    )


@REGISTRY.register(
    "ts72_hourly_profile_stability",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
                 AS wk,
             extract(hour FROM ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    norms AS (
      SELECT event_type, wk, CAST(SUM(c * c) AS BIGINT) AS nrm2
      FROM hourly GROUP BY 1, 2
    ),
    dots AS (
      SELECT a.event_type, a.wk,
             CAST(SUM(a.c * b.c) AS BIGINT) AS dot
      FROM hourly a
      JOIN hourly b ON b.event_type = a.event_type
                   AND b.wk = a.wk + 1 AND b.hr = a.hr
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT d.event_type, d.wk,
             round(CAST(d.dot AS DOUBLE)
                   / sqrt(CAST(n1.nrm2 AS DOUBLE) * n2.nrm2), 9) AS cos9
      FROM dots d
      JOIN norms n1 ON n1.event_type = d.event_type AND n1.wk = d.wk
      JOIN norms n2 ON n2.event_type = d.event_type AND n2.wk = d.wk + 1
    ),
    worst AS (
      SELECT event_type, wk AS worst_week_start, cos9,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cos9, wk) AS rn
      FROM pairs
    )
    SELECT p.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_week_pairs,
           round(CAST(SUM(CAST(p.cos9 AS DECIMAL(12,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_cos,
           round(MIN(p.cos9), 6) AS min_cos,
           MAX(w.worst_week_start) AS worst_week_start
    FROM pairs p
    JOIN worst w ON w.event_type = p.event_type AND w.rn = 1
    GROUP BY 1 ORDER BY 1
    """,
    doc="Week-over-week hourly-profile stability: per event type, the "
    "cosine similarity between consecutive weeks' 24-hour count "
    "vectors — mean (how templated the weekly rhythm is), minimum, "
    "and WHICH week broke it (the schedule-shift / instrumentation-"
    "change detector; ts58 shows the average hourly profile, this "
    "catches the week it changed). Dot products and squared norms "
    "are exact BIGINT sums of integer counts joined on (type, week, "
    "hour); each cosine is ONE IEEE expression on those exact "
    "integers crossing the 9-dp barrier, means cross the DECIMAL "
    "fold, and the argmin week comes from a (type)-partitioned rank "
    "over the week-pair frame (cos9, wk total order). Plan: one "
    "hourly combiner agg over events (the only corpus-scale "
    "exchange), self-join at (type, week, hour) grain — calendar-"
    "sized, 24 rows per pair — then |types|-row output.",
    tags=("timeseries", "drift", "profile", "stability"),
)
def ts72(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.expr(
                "CAST(datediff(to_date(ts), DATE '1970-01-01') DIV 7 "
                "AS BIGINT)"
            ).alias("wk"),
            F.hour("ts").alias("hr"),
        )
        .agg(F.count("*").alias("c"))
        # pinned: norms and both dot-join sides read it
        .localCheckpoint(eager=False)
    )
    norms = hourly.groupBy("event_type", "wk").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("nrm2")
    )
    a = hourly.select(
        F.col("event_type").alias("et"),
        F.col("wk").alias("awk"),
        F.col("hr").alias("ahr"),
        F.col("c").alias("ac"),
    )
    b = hourly.select(
        F.col("event_type").alias("et2"),
        F.col("wk").alias("bwk"),
        F.col("hr").alias("bhr"),
        F.col("c").alias("bc"),
    )
    dots = (
        a.join(
            b,
            (F.col("et2") == F.col("et"))
            & (F.col("bwk") == F.col("awk") + 1)
            & (F.col("bhr") == F.col("ahr")),
        )
        .groupBy(F.col("et").alias("event_type"), F.col("awk").alias("wk"))
        .agg(F.sum(F.col("ac") * F.col("bc")).cast("long").alias("dot"))
    )
    n1 = norms.select(
        F.col("event_type").alias("e1"),
        F.col("wk").alias("w1"),
        F.col("nrm2").alias("nrm2a"),
    )
    n2 = norms.select(
        F.col("event_type").alias("e2"),
        F.col("wk").alias("w2"),
        F.col("nrm2").alias("nrm2b"),
    )
    pairs = (
        dots.join(
            n1, (F.col("e1") == F.col("event_type")) & (F.col("w1") == F.col("wk"))
        )
        .join(
            n2,
            (F.col("e2") == F.col("event_type"))
            & (F.col("w2") == F.col("wk") + 1),
        )
        .select(
            "event_type",
            "wk",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("nrm2a").cast("double") * F.col("nrm2b")
                ),
                9,
            ).alias("cos9"),
        )
        # pinned: the mean agg and the argmin rank both read it
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("event_type").orderBy("cos9", "wk")
    worst = (
        pairs.select(
            "event_type",
            F.col("wk").alias("worst_week_start"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("event_type", "worst_week_start")
    )
    agg = pairs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_week_pairs"),
        F.round(
            F.sum(F.col("cos9").cast("decimal(12,9)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_cos"),
        F.round(F.min("cos9"), 6).alias("min_cos"),
    )
    return (
        agg.join(worst, "event_type")
        .select(
            "event_type",
            "n_week_pairs",
            "mean_cos",
            "min_cos",
            "worst_week_start",
        )
        .orderBy("event_type")
    )


@REGISTRY.register(
    "ts73_record_breaking_days",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS dt,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, x,
             MAX(x) OVER (PARTITION BY event_type ORDER BY dt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm,
             row_number() OVER (PARTITION BY event_type ORDER BY dt) AS rn
      FROM daily
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(CASE WHEN pm IS NULL OR x > pm THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_records,
             CAST(SUM(CAST(round(CAST(1 AS DOUBLE) / rn, 9)
                           AS DECIMAL(20,9))) AS DOUBLE) AS hn,
             CAST(SUM(CAST(round(CAST(1 AS DOUBLE) / (rn * rn), 9)
                           AS DECIMAL(20,9))) AS DOUBLE) AS hn2
      FROM seq GROUP BY 1
    )
    SELECT event_type, n_days, n_records,
           round(hn, 6) AS expected_records,
           round((n_records - hn) / sqrt(hn - hn2), 6) AS z_score
    FROM agg ORDER BY 1
    """,
    doc="Record-breaking-days trend test per event type: count the days "
    "whose daily event count strictly exceeds every earlier day (upper "
    "records; day 1 always counts) and compare against the i.i.d. "
    "null, where the expected record count is the harmonic number H_n "
    "and Var = H_n - H_n^(2) (records theory, Renyi 1962) — a "
    "distribution-free growth detector that complements ts61's "
    "Mann-Kendall (which scores ALL pairs) by reacting only to new "
    "peaks, i.e. exactly what capacity planning cares about. Record "
    "flags are exact integer compares against a strict-prefix max; "
    "the harmonic sums accumulate per-day 1/rn terms through the "
    "9-dp-round + DECIMAL barrier (order-independent in both "
    "engines); the z-score is one identically-written IEEE expression "
    "rounded 6 dp. Plan: one daily combiner agg over events, one "
    "(event_type)-partitioned window pass producing prefix max + row "
    "number, a |types|-row agg. At 100 TB the daily rollup is the "
    "only corpus-scale exchange; windows run at day grain.",
    tags=("timeseries", "records", "trend", "stats"),
)
def ts73(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("dt")
    ).agg(F.count("*").cast("long").alias("x"))
    w = Window.partitionBy("event_type").orderBy("dt")
    wx = w.rowsBetween(Window.unboundedPreceding, -1)
    seq = daily.select(
        "event_type",
        "x",
        F.max("x").over(wx).alias("pm"),
        F.row_number().over(w).alias("rn"),
    )
    one = F.lit(1).cast("double")
    agg = seq.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(
            F.when(
                F.col("pm").isNull() | (F.col("x") > F.col("pm")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_records"),
        F.sum(
            F.round(one / F.col("rn"), 9).cast("decimal(20,9)")
        )
        .cast("double")
        .alias("hn"),
        F.sum(
            F.round(one / (F.col("rn") * F.col("rn")), 9).cast(
                "decimal(20,9)"
            )
        )
        .cast("double")
        .alias("hn2"),
    )
    return agg.select(
        "event_type",
        "n_days",
        "n_records",
        F.round(F.col("hn"), 6).alias("expected_records"),
        F.round(
            (F.col("n_records") - F.col("hn"))
            / F.sqrt(F.col("hn") - F.col("hn2")),
            6,
        ).alias("z_score"),
    ).orderBy("event_type")


@REGISTRY.register(
    "ts74_turning_points_test",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS dt,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    tri AS (
      SELECT event_type, x,
             lag(x) OVER (PARTITION BY event_type ORDER BY dt) AS xp,
             lead(x) OVER (PARTITION BY event_type ORDER BY dt) AS xn
      FROM daily
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(CASE WHEN xp IS NOT NULL AND xn IS NOT NULL
                            AND ((x > xp AND x > xn)
                                 OR (x < xp AND x < xn))
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
      FROM tri GROUP BY 1
    )
    SELECT event_type, n_days, n_turning,
           round(2.0 * (n_days - 2) / 3, 6) AS expected_turning,
           round((n_turning - 2.0 * (n_days - 2) / 3)
                 / sqrt((16.0 * n_days - 29) / 90), 6) AS z_score
    FROM agg ORDER BY 1
    """,
    doc="Turning-points randomness test per event type: count interior "
    "days that are a STRICT local max or min of the daily count "
    "series; under i.i.d. exchangeability E[T] = 2(n-2)/3 and "
    "Var(T) = (16n-29)/90 (Kendall's classical test), so a z far "
    "below 0 means the series is smoother than random (trend/"
    "seasonality — cross-read with ts68's period scan) and far above "
    "0 means it alternates faster than random (negative "
    "autocorrelation, e.g. batch-then-starve ingestion). ts27 ANNOTATES the same strict extrema per day; this counts them and tests the count against the exchangeability null. Ties "
    "produce no turning point by the strict compares — identical "
    "arithmetic in both engines (a deflation the doc of record "
    "acknowledges rather than hides); expectation/variance/z are "
    "single identically-written IEEE expressions rounded 6 dp. Plan: "
    "one daily combiner agg, ONE (event_type)-partitioned window "
    "pass for lag+lead, a |types|-row agg — at 100 TB only the "
    "daily rollup touches corpus-scale data.",
    tags=("timeseries", "randomness", "turning-points", "stats"),
)
def ts74(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("dt")
    ).agg(F.count("*").cast("long").alias("x"))
    w = Window.partitionBy("event_type").orderBy("dt")
    tri = daily.select(
        "event_type",
        "x",
        F.lag("x").over(w).alias("xp"),
        F.lead("x").over(w).alias("xn"),
    )
    is_tp = (
        F.col("xp").isNotNull()
        & F.col("xn").isNotNull()
        & (
            ((F.col("x") > F.col("xp")) & (F.col("x") > F.col("xn")))
            | ((F.col("x") < F.col("xp")) & (F.col("x") < F.col("xn")))
        )
    )
    agg = tri.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.when(is_tp, 1).otherwise(0)).cast("long").alias("n_turning"),
    )
    n, tp = F.col("n_days"), F.col("n_turning")
    exp = 2.0 * (n - 2) / 3
    return agg.select(
        "event_type",
        "n_days",
        "n_turning",
        F.round(exp, 6).alias("expected_turning"),
        F.round((tp - exp) / F.sqrt((16.0 * n - 29) / 90), 6).alias(
            "z_score"
        ),
    ).orderBy("event_type")


@REGISTRY.register(
    "ts75_traffic_concentration",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS dt,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY x, dt) AS i,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY x DESC, dt DESC) AS rd
      FROM daily
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(i * x) AS BIGINT) AS six,
             CAST(MAX(x) AS BIGINT) AS mx,
             CAST(SUM(CASE WHEN rd <= 7 THEN x ELSE 0 END)
                  AS BIGINT) AS top7
      FROM ranked GROUP BY 1
    )
    SELECT event_type, n_days, s AS total_events,
           round((2.0 * six - (n_days + 1.0) * s)
                 / (CAST(n_days AS DOUBLE) * s), 6) AS gini,
           round(CAST(mx AS DOUBLE) / s, 6) AS peak_day_share,
           round(CAST(top7 AS DOUBLE) / s, 6) AS top7_share
    FROM agg ORDER BY 1
    """,
    doc="Temporal traffic concentration per event type: Gini "
    "coefficient over the daily-count distribution (0 = perfectly "
    "even load, 1 = all traffic on one day) plus peak-day share and "
    "busiest-7-days share — the capacity-planning readout that says "
    "whether provisioned-for-peak wastes 10x or 1.1x of steady-state "
    "(x84 is the REVENUE Gini across customers; this is the same "
    "estimator pointed at the time axis). Gini via the rank formula "
    "(2*SUM(i*x_i) - (n+1)*S) / (n*S) over ascending-sorted daily "
    "counts with (x, dt) total order — SUM(i*x) is invariant to "
    "permutations within tied x, so ties cannot flake it; every "
    "accumulated quantity is an exact BIGINT and the three final "
    "shares are identically-written IEEE divisions rounded 6 dp. "
    "Plan: one daily combiner agg over events, one (event_type)-"
    "partitioned window pass (both rank directions in the same "
    "exchange), a |types|-row agg — day-grain windows, corpus "
    "touched once.",
    tags=("timeseries", "gini", "concentration", "capacity"),
)
def ts75(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("dt")
    ).agg(F.count("*").cast("long").alias("x"))
    wa = Window.partitionBy("event_type").orderBy(F.asc("x"), F.asc("dt"))
    wd = Window.partitionBy("event_type").orderBy(F.desc("x"), F.desc("dt"))
    ranked = daily.select(
        "event_type",
        "x",
        F.row_number().over(wa).alias("i"),
        F.row_number().over(wd).alias("rd"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("six"),
        F.max("x").cast("long").alias("mx"),
        F.sum(F.when(F.col("rd") <= 7, F.col("x")).otherwise(0))
        .cast("long")
        .alias("top7"),
    )
    n, s = F.col("n_days"), F.col("s")
    return agg.select(
        "event_type",
        "n_days",
        s.alias("total_events"),
        F.round(
            (2.0 * F.col("six") - (n + 1.0) * s) / (n.cast("double") * s), 6
        ).alias("gini"),
        F.round(F.col("mx").cast("double") / s, 6).alias("peak_day_share"),
        F.round(F.col("top7").cast("double") / s, 6).alias("top7_share"),
    ).orderBy("event_type")


@REGISTRY.register(
    "ts77_weekly_retention_curve",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id AS u,
             (CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS wk
      FROM events
    ),
    firsts AS (SELECT u, MIN(wk) AS fw FROM uw GROUP BY 1),
    mx AS (SELECT MAX(wk) AS mw FROM uw),
    ks AS (SELECT unnest(range(0, 9)) AS k),
    eligible AS (
      SELECT k.k, CAST(COUNT(*) AS BIGINT) AS n_eligible
      FROM firsts f CROSS JOIN ks k, mx
      WHERE f.fw <= mx.mw - k.k
      GROUP BY 1
    ),
    active AS (
      SELECT uw.wk - f.fw AS k, CAST(COUNT(*) AS BIGINT) AS n_active
      FROM uw JOIN firsts f ON f.u = uw.u
      WHERE uw.wk - f.fw <= 8
      GROUP BY 1
    )
    SELECT CAST(e.k AS BIGINT) AS week_offset, e.n_eligible,
           COALESCE(a.n_active, 0) AS n_active,
           round(COALESCE(a.n_active, 0) * 1.0 / e.n_eligible, 6)
               AS retention
    FROM eligible e LEFT JOIN active a ON a.k = e.k
    ORDER BY 1
    """,
    doc="Weekly cohort-retention curve: share of users active k weeks "
    "after their FIRST active week (k = 0..8), denominated on the "
    "OBSERVABLE cohort — only users whose first week is at least k "
    "weeks before the data edge count as eligible at offset k, the "
    "right-censoring correction without which late cohorts silently "
    "drag the tail down (the classic retention-dashboard bug) — the statistic ts07's per-cohort daily triangle does NOT give you, and the fold that turns that triangle into one decision-ready curve. "
    "Week index is Monday-aligned integer day arithmetic ((date - "
    "1970-01-05) // 7 — no timezone-dependent truncation), activity "
    "collapses to the user-week grain first, and every count is an "
    "exact integer; retention is one identically-written IEEE "
    "division rounded 6 dp. ts29's survival curve answers 'how long "
    "until churn' at event grain; this is the cohort-folded weekly "
    "product view. Plan: one corpus-scale combiner agg to user-weeks, "
    "a |users|-row min-agg for first weeks, one broadcast 9-row "
    "offset frame against the firsts table, one user-week join for "
    "activity offsets — at 100 TB the user-week grain bounds "
    "everything after the first agg.",
    tags=("timeseries", "retention", "cohort", "growth"),
)
def ts77(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    uw = ev.select(
        F.col("user_id").alias("u"),
        F.floor(
            F.datediff(F.to_date("ts"), F.lit("1970-01-05").cast("date"))
            / 7
        )
        .cast("long")
        .alias("wk"),
    ).distinct()
    firsts = uw.groupBy("u").agg(F.min("wk").alias("fw"))
    mx = uw.agg(F.max("wk").alias("mw"))
    ks = spark.range(0, 9).select(F.col("id").alias("k"))
    eligible = (
        firsts.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(ks))
        .filter(F.col("fw") <= F.col("mw") - F.col("k"))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_eligible"))
    )
    active = (
        uw.join(firsts, "u")
        .select((F.col("wk") - F.col("fw")).alias("k"))
        .filter(F.col("k") <= 8)
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_active"))
    )
    return (
        eligible.join(active, "k", "left")
        .select(
            F.col("k").cast("long").alias("week_offset"),
            "n_eligible",
            F.coalesce(F.col("n_active"), F.lit(0))
            .cast("long")
            .alias("n_active"),
            F.round(
                F.coalesce(F.col("n_active"), F.lit(0))
                * 1.0
                / F.col("n_eligible"),
                6,
            ).alias("retention"),
        )
        .orderBy("week_offset")
    )


@REGISTRY.register(
    "ts78_user_concentration",
    oracle="""
    WITH uc AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    hist AS (
      SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS k
      FROM uc GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(SUM(k) AS BIGINT) AS nu,
             CAST(SUM(c * k) AS BIGINT) AS s
      FROM hist GROUP BY 1
    ),
    runs AS (
      SELECT h.event_type, h.c, h.k, t.nu, t.s,
             COALESCE(SUM(h.k) OVER (PARTITION BY h.event_type
                 ORDER BY h.c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS kprev,
             COALESCE(SUM(h.k) OVER (PARTITION BY h.event_type
                 ORDER BY h.c DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS kdprev,
             COALESCE(SUM(h.c * h.k) OVER (PARTITION BY h.event_type
                 ORDER BY h.c DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS edprev
      FROM hist h JOIN tot t ON t.event_type = h.event_type
    ),
    gin AS (
      SELECT event_type, nu, s,
             CAST(SUM(CAST(c AS DECIMAL(19,0))
                      * (CAST(k AS DECIMAL(19,0)) * kprev
                         + CAST(k * (k + 1) // 2 AS DECIMAL(38,0))))
                  AS DOUBLE) AS six
      FROM runs GROUP BY 1, 2, 3
    ),
    tops AS (
      SELECT event_type,
             CAST(MIN(CASE WHEN kdprev < ceil(0.01 * nu)
                            AND kdprev + k >= ceil(0.01 * nu)
                           THEN edprev
                                + (CAST(ceil(0.01 * nu) AS BIGINT)
                                   - kdprev) * c END) AS BIGINT) AS top1,
             CAST(MIN(CASE WHEN kdprev < ceil(0.1 * nu)
                            AND kdprev + k >= ceil(0.1 * nu)
                           THEN edprev
                                + (CAST(ceil(0.1 * nu) AS BIGINT)
                                   - kdprev) * c END) AS BIGINT) AS top10
      FROM runs GROUP BY 1
    )
    SELECT g.event_type, g.nu AS n_users, g.s AS n_events,
           round((2.0 * g.six - (g.nu + 1.0) * g.s)
                 / (CAST(g.nu AS DOUBLE) * g.s), 6) AS gini,
           round(CAST(t.top1 AS DOUBLE) / g.s, 6) AS top1pct_share,
           round(CAST(t.top10 AS DOUBLE) / g.s, 6) AS top10pct_share
    FROM gin g JOIN tops t ON t.event_type = g.event_type
    ORDER BY 1
    """,
    doc="User-activity concentration per event type: Gini over per-user "
    "event counts plus the exact share of events generated by the "
    "top 1% / top 10% most active users — the bot/power-user "
    "detector (a purchase stream whose top 1% carries half the "
    "volume is scraped or gamed) and the skew forecast for any "
    "user-keyed shuffle (ts75 points the same estimator at the TIME "
    "axis). Everything runs at the (type, count)-HISTOGRAM grain: "
    "a tied run of k users with count c contributes c*(k*K_prev + "
    "k(k+1)/2) to the rank sum in closed form, and the top-m cut "
    "interpolates inside the straddling run — so there is NO "
    "user-grain sort or window anywhere; the only corpus-scale "
    "exchange is the (type, user) combiner agg. Rank-sum terms "
    "accumulate as DECIMAL (BIGINT would overflow past ~1e9 users); "
    "every other quantity is an exact integer and the three shares "
    "are identically-written IEEE divisions rounded 6 dp.",
    tags=("timeseries", "gini", "concentration", "skew", "users"),
)
def ts78(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    uc = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("c")
    )
    hist = uc.groupBy("event_type", "c").agg(
        F.count("*").cast("long").alias("k")
    )
    tot = hist.groupBy("event_type").agg(
        F.sum("k").cast("long").alias("nu"),
        F.sum(F.col("c") * F.col("k")).cast("long").alias("s"),
    )
    wa = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wd = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("c"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runs = hist.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "c",
        "k",
        "nu",
        "s",
        F.coalesce(F.sum("k").over(wa), F.lit(0)).alias("kprev"),
        F.coalesce(F.sum("k").over(wd), F.lit(0)).alias("kdprev"),
        F.coalesce(F.sum(F.col("c") * F.col("k")).over(wd), F.lit(0)).alias(
            "edprev"
        ),
    )
    run_rank_sum = F.col("k").cast("decimal(19,0)") * F.col("kprev") + F.expr(
        "CAST(k * (k + 1) DIV 2 AS DECIMAL(38,0))"
    )
    gin = runs.groupBy("event_type", "nu", "s").agg(
        F.sum(F.col("c").cast("decimal(19,0)") * run_rank_sum)
        .cast("double")
        .alias("six")
    )

    def top_cut(q: float, name: str):
        m = F.ceil(F.lit(q) * F.col("nu"))
        return (
            F.min(
                F.when(
                    (F.col("kdprev") < m)
                    & (F.col("kdprev") + F.col("k") >= m),
                    F.col("edprev")
                    + (m.cast("long") - F.col("kdprev")) * F.col("c"),
                )
            )
            .cast("long")
            .alias(name)
        )

    tops = runs.groupBy("event_type").agg(
        top_cut(0.01, "top1"), top_cut(0.1, "top10")
    )
    nu, s = F.col("nu"), F.col("s")
    return (
        gin.join(tops, "event_type")
        .select(
            "event_type",
            nu.alias("n_users"),
            s.alias("n_events"),
            F.round(
                (2.0 * F.col("six") - (nu + 1.0) * s)
                / (nu.cast("double") * s),
                6,
            ).alias("gini"),
            F.round(F.col("top1").cast("double") / s, 6).alias(
                "top1pct_share"
            ),
            F.round(F.col("top10").cast("double") / s, 6).alias(
                "top10pct_share"
            ),
        )
        .orderBy("event_type")
    )


@REGISTRY.register(
    "ts79_asof_nearest",
    oracle="""
    WITH u AS (
      SELECT user_id AS k, epoch_us(ts) AS tus, event_id,
             CAST(NULL AS BIGINT) AS o_orderkey, 0 AS tag
      FROM events
      UNION ALL
      SELECT o_custkey, epoch_us(o_orderdate), CAST(NULL AS BIGINT),
             o_orderkey, 1
      FROM orders
    ),
    c AS (
      SELECT k, tus, o_orderkey, tag,
             last_value(CASE WHEN tag = 0 THEN tus END IGNORE NULLS)
                 OVER (PARTITION BY k ORDER BY tus, tag, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS back_ts,
             last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
                 OVER (PARTITION BY k ORDER BY tus, tag, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS back_id,
             last_value(CASE WHEN tag = 0 THEN tus END IGNORE NULLS)
                 OVER (PARTITION BY k ORDER BY tus DESC, tag DESC,
                             event_id DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS fwd_ts,
             last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
                 OVER (PARTITION BY k ORDER BY tus DESC, tag DESC,
                             event_id DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS fwd_id
      FROM u
    )
    SELECT o_orderkey,
           CASE WHEN back_ts IS NULL AND fwd_ts IS NULL THEN NULL
                WHEN fwd_ts IS NULL THEN back_id
                WHEN back_ts IS NULL THEN fwd_id
                WHEN tus - back_ts <= fwd_ts - tus THEN back_id
                ELSE fwd_id END AS nearest_event_id,
           CASE WHEN back_ts IS NULL AND fwd_ts IS NULL THEN NULL
                WHEN fwd_ts IS NULL
                     OR (back_ts IS NOT NULL
                         AND tus - back_ts <= fwd_ts - tus)
                     THEN 'backward' ELSE 'forward' END AS direction,
           CASE WHEN back_ts IS NULL AND fwd_ts IS NULL THEN NULL
                WHEN fwd_ts IS NULL THEN tus - back_ts
                WHEN back_ts IS NULL THEN fwd_ts - tus
                ELSE least(tus - back_ts, fwd_ts - tus) END AS delta_us
    FROM c WHERE tag = 1
    ORDER BY o_orderkey
    """,
    doc="NEAREST as-of join — the missing member of the as-of family "
    "(ts03 backward, ts45 forward+tolerance): for every order, the "
    "same-user event with the smallest |event_ts - order_ts|, like "
    "pandas merge_asof(direction='nearest'). Tie semantics are "
    "pinned: an exact-timestamp event matches BACKWARD (delta 0), an "
    "equidistant pair resolves to the earlier event, and two events "
    "sharing one timestamp resolve by event_id (max backward / min "
    "forward — the carry order is total in both engines). Built as "
    "ts03's pure-JVM union + carry window run in BOTH directions "
    "over ONE union frame — the ascending carry yields the "
    "latest-at-or-before candidate, the descending carry the "
    "earliest-after, and a final row-local compare picks the winner; "
    "still exactly ONE shuffle on the key and both window passes "
    "share its partitioning. Timestamps compare as exact integer "
    "epoch-microseconds (no float time arithmetic anywhere). At 100 "
    "TB this inherits ts03's profile: one user-keyed exchange, "
    "windows stream per user partition, no Python workers.",
    tags=("timeseries", "asof-join", "nearest"),
)
def ts79(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.unix_micros("ts").alias("tus"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(0).alias("tag"),
    )
    od = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("tus"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        F.lit(1).alias("tag"),
    )
    u = ev.unionByName(od)
    wb = (
        Window.partitionBy("k")
        .orderBy("tus", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("k")
        .orderBy(F.desc("tus"), F.desc("tag"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev_ts = F.when(F.col("tag") == 0, F.col("tus"))
    ev_id = F.when(F.col("tag") == 0, F.col("event_id"))
    c = u.select(
        "o_orderkey",
        "tus",
        "tag",
        F.last(ev_ts, ignorenulls=True).over(wb).alias("back_ts"),
        F.last(ev_id, ignorenulls=True).over(wb).alias("back_id"),
        F.last(ev_ts, ignorenulls=True).over(wf).alias("fwd_ts"),
        F.last(ev_id, ignorenulls=True).over(wf).alias("fwd_id"),
    ).filter(F.col("tag") == 1)
    back_n = F.col("back_ts").isNull()
    fwd_n = F.col("fwd_ts").isNull()
    db = F.col("tus") - F.col("back_ts")
    df_ = F.col("fwd_ts") - F.col("tus")
    backward_wins = fwd_n | (~back_n & (db <= df_))
    return c.select(
        "o_orderkey",
        F.when(back_n & fwd_n, F.lit(None).cast("long"))
        .when(backward_wins, F.col("back_id"))
        .otherwise(F.col("fwd_id"))
        .alias("nearest_event_id"),
        F.when(back_n & fwd_n, F.lit(None).cast("string"))
        .when(backward_wins, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
        F.when(back_n & fwd_n, F.lit(None).cast("long"))
        .when(fwd_n, db)
        .when(back_n, df_)
        .otherwise(F.least(db, df_))
        .cast("long")
        .alias("delta_us"),
    ).orderBy("o_orderkey")
