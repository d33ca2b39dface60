"""Dashboard query surface over the ``events`` stream table.

Re-expresses the reference's Grafana/Elasticsearch read-side operators
(SURVEY §2.7; extracted from readers/elasticsearch/src/main/elasticsearch/
grafana/*.json — 494 bucket aggs, 376 metric aggs, 105 lucene filters) as
DataFrame queries:

- ``date_histogram``      → groupBy(date_trunc(ts))   [tumbling window]
- ``terms`` (size=k)      → groupBy + count + top-k
- ``sum/avg/max/count``   → F.sum/F.avg/F.max/F.count
- ``percentiles``         → exact percentile (oracle parity); the scale
                            path is percentile_approx — same plan shape
- ``derivative`` pipeline → lag() over (partition by series order by t)
- ``cardinality``         → count_distinct (exact for oracle parity) and
                            approx_count_distinct (HLL, the 100 TB path)
- lucene bool filters     → Column conjunctions (garmadon_spark.filters)
- ``raw_document``        → filter + order + limit

Scale notes (100 TB): every query here is a single shuffle —
scan → partial agg (map-side combine) → final agg.  Filters and the
two-column projections reach the Parquet scan (PushedFilters/ReadSchema);
time bucketing is a scalar expression, so partition pruning on a
date-partitioned archive (sinks/archive.py) applies before the scan.
Top-k uses groupBy+count then a driver-side k-row limit — the heavy
reduction happens distributed; only k rows cross to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from garmadon_spark import filters as gf
from garmadon_spark.operators import sketch
from garmadon_spark.session import load_table, materialize


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --- terms bucket + count metric ------------------------------------------

def ev_count_by_type(spark, sf_dir):
    """ES `terms` bucket on event_type + count metric."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


EV_COUNT_BY_TYPE_SQL = """
SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
"""


# --- date_histogram -------------------------------------------------------

def ev_date_histogram_hour(spark, sf_dir):
    """`date_histogram` (interval=1h) bucket + count & sum metrics per type.

    Tumbling event-time window; on the day-partitioned archive this prunes
    partitions before scanning (E6 bucketing, PartitionedWriter.java:103).
    """
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


EV_DATE_HISTOGRAM_HOUR_SQL = """
SELECT date_trunc('hour', ts) AS bucket,
       event_type,
       COUNT(*) AS cnt,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


# --- metric aggs ----------------------------------------------------------

def ev_metric_stats_by_type(spark, sf_dir):
    """sum/avg/max/min metric aggs per terms bucket (one shuffle)."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.max("value"), 4).alias("max_value"),
            F.round(F.min("value"), 4).alias("min_value"),
        )
    )


EV_METRIC_STATS_BY_TYPE_SQL = """
SELECT event_type,
       COUNT(*) AS cnt,
       ROUND(SUM(value), 4) AS sum_value,
       ROUND(AVG(value), 4) AS avg_value,
       ROUND(MAX(value), 4) AS max_value,
       ROUND(MIN(value), 4) AS min_value
FROM events
GROUP BY event_type
"""


# --- terms top-k ----------------------------------------------------------

def ev_topk_users(spark, sf_dir):
    """ES `terms` with size=10 ⇒ top-k by doc count.

    Deterministic tie-break on user_id.  Distributed reduction first
    (groupBy), then a k-row global limit — only k rows leave the cluster.
    """
    counts = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.orderBy(F.desc("cnt"), F.asc("user_id")).limit(10)


EV_TOPK_USERS_SQL = """
SELECT user_id, COUNT(*) AS cnt
FROM events
GROUP BY user_id
ORDER BY cnt DESC, user_id ASC
LIMIT 10
"""


# --- lucene bool filter + agg --------------------------------------------

def ev_filtered_stats(spark, sf_dir):
    """Compound lucene-style bool filter (SURVEY §2.7 filter row) built with
    the garmadon filter algebra (F1-F7), then a terms+metric agg.

    Pushdown check: `(event_type IN (click, purchase)) AND value > 5.0`
    appears in PushedFilters of the parquet scan.
    """
    ev = _events(spark, sf_dir)
    pred = gf.and_all(
        gf.or_all(gf.has_type("click"), gf.has_type("purchase")),
        F.col("value") > 5.0,
        gf.not_filter(F.col("user_id") < 10),
    )
    return (
        ev.filter(pred)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


EV_FILTERED_STATS_SQL = """
SELECT event_type,
       COUNT(*) AS cnt,
       ROUND(AVG(value), 4) AS avg_value
FROM events
WHERE event_type IN ('click', 'purchase')
  AND value > 5.0
  AND NOT (user_id < 10)
GROUP BY event_type
"""


# --- percentiles ----------------------------------------------------------

def ev_percentiles(spark, sf_dir):
    """ES `percentiles` metric (p50/p95/p99 of value per type).

    Exact `percentile` for oracle parity (linear interpolation ==
    DuckDB quantile_cont).  At 100 TB swap to percentile_approx —
    identical plan shape, bounded memory (t-digest-style sketch, map-side
    combinable); keep exact only for low-cardinality dims.
    """
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
    )


EV_PERCENTILES_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.95), 4) AS p95,
       ROUND(quantile_cont(value, 0.99), 4) AS p99
FROM events
GROUP BY event_type
"""


# --- derivative pipeline agg ---------------------------------------------

def ev_percentiles_approx(spark, sf_dir):
    """The 100 TB percentile path: percentile_approx (bounded-memory
    sketch, map-side combinable) — same plan shape as the exact form.
    Rows-only check: sketch outputs are engine-specific."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.round(F.percentile_approx("value", 0.5, 10000), 4).alias("p50"),
            F.round(F.percentile_approx("value", 0.95, 10000), 4).alias("p95"),
            F.round(F.percentile_approx("value", 0.99, 10000), 4).alias("p99"),
        )
    )


def ev_percentiles_approx_check(spark, sf_dir):
    """Error-bound self-check for the sketch percentile path, testing the
    operator's ACTUAL contract: percentile_approx(acc) returns an element
    whose rank r satisfies floor((q−ε)·N) ≤ r ≤ ceil((q+ε)·N), ε = 1/acc.
    Two-pass: tiny per-type sketch table broadcast-joined back onto the
    events to count ranks exactly.  The bound test is exact → the oracle
    is the constant-true table, and 'no_oracle' stops meaning
    'unverified'."""
    acc = 10000
    eps = 1.0 / acc
    qs = ((0.5, "p50"), (0.95, "p95"), (0.99, "p99"))
    ev = _events(spark, sf_dir).select("event_type", "value")
    approx = ev.groupBy("event_type").agg(
        *[
            F.percentile_approx("value", q, acc).alias(f"_{nm}")
            for q, nm in qs
        ]
    )
    joined = ev.join(F.broadcast(approx), "event_type")
    checks = []
    for q, nm in qs:
        n = F.count(F.lit(1))
        le = F.sum((F.col("value") <= F.col(f"_{nm}")).cast("long"))
        lt = F.sum((F.col("value") < F.col(f"_{nm}")).cast("long"))
        checks.append(
            (
                (le >= F.floor(F.lit(q - eps) * n))
                & (lt <= F.ceil(F.lit(q + eps) * n))
            ).alias(f"{nm}_in_bound")
        )
    return joined.groupBy("event_type").agg(*checks)


EV_PERCENTILES_APPROX_CHECK_SQL = """
SELECT event_type, TRUE AS p50_in_bound, TRUE AS p95_in_bound,
       TRUE AS p99_in_bound
FROM events GROUP BY event_type
"""


def ev_derivative_hourly(spark, sf_dir):
    """ES `derivative` pipeline agg: rate of a cumulative/bucketed series —
    `col - lag(col) over (partition by series order by bucket)`.

    One shuffle for the histogram agg; the window repartitions by
    event_type (tiny cardinality) — at scale the window input is already
    the *aggregated* series (buckets, not raw rows), so the window state
    is small no matter the input size.
    """
    hourly = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy("bucket")
    return hourly.select(
        "bucket",
        "event_type",
        "cnt",
        (F.col("cnt") - F.lag("cnt").over(w)).alias("delta"),
    )


EV_DERIVATIVE_HOURLY_SQL = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS bucket,
           event_type,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
)
SELECT bucket, event_type, cnt,
       cnt - LAG(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS delta
FROM hourly
"""


def ev_cumulative_sum(spark, sf_dir):
    """ES `cumulative_sum` pipeline agg (the other half of the pipeline
    family next to `derivative`): running total of a bucketed metric
    per series — a rows-unbounded-preceding window over the AGGREGATED
    hourly series, so the window input is buckets × types no matter
    the event volume.  Same plan shape as ev_derivative_hourly: one
    shuffle for the histogram, one tiny-cardinality window."""
    hourly = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return hourly.select(
        "bucket",
        "event_type",
        "cnt",
        F.sum("cnt").over(w).alias("running_total"),
    )


EV_CUMULATIVE_SUM_SQL = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS bucket,
           event_type,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
)
SELECT bucket, event_type, cnt,
       CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS running_total
FROM hourly
"""


def ev_serial_diff(spark, sf_dir):
    """ES `serial_diff` pipeline agg with lag 24 — the seasonal
    difference a dashboard uses to compare each hour against the same
    hour yesterday (daily-cycle removal).  Completes the pipeline-agg
    family (derivative = lag 1, cumulative_sum, moving_avg,
    serial_diff = lag n).

    Aligned by TIME, not row position: a row-based lag(24) silently
    reaches 25 wall-clock hours back past any empty bucket (ES avoids
    this with min_doc_count=0 densification — the r6 review finding).
    Expressed as a self-join of the hourly series on bucket − 24 h —
    the series is buckets × types, so both join sides are
    dashboard-sized regardless of event volume."""
    hourly = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    prev = hourly.select(
        (F.col("bucket") + F.expr("interval 24 hours")).alias("bucket"),
        F.col("event_type"),
        F.col("cnt").alias("prev_cnt"),
    )
    return (
        hourly.join(prev, ["bucket", "event_type"], "left")
        .select(
            "bucket",
            "event_type",
            "cnt",
            (F.col("cnt") - F.col("prev_cnt")).alias("seasonal_diff"),
        )
    )


EV_SERIAL_DIFF_SQL = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS bucket,
           event_type,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
)
SELECT h.bucket, h.event_type, h.cnt,
       h.cnt - p.cnt AS seasonal_diff
FROM hourly h
LEFT JOIN hourly p
  ON p.event_type = h.event_type
 AND p.bucket = h.bucket - INTERVAL 24 HOURS
"""


# --- cardinality ----------------------------------------------------------

def ev_cardinality(spark, sf_dir):
    """ES `cardinality` agg: distinct users per type.  Exact for oracle
    parity; `ev_cardinality_approx` is the HLL path used at scale."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("distinct_users"))
    )


EV_CARDINALITY_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
FROM events
GROUP BY event_type
"""


def ev_cardinality_approx(spark, sf_dir):
    """HLL++ cardinality — the 100 TB path (single pass, fixed-size sketch,
    map-side combinable; no expand+dedup shuffle like exact distinct).
    No SQL oracle: sketch estimates are engine-specific (rows-only check).
    """
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias(
                "approx_distinct_users"
            )
        )
    )


def ev_cardinality_approx_check(spark, sf_dir):
    """HLL++ error-bound self-check: |estimate − exact| ≤ 5·rsd·exact
    (5σ of the configured relative standard deviation — a correct sketch
    essentially never trips it).  Exact bound → constant-true oracle."""
    # The single-aggregate form (approx + exact count_distinct in one
    # agg) plans as a partial approx_count_distinct keyed by
    # (event_type, user_id) — the distinct-rewrite groups by the
    # distinct key first, so every (type, user) group carries a 2^14-
    # register HLL buffer at rsd 0.01 (~50 k sketches of 16 KiB at
    # sf0.1; measured 2.3 s).  Splitting the legs keeps the sketch
    # per-TYPE (5 sketches, map-side combined) and the exact leg a
    # plain two-level distinct count; both legs see the same rows, and
    # HLL++ is insertion-order- and partitioning-independent, so the
    # estimate (hence the boolean) is unchanged (r14; 2.3 s → ~0.7 s).
    base = _events(spark, sf_dir).select("event_type", "user_id")
    appx = base.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("_est")
    )
    exact = base.distinct().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_exact")
    )
    return appx.join(exact, "event_type").select(
        "event_type",
        (F.abs(F.col("_est") - F.col("_exact"))
         <= F.col("_exact") * F.lit(0.05)).alias("within_bound"),
    )


EV_CARDINALITY_APPROX_CHECK_SQL = """
SELECT event_type, TRUE AS within_bound
FROM events GROUP BY event_type
"""


# --- raw_document ---------------------------------------------------------

def ev_raw_documents(spark, sf_dir):
    """ES `raw_document` panel: latest 20 error events.  Deterministic via
    (ts, event_id) ordering; TakeOrderedAndProject — no full sort at scale.
    """
    return (
        _events(spark, sf_dir)
        .filter(gf.has_type("error"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(20)
    )


EV_RAW_DOCUMENTS_SQL = """
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE event_type = 'error'
ORDER BY ts DESC, event_id DESC
LIMIT 20
"""


# --- semi-structured extraction ------------------------------------------

def ev_json_extract(spark, sf_dir):
    """Typed extraction from the semi-structured `props` JSON column —
    the analogue of the reference's dynamic key/value bags
    (JVMStatisticsData sections; EventHelper.java:33-40 parse-or-keep).
    get_json_object is JVM-side (no Python round-trip)."""
    return (
        _events(spark, sf_dir)
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


EV_JSON_EXTRACT_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
FROM events
GROUP BY event_type
"""


# --- sessionization -------------------------------------------------------

def ev_user_sessions(spark, sf_dir):
    """Gap-based sessionization (30 min) per user — the batch analogue of
    the reference's per-app session heuristics (SURVEY §2.6) on a generic
    stream.  Window-function formulation (lag → gap flag → running sum) so
    the oracle is plain SQL; the streaming engine uses session_window /
    transformWithState for the same semantics.

    Scale: one shuffle on user_id; the two windows share that partitioning
    (Catalyst reuses the exchange).
    """
    ev = _events(spark, sf_dir).select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        F.when(
            F.col("ts").cast("long")
            - F.lag(F.col("ts").cast("long")).over(w)
            > 1800,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    sessions = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("session_id"),
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            (F.max("session_id") + 1).alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


EV_USER_SESSIONS_SQL = """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                     - CAST(FLOOR(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT) > 1800
                THEN 1 ELSE 0 END AS new_session
    FROM events
), sessions AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT user_id,
       CAST(MAX(session_id) + 1 AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id
"""


# --- terms sub-agg inside date_histogram (top-k per bucket) ---------------

def ev_topk_per_hour(spark, sf_dir):
    """ES `terms` sub-aggregation inside a `date_histogram`: top-3 event
    types per hour by event count — the Grafana "stacked top-N series"
    panel shape.

    rank-over-window on the AGGREGATED series (buckets × types, tiny),
    so the window state never sees raw rows; the heavy reduction is the
    map-side-combinable count."""
    hourly = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("bucket").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    return (
        hourly.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


EV_TOPK_PER_HOUR_SQL = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS bucket, event_type, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
)
SELECT bucket, event_type, cnt,
       ROW_NUMBER() OVER (PARTITION BY bucket
                          ORDER BY cnt DESC, event_type ASC) AS rnk
FROM hourly
QUALIFY rnk <= 3
"""


# --- moving average pipeline agg ------------------------------------------

def ev_moving_avg(spark, sf_dir):
    """ES `moving_avg` pipeline agg: 3-bucket trailing mean of the hourly
    event count per type — window frame over the aggregated series
    (same exchange as the histogram groupBy; Catalyst reuses it)."""
    hourly = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-2, 0)
    )
    return hourly.select(
        "bucket",
        "event_type",
        "cnt",
        F.round(F.avg("cnt").over(w), 4).alias("moving_avg_3h"),
    )


EV_MOVING_AVG_SQL = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS bucket, event_type, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
)
SELECT bucket, event_type, cnt,
       ROUND(AVG(cnt) OVER (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg_3h
FROM hourly
"""


# --- multi-granularity rollup ---------------------------------------------

def ev_rollup_day_type(spark, sf_dir):
    """Hierarchical rollup — (day, event_type), per-day subtotals, and
    the grand total in ONE pass (`ROLLUP`): the hypertable-style
    multi-granularity panel (hourly chart + daily summary + total tile)
    without three scans.  Partial aggregation handles all grouping sets
    in a single shuffle; at 100 TB this replaces N separate dashboards
    queries over the same window."""
    return (
        _events(spark, sf_dir)
        .rollup(F.to_date("ts").alias("day"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


EV_ROLLUP_DAY_TYPE_SQL = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY ROLLUP (1, 2)
"""


# --- conditional ratio metric ---------------------------------------------

def ev_failure_ratio(spark, sf_dir):
    """Failure-rate panel (the reference's FS_EVENT status:FAILURE ratio,
    `EventHelper`/Grafana garmadon-hdfs dashboard): conditional count over
    total per hour — `sum(when(...))` stays inside the same single-shuffle
    aggregate as the plain count (no second pass, no join)."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(
                F.when(gf.has_type("error"), F.lit(1)).otherwise(F.lit(0))
            ).alias("errors"),
            F.round(
                F.sum(
                    F.when(gf.has_type("error"), F.lit(1)).otherwise(F.lit(0))
                )
                / F.count(F.lit(1)),
                4,
            ).alias("error_ratio"),
        )
    )


EV_FAILURE_RATIO_SQL = """
SELECT date_trunc('hour', ts) AS bucket,
       COUNT(*) AS total,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       ROUND(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             / COUNT(*), 4) AS error_ratio
FROM events
GROUP BY 1
"""


def _hourly_series(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
        )
        .agg(F.round(F.avg("value"), 4).alias("avg_value"))
    )


def ev_gapfill_locf(spark, sf_dir):
    """Gap-filled hourly timeline with last-observation-carried-forward
    — Grafana's "fill forward" null mode as a relational operator
    (TimescaleDB time_bucket_gapfill + locf; Spark has no native
    equivalent).  The per-type hourly series joins a dense
    sequence()-generated bucket axis (axis-sized, never event-sized);
    empty buckets surface as is_gap rows carrying the last observed
    average forward.  operators/timeseries.py."""
    from garmadon_spark.operators import timeseries

    series = _hourly_series(spark, sf_dir)
    dense = timeseries.gapfill(series, group_cols=("event_type",))
    return timeseries.locf(
        dense, "avg_value", group_cols=("event_type",)
    ).select("event_type", "bucket", "is_gap", "avg_value",
             "avg_value_locf")


EV_GAPFILL_LOCF_SQL = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket,
           ROUND(AVG(value), 4) AS avg_value, TRUE AS _present
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM hourly
), axis AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
    FROM bounds
), grid AS (
    SELECT g.event_type, a.bucket
    FROM (SELECT DISTINCT event_type FROM hourly) g, axis a
), dense AS (
    -- is_gap is ROW PRESENCE, matching timeseries.gapfill's _present
    -- marker — NOT avg_value IS NULL, which would diverge when an
    -- aggregated value is legitimately NULL for a present bucket
    -- (e.g. AVG over all-NULL values)
    SELECT grid.event_type, grid.bucket, h.avg_value,
           h._present IS NULL AS is_gap
    FROM grid LEFT JOIN hourly h USING (event_type, bucket)
)
SELECT event_type, bucket, is_gap, avg_value,
       COALESCE(
         avg_value,
         last_value(avg_value IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       ) AS avg_value_locf
FROM dense
"""


def ev_gapfill_interp(spark, sf_dir):
    """Gap-filled hourly timeline with linear interpolation — Grafana's
    "connect nulls" as data: each empty bucket takes the value on the
    line between its nearest observed neighbors, time-weighted; edge
    gaps fall back to the single available neighbor.  Two axis-sized
    windows (look-back, look-forward), no event-sized work after the
    aggregate."""
    from garmadon_spark.operators import timeseries

    series = _hourly_series(spark, sf_dir)
    dense = timeseries.gapfill(series, group_cols=("event_type",))
    # decimals=5, NOT 4: a single-bucket gap interpolates to the exact
    # midpoint of two 4-decimal values, which lies ON the .00005
    # rounding boundary where Spark (BigDecimal HALF_UP) and DuckDB
    # (double multiply+round) disagree; at 5 decimals midpoints sit on
    # grid points instead of ties.
    return timeseries.interpolate(
        dense, "avg_value", group_cols=("event_type",), decimals=5
    ).select("event_type", "bucket", "is_gap", "avg_value",
             "avg_value_interp")


EV_GAPFILL_INTERP_SQL = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket,
           ROUND(AVG(value), 4) AS avg_value, TRUE AS _present
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM hourly
), axis AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
    FROM bounds
), grid AS (
    SELECT g.event_type, a.bucket
    FROM (SELECT DISTINCT event_type FROM hourly) g, axis a
), dense AS (
    -- is_gap = row presence, same contract as the LOCF oracle above
    SELECT grid.event_type, grid.bucket, h.avg_value,
           h._present IS NULL AS is_gap
    FROM grid LEFT JOIN hourly h USING (event_type, bucket)
), nbr AS (
    SELECT event_type, bucket, is_gap, avg_value,
           last_value(avg_value IGNORE NULLS) OVER back AS pv,
           last_value(CASE WHEN avg_value IS NOT NULL THEN bucket END
                      IGNORE NULLS) OVER back AS pt,
           first_value(avg_value IGNORE NULLS) OVER fwd AS nv,
           first_value(CASE WHEN avg_value IS NOT NULL THEN bucket END
                       IGNORE NULLS) OVER fwd AS nt
    FROM dense
    WINDOW back AS (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           fwd AS (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, bucket, is_gap, avg_value,
       ROUND(CASE
         WHEN avg_value IS NOT NULL THEN avg_value
         WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           pv + (nv - pv) * (epoch(bucket) - epoch(pt))
                          / (epoch(nt) - epoch(pt))
         ELSE COALESCE(pv, nv) END, 5) AS avg_value_interp
FROM nbr
"""


def ev_value_histogram(spark, sf_dir):
    """ES `histogram` aggregation (the non-time axis of a Grafana
    heatmap panel): fixed-width value buckets (width 50) per event
    type, count + mean per cell.  floor(value/width)*width is a scalar
    expression — the histogram costs exactly one shuffle on the
    (type, bucket) key, same as any terms agg; no sort, no range
    partitioning."""
    width = 50
    bucket = (F.floor(F.col("value") / width) * width).cast("long")
    return (
        _events(spark, sf_dir)
        .groupBy("event_type", bucket.alias("value_bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


EV_VALUE_HISTOGRAM_SQL = """
SELECT event_type,
       CAST(FLOOR(value / 50) * 50 AS BIGINT) AS value_bucket,
       COUNT(*) AS cnt,
       ROUND(AVG(value), 4) AS avg_value
FROM events
GROUP BY 1, 2
"""


def ev_significant_users(spark, sf_dir):
    """ES `significant_terms`: terms over-represented in a foreground
    set relative to the background corpus — here, users whose share of
    `error` events exceeds their share of all events (lift ≥ 1.5, ≥ 5
    foreground hits), the "who is causing the errors" panel.

    Plan shape: TWO aggregates over one scan lineage (foreground is a
    filtered groupBy, background a full groupBy on the same key) joined
    on the term, plus two single-row totals broadcast via crossJoin —
    the join is term-cardinality sized, the scan is read once per agg
    (a single-pass pivot-style fused variant trades that for a wider
    aggregate; at 100 TB prefer whichever side AQE sizes smaller)."""
    ev = _events(spark, sf_dir)
    fg = ev.filter(F.col("event_type") == "error")
    fg_counts = fg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("fg_cnt")
    )
    bg_counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("bg_cnt")
    )
    fg_total = fg.agg(F.count(F.lit(1)).alias("fg_total"))
    bg_total = ev.agg(F.count(F.lit(1)).alias("bg_total"))
    lift = F.round(
        (F.col("fg_cnt") / F.col("fg_total"))
        / (F.col("bg_cnt") / F.col("bg_total")),
        4,
    )
    return (
        fg_counts.join(bg_counts, "user_id")
        .crossJoin(F.broadcast(fg_total))
        .crossJoin(F.broadcast(bg_total))
        .select("user_id", "fg_cnt", "bg_cnt", lift.alias("lift"))
        .filter((F.col("lift") >= 1.5) & (F.col("fg_cnt") >= 5))
        .orderBy(F.desc("lift"), F.asc("user_id"))
        .limit(10)
    )


EV_SIGNIFICANT_USERS_SQL = """
WITH fg AS (
    SELECT user_id, COUNT(*) AS fg_cnt FROM events
    WHERE event_type = 'error' GROUP BY user_id
), bg AS (
    SELECT user_id, COUNT(*) AS bg_cnt FROM events GROUP BY user_id
), tot AS (
    SELECT (SELECT COUNT(*) FROM events WHERE event_type = 'error')
             AS fg_total,
           (SELECT COUNT(*) FROM events) AS bg_total
)
SELECT user_id, fg_cnt, bg_cnt,
       ROUND((fg_cnt * 1.0 / fg_total) / (bg_cnt * 1.0 / bg_total), 4)
         AS lift
FROM fg JOIN bg USING (user_id), tot
WHERE ROUND((fg_cnt * 1.0 / fg_total) / (bg_cnt * 1.0 / bg_total), 4)
        >= 1.5
  AND fg_cnt >= 5
ORDER BY lift DESC, user_id ASC
LIMIT 10
"""


def ev_hist_quantile(spark, sf_dir):
    """p95 served FROM the histogram rollup (sinks/rollup.py — the
    mergeable-bin-counts representation a materialized rollup stores):
    Prometheus histogram_quantile semantics, linear interpolation
    inside the rank's bin.  The oracle replays the exact bin walk in
    SQL, so the estimator itself is hash-checked — and the companion
    test pins the ≤ bin_width error contract against raw-event
    percentiles."""
    from garmadon_spark.sinks.rollup import (
        build_histogram_rollup, histogram_quantile,
    )

    hist = build_histogram_rollup(
        _events(spark, sf_dir), bin_width=10.0
    )
    return histogram_quantile(
        hist, 0.95, bin_width=10.0, per_bucket=False
    )


EV_HIST_QUANTILE_SQL = """
WITH h AS (
    SELECT event_type, CAST(FLOOR(value / 10) AS BIGINT) AS bin,
           COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
), c AS (
    SELECT event_type, bin, cnt,
           SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
           SUM(cnt) OVER (PARTITION BY event_type) AS total
    FROM h
), hit AS (
    SELECT event_type, bin, cnt, cum, 0.95 * total AS rank,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY bin) AS rn
    FROM c WHERE cum >= 0.95 * total
)
SELECT event_type,
       ROUND(bin * 10 + GREATEST(0.0, LEAST(1.0,
             (rank - (cum - cnt)) / cnt)) * 10, 4) AS p95_est
FROM hit WHERE rn = 1
"""


def ev_distinct_merge_check(spark, sf_dir):
    """The property the cardinality rollup depends on, driver-checked:
    per-hour HLL sketch partials UNIONED to per-type estimate within
    5·rsd of the true distinct count — while the naive alternative
    (summing per-hour exact distincts) overcounts, because users span
    hours.  Mergeability is what lets a rollup serve "distinct users
    this week" from hourly rows (sinks/rollup.py::
    build_distinct_rollup/distinct_estimate)."""
    from garmadon_spark.sinks.rollup import (
        build_distinct_rollup, distinct_estimate,
    )

    ev = _events(spark, sf_dir)
    lg_k = 12
    est = distinct_estimate(
        build_distinct_rollup(ev, lg_k=lg_k)
    ).withColumnRenamed("distinct_est", "est")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact"),
    )
    naive = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts"))
        .agg(F.count_distinct("user_id").alias("d"))
        .groupBy("event_type")
        .agg(F.sum("d").alias("naive_sum"))
    )
    rsd = 1.04 / (2 ** lg_k) ** 0.5
    return (
        est.join(exact, "event_type")
        .join(naive, "event_type")
        .select(
            "event_type",
            (
                F.abs(F.col("est") - F.col("exact"))
                <= F.greatest(
                    F.lit(5 * rsd) * F.col("exact"), F.lit(2.0)
                )
            ).alias("merged_within_bound"),
            (F.col("naive_sum") > F.col("exact")).alias(
                "naive_overcounts"
            ),
        )
    )


EV_DISTINCT_MERGE_CHECK_SQL = """
SELECT DISTINCT event_type,
       TRUE AS merged_within_bound,
       TRUE AS naive_overcounts
FROM events
"""


def ev_anomaly_zscore(spark, sf_dir):
    """Volume-anomaly detection the way an alerting panel computes it:
    each (type, hour) count scored against its own trailing 24-hour
    window (mean/stddev EXCLUDING the current bucket — the baseline
    must not absorb the spike it is judging), flag |z| ≥ 3.  One
    shuffle for the hourly counts, one type-keyed window over the
    bucket-granular series — the window input is dashboard-sized, not
    event-sized."""
    from pyspark.sql import Window

    hourly = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-24, -1)
    )
    # try_divide: a zero-variance baseline yields NULL (no judgement),
    # matching DuckDB's NULL-on-division-by-zero — a plain `/` raises
    # under ANSI mode the moment any 24-hour window is flat
    z = F.round(
        F.try_divide(
            F.col("cnt") - F.avg("cnt").over(w),
            F.stddev_samp("cnt").over(w),
        ),
        4,
    )
    return (
        hourly.withColumn("z", z)
        .filter(F.col("z").isNotNull() & (F.abs(F.col("z")) >= 3.0))
        .select("event_type", "bucket", "cnt", "z")
    )


EV_ANOMALY_ZSCORE_SQL = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket,
           COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
), scored AS (
    SELECT event_type, bucket, cnt,
           ROUND((cnt - AVG(cnt) OVER w) / STDDEV_SAMP(cnt) OVER w, 4)
               AS z
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, bucket, cnt, z
FROM scored
WHERE z IS NOT NULL AND ABS(z) >= 3.0
"""


# --- frequent items (Misra–Gries heavy hitters) ---------------------------
#
# The sketch twin of the exact terms/top-k bucket, for keys too wide to
# shuffle: bounded-memory per-partition summaries + a summary-sized
# merge (operators/sketch.py).  The fixture item is the 50-wide value
# bucket — events.value is exponential-ish, so buckets 0 and 1 are
# genuine heavy hitters (> n/(k+1)) at every sf while 7+ distinct
# buckets force real Misra–Gries evictions at k=4.

_FREQ_K = 4
_FREQ_BUCKET_WIDTH = 50


def _value_buckets(spark, sf_dir):
    return _events(spark, sf_dir).select(
        F.floor(F.col("value") / _FREQ_BUCKET_WIDTH)
        .cast("int")
        .alias("bucket")
    )


def ev_heavy_value_buckets(spark, sf_dir):
    """Heavy value buckets via the Misra–Gries sketch — count_lb is the
    merged lower bound, top-k by (count_lb desc, bucket).  Rows-only
    (counter values are partitioning-dependent); the exact guarantee is
    hash-gated by ev_heavy_value_buckets_check."""
    return (
        sketch.freq_items(_value_buckets(spark, sf_dir), "bucket",
                          k=_FREQ_K)
        .withColumnRenamed("item", "bucket")
        .orderBy(F.desc("count_lb"), F.asc("bucket"))
        .limit(_FREQ_K)
    )


def ev_heavy_value_buckets_check(spark, sf_dir):
    """The Misra–Gries contract, verified against the exact aggregate:
    every bucket with true frequency > n/(k+1) must be present in the
    merged sketch with ``true − n/(k+1) ≤ count_lb ≤ true``.  The exact
    side is SQL-expressible, so the gate is a data-bearing hash match
    (bucket + exact count), not a constant-true oracle."""
    ev = _value_buckets(spark, sf_dir)
    n = ev.count()
    thr = n / (_FREQ_K + 1)
    exact = ev.groupBy("bucket").agg(F.count(F.lit(1)).alias("exact_cnt"))
    heavy = exact.filter(F.col("exact_cnt") > thr)
    sk = sketch.freq_items(ev, "bucket", k=_FREQ_K).withColumnRenamed(
        "item", "bucket"
    )
    return (
        heavy.join(F.broadcast(sk), "bucket", "left")
        .select(
            "bucket",
            "exact_cnt",
            F.col("count_lb").isNotNull().alias("in_sketch"),
            (
                F.col("count_lb").isNotNull()
                & (F.col("count_lb") <= F.col("exact_cnt"))
                & (F.col("count_lb") >= F.col("exact_cnt") - F.lit(thr))
            ).alias("bound_ok"),
        )
    )


EV_HEAVY_VALUE_BUCKETS_CHECK_SQL = f"""
WITH g AS (
    SELECT CAST(floor(value / {_FREQ_BUCKET_WIDTH}) AS INT) AS bucket,
           COUNT(*) AS exact_cnt
    FROM events GROUP BY 1
), n AS (SELECT COUNT(*) AS n FROM events)
SELECT bucket, exact_cnt, TRUE AS in_sketch, TRUE AS bound_ok
FROM g, n WHERE exact_cnt > n.n / {_FREQ_K + 1}
"""


# --- stream-served heavy hitters (r9) -------------------------------------
#
# The serving loop for the terms-top-k panel family (the Grafana
# `terms` panels — readers/elasticsearch/src/main/elasticsearch/
# grafana/*.json): a monitoring deployment doesn't re-scan history per
# dashboard refresh; it reads the k-row summary the streaming
# Misra–Gries maintainer (streaming/sketch.py) keeps folded — the same
# closing-the-loop the rollup sink gives ev_hist_quantile /
# ev_distinct_merge_check.


def _ensure_freq_summary(spark, sf_dir):
    """Materialize the maintained summary once per corpus: the value
    buckets written as a 3-file stream source, drained through
    maintain_freq_items_stream (availableNow) into the on-disk k-row
    summary.  Keyed on the events table's file state, like every other
    index fixture."""
    from garmadon_spark.streaming.sketch import (
        maintain_freq_items_stream,
    )

    def build(base):
        src = f"{base}/src"
        # 3 source files -> 3 micro-batches with maxFilesPerTrigger=1:
        # the summary is genuinely FOLDED across triggers, not built in
        # one batch
        _value_buckets(spark, sf_dir).repartition(3) \
            .write.mode("overwrite").parquet(src)
        maintain_freq_items_stream(
            spark.readStream.schema("bucket int")
            .option("maxFilesPerTrigger", "1").parquet(src),
            f"{base}/out", f"{base}/ckpt",
            item_col="bucket", k=_FREQ_K,
        ).start().awaitTermination()

    base = materialize(sf_dir, "events.parquet", "garmadon_freqsum_",
                       f"k={_FREQ_K};w={_FREQ_BUCKET_WIDTH}", build)
    return f"{base}/out"


def ev_heavy_served(spark, sf_dir):
    """ev_heavy_value_buckets SERVED from the streaming summary: the
    dashboard refresh reads the k-row folded state
    (load_freq_summary — kilobytes), never the event history.  Rows-only
    (counter values depend on fold order); the adjacent
    ``ev_heavy_served_check`` hash-gates the Misra–Gries guarantee
    against the exact aggregate."""
    from garmadon_spark.streaming.sketch import load_freq_summary

    counters, n_total = load_freq_summary(
        spark, _ensure_freq_summary(spark, sf_dir)
    )
    rows = sorted(
        ((b, c) for b, c in counters.items()),
        key=lambda x: (-x[1], x[0]),
    )[:_FREQ_K]
    return spark.createDataFrame(
        [(b, c, n_total) for b, c in rows],
        "bucket int, count_lb bigint, n_total bigint",
    )


def ev_heavy_served_check(spark, sf_dir):
    """The maintained summary satisfies the SAME contract as the batch
    sketch (ev_heavy_value_buckets_check): every bucket with true
    frequency > n/(k+1) is present with
    ``true − n/(k+1) ≤ count_lb ≤ true``, and the summary counted every
    row (n_total == exact n — the errors of the folded batches ADD to
    the same bound, Agarwal et al. PODS 2012).  Data-bearing hash gate
    (bucket + exact count vs SQL)."""
    from garmadon_spark.streaming.sketch import load_freq_summary

    counters, n_total = load_freq_summary(
        spark, _ensure_freq_summary(spark, sf_dir)
    )
    ev = _value_buckets(spark, sf_dir)
    n = ev.count()
    thr = n / (_FREQ_K + 1)
    sk = spark.createDataFrame(
        [(b, c) for b, c in counters.items()],
        "bucket int, count_lb bigint",
    )
    exact = ev.groupBy("bucket").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return (
        exact.filter(F.col("exact_cnt") > thr)
        .join(F.broadcast(sk), "bucket", "left")
        .select(
            "bucket",
            "exact_cnt",
            F.col("count_lb").isNotNull().alias("in_summary"),
            (
                F.col("count_lb").isNotNull()
                & (F.col("count_lb") <= F.col("exact_cnt"))
                & (F.col("count_lb") >= F.col("exact_cnt") - F.lit(thr))
            ).alias("bound_ok"),
            F.lit(n_total == n).alias("counted_all"),
        )
    )


EV_HEAVY_SERVED_CHECK_SQL = f"""
WITH g AS (
    SELECT CAST(floor(value / {_FREQ_BUCKET_WIDTH}) AS INT) AS bucket,
           COUNT(*) AS exact_cnt
    FROM events GROUP BY 1
), n AS (SELECT COUNT(*) AS n FROM events)
SELECT bucket, exact_cnt, TRUE AS in_summary, TRUE AS bound_ok,
       TRUE AS counted_all
FROM g, n WHERE exact_cnt > n.n / {_FREQ_K + 1}
"""


QUERIES = {
    "ev_count_by_type": (ev_count_by_type, EV_COUNT_BY_TYPE_SQL),
    "ev_date_histogram_hour": (ev_date_histogram_hour, EV_DATE_HISTOGRAM_HOUR_SQL),
    "ev_metric_stats_by_type": (ev_metric_stats_by_type, EV_METRIC_STATS_BY_TYPE_SQL),
    "ev_topk_users": (ev_topk_users, EV_TOPK_USERS_SQL),
    "ev_filtered_stats": (ev_filtered_stats, EV_FILTERED_STATS_SQL),
    "ev_percentiles": (ev_percentiles, EV_PERCENTILES_SQL),
    "ev_percentiles_approx": (ev_percentiles_approx, None),
    "ev_percentiles_approx_check": (
        ev_percentiles_approx_check, EV_PERCENTILES_APPROX_CHECK_SQL
    ),
    "ev_derivative_hourly": (ev_derivative_hourly, EV_DERIVATIVE_HOURLY_SQL),
    "ev_cumulative_sum": (ev_cumulative_sum, EV_CUMULATIVE_SUM_SQL),
    "ev_serial_diff": (ev_serial_diff, EV_SERIAL_DIFF_SQL),
    "ev_cardinality": (ev_cardinality, EV_CARDINALITY_SQL),
    "ev_cardinality_approx": (ev_cardinality_approx, None),
    "ev_cardinality_approx_check": (
        ev_cardinality_approx_check, EV_CARDINALITY_APPROX_CHECK_SQL
    ),
    "ev_raw_documents": (ev_raw_documents, EV_RAW_DOCUMENTS_SQL),
    "ev_json_extract": (ev_json_extract, EV_JSON_EXTRACT_SQL),
    "ev_user_sessions": (ev_user_sessions, EV_USER_SESSIONS_SQL),
    "ev_topk_per_hour": (ev_topk_per_hour, EV_TOPK_PER_HOUR_SQL),
    "ev_moving_avg": (ev_moving_avg, EV_MOVING_AVG_SQL),
    "ev_rollup_day_type": (ev_rollup_day_type, EV_ROLLUP_DAY_TYPE_SQL),
    "ev_failure_ratio": (ev_failure_ratio, EV_FAILURE_RATIO_SQL),
    "ev_gapfill_locf": (ev_gapfill_locf, EV_GAPFILL_LOCF_SQL),
    "ev_gapfill_interp": (ev_gapfill_interp, EV_GAPFILL_INTERP_SQL),
    "ev_value_histogram": (ev_value_histogram, EV_VALUE_HISTOGRAM_SQL),
    "ev_significant_users": (
        ev_significant_users, EV_SIGNIFICANT_USERS_SQL
    ),
    "ev_hist_quantile": (ev_hist_quantile, EV_HIST_QUANTILE_SQL),
    "ev_distinct_merge_check": (
        ev_distinct_merge_check, EV_DISTINCT_MERGE_CHECK_SQL
    ),
    "ev_anomaly_zscore": (ev_anomaly_zscore, EV_ANOMALY_ZSCORE_SQL),
    "ev_heavy_value_buckets": (ev_heavy_value_buckets, None),
    "ev_heavy_value_buckets_check": (
        ev_heavy_value_buckets_check, EV_HEAVY_VALUE_BUCKETS_CHECK_SQL
    ),
    "ev_heavy_served": (ev_heavy_served, None),
    "ev_heavy_served_check": (
        ev_heavy_served_check, EV_HEAVY_SERVED_CHECK_SQL
    ),
}
