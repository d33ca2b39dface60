"""Driver-declared queries for the engine's own machinery: the wire
codec and the heuristics engine.

These make the ingest path and the severity engine visible to the
driver's correctness gate.  ``frames_roundtrip_stats`` has a true SQL
oracle: the wire encode → frame decode (S2) → typed parse (S3) →
flatten (E1) composition is the identity on the payload, so aggregates
over the decoded stream must equal aggregates over the source table.
The heuristics run on the deterministic garmadon fixture corpus (seeded
generator — same rows everywhere) and are full-hash-checked against a
SQL replica of every threshold (``_heuristics_oracle_sql``, since r5).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from garmadon_spark.session import load_table


def frames_roundtrip_stats(spark, sf_dir):
    """Encode every event into a wire frame (JVM-side big-endian ints +
    JSON payloads), frame-decode, type-parse, flatten, aggregate.  The
    oracle aggregates the source table directly — any codec defect
    (length arithmetic, offset, charset) breaks the hash match."""
    from garmadon_spark.sources.frames import decode_frames, decode_typed

    ev = load_table(spark, sf_dir, "events")

    def be(col, nbytes):
        return F.unhex(F.lpad(F.hex(col), nbytes * 2, "0"))

    header = F.to_json(
        F.struct(
            F.concat(F.lit("application_"), F.col("user_id")).alias(
                "application_id"
            ),
            F.lit("1").alias("attempt_id"),
            F.concat(F.lit("container_"), F.col("event_id")).alias(
                "container_id"
            ),
        )
    ).cast("binary")
    body = F.to_json(
        F.struct(
            F.upper(F.col("event_type")).alias("action"),
            F.floor(F.col("value") * 100).cast("long").alias(
                "method_duration_millis"
            ),
            F.lit("SUCCESS").alias("status"),
        )
    ).cast("binary")
    frames = ev.select(
        F.concat(
            be(F.lit(1), 4),
            be(F.col("ts").cast("long") * 1000, 8),
            be(F.length(header), 4),
            be(F.length(body), 4),
            header,
            body,
        ).alias("value")
    )
    typed = decode_typed(decode_frames(frames), 1)
    return (
        typed.select("header.application_id", "body.action",
                     "body.method_duration_millis")
        .groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("application_id").alias("n_apps"),
            F.sum("method_duration_millis").alias("total_duration"),
        )
    )


FRAMES_ROUNDTRIP_STATS_SQL = """
SELECT upper(event_type) AS action,
       COUNT(*) AS n_events,
       COUNT(DISTINCT 'application_' || user_id) AS n_apps,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_duration
FROM events
GROUP BY 1
"""


def fixture_corpus_dir(n_apps: int = 8, seed: int = 42) -> str:
    """On-disk parquet copy of the seeded fixture corpus under a
    deterministic /tmp path, written once (atomic rename) — lets the
    fixture-backed engine queries run against files BOTH Spark and the
    DuckDB oracles can read, turning their rows-only checks into full
    hash checks."""
    import shutil
    import tempfile

    from garmadon_spark.sources import fixtures

    base = (f"/tmp/garmadon_fixture_corpus"
            f"_v{fixtures.FIXTURE_VERSION}_{n_apps}_{seed}")
    if not os.path.isdir(base):
        tmp = tempfile.mkdtemp(prefix=base + ".tmp")
        fixtures.write_parquet_pyarrow(tmp, n_apps=n_apps, seed=seed)
        try:
            os.rename(tmp, base)
        except OSError:  # concurrent writer won the race; keep theirs
            shutil.rmtree(tmp, ignore_errors=True)
    return base


def _corpus_tables(spark, names):
    from garmadon_spark.session import scan_parquet

    d = fixture_corpus_dir()
    return {t: scan_parquet(spark, f"{d}/{t}.parquet") for t in names}


def garmadon_heuristics(spark, sf_dir):
    """The full batch heuristics engine (A1-A9) over the deterministic
    garmadon fixture corpus: per-app severity rows, all nine heuristics
    in one pass per event family, details map exploded to
    (detail_key, detail_value) rows so the DuckDB oracle can replicate
    the HeuristicHelper fold exactly (HeuristicHelper.java:25-40)."""
    from garmadon_spark.heuristics.batch import run_all

    dfs = _corpus_tables(
        spark, ("jvmstats_event", "gc_event", "fs_event", "flink_job_event")
    )
    res = run_all(dfs)
    return res.select(
        "application_id", "attempt_id", "heuristic", "severity", "score",
        F.explode("details").alias("detail_key", "detail_value"),
    )


def garmadon_extractor(spark, sf_dir):
    """A10 — the Extractor tool's per-container JVMSTATS/GC tally
    (tool/Extractor.java:36-47) over the fixture corpus."""
    from garmadon_spark.heuristics.batch import extractor_stats

    dfs = _corpus_tables(spark, ("jvmstats_event", "gc_event"))
    return extractor_stats(
        jvmstats=dfs["jvmstats_event"], gc_events=dfs["gc_event"]
    )


def garmadon_spark_storage(spark, sf_dir):
    """S10 executor-storage panel (spark_event.proto:116-131,
    GarmadonSparkStorageStatusListener.java:158-180): peak RDD / stream /
    broadcast memory+disk per (app, executor host).  Gauges are
    point-in-time → MAX per group; one map-side-combinable shuffle."""
    df = _corpus_tables(spark, ("spark_executor_storage_status_event",))[
        "spark_executor_storage_status_event"
    ]
    return df.groupBy("application_id", "executor_hostname").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.max("rdd_memory_used").alias("peak_rdd_memory"),
        F.max("rdd_disk_used").alias("peak_rdd_disk"),
        F.max("stream_memory_used").alias("peak_stream_memory"),
        F.max("broadcast_memory_used").alias("peak_broadcast_memory"),
    )


def garmadon_rdd_storage(spark, sf_dir):
    """S10 RDD-storage panel (spark_event.proto:133-139,
    GarmadonSparkStorageStatusListener.java:139-156): peak cached bytes
    per (app, RDD)."""
    df = _corpus_tables(spark, ("spark_rdd_storage_status_event",))[
        "spark_rdd_storage_status_event"
    ]
    return df.groupBy("application_id", "rdd_name").agg(
        F.max("memory_used").alias("peak_memory"),
        F.max("off_heap_memory_used").alias("peak_off_heap"),
        F.max("disk_used").alias("peak_disk"),
    )


def garmadon_spark_stages(spark, sf_dir):
    """S9 stage-metrics panel (GarmadonSparkListener.java:111-170): per
    (app, status) stage counts + aggregate task metrics — the
    Grafana spark-stage dashboard shape."""
    df = _corpus_tables(spark, ("spark_stage_event",))["spark_stage_event"]
    return df.groupBy("application_id", "status").agg(
        F.count(F.lit(1)).alias("n_stages"),
        F.sum("num_tasks").alias("total_tasks"),
        F.sum("executor_run_time").alias("executor_run_time"),
        F.sum("shuffle_read_total_bytes").alias("shuffle_read_bytes"),
        F.max("peak_execution_memory").alias("peak_execution_memory"),
        F.sum(F.col("completion_time") - F.col("start_time")).alias(
            "wall_ms"
        ),
    )


def garmadon_flink_operators(spark, sf_dir):
    """Flink operator watermark / late-records panel
    (flink_event.proto:69-87 — the fields SURVEY calls out): per
    (app, job, operator) watermark lag vs event time, cumulative late
    drops (gauge → MAX), worst consumer lag."""
    df = _corpus_tables(spark, ("flink_operator_event",))[
        "flink_operator_event"
    ]
    return df.groupBy("application_id", "job_name", "operator_name").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.max(
            F.col("timestamp") - F.col("current_input_watermark")
        ).alias("max_watermark_lag_ms"),
        F.max("num_late_records_dropped").alias("late_records_dropped"),
        F.max("records_lag_max").alias("records_lag_max"),
        F.max("commits_succeeded").alias("commits_succeeded"),
    )


def garmadon_flink_kafka(spark, sf_dir):
    """Flink Kafka-consumer offset panel (flink_event.proto:90-102):
    worst uncommitted-offset gap per (app, topic, partition)."""
    df = _corpus_tables(spark, ("flink_kafka_consumer_event",))[
        "flink_kafka_consumer_event"
    ]
    return df.groupBy("application_id", "topic", "partition").agg(
        F.max("current_offsets").alias("max_offset"),
        F.max(
            F.col("current_offsets") - F.col("committed_offsets")
        ).alias("max_uncommitted"),
    )


def garmadon_app_states(spark, sf_dir):
    """RM application-state timeline panel (garmadon-yarn-application
    dashboard): latest state per app (deterministic arg-max key over
    timestamp ⊕ kafka coords), resource-seconds rollup per
    (last_state, final_status)."""
    df = _corpus_tables(spark, ("application_event",))["application_event"]
    key = (F.col("timestamp") * F.lit(1_000_000)
           + F.col("kafka_offset") * F.lit(8) + F.col("kafka_partition"))
    per_app = df.groupBy("application_id").agg(
        F.max_by("state", key).alias("last_state"),
        F.max_by("final_status", key).alias("final_status"),
        F.max("memory_seconds").alias("mem_s"),
        F.max("vcore_seconds").alias("vcore_s"),
    )
    return per_app.groupBy("last_state", "final_status").agg(
        F.count(F.lit(1)).alias("n_apps"),
        F.sum("mem_s").alias("total_memory_seconds"),
        F.sum("vcore_s").alias("total_vcore_seconds"),
    )


def garmadon_container_exit(spark, sf_dir):
    """Container exit-status panel (garmadon-yarn-container dashboard):
    exit-code distribution with container/host cardinality."""
    df = _corpus_tables(spark, ("container_event",))["container_event"]
    return df.groupBy("exit_status").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("container_id").alias("n_containers"),
        F.count_distinct("container_hostname").alias("n_hosts"),
    )


def garmadon_os_devices(spark, sf_dir):
    """E3 OS per-device series (EventHelper.java:20-44 device pivot →
    the garmadon-server/compute OS dashboards): disk reads/writes and
    network rx/tx aggregated per device.  All metric values are integers
    stored as strings → double-exact, so AVG hashes identically across
    engines."""
    from garmadon_spark.operators.jvmstats import explode_os_devices

    jvm = _corpus_tables(spark, ("jvmstats_event",))["jvmstats_event"]
    dev = explode_os_devices(jvm)
    m = F.col("metrics")

    def met(name):
        return F.element_at(m, F.lit(name))

    return dev.groupBy("device").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.round(F.avg(met("reads")), 4).alias("avg_reads"),
        F.round(F.avg(met("writes")), 4).alias("avg_writes"),
        F.round(F.max(met("rx")), 4).alias("max_rx"),
        F.round(F.max(met("tx")), 4).alias("max_tx"),
    )


def garmadon_fs_failures_by_action_uri(spark, sf_dir):
    """Compound lucene filter panel (`event_type:FS_EVENT AND
    status:FAILURE AND uri:*` — the garmadon-hdfs dashboard's most
    common query family): failure counts + duration stats per
    (uri, action)."""
    df = _corpus_tables(spark, ("fs_event",))["fs_event"]
    return (
        df.filter(F.col("status") == "FAILURE")
        .groupBy("uri", "action")
        .agg(
            F.count(F.lit(1)).alias("failures"),
            F.round(F.avg("method_duration_millis"), 4).alias("avg_ms"),
            F.max("method_duration_millis").alias("max_ms"),
        )
    )


def garmadon_gc_cause_by_collector(spark, sf_dir):
    """`collector_name:* AND cause:*` cross-tab (garmadon-gc dashboard):
    pause stats per (collector, cause)."""
    df = _corpus_tables(spark, ("gc_event",))["gc_event"]
    return df.groupBy("collector_name", "cause").agg(
        F.count(F.lit(1)).alias("n_collections"),
        F.round(F.avg("pause_time"), 4).alias("avg_pause_ms"),
        F.max("pause_time").alias("max_pause_ms"),
    )


def garmadon_task_failures_by_host(spark, sf_dir):
    """`event_type:SPARK_TASK_EVENT AND status:failed` per executor host
    (garmadon-spark-job dashboard): failure concentration by machine —
    the classic bad-node hunt."""
    df = _corpus_tables(spark, ("spark_task_event",))["spark_task_event"]
    return df.groupBy("executor_hostname").agg(
        F.count(F.lit(1)).alias("n_tasks"),
        F.sum(
            F.when(F.col("status") == "failed", 1).otherwise(0)
        ).alias("failed"),
        F.round(
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0))
            / F.count(F.lit(1)), 4,
        ).alias("failure_ratio"),
    )


def garmadon_app_state_asof(spark, sf_dir):
    """J1's event-TIME variant: every container-monitoring sample
    enriched with the application state AS OF its timestamp (not the
    final state) via operators.enrich.enrich_as_of — union + per-key
    window carry-forward, one shuffle, no range-join blowup.  Events
    before the first state row report NONE.  Oracle: DuckDB's native
    ASOF LEFT JOIN over the same deduped state table."""
    from garmadon_spark.operators.enrich import enrich_as_of

    t = _corpus_tables(
        spark, ("application_event", "container_monitoring_event")
    )
    tiebreak = (F.col("kafka_offset") * F.lit(8)
                + F.col("kafka_partition"))
    states = (
        t["application_event"]
        .groupBy("application_id", "timestamp")
        .agg(F.max_by("state", tiebreak).alias("state"))
    )
    ev = t["container_monitoring_event"].select(
        "application_id", "timestamp", "container_id"
    )
    enriched = enrich_as_of(ev, states, state_cols=("state",),
                            payload_cols=("container_id",))
    return (
        enriched.select(
            F.coalesce(F.col("state_asof"), F.lit("NONE")).alias(
                "state_asof"),
            "container_id",
        )
        .groupBy("state_asof")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("container_id").alias("n_containers"),
        )
    )


def garmadon_path_events(spark, sf_dir):
    """S12 MapReduce PATH_EVENT tally (MapReduceTracer.java:79-215):
    datasets read/written per app."""
    df = _corpus_tables(spark, ("path_event",))["path_event"]
    return df.groupBy("application_id", "type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("path").alias("n_paths"),
    )


def _marker_panels_sql(d: str) -> dict[str, str]:
    return {
        "garmadon_spark_storage": f"""
SELECT application_id, executor_hostname,
       COUNT(*) AS n_samples,
       MAX(rdd_memory_used) AS peak_rdd_memory,
       MAX(rdd_disk_used) AS peak_rdd_disk,
       MAX(stream_memory_used) AS peak_stream_memory,
       MAX(broadcast_memory_used) AS peak_broadcast_memory
FROM '{d}/spark_executor_storage_status_event.parquet'
GROUP BY 1, 2
""",
        "garmadon_rdd_storage": f"""
SELECT application_id, rdd_name,
       MAX(memory_used) AS peak_memory,
       MAX(off_heap_memory_used) AS peak_off_heap,
       MAX(disk_used) AS peak_disk
FROM '{d}/spark_rdd_storage_status_event.parquet'
GROUP BY 1, 2
""",
        "garmadon_spark_stages": f"""
SELECT application_id, status,
       COUNT(*) AS n_stages,
       CAST(SUM(num_tasks) AS BIGINT) AS total_tasks,
       CAST(SUM(executor_run_time) AS BIGINT) AS executor_run_time,
       CAST(SUM(shuffle_read_total_bytes) AS BIGINT) AS shuffle_read_bytes,
       MAX(peak_execution_memory) AS peak_execution_memory,
       CAST(SUM(completion_time - start_time) AS BIGINT) AS wall_ms
FROM '{d}/spark_stage_event.parquet'
GROUP BY 1, 2
""",
        "garmadon_flink_operators": f"""
SELECT application_id, job_name, operator_name,
       COUNT(*) AS n_samples,
       MAX(timestamp - current_input_watermark) AS max_watermark_lag_ms,
       MAX(num_late_records_dropped) AS late_records_dropped,
       MAX(records_lag_max) AS records_lag_max,
       MAX(commits_succeeded) AS commits_succeeded
FROM '{d}/flink_operator_event.parquet'
GROUP BY 1, 2, 3
""",
        "garmadon_flink_kafka": f"""
SELECT application_id, topic, partition,
       MAX(current_offsets) AS max_offset,
       MAX(current_offsets - committed_offsets) AS max_uncommitted
FROM '{d}/flink_kafka_consumer_event.parquet'
GROUP BY 1, 2, 3
""",
        "garmadon_path_events": f"""
SELECT application_id, type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT path) AS n_paths
FROM '{d}/path_event.parquet'
GROUP BY 1, 2
""",
        "garmadon_app_states": f"""
WITH per_app AS (
  SELECT application_id,
         arg_max(state, timestamp * 1000000 + kafka_offset * 8
                 + kafka_partition) AS last_state,
         arg_max(final_status, timestamp * 1000000 + kafka_offset * 8
                 + kafka_partition) AS final_status,
         MAX(memory_seconds) AS mem_s,
         MAX(vcore_seconds) AS vcore_s
  FROM '{d}/application_event.parquet'
  GROUP BY application_id
)
SELECT last_state, final_status,
       COUNT(*) AS n_apps,
       CAST(SUM(mem_s) AS BIGINT) AS total_memory_seconds,
       CAST(SUM(vcore_s) AS BIGINT) AS total_vcore_seconds
FROM per_app
GROUP BY 1, 2
""",
        "garmadon_container_exit": f"""
SELECT exit_status,
       COUNT(*) AS n_events,
       COUNT(DISTINCT container_id) AS n_containers,
       COUNT(DISTINCT container_hostname) AS n_hosts
FROM '{d}/container_event.parquet'
GROUP BY 1
""",
        "garmadon_app_state_asof": f"""
WITH st AS (
  SELECT application_id, timestamp,
         arg_max(state, kafka_offset * 8 + kafka_partition) AS state
  FROM '{d}/application_event.parquet'
  GROUP BY 1, 2
)
SELECT COALESCE(st.state, 'NONE') AS state_asof,
       COUNT(*) AS n_events,
       COUNT(DISTINCT ev.container_id) AS n_containers
FROM '{d}/container_monitoring_event.parquet' ev
ASOF LEFT JOIN st
  ON ev.application_id = st.application_id
 AND ev.timestamp >= st.timestamp
GROUP BY 1
""",
        "garmadon_fs_failures_by_action_uri": f"""
SELECT uri, action,
       COUNT(*) AS failures,
       ROUND(AVG(method_duration_millis), 4) AS avg_ms,
       MAX(method_duration_millis) AS max_ms
FROM '{d}/fs_event.parquet'
WHERE status = 'FAILURE'
GROUP BY 1, 2
""",
        "garmadon_gc_cause_by_collector": f"""
SELECT collector_name, cause,
       COUNT(*) AS n_collections,
       ROUND(AVG(pause_time), 4) AS avg_pause_ms,
       MAX(pause_time) AS max_pause_ms
FROM '{d}/gc_event.parquet'
GROUP BY 1, 2
""",
        "garmadon_task_failures_by_host": f"""
SELECT executor_hostname,
       COUNT(*) AS n_tasks,
       CAST(SUM(CASE WHEN status = 'failed' THEN 1 ELSE 0 END) AS BIGINT)
           AS failed,
       ROUND(SUM(CASE WHEN status = 'failed' THEN 1 ELSE 0 END)
             / COUNT(*), 4) AS failure_ratio
FROM '{d}/spark_task_event.parquet'
GROUP BY 1
""",
        "garmadon_os_devices": f"""
WITH dev AS (
  SELECT split_part(p.name, '_', 1) AS device,
         substr(p.name, len(split_part(p.name, '_', 1)) + 2) AS metric,
         TRY_CAST(p.value AS DOUBLE) AS v
  FROM '{d}/jvmstats_event.parquet',
       LATERAL unnest(section) AS u(s),
       LATERAL unnest(u.s.property) AS q(p)
  WHERE u.s.name IN ('disk', 'network')
)
SELECT device,
       COUNT(*) FILTER (metric IN ('reads', 'rx')) AS n_samples,
       ROUND(AVG(CASE WHEN metric = 'reads' THEN v END), 4) AS avg_reads,
       ROUND(AVG(CASE WHEN metric = 'writes' THEN v END), 4) AS avg_writes,
       ROUND(MAX(CASE WHEN metric = 'rx' THEN v END), 4) AS max_rx,
       ROUND(MAX(CASE WHEN metric = 'tx' THEN v END), 4) AS max_tx
FROM dev
GROUP BY device
""",
    }


def _sect(section: str, prop: str) -> str:
    """DuckDB analogue of operators.jvmstats.section_prop(..., 'long')."""
    return (
        "TRY_CAST(list_filter(list_filter(section, s -> s.name = "
        f"'{section}')[1].property, p -> p.name = '{prop}')[1].value "
        "AS BIGINT)"
    )


def _heuristics_oracle_sql(d: str) -> str:
    """DuckDB replica of batch heuristics A1-A9 + the HeuristicHelper
    per-app fold, over the fixture parquet.  Mirrors batch.py exactly:
    thresholds, integer division (all operands non-negative where the
    result is used — see batch.py docstring), detail string formats,
    >10-container folds."""
    majors = ", ".join(
        "COALESCE(" + _sect("gc(" + n + ")", "count") + ", 0)"
        for n in ("MarkSweepCompact", "PS MarkSweep", "ConcurrentMarkSweep",
                  "G1 Old Generation")
    )
    fs_actions = ("DELETE", "READ", "WRITE", "RENAME", "APPEND",
                  "LIST_STATUS", "ADD_BLOCK", "GET_CONTENT_SUMMARY")
    fs_counts = ", ".join(
        "CAST(SUM(CASE WHEN action = '" + a + "' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS c_" + a.lower()
        for a in fs_actions
    )
    fs_labels = (
        ("DELETE", "Files deleted"), ("READ", "Files read"),
        ("WRITE", "Files written"), ("RENAME", "Files renamed"),
        ("APPEND", "Files appended"), ("LIST_STATUS", "List status performed"),
        ("ADD_BLOCK", "Blocks added"),
        ("GET_CONTENT_SUMMARY", "Content summary retrieved"),
    )
    fs_rows = "\nUNION ALL\n".join(
        "SELECT application_id, attempt_id, 'FileHeuristic', sev, sev, '"
        + label + "', c_" + a.lower() + "::VARCHAR FROM fs_sev"
        for a, label in fs_labels
    )
    fs_zero = ", ".join(
        "COALESCE(c.c_" + a.lower() + ", 0) AS c_" + a.lower()
        for a in fs_actions
    )
    return f"""
WITH jvm AS (
  SELECT application_id, attempt_id, container_id, timestamp, kafka_offset,
         {_sect('heap', 'max')} AS heap_max,
         {_sect('heap', 'used')} AS heap_used,
         {_sect('safepoints', 'count')} AS sp_count,
         {_sect('synclocks', 'contendedlockattempts')} AS lock_count,
         {_sect('threads', 'count')} AS t_count,
         {_sect('threads', 'total')} AS t_total,
         {_sect('code', 'used')} AS c_used,
         {_sect('code', 'max')} AS c_max,
         GREATEST({majors}, 0) AS major
  FROM '{d}/jvmstats_event.parquet'
),
lagged AS (
  SELECT *, LAG(sp_count) OVER w AS sp_last,
         LAG(lock_count) OVER w AS lock_last,
         LAG(timestamp) OVER w AS last_ts
  FROM jvm
  WINDOW w AS (PARTITION BY application_id, attempt_id, container_id
               ORDER BY timestamp, kafka_offset)
),
per_c AS (
  SELECT application_id, attempt_id, container_id,
         arg_max(heap_max, timestamp) AS hmax,
         MAX(heap_used) AS hpeak,
         MAX(major) AS major_gc,
         MAX(CASE WHEN sp_count IS NOT NULL AND sp_last IS NOT NULL
                       AND timestamp != last_ts AND sp_last != 0
                  THEN (sp_count - sp_last) * 1000 // (timestamp - last_ts)
             END) AS sp_ratio,
         MAX(CASE WHEN lock_count IS NOT NULL AND lock_last IS NOT NULL
                       AND timestamp != last_ts
                  THEN (lock_count - lock_last) * 1000 // (timestamp - last_ts)
             END) AS lock_ratio,
         MAX(t_count) AS max_count,
         arg_max(t_total, timestamp) AS total,
         MAX(c_used) AS cpeak,
         arg_max(c_max, timestamp) AS cmax
  FROM lagged
  GROUP BY 1, 2, 3
),
gc_counted AS (
  SELECT application_id, attempt_id, container_id,
         CAST(SUM(CASE WHEN cause = 'Metadata GC Threshold' THEN 1 ELSE 0 END)
              AS BIGINT) AS mt,
         CAST(SUM(CASE WHEN cause = 'Ergonomics' THEN 1 ELSE 0 END)
              AS BIGINT) AS erg
  FROM '{d}/gc_event.parquet'
  WHERE cause IN ('Metadata GC Threshold', 'Ergonomics')
  GROUP BY 1, 2, 3
),
gc_app AS (
  SELECT application_id, attempt_id, COUNT(*) AS n,
         CAST(SUM(mt) AS BIGINT) AS smt, CAST(SUM(erg) AS BIGINT) AS serg
  FROM gc_counted GROUP BY 1, 2
),
g1 AS (
  SELECT application_id, attempt_id, container_id,
         COUNT(*) AS cnt, CAST(SUM(pause_time) AS BIGINT) AS pause,
         MIN(timestamp) AS first_ts
  FROM '{d}/gc_event.parquet'
  WHERE collector_name = 'G1 Old Generation'
  GROUP BY 1, 2, 3
),
verdicts AS (
  SELECT application_id, attempt_id, container_id,
         'HeapUsage' AS heuristic,
         CASE WHEN r > 70 THEN 3 WHEN r > 50 THEN 2 WHEN r > 30 THEN 1
              ELSE 0 END AS severity,
         'unused memory %: ' || r::VARCHAR AS detail
  FROM (SELECT *, (hmax - hpeak) * 100 // hmax AS r
        FROM per_c WHERE COALESCE(major_gc, 0) = 0 AND hmax > hpeak)
  UNION ALL
  SELECT application_id, attempt_id, container_id, 'Safepoints',
         CASE WHEN sp_ratio > 10 THEN 4 WHEN sp_ratio > 7 THEN 3
              WHEN sp_ratio > 5 THEN 2 ELSE 1 END,
         'Max safepoint/s: ' || sp_ratio::VARCHAR
  FROM per_c WHERE sp_ratio > 3
  UNION ALL
  SELECT application_id, attempt_id, container_id, 'Locks',
         CASE WHEN lock_ratio > 500 THEN 4 WHEN lock_ratio > 100 THEN 3
              WHEN lock_ratio > 50 THEN 2 ELSE 1 END,
         'Max contention/s: ' || lock_ratio::VARCHAR
  FROM per_c WHERE lock_ratio > 10
  UNION ALL
  SELECT application_id, attempt_id, container_id, 'Threads',
         CASE WHEN max_count * 100 // total <= 0 THEN 2 ELSE 1 END,
         'Max count threads: ' || max_count::VARCHAR
             || ', Total threads: ' || total::VARCHAR
  FROM per_c
  WHERE max_count IS NOT NULL AND total > 0
        AND max_count * 100 // total <= 10
  UNION ALL
  SELECT application_id, attempt_id, container_id, 'CodeCacheUsage', 2,
         'max: ' || cmax::VARCHAR || 'kB, peak: ' || cpeak::VARCHAR || 'kB'
  FROM per_c
  WHERE cpeak IS NOT NULL
        AND NOT (cmax > cpeak AND (cmax - cpeak) * 100 // cmax >= 5)
  UNION ALL
  SELECT c.application_id, c.attempt_id, c.container_id, 'GCCause', 2,
         'Metadata GC Threshold: ' || c.mt::VARCHAR
             || ', Ergonomics: ' || c.erg::VARCHAR
  FROM gc_counted c
  JOIN gc_app a ON c.application_id = a.application_id
              AND c.attempt_id = a.attempt_id
  WHERE a.n <= 10
  UNION ALL
  SELECT application_id, attempt_id, container_id, 'G1GC', 3,
         CASE WHEN cnt = 1 THEN
                'Timestamp: '
                || strftime(make_timestamp((first_ts // 1000) * 1000000),
                            '%Y-%m-%d %H:%M:%S')
                || CASE WHEN first_ts % 1000 = 0 THEN ''
                        ELSE '.' || rtrim(lpad((first_ts % 1000)::VARCHAR,
                                               3, '0'), '0') END
                || ', pauseTime: ' || pause::VARCHAR || 'ms'
              ELSE 'Count: ' || cnt::VARCHAR
                || ', Cumulative PauseTime: ' || pause::VARCHAR || 'ms'
         END
  FROM g1
),
app_sev AS (
  SELECT application_id, attempt_id, heuristic,
         MAX(severity) AS severity, COUNT(*) AS n
  FROM verdicts GROUP BY 1, 2, 3
),
app_universe AS (
  SELECT DISTINCT application_id, attempt_id FROM (
    SELECT application_id, attempt_id FROM '{d}/jvmstats_event.parquet'
    UNION ALL
    SELECT application_id, attempt_id FROM '{d}/gc_event.parquet'
    UNION ALL
    SELECT application_id, attempt_id FROM '{d}/fs_event.parquet'
    UNION ALL
    SELECT application_id, attempt_id FROM '{d}/flink_job_event.parquet'
  )
),
fs_counted AS (
  SELECT application_id, attempt_id, {fs_counts}
  FROM '{d}/fs_event.parquet'
  GROUP BY 1, 2
),
fs_app AS (
  -- FileHeuristic emits a zero-counter row for every completed app
  SELECT u.application_id, u.attempt_id, {fs_zero}
  FROM app_universe u
  LEFT JOIN fs_counted c USING (application_id, attempt_id)
),
fs_sev AS (
  SELECT *, CASE WHEN c_write > 100000 THEN 3 WHEN c_write > 50000 THEN 2
                 WHEN c_write > 10000 THEN 1 ELSE 0 END AS sev
  FROM fs_app
),
flink AS (
  SELECT application_id, job_name,
         CAST(MAX(last_checkpoint_duration) AS BIGINT) AS duration
  FROM '{d}/flink_job_event.parquet'
  GROUP BY 1, 2
)
SELECT v.application_id, v.attempt_id, v.heuristic,
       a.severity, a.severity AS score,
       v.container_id AS detail_key, v.detail AS detail_value
FROM verdicts v
JOIN app_sev a ON v.application_id = a.application_id
             AND v.attempt_id = a.attempt_id AND v.heuristic = a.heuristic
WHERE a.n <= 10
UNION ALL
SELECT application_id, attempt_id, heuristic, severity, severity,
       'Containers', n::VARCHAR
FROM app_sev WHERE n > 10
UNION ALL
SELECT application_id, attempt_id, 'GCCause', 2, 2,
       'Metadata GC Threshold', smt::VARCHAR
FROM gc_app WHERE n > 10
UNION ALL
SELECT application_id, attempt_id, 'GCCause', 2, 2,
       'Ergonomics', serg::VARCHAR
FROM gc_app WHERE n > 10
UNION ALL
{fs_rows}
UNION ALL
SELECT application_id, job_name, 'FlinkCheckpointDuration',
       CASE WHEN duration > 900000 THEN 3 ELSE 0 END,
       CASE WHEN duration > 900000 THEN 3 ELSE 0 END,
       'last_checkpoint_duration', duration::VARCHAR
FROM flink
"""


def _extractor_oracle_sql(d: str) -> str:
    return f"""
SELECT application_id, container_id, framework,
       CAST(SUM(CASE WHEN _kind = 'jvm' THEN 1 ELSE 0 END) AS BIGINT)
           AS jvm_stat_count,
       CAST(SUM(CASE WHEN _kind = 'gc' THEN 1 ELSE 0 END) AS BIGINT)
           AS gc_stat_count
FROM (
  SELECT application_id, container_id, framework, 'jvm' AS _kind
  FROM '{d}/jvmstats_event.parquet'
  WHERE list_contains(tags, 'YARN_APPLICATION')
  UNION ALL
  SELECT application_id, container_id, framework, 'gc'
  FROM '{d}/gc_event.parquet'
  WHERE list_contains(tags, 'YARN_APPLICATION')
)
GROUP BY 1, 2, 3
"""


def _promoted_panels() -> dict:
    """Promote queries/panels.py's nine DuckDB-parity panels (previously
    test-only) to driver-declared queries over the fixture corpus: the
    Spark side reads the corpus parquet (applying the heap-explode `pre`
    where needed); the oracle SQL is the panel SQL with its table view
    rewritten to the corpus path (plus a section-extract CTE for the
    jvmstats_heap view)."""
    from garmadon_spark.queries import panels

    d = fixture_corpus_dir()
    heap_cte = (
        "WITH jvmstats_heap AS (\n"
        "  SELECT application_id, timestamp,\n"
        f"         {_sect('heap', 'used')} AS heap_used,\n"
        f"         {_sect('heap', 'max')} AS heap_max\n"
        f"  FROM '{d}/jvmstats_event.parquet'\n"
        ")\n"
    )

    def make_fn(table, fn):
        # `pre` only shapes the DuckDB view — the panel fns take the RAW
        # event table and do their own extraction (e.g. explode_heap)
        def q(spark, sf_dir):
            return fn(_corpus_tables(spark, (table,))[table])

        q.__name__ = f"panel_{fn.__name__}"
        return q

    out = {}
    for name, (table, fn, sql, pre) in panels.PANELS.items():
        if pre == "jvmstats_heap":
            oracle = heap_cte + sql
        else:
            oracle = sql.replace(f"FROM {table}",
                                 f"FROM '{d}/{table}.parquet'")
        out[f"panel_{name}"] = (make_fn(table, fn), oracle)
    return out


_PANEL_FNS = {
    "garmadon_spark_storage": garmadon_spark_storage,
    "garmadon_rdd_storage": garmadon_rdd_storage,
    "garmadon_spark_stages": garmadon_spark_stages,
    "garmadon_flink_operators": garmadon_flink_operators,
    "garmadon_flink_kafka": garmadon_flink_kafka,
    "garmadon_path_events": garmadon_path_events,
    "garmadon_app_states": garmadon_app_states,
    "garmadon_container_exit": garmadon_container_exit,
    "garmadon_os_devices": garmadon_os_devices,
    "garmadon_fs_failures_by_action_uri": garmadon_fs_failures_by_action_uri,
    "garmadon_gc_cause_by_collector": garmadon_gc_cause_by_collector,
    "garmadon_task_failures_by_host": garmadon_task_failures_by_host,
    "garmadon_app_state_asof": garmadon_app_state_asof,
}

QUERIES = {
    "frames_roundtrip_stats": (
        frames_roundtrip_stats, FRAMES_ROUNDTRIP_STATS_SQL
    ),
    "garmadon_heuristics": (
        garmadon_heuristics, _heuristics_oracle_sql(fixture_corpus_dir())
    ),
    "garmadon_extractor": (
        garmadon_extractor, _extractor_oracle_sql(fixture_corpus_dir())
    ),
    **{
        name: (fn, _marker_panels_sql(fixture_corpus_dir())[name])
        for name, fn in _PANEL_FNS.items()
    },
    **_promoted_panels(),
}
