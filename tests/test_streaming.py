"""Structured Streaming tests: exactly-once archive, watermarked windows,
explicit-END session heuristics with batch parity (SURVEY §2.9, §2.6/W3)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from garmadon_spark.heuristics import batch as hbatch
from garmadon_spark.sources import fixtures
from garmadon_spark.streaming import pipeline, sessions


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events"))
    fixtures.write_parquet(spark, d, n_apps=4, seed=7)
    return d


def _await(q):
    q.awaitTermination()
    return q


# --- exactly-once archive (W1/W7/W8) --------------------------------------

def test_archive_exactly_once(spark, event_dir, tmp_path):
    src = f"{event_dir}/fs_event.parquet"
    out = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")
    ev = pipeline.stream_events(spark, src, "FS_EVENT")
    assert ev.isStreaming
    _await(pipeline.archive_query(ev, out, ckpt))
    n_src = spark.read.parquet(src).count()
    assert spark.read.parquet(out).count() == n_src
    # restart with same checkpoint: no new data ⇒ no duplicates
    _await(pipeline.archive_query(
        pipeline.stream_events(spark, src, "FS_EVENT"), out, ckpt))
    assert spark.read.parquet(out).count() == n_src
    # day= partition layout (W1)
    assert any(e.startswith("day=") for e in os.listdir(out))


def test_archive_incremental_append(spark, event_dir, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")
    full = spark.read.parquet(f"{event_dir}/state_event.parquet")
    a, b = full.randomSplit([0.5, 0.5], seed=1)
    a.write.mode("overwrite").parquet(src)
    _await(pipeline.archive_query(
        pipeline.stream_events(spark, src, "STATE_EVENT"), out, ckpt))
    n1 = spark.read.parquet(out).count()
    assert n1 == a.count()
    b.write.mode("append").parquet(src)
    _await(pipeline.archive_query(
        pipeline.stream_events(spark, src, "STATE_EVENT"), out, ckpt))
    # only the delta is appended — no reprocessing of batch a
    assert spark.read.parquet(out).count() == full.count()


# --- streaming ingest dedup (W8 redelivery guard) -------------------------

def test_dedup_stream_drops_redeliveries(spark, event_dir, tmp_path):
    src = str(tmp_path / "src")
    base = spark.read.parquet(f"{event_dir}/fs_event.parquet")
    # first delivery, then a later micro-batch redelivers half of it
    # with the same (kafka_partition, kafka_offset) identity
    base.write.mode("overwrite").parquet(src)
    redelivered = base.limit(base.count() // 2)
    redelivered.write.mode("append").parquet(src)
    deduped = pipeline.dedup_stream(
        pipeline.stream_events(spark, src, "FS_EVENT")
    )
    q = (
        deduped.writeStream.format("memory").queryName("dedup_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM dedup_out")
    # exactly one survivor per identity — the fixture itself may carry
    # offset collisions (seed-dependent), so distinct identities is the
    # contract, not the raw pre-redelivery row count
    n_ids = (
        base.select("kafka_partition", "kafka_offset").distinct().count()
    )
    assert got.count() == n_ids
    assert (
        got.select("kafka_partition", "kafka_offset").distinct().count()
        == n_ids
    )
    # schema passes through untouched (the helper column is dropped)
    assert set(got.columns) == set(base.columns)


# --- streaming corpus-quality monitor -------------------------------------

def test_quality_monitor_stream_matches_batch(spark, tmp_path):
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import corpus as scorpus

    src = str(tmp_path / "docs")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    with_ts = docs.withColumn(
        "ts",
        F.timestamp_millis(
            F.lit(1_700_000_000_000)
            + (F.col("doc_id") % 5) * 3_600_000
        ),
    )
    with_ts.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    q = (
        scorpus.monitor_quality(stream)
        .writeStream.format("memory").queryName("qmon")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.bucket, r.lang): (r.n_docs, r.avg_quality, r.low_quality_frac)
        for r in spark.sql("SELECT * FROM qmon").collect()
    }
    exp = {
        (r.bucket, r.lang): (r.n_docs, r.avg_quality, r.low_quality_frac)
        for r in scorpus.monitor_quality(
            spark.read.parquet(src)
        ).collect()
    }
    assert got == exp and len(got) > 1


def test_clean_corpus_stream_matches_batch(spark, tmp_path):
    """The streaming ingest front door (hash-dedup + quality gate) must
    keep exactly the batch path's surviving content-hash set — which
    COPY of a duplicate survives differs (first arrival vs arbitrary),
    the set of surviving contents must not."""
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import corpus as scorpus

    src = str(tmp_path / "docs")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    # inject exact re-scrapes: every third doc appears twice with a new id
    dupes = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    both = docs.unionByName(dupes).withColumn(
        "ts",
        F.timestamp_millis(
            F.lit(1_700_000_000_000) + (F.col("doc_id") % 7) * 3_600_000
        ),
    )
    both.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    q = (
        scorpus.clean_corpus_stream(stream)
        .writeStream.format("memory").queryName("ccs")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM ccs").collect()
    exp = scorpus.clean_corpus_stream(spark.read.parquet(src)).collect()
    assert {r.content_hash for r in got} == {r.content_hash for r in exp}
    assert len(got) == len(exp) > 0
    # the dedup actually fired: no surviving hash from an injected dupe
    # pair appears twice, and every survivor clears the quality gate
    assert len({r.content_hash for r in got}) == len(got)
    assert all(r.quality_score >= 0.15 for r in got)


# --- watermarked windows (W4) ---------------------------------------------

def test_windowed_counts_matches_batch(spark, event_dir, tmp_path):
    src = f"{event_dir}/gc_event.parquet"
    ev = pipeline.stream_events(spark, src, "GC_EVENT")
    win = pipeline.windowed_counts(ev, group_cols=("collector_name",))
    q = (
        win.writeStream.format("memory").queryName("win_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.bucket, r.collector_name): r.cnt
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    exp = {
        (r.bucket, r.collector_name): r.cnt
        for r in spark.read.parquet(src)
        .groupBy(
            F.window(F.timestamp_millis("timestamp"), "1 hour")["start"].alias("bucket"),
            "collector_name",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == exp


# --- explicit-END session heuristics (W3) ---------------------------------

ALL_HEURISTICS = ["HeapUsage", "Safepoints", "Locks", "Threads",
                  "CodeCacheUsage", "GCCause", "G1GC", "FileHeuristic",
                  "FlinkCheckpointDuration"]


def _stream_tables(spark, event_dir, max_files=None):
    def st(table, name):
        return pipeline.stream_events(
            spark, f"{event_dir}/{table}.parquet", name,
            max_files_per_trigger=max_files)

    return (st("jvmstats_event", "JVMSTATS_EVENT"),
            st("fs_event", "FS_EVENT"),
            st("state_event", "STATE_EVENT"),
            st("gc_event", "GC_EVENT"),
            st("flink_job_event", "FLINK_JOB_EVENT"))


def _batch_expected(spark, event_dir, heuristics):
    dfs = {
        "jvmstats_event": spark.read.parquet(f"{event_dir}/jvmstats_event.parquet"),
        "fs_event": spark.read.parquet(f"{event_dir}/fs_event.parquet"),
        "gc_event": spark.read.parquet(f"{event_dir}/gc_event.parquet"),
        "flink_job_event":
            spark.read.parquet(f"{event_dir}/flink_job_event.parquet"),
    }
    out = hbatch.run_all(dfs, max_created_files=100)
    rows = out.filter(F.col("heuristic").isin(*heuristics)).collect()
    return {
        (r.application_id, r.attempt_id, r.heuristic):
            (r.severity, dict(r.details))
        for r in rows
    }


@pytest.mark.parametrize("heuristic", ALL_HEURISTICS)
def test_session_heuristics_batch_parity(spark, event_dir, heuristic,
                                         _session_results):
    """Per-heuristic batch↔streaming parity over the full fixture —
    all nine heuristics run under the one streaming loop, like
    Heuristics.java:29-158."""
    got = {k: v for k, v in _session_results.items() if k[2] == heuristic}
    exp = _batch_expected(spark, event_dir, [heuristic])
    assert exp, f"batch produced no {heuristic} rows — fixture too thin"
    assert got == exp


@pytest.fixture(scope="module")
def _session_results(spark, event_dir):
    jvm, fs, st, gc, fl = _stream_tables(spark, event_dir)
    union = sessions.prepare_session_input(jvm, fs, st, gc, fl)
    res = sessions.session_heuristics(union, max_created_files=100)
    q = (
        res.writeStream.format("memory").queryName("sess_res")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.application_id, r.attempt_id, r.heuristic):
            (r.severity, json.loads(r.details_json))
        for r in spark.sql("SELECT * FROM sess_res").collect()
    }
    assert got  # every fixture app ends ⇒ results emitted
    return got


def test_session_state_survives_micro_batches(spark, event_dir):
    # one file per trigger ⇒ state must carry across many micro-batches
    jvm, fs, st, gc, fl = _stream_tables(spark, event_dir, max_files=1)
    union = sessions.prepare_session_input(jvm, fs, st, gc, fl)
    res = sessions.session_heuristics(union, max_created_files=100)
    q = (
        res.writeStream.format("memory").queryName("sess_inc")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM sess_inc").collect()
    got = {
        (r.application_id, r.heuristic): json.loads(r.details_json)
        for r in rows
        if r.heuristic in ("FileHeuristic", "HeapUsage")
    }
    exp = {
        (k[0], k[2]): d
        for k, (s, d) in _batch_expected(
            spark, event_dir, ["HeapUsage", "FileHeuristic"]).items()
    }
    # Cross-table file interleaving can deliver an app's END before some
    # of its events (the reference has the same property: forwarder
    # produces with key=null round-robin, so cross-partition order is
    # undefined).  The guarantee under arbitrary micro-batch slicing is:
    # state carries across batches and every emitted result is correct.
    assert got  # sessions closed across micro-batches, not just batch 1
    for k, details in got.items():
        assert k in exp, f"unexpected result {k}"


def test_session_restart_mid_stream(spark, event_dir, tmp_path):
    """Hard-stop the session engine between micro-batches WHILE apps'
    sessions are open, restart from the same checkpoint, deliver the
    END markers: every app must emit exactly one result row per
    heuristic, with the same severity/details as the uninterrupted
    batch run (reference semantics Heuristics.java:141-158 —
    finalize-on-END, independent of restarts).  Completes the
    exactly-once trilogy: archive (W8), rollup sink, sessions."""
    import glob
    import time

    from pyspark.sql.window import Window

    src = str(tmp_path / "union_src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    t = {
        n: spark.read.parquet(f"{event_dir}/{n}.parquet")
        for n in ("jvmstats_event", "fs_event", "state_event",
                  "gc_event", "flink_job_event")
    }
    union = sessions.prepare_session_input(
        t["jvmstats_event"], t["fs_event"], t["state_event"],
        t["gc_event"], t["flink_job_event"],
    )
    # time-ordered eighths written sequentially: every END marker lands
    # in a LATE file, so the mid-stream kill interrupts OPEN sessions
    # (fixture-sized single-partition window — test-only slicing)
    n_chunks = 8
    chunked = union.withColumn(
        "_chunk",
        F.ntile(n_chunks).over(Window.orderBy("timestamp", "kafka_offset")),
    )
    for i in range(1, n_chunks + 1):
        (
            chunked.filter(F.col("_chunk") == i).drop("_chunk")
            .coalesce(1).write.mode("append").parquet(src)
        )
    # pin the file-source processing order: strictly increasing mtimes
    # in write order (FileStreamSource orders by modification time)
    parts = sorted(glob.glob(f"{src}/part-*"), key=os.path.getmtime)
    assert len(parts) == n_chunks
    base = time.time()
    for i, p in enumerate(parts):
        os.utime(p, (base + i * 10, base + i * 10))

    schema = spark.read.parquet(src).schema

    def start(trigger_kwargs):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        res = sessions.session_heuristics(stream, max_created_files=100)
        w = (
            res.writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .outputMode("append")
        )
        if trigger_kwargs:
            w = w.trigger(**trigger_kwargs)
        return w.start()

    q = start(None)
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["batchId"] >= 2:
            break
        if not q.isActive:
            break
        time.sleep(0.1)
    q.stop()  # mid-stream kill: sessions open, state half-built
    while q.isActive and time.time() < deadline:
        time.sleep(0.1)
    interrupted_at = (q.lastProgress or {}).get("batchId")
    try:
        n_before = spark.read.parquet(sink).count()
    except Exception:
        n_before = 0

    q2 = start({"availableNow": True})
    q2.awaitTermination()

    rows = spark.sql(f"SELECT * FROM parquet.`{sink}`").collect()
    keys = [(r.application_id, r.attempt_id, r.heuristic) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate finalize after restart"
    got = {
        (r.application_id, r.attempt_id, r.heuristic):
            (r.severity, json.loads(r.details_json))
        for r in rows
    }
    exp = _batch_expected(spark, event_dir, ALL_HEURISTICS)
    assert got == exp
    # the kill really was mid-stream (8 single-file batches total) ...
    assert interrupted_at is not None and interrupted_at < n_chunks - 1
    # ... and at least one session finalized only AFTER the restart
    assert len(rows) > n_before


def test_state_events_do_not_register_containers():
    """registerAppContainer excludes STATE_EVENT (Heuristics.java:131-140):
    a state-only container must not enter live/seen, so a lost END can't
    leak the app and an END-only container can't finalize one; extension
    callbacks still fire on every END (Heuristics.java:146-148)."""
    from collections import namedtuple

    R = namedtuple("R", sessions._UNION_COLS)

    def row(kind, cid, ts, **kw):
        base = {c: None for c in sessions._UNION_COLS}
        base.update(application_id="a", attempt_id="1", container_id=cid,
                    timestamp=ts, kafka_offset=ts, kind=kind, **kw)
        return R(**base)

    ends_seen = []

    class Probe(sessions.SessionHeuristic):
        name = "Probe"

        def on_container_completed(self, s, container_id):
            ends_seen.append(container_id)

    s = sessions._new_state()
    hs = [Probe()]
    # END for a container never otherwise observed: callback fires, but
    # nothing is registered and nothing finalizes
    sessions._process_row(s, row("state", "c_ghost", 1, state="END"), hs)
    assert ends_seen == ["c_ghost"]
    assert s["seen"] == [] and s["live"] == []
    # a non-END state event must not register either
    sessions._process_row(s, row("state", "c_ghost", 2, state="BEGIN"), hs)
    assert s["seen"] == []
    # a real event registers; its END then closes the app
    sessions._process_row(s, row("fs", "c1", 3, action="WRITE"), hs)
    assert s["live"] == ["c1"]
    sessions._process_row(s, row("state", "c1", 4, state="END"), hs)
    assert s["live"] == [] and s["seen"] == ["c1"]
    assert ends_seen == ["c_ghost", "c1"]


def test_custom_registered_heuristic(spark, event_dir):
    """SURVEY §2.11: the register_heuristic extension surface — a custom
    process/onContainerCompleted/onAppCompleted trio runs alongside the
    built-ins and emits its own result rows."""

    class EventCount(sessions.SessionHeuristic):
        name = "EventCount"

        def new_state(self):
            return {"n": 0, "containers_done": 0}

        def process(self, s, row):
            s["n"] += 1

        def on_container_completed(self, s, container_id):
            s["containers_done"] += 1

        def on_app_completed(self, app_id, attempt_id, s):
            sev = 1 if s["n"] > 10 else 0
            return [
                {
                    "heuristic": "EventCount",
                    "severity": sev,
                    "score": sev,
                    "details_json": json.dumps(
                        {"events": str(s["n"]),
                         "ended": str(s["containers_done"])}
                    ),
                }
            ]

    jvm, fs, st, gc, fl = _stream_tables(spark, event_dir)
    union = sessions.prepare_session_input(jvm, fs, st, gc, fl)
    res = sessions.session_heuristics(
        union, max_created_files=100, heuristics=[EventCount()]
    )
    q = (
        res.writeStream.format("memory").queryName("sess_custom")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT * FROM sess_custom WHERE heuristic = 'EventCount'"
    ).collect()
    assert rows, "custom heuristic emitted no results"
    for r in rows:
        d = json.loads(r.details_json)
        assert int(d["events"]) > 0 and int(d["ended"]) > 0
    # built-ins still present alongside the custom one
    others = spark.sql(
        "SELECT DISTINCT heuristic FROM sess_custom"
    ).collect()
    assert {"FileHeuristic"} <= {r.heuristic for r in others}


def test_metrics_collector_captures_observed_counters(spark, tmp_path):
    """K6: the StreamingQueryListener + observe() channel — corrupt-frame
    counters and throughput metrics surface in the collector snapshot."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from garmadon_spark.sources.frames import decode_frames, encode_frame
    from garmadon_spark.streaming.metrics import MetricsCollector

    collector = MetricsCollector()
    spark.streams.addListener(collector)
    try:
        schema = StructType([StructField("value", BinaryType())])
        good = encode_frame(1, 42, {"a": "x"}, {"b": "y"})
        rows = [(bytearray(good),)] * 5 + [(bytearray(b"\x01garbage"),)] * 3
        src = str(tmp_path / "frames")
        spark.createDataFrame(rows, schema).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            decode_frames(stream)
            .writeStream.format("memory").queryName("metrics_probe")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        import time
        for _ in range(40):  # listener events are async
            snap = collector.snapshot().get("metrics_probe", {})
            if snap.get("observed.garmadon.frames.corrupt") is not None:
                break
            time.sleep(0.25)
        assert snap.get("observed.garmadon.frames.corrupt") == 3
        assert snap.get("observed.garmadon.frames.total") == 8
        assert snap.get("totalInputRows") == 8
        assert spark.sql("SELECT COUNT(*) c FROM metrics_probe").head().c == 5
    finally:
        spark.streams.removeListener(collector)


def test_ann_serve_stream_matches_batch_probe(spark, tmp_path):
    """Streaming ANN serving: a file-source stream of query vectors
    probed per micro-batch against the materialized IVF index produces
    exactly the batch ivf_topk_batch result, and a replayed batch id is
    skipped (marker idempotence)."""
    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import ann

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = str(tmp_path / "idx")
    similarity.write_ivf_index(embs, index, n_centroids=8, iterations=1)

    src = str(tmp_path / "queries")
    queries = embs.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    queries.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")
    q = ann.serve_ann_stream(
        stream, index, out, ckpt, k=5, nprobe=4, exclude_self=True
    ).trigger(availableNow=True).start()
    q.awaitTermination()

    got = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in spark.read.parquet(out).collect()
    }
    exp = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in similarity.ivf_topk_batch(
            spark, index, queries, k=5, nprobe=4
        ).collect()
    }
    assert got == exp and len({q for q, _ in got}) == 6

    # marker idempotence: re-running a batch whose marker exists is a
    # no-op (simulates foreachBatch replay after a crash-after-commit)
    n_before = spark.read.parquet(out).count()
    import glob as _glob
    import os as _os
    markers = _glob.glob(f"{out}/_ann_batches/*.done")
    assert markers
    batch_df = spark.read.parquet(src)
    ann.serve_ann_stream(
        spark.readStream.schema(batch_df.schema).parquet(src),
        index, out, str(tmp_path / "ckpt2"), k=5, nprobe=4,
    )  # writer construction alone must not write anything
    assert spark.read.parquet(out).count() == n_before

    # crash WINDOW replay: delete one marker (crash between the result
    # write and the marker commit), replay the whole stream from a
    # fresh checkpoint — the per-batch partition overwrite must leave
    # the result set byte-identical, never duplicated
    _os.remove(markers[0])
    q3 = ann.serve_ann_stream(
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        index, out, str(tmp_path / "ckpt3"), k=5, nprobe=4,
        exclude_self=True,
    ).start()
    q3.awaitTermination()
    replayed = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in spark.read.parquet(out).collect()
    }
    assert replayed == exp
    assert spark.read.parquet(out).count() == n_before


def test_gopher_rules_run_unchanged_on_stream(spark, tmp_path):
    """The scalar quality tiers are stateless Column expressions, so
    they run UNCHANGED on a stream — pin that for the r7 Gopher rules:
    per-doc verdicts from the streamed pass equal the batch pass."""
    from garmadon_spark.operators import text
    from garmadon_spark.session import load_table

    src = str(tmp_path / "docs")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    docs.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    q = (
        text.gopher_rules(stream)
        .select("doc_id", "accepted", "pass_stopwords", "n_words")
        .writeStream.format("memory").queryName("gopher_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        r.doc_id: (r.accepted, r.pass_stopwords, r.n_words)
        for r in spark.sql("SELECT * FROM gopher_stream").collect()
    }
    exp = {
        r.doc_id: (r.accepted, r.pass_stopwords, r.n_words)
        for r in text.gopher_rules(spark.read.parquet(src))
        .select("doc_id", "accepted", "pass_stopwords", "n_words")
        .collect()
    }
    assert got == exp and len(got) == docs.count()


def test_ann_index_maintain_stream_exactly_once(spark, tmp_path):
    """Streaming index maintenance: new-vector batches are absorbed
    into the materialized IVF index exactly once — replays with
    markers present are no-ops, and a replay of a batch whose marker
    was lost (crash between publish and marker) converges to the same
    file set via deterministic per-batch file names."""
    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import ann

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = str(tmp_path / "idx")
    base = embs.filter(F.col("vec_id") % 2 == 0)
    similarity.write_ivf_index(base, index, n_centroids=8, iterations=1)

    src = str(tmp_path / "new_vectors")
    new = embs.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", "embedding"
    )
    new.filter(F.col("vec_id") % 4 == 1).write.mode("append").parquet(src)
    new.filter(F.col("vec_id") % 4 == 3).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = ann.maintain_ann_index_stream(
        stream, index, str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination()

    vec = f"{index}/vectors"
    assert spark.read.parquet(vec).count() == embs.count()
    # appended rows landed in their nearest-centroid cells
    cents = [
        list(r.centroid) for r in
        spark.read.parquet(f"{index}/centroids").orderBy("ivf_cell")
        .collect()
    ]
    expect = {r.vec_id: r.ivf_cell
              for r in similarity.assign_cells(new, cents).collect()}
    got = {r.vec_id: r.ivf_cell
           for r in spark.read.parquet(vec)
           .filter(F.col("vec_id") % 2 == 1).collect()}
    assert got == expect

    import glob
    import os

    def uncommit(ckpt):
        """Simulate a crash after the batch ran but before the
        checkpoint committed: the SAME checkpoint then replays it."""
        last = sorted(f for f in os.listdir(f"{ckpt}/commits")
                      if f.isdigit())[-1]
        os.remove(f"{ckpt}/commits/{last}")
        try:
            os.remove(f"{ckpt}/commits/.{last}.crc")
        except FileNotFoundError:
            pass

    # crash-after-commit replay (same checkpoint): marker present →
    # no-op
    ckpt = str(tmp_path / "ckpt")
    uncommit(ckpt)
    q2 = ann.maintain_ann_index_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        index, ckpt,
    ).start()
    q2.awaitTermination()
    assert spark.read.parquet(vec).count() == embs.count()

    # crash-window replay: lose the replayed batch's marker too →
    # it re-publishes under the same deterministic names and converges
    markers = sorted(glob.glob(f"{index}/_append_batches/*.done"))
    assert len(markers) == 2
    uncommit(ckpt)
    os.remove(markers[-1])
    q3 = ann.maintain_ann_index_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        index, ckpt,
    ).start()
    q3.awaitTermination()
    after = spark.read.parquet(vec)
    assert after.count() == embs.count()
    assert after.select("vec_id").distinct().count() == embs.count()

    # a FRESH checkpoint over this index is refused: its re-numbered
    # batches neither line up with the published b{N}-* files nor
    # cover the old run's ids — the silent-corruption path the
    # run-scoped markers exist to block
    from pyspark.errors.exceptions.captured import StreamingQueryException
    import pytest as _pytest
    with _pytest.raises(StreamingQueryException,
                        match="different streaming incarnation"):
        q4 = ann.maintain_ann_index_stream(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1").parquet(src),
            index, str(tmp_path / "ckpt_fresh"),
        ).start()
        q4.awaitTermination()
    assert spark.read.parquet(vec).count() == embs.count()


def test_compact_skips_unmarked_append_then_replay_no_dupes(
        spark, tmp_path):
    """The r7-advisor duplicate window: a maintain batch crashes BETWEEN
    publish and marker, and compact_ivf_index runs before the replay.
    Compaction must skip cells holding the unmarked batch's files —
    otherwise they get folded into compacted part-files, the replay's
    stale-file delete finds nothing, and the re-publish duplicates every
    row of the batch."""
    import glob
    import os as _os

    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import ann

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = str(tmp_path / "idx")
    similarity.write_ivf_index(
        embs.filter(F.col("vec_id") % 2 == 0), index,
        n_centroids=4, iterations=1,
    )
    src = str(tmp_path / "new_vectors")
    new = embs.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", "embedding"
    )
    # batch 0 runs alone (the crash means batch 1 never happened yet)
    new.filter(F.col("vec_id") % 4 == 1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    q = ann.maintain_ann_index_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        index, ckpt,
    ).start()
    q.awaitTermination()
    vec = f"{index}/vectors"
    n_total = embs.count()

    # crash window: batch 0 published but its marker lost, and the
    # checkpoint never committed the batch (same-checkpoint replay)
    markers = sorted(glob.glob(f"{index}/_append_batches/*.done"))
    assert len(markers) == 1
    _os.remove(markers[0])
    for f in _os.listdir(f"{ckpt}/commits"):
        _os.remove(f"{ckpt}/commits/{f}")
    bid = _os.path.basename(markers[0])[: -len(".done")]
    dirty = {
        d for d in _os.listdir(vec)
        if glob.glob(_os.path.join(vec, d, f"b{bid}-*.parquet"))
    }
    assert dirty

    compacted = similarity.compact_ivf_index(spark, index)
    # unmarked-batch cells skipped; their b{N} files still in place
    assert all(f"ivf_cell={c}" not in dirty for c in compacted)
    for d in dirty:
        assert glob.glob(_os.path.join(vec, d, f"b{bid}-*.parquet"))

    # the resumed checkpoint replays batch 0 (re-publish converges)
    # and absorbs the new second file — zero duplicate vec_ids
    new.filter(F.col("vec_id") % 4 == 3).write.mode("append").parquet(src)
    q2 = ann.maintain_ann_index_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        index, ckpt,
    ).start()
    q2.awaitTermination()
    after = spark.read.parquet(vec)
    assert after.count() == n_total
    assert after.select("vec_id").distinct().count() == n_total
    # with every marker back, a second compaction folds the rest and
    # preserves the row set exactly
    similarity.compact_ivf_index(spark, index)
    again = spark.read.parquet(vec)
    assert again.count() == n_total
    assert again.select("vec_id").distinct().count() == n_total


def test_ann_serving_results_retention(spark, tmp_path):
    """A long-running server prunes old batch_id= partitions and their
    markers together: retain_batches=2 over 4 micro-batches leaves
    exactly the newest two, still readable, markers consistent."""
    import glob
    import os as _os

    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import ann

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = str(tmp_path / "idx")
    similarity.write_ivf_index(embs, index, n_centroids=8, iterations=1)
    src = str(tmp_path / "queries")
    for i in range(4):
        embs.filter(F.col("vec_id") == i).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ).write.mode("append").parquet(src)
    out = str(tmp_path / "results")
    q = ann.serve_ann_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        index, out, str(tmp_path / "ckpt"), k=5, nprobe=4,
        exclude_self=True, retain_batches=2,
    ).start()
    q.awaitTermination()

    parts = sorted(d for d in _os.listdir(out) if d.startswith("batch_id="))
    marks = sorted(_os.path.basename(m) for m in
                   glob.glob(f"{out}/_ann_batches/*.done"))
    assert len(parts) == 2
    assert marks == sorted(
        d.split("=")[1] + ".done" for d in parts
    )
    res = spark.read.parquet(out)
    assert res.count() == 2 * 5  # k rows per surviving batch
    assert res.select("query_id").distinct().count() == 2

    # standalone helper: pruning below the floor is rejected, at the
    # helper AND at writer construction
    with pytest.raises(ValueError):
        ann.apply_results_retention(out, 0)
    with pytest.raises(ValueError):
        ann.serve_ann_stream(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .parquet(src), index, out, str(tmp_path / "ckptX"),
            retain_batches=0,
        )
    # idempotent when nothing to prune
    assert ann.apply_results_retention(out, 2) == []

    # CHECKPOINT RESET: a fresh checkpoint over the same out_path
    # re-numbers batches from 0 — retention must treat the just-written
    # batch as newest (write time), not delete it for having a low id
    import time as _time
    _time.sleep(0.05)  # ensure mtime ordering across filesystems
    q2 = ann.serve_ann_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src),  # all 4 files in ONE batch this time
        index, out, str(tmp_path / "ckpt2"), k=5, nprobe=4,
        exclude_self=True, retain_batches=1,
    ).start()
    q2.awaitTermination()
    parts2 = sorted(d for d in _os.listdir(out)
                    if d.startswith("batch_id="))
    assert parts2 == ["batch_id=0"]       # the fresh batch survived
    assert spark.read.parquet(out).select("query_id") \
        .distinct().count() == 4
    marks2 = sorted(_os.path.basename(m) for m in
                    glob.glob(f"{out}/_ann_batches/*.done"))
    assert marks2 == ["0.done"]


def test_ann_serve_fresh_checkpoint_recomputes_colliding_batch(
        spark, tmp_path):
    """Run-scoped markers: after a checkpoint reset, the new run's
    batch 0 COLLIDES with the dead incarnation's 0.done marker — the
    marker must not swallow the batch; it is recomputed (idempotent
    partition overwrite) and the fresh queries' results land."""
    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import ann

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = str(tmp_path / "idx")
    similarity.write_ivf_index(embs, index, n_centroids=8, iterations=1)
    out = str(tmp_path / "results")

    src1 = str(tmp_path / "q1")
    embs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).write.parquet(src1)
    q = ann.serve_ann_stream(
        spark.readStream.schema(spark.read.parquet(src1).schema)
        .parquet(src1), index, out, str(tmp_path / "ck1"),
        k=5, nprobe=4, exclude_self=True,
    ).start()
    q.awaitTermination()
    assert {r.query_id for r in spark.read.parquet(out).collect()} \
        == {0, 1}

    # fresh checkpoint, DIFFERENT queries, colliding batch id 0
    src2 = str(tmp_path / "q2")
    embs.filter(F.col("vec_id").isin(7, 8)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).write.parquet(src2)
    q2 = ann.serve_ann_stream(
        spark.readStream.schema(spark.read.parquet(src2).schema)
        .parquet(src2), index, out, str(tmp_path / "ck2"),
        k=5, nprobe=4, exclude_self=True,
    ).start()
    q2.awaitTermination()
    got = {r.query_id for r in spark.read.parquet(out).collect()}
    assert got == {7, 8}          # recomputed, not skipped


def test_results_retention_drops_foreign_runs_first(tmp_path):
    """With run_id awareness, a dead incarnation's partitions are
    older-than-everything even when mtimes collide exactly — the
    just-written low-id batch of the current run survives."""
    import os as _os

    from garmadon_spark.streaming import ann

    out = str(tmp_path / "res")
    _os.makedirs(f"{out}/_ann_batches")
    # old run's batches 5,6 + current run's just-written batch 0
    for b, run in ((5, "dead"), (6, "dead"), (0, "live")):
        _os.makedirs(f"{out}/batch_id={b}")
        with open(f"{out}/_ann_batches/{b}.done", "w") as fh:
            fh.write(f"done:{run}")
    same = 1_700_000_000
    for b in (5, 6, 0):
        _os.utime(f"{out}/batch_id={b}", (same, same))
    dropped = ann.apply_results_retention(out, 1, run_id="live")
    assert dropped == [5, 6]
    assert _os.listdir(f"{out}/_ann_batches") == ["0.done"]
    # and a partition with NO marker is foreign-class too
    _os.makedirs(f"{out}/batch_id=9")
    _os.utime(f"{out}/batch_id=9", (same + 10, same + 10))
    assert ann.apply_results_retention(out, 1, run_id="live") == [9]


def test_ann_serve_stream_picks_up_retrain(spark, tmp_path):
    """The serving loop's quantizer cache is generation-checked: after
    a blue/green re-train (atomic root swap), the NEXT micro-batch of
    the same writer (same foreachBatch closure, same checkpoint) serves
    from the new quantizer — no restart of the process required.  An
    append, by contrast, must NOT reload (generation unchanged)."""
    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import ann

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = str(tmp_path / "idx")
    similarity.write_ivf_index(embs, index, n_centroids=8, iterations=1)
    g0 = ann._quantizer_generation(index)
    # appends leave the quantizer generation untouched
    similarity.append_to_ivf_index(
        embs.select((F.col("vec_id") + 10_000).alias("vec_id"),
                    "embedding", "label"),
        index,
    )
    assert ann._quantizer_generation(index) == g0

    src = str(tmp_path / "queries")
    q1 = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    q1.write.mode("append").parquet(src)
    out = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")
    writer = ann.serve_ann_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src),
        index, out, ckpt, k=5, nprobe=4, exclude_self=True,
    )
    h = writer.start()
    h.awaitTermination()           # batch 0 — cache primed on 8 cells

    similarity.retrain_ivf_index(spark, index, n_centroids=12)
    assert ann._quantizer_generation(index) != g0

    q2 = embs.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 6)) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    q2.write.mode("append").parquet(src)
    h2 = writer.start()            # SAME closure + checkpoint
    h2.awaitTermination()          # batch 1 — generation changed

    got = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in spark.read.parquet(out)
        .filter(F.col("query_id") >= 3).collect()
    }
    exp = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in similarity.ivf_topk_batch(
            spark, index, q2, k=5, nprobe=4).collect()
    }
    assert got == exp and len({q for q, _ in got}) == 3


def test_perplexity_model_scores_stream_equals_batch(spark, tmp_path):
    """The persisted bigram LM is a STATIC table, so scoring a document
    stream against it is a stream-static join — per-doc results must
    equal the batch pass (the ingest-time CCNet gate)."""
    from garmadon_spark.operators import text as text_ops
    from garmadon_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text", "lang")
    path = str(tmp_path / "lm")
    text_ops.train_bigram_lm(docs.filter(F.col("lang") == "en"), path)

    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    q = (
        text_ops.perplexity_from_model(stream, path)
        .writeStream.format("memory").queryName("ppl_stream")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r.doc_id: (r.n_bigrams, r.cross_entropy, r.ppl)
           for r in spark.sql("SELECT * FROM ppl_stream").collect()}
    exp = {r.doc_id: (r.n_bigrams, r.cross_entropy, r.ppl)
           for r in text_ops.perplexity_from_model(
               spark.read.parquet(src), path).collect()}
    assert got == exp and len(got) > 0


def test_serve_ann_stream_names_missing_index(spark, tmp_path):
    """A genuinely missing index must fail LOUD with the remediation in
    the message after the bounded mid-swap retry — not an opaque
    path-not-found from deep inside the centroid load (r8 advice)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from garmadon_spark.streaming import ann

    src = str(tmp_path / "queries")
    spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "query_id long, embedding array<float>"
    ).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
    )
    q = ann.serve_ann_stream(
        stream, str(tmp_path / "no_such_index"),
        str(tmp_path / "out"), str(tmp_path / "ckpt"), k=3, nprobe=2,
    ).start()
    with pytest.raises(StreamingQueryException,
                       match="index absent or mid-swap"):
        q.awaitTermination()


def test_ivfpq_serve_stream_matches_batch(spark, tmp_path):
    """Streaming ADC serving over the persisted IVF-PQ index
    (serve_ivfpq_stream — the billion-scale serving loop reading the
    M-byte codes tree, not the 4·D-byte vectors): per-micro-batch
    results equal the batch ivfpq_topk_batch at the same widths, and a
    fresh-checkpoint restart over the same out_path RECOMPUTES the
    colliding batch id (run-scoped markers), never skips it."""
    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import ann

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = str(tmp_path / "idx")
    similarity.write_ivfpq_index(
        embs, index, n_centroids=8, m=16, ksub=16, iterations=1,
        pq_iterations=3, opq=True,
    )
    src = str(tmp_path / "queries")
    queries = embs.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    queries.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "results")
    q = ann.serve_ivfpq_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        index, out, str(tmp_path / "ckpt"), k=5, nprobe=4,
        exclude_self=True,
    ).start()
    q.awaitTermination()
    got = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in spark.read.parquet(out).collect()
    }
    exp_df = similarity.ivfpq_topk_batch(
        spark, index, queries, k=5, nprobe=4, rerank=20,
        exclude_self=True,
    )  # rerank=20 == the serving default 4·k at k=5
    exp = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in exp_df.collect()
    }
    exp_df._gs_unpersist()
    assert got == exp and len({qq for qq, _ in got}) == 6

    # fresh checkpoint, DIFFERENT queries, colliding batch id 0: the
    # dead incarnation's 0.done marker must not swallow the new batch
    src2 = str(tmp_path / "q2")
    embs.filter(F.col("vec_id").isin(7, 8)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).write.parquet(src2)
    q2 = ann.serve_ivfpq_stream(
        spark.readStream.schema(spark.read.parquet(src2).schema)
        .parquet(src2), index, out, str(tmp_path / "ck2"),
        k=5, nprobe=4, exclude_self=True,
    ).start()
    q2.awaitTermination()
    assert {r.query_id for r in spark.read.parquet(out).collect()} \
        == {7, 8}          # recomputed, not skipped

    # pure-ADC opt-out: rerank=0 serves adc scores, no vectors read
    out3 = str(tmp_path / "res_adc")
    q3 = ann.serve_ivfpq_stream(
        spark.readStream.schema(spark.read.parquet(src2).schema)
        .parquet(src2), index, out3, str(tmp_path / "ck3"),
        k=5, nprobe=4, rerank=0, exclude_self=True,
    ).start()
    q3.awaitTermination()
    res3 = spark.read.parquet(out3)
    assert "adc" in res3.columns and res3.count() == 2 * 5


def test_ivfpq_serve_stream_picks_up_retrain(spark, tmp_path):
    """The IVF-PQ serving loop's quantizer cache is generation-checked
    over ALL FOUR side tables (_IVFPQ_GEN_SIDES): after a blue/green
    retrain_ivfpq_index (atomic root swap of centroids + coarse +
    codebooks + rotation together), the NEXT micro-batch of the same
    writer serves from the new stack — no restart.  An append leaves
    the generation untouched and must NOT reload."""
    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import ann

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = str(tmp_path / "idx")
    similarity.write_ivfpq_index(
        embs, index, n_centroids=8, m=16, ksub=16, iterations=1,
        pq_iterations=3, opq=True,
    )
    g0 = ann._quantizer_generation(index, ann._IVFPQ_GEN_SIDES)
    # flat OPQ index: centroids + codebooks + rotation present, no
    # coarse layer (8 cells sits under the hierarchical threshold) —
    # the absent side rides as a stable None in its slot
    assert g0[0] is not None and g0[1] is None
    assert g0[2] is not None and g0[3] is not None
    # appends touch only the vectors/codes trees — generation stable
    n = embs.count()
    similarity.append_to_ivfpq_index(
        embs.select((F.col("vec_id") + n).alias("vec_id"),
                    "embedding", "label").limit(20),
        index,
    )
    assert ann._quantizer_generation(index, ann._IVFPQ_GEN_SIDES) == g0

    src = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).write.mode("append").parquet(src)
    out = str(tmp_path / "results")
    writer = ann.serve_ivfpq_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src),
        index, out, str(tmp_path / "ckpt"), k=5, nprobe=4,
        exclude_self=True,
    )
    h = writer.start()
    h.awaitTermination()           # batch 0 — cache primed on 8 cells

    similarity.retrain_ivfpq_index(
        spark, index, n_centroids=12, iterations=1, pq_iterations=3,
    )
    assert ann._quantizer_generation(index, ann._IVFPQ_GEN_SIDES) != g0

    q2 = embs.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 6)) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    q2.write.mode("append").parquet(src)
    h2 = writer.start()            # SAME closure + checkpoint
    h2.awaitTermination()          # batch 1 — generation changed

    got = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in spark.read.parquet(out)
        .filter(F.col("query_id") >= 3).collect()
    }
    exp_df = similarity.ivfpq_topk_batch(
        spark, index, q2, k=5, nprobe=4, rerank=20, exclude_self=True,
    )
    exp = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in exp_df.collect()
    }
    exp_df._gs_unpersist()
    assert got == exp and len({qq for qq, _ in got}) == 3


# --- streaming near-dup admission gate -------------------------------------

def test_dedup_corpus_stream_admits_exactly_once(spark, tmp_path):
    """The streaming near-dup admission gate: (a) its per-batch
    decisions equal the shared batch unit (dedup.admit_increment)
    replayed over the same increments in order — the streaming shell
    (markers, partition overwrite, pruned history read) must not change
    a single keep/drop; (b) a crash-window replay (lost checkpoint
    commit AND lost marker) recomputes the same deterministic decisions
    and overwrites both partitions to the identical state; (c) a fresh
    checkpoint over another incarnation's admission chain is refused."""
    import glob
    import os

    from garmadon_spark.operators import dedup
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import corpus as scorpus

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    b1 = d.filter(F.col("doc_id") < 30)
    # batch 2: fresh docs + exact re-scrapes of batch 1 under new ids
    b2 = d.filter(
        (F.col("doc_id") >= 30) & (F.col("doc_id") < 45)
    ).unionByName(
        d.filter(F.col("doc_id") < 15)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)
    first = set(glob.glob(f"{src}/part-*.parquet"))
    b2.coalesce(1).write.mode("append").parquet(src)
    second = sorted(set(glob.glob(f"{src}/part-*.parquet")) - first)
    for i, f in enumerate(sorted(first) + second):
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
    index, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ck"))

    def gate(checkpoint):
        return scorpus.dedup_corpus_stream(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1").parquet(src),
            index, out, checkpoint,
        ).start()

    gate(ckpt).awaitTermination()

    def state():
        got = {
            (r.batch, r.doc_id)
            for r in spark.read.option("basePath", f"{out}/accepted")
            .parquet(f"{out}/accepted")
            .select("batch", "doc_id").collect()
        }
        rej = {
            (r.batch, r.doc, r.reason)
            for r in spark.read.option("basePath", f"{out}/rejected")
            .parquet(f"{out}/rejected")
            .select("batch", "doc", "reason").collect()
        }
        idx = {
            (r.batch, r.doc)
            for r in spark.read.option("basePath", f"{index}/sigs")
            .parquet(f"{index}/sigs").select("batch", "doc").collect()
        }
        return got, rej, idx

    got, rej, idx = state()
    # (a) stream == sequential batch replay of the shared unit
    hist0 = spark.createDataFrame([], "doc bigint, signature array<bigint>")
    a1, s1, r1 = dedup.admit_increment(b1, hist0)
    e1 = {r.doc_id for r in a1.select("doc_id").collect()}
    sd1 = {r.doc for r in s1.select("doc").collect()}
    rej1 = {(r.doc, r.reason) for r in r1.collect()}
    a2, s2, r2 = dedup.admit_increment(b2, s1)
    e2 = {r.doc_id for r in a2.select("doc_id").collect()}
    sd2 = {r.doc for r in s2.select("doc").collect()}
    rej2 = {(r.doc, r.reason) for r in r2.collect()}
    a2._gs_unpersist()
    a1._gs_unpersist()
    assert got == {(0, x) for x in e1} | {(1, x) for x in e2}
    assert idx == {(0, x) for x in sd1} | {(1, x) for x in sd2}
    # the reject log matches the unit (doc, reason)-exactly
    assert rej == ({(0, d, why) for d, why in rej1}
                   | {(1, d, why) for d, why in rej2})
    # every re-scrape of a batch-1 SURVIVOR was rejected as history
    surv_copies = {x + 1_000_000 for x in e1 if x < 15}
    assert surv_copies and all(
        (c, "history") in rej2 for c in surv_copies
    )
    assert surv_copies.isdisjoint(e2)

    # (b) crash window: lose the last commit AND the last marker →
    # replay recomputes and converges to the identical state
    last = sorted(f for f in os.listdir(f"{ckpt}/commits")
                  if f.isdigit())[-1]
    os.remove(f"{ckpt}/commits/{last}")
    try:
        os.remove(f"{ckpt}/commits/.{last}.crc")
    except FileNotFoundError:
        pass
    markers = sorted(glob.glob(f"{index}/_admit_batches/*.done"))
    assert len(markers) == 2
    os.remove(markers[-1])
    gate(ckpt).awaitTermination()
    assert state() == (got, rej, idx)

    # (c) a fresh checkpoint over this admission chain is refused
    from pyspark.errors.exceptions.captured import StreamingQueryException
    with pytest.raises(StreamingQueryException,
                       match="different streaming incarnation"):
        gate(str(tmp_path / "ck_fresh")).awaitTermination()
    assert state() == (got, rej, idx)


def test_compact_sig_index_preserves_gate_history(spark, tmp_path):
    """Folding committed signature partitions preserves every admission
    decision: the folded index holds the same (doc, signature) set
    under the min folded id; a post-compaction increment re-scraping a
    FOLDED doc is still rejected as history; and a crashed fold's
    leftover duplicate rows converge on the next fold
    (dropDuplicates heal)."""
    import glob
    import os
    import shutil

    from garmadon_spark.operators import dedup
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import corpus as scorpus

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    for lo in (0, 15, 30):
        d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 15)) \
            .coalesce(1).write.mode("append").parquet(src)
    for i, f in enumerate(sorted(glob.glob(f"{src}/part-*.parquet"))):
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
    index, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ck"))

    def gate():
        return scorpus.dedup_corpus_stream(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1").parquet(src),
            index, out, ckpt,
        ).start()

    gate().awaitTermination()

    def sig_set():
        return {
            (r.doc, tuple(r.signature))
            for r in spark.read.option("basePath", f"{index}/sigs")
            .parquet(f"{index}/sigs").select("doc", "signature")
            .collect()
        }

    def parts():
        return sorted(
            int(p.split("=")[1])
            for p in os.listdir(f"{index}/sigs")
            if p.startswith("batch=")
        )

    before = sig_set()
    assert parts() == [0, 1, 2]
    assert dedup.compact_sig_index(spark, index) == [0, 1]
    assert parts() == [0, 2]
    assert sig_set() == before

    # the gate keeps working against the folded history: batch 4 mixes
    # re-scrapes of FOLDED docs (new ids) with fresh docs
    copies = d.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    fresh = d.filter((F.col("doc_id") >= 45) & (F.col("doc_id") < 50))
    copies.unionByName(fresh).coalesce(1).write.mode("append") \
        .parquet(src)
    newest = max(glob.glob(f"{src}/part-*.parquet"), key=os.path.getmtime)
    os.utime(newest, (1_000_000_100, 1_000_000_100))
    gate().awaitTermination()
    rej = {
        (r.doc, r.reason)
        for r in spark.read.option("basePath", f"{out}/rejected")
        .parquet(f"{out}/rejected")
        .filter(F.col("batch") == 3).select("doc", "reason").collect()
    }
    assert rej == {(x + 1_000_000, "history") for x in range(5)}

    # crashed-fold leftovers (duplicate rows) converge on the next fold
    # — planted inside a dp subdir, where the r13 layout puts files
    tgt = f"{index}/sigs/batch=0"
    dpd = next(e for e in sorted(os.listdir(tgt)) if e.startswith("dp="))
    a_file = next(f for f in os.listdir(f"{tgt}/{dpd}")
                  if f.endswith(".parquet"))
    shutil.copy(f"{tgt}/{dpd}/{a_file}", f"{tgt}/{dpd}/fold-0-0-9.parquet")
    dup = spark.read.option("basePath", f"{index}/sigs") \
        .parquet(f"{index}/sigs")
    assert dup.count() > dup.select("doc").distinct().count()
    assert dedup.compact_sig_index(spark, index) == [0, 2]
    healed = spark.read.option("basePath", f"{index}/sigs") \
        .parquet(f"{index}/sigs")
    assert healed.count() == healed.select("doc").distinct().count()
    assert {r.doc for r in healed.select("doc").collect()} \
        == {doc for doc, _s in before} | {x + 45 for x in range(5)}


def test_banded_tree_self_heals_and_rebuilds_on_width_change(
        spark, tmp_path):
    """Upgrade + layout-identity safety for the materialized banded
    index: (1) an admission index from the PRE-banded layout (sigs
    tree only) gets its banded twins backfilled on the next trigger,
    and history re-scrapes are still rejected through the pruned read;
    (2) a ``_BP_CHARS`` stamp mismatch (bucket-prefix width changed
    between deployments) forces a FULL tree rebuild instead of
    silently pruning against directories the predicate no longer
    matches — which would be missed candidates, a gate hole."""
    import glob
    import os
    import shutil

    from garmadon_spark.operators import dedup
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import corpus as scorpus

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    index, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ck"))
    seen: set = set()

    def add_batch(df):
        df.coalesce(1).write.mode("append").parquet(src)
        new = sorted(set(glob.glob(f"{src}/part-*.parquet")) - seen)
        seen.update(new)
        for f in new:
            os.utime(f, (1_000_000_000 + len(seen), ) * 2)

    def gate():
        scorpus.dedup_corpus_stream(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1").parquet(src),
            index, out, ckpt,
        ).start().awaitTermination()

    def rekey(src_id, new_id):
        return d.filter(F.col("doc_id") == src_id).withColumn(
            "doc_id", F.lit(new_id).cast("long"))

    def rejected(batch):
        return {
            (r.doc, r.reason)
            for r in spark.read.option("basePath", f"{out}/rejected")
            .parquet(f"{out}/rejected")
            .filter(F.col("batch") == batch)
            .select("doc", "reason").collect()
        }

    add_batch(d.filter(F.col("doc_id") < 20))
    gate()
    # simulate an upgrade from the pre-banded layout
    shutil.rmtree(f"{index}/bands")
    add_batch(
        d.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 25))
        .unionByName(rekey(3, 1_000_003))
    )
    gate()
    assert rejected(1) == {(1_000_003, "history")}
    assert os.path.isdir(f"{index}/bands/batch=0")   # backfilled
    stamp = f"{index}/bands/_BP_CHARS"
    assert open(stamp).read() == str(dedup.SIG_BP_CHARS)

    # width change: stale stamp → the whole tree rebuilds, and a
    # re-scrape of a batch-1 doc is still caught afterwards
    with open(stamp, "w") as fh:
        fh.write("9")
    add_batch(
        d.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 35))
        .unionByName(rekey(21, 2_000_021))
    )
    gate()
    assert open(stamp).read() == str(dedup.SIG_BP_CHARS)
    assert rejected(2) == {(2_000_021, "history")}


def test_admit_increment_banded_parity(spark, tmp_path):
    """The materialized-banded candidate join (hist_banded=) and the
    on-the-fly re-banding path make IDENTICAL decisions — same
    accepted ids, same (doc, reason) rejections, same appended
    signatures — on an increment mixing fresh docs, history
    re-scrapes, and an intra-batch duplicate group."""
    from garmadon_spark.operators import dedup
    from garmadon_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    hist_docs = docs.filter(F.col("doc_id") < 40)
    hist = dedup.minhash_signatures(hist_docs)
    root = str(tmp_path / "idx")
    dedup.banded_signatures(hist).write.partitionBy("band", "bp") \
        .parquet(f"{root}/bands/batch=0")

    def rekey(src_id, new_id):
        return docs.filter(F.col("doc_id") == src_id).withColumn(
            "doc_id", F.lit(new_id).cast("long"))

    inc = (docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60))
           .unionByName(rekey(2, 1_000_002))     # history re-scrape
           .unionByName(rekey(40, 2_000_001))    # intra group with 40
           .unionByName(rekey(40, 2_000_002)))

    def decisions(hist_banded):
        acc, sigs, rej = dedup.admit_increment(
            inc, hist, hist_banded=hist_banded)
        got = (
            {r.doc_id for r in acc.collect()},
            {(r.doc, r.reason) for r in rej.collect()},
            {(r.doc, tuple(r.signature)) for r in sigs.collect()},
        )
        acc._gs_unpersist()
        return got

    base = decisions(None)
    banded = decisions(
        spark.read.option("basePath", f"{root}/bands")
        .parquet(f"{root}/bands")
        .select("doc", "band", "bucket", "bp")
    )
    assert banded == base
    assert (1_000_002, "history") in base[1]
    assert {(2_000_001, "intra_batch"), (2_000_002, "intra_batch")} \
        <= base[1]


def test_admit_increment_same_id_is_replace(spark):
    """Pin the documented same-id REPLACE semantics: a cross-batch
    re-submission under an already-admitted doc_id is never gated
    against its OWN prior signature (retry safety) — it is re-gated
    against everyone else, and its fresh signature is what the
    increment appends.  A near-dup of ANOTHER indexed doc still
    rejects, same id or not."""
    from garmadon_spark.operators import dedup

    hist_docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "entirely different content about databases and queries")],
        "doc_id long, text string",
    )
    hist = dedup.minhash_signatures(hist_docs)
    # doc 1 re-submitted under its own id with NEW content that
    # near-dups doc 2 → rejected as history (matches doc 2, not itself)
    resub_near_2 = spark.createDataFrame(
        [(1, "entirely different content about databases and query")],
        "doc_id long, text string",
    )
    acc, sigs, rej = dedup.admit_increment(resub_near_2, hist)
    assert {(r.doc, r.reason) for r in rej.collect()} == {(1, "history")}
    assert acc.count() == 0
    acc._gs_unpersist()
    # doc 1 re-submitted with fresh unrelated content → ADMITTED
    # (replace), and the appended signature is the NEW content's
    resub_fresh = spark.createDataFrame(
        [(1, "completely unrelated new prose about mountains and rivers")],
        "doc_id long, text string",
    )
    acc2, sigs2, rej2 = dedup.admit_increment(resub_fresh, hist)
    assert rej2.count() == 0
    assert [r.doc_id for r in acc2.collect()] == [1]
    new_sig = tuple(sigs2.first().signature)
    old_sig = tuple(hist.filter(F.col("doc") == 1).first().signature)
    assert new_sig != old_sig
    acc2._gs_unpersist()


def test_compact_sig_index_retry_leftovers_and_latest_wins(
        spark, tmp_path):
    """r11 advisor findings: (1) a crashed fold attempt that staged
    MORE part files than the retry leaves SAME-prefix higher-index
    leftovers which the old prefix-test delete kept forever,
    permanently duplicating rows — the exact-set delete removes them;
    (2) same-doc signature rows across folded batches (the same-id
    REPLACE window) fold to the LATEST batch's version
    deterministically, not an arbitrary survivor."""
    import os
    import shutil

    from garmadon_spark.operators import dedup

    index = str(tmp_path / "idx")

    def sigs_for(rows):
        return dedup.minhash_signatures(
            spark.createDataFrame(rows, "doc_id long, text string"))

    v2_text = "alpha beta gamma delta epsilon REPLACED"
    batches = [
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "one two three four five six seven")],
        [(2, "red green blue yellow purple orange"),
         (3, "north south east west up down")],
        [(0, v2_text)],                    # same-id REPLACE of doc 0
        [(9, "tail batch keeps last")],    # keep_last=1 survivor
    ]
    for b, rows in enumerate(batches):
        sigs_for(rows).coalesce(1).write.parquet(
            f"{index}/sigs/batch={b}")
    v2_sig = tuple(sigs_for([(0, v2_text)]).first().signature)

    # a crashed earlier attempt's same-prefix leftover at an index the
    # retry will not reach (its rows duplicate batch 0's originals)
    tgt = f"{index}/sigs/batch=0"
    a_file = next(f for f in os.listdir(tgt) if f.endswith(".parquet"))
    shutil.copy(f"{tgt}/{a_file}", f"{tgt}/fold-0-2-99.parquet")

    assert dedup.compact_sig_index(spark, index) == [0, 1, 2]
    assert not os.path.exists(f"{tgt}/fold-0-2-99.parquet")
    folded = spark.read.option("basePath", f"{index}/sigs") \
        .parquet(f"{index}/sigs")
    rows = {r.doc: tuple(r.signature)
            for r in folded.select("doc", "signature").collect()}
    assert folded.count() == len(rows) == 5      # 0,1,2,3,9 — no dups
    assert rows[0] == v2_sig                     # latest batch won


def test_serve_ann_stream_filtered(spark, tmp_path):
    """Filtered serving: a static allowed frame restricts every served
    micro-batch — results contain only permitted ids and equal the
    filtered batch probe at identical widths."""
    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import ann

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = str(tmp_path / "idx")
    similarity.write_ivf_index(embs, index, n_centroids=8, iterations=1)
    allowed = embs.filter(F.col("label") % 3 == 0).select("vec_id")
    ok = {r.vec_id for r in allowed.collect()}
    src = str(tmp_path / "q")
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    queries.write.parquet(src)
    out = str(tmp_path / "out")
    q = ann.serve_ann_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src),
        index, out, str(tmp_path / "ck"),
        k=5, nprobe=4, exclude_self=True, allowed=allowed,
    ).start()
    q.awaitTermination()
    served = {(r.query_id, r.rank): r.vec_id
              for r in spark.read.parquet(out).collect()}
    assert served and all(v in ok for v in served.values())
    exp_df = similarity.ivf_topk_batch(
        spark, index, queries, k=5, nprobe=4, exclude_self=True,
        allowed=allowed,
    )
    exp = {(r.query_id, r.rank): r.vec_id for r in exp_df.collect()}
    exp_df._gs_unpersist()
    assert served == exp


def test_serve_ann_stream_per_query_filtered(spark, tmp_path):
    """Per-query filtered serving: a TWO-column (query_id, vec_id)
    allowed frame restricts each served query to its OWN allowlist and
    equals the per-query filtered batch probe at identical widths."""
    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import ann

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    index = str(tmp_path / "idx")
    similarity.write_ivf_index(embs, index, n_centroids=8, iterations=1)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pairs = (
        embs.select("vec_id", (F.col("label") % 3).alias("_m"))
        .join(F.broadcast(
            queries.select("query_id",
                           (F.col("query_id") % 3).alias("_m"))), "_m")
        .select("query_id", "vec_id")
    )
    ok: dict = {}
    for r in pairs.collect():
        ok.setdefault(r.query_id, set()).add(r.vec_id)
    src = str(tmp_path / "q")
    queries.write.parquet(src)
    out = str(tmp_path / "out")
    q = ann.serve_ann_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src),
        index, out, str(tmp_path / "ck"),
        k=5, nprobe=4, exclude_self=True, allowed=pairs,
    ).start()
    q.awaitTermination()
    served = {(r.query_id, r.rank): r.vec_id
              for r in spark.read.parquet(out).collect()}
    assert served
    assert all(v in ok[qid] for (qid, _rk), v in served.items())
    exp_df = similarity.ivf_topk_batch(
        spark, index, queries, k=5, nprobe=4, exclude_self=True,
        allowed=pairs,
    )
    exp = {(r.query_id, r.rank): r.vec_id for r in exp_df.collect()}
    exp_df._gs_unpersist()
    assert served == exp


def test_admit_embeddings_stream_gate(spark, tmp_path):
    """The embedding-space admission gate: semantic re-scrapes of the
    SEED corpus are rejected against the live index, an intra-batch
    duplicate pair keeps its min id, batch-2 re-scrapes of batch-1
    SURVIVORS are rejected (absorb is visible to the next trigger),
    survivors land in the index exactly once, a crash-window replay
    converges, and a fresh checkpoint is refused."""
    import glob
    import os

    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import ann

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings") \
        .select("vec_id", "embedding")
    index = str(tmp_path / "idx")
    seed = embs.filter(F.col("vec_id") >= 100)
    similarity.write_ivf_index(seed, index, n_centroids=8, iterations=1)

    def rekey(src_id, new_id):
        return embs.filter(F.col("vec_id") == src_id).withColumn(
            "vec_id", F.lit(new_id).cast("long"))

    b1 = (embs.filter(F.col("vec_id") < 20)
          .unionByName(rekey(0, 1_000_000))     # intra dup of id 0
          .unionByName(rekey(101, 1_000_101)))  # semantic re-scrape
    b2 = (embs.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40))
          .unionByName(rekey(5, 2_000_005)))    # re-scrape of a survivor
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)
    first = set(glob.glob(f"{src}/part-*.parquet"))
    b2.coalesce(1).write.mode("append").parquet(src)
    second = sorted(set(glob.glob(f"{src}/part-*.parquet")) - first)
    for i, f in enumerate(sorted(first) + second):
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

    def gate(checkpoint):
        return ann.admit_embeddings_stream(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1").parquet(src),
            index, out, checkpoint, tau=0.9999, nprobe=8,
        ).start()

    gate(ckpt).awaitTermination()

    def state():
        acc = {
            (r.batch, r.vec_id)
            for r in spark.read.option("basePath", f"{out}/accepted")
            .parquet(f"{out}/accepted").select("batch", "vec_id")
            .collect()
        }
        rej = {
            (r.batch, r.doc, r.reason, r.match_id)
            for r in spark.read.option("basePath", f"{out}/rejected")
            .parquet(f"{out}/rejected")
            .select("batch", "doc", "reason", "match_id").collect()
        }
        vec = spark.read.parquet(f"{index}/vectors")
        return acc, rej, vec.count(), vec.select("vec_id") \
            .distinct().count()

    acc, rej, n, nd = state()
    assert (0, 1_000_101, "history", 101) in rej
    assert (0, 1_000_000, "intra_batch", 0) in rej
    assert (1, 2_000_005, "history", 5) in rej
    # accepted ⊎ rejected covers each batch's ids exactly
    b1_ids = {r.vec_id for r in b1.collect()}
    b2_ids = {r.vec_id for r in b2.collect()}
    assert ({v for b, v in acc if b == 0}
            | {d for b, d, *_ in rej if b == 0}) == b1_ids
    assert ({v for b, v in acc if b == 1}
            | {d for b, d, *_ in rej if b == 1}) == b2_ids
    # survivors (and only they) were absorbed, exactly once
    assert n == nd == seed.count() + len(acc)
    idx_ids = {r.vec_id for r in spark.read.parquet(f"{index}/vectors")
               .select("vec_id").collect()}
    assert {v for _b, v in acc} <= idx_ids
    assert not {d for _b, d, *_ in rej} & idx_ids

    # crash window: lose last commit AND marker → replay converges
    last = sorted(f for f in os.listdir(f"{ckpt}/commits")
                  if f.isdigit())[-1]
    os.remove(f"{ckpt}/commits/{last}")
    try:
        os.remove(f"{ckpt}/commits/.{last}.crc")
    except FileNotFoundError:
        pass
    markers = sorted(glob.glob(f"{index}/_append_batches/*.done"))
    assert len(markers) == 2
    os.remove(markers[-1])
    gate(ckpt).awaitTermination()
    assert state() == (acc, rej, n, nd)

    # fresh checkpoint over this append chain is refused
    from pyspark.errors.exceptions.captured import StreamingQueryException
    with pytest.raises(StreamingQueryException,
                       match="different streaming incarnation"):
        gate(str(tmp_path / "ck_fresh")).awaitTermination()
    assert state() == (acc, rej, n, nd)


def test_admit_embeddings_same_id_and_centroid_cache(
        spark, tmp_path, monkeypatch):
    """r11 advisor findings: (1) an increment that REUSES an
    already-indexed vec_id (re-crawl with stable document ids) must be
    rejected as ``history`` matching itself — never re-absorbed into a
    duplicate vec_id row; (2) the gate loads the centroid table ONCE
    per quantizer generation, not per trigger (this gate is the index's
    own appender, so the generation is append-stable)."""
    import glob
    import os

    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import ann

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings") \
        .select("vec_id", "embedding")
    index = str(tmp_path / "idx")
    seed = embs.filter(F.col("vec_id") >= 100)
    similarity.write_ivf_index(seed, index, n_centroids=8, iterations=1)

    calls = []
    real_load = similarity.load_ivf_centroids

    def counting_load(sess, path):
        calls.append(path)
        return real_load(sess, path)

    monkeypatch.setattr(similarity, "load_ivf_centroids", counting_load)

    batches = [
        embs.filter(F.col("vec_id") < 10),
        # batch 2: same-id re-arrival of indexed seed vec 105
        embs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
        .unionByName(embs.filter(F.col("vec_id") == 105)),
        embs.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 30)),
    ]
    src = str(tmp_path / "src")
    seen: set = set()
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(src)
        new = sorted(set(glob.glob(f"{src}/part-*.parquet")) - seen)
        seen.update(new)
        for f in new:
            os.utime(f, (1_000_000_000 + len(seen), ) * 2)
    out = str(tmp_path / "out")
    q = ann.admit_embeddings_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        index, out, str(tmp_path / "ck"), tau=0.9999, nprobe=8,
    ).start()
    q.awaitTermination()

    rej = {
        (r.batch, r.doc, r.reason, r.match_id)
        for r in spark.read.option("basePath", f"{out}/rejected")
        .parquet(f"{out}/rejected")
        .select("batch", "doc", "reason", "match_id").collect()
    }
    assert (1, 105, "history", 105) in rej
    vec = spark.read.parquet(f"{index}/vectors")
    assert vec.count() == vec.select("vec_id").distinct().count()
    # 105 stayed a single row under its original seed batch file
    assert vec.filter(F.col("vec_id") == 105).count() == 1
    # one centroid read across the 3-trigger run (generation-checked)
    assert calls == [index]


def test_exact_dedup_stream_exactly_once(spark, tmp_path):
    """The streaming EXACT-dedup admission gate (r14): (a) per-batch
    decisions equal the shared batch unit (incremental_exact_dedup)
    replayed sequentially — the streaming shell (markers, partition
    overwrite, pruned hp history read) must not change a single
    keep/drop, and the reject log carries (doc, reason)-exact
    attributions; (b) a crash-window replay (lost checkpoint commit AND
    lost marker) recomputes the same deterministic decisions and
    overwrites both partitions to the identical state; (c) a fresh
    checkpoint over another incarnation's chain is refused."""
    import glob
    import os

    from garmadon_spark.operators import dedup
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import corpus as scorpus

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    b1 = d.filter(F.col("doc_id") < 30)
    # batch 2: fresh docs + exact re-scrapes of batch 1 under new ids
    # + an intra-batch duplicate (one fresh doc arriving twice)
    b2 = (
        d.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 45))
        .unionByName(
            d.filter(F.col("doc_id") < 15)
            .withColumn("doc_id", F.col("doc_id") + 1_000_000))
        .unionByName(
            d.filter(F.col("doc_id") == 30)
            .withColumn("doc_id", F.col("doc_id") + 2_000_000))
    )
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)
    first = set(glob.glob(f"{src}/part-*.parquet"))
    b2.coalesce(1).write.mode("append").parquet(src)
    second = sorted(set(glob.glob(f"{src}/part-*.parquet")) - first)
    for i, f in enumerate(sorted(first) + second):
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
    index, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ck"))

    def gate(checkpoint):
        return scorpus.exact_dedup_stream(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1").parquet(src),
            index, out, checkpoint,
        ).start()

    gate(ckpt).awaitTermination()

    def state():
        got = {
            (r.batch, r.doc_id, r.content_hash)
            for r in spark.read.option("basePath", f"{out}/accepted")
            .parquet(f"{out}/accepted").collect()
        }
        rej = {
            (r.batch, r.doc, r.reason)
            for r in spark.read.option("basePath", f"{out}/rejected")
            .parquet(f"{out}/rejected").collect()
        }
        idx = {
            (r.batch, r.content_hash)
            for r in spark.read
            .schema("content_hash string, batch long, hp string")
            .option("basePath", f"{index}/hashes")
            .parquet(f"{index}/hashes")
            .select("batch", "content_hash").collect()
        }
        return got, rej, idx

    got, rej, idx = state()
    # (a) stream == sequential replay of the shared batch unit
    hist0 = spark.createDataFrame([], "content_hash string")
    a1 = dedup.incremental_exact_dedup(b1, hist0)
    e1 = {(r.doc_id, r.content_hash) for r in a1.collect()}
    a1._gs_unpersist()
    a2 = dedup.incremental_exact_dedup(
        b2, spark.createDataFrame(
            [(h,) for _d, h in sorted(e1)], "content_hash string"))
    e2 = {(r.doc_id, r.content_hash) for r in a2.collect()}
    a2._gs_unpersist()
    assert got == ({(0, i, h) for i, h in e1}
                   | {(1, i, h) for i, h in e2})
    assert idx == ({(0, h) for _i, h in e1} | {(1, h) for _i, h in e2})
    # reject reasons: every re-scrape of a batch-1 doc is 'history';
    # the intra-batch copy of doc 30 is 'intra_batch' (30 wins by min
    # id); everything in b2 is accounted accepted-or-rejected
    e1h = {h for _i, h in e1}
    exp_rej = set()
    for r in b2.select(
            "doc_id", dedup.content_hash("text").alias("h")).collect():
        if r.h in e1h:
            exp_rej.add((1, r.doc_id, "history"))
        elif (r.doc_id, r.h) not in e2:
            exp_rej.add((1, r.doc_id, "intra_batch"))
    exp_rej |= {
        (0, r.doc_id, "intra_batch")
        for r in b1.select(
            "doc_id", dedup.content_hash("text").alias("h")).collect()
        if (r.doc_id, r.h) not in e1
    }
    assert rej == exp_rej
    assert (1, 2_000_030, "intra_batch") in rej
    copies = {i + 1_000_000 for i in range(15)}
    assert all((1, c, "history") in rej for c in copies)

    # (b) crash window: lose the last commit AND the last marker →
    # replay recomputes and converges to the identical state
    last = sorted(f for f in os.listdir(f"{ckpt}/commits")
                  if f.isdigit())[-1]
    os.remove(f"{ckpt}/commits/{last}")
    try:
        os.remove(f"{ckpt}/commits/.{last}.crc")
    except FileNotFoundError:
        pass
    markers = sorted(glob.glob(f"{index}/_exact_batches/*.done"))
    assert len(markers) == 2
    os.remove(markers[-1])
    gate(ckpt).awaitTermination()
    assert state() == (got, rej, idx)

    # (c) a fresh checkpoint over this chain is refused
    from pyspark.errors.exceptions.captured import StreamingQueryException
    with pytest.raises(StreamingQueryException,
                       match="different streaming incarnation"):
        gate(str(tmp_path / "ck_fresh")).awaitTermination()
    assert state() == (got, rej, idx)


def test_exact_dedup_stream_prunes_history_read(spark, tmp_path):
    """The gate's history read carries hp PartitionFilters at planning
    time (the point-lookup contract) and a width-changed deployment is
    refused by the _LAYOUT stamp."""
    import glob
    import os

    from garmadon_spark.operators import dedup
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import corpus as scorpus

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text")
    b1 = d.filter(F.col("doc_id") < 30)
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)
    index, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ck"))
    scorpus.exact_dedup_stream(
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        index, out, ckpt,
    ).start().awaitTermination()
    assert open(f"{index}/hashes/_LAYOUT").read() \
        == dedup._hash_layout()
    # the maintained tree IS readable through the production pruned
    # path: batch column filtered out, hp rides for pruning
    hist = scorpus._history_hashes(spark, f"{index}/hashes", 999)
    inc = d.filter(F.col("doc_id") < 5)
    outp = dedup.incremental_exact_dedup(inc, hist)
    assert outp.count() == 0          # all seen
    plan = outp._jdf.queryExecution().executedPlan().toString()
    outp._gs_unpersist()
    assert "PartitionFilters" in plan
    # width change between deployments → the next trigger refuses
    with open(f"{index}/hashes/_LAYOUT", "w") as fh:
        fh.write("hp=4")
    b1.limit(5).coalesce(1).write.mode("append").parquet(src)
    from pyspark.errors.exceptions.captured import StreamingQueryException
    with pytest.raises(StreamingQueryException, match="layout"):
        scorpus.exact_dedup_stream(
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", "1").parquet(src),
            index, out, ckpt,
        ).start().awaitTermination()


def test_compact_exact_index_preserves_gate_history(spark, tmp_path):
    """Folding the exact gate's committed batch partitions must not
    change a single future decision: three drained batches fold (minus
    keep_last) into batch=<min>, membership is identical, duplicate
    rows heal, and the next incremental pass against the folded tree
    returns exactly what the unfolded tree returned.  A retried fold
    (crash simulated by re-running over leftovers) converges."""
    import glob
    import os

    from garmadon_spark.operators import dedup
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import corpus as scorpus

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text")
    batches = [
        d.filter(F.col("doc_id") < 20),
        d.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 35)),
        d.filter((F.col("doc_id") >= 35) & (F.col("doc_id") < 50)),
    ]
    src = str(tmp_path / "src")
    seen = set()
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(src)
    for i, f in enumerate(sorted(glob.glob(f"{src}/part-*.parquet"))):
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
    index, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ck"))
    scorpus.exact_dedup_stream(
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        index, out, ckpt,
    ).start().awaitTermination()

    def tree():
        return {
            (int(r.batch), r.content_hash)
            for r in spark.read
            .schema("content_hash string, batch long, hp string")
            .option("basePath", f"{index}/hashes")
            .parquet(f"{index}/hashes").collect()
        }

    before = tree()
    assert {b for b, _h in before} == {0, 1, 2}
    inc = d.filter(F.col("doc_id") < 60)
    pre = dedup.incremental_exact_dedup(
        inc, scorpus._history_hashes(spark, f"{index}/hashes", 999))
    pre_set = {(r.doc_id, r.content_hash) for r in pre.collect()}
    pre._gs_unpersist()
    folded = dedup.compact_exact_index(spark, index, keep_last=1)
    assert folded == [0, 1]
    after = tree()
    assert {b for b, _h in after} == {0, 2}
    assert {h for _b, h in after} == {h for _b, h in before}
    assert len(after) == len(before)          # no duplicate rows
    post = dedup.incremental_exact_dedup(
        inc, scorpus._history_hashes(spark, f"{index}/hashes", 999))
    post_set = {(r.doc_id, r.content_hash) for r in post.collect()}
    post._gs_unpersist()
    assert post_set == pre_set
    # idempotent retry: nothing left to fold at keep_last=1
    assert dedup.compact_exact_index(spark, index, keep_last=1) == []
    assert tree() == after
    # width-stamp gate
    with open(f"{index}/hashes/_LAYOUT", "w") as fh:
        fh.write("hp=9")
    with pytest.raises(ValueError, match="layout"):
        dedup.compact_exact_index(spark, index)
    with pytest.raises(ValueError, match="keep_last"):
        dedup.compact_exact_index(spark, index, keep_last=0)


def test_simhash_dedup_stream_admits_exactly_once(spark, tmp_path):
    """The streaming SimHash admission gate: (a) per-batch decisions
    equal the shared batch unit (admit_increment_simhash) replayed
    sequentially over the same increments — the streaming shell
    (markers, partition overwrite, pruned chunk-index read) must not
    change a single keep/drop, reject REASONS included; (b) a
    crash-window replay (lost checkpoint commit AND lost marker)
    converges to the identical state; (c) a fresh checkpoint over
    another incarnation's chain is refused."""
    import glob
    import os

    from garmadon_spark.operators import dedup
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming import corpus as scorpus

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text")
    b1 = d.filter(F.col("doc_id") < 30)
    b2 = (
        d.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 45))
        .unionByName(
            d.filter(F.col("doc_id") < 15)
            .withColumn("doc_id", F.col("doc_id") + 1_000_000))
        .unionByName(
            d.filter(F.col("doc_id") == 30)
            .withColumn("doc_id", F.col("doc_id") + 2_000_000))
    )
    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)
    first = set(glob.glob(f"{src}/part-*.parquet"))
    b2.coalesce(1).write.mode("append").parquet(src)
    second = sorted(set(glob.glob(f"{src}/part-*.parquet")) - first)
    for i, f in enumerate(sorted(first) + second):
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
    index, out, ckpt = (str(tmp_path / p) for p in ("idx", "out", "ck"))

    def gate(checkpoint):
        return scorpus.simhash_dedup_stream(
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1").parquet(src),
            index, out, checkpoint,
        ).start()

    gate(ckpt).awaitTermination()

    def state():
        got = {
            (r.batch, r.doc_id, r.simhash)
            for r in spark.read.option("basePath", f"{out}/accepted")
            .parquet(f"{out}/accepted").collect()
        }
        rej = {
            (r.batch, r.doc, r.reason)
            for r in spark.read.option("basePath", f"{out}/rejected")
            .parquet(f"{out}/rejected").collect()
        }
        idx = {
            (r.batch, r.doc, r.simhash, r.chunk, r.val)
            for r in spark.read
            .schema("doc bigint, simhash bigint, batch long,"
                    " chunk int, val bigint, cp string")
            .option("basePath", f"{index}/chunks")
            .parquet(f"{index}/chunks").collect()
        }
        return got, rej, idx

    got, rej, idx = state()
    # (a) stream == sequential replay of the shared batch unit
    empty = spark.createDataFrame(
        [], "doc bigint, simhash bigint, chunk int, val bigint,"
            " cp string")
    a1, f1, r1 = dedup.admit_increment_simhash(b1, empty)
    e1 = {(r.doc_id, r.simhash) for r in a1.collect()}
    fp1 = [(int(r.doc), int(r.simhash)) for r in f1.collect()]
    rej1 = {(r.doc, r.reason) for r in r1.collect()}
    a1._gs_unpersist()
    hist2 = dedup.chunked_fingerprints(
        spark.createDataFrame(fp1, "doc bigint, simhash bigint"))
    a2, f2, r2 = dedup.admit_increment_simhash(b2, hist2)
    e2 = {(r.doc_id, r.simhash) for r in a2.collect()}
    fp2 = [(int(r.doc), int(r.simhash)) for r in f2.collect()]
    rej2 = {(r.doc, r.reason) for r in r2.collect()}
    a2._gs_unpersist()
    assert got == ({(0, i, s) for i, s in e1}
                   | {(1, i, s) for i, s in e2})
    assert rej == ({(0, i, w) for i, w in rej1}
                   | {(1, i, w) for i, w in rej2})
    # the index holds exactly the accepted docs' chunk rows per batch
    exp_idx = set()
    for bno, fpl in ((0, fp1), (1, fp2)):
        for doc, s in fpl:
            for c in range(4):
                exp_idx.add((bno, doc, s, c, (s >> (c * 14)) & 0x3FFF))
    assert idx == exp_idx
    # recall floor: every re-scrape of a batch-1 SURVIVOR rejected
    surv_copies = {i + 1_000_000 for i, _s in e1 if i < 15}
    assert surv_copies and all(
        (1, c, "history") in rej for c in surv_copies)
    assert surv_copies.isdisjoint({i for _b, i, _s in got})

    # (b) crash window: lose the last commit AND marker → replay
    # converges to the identical state
    last = sorted(f for f in os.listdir(f"{ckpt}/commits")
                  if f.isdigit())[-1]
    os.remove(f"{ckpt}/commits/{last}")
    try:
        os.remove(f"{ckpt}/commits/.{last}.crc")
    except FileNotFoundError:
        pass
    markers = sorted(glob.glob(f"{index}/_simhash_batches/*.done"))
    assert len(markers) == 2
    os.remove(markers[-1])
    gate(ckpt).awaitTermination()
    assert state() == (got, rej, idx)

    # (c) fresh checkpoint over this chain is refused; a chunking
    # parameter change is refused by the layout stamp
    from pyspark.errors.exceptions.captured import StreamingQueryException
    with pytest.raises(StreamingQueryException,
                       match="different streaming incarnation"):
        gate(str(tmp_path / "ck_fresh")).awaitTermination()
    assert state() == (got, rej, idx)
    b1.limit(3).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(StreamingQueryException, match="layout"):
        scorpus.simhash_dedup_stream(
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", "1").parquet(src),
            index, out, ckpt, chunk_bits=8, n_chunks=8,
        ).start().awaitTermination()
