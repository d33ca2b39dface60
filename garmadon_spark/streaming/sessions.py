"""Streaming session heuristics — explicit-END sessions with custom state
(SURVEY §2.6/W3, the reference's hardest-to-map behavior).

The reference keys state by (application_id, attempt_id), registers every
container it sees, and finalizes the app when a STATE_EVENT(state=END)
arrives for the LAST live container (Heuristics.java:129-158).  Spark's
``session_window`` is gap-based, so we keep an explicit container set in
``applyInPandasWithState`` — one state entry per app attempt, timeout-free
(the END marker is the close signal, as in the reference).

In-state heuristics implemented here (same math as heuristics.batch —
parity pinned per heuristic in tests/test_streaming.py): HeapUsage,
Safepoints, Locks, Threads, CodeCacheUsage, GCCause, G1GC,
FileHeuristic, FlinkCheckpointDuration — the full A1-A9 set the
reference runs under one streaming loop (Heuristics.java:29-158).  The
extension protocol mirrors the reference's ``Heuristic`` interface:
``process`` (per event) / ``onContainerCompleted`` (on that container's
END) / ``onAppCompleted`` (on last END) — see Heuristic.java.

Scale: state per key is O(live containers per app) counters — bounded
(~10²), independent of event volume.  The input union projects ONLY the
columns each heuristic needs before hitting Python, and Arrow moves
batches; the groupBy(app, attempt) shuffle is the same one the batch
engine pays.

Details are emitted as a JSON string (map<string,string> serialized) —
the streaming sink contract; heuristics.batch emits a native map column.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from garmadon_spark.heuristics.base import MAX_CONTAINERS_PER_HEURISTIC, Severity
from garmadon_spark.operators.jvmstats import _sections_map, section_prop

RESULT_SCHEMA = StructType(
    [
        StructField("application_id", StringType()),
        StructField("attempt_id", StringType()),
        StructField("heuristic", StringType()),
        StructField("severity", IntegerType()),
        StructField("score", IntegerType()),
        StructField("details_json", StringType()),
    ]
)

STATE_SCHEMA = StructType([StructField("state_json", StringType())])

_LONG_COLS = (
    "heap_used", "heap_max", "major_gc", "sp_count", "lock_count",
    "t_count", "t_total", "c_used", "c_max", "pause_time",
    "checkpoint_duration",
)
_STR_COLS = ("action", "state", "cause", "collector_name", "job_name")

_UNION_COLS = [
    "application_id", "attempt_id", "container_id", "timestamp",
    "kafka_offset", "kind", *_LONG_COLS, *_STR_COLS,
]

_KEY_COLS = ["application_id", "attempt_id", "container_id", "timestamp",
             "kafka_offset"]


def _pad(cols: dict) -> list:
    """Fill the union schema: given {name: Column}, null-pad the rest."""
    out = []
    for c in _LONG_COLS:
        out.append(cols.get(c, F.lit(None).cast("long")).alias(c))
    for c in _STR_COLS:
        out.append(cols.get(c, F.lit(None).cast("string")).alias(c))
    return out


def prepare_session_input(
    jvmstats: DataFrame | None = None,
    fs_events: DataFrame | None = None,
    state_events: DataFrame | None = None,
    gc_events: DataFrame | None = None,
    flink_job_events: DataFrame | None = None,
) -> DataFrame:
    """Project each event family down to the session engine's narrow
    union schema (JVM-side; Python sees only these columns)."""
    parts = []
    if jvmstats is not None:
        smap = _sections_map("section")
        majors = [
            section_prop(smap, f"gc({n})", "count", "long")
            for n in ("MarkSweepCompact", "PS MarkSweep",
                      "ConcurrentMarkSweep", "G1 Old Generation")
        ]
        parts.append(
            jvmstats.select(
                *_KEY_COLS,
                F.lit("jvm").alias("kind"),
                *_pad({
                    "heap_used": section_prop(smap, "heap", "used", "long"),
                    "heap_max": section_prop(smap, "heap", "max", "long"),
                    "major_gc": F.greatest(*majors, F.lit(0)),
                    "sp_count":
                        section_prop(smap, "safepoints", "count", "long"),
                    "lock_count": section_prop(
                        smap, "synclocks", "contendedlockattempts", "long"
                    ),
                    "t_count": section_prop(smap, "threads", "count", "long"),
                    "t_total": section_prop(smap, "threads", "total", "long"),
                    "c_used": section_prop(smap, "code", "used", "long"),
                    "c_max": section_prop(smap, "code", "max", "long"),
                }),
            )
        )
    if fs_events is not None:
        parts.append(
            fs_events.select(
                *_KEY_COLS, F.lit("fs").alias("kind"),
                *_pad({"action": F.col("action")}),
            )
        )
    if state_events is not None:
        parts.append(
            state_events.select(
                *_KEY_COLS, F.lit("state").alias("kind"),
                *_pad({"state": F.col("state")}),
            )
        )
    if gc_events is not None:
        parts.append(
            gc_events.select(
                *_KEY_COLS, F.lit("gc").alias("kind"),
                *_pad({
                    "cause": F.col("cause"),
                    "collector_name": F.col("collector_name"),
                    "pause_time": F.col("pause_time"),
                }),
            )
        )
    if flink_job_events is not None:
        parts.append(
            flink_job_events.select(
                *_KEY_COLS, F.lit("flink").alias("kind"),
                *_pad({
                    "job_name": F.col("job_name"),
                    "checkpoint_duration": F.col("last_checkpoint_duration"),
                }),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


class SessionHeuristic:
    """Extension protocol — the PySpark form of the reference's
    ``Heuristic`` interface trio ``process`` / ``onContainerCompleted``
    / ``onAppCompleted`` (readers/heuristics/.../Heuristic.java;
    registration at Heuristics.java:57-77).

    Subclass, then pass instances via ``session_heuristics(...,
    heuristics=[...])`` or register globally with
    ``register_heuristic``.  Each instance owns a private state dict
    (JSON-serialized between micro-batches — keep it JSON-safe and
    O(containers), not O(events))."""

    name = "Custom"

    def new_state(self) -> dict:
        return {}

    def process(self, s: dict, row) -> None:
        """Per event, any kind — `row` carries the narrow union schema
        (_UNION_COLS)."""

    def on_container_completed(self, s: dict, container_id: str) -> None:
        """Called when STATE_EVENT(END) arrives for a container."""

    def on_app_completed(
        self, application_id: str, attempt_id: str, s: dict
    ) -> list[dict]:
        """Called once when the last live container ends; return result
        rows: dicts with heuristic/severity/score/details_json."""
        return []


_REGISTERED: list[SessionHeuristic] = []


def register_heuristic(h: SessionHeuristic) -> SessionHeuristic:
    """Globally register a custom heuristic (GarmadonSerialization
    .register analogue for the heuristics surface).  Registered
    instances run in every subsequent ``session_heuristics`` call that
    doesn't pass an explicit list."""
    _REGISTERED.append(h)
    return h


def _new_state() -> dict:
    return {"live": [], "seen": [], "heap": {}, "sp": {}, "locks": {},
            "threads": {}, "code": {}, "gccause": {}, "g1": {}, "fs": {},
            "flink": {}, "ext": {}}


def _tiered(rate: int, tiers: tuple[int, int, int, int]) -> int:
    t1, t2, t3, t4 = tiers
    if rate > t4:
        return Severity.CRITICAL
    if rate > t3:
        return Severity.SEVERE
    if rate > t2:
        return Severity.MODERATE
    if rate > t1:
        return Severity.LOW
    return Severity.NONE


def _rate_update(slot: dict, cur: int, ts: int,
                 tiers: tuple[int, int, int, int],
                 skip_zero_last: bool) -> None:
    """Consecutive-sample rate update — the in-state form of
    batch._rate_heuristic's lag window (Safepoints.java:17-62,
    Locks.java:17-61)."""
    last, last_ts, has = slot["last"], slot["last_ts"], slot["has"]
    slot["last"], slot["last_ts"], slot["has"] = cur, ts, True
    if not has or ts == last_ts or (skip_zero_last and last == 0):
        return
    rate = (cur - last) * 1000 // (ts - last_ts)
    slot["ratio"] = max(slot["ratio"], rate)
    slot["sev"] = max(slot["sev"], _tiered(rate, tiers))


def _num(v):
    return None if v is None or pd.isna(v) else int(v)


def _process_row(s: dict, r, heuristics: list[SessionHeuristic] = ()) -> None:
    is_end = r.kind == "state" and r.state == "END"
    for h in heuristics:
        ext = s["ext"].setdefault(h.name, h.new_state())
        h.process(ext, r)
        if is_end:
            # the reference fires onContainerCompleted on EVERY END,
            # registered or not (Heuristics.java:146-148)
            h.on_container_completed(ext, r.container_id)
    cid = r.container_id
    # registerAppContainer excludes STATE_EVENT (Heuristics.java:131-140):
    # a state-only container must not enter the live set, else a lost END
    # leaks the app forever / an END-only container could finalize an app
    # the reference never would.
    if cid and r.kind != "state" and cid not in s["seen"]:
        s["seen"].append(cid)
        s["live"].append(cid)
    ts = int(r.timestamp)
    if r.kind == "jvm":
        h = s["heap"].setdefault(
            cid, {"max": 0, "max_ts": -1, "peak": 0, "major": 0})
        if _num(r.heap_max) is not None and ts >= h["max_ts"]:
            h["max"], h["max_ts"] = _num(r.heap_max), ts
        if _num(r.heap_used) is not None:
            h["peak"] = max(h["peak"], _num(r.heap_used))
        if _num(r.major_gc) is not None:
            h["major"] = max(h["major"], _num(r.major_gc))
        if _num(r.sp_count) is not None:
            sp = s["sp"].setdefault(
                cid, {"last": 0, "last_ts": 0, "has": False,
                      "ratio": 0, "sev": 0})
            _rate_update(sp, _num(r.sp_count), ts, (3, 5, 7, 10),
                         skip_zero_last=True)
        if _num(r.lock_count) is not None:
            lk = s["locks"].setdefault(
                cid, {"last": 0, "last_ts": 0, "has": False,
                      "ratio": 0, "sev": 0})
            _rate_update(lk, _num(r.lock_count), ts, (10, 50, 100, 500),
                         skip_zero_last=False)
        if _num(r.t_count) is not None:
            t = s["threads"].setdefault(
                cid, {"max_count": 0, "total": 0, "total_ts": -1})
            t["max_count"] = max(t["max_count"], _num(r.t_count))
            if _num(r.t_total) is not None and ts >= t["total_ts"]:
                t["total"], t["total_ts"] = _num(r.t_total), ts
        if _num(r.c_used) is not None:
            c = s["code"].setdefault(
                cid, {"peak": 0, "max": 0, "max_ts": -1})
            c["peak"] = max(c["peak"], _num(r.c_used))
            if _num(r.c_max) is not None and ts >= c["max_ts"]:
                c["max"], c["max_ts"] = _num(r.c_max), ts
    elif r.kind == "gc":
        if isinstance(r.cause, str) and r.cause in (
                "Metadata GC Threshold", "Ergonomics"):
            g = s["gccause"].setdefault(cid, {"mt": 0, "erg": 0})
            g["mt" if r.cause == "Metadata GC Threshold" else "erg"] += 1
        if r.collector_name == "G1 Old Generation":
            g1 = s["g1"].setdefault(
                cid, {"cnt": 0, "pause": 0, "first_ts": ts})
            g1["cnt"] += 1
            g1["pause"] += _num(r.pause_time) or 0
            g1["first_ts"] = min(g1["first_ts"], ts)
    elif r.kind == "fs" and isinstance(r.action, str):
        s["fs"][r.action] = s["fs"].get(r.action, 0) + 1
    elif r.kind == "flink" and isinstance(r.job_name, str):
        dur = _num(r.checkpoint_duration) or 0
        s["flink"][r.job_name] = max(s["flink"].get(r.job_name, 0), dur)
    elif is_end and cid in s["live"]:
        s["live"].remove(cid)
        # bound per-container state: drop NONE rate slots at END
        for fam in ("sp", "locks"):
            slot = s[fam].get(cid)
            if slot is not None and slot["sev"] == Severity.NONE:
                del s[fam][cid]


def _details(per_container: dict[str, str]) -> str:
    if len(per_container) > MAX_CONTAINERS_PER_HEURISTIC:
        return json.dumps({"Containers": str(len(per_container))},
                          sort_keys=True)
    return json.dumps(per_container, sort_keys=True)


def _fmt_ts_ms(ms: int) -> str:
    """Epoch-ms → Spark's UTC timestamp-cast-to-string format (trailing
    fraction zeros trimmed, fraction omitted when zero) — G1GC detail
    parity with the batch form's timestamp_millis().cast('string')."""
    import datetime

    dt = datetime.datetime.fromtimestamp(ms // 1000, datetime.timezone.utc)
    base = dt.strftime("%Y-%m-%d %H:%M:%S")
    frac = ms % 1000
    if frac == 0:
        return base
    return base + "." + f"{frac:03d}".rstrip("0")


def _finalize(app_id: str, attempt_id: str, s: dict,
              max_created_files: int,
              heuristics: list[SessionHeuristic] = ()) -> list[dict]:
    out = []
    for h in heuristics:
        ext = s["ext"].setdefault(h.name, h.new_state())
        for row in h.on_app_completed(app_id, attempt_id, ext):
            out.append(dict(application_id=app_id, attempt_id=attempt_id,
                            heuristic=row.get("heuristic", h.name),
                            severity=int(row.get("severity", 0)),
                            score=int(row.get("score", row.get("severity", 0))),
                            details_json=row.get("details_json", "{}")))
    # HeapUsage (HeapUsage.java:76-95)
    heap_details, heap_sev = {}, Severity.NONE
    for cid, h in s["heap"].items():
        if h["major"] > 0 or h["max"] <= h["peak"]:
            continue
        ratio = (h["max"] - h["peak"]) * 100 // h["max"]
        sev = Severity.NONE
        if ratio > 30:
            sev = Severity.LOW
        if ratio > 50:
            sev = Severity.MODERATE
        if ratio > 70:
            sev = Severity.SEVERE
        heap_sev = max(heap_sev, sev)
        heap_details[cid] = f"unused memory %: {ratio}"
    if heap_details:
        out.append(dict(application_id=app_id, attempt_id=attempt_id,
                        heuristic="HeapUsage", severity=heap_sev,
                        score=heap_sev, details_json=_details(heap_details)))
    # Safepoints / Locks (Safepoints.java, Locks.java)
    for fam, heuristic, prefix in (
        ("sp", "Safepoints", "Max safepoint/s: "),
        ("locks", "Locks", "Max contention/s: "),
    ):
        details, sev = {}, Severity.NONE
        for cid, slot in s[fam].items():
            if slot["sev"] == Severity.NONE:
                continue
            sev = max(sev, slot["sev"])
            details[cid] = f"{prefix}{slot['ratio']}"
        if details:
            out.append(dict(application_id=app_id, attempt_id=attempt_id,
                            heuristic=heuristic, severity=sev,
                            score=sev, details_json=_details(details)))
    # Threads (Threads.java:17-56)
    t_details, t_sev = {}, Severity.NONE
    for cid, t in s["threads"].items():
        if t["total"] <= 0:
            continue
        ratio = t["max_count"] * 100 // t["total"]
        if ratio > 10:
            continue  # NONE dropped
        sev = Severity.MODERATE if ratio <= 0 else Severity.LOW
        t_sev = max(t_sev, sev)
        t_details[cid] = (f"Max count threads: {t['max_count']}, "
                          f"Total threads: {t['total']}")
    if t_details:
        out.append(dict(application_id=app_id, attempt_id=attempt_id,
                        heuristic="Threads", severity=t_sev, score=t_sev,
                        details_json=_details(t_details)))
    # CodeCacheUsage (CodeCacheUsage.java: kept iff unused < 5 %)
    c_details = {}
    for cid, c in s["code"].items():
        if c["max"] > c["peak"] and (c["max"] - c["peak"]) * 100 // c["max"] >= 5:
            continue
        c_details[cid] = f"max: {c['max']}kB, peak: {c['peak']}kB"
    if c_details:
        out.append(dict(application_id=app_id, attempt_id=attempt_id,
                        heuristic="CodeCacheUsage",
                        severity=Severity.MODERATE,
                        score=Severity.MODERATE,
                        details_json=_details(c_details)))
    # GCCause (GCCause.java:44-52 — summed counts past 10 containers)
    if s["gccause"]:
        if len(s["gccause"]) > MAX_CONTAINERS_PER_HEURISTIC:
            mt = sum(g["mt"] for g in s["gccause"].values())
            erg = sum(g["erg"] for g in s["gccause"].values())
            gd = json.dumps({"Metadata GC Threshold": str(mt),
                             "Ergonomics": str(erg)}, sort_keys=True)
        else:
            gd = json.dumps({
                cid: (f"Metadata GC Threshold: {g['mt']}, "
                      f"Ergonomics: {g['erg']}")
                for cid, g in s["gccause"].items()
            }, sort_keys=True)
        out.append(dict(application_id=app_id, attempt_id=attempt_id,
                        heuristic="GCCause", severity=Severity.MODERATE,
                        score=Severity.MODERATE, details_json=gd))
    # G1GC (G1GC.java:40-48 — single occurrence formats differently)
    if s["g1"]:
        g_details = {}
        for cid, g in s["g1"].items():
            if g["cnt"] == 1:
                g_details[cid] = (f"Timestamp: {_fmt_ts_ms(g['first_ts'])}"
                                  f", pauseTime: {g['pause']}ms")
            else:
                g_details[cid] = (f"Count: {g['cnt']}, Cumulative "
                                  f"PauseTime: {g['pause']}ms")
        out.append(dict(application_id=app_id, attempt_id=attempt_id,
                        heuristic="G1GC", severity=Severity.SEVERE,
                        score=Severity.SEVERE,
                        details_json=_details(g_details)))
    # FlinkCheckpointDuration (FlinkCheckpointDuration.java — job name
    # rides in the attempt_id slot, NONE rows emitted like the batch form)
    for job_name, dur in s["flink"].items():
        sev = (Severity.SEVERE if dur > 15 * 60 * 1000 else Severity.NONE)
        out.append(dict(
            application_id=app_id, attempt_id=job_name,
            heuristic="FlinkCheckpointDuration", severity=sev, score=sev,
            details_json=json.dumps(
                {"last_checkpoint_duration": str(dur)}, sort_keys=True),
        ))
    # FileHeuristic (FileHeuristic.java:76-97) — emitted for EVERY
    # completed app, zero counters and NONE severity included, exactly
    # like the reference's onAppCompleted
    labels = {
        "DELETE": "Files deleted", "READ": "Files read",
        "WRITE": "Files written", "RENAME": "Files renamed",
        "APPEND": "Files appended", "LIST_STATUS": "List status performed",
        "ADD_BLOCK": "Blocks added",
        "GET_CONTENT_SUMMARY": "Content summary retrieved",
    }
    written = s["fs"].get("WRITE", 0)
    sev = Severity.NONE
    if written > max_created_files // 10:
        sev = Severity.LOW
    if written > max_created_files // 2:
        sev = Severity.MODERATE
    if written > max_created_files:
        sev = Severity.SEVERE
    details = {lab: str(s["fs"].get(a, 0)) for a, lab in labels.items()}
    out.append(dict(application_id=app_id, attempt_id=attempt_id,
                    heuristic="FileHeuristic", severity=sev, score=sev,
                    details_json=json.dumps(details, sort_keys=True)))
    return out


def make_session_fn(max_created_files: int = 100_000,
                    heuristics: list[SessionHeuristic] | None = None):
    hs = list(_REGISTERED) if heuristics is None else list(heuristics)

    def session_fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        app_id, attempt_id = key
        s = json.loads(state.get[0]) if state.exists else _new_state()
        s.setdefault("ext", {})
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["timestamp", "kafka_offset"])
        for r in rows.itertuples():
            _process_row(s, r, hs)
        if s["seen"] and not s["live"]:
            results = _finalize(app_id, attempt_id, s, max_created_files, hs)
            state.remove()
            yield pd.DataFrame(results, columns=[f.name for f in RESULT_SCHEMA])
        else:
            state.update((json.dumps(s),))
            yield pd.DataFrame([], columns=[f.name for f in RESULT_SCHEMA])

    return session_fn


def session_heuristics(
    events: DataFrame, max_created_files: int = 100_000,
    heuristics: list[SessionHeuristic] | None = None,
) -> DataFrame:
    """Run the explicit-END session engine over a (streaming or batch-
    prepared) union from ``prepare_session_input``.  On a stream this
    emits one result batch per completed app; state lives until the END
    marker, exactly like the reference's registry."""
    return (
        events.groupBy("application_id", "attempt_id")
        .applyInPandasWithState(
            make_session_fn(max_created_files, heuristics),
            outputStructType=RESULT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
