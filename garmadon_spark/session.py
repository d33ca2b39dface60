"""SparkSession factory tuned for the engine.

Defaults target the test harness (local[N], 128 GiB single JVM) but every
knob is chosen to also be the right default on a 1000-executor cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion are exactly what a 100 TB run needs.
- ``spark.sql.shuffle.partitions`` stays modest locally (32) but is only a
  pre-AQE hint; at cluster scale AQE re-coalesces from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
- Arrow enabled: every pandas UDF in this engine moves batches, not rows.
- Session timezone pinned to UTC: the reference buckets days/hours in UTC
  (PartitionedWriter.java:103); correctness against the DuckDB oracle
  (naive timestamps) also requires it.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import stat
import tempfile

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """A third of the host's RAM, floored at 1g and capped at 16g: a
    fixed 16g heap on a 15 GiB host let one test JVM plus one oracle
    JVM exhaust the machine."""
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return f"{min(16, max(1, ram_gib // 3))}g"


_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # runtime bloom-filter pushed to the probe side of shuffle joins —
    # at 100 TB this prunes fact-table rows before the exchange
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # local-mode JVM heap defaults to 1g — wide aggs (64-column
    # minhash) GC-thrash there.  Only applies at JVM launch
    # (getOrCreate of the first session).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                          _default_driver_memory()),
    "spark.sql.shuffle.partitions": "32",
    # Structured Streaming: bounded state cleanup by default.
    "spark.sql.streaming.stateStore.compression.codec": "lz4",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "garmadon-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` sets local parallelism (driver contract);
    ``master`` overrides entirely (e.g. yarn / k8s in production).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    # Partition discovery over the engine's prefix-partitioned index
    # trees (bands: 32x256 leaf dirs, simhash chunks: 16x256): Spark's
    # default kicks off a distributed listing JOB above 32 paths with
    # one task per directory — ~8,200 tiny tasks of pure scheduling
    # overhead (measured 26 s to merely CONSTRUCT the bands scan
    # locally).  On a local master the filesystem is local and
    # driver-side listing is ~20x faster (1.1 s), so force it there;
    # on a cluster master remote listStatus round trips dominate and
    # the distributed listing is kept, just with sane task sizing
    # (64 tasks listing ~hundreds of dirs each beats 10,000
    # single-dir tasks there too).  ``extra_conf`` overrides both.
    if master.startswith("local"):
        conf["spark.sql.sources.parallelPartitionDiscovery.threshold"] = \
            "100000"
    conf["spark.sql.sources.parallelPartitionDiscovery.parallelism"] = "64"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# ---------------------------------------------------------------------------
# One stat probe and one memo registry for the whole engine.

_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def probe(path: str):
    """``(token, nbytes, is_remote)`` for one file or directory tree.

    A path with a URI scheme (``hdfs://``, ``s3a://``) is remote:
    ``(None, None, True)`` — no token, so nothing keyed on it is
    memoized, and callers read the ``None`` size as "production
    scale" (persist ON, fan-out shuffle OFF).  A local path is
    stat-walked recursively: every file's relative name, mtime and
    size feed the token, so a file added, removed or rewritten
    anywhere under the path moves it (~10 ms per 1,000 files, an
    order of magnitude cheaper than Spark re-listing the tree);
    ``nbytes`` is the files' total size.  A missing local path raises
    ``FileNotFoundError``: a misspelled ``sf_dir`` fails loudly instead
    of being read as production scale."""
    if _URI_SCHEME.match(path):
        return None, None, True
    st = os.stat(path)
    h = hashlib.sha1(f"{st.st_mtime_ns}:{st.st_size}".encode())
    nbytes = st.st_size
    if stat.S_ISDIR(st.st_mode):
        nbytes = 0
        for root, dirs, files in os.walk(path):
            dirs.sort()
            rel = root[len(path):]
            for f in sorted(files):
                try:
                    fs = os.stat(os.path.join(root, f))
                except OSError:
                    continue  # removed mid-walk
                h.update(f"{rel}/{f}:{fs.st_mtime_ns}:{fs.st_size};".encode())
                nbytes += fs.st_size
    return h.hexdigest()[:16], nbytes, False


def fixture_path(sf_dir: str, source_table: str, prefix: str) -> str:
    """Content-addressed temp directory of one on-disk fixture, keyed
    by the SOURCE table's path and probe token (sig index ↔ documents,
    IVF ↔ embeddings), so a regenerated corpus lands in a new
    directory."""
    token = probe(os.path.join(sf_dir, source_table))[0]
    key = f"{os.path.join(os.path.realpath(sf_dir), source_table)}:{token}"
    h = hashlib.sha1(key.encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"{prefix}{h}")


def materialize(sf_dir: str, source_table: str, prefix: str, want: str,
                build) -> str:
    """The one on-disk fixture protocol (materialized indexes, drained
    streams — offline-job output built once per corpus version).

    Returns ``fixture_path(...)`` at once when its ``_OK`` stamp holds
    exactly ``want`` (the build's parameters; the source's file state
    is already in the path).  Otherwise empties the directory, runs
    ``build(base)`` and writes ``want`` to ``_OK`` only after the build
    returns, so a build that raises leaves no stamp and the next call
    rebuilds.  The build writes in place, never into a directory
    renamed afterwards: a file sink's ``_spark_metadata`` log records
    absolute paths, so a moved output could not be read back."""
    base = fixture_path(sf_dir, source_table, prefix)
    stamp = os.path.join(base, "_OK")
    try:
        with open(stamp) as fh:
            if fh.read() == want:
                return base
    except FileNotFoundError:
        pass
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    build(base)
    with open(stamp, "w") as fh:
        fh.write(want)
    return base


RESULT = "result"
SESSION = "session"


class MemoRegistry:
    """The engine's one cache, scoped to ONE Spark application: the
    first call that brings a different ``applicationId`` drops every
    entry and slot (an old session's handles are never served).

    Entries are keyed by ``(class, name)`` and carry a version token —
    a ``probe`` token of the file they derive from — and a lookup hits
    only on an equal token, so a rewritten input is rebuilt, never
    served stale.  A ``None`` token (remote storage) is never stored.
    Memoizing a DataFrame reuses its immutable plan (and, for
    persisted results, its cache blocks); every action still executes.

    Two classes, one purge each:

    - ``RESULT``: published builder tables and IVF-PQ quantizer side
      tables.  ``purge(RESULT)`` (``datapipe.purge_result_memo``)
      unpersists and drops them; the memo-off bench pass calls it
      between queries so each query pays its full pipeline.
    - ``SESSION``: scan plans, embedding counts and trained PQ /
      IVF-PQ / OPQ models.  They live as long as the
      application, so the memo-off pass keeps reusing trained models
      on purpose: training is offline-job work done once per corpus
      version, not part of any query's pipeline cost.

    Slots hold the ONE live persisted handle of a repeatable query
    (``release`` + ``hold``).  A caller releases the previous handle
    BEFORE it builds again: CacheManager matches cached data by plan,
    so unpersisting an identical old plan after the rebuild would drop
    the fresh entry too."""

    def __init__(self):
        self._sc = self._app = None
        self._entries: dict = {}
        self._slots: dict = {}

    def _scope(self, spark) -> None:
        # the held SparkContext reference makes the identity check safe
        # (a live object's id is never reused) and skips a py4j round
        # trip per lookup; a new context is checked by applicationId.
        # ``_sc`` is published last, so a concurrent ``_overlap`` thread
        # that takes the fast path never sees the old entries.
        sc = spark.sparkContext
        if sc is self._sc:
            return
        app = sc.applicationId
        if app != self._app:
            self._entries.clear()
            self._slots.clear()
            self._app = app
        self._sc = sc

    def get(self, spark, cls: str, name, token):
        """The value published under ``name`` at ``token``, else None."""
        self._scope(spark)
        hit = self._entries.get((cls, name))
        if token is not None and hit is not None and hit[0] == token:
            return hit[1]
        return None

    def put(self, spark, cls: str, name, token, value):
        """Publish ``value`` under ``name`` at ``token``; returns it."""
        self._scope(spark)
        if token is not None:
            self._entries[(cls, name)] = (token, value)
        return value

    def memo(self, spark, cls: str, name, token, build):
        hit = self.get(spark, cls, name, token)
        if hit is not None:
            return hit
        return self.put(spark, cls, name, token, build())

    def purge(self, cls: str, name=None) -> None:
        """Drop one entry (or every entry) of ``cls``, unpersisting
        DataFrame values."""
        if name is None:  # list(): an atomic snapshot under the GIL
            keys = [k for k in list(self._entries) if k[0] == cls]
        else:
            keys = [(cls, name)]
        for key in keys:
            hit = self._entries.pop(key, None)
            if hit is not None and hasattr(hit[1], "unpersist"):
                try:
                    hit[1].unpersist()
                except Exception:
                    pass  # a handle of a stopped context

    def hold(self, spark, slot: str, release) -> None:
        self._scope(spark)
        self._slots[slot] = release

    def release(self, spark, slot: str) -> None:
        self._scope(spark)
        release = self._slots.pop(slot, None)
        if release is not None:
            release()


MEMO = MemoRegistry()


def scan_parquet(spark: SparkSession, path: str, schema: str | None = None,
                 options: dict | None = None):
    """Memoized parquet scan: returns the same (immutable) DataFrame for
    an unchanged path within one Spark application.  Constructing a
    scan costs ~85-105 ms of driver time (py4j round trip, listing,
    footer read) per table per call; reusing the plan object is not
    result caching — every action still reads the files.  ``schema``/
    ``options`` are part of the name (the partitioned index trees pass
    an explicit schema + basePath; re-listing their thousands of leaf
    dirs per construction was the dominant cost)."""
    name = ("scan", path, schema,
            tuple(sorted(options.items())) if options else None)
    token = probe(path)[0]
    hit = MEMO.get(spark, SESSION, name, token)
    if hit is not None:
        return hit
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    return MEMO.put(spark, SESSION, name, token, reader.parquet(path))


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one fixture table. Plain parquet scan → Catalyst gets full
    predicate pushdown + column pruning on whatever the caller selects.

    Works against any caller-supplied SparkSession (the driver builds its
    own), so the two correctness-critical confs are (re)applied here:
    UTC session time (the oracle compares naive wall-clock timestamps) and
    nanos-as-long (older fixtures store TIMESTAMP(NANOS), which the
    vectorized reader otherwise rejects); nanos are floor-divided to
    micros, matching DuckDB's ns→us truncation.

    ``events.ts`` is normalized to a session-TZ TIMESTAMP whatever the
    fixture's physical type: TIMESTAMP(NANOS) → bigint (nanosAsLong) →
    floor-div to micros; TIMESTAMP(MICROS, isAdjustedToUTC=false) →
    TIMESTAMP_NTZ → cast (wall-clock preserving under the UTC session
    TZ); already-LTZ stays as-is.  Downstream numeric casts
    (``ts.cast('long')`` in sessionization) require LTZ.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # memoize the POST-normalization frame: the ts probe (a py4j
        # schema fetch) and the withColumn are part of the per-call cost
        key, token = ("events-norm", path), probe(path)[0]
        df = MEMO.get(spark, SESSION, key, token)
        if df is None:
            df = spark.read.parquet(path)
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif ts_type == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return MEMO.put(spark, SESSION, key, token, df)
    return scan_parquet(spark, path)
