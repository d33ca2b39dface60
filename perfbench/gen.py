"""Seeded input generators for the benchmark.

Everything here is pure Python (no Spark): the program only ever sees the
files these functions write.  The same seed gives byte-identical output.

Fleets keep one shape for every seed, so a run's work does not depend on
its seed: the fixture fleet comes from a fixed fixture seed, and the run
seed relabels every application, shifts event time by whole days and
places the injected faults.

Fleet frames (stream_ingest): the fleet is re-timed into consecutive
epochs, emitted in event-time order, given benchmark-owned unique
``(kafka_partition, kafka_offset)`` coordinates, framed with
``encode_frame`` and written as parquet frame files.  A fixed share of
frames is redelivered a few positions later with the same coordinates and
bytes, and a fixed count of corrupt frames is injected per epoch.

Corpus: a seeded subset of ``data/documents.parquet``, a 1,000-document
slice of the sf0.1 fixture's ``documents`` table.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from garmadon_spark import schemas
from garmadon_spark.sources import fixtures
from garmadon_spark.sources.frames import encode_frame

FLEET_SEED = 7
EPOCH_MS = 4 * fixtures.DAY        # > the fixture's ~70 h span
PARTITIONS = 4
REDELIVER_PER_MILLE = 20           # 2 % of frames delivered twice
REDELIVER_MAX_LAG = 40             # frames
REDELIVER_MAX_LAG_MS = 3_600_000   # event time; << the 26 h watermark
CORRUPT_PER_EPOCH = 3

FRAME_SCHEMA = pa.schema([
    ("kafka_partition", pa.int32()),
    ("kafka_offset", pa.int64()),
    ("value", pa.binary()),
])

_HEADER_KEYS = [f.name for f in schemas.HEADER.fields]
_CLUSTER_TS = "_1700000000000_"


def _fleet(seed: int, epoch: int, n_apps: int) -> dict[str, list[dict]]:
    """The fixture fleet of ``epoch`` with the run seed's labels: a cluster
    id of its own (so application ids never repeat across seeds or
    epochs) and event time moved by ``seed % 365`` days plus
    ``epoch * EPOCH_MS``."""
    tables = fixtures.generate(n_apps=n_apps, seed=FLEET_SEED + epoch)
    tag = f"_{1700000000000 + 64 * seed + epoch}_"
    shift = (seed % 365) * fixtures.DAY + epoch * EPOCH_MS
    for rows in tables.values():
        for row in rows:
            for k in ("application_id", "attempt_id", "container_id"):
                if row.get(k):
                    row[k] = row[k].replace(_CLUSTER_TS, tag)
            row["timestamp"] += shift
    return tables


def _epoch_rows(seed: int, epoch: int, n_apps: int):
    """(table, row) pairs of one epoch's fleet, sorted by event time."""
    tables = _fleet(seed, epoch, n_apps)
    out = []
    for tname in sorted(tables):
        for i, row in enumerate(tables[tname]):
            out.append((row["timestamp"], tname, i, row))
    out.sort(key=lambda t: t[:3])
    return [(tname, row) for _, tname, _, row in out]


def _frame(tname: str, row: dict) -> bytes:
    e = schemas.BY_NAME[fixtures.NAME_MAP[tname]]
    header = {k: row[k] for k in _HEADER_KEYS if row.get(k) is not None}
    body = {f.name: row[f.name] for f in e.body.fields
            if row.get(f.name) is not None}
    return encode_frame(e.marker, row["timestamp"], header, body)


class FrameEpoch:
    """One epoch of the frame stream.

    ``frames`` is the delivery order: ``(partition, offset, bytes)``.
    ``unique`` maps each valid coordinate to its family, so checks can
    count unique valid frames per family; ``corrupt``, ``redelivered`` and
    ``redelivered_fs`` (FS_EVENT frames among them) are the injected
    counts."""

    def __init__(self, frames, unique, corrupt, redelivered, redelivered_fs):
        self.frames = frames
        self.unique = unique
        self.corrupt = corrupt
        self.redelivered = redelivered
        self.redelivered_fs = redelivered_fs


def frame_epoch(seed: int, epoch: int, n_apps: int,
                first_seq: int) -> FrameEpoch:
    """Frame one epoch.  Coordinates are ``seq % PARTITIONS`` and
    ``seq // PARTITIONS`` for a run-wide sequence number starting at
    ``first_seq``, so they are unique across epochs."""
    rng = random.Random(seed * 7919 + epoch)
    rows = _epoch_rows(seed, epoch, n_apps)
    seq = first_seq
    frames: list = []
    unique: dict = {}
    pending: list = []          # (due index, event time, frame)
    corrupt_at = set(rng.sample(range(len(rows)), CORRUPT_PER_EPOCH))
    redeliver_at = set(rng.sample(range(len(rows)),
                                  len(rows) * REDELIVER_PER_MILLE // 1000))
    redelivered = redelivered_fs = 0
    for i, (tname, row) in enumerate(rows):
        # flush redeliveries that are due, or that would lag by more than
        # REDELIVER_MAX_LAG_MS of event time behind this frame
        due = [p for p in pending
               if p[0] <= i or p[1] < row["timestamp"] - REDELIVER_MAX_LAG_MS]
        for p in due:
            frames.append(p[2])
            pending.remove(p)
        if i in corrupt_at:
            junk = bytes(rng.getrandbits(8) for _ in range(rng.randint(5, 40)))
            # a head whose declared lengths never match the frame size
            junk = b"\x00\x00\x00\x01" + junk[:8].ljust(8, b"\0") \
                + b"\x7f\xff\xff\xff" + junk[8:]
            frames.append((seq % PARTITIONS, seq // PARTITIONS, junk))
            seq += 1
        coord = (seq % PARTITIONS, seq // PARTITIONS)
        seq += 1
        f = (coord[0], coord[1], _frame(tname, row))
        frames.append(f)
        unique[coord] = tname
        if i in redeliver_at:
            pending.append((i + rng.randint(1, REDELIVER_MAX_LAG),
                            row["timestamp"], f))
            redelivered += 1
            redelivered_fs += tname == "fs_event"
    frames.extend(p[2] for p in pending)
    return FrameEpoch(frames, unique, CORRUPT_PER_EPOCH, redelivered,
                      redelivered_fs)


def write_frame_files(epoch: FrameEpoch, out_dir: str, prefix: str,
                      n_files: int) -> list[str]:
    """Split the delivery order into ``n_files`` consecutive parquet
    files (the Kafka-topic stand-in: one row per frame)."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(epoch.frames)
    paths = []
    for j in range(n_files):
        chunk = epoch.frames[j * n // n_files:(j + 1) * n // n_files]
        tbl = pa.Table.from_arrays(
            [pa.array([c[0] for c in chunk], pa.int32()),
             pa.array([c[1] for c in chunk], pa.int64()),
             pa.array([c[2] for c in chunk], pa.binary())],
            schema=FRAME_SCHEMA)
        path = os.path.join(out_dir, f"{prefix}-{j:03d}.parquet")
        pq.write_table(tbl, path)
        paths.append(path)
    return paths


def fleet_tables(seed: int, n_apps: int) -> dict[str, list[dict]]:
    """The dashboard fleet: fixture rows with benchmark-owned unique
    coordinates (the fixture's own collide across families)."""
    tables = _fleet(seed, 0, n_apps)
    seq = 0
    for tname in sorted(tables):
        for row in tables[tname]:
            row["kafka_partition"] = seq % PARTITIONS
            row["kafka_offset"] = seq // PARTITIONS
            seq += 1
    return tables


def write_fleet_parquet(tables: dict, out_dir: str,
                        names: tuple[str, ...]) -> None:
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(out_dir, exist_ok=True)
    for tname in names:
        sch = to_arrow_schema(schemas.full_schema(fixtures.NAME_MAP[tname]))
        pq.write_table(pa.Table.from_pylist(tables[tname], schema=sch),
                       os.path.join(out_dir, f"{tname}.parquet"))


CORPUS_SLICE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "documents.parquet")


def write_corpus(seed: int, n_docs: int, out_dir: str) -> str:
    """A ``documents`` table of at least ``n_docs`` rows drawn by ``seed``
    from the committed slice of the sf0.1 fixture table.  The slice and
    this draw both take whole duplicate groups (documents whose word
    3-shingle Jaccard similarity is at least 0.3, found once offline),
    so the share of documents with a near duplicate stays that of sf0.1
    (about 9 %) instead of shrinking with the sample."""
    tbl = pq.read_table(CORPUS_SLICE)
    groups: dict = {}
    for i, g in enumerate(tbl.column("dup_group").to_pylist()):
        groups.setdefault(g, []).append(i)
    order = sorted(groups)
    random.Random(seed).shuffle(order)
    rows: list = []
    for g in order:
        if len(rows) >= n_docs:
            break
        rows += groups[g]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(tbl.take(sorted(rows)).drop(["dup_group"]), path)
    return path
