"""Self-tests of the benchmark.  Run from the repository root:

    python3 -m pytest perfbench -q

The generator tests are pure Python; the others run ``perfbench/run.py``
end to end (about a minute per run).
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import subprocess
import sys

import pytest

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, "perfbench/run.py", "--seconds", "1"]
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
with open(os.path.join(HERE, "targets.json")) as _fh:
    TARGETS = json.load(_fh)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# may read 0 on every workload of a correct run: late drops and sessions
# left open after a full drain are faults; spills need more data
ZERO_OK = {"dedup.dropped_late", "sessions.state_rows", "exec.spill_bytes"}


def _run(*args, cwd=ROOT):
    p = subprocess.run(RUN + list(args), cwd=cwd, capture_output=True,
                       text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1:] or [""]
    try:
        result = json.loads(last[0])
    except json.JSONDecodeError:
        result = None
    return p.returncode, result


def test_same_seed_same_frame_bytes(tmp_path):
    a = gen.frame_epoch(5, 1, 4, 100)
    b = gen.frame_epoch(5, 1, 4, 100)
    assert a.frames == b.frames
    pa = gen.write_frame_files(a, str(tmp_path / "a"), "e", 3)
    pb = gen.write_frame_files(b, str(tmp_path / "b"), "e", 3)
    for x, y in zip(pa, pb):
        assert open(x, "rb").read() == open(y, "rb").read()
    assert gen.frame_epoch(6, 1, 4, 100).frames != a.frames
    ca = gen.write_corpus(5, 200, str(tmp_path / "ca"))
    cb = gen.write_corpus(5, 200, str(tmp_path / "cb"))
    assert open(ca, "rb").read() == open(cb, "rb").read()


def test_frames_ordered_unique_and_faulted():
    ep = gen.frame_epoch(3, 2, 6, 0)
    by_coord: dict = {}
    high = 0
    for part, off, raw in ep.frames:
        by_coord.setdefault((part, off), set()).add(raw)
        if (part, off) not in ep.unique:
            continue                       # an injected corrupt frame
        ts = struct.unpack(">iqii", raw[:20])[1]
        # bounded disorder: far inside the 26 h dedup watermark
        assert ts >= high - 3_600_000
        high = max(high, ts)
    # a redelivery repeats the coordinates AND the bytes of its original
    assert all(len(v) == 1 for v in by_coord.values())
    n_frames = len(ep.unique) + ep.corrupt + ep.redelivered
    assert len(ep.frames) == n_frames
    assert ep.redelivered > 0 and ep.corrupt == gen.CORRUPT_PER_EPOCH


def test_every_per_layer_metric_has_a_target():
    """targets.json names, for each per-layer metric of BENCHMARK.json,
    the end-to-end metric it should move (or null for a diagnostic) and
    the workload it applies to."""
    assert set(TARGETS) == set(PER_LAYER)
    for t in TARGETS.values():
        assert t["moves"] is None or t["moves"] in E2E
        assert t["workload"] == "all" or t["workload"] in WORKLOADS


@pytest.mark.parametrize("workload", WORKLOADS)
def test_printed_metrics_are_declared(workload):
    code, res = _run("--workload", workload, "--seed", "11", "--trace", "0")
    assert code == 0 and res["correct"] and res["failed"] == 0
    assert {n: m["unit"] for n, m in res["metrics"].items()} == E2E
    assert all(m["value"] > 0 for m in res["metrics"].values())
    code, res = _run("--workload", workload, "--seed", "11", "--trace", "1")
    assert code == 0 and res["correct"]
    assert {n: m["unit"] for n, m in res["metrics"].items()} == PER_LAYER
    _SEEN.update(n for n, m in res["metrics"].items() if m["value"])


_SEEN: set = set()


def test_every_declared_metric_is_measured():
    """Runs after the per-workload test: no declared per-layer metric may
    read 0 on every workload."""
    if not _SEEN:
        pytest.skip("needs test_printed_metrics_are_declared")
    assert set(PER_LAYER) - ZERO_OK <= _SEEN


@pytest.mark.parametrize("workload,fault", [
    ("stream_ingest", "archive_row"),
    ("batch_read", "panel_row"),
])
def test_seeded_fault_fails_the_run(workload, fault):
    code, res = _run("--workload", workload, "--seed", "4", "--trace", "0",
                     "--fault", fault)
    assert code == 1
    assert res is not None and res["correct"] is False and res["failed"] >= 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res = _run("--workload", "stream_ingest", "--seed", "1",
                     "--trace", "0", cwd=str(tmp_path))
    assert code != 0 and res is None
