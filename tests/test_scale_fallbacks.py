"""Scale-safety of the local-mode helpers (r15, verdict items 1+2).

Two classes of local-mode assumption are pinned here:

1. ``_fanout`` must NOT insert a round-robin Exchange when the input
   scan already fans out to the session parallelism (a 100 TB table
   arrives as thousands of splits; an unconditional ``repartition``
   round-robin-shuffles the entire corpus for nothing).
2. The driver-side stat probe (``session.probe`` behind
   ``_table_size_bytes`` / ``_should_persist`` / ``scan_parquet``) must
   degrade to the scale-correct branch — persist ON, memo OFF, fan-out
   shuffle OFF — on a remote path (hdfs://, s3a://), and a missing
   LOCAL path must raise instead of reading as production scale.
"""

from __future__ import annotations

import os

import pytest

from garmadon_spark.queries import datapipe
from garmadon_spark.queries.datapipe import (
    _fanout, _should_persist, _table_size_bytes,
)
from garmadon_spark import session as gs_session
from garmadon_spark.session import MEMO, scan_parquet


def _phys_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")


def test_fanout_small_local_input_repartitions(spark, sf_dir):
    docs = scan_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    out = _fanout(spark, docs, sf_dir)
    assert out is not docs
    assert "RoundRobinPartitioning" in _phys_plan(out)


def test_fanout_skips_shuffle_when_scan_already_wide(spark, sf_dir,
                                                     monkeypatch):
    # a table whose size >= parallelism * maxPartitionBytes already
    # produces >= parallelism input splits → repartition must be a no-op
    par = spark.sparkContext.defaultParallelism
    big = par * datapipe._max_split_bytes(spark) + 1
    monkeypatch.setattr(datapipe, "probe", lambda _p: ("t", big, False))
    docs = scan_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    out = _fanout(spark, docs, sf_dir)
    assert out is docs  # same immutable plan object — zero new Exchange
    assert "Exchange" not in _phys_plan(out)


def test_fanout_skips_shuffle_on_remote_path(spark, sf_dir, monkeypatch):
    # remote path → size None → production-scale branch (no shuffle)
    monkeypatch.setattr(datapipe, "probe", lambda _p: (None, None, True))
    docs = scan_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    assert _fanout(spark, docs, sf_dir) is docs


def test_fanout_without_sf_dir_keeps_old_behavior(spark, sf_dir):
    docs = scan_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    assert "RoundRobinPartitioning" in _phys_plan(_fanout(spark, docs))


def test_table_size_none_for_remote_paths():
    assert _table_size_bytes("hdfs://nn:8020/warehouse",
                             "documents.parquet") is None
    assert _table_size_bytes("s3a://bucket/prefix",
                             "documents.parquet") is None
    assert gs_session.probe("hdfs://nn:8020/warehouse") == (None, None, True)


def test_table_size_raises_for_missing_local_path(tmp_path):
    # a misspelled local sf_dir must fail loudly, not read as production
    # scale (persist ON, fan-out OFF) the way a remote path does
    with pytest.raises(FileNotFoundError):
        _table_size_bytes(str(tmp_path), "does_not_exist.parquet")
    with pytest.raises(FileNotFoundError):
        _should_persist(str(tmp_path / "typo"))


def test_should_persist_true_on_remote_storage():
    # the r14 bug: OSError swallowed into size 0 → persist permanently
    # OFF exactly at the scale where it must be ON
    assert _should_persist("hdfs://nn:8020/warehouse") is True
    assert _should_persist("s3a://bucket/prefix") is True


def test_should_persist_size_threshold(tmp_path, monkeypatch):
    p = tmp_path / "documents.parquet"
    p.write_bytes(b"x" * 128)
    monkeypatch.setattr(datapipe, "_PERSIST_MIN_BYTES", 64)
    assert _should_persist(str(tmp_path)) is True
    monkeypatch.setattr(datapipe, "_PERSIST_MIN_BYTES", 1024)
    assert _should_persist(str(tmp_path)) is False


def test_scan_parquet_falls_back_unmemoized_on_stat_failure(
        spark, sf_dir, monkeypatch):
    path = os.path.join(sf_dir, "documents.parquet")

    # a remote path has no token: plain scan, nothing memoized
    monkeypatch.setattr(gs_session, "probe", lambda _p: (None, None, True))
    before = dict(MEMO._entries)
    df = scan_parquet(spark, path)
    assert df.limit(1).count() == 1  # a working plain scan
    assert scan_parquet(spark, path) is not df
    # no memo entry was added for the token-less path
    assert MEMO._entries == before


def test_max_split_bytes_parses_suffixed_values(spark):
    key = "spark.sql.files.maxPartitionBytes"
    assert datapipe._max_split_bytes(spark) == int(spark.conf.get(key))
    prev = spark.conf.get(key)
    try:
        for raw, want in (("128m", 134217728), ("128mb", 134217728),
                          ("1g", 1024 ** 3)):
            spark.conf.set(key, raw)
            assert datapipe._max_split_bytes(spark) == want, raw
    finally:
        spark.conf.set(key, prev)
