"""The session layer's shared mechanisms: the memo registry
(``session.MEMO``), its stat probe, the on-disk fixture protocol
(``session.materialize``) and the default driver heap.

Pins the registry's contract: entries are never served across Spark
applications, a rewritten input (new probe token) invalidates every
entry class, ``purge_result_memo`` drops exactly the RESULT class, and
a slot releases its previous handle before the next build.  Pins the
fixture protocol's: an equal stamp serves without building, anything
else rebuilds into an emptied directory, the stamp is written only
after a build returns, and the path follows the source table.
"""

from __future__ import annotations

import glob
import os
import sys
import threading
from types import SimpleNamespace

import pandas as pd
import pytest

from garmadon_spark import session
from garmadon_spark.queries import datapipe
from garmadon_spark.session import (
    MEMO, RESULT, SESSION, MemoRegistry, fixture_path, materialize, probe,
    scan_parquet,
)


def _app(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _write_docs(d, n):
    pd.DataFrame({
        "doc_id": list(range(n)),
        "text": [f"doc {i} words" for i in range(n)],
    }).to_parquet(os.path.join(d, "documents.parquet"))


def _write_embs(d, n):
    pd.DataFrame({
        "vec_id": list(range(n)),
        "embedding": [[float(i), 1.0] for i in range(n)],
    }).to_parquet(os.path.join(d, "embeddings.parquet"))


def test_entries_from_another_application_are_never_served():
    reg = MemoRegistry()
    a, b = _app("app-a"), _app("app-b")
    reg.put(a, RESULT, "r", "t1", "result-a")
    reg.put(a, SESSION, "m", "t1", "model-a")
    released = []
    reg.hold(a, "slot", lambda: released.append("a"))
    assert reg.get(a, RESULT, "r", "t1") == "result-a"
    assert reg.get(b, RESULT, "r", "t1") is None
    assert reg.get(b, SESSION, "m", "t1") is None
    # the new application dropped the old one's entries and slots for
    # good: returning to the old id finds nothing either
    assert reg.get(_app("app-a"), SESSION, "m", "t1") is None
    reg.release(b, "slot")
    assert released == []


def test_probe_tokens_track_file_state(tmp_path):
    _write_docs(tmp_path, 3)
    tok, nbytes, remote = probe(str(tmp_path / "documents.parquet"))
    assert not remote and nbytes == (tmp_path / "documents.parquet").stat().st_size
    dir_tok, dir_bytes, _ = probe(str(tmp_path))
    assert dir_bytes == nbytes and dir_tok != tok
    _write_docs(tmp_path, 5)
    assert probe(str(tmp_path / "documents.parquet"))[0] != tok
    assert probe(str(tmp_path))[0] != dir_tok
    assert probe("s3a://bucket/prefix/documents.parquet") == (None, None, True)


def test_rewritten_file_invalidates_scan_result_and_model(spark, tmp_path):
    d = str(tmp_path)
    docs = os.path.join(d, "documents.parquet")
    _write_docs(d, 3)
    _write_embs(d, 4)
    scan = scan_parquet(spark, docs)
    assert scan_parquet(spark, docs) is scan
    stored = datapipe._memo_store(spark, d, "t_result", scan)
    assert datapipe._memo_fetch(spark, d, "t_result", lambda: None) is stored
    assert datapipe._emb_count(spark, d) == 4

    _write_docs(d, 6)
    _write_embs(d, 7)
    fresh = scan_parquet(spark, docs)
    assert fresh is not scan and fresh.count() == 6
    assert datapipe._memo_fetch(spark, d, "t_result", lambda: "rebuilt") \
        == "rebuilt"
    assert datapipe._emb_count(spark, d) == 7
    datapipe.purge_result_memo()


def test_purge_result_memo_keeps_scan_plans_and_models(spark, tmp_path,
                                                       monkeypatch):
    d = str(tmp_path)
    docs = os.path.join(d, "documents.parquet")
    _write_docs(d, 3)
    _write_embs(d, 4)
    index = tmp_path / "index"
    index.mkdir()
    (index / "_OK").write_text("k=8")
    loads = []
    monkeypatch.setattr(datapipe.similarity, "load_ivfpq_quantizer",
                        lambda _s, p: loads.append(p) or ("quantizer",))

    scan = scan_parquet(spark, docs)
    datapipe._emb_count(spark, d)
    model_key = ("emb_count", os.path.realpath(d))
    emb_tok = datapipe._emb_token(d)
    result = datapipe._memo_store(spark, d, "t_purge", scan)
    quant = datapipe._ivfpq_quantizer(spark, str(index))
    assert datapipe._ivfpq_quantizer(spark, str(index)) is quant
    assert len(loads) == 1
    assert result.storageLevel.useMemory

    datapipe.purge_result_memo()

    # RESULT class gone (and unpersisted) ...
    assert not result.storageLevel.useMemory
    assert datapipe._memo_fetch(spark, d, "t_purge", lambda: "rebuilt") \
        == "rebuilt"
    datapipe._ivfpq_quantizer(spark, str(index))
    assert len(loads) == 2
    # ... SESSION class kept
    assert scan_parquet(spark, docs) is scan
    assert MEMO.get(spark, SESSION, model_key, emb_tok) == 4
    datapipe.purge_result_memo()


def test_slot_releases_previous_handle_before_next_build(spark, sf_dir,
                                                         monkeypatch):
    from garmadon_spark.operators import corpus

    log = []
    build = corpus.remove_frequent_lines

    def logged_build(*a, **kw):
        log.append("build")
        return build(*a, **kw)

    monkeypatch.setattr(corpus, "remove_frequent_lines", logged_build)
    MEMO.hold(spark, "line_dedup", lambda: log.append("release"))
    try:
        datapipe.doc_line_dedup(spark, sf_dir)
        assert log == ["release", "build"]
        # the build holds its own handle in the slot; releasing twice
        # runs it once
        MEMO.release(spark, "line_dedup")
        MEMO.release(spark, "line_dedup")
        assert log == ["release", "build"]
    finally:
        MEMO.release(spark, "line_dedup")


def test_registry_shared_by_threads_never_serves_a_wrong_token():
    # ``_overlap`` runs memo lookups from driver threads concurrently
    # with purges; a purge must not trip over concurrent puts, and a
    # lookup must only ever see the value stored for its token
    reg, app = MemoRegistry(), _app("app-t")
    errors: list = []

    def worker(i):
        try:
            for n in range(2000):
                tok = f"{i}:{n % 3}"
                reg.put(app, RESULT, ("r", i), tok, tok)
                hit = reg.get(app, RESULT, ("r", i), tok)
                assert hit in (None, tok), (hit, tok)
                if n % 50 == 0:
                    reg.purge(RESULT)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert errors == []


def _corpus(tmp_path, monkeypatch):
    """A corpus dir holding a documents table; fixtures land under
    ``tmp_path/tmp``."""
    monkeypatch.setattr(session.tempfile, "tempdir", str(tmp_path / "tmp"))
    d = tmp_path / "sf"
    d.mkdir()
    _write_docs(d, 3)
    return str(d)


def _stamp(base):
    with open(os.path.join(base, "_OK")) as fh:
        return fh.read()


def test_materialize_equal_want_does_not_build(tmp_path, monkeypatch):
    d = _corpus(tmp_path, monkeypatch)
    calls = []

    def build(base):
        calls.append(base)
        open(os.path.join(base, "data"), "w").close()

    base = materialize(d, "documents.parquet", "garmadon_t_", "k=1", build)
    assert base == fixture_path(d, "documents.parquet", "garmadon_t_")
    assert base.startswith(str(tmp_path / "tmp" / "garmadon_t_"))
    assert calls == [base] and _stamp(base) == "k=1"
    assert materialize(d, "documents.parquet", "garmadon_t_", "k=1",
                       build) == base
    assert calls == [base]


def test_materialize_other_want_rebuilds_into_empty_dir(tmp_path,
                                                        monkeypatch):
    d = _corpus(tmp_path, monkeypatch)
    seen = []

    def build(base):
        seen.append(sorted(os.listdir(base)))
        open(os.path.join(base, "data"), "w").close()

    base = materialize(d, "documents.parquet", "garmadon_t_", "k=1", build)
    assert materialize(d, "documents.parquet", "garmadon_t_", "k=2",
                       build) == base
    assert seen == [[], []] and _stamp(base) == "k=2"


def test_materialize_failed_build_leaves_no_stamp(tmp_path, monkeypatch):
    d = _corpus(tmp_path, monkeypatch)
    seen = []

    def crash(base):
        open(os.path.join(base, "partial"), "w").close()
        raise RuntimeError("build crashed")

    with pytest.raises(RuntimeError):
        materialize(d, "documents.parquet", "garmadon_t_", "k=1", crash)
    base = fixture_path(d, "documents.parquet", "garmadon_t_")
    assert os.listdir(base) == ["partial"]
    materialize(d, "documents.parquet", "garmadon_t_", "k=1",
                lambda b: seen.append(os.listdir(b)))
    assert seen == [[]] and _stamp(base) == "k=1"


def test_fixture_path_follows_source_table_rewrite(tmp_path, monkeypatch):
    d = _corpus(tmp_path, monkeypatch)
    before = fixture_path(d, "documents.parquet", "garmadon_t_")
    assert fixture_path(d, "documents.parquet", "garmadon_t_") == before
    _write_docs(d, 5)
    assert fixture_path(d, "documents.parquet", "garmadon_t_") != before


def test_retrain_copy_does_not_inherit_source_stamp(tmp_path, monkeypatch):
    # at fixture sizes the source index and its retrained copy carry the
    # same stamp (both cell counts floor at 8): an inherited ``_OK``
    # would make a crashed retrain look finished
    d = _corpus(tmp_path, monkeypatch)
    src = materialize(d, "documents.parquet", "garmadon_t_src_", "k=8",
                      lambda b: os.makedirs(os.path.join(b, "vectors")))

    def crashed_retrain(base):
        datapipe._copy_unstamped(src, base)
        raise RuntimeError("retrain crashed")

    with pytest.raises(RuntimeError):
        materialize(d, "documents.parquet", "garmadon_t_copy_", "k=8",
                    crashed_retrain)
    copy = fixture_path(d, "documents.parquet", "garmadon_t_copy_")
    assert os.listdir(copy) == ["vectors"]
    assert _stamp(src) == "k=8"
    retrains = []
    materialize(d, "documents.parquet", "garmadon_t_copy_", "k=8",
                lambda b: retrains.append(b))
    assert retrains == [copy]


def test_drain_increments_two_ordered_micro_batches(spark, tmp_path):
    # the first increment holds the larger ids, so the delivery order
    # is the pinned mtimes, not the (random) part-file names
    b1 = spark.createDataFrame([(10,), (11,), (12,)], "doc_id long")
    b2 = spark.createDataFrame([(0,), (1,)], "doc_id long")
    seen = []

    def stream(source, index, out, ckpt):
        return (source.writeStream
                .foreachBatch(lambda df, bid: seen.append(
                    (bid, sorted(r.doc_id for r in df.collect()))))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True))

    datapipe._drain_increments(str(tmp_path), b1, b2, stream)
    assert seen == [(0, [10, 11, 12]), (1, [0, 1])]
    # one file per increment, whole seconds apart: the order survives a
    # filesystem with 1 s mtime resolution
    files = sorted(glob.glob(str(tmp_path / "src" / "part-*.parquet")),
                   key=os.path.getmtime)
    assert len(files) == 2
    assert pd.read_parquet(files[0])["doc_id"].tolist() == [10, 11, 12]
    assert os.path.getmtime(files[1]) - os.path.getmtime(files[0]) >= 1


def test_default_driver_memory_is_a_third_of_ram(monkeypatch):
    for ram_gib, want in ((2, "1g"), (15, "5g"), (47, "15g"), (64, "16g"),
                          (512, "16g")):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib << 18}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        assert session._default_driver_memory() == want
