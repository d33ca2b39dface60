"""The session-scoped memo registry (``session.MEMO``) and its stat probe.

Pins the registry's contract: entries are never served across Spark
applications, a rewritten input (new probe token) invalidates every
entry class, ``purge_result_memo`` drops exactly the RESULT class, and
a slot releases its previous handle before the next build.
"""

from __future__ import annotations

import os
import sys
import threading
from types import SimpleNamespace

import pandas as pd

from garmadon_spark.queries import datapipe
from garmadon_spark.session import (
    MEMO, RESULT, SESSION, MemoRegistry, probe, scan_parquet,
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
