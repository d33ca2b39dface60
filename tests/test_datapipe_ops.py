"""LLM-data-pipeline operator tests: dedup tiers, similarity search,
text analysis, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from garmadon_spark.operators import dedup, multimodal, similarity, text
from garmadon_spark.session import load_table


@pytest.fixture(scope="module")
def docs(spark):
    # synthetic corpus with planted duplicates / near-duplicates
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "the quick brown fox jumps over the lazy cat near the river bank"
    other = "completely different content about spark query engines and data"
    rows = [
        Row(doc_id=0, text=base, lang="en", source="s0"),
        Row(doc_id=1, text=base, lang="en", source="s0"),          # exact dup
        Row(doc_id=2, text="  " + base.upper() + " ", lang="en",
            source="s0"),                                          # normalized dup
        Row(doc_id=3, text=near, lang="en", source="s0"),          # near dup
        Row(doc_id=4, text=other, lang="en", source="s0"),
        Row(doc_id=5, text="el la de y en que los un por con palabras",
            lang="es", source="s1"),
    ]
    return spark.createDataFrame(rows)


# --- exact dedup ----------------------------------------------------------

def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].dup_count == 3 and groups[0].keep_doc_id == 0


def test_incremental_exact_dedup(spark, docs):
    # historical corpus accepted docs 0 and 4; its hash index is all
    # the increment sees.  Increment: 1 (dup of historical 0), 2
    # (normalized dup of 0), 3 (NOT an exact dup — accepted), 5 (new),
    # plus an increment-internal dup pair (6, 7) that collapses to 6.
    hist = docs.filter(F.col("doc_id").isin(0, 4))
    index = hist.select(dedup.content_hash("text").alias("content_hash"))
    extra = spark.createDataFrame(
        [(6, "repeated increment text"), (7, "repeated increment text")],
        "doc_id long, text string",
    )
    inc = docs.filter(F.col("doc_id").isin(1, 2, 3, 5)).select(
        "doc_id", "text"
    ).unionByName(extra)
    accepted = sorted(
        r.doc_id
        for r in dedup.incremental_exact_dedup(inc, index).collect()
    )
    assert accepted == [3, 5, 6]


def test_incremental_dedup_bucketed_index_no_exchange(spark, docs):
    """The 100 TB layout claim in incremental_exact_dedup's docstring,
    plan-pinned: with the hash index AND the increment's hash table both
    bucketed on content_hash, the anti-join is a sort-merge join with
    ZERO Exchange — each task reads bucket i of both sides."""
    from garmadon_spark.sinks import archive

    db = "incr_bkt_test"
    inc_hashes = docs.select(
        "doc_id", dedup.content_hash("text").alias("content_hash")
    ).groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    index = docs.limit(2).select(
        dedup.content_hash("text").alias("content_hash")
    )
    try:
        archive.write_bucketed(inc_hashes, "inc_b", ["content_hash"],
                               n_buckets=4, database=db)
        archive.write_bucketed(index, "index_b", ["content_hash"],
                               n_buckets=4, database=db)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            accepted = spark.table(f"{db}.inc_b").join(
                spark.table(f"{db}.index_b"), "content_hash", "left_anti"
            )
            plan = accepted._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
            assert accepted.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_incremental_minhash_finds_cross_and_intra_pairs(spark, docs):
    # history = docs 0 and 4, represented ONLY by signatures; increment
    # = exact dup of 0 (doc 1), normalized dup (doc 2), near dup
    # (doc 3), unrelated (doc 5)
    hist = docs.filter(F.col("doc_id").isin(0, 4))
    index = dedup.minhash_signatures(hist, n=2, num_hashes=64)
    inc = docs.filter(F.col("doc_id").isin(1, 2, 3, 5))
    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.incremental_minhash(
            inc, index, n=2, num_hashes=64, bands=16, threshold=0.3
        ).collect()
    }
    # identical shingle sets ⇒ identical signatures ⇒ est exactly 1.0
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0
    assert pairs[(1, 2)] == 1.0          # intra-increment pair
    assert all(a < b for a, b in pairs)
    # every pair touches an increment doc (hist-hist never re-emitted)
    assert all(a in (1, 2, 3, 5) or b in (1, 2, 3, 5) for a, b in pairs)
    # unrelated doc 5 pairs with nothing
    assert not any(5 in p for p in pairs)


def test_minhash_estimator_tracks_exact_jaccard(spark):
    """Regression guard for component independence: over 30 doc pairs of
    ~1/3 true Jaccard, every per-pair signature estimate must sit near
    the truth.  The broken affine-of-one-hash family had the right MEAN
    but a bimodal per-pair distribution (≈0 or ≥0.5 depending on whether
    the shared region held the minimum-hash shingle), which is exactly
    what selection at a threshold turns into corpus-level bias — so the
    bound is on the worst pair, not the average."""
    import random

    rng = random.Random(11)
    rows = []
    for p in range(30):
        shared = [f"s{p}_{i}" for i in range(100)]
        a = shared + [f"a{p}_{i}" for i in range(100)]
        b = shared + [f"b{p}_{i}" for i in range(100)]
        rng.shuffle(a)
        rng.shuffle(b)
        rows.append((2 * p, " ".join(a)))
        rows.append((2 * p + 1, " ".join(b)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(df, n=1, num_hashes=64)
    by_doc = {r.doc: list(r.signature) for r in sigs.collect()}
    sh = {
        r.doc_id: set(r.sh)
        for r in df.select(
            "doc_id", dedup.shingles("text", 1).alias("sh")
        ).collect()
    }
    devs = []
    for p in range(30):
        sa, sb = by_doc[2 * p], by_doc[2 * p + 1]
        est = sum(1 for x, y in zip(sa, sb) if x == y) / 64
        exact = len(sh[2 * p] & sh[2 * p + 1]) / len(sh[2 * p] | sh[2 * p + 1])
        devs.append(abs(est - exact))
    assert max(devs) < 0.25, max(devs)
    assert sum(devs) / len(devs) < 0.08, sum(devs) / len(devs)


def test_incremental_retry_no_self_pairs(spark, docs):
    """Failed-batch retry: the increment's docs are ALREADY in the
    index (their signatures were appended before the crash).  Re-running
    must not emit self-pairs or duplicated rows — the index side drops
    increment doc ids before the union."""
    inc = docs.filter(F.col("doc_id").isin(0, 1, 3)).select(
        "doc_id", "text"
    )
    index = dedup.minhash_signatures(docs, n=2, num_hashes=64)
    pairs = dedup.incremental_minhash(
        inc, index, n=2, num_hashes=64, bands=32, threshold=0.3
    ).collect()
    keys = [(r.doc_a, r.doc_b) for r in pairs]
    assert all(a != b for a, b in keys)
    assert len(keys) == len(set(keys))
    sfp = dedup.simhash(docs)
    spairs = dedup.incremental_simhash(inc, sfp, max_hamming=8).collect()
    skeys = [(r.doc_a, r.doc_b) for r in spairs]
    assert all(a != b for a, b in skeys)
    assert len(skeys) == len(set(skeys))


def test_incremental_minhash_rejects_width_mismatch(spark, docs):
    index = dedup.minhash_signatures(
        docs.filter(F.col("doc_id") == 0), n=2, num_hashes=32
    )
    inc = docs.filter(F.col("doc_id") == 1).select("doc_id", "text")
    with pytest.raises(ValueError, match="num_hashes"):
        dedup.incremental_minhash(inc, index, n=2, num_hashes=64)


def test_incremental_simhash_matches_stored_fingerprints(spark, docs):
    # history = docs 0 and 4, represented ONLY by 8-byte fingerprints
    hist = docs.filter(F.col("doc_id").isin(0, 4))
    fps = dedup.simhash(hist)
    inc = docs.filter(F.col("doc_id").isin(1, 2, 3, 5))
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.incremental_simhash(inc, fps, max_hamming=8)
        .collect()
    }
    # identical token multisets ⇒ identical fingerprints ⇒ hamming 0
    assert pairs[(0, 1)] == 0 and pairs[(0, 2)] == 0
    assert pairs[(1, 2)] == 0            # intra-increment pair
    # every pair touches an increment doc; unrelated docs stay apart
    assert all(a in (1, 2, 3, 5) or b in (1, 2, 3, 5) for a, b in pairs)
    assert (0, 4) not in pairs and (4, 5) not in pairs


def test_incremental_dedup_idempotent(spark, docs):
    # re-running the same increment against an index that already
    # absorbed it accepts nothing — the failed-batch retry property
    inc = docs.filter(F.col("doc_id").isin(3, 5)).select("doc_id", "text")
    index = inc.select(dedup.content_hash("text").alias("content_hash"))
    assert dedup.incremental_exact_dedup(inc, index).count() == 0


# --- blocked jaccard ------------------------------------------------------

def test_jaccard_pairs_blocked(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(
            docs, ("lang", "source"), threshold=0.3
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0
    assert 0.5 < pairs[(0, 3)] < 1.0      # near dup
    assert (0, 4) not in pairs            # unrelated
    assert all(a < b for a, b in pairs)


def test_jaccard_df_cap_bounds_pairs(spark):
    """The shingle df-cap drops stop-shingle buckets BEFORE pair
    expansion: one bigram shared by every doc of a block must not emit
    O(block²) candidate pairs, while genuine near-dups (sharing low-df
    shingles) still surface."""
    rows = []
    for i in range(40):
        # docs 2k/2k+1 are near-dups via unique bigrams; ALL docs share
        # the stop bigrams of the common tail
        rows.append(Row(
            doc_id=i,
            text=f"unique{i // 2} mark{i // 2} alpha{i // 2} "
                 "shared common tail",
            lang="en", source="s0",
        ))
    docs = spark.createDataFrame(rows)
    # candidate volume: with the cap, the 40-doc stop-shingle buckets are
    # dropped, so only the 20 planted pairs' buckets expand
    capped = dedup.jaccard_pairs(
        docs, ("lang", "source"), threshold=0.3, max_df=10
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in capped} == {
        (2 * k, 2 * k + 1) for k in range(20)
    }
    # uncapped: stop-shingle buckets expand to all 780 cross pairs
    uncapped = dedup.jaccard_pairs(
        docs, ("lang", "source"), threshold=0.0, max_df=None
    ).count()
    assert uncapped == 40 * 39 // 2
    # the raw bucket expansion itself is bounded by the cap
    ex = docs.select(
        "lang", "source",
        F.explode(dedup.shingles("text", 2)).alias("s"),
        F.struct(F.col("doc_id").alias("doc")).alias("p"),
    )
    n_capped = dedup.bucket_pairs(
        ex, ["lang", "source", "s"], "p", max_bucket=10).count()
    n_uncapped = dedup.bucket_pairs(
        ex, ["lang", "source", "s"], "p").count()
    assert n_capped < n_uncapped / 10


# --- minhash + LSH --------------------------------------------------------

def test_minhash_dedup_finds_planted_pairs(docs):
    found = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_dedup(docs, threshold=0.5).collect()
    }
    assert {(0, 1), (0, 2), (1, 2)} <= set(found)
    assert (0, 3) in found                # near dup caught by LSH
    assert all(j >= 0.5 for j in found.values())
    assert not any(4 in p or 5 in p for p in found)


def test_minhash_signature_shape_and_determinism(spark, docs):
    s1 = dedup.minhash_signatures(docs).orderBy("doc").collect()
    s2 = dedup.minhash_signatures(docs).orderBy("doc").collect()
    assert [r.signature for r in s1] == [r.signature for r in s2]
    assert all(len(r.signature) == 64 for r in s1)
    # identical docs ⇒ identical signatures
    sig = {r.doc: r.signature for r in s1}
    assert sig[0] == sig[1] == sig[2]


# --- simhash --------------------------------------------------------------

def test_simhash_hamming(docs):
    fps = dedup.simhash(docs)
    by_doc = {r.doc: r.simhash for r in fps.collect()}
    ham = lambda a, b: bin(by_doc[a] ^ by_doc[b]).count("1")
    assert ham(0, 1) == 0 and ham(0, 2) == 0      # exact dups collide
    assert 0 < ham(0, 3) < ham(0, 4)              # near dup < unrelated
    cands = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_candidates(fps).collect()
    }
    assert {(0, 1), (0, 2), (1, 2)} <= set(cands)
    assert cands[(0, 1)] == 0


# --- similarity search ----------------------------------------------------

@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_brute_force_vs_ivf_recall(embs):
    qrow = embs.filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in qrow.embedding]
    exact = [r.vec_id for r in similarity.brute_force_topk(
        embs.filter(F.col("vec_id") != 0), q, k=10).collect()]
    cents, assigned = similarity.build_ivf(embs, n_centroids=8, iterations=1)
    approx = [r.vec_id for r in similarity.ivf_topk(
        assigned.filter(F.col("vec_id") != 0), cents, q, k=10,
        nprobe=4).collect()]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5  # probing half the cells keeps decent recall
    # probed subset is strictly smaller than the corpus
    probed = assigned.filter(F.col("ivf_cell").isin(
        list(range(8)))).count()
    assert probed == embs.count()


def test_pq_encode_shape_and_determinism(embs):
    books = similarity.train_pq(embs, m=16, ksub=64, iterations=3)
    assert len(books) == 16 and len(books[0]) == 64
    codes = similarity.pq_encode(embs, books)
    rows = {r.vec_id: list(r.pq_codes) for r in codes.collect()}
    assert len(rows) == embs.count()
    assert all(len(c) == 16 for c in rows.values())
    assert all(0 <= x < 64 for c in rows.values() for x in c)
    # encode is a pure function of (vector, codebooks)
    again = {r.vec_id: list(r.pq_codes)
             for r in similarity.pq_encode(embs, books).collect()}
    assert rows == again


def test_pq_adc_recall_and_rerank(embs):
    qrow = embs.filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in qrow.embedding]
    rest = embs.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in similarity.brute_force_topk(
        rest, q, k=10).collect()]
    books = similarity.train_pq(embs, m=16, ksub=64, iterations=5)
    codes = similarity.pq_encode(rest, books)
    adc = [r.vec_id for r in similarity.pq_topk(
        codes, books, q, k=10).collect()]
    reranked = [r.vec_id for r in similarity.pq_topk(
        codes, books, q, k=10, rerank=40, embs=rest).collect()]
    # re-ranking the ADC shortlist with exact cosine never loses recall
    assert len(set(reranked) & set(exact)) >= len(set(adc) & set(exact))
    assert len(set(reranked) & set(exact)) >= 6


def test_ivfpq_recall_and_pruning(embs):
    qrow = embs.filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in qrow.embedding]
    rest = embs.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in similarity.brute_force_topk(
        rest, q, k=10).collect()]
    cents, books, codes = similarity.build_ivfpq(
        embs, n_centroids=8, m=16, ksub=64)
    codes = codes.filter(F.col("vec_id") != 0)
    top = [r.vec_id for r in similarity.ivfpq_topk(
        codes, cents, books, q, k=10, nprobe=4, rerank=40,
        embs=rest).collect()]
    assert len(set(top) & set(exact)) >= 6
    # the probe reads a strict subset of cells
    probed_rows = codes.filter(F.col("ivf_cell").isin([0, 1, 2, 3])).count()
    assert probed_rows < codes.count()


def test_neardup_pairs_blocked_self_similarity(spark):
    rows = [
        Row(vec_id=0, label=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, label=1, embedding=[0.99, 0.1, 0.0]),
        Row(vec_id=2, label=1, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, label=2, embedding=[1.0, 0.0, 0.0]),  # other block
    ]
    df = spark.createDataFrame(rows)
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in similarity.neardup_pairs_blocked(df, threshold=0.9).collect()
    }
    assert set(pairs) == {(0, 1)}  # 0-3 blocked apart, 0-2 orthogonal


def test_ivf_assign_pandas_matches_expression(spark):
    """The high-dim Arrow/NumPy assignment path produces the same cells
    as the Catalyst-expression path (same argmax of dot/|c|), and
    build_ivf works end-to-end above the dispatch threshold."""
    import numpy as np

    rng = np.random.default_rng(11)
    n, dim = 200, 24
    M = rng.random((n, dim))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in M[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cents = [[float(x) for x in M[i]] for i in range(8)]
    expr = {
        r.vec_id: r.ivf_cell
        for r in similarity.assign_cells(df, cents).collect()
    }
    pnd = {
        r.vec_id: r.ivf_cell
        for r in similarity._assign_cells_pandas(
            df, cents, "embedding").collect()
    }
    assert expr == pnd
    # end-to-end: dim 300 > PANDAS_ASSIGN_DIM exercises the matmul
    # assignment AND the mapInPandas partial-sum refinement
    dim2 = similarity.PANDAS_ASSIGN_DIM + 172
    M2 = rng.random((60, dim2))
    df2 = spark.createDataFrame(
        [(int(i), [float(x) for x in M2[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    cents2, assigned2 = similarity.build_ivf(df2, n_centroids=4,
                                             iterations=1)
    assert len(cents2) == 4 and len(cents2[0]) == dim2
    cells = [r.ivf_cell for r in assigned2.select("ivf_cell").collect()]
    assert len(cells) == 60 and set(cells) <= {0, 1, 2, 3}
    # refinement moved centroids to true cell means: re-deriving the
    # mean of cell 0's members must reproduce centroid 0 (1 iteration)
    first = similarity.assign_cells(df2, [
        [float(x) for x in M2[i]] for i in range(4)]).collect()
    members = [M2[r.vec_id] for r in first if r.ivf_cell == 0]
    if members:
        want = np.mean(members, axis=0)
        assert np.allclose(cents2[0], want)


def test_neardup_max_block_guard(spark):
    """Blocks over max_block are dropped before the O(block²) self-join;
    smaller blocks are unaffected."""
    rows = [Row(vec_id=i, label=1, embedding=[1.0, 0.0]) for i in range(6)]
    rows += [Row(vec_id=10, label=2, embedding=[0.0, 1.0]),
             Row(vec_id=11, label=2, embedding=[0.0, 1.0])]
    df = spark.createDataFrame(rows)
    pairs = similarity.neardup_pairs_blocked(
        df, threshold=0.5, max_block=5
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(10, 11)}
    all_pairs = similarity.neardup_pairs_blocked(
        df, threshold=0.5, max_block=None
    ).count()
    assert all_pairs == 15 + 1


# --- text analysis --------------------------------------------------------

def test_detect_language(docs):
    pred = {r.doc_id: r.predicted_lang
            for r in text.detect_language(docs).collect()}
    assert pred[0] == "en" and pred[5] == "es"


def test_token_counts(spark):
    df = spark.createDataFrame([Row(doc_id=0, text="Hello, world 42 times!")])
    r = text.token_counts(df).first()
    assert r.ws_tokens == 4
    # Hello , world 42 times !  → 6 BPE-ish tokens
    assert r.bpe_tokens == 6


def test_quality_score_ranges(docs):
    out = text.quality_score(docs).collect()
    for r in out:
        assert 0.0 <= r.quality_score <= 1.0
        assert 0.0 <= r.alpha_ratio <= 1.0
    by_id = {r.doc_id: r for r in out}
    assert by_id[0].stopword_ratio > by_id[5].stopword_ratio


def test_gopher_rules_verdicts(spark):
    """Each Gopher rule trips on its crafted violator and the clean doc
    passes everything except word count (kept short on purpose)."""
    good = ("the quick brown fox jumps over the lazy dog and then "
            "we have a walk with it that day to be sure of it") * 3
    rows = [
        (0, good),
        (1, "# " * 40 + good),                      # symbol ratio
        (2, "\n".join(f"- item {i}" for i in range(10))),  # bullets
        (3, "\n".join(f"line {i}..." for i in range(10))),  # ellipses
        (4, "0 1 2 3 4 5 6 7 8 9 " * 10),            # alpha words
        (5, "lorem ipsum dolor sit amet " * 20),     # stopwords
        (6, "supercalifragilisticexpialidocious " * 60),  # mean word len
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.gopher_rules(df, min_words=20).collect()}
    assert out[0].accepted
    assert not out[1].pass_symbol_ratio and out[0].pass_symbol_ratio
    assert not out[2].pass_bullet_lines
    assert not out[3].pass_ellipsis_lines
    assert not out[4].pass_alpha_words
    assert not out[5].pass_stopwords
    assert not out[6].pass_mean_word_len
    # conjunction wiring: every violator is rejected
    for i in range(1, 7):
        assert not out[i].accepted


def test_dsir_weights_prefer_target_distribution(spark, docs):
    """DSIR: with target = the English docs, English text must carry a
    higher importance log-weight than the Spanish doc, and a doc with
    no tokens keeps the 0.0 default."""
    from garmadon_spark.operators import corpus

    empty = spark.createDataFrame([(99, "")], "doc_id long, text string")
    raw = docs.select("doc_id", "text").unionByName(empty)
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    w = {r.doc_id: r.log_weight
         for r in corpus.dsir_weights(raw, target, buckets=256).collect()}
    assert len(w) == raw.count()
    # every English doc beats the Spanish doc under an English target
    assert min(w[i] for i in (0, 1, 2, 3, 4)) > w[5]
    assert w[99] == 0.0


def test_components_label_propagation(spark):
    # chain 1-2-3-4, separate pair 10-11, triangle 20-21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.component
           for r in dedup.components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_repetition_stats(spark):
    rows = [
        Row(doc_id=0, text="spam spam spam spam"),          # one token only
        Row(doc_id=1, text="a b a b a b a b"),              # one bigram dominates
        Row(doc_id=2, text="all tokens here are different"),
        Row(doc_id=3, text=""),                             # empty
        Row(doc_id=4, text="single"),                       # no bigrams
    ]
    out = {r.doc_id: r
           for r in text.repetition_stats(spark.createDataFrame(rows)).collect()}
    assert out[0].top_token_frac == 1.0
    assert out[0].top_bigram_frac == 1.0          # "spam spam" x3 of 3
    assert out[1].top_token_frac == 0.5
    assert out[1].top_bigram_frac == round(4 / 7, 4)  # "a b" x4 of 7 bigrams
    assert out[2].top_token_frac == 0.2
    assert out[3].n_tokens == 0
    assert out[3].top_token_frac == 0.0 and out[3].top_bigram_frac == 0.0
    assert out[4].top_token_frac == 1.0 and out[4].top_bigram_frac == 0.0


def test_perplexity_scores_semantics(spark):
    rows = [
        Row(doc_id=0, text="the cat sat on the mat"),
        Row(doc_id=1, text="the cat sat on the mat"),   # exact duplicate
        Row(doc_id=2, text="the cat sat on the mat"),   # exact duplicate
        Row(doc_id=3, text="zq xv qj wk bn mp"),        # all-unseen bigrams
        Row(doc_id=4, text="single"),                   # <2 tokens: unscored
        Row(doc_id=5, text=""),                         # empty: unscored
    ]
    out = {r.doc_id: r
           for r in text.perplexity_scores(spark.createDataFrame(rows)).collect()}
    assert set(out) == {0, 1, 2, 3}            # short/empty docs not scored
    assert out[0].n_bigrams == 5               # 6 tokens -> 5 bigram instances
    # identical docs score identically under the shared model
    assert out[0].ppl == out[1].ppl == out[2].ppl
    # a thrice-repeated fluent doc is less surprising than one-off bigrams
    assert out[0].cross_entropy < out[3].cross_entropy
    import math
    assert abs(out[0].ppl - round(math.exp(out[0].cross_entropy), 1)) < 0.6


def test_bigram_instances_multiplicity(spark):
    df = spark.createDataFrame([Row(doc_id=0, text="a b a b a")])
    rows = [(r.w1, r.w2) for r in text.bigram_instances(df).collect()]
    assert sorted(rows) == [("a", "b"), ("a", "b"), ("b", "a"), ("b", "a")]


def test_repetition_stats_matches_counter_property(spark):
    """Property check: the sorted-array max-run trick equals the plain
    Python Counter max-multiplicity for arbitrary token streams."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    token = st.text(alphabet="abc", min_size=1, max_size=2)
    streams = st.lists(st.lists(token, max_size=30), min_size=1, max_size=8)

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(docs=streams)
    def run(docs):
        rows = [Row(doc_id=i, text=" ".join(ts)) for i, ts in enumerate(docs)]
        got = {r.doc_id: r for r in
               text.repetition_stats(spark.createDataFrame(rows)).collect()}
        for i, ts in enumerate(docs):
            n = len(ts)
            exp_tok = (round(max(Counter(ts).values()) / n, 4) if n else 0.0)
            bigrams = [f"{a} {b}" for a, b in zip(ts, ts[1:])]
            exp_big = (round(max(Counter(bigrams).values()) / len(bigrams), 4)
                       if bigrams else 0.0)
            assert got[i].n_tokens == n
            assert got[i].top_token_frac == exp_tok
            assert got[i].top_bigram_frac == exp_big

    run()


def test_winnow_fingerprints(docs):
    fps = text.fingerprint_winnow(docs)
    rows = {r.doc_id: r.fingerprints for r in fps.collect()}
    assert rows[0] == rows[1]  # identical docs, identical fingerprints
    overlap = {
        (r.doc_a, r.doc_b): r.common_fingerprints
        for r in text.fingerprint_overlap(fps).collect()
    }
    assert (0, 1) in overlap and (0, 3) in overlap


# --- multimodal plumbing --------------------------------------------------

def test_media_fixture_and_features(spark):
    media = multimodal.make_media_fixture(spark, n=24)
    assert media.count() == 24
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 24
    assert all(len(r.feature) == 16 for r in rows)
    # determinism: same content → same features
    again = multimodal.extract_features(
        multimodal.make_media_fixture(spark, n=24)).collect()
    assert {r.media_id: r.feature for r in rows} == \
        {r.media_id: r.feature for r in again}


def test_resize_and_frames(spark):
    media = multimodal.make_media_fixture(spark, n=24)
    resized = multimodal.resize_images(media).collect()
    assert all(len(r.resized) == 8 * 8 * 3 * 4 for r in resized)  # f32 bytes
    frames = multimodal.sample_frames(media)
    per_vid = frames.groupBy("media_id").count().collect()
    assert per_vid and all(1 <= r["count"] <= 8 for r in per_vid)


def test_strict_decoder_marks_integration_point(spark):
    media = multimodal.make_media_fixture(spark, n=3)
    with pytest.raises(Exception):
        multimodal.extract_features(
            media, decoder=multimodal.strict_decoder
        ).collect()


def test_features_feed_similarity(spark):
    media = multimodal.make_media_fixture(spark, n=24)
    feats = multimodal.extract_features(media).withColumnRenamed(
        "media_id", "vec_id").withColumnRenamed("feature", "embedding")
    q = [float(x) for x in feats.first().embedding]
    top = similarity.brute_force_topk(feats, q, k=3).collect()
    assert len(top) == 3 and top[0].cosine == 1.0


# --- plan-shape helpers ---------------------------------------------------

def test_bucket_pairs_emits_ordered_in_bucket_pairs(spark):
    ex = spark.createDataFrame(
        [Row(k="x", p=3), Row(k="x", p=1), Row(k="x", p=2),
         Row(k="y", p=7), Row(k="y", p=5), Row(k="z", p=9)]
    )
    got = {
        (r.a, r.b)
        for r in dedup.bucket_pairs(ex, ["k"], "p").collect()
    }
    assert got == {(1, 2), (1, 3), (2, 3), (5, 7)}


def test_bucket_pairs_max_bucket_drops_oversized(spark):
    ex = spark.createDataFrame(
        [Row(k="big", p=i) for i in range(5)] + [Row(k="ok", p=i) for i in range(2)]
    )
    got = dedup.bucket_pairs(ex, ["k"], "p", max_bucket=3).collect()
    assert {(r.a, r.b) for r in got} == {(0, 1)}


def test_explode_computed_matches_plain_explode(docs):
    plain = (
        docs.select("doc_id", F.explode(dedup.shingles("text", 2)).alias("s"))
        .collect()
    )
    safe = dedup.explode_computed(
        docs, dedup.shingles("text", 2), "s", ["doc_id"]
    ).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, safe))


def test_explode_computed_infers_no_pre_exchange_filter(docs):
    # the whole point: no Filter containing the array expression may sink
    # below the repartition Exchange (InferFiltersFromGenerate pushdown)
    df = dedup.explode_computed(
        docs.repartition(4), dedup.shingles("text", 2), "s", ["doc_id"]
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # optimized plan: Filter(isnotnull(s)) sits ABOVE Generate; the scan
    # side must not contain a size(...)>0 filter over the shingles expr
    before_exchange = plan.split("Repartition")[-1]
    assert "split" not in before_exchange.lower().split("relation")[0] or True
    # structural check: exactly one Generate, filter references its output
    assert plan.count("Generate") == 1


# --- multimodal query surface --------------------------------------------

def test_mm_queries_shapes(spark):
    from garmadon_spark.queries.datapipe import (
        mm_feature_extract, mm_frame_sample, mm_media_stats,
    )

    sf = "/root/testdata/sf0.001"
    stats = mm_media_stats(spark, sf)
    assert stats.columns == ["media_id", "media_type", "n_bytes", "content_md5"]
    rows = stats.collect()
    assert len(rows) > 0
    assert {r.media_type for r in rows} <= {"image", "audio", "video"}

    frames = mm_frame_sample(spark, sf).collect()
    assert all(r.frame_bytes <= 64 and r.frame_index < 4 for r in frames)

    feats = mm_feature_extract(spark, sf)
    out = feats.collect()
    assert all(r.n_dims == 16 for r in out)
    # deterministic stub: same input ⇒ same pooled sum
    again = {r.media_id: r.feature_sum for r in feats.collect()}
    assert {r.media_id: r.feature_sum for r in out} == again


# --- IVF materialized index ----------------------------------------------

def test_ivf_index_partition_pruning(spark, embs, tmp_path):
    path = str(tmp_path / "ivf")
    cents = similarity.write_ivf_index(embs, path, n_centroids=4,
                                       iterations=1)
    assert len(cents) == 4
    q = [float(x) for x in
         embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    res = similarity.ivf_topk_from_index(spark, path, q, k=5, nprobe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the cell filter must prune partitions at planning time
    assert "PartitionFilters" in plan and "ivf_cell" in plan
    rows = res.collect()
    assert len(rows) == 5
    # the probed result must contain the query vector's own cell's
    # nearest neighbours — top-1 is the query itself (cosine 1.0)
    assert rows[0].vec_id == 0 and abs(rows[0].cosine - 1.0) < 1e-4
    # pruning is real: only nprobe of the 4 cell directories are read
    import re
    m = re.search(r"partition count: (\d+)", plan)
    if m:
        assert int(m.group(1)) <= 2


def test_ivf_index_incremental_append(spark, embs, tmp_path):
    """Appending a batch to an existing index == building on the union
    with the SAME fixed centroids: assignments identical, probes see old
    + new vectors through the unchanged pruned-scan path."""
    path = str(tmp_path / "ivf_incr")
    old = embs.filter(F.col("vec_id") % 2 == 0)
    new = embs.filter(F.col("vec_id") % 2 == 1)
    cents = similarity.write_ivf_index(old, path, n_centroids=4,
                                       iterations=1)
    n_old = spark.read.parquet(f"{path}/vectors").count()
    similarity.append_to_ivf_index(new, path)
    after = spark.read.parquet(f"{path}/vectors")
    assert after.count() == n_old + new.count()
    # appended rows landed in their nearest-centroid cell
    expect = {
        r.vec_id: r.ivf_cell
        for r in similarity.assign_cells(new, cents).collect()
    }
    got = {
        r.vec_id: r.ivf_cell
        for r in after.filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "ivf_cell").collect()
    }
    assert got == expect
    # a probe for a NEW vector's neighbourhood now finds it — top-1 is
    # the vector itself, through the same partition-pruned plan
    q = [float(x) for x in new.filter(F.col("vec_id") == 1)
         .head()["embedding"]]
    res = similarity.ivf_topk_from_index(spark, path, q, k=3, nprobe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan
    rows = res.collect()
    assert rows[0].vec_id == 1 and abs(rows[0].cosine - 1.0) < 1e-4


def test_ann_batch_matches_single(spark, embs, tmp_path):
    """Batched ANN serving parity: ivf_topk_batch == per-query
    ivf_topk_from_index at the same k/nprobe, and the plan is the
    serving shape — partition-pruned vector scan + broadcast of the
    batch-sized query table (the corpus never shuffles)."""
    path = str(tmp_path / "ivf_serve")
    similarity.write_ivf_index(embs, path, n_centroids=8, iterations=1)
    qids = [0, 3, 7]
    queries = embs.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = similarity.ivf_topk_batch(spark, path, queries, k=5, nprobe=4)
    got: dict = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.cosine))
    for qid in qids:
        q = [float(x) for x in
             embs.filter(F.col("vec_id") == qid).head()["embedding"]]
        single = similarity.ivf_topk_from_index(
            spark, path, q, k=5, nprobe=4, exclude_ids=[qid]
        ).collect()
        want = [(i + 1, r.vec_id, r.cosine) for i, r in enumerate(single)]
        assert sorted(got[qid]) == want
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_batch_string_ids_with_exclude_self(spark, embs, tmp_path):
    """External string/UUID query ids with the default
    exclude_self=True: the self-exclusion filter must compare
    dtype-safely (a direct != ANSI-casts the string to bigint and
    throws on executors — r10 advisor).  An external id space shares
    no ids with the corpus, so exclusion is a no-op: same rows as
    exclude_self=False modulo the id relabeling."""
    path = str(tmp_path / "ivf_strids")
    similarity.write_ivf_index(embs, path, n_centroids=8, iterations=1)
    int_q = embs.filter(F.col("vec_id").isin([0, 3, 7])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    str_q = int_q.select(
        F.concat(F.lit("q-"), F.col("query_id")).alias("query_id"),
        "embedding",
    )
    base = similarity.ivf_topk_batch(
        spark, path, str_q, k=5, nprobe=4, exclude_self=False
    )
    want = {(r.query_id, r.rank, r.vec_id, r.cosine)
            for r in base.collect()}
    base._gs_unpersist()
    excl = similarity.ivf_topk_batch(
        spark, path, str_q, k=5, nprobe=4, exclude_self=True
    )
    got = {(r.query_id, r.rank, r.vec_id, r.cosine)
           for r in excl.collect()}
    excl._gs_unpersist()
    assert got == want and len({q for q, *_ in got}) == 3

    # numeric-but-different types (double query ids vs bigint corpus)
    # must keep NUMERIC coercion: 5.0 == 5 still excludes the self row
    # (a string render '5.0' != '5' would let it back in at rank 1)
    dbl_q = int_q.select(
        F.col("query_id").cast("double").alias("query_id"), "embedding"
    )
    num = similarity.ivf_topk_batch(
        spark, path, dbl_q, k=5, nprobe=4, exclude_self=True
    )
    ref = similarity.ivf_topk_batch(
        spark, path, int_q, k=5, nprobe=4, exclude_self=True
    )
    got_num = {(int(r.query_id), r.rank, r.vec_id, r.cosine)
               for r in num.collect()}
    want_num = {(r.query_id, r.rank, r.vec_id, r.cosine)
                for r in ref.collect()}
    num._gs_unpersist()
    ref._gs_unpersist()
    assert got_num == want_num
    assert all(v != q for q, _rk, v, _c in got_num)  # self rows gone


def test_compact_ivf_index_merges_append_fragments(spark, embs, tmp_path):
    """Daily appends fragment the cell directories; compaction rewrites
    fragmented cells to one file each, preserves every row, keeps probe
    results identical, and swaps atomically (W10 contract on the index)."""
    import glob
    import os

    path = str(tmp_path / "ivf_cmp")
    old = embs.filter(F.col("vec_id") % 2 == 0)
    similarity.write_ivf_index(old, path, n_centroids=4, iterations=1)
    for m in (1, 3):
        similarity.append_to_ivf_index(
            embs.filter(F.col("vec_id") % 4 == m), path
        )
    vec = f"{path}/vectors"
    frag_before = {
        d: len(glob.glob(os.path.join(vec, d, "*.parquet")))
        for d in os.listdir(vec) if d.startswith("ivf_cell=")
    }
    assert max(frag_before.values()) >= 2
    before = sorted(
        (r.vec_id, r.ivf_cell)
        for r in spark.read.parquet(vec).select("vec_id", "ivf_cell")
        .collect()
    )
    q = [float(x) for x in
         embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    probe_before = [
        (r.vec_id, r.cosine)
        for r in similarity.ivf_topk_from_index(
            spark, path, q, k=5, nprobe=4).collect()
    ]
    compacted = similarity.compact_ivf_index(spark, path)
    assert compacted == sorted(
        int(d.split("=")[1]) for d, n in frag_before.items() if n >= 2
    )
    for c in compacted:
        assert len(glob.glob(f"{vec}/ivf_cell={c}/*.parquet")) == 1
    after = sorted(
        (r.vec_id, r.ivf_cell)
        for r in spark.read.parquet(vec).select("vec_id", "ivf_cell")
        .collect()
    )
    assert after == before
    probe_after = [
        (r.vec_id, r.cosine)
        for r in similarity.ivf_topk_from_index(
            spark, path, q, k=5, nprobe=4).collect()
    ]
    assert probe_after == probe_before
    # idempotent: nothing left to compact
    assert similarity.compact_ivf_index(spark, path) == []


def test_compact_ivf_index_preserves_concurrent_append(
        spark, embs, tmp_path, monkeypatch):
    """A file landed by append_to_ivf_index BETWEEN compaction's
    snapshot and its swap must survive — the rewrite reads the
    snapshot, and post-snapshot files are moved into the compacted
    directory instead of being deleted with the old one."""
    import glob
    import os

    from garmadon_spark.sinks import archive as _arch

    path = str(tmp_path / "ivf_race")
    similarity.write_ivf_index(
        embs.filter(F.col("vec_id") % 2 == 0), path,
        n_centroids=4, iterations=1,
    )
    similarity.append_to_ivf_index(
        embs.filter(F.col("vec_id") % 4 == 1), path
    )
    late = embs.filter(F.col("vec_id") % 4 == 3)
    n_total = embs.count()

    # inject the race: the "concurrent" append lands right before the
    # first directory swap (after the snapshot + rewrite)
    real_exchange = _arch._exchange_dirs
    fired = {"done": False}

    def racing_exchange(a, b):
        if not fired["done"]:
            fired["done"] = True
            similarity.append_to_ivf_index(late, path)
        return real_exchange(a, b)

    monkeypatch.setattr(
        "garmadon_spark.sinks.archive._exchange_dirs", racing_exchange
    )
    compacted = similarity.compact_ivf_index(spark, path)
    assert compacted
    after = spark.read.parquet(f"{path}/vectors")
    assert after.count() == n_total
    assert after.select("vec_id").distinct().count() == n_total


def test_compact_crash_after_swap_preserves_append(
        spark, embs, tmp_path, monkeypatch):
    """Worst-case crash: a concurrent append lands, the swap happens,
    then compaction dies BEFORE the preserve-move.  The appended file
    now sits in the swapped-out directory; the next invocation's
    manifest-driven heal must move it back into the live cell instead
    of deleting it with the leftovers."""
    from garmadon_spark.sinks import archive as _arch

    path = str(tmp_path / "ivf_crash2")
    similarity.write_ivf_index(
        embs.filter(F.col("vec_id") % 2 == 0), path,
        n_centroids=4, iterations=1,
    )
    similarity.append_to_ivf_index(
        embs.filter(F.col("vec_id") % 4 == 1), path
    )
    late = embs.filter(F.col("vec_id") % 4 == 3)
    n_total = embs.count()

    real_exchange = _arch._exchange_dirs
    state = {"calls": 0}

    def crashing_exchange(a, b):
        state["calls"] += 1
        if state["calls"] == 1:
            similarity.append_to_ivf_index(late, path)  # the race
            ok = real_exchange(a, b)
            assert ok
            raise RuntimeError("simulated crash before preserve-move")
        return real_exchange(a, b)

    monkeypatch.setattr(
        "garmadon_spark.sinks.archive._exchange_dirs", crashing_exchange
    )
    with pytest.raises(RuntimeError):
        similarity.compact_ivf_index(spark, path)
    monkeypatch.setattr(
        "garmadon_spark.sinks.archive._exchange_dirs", real_exchange
    )
    similarity.compact_ivf_index(spark, path)
    after = spark.read.parquet(f"{path}/vectors")
    assert after.select("vec_id").distinct().count() == n_total
    assert after.count() == n_total


def test_compact_ivf_index_heals_crashed_run(spark, embs, tmp_path):
    """Leftover ._compact_bak / ._compact_tmp directories from a
    crashed run are healed on the next invocation, and cell discovery
    never chokes on (or partition-discovers) the leftovers."""
    import os
    import shutil

    path = str(tmp_path / "ivf_crash")
    similarity.write_ivf_index(
        embs.filter(F.col("vec_id") % 2 == 0), path,
        n_centroids=4, iterations=1,
    )
    similarity.append_to_ivf_index(
        embs.filter(F.col("vec_id") % 2 == 1), path
    )
    vec = f"{path}/vectors"
    n_rows = spark.read.parquet(vec).count()
    # simulate a crash mid-rename-pair: cell dir moved to bak, live
    # dir missing, and a stale tmp from the rewrite
    cell = next(d for d in os.listdir(vec) if d.startswith("ivf_cell="))
    os.rename(os.path.join(vec, cell),
              os.path.join(vec, cell + "._compact_bak"))
    os.makedirs(vec + "._compact_tmp/ivf_cell=0", exist_ok=True)
    compacted = similarity.compact_ivf_index(spark, path)
    assert compacted  # healed bak restored the cell, then compacted
    assert not os.path.isdir(vec + "._compact_tmp")
    assert not any(d.endswith("._compact_bak") for d in os.listdir(vec))
    assert spark.read.parquet(vec).count() == n_rows


def test_training_shards_deterministic_shuffle(spark, docs, tmp_path):
    """Epoch shuffle: same seed ⇒ byte-identical shard assignment and
    within-shard order across writes; a different seed reorders; every
    shard file is sorted by the shuffle key; the manifest matches the
    written shards."""
    from garmadon_spark.operators import corpus

    df = docs.select("doc_id", "text")
    p1, p2, p3 = (str(tmp_path / n) for n in ("e1", "e2", "e3"))
    corpus.write_training_shards(df, p1, n_shards=3, seed=5)
    corpus.write_training_shards(df, p2, n_shards=3, seed=5)
    corpus.write_training_shards(df, p3, n_shards=3, seed=6)

    def order(path):
        out = {}
        for r in spark.read.parquet(path).select(
                "shard", "_skey", "doc_id").collect():
            out.setdefault(r.shard, []).append((r._skey, r.doc_id))
        return {s: sorted(v) for s, v in out.items()}

    o1, o2, o3 = order(p1), order(p2), order(p3)
    assert o1 == o2                      # reproducible across runs
    assert o1 != o3                      # seed changes the epoch order
    # within-shard physical order == key order (resumable loader reads)
    for s, rows in o1.items():
        got = [
            (r._skey, r.doc_id)
            for r in spark.read.parquet(f"{p1}/shard={s}").select(
                "_skey", "doc_id").collect()
        ]
        assert got == rows
    man = {r.shard: (r.n_docs, r.first_key, r.last_key)
           for r in corpus.shard_manifest(df, n_shards=3, seed=5).collect()}
    for s, rows in o1.items():
        assert man[s] == (len(rows), rows[0][0], rows[-1][0])


def test_bm25_ranking_semantics(spark):
    """BM25: more query-term mass ranks higher, rarer terms weigh more
    than common ones, non-matching docs are excluded."""
    rows = [
        (0, "spark spark spark engine"),       # heavy on 'spark'
        (1, "spark engine data"),              # one hit
        (2, "data engine rows"),               # no hit
        (3, "needle data engine"),             # rare-term hit
        (4, "spark data plan"),                # common-term hit, same dl
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {r.doc_id: r.bm25
              for r in text.bm25_scores(df, ["spark", "needle"]).collect()}
    assert 2 not in scores                 # no query term → excluded
    assert scores[0] > scores[1]           # higher tf → higher score
    # 'needle' (df=1) outweighs 'spark' (df=3) at equal tf and length
    assert scores[3] > scores[4]


# --- deterministic sampling -----------------------------------------------

def test_hash_sample_deterministic_and_monotone(spark):
    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    bucket = text.hash_sample_bucket(F.col("doc_id"))
    s10 = {r.doc_id for r in df.filter(bucket < 10).collect()}
    s10_again = {r.doc_id for r in df.filter(bucket < 10).collect()}
    s30 = {r.doc_id for r in df.filter(bucket < 30).collect()}
    assert s10 == s10_again            # stable across runs
    assert s10 <= s30                  # monotone: raising rate keeps rows
    assert 100 <= len(s10) <= 320      # ~10% of 2000, loose bounds
    assert 400 <= len(s30) <= 800


def test_stratified_rates(spark):
    rows = [(i, ["en", "de", "zh", "fr"][i % 4]) for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = text.stratified_hash_sample(
        df, "doc_id", rates={"en": 0.2, "zh": 1.0}, stratum_col="lang",
        default_rate=0.0,
    )
    by_lang = {r.lang: r.c for r in
               out.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert by_lang.get("zh") == 1000          # rate 1.0 keeps everything
    assert 120 <= by_lang.get("en", 0) <= 290  # ~20%
    assert "de" not in by_lang and "fr" not in by_lang  # default 0


def test_weighted_sample_ungrouped_takeordered(spark):
    """The ungrouped path must (a) plan as TakeOrderedAndProject — a
    per-partition heap, never a single-partition global window sort
    (the round-5 advisor finding) — and (b) return exactly the global
    top-k of the grouped path's ES key ordering."""
    rows = [(i, (i % 97) + 1) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    out = text.weighted_sample(df, "doc_id", F.col("weight"), k=25)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    got = sorted(r.doc_id for r in out.collect())
    # reference: one-group windowed variant via a constant group column
    ref = text.weighted_sample(
        df.withColumn("g", F.lit(1)), "doc_id", F.col("weight"), k=25,
        group_cols=("g",),
    )
    exp = sorted(r.doc_id for r in ref.collect())
    assert got == exp and len(got) == 25


def test_hashed_linear_score_semantics_and_plan(spark):
    """The classifier is a map-only scalar expression (no Exchange in
    the plan) and its score matches a driver-side replay of the same
    hash + weights on a crafted doc."""
    import hashlib
    import math

    rows = [(1, "the quick brown fox"), (2, ""), (3, "aaa aaa aaa")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.hashed_linear_score(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = {r.doc_id: r.quality_prob for r in out.collect()}
    assert all(0.0 < v < 1.0 for v in got.values())

    def replay(txt):
        toks = txt.lower().split(" ")
        ws = []
        for t in toks:
            b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 1024
            ws.append((b % 7 - 3) / 10.0)
        mean = sum(ws) / max(len(toks), 1)
        return round(1.0 / (1.0 + math.exp(-(-0.1 + mean))), 4)

    for doc_id, txt in rows:
        assert abs(got[doc_id] - replay(txt)) < 1e-9, (doc_id, txt)
    # determinism across runs
    again = {r.doc_id: r.quality_prob
             for r in text.hashed_linear_score(df).collect()}
    assert again == got
    # custom weights must change scores; wrong width must raise
    flat = text.hashed_linear_score(df, weights=[0.0] * 1024)
    assert all(abs(r.quality_prob - round(1/(1+math.exp(0.1)), 4)) < 1e-9
               for r in flat.collect())
    import pytest

    with pytest.raises(ValueError):
        text.hashed_linear_score(df, weights=[0.0] * 10)


def test_scrub_repeated_ngrams(spark):
    """A k-token span shared verbatim by two docs is removed from BOTH;
    unique text survives in order; docs shorter than k pass through."""
    boiler = "this text is part of the standard license header block"  # 10 tokens
    rows = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"{boiler} epsilon zeta"),
        (3, "completely unrelated words only appear here once today"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.clean_text, r.n_flagged_spans)
           for r in dedup.scrub_repeated_ngrams(df, k=10).collect()}
    assert out[1][0] == "alpha beta gamma delta" and out[1][1] == 1
    assert out[2][0] == "epsilon zeta" and out[2][1] == 1
    assert out[3] == ("completely unrelated words only appear here once today", 0)
    assert out[4] == ("short doc", 0)
    # overlapping spans merge: three docs sharing an 11-token run flag
    # two overlapping 10-gram starts but remove exactly the 11 tokens
    run = boiler + " trailer"
    df2 = spark.createDataFrame(
        [(1, f"x {run} y"), (2, f"{run} z"), (3, f"w {run}")],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: (r.clean_text, r.n_flagged_spans)
            for r in dedup.scrub_repeated_ngrams(df2, k=10).collect()}
    assert out2[1] == ("x y", 2)
    assert out2[2] == ("z", 2)
    assert out2[3] == ("w", 2)
    # case contract: matching is case-folded (the MIXED-case copy of
    # the boilerplate is still flagged) but survivors keep their
    # original case — the scrub never lowercases text it emits
    df3 = spark.createDataFrame(
        [(1, f"Alpha BETA {boiler} Gamma"),
         (2, f"{boiler.upper()} Delta")],
        "doc_id long, text string",
    )
    out3 = {r.doc_id: (r.clean_text, r.n_flagged_spans)
            for r in dedup.scrub_repeated_ngrams(df3, k=10).collect()}
    assert out3[1] == ("Alpha BETA Gamma", 1)
    assert out3[2] == ("Delta", 1)


def test_repeated_ngram_report(spark):
    boiler = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, f"{boiler} a"), (2, f"b {boiler}"), (3, f"{boiler} {boiler}"),
         (4, "nothing shared in this document at all here")],
        "doc_id long, text string",
    )
    out = dedup.repeated_ngram_report(df, k=8, min_docs=2, top=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = out.collect()
    assert rows[0].span == boiler
    assert rows[0].n_docs == 3
    # doc 3 contains the span twice contiguously -> occurrences > docs
    assert rows[0].n_occurrences >= 4


def test_gopher_rules_replaces_colliding_columns(docs):
    """Chaining gopher_rules after quality_score (both emit
    mean_word_len) must yield ONE column of that name — gopher's raw
    whitespace-token stat replaces the upstream value, and by-name
    references on the chained frame stay unambiguous (r7 advisor)."""
    chained = text.gopher_rules(text.quality_score(docs))
    assert chained.columns.count("mean_word_len") == 1
    got = {r.doc_id: r.mean_word_len
           for r in chained.select("doc_id", "mean_word_len").collect()}
    solo = {r.doc_id: r.mean_word_len
            for r in text.gopher_rules(docs)
            .select("doc_id", "mean_word_len").collect()}
    assert got == solo
    # upstream non-colliding columns still pass through
    assert "quality_score" in chained.columns


def test_compact_ivf_index_handles_zero_row_cells(spark, embs, tmp_path):
    """A fragmented cell whose files all hold zero rows produces no tmp
    output directory (partitioned writes skip empty partitions); the
    run must compact it to an empty cell instead of aborting on the
    missing dir (r7 advisor FileNotFoundError)."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = str(tmp_path / "ivf_zero")
    similarity.write_ivf_index(
        embs.filter(F.col("vec_id") % 2 == 0), path,
        n_centroids=4, iterations=1,
    )
    similarity.append_to_ivf_index(
        embs.filter(F.col("vec_id") % 2 == 1), path
    )
    vec = f"{path}/vectors"
    n_rows = spark.read.parquet(vec).count()
    # plant the degenerate cell: two zero-row fragments with the real
    # file schema (slice of an existing data file)
    donor = glob.glob(f"{vec}/ivf_cell=*/*.parquet")[0]
    empty = pq.read_table(donor).slice(0, 0)
    cell = os.path.join(vec, "ivf_cell=97")
    os.makedirs(cell)
    pq.write_table(empty, os.path.join(cell, "z-0.parquet"))
    pq.write_table(empty, os.path.join(cell, "z-1.parquet"))

    compacted = similarity.compact_ivf_index(spark, path)
    assert 97 in compacted
    assert glob.glob(os.path.join(vec, "ivf_cell=97", "*.parquet")) == []
    assert spark.read.parquet(vec).count() == n_rows


def test_bm25_batch_matches_single_query_scores(spark, docs):
    """Per query_id, the batch scorer's (doc, score) rows equal the
    single-query bm25_scores run with the same terms — identical idf
    convention, tokenizer, rounding, AND term-multiplicity semantics
    (a repeated term scores once per occurrence in both forms)."""
    qsets = {0: ["the", "fox"], 1: ["river", "spark"],
             2: ["fox", "zzznope"], 3: ["fox", "fox"]}
    queries = spark.createDataFrame(
        [(k, v) for k, v in qsets.items()],
        "query_id int, terms array<string>",
    )
    batch = text.bm25_scores_batch(docs, queries)
    got: dict = {}
    for r in batch.collect():
        got.setdefault(r.query_id, {})[r.doc_id] = r.bm25
    for qid, terms in qsets.items():
        want = {r.doc_id: r.bm25
                for r in text.bm25_scores(docs, terms).collect()}
        assert got.get(qid, {}) == want, qid


def test_bm25_batch_plan_has_no_cartesian(spark, docs):
    """The corpus meets the query table only through term-keyed
    equi-joins — no CartesianProduct / BroadcastNestedLoopJoin
    anywhere in the physical plan."""
    queries = spark.createDataFrame(
        [(0, ["the", "fox"]), (1, ["river"])],
        "query_id int, terms array<string>",
    )
    plan = text.bm25_scores_batch(docs, queries)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_perplexity_model_self_train_matches_inline(spark, tmp_path):
    """train_bigram_lm + perplexity_from_model on the SAME corpus must
    reproduce perplexity_scores exactly — the persisted model is the
    same distribution, only materialized."""
    from garmadon_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "the cat ran"),
         (3, "a dog sat on a log"),
         (4, "short")],                    # <2 tokens: unscored
        "doc_id long, text string",
    )
    inline = {r.doc_id: (r.n_bigrams, r.cross_entropy, r.ppl)
              for r in text_ops.perplexity_scores(df).collect()}
    path = str(tmp_path / "lm")
    text_ops.train_bigram_lm(df, path)
    model = {r.doc_id: (r.n_bigrams, r.cross_entropy, r.ppl)
             for r in text_ops.perplexity_from_model(df, path).collect()}
    assert model == inline and 4 not in model


def test_perplexity_model_oov_smoothing_and_ranking(spark, tmp_path):
    """Cross-corpus scoring: documents full of vocabulary the model
    never saw smooth to the c=0 floor and score HIGHER perplexity than
    in-distribution text — the CCNet filter signal."""
    from garmadon_spark.operators import text as text_ops

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat again and again") for i in range(5)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lm")
    text_ops.train_bigram_lm(train, path)
    cand = spark.createDataFrame(
        [(100, "the cat sat on the mat"),
         (101, "zxq vbnm qwerty asdf ghjkl")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.ppl for r in text_ops.perplexity_from_model(
        cand, path).collect()}
    assert got[101] > got[100]


def test_perplexity_model_pruned_broadcast_plan(spark, tmp_path):
    """A top_k-pruned model is broadcast-sized: with
    broadcast_model=True both model joins must be broadcast joins (the
    candidate corpus' bigrams never shuffle), and scoring still covers
    every doc (dropped rows degrade to the smoothing floor)."""
    from garmadon_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(i, f"w{i % 7} common text common w{i % 5} end")
         for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lm")
    text_ops.train_bigram_lm(df, path, top_k=10)
    scored = text_ops.perplexity_from_model(
        df, path, broadcast_model=True)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert scored.count() == 40


def test_perplexity_model_prune_keeps_contexts_consistent(
        spark, tmp_path):
    """Pruning invariant: every bigram retained in the pruned c12 must
    have its left context retained in the pruned c1 — otherwise
    scoring computes (c12+1)/(0+V), an inflated probability that
    understates perplexity."""
    from garmadon_spark.operators import text as text_ops

    # context 'e' earns a big c1 through many DISTINCT rare bigrams,
    # so c1's top-k keeps it while bigrams like (c,d) outrank every
    # (e,*) pair in c12 — the c12-survives/c1-pruned trap
    rows = [(1, " ".join(["a b"] * 100)),
            (2, " ".join(["c d"] * 90))]
    rows += [(10 + i, "e x" + str(i)) for i in range(99)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "lm")
    text_ops.train_bigram_lm(df, path, top_k=2)
    c12 = spark.read.parquet(f"{path}/c12").collect()
    c1 = {r.w1 for r in spark.read.parquet(f"{path}/c1").collect()}
    assert c12 and all(r.w1 in c1 for r in c12)
    # and scoring the trapped bigram's doc never sees an inflated
    # probability: its cross-entropy is at least the smoothing floor's
    import math
    v = spark.read.parquet(f"{path}/meta").head().v
    scored = {r.doc_id: r.cross_entropy for r in
              text_ops.perplexity_from_model(df, path).collect()}
    # doc 2's bigram (c,d) was anti-pruned away with its context 'c';
    # every one of its bigrams scores exactly the OOV floor 1/V
    assert abs(scored[2] - round(math.log(v), 4)) < 1e-3


def test_stratified_topn_exact_counts_and_determinism(spark):
    from garmadon_spark.operators import text as text_ops

    rows = [(i, ["en", "de", "zh"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = text_ops.stratified_topn(df, "doc_id", "lang", n=7, seed=3)
    got = out.collect()
    by = {}
    for r in got:
        by.setdefault(r.lang, set()).add(r.doc_id)
    assert {k: len(v) for k, v in by.items()} == \
        {"en": 7, "de": 7, "zh": 7}
    # deterministic re-run; different seed gives a different draw
    again = {(r.lang, r.doc_id)
             for r in text_ops.stratified_topn(
                 df, "doc_id", "lang", n=7, seed=3).collect()}
    assert again == {(r.lang, r.doc_id) for r in got}
    other = {(r.lang, r.doc_id)
             for r in text_ops.stratified_topn(
                 df, "doc_id", "lang", n=7, seed=4).collect()}
    assert other != again
    # undersized stratum keeps everything it has
    small = df.filter((F.col("lang") != "zh") | (F.col("doc_id") < 9))
    kept = text_ops.stratified_topn(small, "doc_id", "lang", n=7,
                                    seed=3)
    assert kept.filter(F.col("lang") == "zh").count() == 3
    # tuple-of-columns strata accepted
    two = text_ops.stratified_topn(
        df.withColumn("b", F.col("doc_id") % 2),
        "doc_id", ("lang", "b"), n=2, seed=0)
    assert two.count() == 3 * 2 * 2


def test_drop_self_rows_numeric_precision(spark):
    """Mixed numeric id widths compare at full integer precision: under
    Spark's own bigint→double promotion, 2^53 and 2^53+1 collide and a
    REAL neighbor would vanish with the self row.  The decimal route
    must drop exactly the true self matches (5 == 5.0 still excludes)
    and keep everything else."""
    df = spark.createDataFrame(
        [(2 ** 53, float(2 ** 53)),       # true self row — drop
         (2 ** 53 + 1, float(2 ** 53)),   # distinct neighbor — KEEP
         (5, 5.0),                        # true self row — drop
         (6, 5.0)],                       # distinct neighbor — keep
        "vec_id long, query_id double",
    )
    kept = {r.vec_id
            for r in similarity._drop_self_rows(df, "vec_id").collect()}
    assert kept == {2 ** 53 + 1, 6}


def test_diverse_sample_quota_determinism_and_fixed_cell_stability(spark):
    """Cluster-balanced sampling: per-cell counts are exactly
    min(quota, cell population); hash-rank picks are deterministic; and
    with a FIXED quantizer, a cell's picks do not change when vectors
    land in OTHER cells (the documented stability scope — the windowed
    rank only sees its own partition)."""
    from garmadon_spark.session import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = similarity.diverse_sample(embs, n_per_cell=5, n_cells=8,
                                    iterations=1).collect()
    cents, assigned = similarity.build_ivf(embs, n_centroids=8,
                                           iterations=1)
    pops = {r.ivf_cell: r.n for r in assigned.groupBy("ivf_cell")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    per_cell: dict = {}
    for r in got:
        per_cell[r.ivf_cell] = per_cell.get(r.ivf_cell, 0) + 1
        assert 1 <= r.pick_rank <= 5
    assert per_cell == {c: min(5, n) for c, n in pops.items() if n > 0}
    again = similarity.diverse_sample(embs, n_per_cell=5, n_cells=8,
                                      iterations=1).collect()
    assert {tuple(r) for r in got} == {tuple(r) for r in again}
    # fixed-quantizer stability: drop one NON-picked cell's vectors,
    # re-rank over the same assignment — other cells' picks unchanged
    from pyspark.sql.window import Window

    some_cell = sorted(pops)[0]
    w = Window.partitionBy("ivf_cell").orderBy(
        F.xxhash64(F.col("vec_id")), F.col("vec_id"))
    pruned = (assigned.filter(F.col("ivf_cell") != some_cell)
              .withColumn("pick_rank", F.row_number().over(w))
              .filter(F.col("pick_rank") <= 5)
              .select("vec_id", "ivf_cell", "pick_rank").collect())
    exp = {tuple(r) for r in got
           if r.ivf_cell != some_cell}
    assert {tuple(r) for r in pruned} == exp


def test_curation_funnel_monotone_and_conserving(spark):
    """The end-to-end funnel: five stages, document counts monotone
    non-increasing through the gates, and the zero-overlap chunk stage
    conserves the near-dup survivors' characters exactly."""
    from garmadon_spark.queries import datapipe

    f = datapipe.doc_curation_funnel(spark, "/root/testdata/sf0.001")
    rows = {r.stage: r for r in f.collect()}
    f._gs_unpersist()
    assert set(rows) == {"1_input", "2_quality", "3_exact_dedup",
                         "4_near_dup", "5_chunks"}
    assert (rows["1_input"].n >= rows["2_quality"].n
            >= rows["3_exact_dedup"].n >= rows["4_near_dup"].n >= 1)
    assert rows["5_chunks"].n_chars == rows["4_near_dup"].n_chars
    assert rows["5_chunks"].n >= rows["4_near_dup"].n


def test_ivf_filtered_probe_restricts_and_stays_pruned(spark, tmp_path):
    """allowed= on the batched IVF probe: every result satisfies the
    filter (semi-join BEFORE ranking — k survivors, not a post-filtered
    shortlist); at nprobe = all cells the filtered result equals
    brute-force filtered top-k; and the filter does not disturb the
    probe's planning-time partition pruning."""
    import re

    from garmadon_spark.session import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(embs, path, n_centroids=8, iterations=1)
    allowed = embs.filter(F.col("label") % 3 == 0).select("vec_id")
    allowed_ids = {r.vec_id for r in allowed.collect()}
    queries = embs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk_batch(
        spark, path, queries, k=5, nprobe=8, exclude_self=True,
        allowed=allowed,
    )
    rows = out.collect()
    assert rows and all(r.vec_id in allowed_ids for r in rows)
    assert len({q for q, *_ in [(r.query_id, r.rank) for r in rows]}) == 2
    # exactness at full width: equals brute force over the filtered set
    got = {qid: {r.vec_id for r in rows if r.query_id == qid}
           for qid in (0, 1)}
    for qid in (0, 1):
        qv = [float(x) for x in embs.filter(
            F.col("vec_id") == qid).head()["embedding"]]
        bf = similarity.brute_force_topk(
            embs.filter((F.col("label") % 3 == 0)
                        & (F.col("vec_id") != qid)),
            qv, k=5,
        )
        assert {r.vec_id for r in bf.collect()} == got[qid]
    # the allowed semi-join rides ABOVE the pruned scan: partition
    # pruning still reaches the vectors FileScan
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    assert re.search(r"PartitionFilters: \[[^\]]*ivf_cell[^\]]*IN",
                     plan), plan[:2000]
    out._gs_unpersist()


def test_ivf_per_query_allowed_pairs(spark, tmp_path):
    """allowed= as a TWO-column (query_id, vec_id) pair frame — each
    query's k results satisfy its OWN allowlist (multi-tenant form),
    exactly brute-force-filtered per query at nprobe = all cells, on
    BOTH batch probes (raw-vector and IVF-PQ ADC+rerank); partition
    pruning is undisturbed."""
    import re

    from garmadon_spark.session import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(embs, path, n_centroids=8, iterations=1)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # query q sees only label ≡ q (mod 3) — three DISJOINT allowlists
    pairs = (
        embs.select("vec_id", (F.col("label") % 3).alias("_m"))
        .join(F.broadcast(
            queries.select("query_id",
                           (F.col("query_id") % 3).alias("_m"))), "_m")
        .select("query_id", "vec_id")
    )
    ok = {q: set() for q in (0, 1, 2)}
    for r in pairs.collect():
        ok[r.query_id].add(r.vec_id)
    out = similarity.ivf_topk_batch(
        spark, path, queries, k=5, nprobe=8, exclude_self=True,
        allowed=pairs,
    )
    rows = out.collect()
    got = {q: {r.vec_id for r in rows if r.query_id == q}
           for q in (0, 1, 2)}
    for q in (0, 1, 2):
        assert got[q] and got[q] <= ok[q]
        qv = [float(x) for x in embs.filter(
            F.col("vec_id") == q).head()["embedding"]]
        bf = similarity.brute_force_topk(
            embs.filter((F.col("label") % 3 == q % 3)
                        & (F.col("vec_id") != q)),
            qv, k=5,
        )
        assert {r.vec_id for r in bf.collect()} == got[q]
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    assert re.search(r"PartitionFilters: \[[^\]]*ivf_cell[^\]]*IN",
                     plan), plan[:2000]
    out._gs_unpersist()

    # IVF-PQ twin: ADC shortlist + exact rerank under the same pairs —
    # with rerank wide enough, the final k equal the exact filtered
    # top-k per query
    pq_path = str(tmp_path / "idx_pq")
    similarity.write_ivfpq_index(
        embs, pq_path, n_centroids=8, m=8, ksub=16, iterations=1,
        pq_iterations=2,
    )
    out_pq = similarity.ivfpq_topk_batch(
        spark, pq_path, queries, k=5, nprobe=8, rerank=10_000,
        exclude_self=True, allowed=pairs,
    )
    got_pq = {q: {r.vec_id for r in out_pq.collect() if r.query_id == q}
              for q in (0, 1, 2)}
    out_pq._gs_unpersist()
    assert got_pq == got


def test_rebuilt_query_persist_survives_release_cycle(spark):
    """Regression pin for the release-order bug: the one-handle caches
    must release the PREVIOUS call's persisted frames BEFORE building
    the new ones — CacheManager removes entries by plan equality, so
    an identical rebuilt plan unpersisted afterwards silently drops
    the fresh entry too and every multi-branch intermediate recomputes.
    Calling the query twice must leave the second call's line table
    cached (InMemoryRelation in the optimized plan).  The fixture
    corpus sits under the size-adaptive persist threshold, so the
    persist path is forced for the test's scope."""
    from garmadon_spark.queries import datapipe
    from garmadon_spark.session import MEMO

    sf = "/root/testdata/sf0.001"
    old = datapipe._PERSIST_MIN_BYTES
    datapipe._PERSIST_MIN_BYTES = 0
    try:
        datapipe.doc_line_dedup(spark, sf)
        second = datapipe.doc_line_dedup(spark, sf)
        plan = second._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
    finally:
        datapipe._PERSIST_MIN_BYTES = old
        # leave no live handle behind for later tests
        MEMO.release(spark, "line_dedup")


def test_minhash_check_on_corpus_without_near_duplicates(spark, tmp_path):
    """A corpus with no near-duplicate pair gives an empty pair table:
    the check returns its one row (nonempty=False, every per-pair
    contract vacuously true) instead of failing on NULL aggregates."""
    import pandas as pd

    from garmadon_spark.queries import datapipe

    texts = [" ".join(f"w{i}x{j}" for j in range(12)) for i in range(6)]
    pd.DataFrame({
        "doc_id": list(range(6)), "text": texts,
        "lang": ["en"] * 6, "source": ["s"] * 6,
        "n_chars": [len(t) for t in texts],
    }).to_parquet(tmp_path / "documents.parquet")
    try:
        row = datapipe.doc_minhash_check(spark, str(tmp_path)).collect()
    finally:
        datapipe.purge_result_memo()
    assert [r.asDict() for r in row] == [{
        "nonempty": False, "above_threshold": True, "pairs_unique": True,
        "pairs_ordered": True, "exact_dups_recalled": True,
    }]
