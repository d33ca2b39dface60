"""Plan-shape pins: the physical-plan properties the engine's 100 TB
story depends on, asserted so refactors can't silently regress them.

Each test reads the executedPlan string — the same thing a human checks
with explain("formatted") — for: dimension joins staying broadcast,
filters reaching the parquet scan, scans pruning to the referenced
columns, and the bucketed layout eliminating the fact-join shuffle
(that last one lives in test_sinks_frames.py)."""

from __future__ import annotations

import os
import re

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch_dimension_joins_are_broadcast(spark):
    from garmadon_spark.queries import tpch

    for name in ("tpch_region_revenue", "tpch_volume_shipping",
                 "tpch_promo_revenue", "tpch_discounted_revenue"):
        plan = _plan(getattr(tpch, name)(spark, SF))
        assert "BroadcastHashJoin" in plan, name
        # no dimension join may fall back to a shuffle join at this SF
        assert "SortMergeJoin" not in plan, name


def test_waiting_suppliers_uses_native_semi_anti(spark):
    """Q21's EXISTS / NOT EXISTS must plan as Spark's native left-semi /
    left-anti joins — never a correlated per-row subquery or a cartesian
    product (the 100 TB killer for exists-shapes)."""
    from garmadon_spark.queries.tpch import tpch_waiting_suppliers

    plan = _plan(tpch_waiting_suppliers(spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_large_orders_aggregates_before_join(spark):
    """Q18's quantity rollup must run BEFORE the orders join — the plan
    has a HashAggregate below the join, so only the tiny >300-qty
    survivor set is ever joined."""
    from garmadon_spark.queries.tpch import tpch_large_orders

    plan = _plan(tpch_large_orders(spark, SF))
    join_pos = plan.find("Join")
    agg_pos = plan.rfind("HashAggregate")
    assert join_pos != -1 and agg_pos != -1
    # executedPlan prints top-down: a later (deeper) aggregate than the
    # join means the aggregate is a child of the join, i.e. runs first
    assert agg_pos > join_pos


def test_filtered_revenue_predicates_reach_scan(spark):
    """Q6 is THE pushdown benchmark: date range, discount band, and
    quantity cap must all appear in the parquet scan's PushedFilters."""
    from garmadon_spark.queries.tpch import tpch_filtered_revenue

    plan = _plan(tpch_filtered_revenue(spark, SF))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The bucketized range join must plan as an equi hash join on the
    bucket id — a raw BETWEEN join would be BroadcastNestedLoopJoin
    (O(points x intervals), the 100 TB killer)."""
    from garmadon_spark.queries.tpch import tpch_window_shipments

    plan = _plan(tpch_window_shipments(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Cartesian" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_filtered_stats_filter_reaches_scan(spark):
    from garmadon_spark.queries.dashboard import ev_filtered_stats

    plan = _plan(ev_filtered_stats(spark, SF))
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "event_type" in scan.split("DataFilters")[-1]


def test_scans_prune_columns(spark):
    from garmadon_spark.queries.datapipe import doc_token_stats
    from garmadon_spark.queries.tpch import tpch_promo_revenue

    plan = _plan(tpch_promo_revenue(spark, SF))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas
    li = next(s for s in schemas if "l_partkey" in s)
    # 11-column lineitem must narrow to the 4 referenced columns
    assert len(li.split(",")) == 4, li

    plan = _plan(doc_token_stats(spark, SF))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert all("text" in s or "doc_id" in s for s in schemas)


def test_contamination_eval_side_is_broadcast(spark):
    from garmadon_spark.queries.datapipe import doc_contamination

    plan = _plan(doc_contamination(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_jaccard_pairs_scans_corpus_once(spark):
    """The df-capped bucket_pairs formulation must evaluate the corpus
    ONE time — the exploded self-join it replaced scanned (and
    re-tokenized) its identical upstream twice."""
    from garmadon_spark.queries.datapipe import doc_jaccard_blocked

    plan = _plan(doc_jaccard_blocked(spark, SF))
    scans = [l for l in plan.splitlines()
             if "FileScan" in l and "documents" in l]
    assert len(scans) == 1, plan


def test_jaccard_tier_shares_common_counts(spark):
    """doc_containment / doc_dup_groups differ from doc_jaccard_blocked
    only in the O(pairs)-sized scoring select, so once the builder has
    published the common-counts table the consumers must read the
    memoized table (InMemoryTableScan) instead of re-running the
    explode → bucket → pair-expansion subtree (r14: 3 pair expansions
    per bench pass → 1)."""
    from garmadon_spark.queries.datapipe import (
        doc_containment, doc_dup_groups, doc_jaccard_blocked,
        purge_result_memo,
    )

    from garmadon_spark.queries.datapipe import _jaccard_common
    from garmadon_spark.session import MEMO, RESULT, probe

    purge_result_memo()
    try:
        doc_jaccard_blocked(spark, SF)  # builder publishes the counts
        plan = _plan(doc_containment(spark, SF))
        assert "InMemoryTableScan" in plan, plan
        # explain() dumps the InMemoryRelation's CHILD (build) plan
        # too; only the live fragment above it must be scan-free
        live = plan.split("InMemoryRelation")[0]
        scans = [l for l in live.splitlines()
                 if "FileScan" in l and "documents" in l]
        assert not scans, plan
        # doc_dup_groups checkpoints through components(), so its final
        # plan is an ExistingRDD scan — pin the reuse at the fetch:
        # the published handle IS what a consumer receives, and it is
        # the registry's RESULT entry for this corpus version
        published = MEMO.get(spark, RESULT,
                             ("jaccard_common", os.path.realpath(SF)),
                             probe(SF)[0])
        assert published is not None
        assert _jaccard_common(spark, SF) is published
        doc_dup_groups(spark, SF)  # must run green off the shared table
    finally:
        purge_result_memo()


def test_neardup_block_guard_is_broadcast_semi(spark):
    """The max_block census must reach the vectors as a broadcast
    LeftSemi — never a shuffle of the embedding column."""
    from garmadon_spark.queries.datapipe import emb_neardup_blocked

    plan = _plan(emb_neardup_blocked(spark, SF))
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan


def test_high_dim_assignment_is_arrow(spark):
    """Past PANDAS_ASSIGN_DIM the assignment must plan as an Arrow
    python eval (one matmul per batch), and below it must NOT (JVM
    expressions keep the oracle hash-stable)."""
    from pyspark.sql import Row

    from garmadon_spark.operators import similarity

    lo = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(4)])
    hi_dim = similarity.PANDAS_ASSIGN_DIM + 1
    hi = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i)] * hi_dim) for i in range(4)])
    cents_lo = [[1.0, 0.0], [0.0, 1.0]]
    cents_hi = [[1.0] * hi_dim, [0.5] * hi_dim]
    assert "ArrowEvalPython" not in _plan(
        similarity.assign_cells(lo, cents_lo))
    assert "ArrowEvalPython" in _plan(
        similarity.assign_cells(hi, cents_hi))


def test_ivf_probe_prunes_partitions(spark, tmp_path):
    from pyspark.sql import Row

    from garmadon_spark.operators import similarity

    embs = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 7), float(i % 3), 1.0])
         for i in range(64)]
    )
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(embs, path, n_centroids=4, iterations=1)
    probe = similarity.ivf_topk_from_index(
        spark, path, [1.0, 0.5, 1.0], k=5, nprobe=2
    )
    plan = _plan(probe)
    scan = next(l for l in plan.splitlines()
                if "FileScan" in l and "ivf_cell" in l)
    # the nprobe IN-filter must appear as a PartitionFilter (planning-
    # time directory pruning), not a post-scan Filter
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
    assert m and "ivf_cell" in m.group(1) and " IN " in m.group(1), scan
    assert probe.count() == 5


def test_corpus_filter_single_window_no_joins(spark):
    """doc_corpus_filter's plan contract: scan-side scalar gates + ONE
    Window (the content-hash group minimum), zero joins — the identical
    window expressions for pass_dedup and accepted must collapse into a
    single Window operator."""
    from garmadon_spark.queries.datapipe import doc_corpus_filter

    plan = _plan(doc_corpus_filter(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan
    assert len(re.findall(r"\bWindow\b", plan)) == 1


def test_compute_panel_filter_reaches_scan(spark):
    """The compute-dashboard panels' type equality must be a pushed
    parquet filter, not a post-scan residual-only predicate."""
    from garmadon_spark.queries.engine import (
        _corpus_tables,
    )
    from garmadon_spark.queries.panels import compute_node_capacity

    cm = _corpus_tables(spark, ("container_monitoring_event",))[
        "container_monitoring_event"
    ]
    plan = _plan(compute_node_capacity(cm))
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", scan)
    assert m and "type" in m.group(1), scan


def test_scalar_quality_tiers_are_shuffle_free(spark):
    """The r7 scalar tiers (Gopher rules, BM25 scoring, the chained
    agreement input) must stay map-only: no Exchange anywhere in the
    per-doc plan — at 100 TB these fuse into the scan or they don't
    ship."""
    from pyspark.sql import functions as F

    from garmadon_spark.operators import text
    from garmadon_spark.session import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = _plan(text.gopher_rules(docs))
    assert "Exchange" not in plan
    plan = _plan(text.bm25_scores(docs, ["spark", "query"]))
    assert "Exchange" not in plan
    plan = _plan(
        text.hashed_linear_score(
            text.gopher_rules(text.quality_score(docs)), keep_cols=True
        )
    )
    assert "Exchange" not in plan


def test_dsir_ratio_model_is_broadcast(spark):
    """DSIR per-doc weighting: the bucket-ratio model joins as a
    BroadcastHashJoin (model-sized side), the per-doc sum keeps a
    partial_sum before its exchange (map-side combine — the shuffle is
    corpus-rows-sized, not token-sized)."""
    from pyspark.sql import functions as F

    from garmadon_spark.operators import corpus
    from garmadon_spark.session import load_table

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang"
    )
    out = corpus.dsir_weights(
        docs, docs.filter(F.col("lang") == "en"), buckets=256
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_ivfpq_probe_prunes_code_partitions(spark, tmp_path):
    """The IVF-PQ ADC probe's codes scan partition-prunes at planning
    time exactly like the raw-vector probe: the nprobe cell set shows
    up in PartitionFilters, not a post-scan Filter — at 100 TB that is
    the difference between reading (nprobe/K)·(M/4D) of the corpus and
    reading all of it."""
    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivfpq")
    similarity.write_ivfpq_index(
        embs, path, n_centroids=8, m=16, ksub=16, iterations=1,
        pq_iterations=2, opq=True,
    )
    q = [float(x) for x in embs.head()["embedding"]]
    probe = similarity.ivfpq_topk_from_index(
        spark, path, q, k=5, nprobe=2
    )
    plan = _plan(probe)
    scan = next(l for l in plan.splitlines()
                if "FileScan" in l and "codes" in l)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
    assert m and "ivf_cell" in m.group(1) and " IN " in m.group(1), scan
    assert probe.count() == 5


def test_ivfpq_batch_probe_plan_is_serving_shape(spark, tmp_path):
    """The BATCHED ADC probe — what serve_ivfpq_stream runs every
    micro-batch — keeps the serving plan shape end to end: the codes
    scan partition-prunes to the probed-cell union at planning time,
    the batch-sized (query, cell) table broadcast-joins the pruned
    scan, and no SortMergeJoin appears anywhere (the corpus never
    shuffles).  Pinned for both the pure-ADC and rerank paths — the
    rerank's vectors lookup must broadcast the shortlist, not shuffle
    the vectors tree."""
    from pyspark.sql import functions as F

    from garmadon_spark.operators import similarity
    from garmadon_spark.session import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivfpq")
    similarity.write_ivfpq_index(
        embs, path, n_centroids=8, m=16, ksub=16, iterations=1,
        pq_iterations=2, opq=True,
    )
    queries = embs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for rerank in (0, 20):
        res = similarity.ivfpq_topk_batch(
            spark, path, queries, k=5, nprobe=2, rerank=rerank,
        )
        plan = _plan(res)
        scans = [l for l in plan.splitlines()
                 if "FileScan" in l and ("codes" in l or "vectors" in l)]
        assert scans, plan
        for scan in scans:
            m = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
            assert m and "ivf_cell" in m.group(1), scan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan, rerank
        assert res.count() == 4 * 5
        res._gs_unpersist()


def test_admission_history_read_prunes_current_batch(spark, tmp_path):
    """The streaming admission gate's history read excludes the
    CURRENT batch as a PARTITION filter resolved at planning time —
    never a post-scan Filter — so a crashed attempt's partial parquet
    files under the replayed batch's own partition are never opened,
    and at 10⁹ indexed docs the replay reads zero bytes it doesn't
    need.  Pins streaming.corpus._history_sigs (the exact production
    read)."""
    from garmadon_spark.operators import dedup
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming.corpus import _history_sigs

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sigs = dedup.minhash_signatures(docs.limit(20))
    root = str(tmp_path / "sigs")
    for b in (0, 1):
        sigs.withColumn("dp", dedup.doc_prefix("doc")) \
            .write.partitionBy("dp").parquet(f"{root}/batch={b}")
    hist = _history_sigs(spark, root, sigs.schema, 1)
    plan = _plan(hist)
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
    assert m and "batch" in m.group(1), scan
    # and the data actually excludes batch 1
    assert hist.count() == 20


def test_hash_index_antijoin_prunes_to_increment_prefixes(
        spark, tmp_path):
    """The exact-dedup incremental path over the hp-partitioned hash
    index (r13): the anti-join's index side is a parquet read
    partition-pruned at PLANNING time to the increment's hash
    prefixes — O(increment) point lookups, never an index scan — and
    the results equal the unpruned path exactly."""
    from pyspark.sql import functions as F

    from garmadon_spark.operators import dedup
    from garmadon_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    inc = docs.filter(F.col("doc_id") % 5 == 0).limit(10)
    idx_path = str(tmp_path / "hashidx")
    dedup.write_hash_index(
        hist.select(dedup.content_hash("text").alias("content_hash"))
        .distinct(),
        idx_path, mode="overwrite",
    )
    index = dedup.read_hash_index(spark, idx_path)
    pruned = dedup.incremental_exact_dedup(inc, index)
    # raise the scan-metadata truncation so the path + the prefix
    # disjunction are visible to the assertions (the banded test's rule)
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        plan = _plan(pruned)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "hashidx" in ln]
    assert scans, plan
    for scan in scans:
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
        assert m and "hp" in m.group(1), scan
    got = {(r.doc_id, r.content_hash) for r in pruned.collect()}
    pruned._gs_unpersist()
    base = dedup.incremental_exact_dedup(
        inc, index.select("content_hash"))
    exp = {(r.doc_id, r.content_hash) for r in base.collect()}
    assert got == exp and exp
    # empty increment: the prefix predicate degenerates safely
    empty = dedup.incremental_exact_dedup(inc.limit(0), index)
    assert empty.count() == 0
    empty._gs_unpersist()


def test_banded_candidate_read_prunes_to_touched_buckets(
        spark, tmp_path):
    """The materialized banded index (r11 judge's named upgrade): the
    candidate join's history side is a parquet read partition-pruned at
    PLANNING TIME to the (band, bucket-prefix) partitions the
    increment touches — the whole signature history is never re-banded
    or re-shuffled per trigger.  Pins the exact production read
    (streaming.corpus._history_banded + the predicate
    _flagged_increment_pairs composes onto it)."""
    from pyspark.sql import functions as F

    from garmadon_spark.operators import dedup
    from garmadon_spark.session import load_table
    from garmadon_spark.streaming.corpus import (
        _history_banded, _history_sigs,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text")
    hist_docs = docs.filter(F.col("doc_id") < 30)
    sigs = dedup.minhash_signatures(hist_docs)
    root = str(tmp_path / "idx")
    sigs.withColumn("dp", dedup.doc_prefix("doc")) \
        .write.partitionBy("dp").parquet(f"{root}/sigs/batch=0")
    dedup.banded_signatures(sigs).write.partitionBy("band", "bp") \
        .parquet(f"{root}/bands/batch=0")

    inc = docs.filter(
        (F.col("doc_id") >= 30) & (F.col("doc_id") < 35)
    ).unionByName(   # one re-scrape, so a history candidate must fire
        hist_docs.filter(F.col("doc_id") == 3)
        .withColumn("doc_id", F.lit(1_000_003).cast("long"))
    )
    hist = _history_sigs(spark, f"{root}/sigs", sigs.schema, 1)
    hb = _history_banded(spark, f"{root}/bands", sigs.schema, 1)
    # plan pin on the candidate generator itself (admit_increment's
    # persisted intermediates + the RDD-based components step hide the
    # scan from its outputs' executed plans): the bands FileScan must
    # carry band AND bp AND batch as PARTITION filters
    inc_sigs = dedup.minhash_signatures(inc)
    pairs = dedup._flagged_increment_pairs(
        inc_sigs, hist, inc.select(F.col("doc_id").alias("doc")),
        persist_sigs=False, hist_banded=hb,
    )
    # the touched-bucket disjunction is hundreds of chars — raise the
    # scan-metadata truncation limit so the assertion sees it whole
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        plan = _plan(pairs)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    bands_scans = [ln for ln in plan.splitlines()
                   if "FileScan" in ln
                   and "struct<doc:bigint,bucket:string>" in ln]
    assert bands_scans, plan
    for scan in bands_scans:
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
        assert m and "band" in m.group(1) and "bp" in m.group(1), scan
        assert "batch" in m.group(1), scan
    # the estimator's signature fetch is DOC-PREFIX-pruned (to the
    # candidate docs' dp partitions — a point lookup covering every
    # signature version of each candidate, r13) on top of the
    # current-batch exclusion
    sig_scans = [ln for ln in plan.splitlines()
                 if "FileScan" in ln and "signature:array" in ln
                 and "/sigs" in ln.split("ReadSchema")[0]]
    assert sig_scans, plan
    for scan in sig_scans:
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
        assert m and "batch" in m.group(1), scan
        assert "dp" in m.group(1), scan
    # and the decisions are right: the re-scrape is caught via the
    # pruned candidate read
    acc, _s, rej = dedup.admit_increment(inc, hist, hist_banded=hb)
    assert {(r.doc, r.reason) for r in rej.collect()} \
        == {(1_000_003, "history")}
    acc._gs_unpersist()
