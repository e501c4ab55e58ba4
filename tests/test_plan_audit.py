"""Physical-plan audits: pin the scale-critical plan shapes with tests.

Every claim of the form "this join broadcasts", "this window never
funnels the corpus through one task", "this scan pushes filters down"
is asserted against the EXECUTED plan string — so a refactor that
silently regresses the 100 TB shape (a broadcast becoming a shuffle
join, a pushed filter lost behind a UDF barrier) fails CI, not the
cluster.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def _final_plan(df) -> str:
    """Executed (post-AQE) plan string; runs the plan via a count."""
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit(f"w{j}x"),
                    (F.col("id") * (j + 3) % 97).cast("string"),
                )
                for j in range(30)
            ],
        ).alias("text"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
    )


def test_decontamination_broadcasts_eval_shingles(spark, docs):
    from crawl4ai_spark.operators.decontam import contamination_check

    ev = docs.filter(F.col("doc_id") < 5).select("text")
    out = contamination_check(docs, ev, ngram=5)
    plan = _final_plan(out)
    # the corpus ⋈ eval-shingle join must be broadcast (BuildRight on
    # the eval side), never a shuffle join keyed on the corpus shingles
    # (the tiny eval side may legitimately hash-exchange for its own
    # distinct INSIDE the broadcast subtree)
    assert "BroadcastHashJoin [_k" in plan
    assert "SortMergeJoin [_k" not in plan and "ShuffledHashJoin [_k" not in plan


def test_global_offsets_single_partition_window_is_bounded(spark):
    from crawl4ai_spark.operators.packing import global_offsets

    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("n_tok")
    )
    out = global_offsets(df, "doc_id", "n_tok", docs_per_bucket=512)
    plan = _final_plan(out)
    # corpus-wide window runs hash-partitioned by bucket...
    assert "hashpartitioning(_bk" in plan
    # ...and at most one SinglePartition exchange exists — the
    # num_buckets-row totals table, never the corpus
    assert plan.count("Exchange SinglePartition") <= 1
    # the per-bucket bases come back via broadcast, not a shuffle join
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_quality_vocab_join_broadcasts_weights(spark, docs):
    from crawl4ai_spark.functions.quality_model import (
        classifier_scores_vocab,
        default_weights,
    )

    words = F.split(F.col("text"), " ")
    weights = default_weights(docs.limit(50), F.split(F.col("text"), " "))
    out = classifier_scores_vocab(docs, "doc_id", words, weights)
    plan = _final_plan(out)
    assert "BroadcastHashJoin" in plan
    # no shuffle keyed on the gram string (the explosion stays map-side)
    assert plan.count("Exchange hashpartitioning(gram") == 0


def test_cosine_topk_avoids_global_sort(spark):
    from crawl4ai_spark.operators.similarity import cosine_topk

    emb = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.array(
            *[(F.col("id") * (j + 1) % 101 + 1).cast("double") for j in range(8)]
        ).alias("embedding"),
    )
    out = cosine_topk(emb, "embedding", [1.0] * 8, k=5, id_cols=["doc_id"])
    plan = _final_plan(out)
    assert "TakeOrderedAndProject" in plan
    # a global Sort + Exchange rangepartitioning would be the wrong shape
    assert "rangepartitioning" not in plan


def test_documents_scan_pushdown_and_pruning(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: the scan reads only the projected columns
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" not in read_schema


def test_robots_join_broadcasts_rules(spark):
    from crawl4ai_spark.operators.robots import rules_table, with_robots_decision

    frontier = spark.range(500).select(
        F.concat(F.lit("https://h"), F.col("id") % 7,
                 F.lit(".example.com/p"), F.col("id")).alias("url"),
        F.concat(F.lit("h"), F.col("id") % 7, F.lit(".example.com")).alias("host"),
    )
    robots = rules_table(
        spark,
        {f"h{i}.example.com": "User-agent: *\nDisallow: /private\n"
         for i in range(7)},
    )
    out = with_robots_decision(frontier, robots)
    plan = _final_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning(host" not in plan


def test_per_host_quota_topk_is_salted(spark):
    """The per-host admission quota must never funnel a hot host's full
    row set through one task: phase 1 partitions the window by (host,
    salt slice) — the executed plan's first row_number sort must carry
    BOTH keys, and only the ≤ salt×k survivors hit the exact window."""
    from crawl4ai_spark.operators.frontier import _per_host_topk

    # hot-host skew: 90% of rows on h0
    df = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, "h0")
        .otherwise(F.concat(F.lit("h"), (F.col("id") % 10).cast("string")))
        .alias("host"),
        (F.col("id") % 97).cast("double").alias("priority"),
        F.concat(F.lit("https://x/"), F.col("id").cast("string")).alias("url"),
    )
    out = _per_host_topk(df, k=3, salt=8)
    plan = _final_plan(out)
    # two row_number windows: the salted partial phase (partitioned by
    # host + pmod(xxhash64(url))) and the exact merge phase. The plan
    # prints top-down (exact phase first), so assert both keys exist.
    assert plan.count("row_number") >= 2
    assert "pmod(xxhash64" in plan
    # correctness under the skew: exactly k rows per host with rows >= k
    counts = {r["host"]: r["n"] for r in
              out.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert counts["h0"] == 3


def test_line_dedup_count_agg_shuffles_hash_keys_only(spark, docs):
    from crawl4ai_spark.operators.dedup import line_dedup

    out = line_dedup(docs, "text", "doc_id", min_dup=2)
    plan = _final_plan(out)
    # duplicate-line counting must partial-aggregate map-side and
    # shuffle only the 8-byte xxhash64 key — never line text
    assert "partial_count" in plan
    ex = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(_lk" in ln
    ]
    assert ex, "count agg no longer keyed by the line hash"
    # no Python in the plan: the whole operator is JVM-side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_anchor_stats_two_phase_no_window(spark):
    from crawl4ai_spark.operators.linkgraph import anchor_stats

    links = spark.range(5_000).select(
        (F.col("id") % 40).alias("dst"),
        F.concat(F.lit("a"), (F.col("id") % 7).cast("string")).alias("anchor"),
    )
    plan = _final_plan(anchor_stats(links))
    # per-target top-anchor selection must be groupBy max(struct),
    # never a row_number window over a hot target's inbound links
    assert "Window" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_host_prior_joinback_broadcasts_small_stats(spark, docs):
    from crawl4ai_spark.operators.hostprior import (
        apply_host_prior,
        host_prior_stats,
    )

    d = docs.withColumn("host", F.concat(F.lit("h"), (F.col("doc_id") % 5)))
    st = host_prior_stats(d, "host", F.size(F.split("text", " ")))
    plan = _final_plan(apply_host_prior(d, st, "host", 2, 1))
    assert "BroadcastHashJoin [host" in plan
    assert "SortMergeJoin [host" not in plan


def test_lm_scoring_stays_jvm_side(spark, docs):
    from crawl4ai_spark.functions.ngram_lm import lm_self_perplexity

    plan = _final_plan(lm_self_perplexity(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # totals ride along broadcast, never through a shuffle of the corpus
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ccnet_bucket_assignment_broadcasts_cutoffs(spark, docs):
    """The scale path of the CCNet head/middle/tail tiering must join
    the per-language cutoff dimension broadcast (a #languages-row
    table) and keep the fold row-local — no sort, no python eval."""
    from crawl4ai_spark.functions.ngram_lm import (
        assign_buckets,
        bucket_thresholds,
    )

    d = docs.select(
        "doc_id",
        F.concat(F.lit("l"), (F.col("doc_id") % 4)).alias("lang"),
        (F.xxhash64("text") % 10000).alias("avg_cost_milli"),
    )
    plan = _final_plan(assign_buckets(d, bucket_thresholds(d)))
    assert "BroadcastHashJoin [lang" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_fingerprints_zero_shuffle(spark, docs):
    """Winnowing is a pure row-local Column expr: scan -> project,
    no exchange, no python worker."""
    from crawl4ai_spark.functions.text import winnow_fingerprints

    plan = _final_plan(
        docs.select("doc_id", winnow_fingerprints("text").alias("w"))
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.fixture(scope="module")
def crawl_round(spark, tmp_path_factory):
    """An sf0.001 crawl after rounds 0 and 1, with round 1's job count
    per section read right after it ran (round 1: non-empty frontier,
    existing state — the steady state)."""
    from crawl4ai_spark.operators.frontier import CrawlConfig, CrawlRun
    from crawl4ai_spark.synth import generate_pages

    pages = generate_pages(spark, "/root/testdata/sf0.001").cache()
    pages.count()
    seeds = [
        r["url"] for r in pages.select("url").orderBy("url").limit(30).collect()
    ]
    run = CrawlRun(
        spark, pages, str(tmp_path_factory.mktemp("crawl") / "wd"),
        CrawlConfig(max_depth=3, round_seconds=1e6),
    )
    run.seed(seeds)
    tracker = spark.sparkContext.statusTracker
    sections = ["results", "cache", "metrics", "frontier", "seen", "politeness"]
    try:
        for r in range(2):
            run.run_round(r)
        per_sec = {
            s: len(tracker().getJobIdsForGroup(run.job_group(1, s)))
            for s in sections
        }
        yield run, per_sec
    finally:
        run.close()
        pages.unpersist()


def test_crawl_round_job_budget(crawl_round):
    """The per-round Spark-job count is the crawl's fixed cost (the AQE
    floor dominated sf0.1 wall time in r3). Pin the structural budget:
    every run_round section is job-group-tagged, and a steady-state
    round must stay within 13 jobs — r4 cuts were metrics (Spark agg ->
    guarded driver pyarrow), seen (anti-join -> round-stamp filter +
    assume_unique), politeness (full_outer join -> one-exchange union
    fold), and the join-mode salted exchange (partition_id as a pure
    hash column, verified bit-identical to HashPartitioning below)."""
    _, per_sec = crawl_round
    total = sum(per_sec.values())
    # measured 11 (results 4 since the results re-read takes the
    # written schema instead of inferring it, frontier 4, seen 1 since
    # the delta is one unpartitioned write, politeness 2); 13 leaves
    # AQE-variance headroom
    assert total <= 13, f"crawl round job budget blown: {per_sec}"
    assert per_sec["results"] <= 4, per_sec
    assert per_sec["seen"] <= 1, per_sec
    # the driver-side metrics path must have engaged at this scale
    assert per_sec["metrics"] == 0, per_sec


def test_crawl_round_replay_planning_cost(spark, crawl_round, monkeypatch):
    """A round's driver cost is planning, not data: replaying the
    steady-state round must reuse every generated class (the session's
    codegen cache holds a crawl's working set) and stay within its
    measured py4j traffic (no per-call call-site capture)."""
    import gc

    from py4j.clientserver import ClientServerConnection

    run, _ = crawl_round
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return send(self, command)

    run.rewind_to_round(0)
    gc.collect()  # no finalizer traffic from earlier garbage in the count
    before = compiles.getCount()
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    run.run_round(1)
    monkeypatch.undo()
    assert compiles.getCount() - before == 0
    # measured 1,930-2,140 per round (about 4,900 with the call-site
    # capture on); 2,650 is the measured count + 25%
    assert sent[0] <= 2650, sent[0]


def test_dsir_scoring_broadcasts_model_and_avoids_full_sort(spark, docs):
    """DSIR (operators/dsir.py): the per-ngram scoring join must
    broadcast the B-row log-ratio table (B is a constant — never a
    corpus-sized shuffle), and the Gumbel top-k must be TakeOrdered,
    not a global Sort."""
    from crawl4ai_spark.operators.dsir import (
        featurize,
        importance_resample,
        importance_weights,
        train_importance_model,
    )

    feats = featurize(docs, "doc_id", F.split("text", " "), 64)
    model = train_importance_model(feats, F.lit(True), 64)
    out = importance_resample(
        importance_weights(feats, "doc_id", model), "doc_id", 10
    )
    plan = _final_plan(out)
    assert "BroadcastHashJoin [bucket" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_partition_id_column_matches_hash_partitioning(spark):
    """pmod(hash(cols), n) must equal spark_partition_id() after
    repartition(n, cols) — the join-mode fetch layout relies on it."""
    df = spark.range(0, 5000).select(
        F.concat(F.lit("h"), (F.col("id") % 41).cast("string")).alias("host"),
        F.pmod(F.xxhash64("id"), F.lit(8)).alias("slice"),
    )
    n = 16
    a = df.repartition(n, "host", "slice").withColumn(
        "pid", F.spark_partition_id()
    )
    b = df.withColumn("pid2", F.pmod(F.hash("host", "slice"), F.lit(n)))
    assert (
        a.join(b, ["host", "slice"]).filter(F.col("pid") != F.col("pid2")).count()
        == 0
    )


def test_scrape_stage_python_worker_runs_once(spark, docs):
    """The extract hot path must cross into Python exactly once per
    stage: Catalyst duplicates a Python UDF when a pushed-down filter
    references its output (the classic ArrowEvalPython-twice plan), so
    pin scrape_stage to a single MapInPandas even with a downstream
    filter + narrow projection over UDF-derived columns."""
    from crawl4ai_spark.functions.scrape import scrape_stage

    pages = docs.select(
        F.concat(F.lit("https://h0.example.com/p"), "doc_id").alias("url"),
        F.concat(F.lit("<html><body><p>"), "text", F.lit("</p></body></html>")).alias("html"),
    )
    out = scrape_stage(pages, "html", "url", markdown=True)
    narrowed = out.filter(F.col("success")).select("url", "raw_markdown")
    plan = _final_plan(narrowed)
    assert plan.count("MapInPandas") == 1, plan[:2000]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
