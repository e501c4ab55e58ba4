"""Corpus lifecycle end-to-end: the full 100 TB story composed on the
synthetic corpus — crawl with snapshot-table checkpoints, re-cluster
the results table, purge near-dup losers found by the real dedup
operators, upsert a recrawl batch — with time travel intact throughout.

This is the integration seam the individual suites can't see: every
stage consumes the previous stage's real output through the public API.
"""

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.operators.dedup import (
    ngram_jaccard_pairs,
    resolve_duplicates,
)
from crawl4ai_spark.operators.frontier import (
    CrawlConfig,
    CrawlRun,
    run_crawl,
)
from crawl4ai_spark.synth import generate_pages


def test_corpus_lifecycle_end_to_end(spark, sf_dir, tmp_path):
    # -- 1. crawl: 3 rounds, trap filter on, state checkpointed ----------
    pages = generate_pages(spark, sf_dir)
    seeds = [r["url"] for r in
             pages.select("url").orderBy("url").limit(5).collect()]
    wd = str(tmp_path / "crawl")
    cfg = CrawlConfig(max_depth=3, round_seconds=1e6, trap_filter=True)
    run_crawl(spark, pages, seeds, wd, cfg, max_rounds=3)
    run = CrawlRun(spark, pages, wd, cfg)
    t = run.table("results")
    n0 = t.read().count()
    assert n0 > 20
    s_crawl = t.current_snapshot_id()

    # -- 2. maintenance: re-cluster the adopted round files by key -------
    total = sum(f["bytes"] for f in t.files())
    sid = t.compact(target_file_bytes=max(1, total // 3),
                    sort_by=["url_hash"])
    assert sid is not None
    assert t.read().count() == n0
    # clustered ranges: a key-range scan now skips files
    mid = t.read().approxQuantile("url_hash", [0.5], 0.01)[0]
    _, info = t.scan(filters=[("url_hash", ">=", int(mid))])
    assert info["files_read"] < info["files_total"]

    # -- 3. dedup: real pair generation -> components -> pruned purge ----
    docs = t.read().filter(F.col("success")).select(
        "url_hash", "text_extracted")
    pairs = ngram_jaccard_pairs(docs, "text_extracted", "url_hash",
                                threshold=0.8)
    resolution = resolve_duplicates(
        docs.select("url_hash"), pairs, "url_hash")
    losers = resolution.filter(F.col("is_canonical") == 0) \
        .select("url_hash")
    n_losers = losers.count()
    if n_losers:
        t.delete_by_key(losers, "url_hash")
        assert t.read().count() == n0 - n_losers
        # canonical survivors all still present
        left = {r["url_hash"] for r in
                t.read().select("url_hash").collect()}
        gone = {r["url_hash"] for r in losers.collect()}
        assert not (left & gone)
    n1 = t.read().count()

    # -- 4. recrawl: an upsert batch supersedes stored captures ----------
    refetch = (t.read().orderBy("url_hash").limit(3)
               .withColumn("title", F.lit("refetched")))
    s_pre_merge = t.current_snapshot_id()
    t.merge_by_key(refetch, "url_hash")
    assert t.read().count() == n1  # same keys -> no growth
    assert t.read().filter(F.col("title") == "refetched").count() == 3

    # -- 5. history: every lifecycle stage is a snapshot, time travel ----
    ops = [s["operation"] for s in t.snapshots()]
    assert "compact" in ops and "merge" in ops
    # the crawl-time snapshot still reads (pre-maintenance row count)
    assert t.read(snapshot_id=s_crawl).count() == n0
    # pre-merge state has no refetched rows
    pre = t.read(snapshot_id=s_pre_merge)
    assert pre.filter(F.col("title") == "refetched").count() == 0
    # maintenance never orphaned live data
    assert t.remove_orphan_files() == [] or t.read().count() == n1
