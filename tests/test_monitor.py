"""CrawlerMonitor (components/crawler_monitor.py:350-836 analogue):
dashboard facts derived from run artifacts must agree with the round
manifests and the results table, including crash visibility."""

import os

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.monitor import (
    COMPLETED,
    FAILED,
    IN_PROGRESS,
    QUEUED,
    CrawlerMonitor,
)
from crawl4ai_spark.operators.frontier import CrawlConfig, run_crawl
from crawl4ai_spark.snaptable import SnapshotTable
from crawl4ai_spark.synth import generate_pages, page_url


@pytest.fixture(scope="module")
def crawled(spark, sf_dir, tmp_path_factory):
    pages = generate_pages(spark, sf_dir)
    pages.cache()
    langs = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    wd = str(tmp_path_factory.mktemp("monitor") / "run")
    seeds = [page_url(0, langs[0]), page_url(7, langs[7])]
    ms = run_crawl(
        spark, pages, seeds, wd,
        CrawlConfig(max_depth=2, round_seconds=8.0), max_rounds=2,
    )
    yield wd, ms
    pages.unpersist()


def test_status_counts_match_artifacts(spark, crawled):
    wd, ms = crawled
    mon = CrawlerMonitor(spark, wd)
    counts = mon.status_counts()

    res = spark.read.parquet(os.path.join(wd, "results"))
    n_completed = res.filter(
        F.col("success") | (F.col("fetch_status") == "not_modified")
    ).count()
    n_failed = res.count() - n_completed
    assert counts[COMPLETED] == n_completed
    assert counts[FAILED] == n_failed
    assert counts[IN_PROGRESS] == 0  # every round committed

    # QUEUED = the pending next frontier
    last = max(m["round"] for m in ms)
    nxt = os.path.join(wd, "frontier", f"round={last + 1}")
    n_queued = spark.read.parquet(nxt).count() if os.path.exists(nxt) else 0
    assert counts[QUEUED] == n_queued


def test_summary_mirrors_manifests(spark, crawled):
    wd, ms = crawled
    mon = CrawlerMonitor(spark, wd)
    s = mon.get_summary()
    assert s["runtime"] == pytest.approx(sum(m["wall_s"] for m in ms))
    assert s["requeued_count"] == sum(m["deferred"] for m in ms)
    assert s["urls_completed"] == s["status_counts"][COMPLETED]
    assert 0 <= s["completion_percentage"] <= 100
    assert s["memory_status"] == "NORMAL"
    # reference summary keys all present (crawler_monitor.py:693-706)
    for key in (
        "runtime", "urls_total", "urls_completed", "completion_percentage",
        "status_counts", "memory_status", "peak_memory_percent",
        "peak_memory_time", "avg_task_duration",
        "estimated_completion_time", "requeue_rate", "requeued_count",
    ):
        assert key in s


def test_crash_round_shows_in_progress(spark, crawled):
    wd, ms = crawled
    last = max(m["round"] for m in ms)
    t = SnapshotTable(spark, os.path.join(wd, "tables", "results"))
    commit = t.snapshots()[-1]
    assert commit["summary"]["round"] == last
    # simulate a crash after the results write: drop the round commit
    t.drop_snapshots_since(commit["snapshot_id"] - 1)
    try:
        mon = CrawlerMonitor(spark, wd)
        assert mon.committed_rounds() == list(range(last))
        counts = mon.status_counts()
        n_round = spark.read.parquet(
            os.path.join(wd, "results", f"round={last}")
        ).count()
        assert counts[IN_PROGRESS] == n_round
    finally:
        t.add_files(os.path.join(wd, "results", f"round={last}"),
                    t.schema(), summary=commit["summary"])


def test_wait_rounds_and_queue_stats(spark, crawled):
    wd, _ = crawled
    mon = CrawlerMonitor(spark, wd)
    ts = mon.task_stats()
    # every URL waited >= 0 rounds; seeds fetched in round 0
    bad = ts.filter(F.col("wait_rounds") < 0).count()
    assert bad == 0
    # QUEUED rows carry their wait-so-far (to the next pending round),
    # not NULL — a starving URL must move the queue stats
    n_null_queued = ts.filter(
        (F.col("status") == QUEUED) & F.col("wait_rounds").isNull()
    ).count()
    assert n_null_queued == 0
    q = mon.queue_stats()
    assert q["total_queued"] == mon.status_counts()[QUEUED]
    assert q["highest_wait_time"] >= q["avg_wait_time"] >= 0


def test_render_plain_text(spark, crawled):
    wd, _ = crawled
    out = CrawlerMonitor(spark, wd, urls_total=100).render()
    assert "Web Crawler Dashboard" in out
    assert COMPLETED in out and QUEUED in out
    assert "Spark-managed" in out


def test_format_time_mirror():
    assert CrawlerMonitor._format_time(3725.9) == "1:02:05"
    assert CrawlerMonitor._format_time(0) == "0:00:00"
