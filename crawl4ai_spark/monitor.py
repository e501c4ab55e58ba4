"""Crawl monitoring: the dispatcher dashboard, re-read from run state.

Reference surface: ``components/crawler_monitor.py:350-836``
(``CrawlerMonitor``: per-task status dicts, queue statistics, requeue
tracking, ``get_summary``) + ``models.py:39-43`` (``CrawlStatus``) +
the ``TerminalUI`` panels (``crawler_monitor.py:17-348``).

Spark-native reading: the reference monitor is a *second bookkeeping
path* — the dispatcher calls ``add_task``/``update_task`` around every
coroutine and a thread renders the dict. In the Spark engine every fact
the dashboard shows already lands in the run's artifacts (the round
commits in the results table's snapshot log, the per-partition metrics
table, the results/frontier parquet), so the monitor is a pure READER:
derived state that can't drift from the crawl, works post-hoc and
mid-run (including on a crashed run: a results round whose snapshot
never committed shows IN_PROGRESS), and aggregates URL-level facts
with bounded Spark jobs instead of a driver-side dict of every task.

Status mapping (CrawlStatus names kept verbatim):
- COMPLETED    result row with success (incl. cache hits and 304s)
- FAILED       result row without success (robots_blocked, abandoned,
               http_error, error, miss)
- IN_PROGRESS  result rows of a round whose results snapshot was never
               committed (crash mid-round — the resume target)
- QUEUED       frontier rows scheduled past the last committed round

Memory governance is the one panel with no analogue: the reference's
NORMAL/PRESSURE/CRITICAL ladder drives its dispatcher's requeue-on-
pressure (``async_dispatcher.py:122-131``), which Spark's own resource
management replaces (see SURVEY §2.11). ``memory_status`` is therefore
reported as NORMAL with peak fields zeroed; the politeness-budget
deferral plays the requeue role here and feeds ``requeued_count``.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.frontier import round_log

QUEUED = "QUEUED"
IN_PROGRESS = "IN_PROGRESS"
COMPLETED = "COMPLETED"
FAILED = "FAILED"


class CrawlerMonitor:
    def __init__(self, spark: SparkSession, workdir: str,
                 urls_total: int = 0):
        self.spark = spark
        self.workdir = workdir
        self.urls_total = urls_total

    # -- committed rounds (the results snapshot is the commit point) ------
    def committed_rounds(self) -> list[int]:
        return sorted(round_log(self.spark, self.workdir))

    def manifests(self) -> list[dict]:
        log = round_log(self.spark, self.workdir)
        return [log[r] for r in sorted(log)]

    # every round directory, committed or not: a round still in flight
    # (or killed) shows its rows as IN_PROGRESS
    def _round_dirs(self, sub: str) -> list[tuple[int, str]]:
        out = []
        for p in glob.glob(os.path.join(self.workdir, sub, "round=*")):
            try:
                r = int(os.path.basename(p).split("=", 1)[1])
            except ValueError:
                continue
            # skip dirs with no committed part files (crash mid-write /
            # a racing writer's _temporary only): schema inference on
            # them raises, and the monitor must work mid-run and on
            # crashed runs by contract
            if not any(
                f.endswith(".parquet")
                for _root, _dirs, files in os.walk(p)
                for f in files
            ):
                continue
            out.append((r, p))
        return sorted(out)

    # -- per-URL task table (crawler_monitor.py:443-560 analogue) --------
    def task_stats(self) -> DataFrame:
        """(url, host, status, discovered_round, fetch_round,
        wait_rounds, fetch_status, error_message) — one row per URL the
        crawl has touched. Wait is measured in rounds (the engine's
        scheduling unit); politeness-deferred URLs show wait_rounds > 0,
        the distributed analogue of the reference's queue wait_time."""
        committed = set(self.committed_rounds())
        frontier_dirs = self._round_dirs("frontier")
        result_dirs = self._round_dirs("results")
        if not frontier_dirs:
            return self.spark.createDataFrame(
                [],
                "url string, host string, status string, "
                "discovered_round int, fetch_round int, wait_rounds int, "
                "fetch_status string, error_message string",
            )
        # discovery round = first frontier file the URL appeared in
        # (the dir round; the row's own `round` column is its
        # politeness-scheduled round, which moves on deferral)
        disc = None
        for r, p in frontier_dirs:
            d = self.spark.read.parquet(p).select(
                "url", "host", F.lit(r).cast("int").alias("dir_round")
            )
            disc = d if disc is None else disc.unionByName(d)
        disc = disc.groupBy("url", "host").agg(
            F.min("dir_round").alias("discovered_round"),
        )
        # a queued row's wait-so-far is measured to the next round that
        # would run = last committed round + 1 (0 when nothing commits)
        pending_round = (max(committed) + 1) if committed else 0
        res = None
        for r, p in result_dirs:
            d = self.spark.read.parquet(p).select(
                "url",
                F.lit(r).cast("int").alias("fetch_round"),
                "fetch_status",
                "success",
                F.col("fetch_error").alias("error_message"),
                F.lit(r in committed).alias("committed"),
            )
            res = d if res is None else res.unionByName(d)
        if res is None:
            return disc.select(
                "url", "host", F.lit(QUEUED).alias("status"),
                "discovered_round",
                F.lit(None).cast("int").alias("fetch_round"),
                (F.lit(pending_round) - F.col("discovered_round"))
                .cast("int").alias("wait_rounds"),
                F.lit(None).cast("string").alias("fetch_status"),
                F.lit(None).cast("string").alias("error_message"),
            )
        status = (
            F.when(F.col("fetch_round").isNull(), QUEUED)  # join miss
            .when(~F.col("committed"), IN_PROGRESS)
            .when(
                F.coalesce(F.col("success"), F.lit(False))
                | (F.col("fetch_status") == "not_modified"),
                COMPLETED,
            )
            .otherwise(FAILED)
        )
        return (
            disc.join(res, "url", "left")
            .select(
                "url",
                "host",
                status.alias("status"),
                "discovered_round",
                "fetch_round",
                # clamped at 0: a crash between a frontier round's
                # write and its round commit leaves rows discovered
                # in a round PAST pending_round, which would otherwise
                # read as negative wait and drag the queue averages
                F.greatest(
                    F.lit(0),
                    F.coalesce(F.col("fetch_round"), F.lit(pending_round))
                    - F.col("discovered_round"),
                )
                .cast("int")
                .alias("wait_rounds"),
                "fetch_status",
                "error_message",
            )
        )

    # -- dashboard aggregates (all derivable from ONE task_stats pass;
    #    pass ts= to share the plan across several aggregates) -----------
    def status_counts(self, ts: DataFrame | None = None) -> dict:
        counts = {QUEUED: 0, IN_PROGRESS: 0, COMPLETED: 0, FAILED: 0}
        ts = self.task_stats() if ts is None else ts
        for row in ts.groupBy("status").count().collect():
            counts[row["status"]] = row["count"]
        return counts

    def queue_stats(self, ts: DataFrame | None = None) -> dict:
        """Mirror of crawler_monitor.py:575-617, wait in rounds:
        highest/avg wait are over QUEUED tasks only (the reference feeds
        update_queue_statistics from its queued-task sweep), not over
        completed/failed/in-progress rows."""
        ts = self.task_stats() if ts is None else ts
        queued_wait = F.when(F.col("status") == QUEUED, F.col("wait_rounds"))
        agg = (
            ts.agg(
                F.sum(F.when(F.col("status") == QUEUED, 1).otherwise(0))
                .alias("q"),
                F.max(queued_wait).alias("hi"),
                F.avg(queued_wait).alias("avg"),
            )
            .collect()[0]
        )
        return {
            "total_queued": int(agg["q"] or 0),
            "highest_wait_time": float(agg["hi"] or 0.0),
            "avg_wait_time": float(agg["avg"] or 0.0),
        }

    def get_summary(self, ts: DataFrame | None = None) -> dict:
        """Field-for-field mirror of crawler_monitor.py:642-706 (memory
        fields documented as Spark-managed, see module docstring)."""
        manifests = self.manifests()
        counts = self.status_counts(ts)
        runtime = sum(m.get("wall_s", 0.0) for m in manifests)
        completed = counts[COMPLETED]
        urls_total = self.urls_total or sum(counts.values())
        completion_percentage = (
            completed / urls_total * 100 if urls_total else 0
        )
        # manifest "selected" already excludes deferred rows (it is
        # computed from the results table, which deferrals never enter)
        fetched = sum(m.get("selected", 0) for m in manifests)
        avg_task_duration = runtime / fetched if fetched else 0
        requeued_count = sum(m.get("deferred", 0) for m in manifests)
        n_tasks = sum(counts.values())
        requeue_rate = requeued_count / n_tasks * 100 if n_tasks else 0
        estimated_completion_time = "N/A"
        remaining = counts[QUEUED] + counts[IN_PROGRESS]
        if avg_task_duration > 0 and remaining > 0 and completed > 0:
            estimated_completion_time = self._format_time(
                remaining * avg_task_duration
            )
        return {
            "runtime": runtime,
            "urls_total": urls_total,
            "urls_completed": completed,
            "completion_percentage": completion_percentage,
            "status_counts": counts,
            "memory_status": "NORMAL",
            "peak_memory_percent": 0.0,
            "peak_memory_time": 0.0,
            "avg_task_duration": avg_task_duration,
            "estimated_completion_time": estimated_completion_time,
            "requeue_rate": requeue_rate,
            "requeued_count": requeued_count,
        }

    # -- plain-text dashboard (TerminalUI panels, no rich dependency) ----
    def render(self) -> str:
        # one task_stats pass feeds every panel (the per-round parquet
        # unions + join would otherwise re-execute per aggregate)
        ts = self.task_stats().persist()
        try:
            s = self.get_summary(ts)
            q = self.queue_stats(ts)
        finally:
            ts.unpersist(blocking=False)
        total = max(sum(s["status_counts"].values()), 1)
        lines = [
            "=" * 64,
            f"Web Crawler Dashboard | Runtime: "
            f"{self._format_time(s['runtime'])} | "
            f"Memory: {s['memory_status']} (Spark-managed)",
            f"URLs: {s['urls_completed']}/{s['urls_total']} "
            f"({s['completion_percentage']:.1f}%) | "
            f"ETA: {s['estimated_completion_time']}",
            "-" * 64,
            f"{'Status':<14}{'Count':>8}{'Percent':>10}",
        ]
        for name in (COMPLETED, FAILED, IN_PROGRESS, QUEUED):
            n = s["status_counts"][name]
            lines.append(f"{name:<14}{n:>8}{n / total * 100:>9.1f}%")
        lines += [
            "-" * 64,
            f"Queue: {q['total_queued']} waiting | "
            f"wait rounds avg {q['avg_wait_time']:.2f} "
            f"max {q['highest_wait_time']:.0f} | "
            f"requeued {s['requeued_count']} "
            f"({s['requeue_rate']:.1f}%)",
            "=" * 64,
        ]
        return "\n".join(lines)

    @staticmethod
    def _format_time(seconds: float) -> str:
        """crawler_monitor.py:726-736 mirror (H:MM:SS)."""
        hours, rem = divmod(int(seconds), 3600)
        minutes, secs = divmod(rem, 60)
        return f"{hours}:{minutes:02d}:{secs:02d}"
