"""spark-submit entry point: one fetch+extract pass with per-partition
throughput metrics.

This is the north-rule deployment shape (BASELINE.json north_star): the
crawl4ai_spark package is shipped to the cluster as a ``--py-files`` zip
— NOT importable from the driver's working directory — and the job is
launched twice at two cluster sizes; the orchestrator
(``submit_scaling.py`` at the repo root) compares throughput to compute
scaling efficiency.

    spark-submit --master local[8] --py-files crawl4ai_spark.zip \
        scripts/extract_job.py --sf-dir /root/testdata/sf0.1 \
        --replicate 16 --out /tmp/extract8.json

The job mirrors ``bench.bench_extract``: replicate the synthetic pages
corpus (distinct URLs), run the scrape+markdown mapInPandas stage once,
and time it end-to-end. Additionally it logs PER-PARTITION throughput
(partition_id, n_urls, wall_sec, urls_per_sec) measured inside the
final Arrow consumer — the per-partition fetch/extract metrics the
north rule asks to be logged on a real cluster run.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_session():
    # master comes from spark-submit --master; everything else mirrors
    # crawl4ai_spark.session.get_spark (can't call it: it pins a master)
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName("crawl4ai_spark_extract_job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def per_partition_metrics(extracted):
    """Consume the extract stage per partition, timing arrival.

    Chained mapInPandas runners are pipelined within one stage, so the
    wall time measured here covers the upstream scrape work for that
    partition — a per-partition throughput probe with no extra shuffle
    (the count column below is the only byte leaving the worker).
    """
    import pandas as pd  # noqa: F401 (worker-side import)

    def probe(it):
        from pyspark import TaskContext

        # the engine arrives at task time (--py-files): importing it here
        # must still install the worker's zip re-read guard
        from crawl4ai_spark.zipguard import installed

        t0 = time.perf_counter()
        n = 0
        for batch in it:
            n += len(batch)
        wall = time.perf_counter() - t0
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        yield __import__("pandas").DataFrame(
            {
                "partition_id": [pid],
                "n_urls": [n],
                "wall_sec": [round(wall, 3)],
                "zip_guard": [installed()],
            }
        )

    return extracted.mapInPandas(
        probe, "partition_id int, n_urls long, wall_sec double, zip_guard boolean"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--replicate", type=int, default=16)
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    # imported AFTER spark-submit has added the --py-files zip to the
    # path: proves the package ships as an artifact, not a checkout
    from pyspark.sql import functions as F

    from crawl4ai_spark.functions.scrape import scrape_stage
    from crawl4ai_spark.synth import generate_pages

    spark = build_session()
    cpus = spark.sparkContext.defaultParallelism
    try:
        pages = generate_pages(spark, args.sf_dir)
        reps = spark.range(args.replicate).select(F.col("id").alias("rep"))
        big = (
            pages.crossJoin(reps)
            .withColumn("url", F.concat("url", F.lit("?v="), F.col("rep")))
            .drop("rep")
            .repartition(cpus * 4)
            .cache()
        )
        n = big.count()
        drop = ("html", "cleaned_html")
        # warm-up: spawn the Python worker pool before the clock starts
        scrape_stage(
            big.limit(cpus * 8), "html", "url", markdown=True, drop_cols=drop
        ).write.format("noop").mode("overwrite").save()

        t0 = time.perf_counter()
        metrics = per_partition_metrics(
            scrape_stage(big, "html", "url", markdown=True, drop_cols=drop)
        ).collect()
        wall = time.perf_counter() - t0

        parts = sorted(
            (
                {
                    "partition_id": r["partition_id"],
                    "n_urls": r["n_urls"],
                    "wall_sec": r["wall_sec"],
                    "urls_per_sec": round(r["n_urls"] / r["wall_sec"], 1)
                    if r["wall_sec"] > 0
                    else 0.0,
                }
                for r in metrics
            ),
            key=lambda p: p["partition_id"],
        )
        for p in parts:  # the logged per-partition throughput metrics
            print(
                "partition %4d  urls=%6d  wall=%7.3fs  urls/s=%9.1f"
                % (p["partition_id"], p["n_urls"], p["wall_sec"], p["urls_per_sec"]),
                file=sys.stderr,
            )
        result = {
            "job": "extract_pass_spark_submit",
            "cpus": cpus,
            "n_urls": n,
            "wall_sec": round(wall, 3),
            "urls_per_sec": round(n / wall, 2) if wall > 0 else 0.0,
            "urls_per_sec_per_cpu": round(n / wall / cpus, 2) if wall > 0 else 0.0,
            "n_partitions": len(parts),
            "partition_urls_min": min(p["n_urls"] for p in parts),
            "partition_urls_max": max(p["n_urls"] for p in parts),
            "partition_wall_max": max(p["wall_sec"] for p in parts),
            "zip_guard": all(r["zip_guard"] for r in metrics),
            "partitions": parts,
        }
        line = json.dumps(result)
        print(line)
        if args.out:
            with open(args.out, "w") as f:
                f.write(line + "\n")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
