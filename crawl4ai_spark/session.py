"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100 TB target (and harmless at test scale):

- AQE on: runtime coalescing, skew-join splitting (hot hosts in the
  frontier are Zipf-distributed — AQE splits oversized post-shuffle
  partitions that salting alone misses).
- Arrow on: every Python-side stage is an Arrow-batched pandas UDF;
  per-row Python UDFs are banned by BASELINE.json's input_hint.
- shuffle.partitions sized to cores at test scale; on a real cluster
  AQE's coalescing makes the initial number a ceiling, not a target.
- a crawl round's driver-side planning cost cut at build time, see
  BUILD_CONFS.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Confs the ENGINE depends on that are runtime-settable (SQLConf, not
# core/JVM), so they can be applied to a session the library did not
# build. The r4 gate regression was exactly this class of bug: the
# charset decode layer worked on every repo-built session (get_spark
# sets these at build time) but failed on the driver's vanilla session.
# Anything the engine needs at runtime MUST be in this dict and applied
# via ensure_runtime_confs() from the code path that needs it.
RUNTIME_CONFS: dict[str, str] = {
    # decode() malformed bytes -> U+FFFD replacement instead of a
    # task-killing MALFORMED_CHARACTER_CODING error (crawler survives
    # garbage bytes; functions/encoding.py relies on this)
    "spark.sql.legacy.codingErrorAction": "true",
    # allow the full JVM charset set in encode/decode — Spark 4
    # whitelists 7 charsets by default, and the web's second-most
    # common single-byte encoding is windows-1252
    "spark.sql.legacy.javaCharsets": "true",
}


# Confs that cut the driver's per-round planning cost (a crawl round
# handles a few hundred rows, so planning, not data, sets its fixed
# cost). Applied only by get_spark(), see its docstring.
BUILD_CONFS: dict[str, str] = {
    # Static SQLConf: the generated-class cache, 100 entries by default.
    # Its key includes the class loader, so the driver and the executor
    # threads each compile a body once. A perfbench crawl_polite process
    # needs 191 distinct compiles (390 classes, about 2.4 KB of bytecode
    # each, under 1 MB in all; extract_web needs 28); at 100 entries it
    # compiled 234, at 10-13 ms each, re-compiling what it had evicted.
    # 1,000 holds that working set five times over.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # On by default in pyspark 4.1: every F.* function and Column call
    # makes three extra py4j calls (a conf read, PySparkCurrentOrigin
    # set and clear) to record its Python call site for error messages,
    # about half of a crawl round's py4j traffic. pyspark reads the
    # flag once per process and caches it (errors/utils.py,
    # _enable_debugging_cache), so it must be set when the session is
    # built. Off, an error's DataFrame context lacks the Python call
    # site; nothing in the engine reads it.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply the engine's required runtime-settable confs to ANY session.

    Idempotent and cheap (conf reads are driver-local); called from the
    charset-decode code paths (functions/encoding.py consumers) and from
    every ``__spark_entry__.queries()`` callable so a vanilla
    ``SparkSession.builder.getOrCreate()`` session — like the
    correctness driver's — behaves identically to ``get_spark()``."""
    for k, v in RUNTIME_CONFS.items():
        try:
            cur = spark.conf.get(k, None)
        except Exception:
            cur = None
        if cur != v:
            spark.conf.set(k, v)


def get_spark(
    parallelism: int | None = None,
    app_name: str = "crawl4ai_spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or return the running) local session with the engine's
    confs: RUNTIME_CONFS, which ensure_runtime_confs() also applies to a
    session built elsewhere, and BUILD_CONFS, which take effect only
    here. BUILD_CONFS are not in RUNTIME_CONFS because neither can be
    applied to a live session: the codegen cache size is a static conf,
    and pyspark reads the DataFrame-debugging flag once per process and
    caches it. A session built elsewhere runs the same plans, at the
    higher per-round planning cost."""
    cores = parallelism or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in {**RUNTIME_CONFS, **BUILD_CONFS}.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
