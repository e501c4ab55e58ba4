"""Runs one workload: session, setup, warm-up, the timed closed loop, the
output checks, and the result line.

Untraced runs (``--trace 0``) print the end-to-end metrics; traced runs
(``--trace 1``) time half of ``--seconds`` untraced and half traced, then
the serial per-page sample, and print the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import time
import traceback

from . import metrics, workloads
from .stats import (PssSampler, cpu_seconds, median, percentile, process_age_s,
                    process_tree)
from .trace import NullTracer, Tracer

PAGE_SAMPLE = 1000  # pages in the serial per-page trace
# JVM heap of the local[N] driver: ample for these inputs, and it keeps the
# peak RSS from tracking the collector's whims on a shared machine
DRIVER_MEM = "2g"


def cores() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def start_session(n: int, work: str):
    """``local[n]`` session whose temporary files all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    from crawl4ai_spark.session import get_spark

    spark = get_spark(parallelism=n, app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the JVM gateway and wait for every child process."""
    from pyspark import SparkContext

    kids = process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def closed_loop(wl, ctx, seconds: float, tracers) -> list[dict]:
    """Operations back to back, one client, taking their tracer in turn from
    ``tracers``; the next one starts only if it is expected to end within
    ``seconds``. Every tracer gets at least one operation."""
    ops = []
    me = os.getpid()
    t0 = time.perf_counter()
    while True:
        tracer = tracers[len(ops) % len(tracers)]
        c, t = cpu_seconds(me), time.perf_counter()
        op = wl.run_once(ctx, tracer)
        op.update(wall=time.perf_counter() - t, cpu=cpu_seconds(me) - c,
                  traced=tracer.run_id is not None)
        ops.append(op)
        if len(ops) >= len(tracers) and time.perf_counter() - t0 + op["wall"] > seconds:
            return ops


def end_to_end(ops: list[dict]) -> dict:
    """Medians over the run's operations."""
    return {
        "wall_s": median([o["wall"] for o in ops]),
        "urls_per_s": median([o["urls"] / o["wall"] for o in ops]),
        "html_mb_per_s": median([o["html_bytes"] / 1e6 / o["wall"] for o in ops]),
    }


def cpu_ms_per_url(ops: list[dict]) -> float:
    return 1e3 * sum(o["cpu"] for o in ops) / sum(o["urls"] for o in ops)


LAYER_OF = {
    "parse_dom": "scrape.parse_dom_ms",
    "extract_metadata": "scrape.harvest_ms", "extract_links": "scrape.harvest_ms",
    "extract_images": "scrape.harvest_ms", "page_text": "scrape.harvest_ms",
    "markdown_from_dom": "markdown.fast_ms",
    "cleaned_html": "markdown.fallback_ms", "html_to_markdown": "markdown.fallback_ms",
    "links_to_citations": "markdown.citations_ms",
}


def trace_pages(tracer: Tracer, pages) -> dict:
    """Serial per-page pass over ``pages`` with one span per function call;
    returns the per-page means (ms) and the fallback share."""
    from crawl4ai_spark.functions.markdown import html_to_markdown, links_to_citations
    from crawl4ai_spark.functions.scrape import (
        cleaned_html, extract_images, extract_links, extract_metadata,
        markdown_from_dom, page_text, parse_dom)

    def call(parent, fn, *args):
        with tracer.span(fn.__name__, parent):
            return fn(*args)

    page_spans, fallbacks = [], 0
    for url, html in pages:
        with tracer.span("page", url=url) as pid:
            root = call(pid, parse_dom, html.decode("utf-8", errors="replace"))
            call(pid, extract_metadata, root)
            call(pid, extract_links, root, url)
            call(pid, extract_images, root, url)
            call(pid, page_text, root)
            md = call(pid, markdown_from_dom, root, url)
            if md is None:
                fallbacks += 1
                md = call(pid, html_to_markdown, call(pid, cleaned_html, root), url)
            call(pid, links_to_citations, md, url)
        page_spans.append(pid)
    n = len(page_spans)
    out = dict.fromkeys(set(LAYER_OF.values()), 0.0)
    for pid in page_spans:
        for s in tracer.children(pid):
            out[LAYER_OF[s["name"]]] += (s["end"] - s["start"]) * 1e3 / n
    totals = [(tracer.spans[p]["end"] - tracer.spans[p]["start"]) * 1e3 for p in page_spans]
    out.update({
        "markdown.fallback_frac": fallbacks / n,
        "scrape.page_ms_mean": sum(totals) / n,
        "scrape.page_ms_p50": median(totals),
        "scrape.page_ms_p99": percentile(totals, 99),
        "scrape.pages_sampled": n,
        "scrape.unattributed_ms": sum(tracer.self_time(p) for p in page_spans) * 1e3 / n,
    })
    return out


def reading(args, n: int, spark, wl, ops: list[dict], run_id) -> dict:
    import pyspark

    from . import jvm

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_id": run_id, "nproc": n, "master": f"local[{n}]",
        "mem_total_kb": mem_kb, "python": platform.python_version(),
        "pyspark": pyspark.__version__, "java": jvm.java_version(spark),
        "mean_page_bytes": wl.mean_page_bytes, "operations": len(ops),
    }


def run(args) -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_work", "out")
    os.makedirs(out_dir, exist_ok=True)
    wl = workloads.make(args.workload)
    n = cores()
    sampler = PssSampler(os.getpid())
    sampler.start()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(n, work)
        layer = {"session.start_s": time.perf_counter() - t}
        ctx = workloads.Ctx(spark, n, args.seed, work)
        t = time.perf_counter()
        wl.setup(ctx)
        layer["synth.corpus_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup(ctx)
        layer["warmup_s"] = time.perf_counter() - t
        setup_s = process_age_s()

        # traced runs alternate untraced and traced operations, so both
        # see the same warm state on average
        tracer = Tracer() if args.trace else NullTracer()
        ops = closed_loop(wl, ctx, args.seconds, [NullTracer(), tracer][:1 + args.trace])
        plain = [o for o in ops if not o["traced"]]
        traced = [o for o in ops if o["traced"]]
        sampler.stop()
        for op in ops:
            wl.finish(ctx, op)
        problems = wl.check(ctx, ops)
        if args.record and not problems:
            from .checks import save_expected

            save_expected(args.workload, args.seed, wl.expected_value(ops))

        e2e = end_to_end(plain)
        e2e.update(setup_s=setup_s, peak_pss_mb=sampler.peak_bytes / 1e6)
        if args.trace:
            layer.update(wl.layers(ctx, traced, tracer))
            layer.update(trace_pages(tracer, wl.sample_pages(ctx, PAGE_SAMPLE)))
            if "scrape_stage.tasks" in layer:
                layer["scrape_stage.parallel_eff"] = (
                    end_to_end(traced)["urls_per_s"] * layer["scrape.page_ms_mean"] / (1000 * n))
            layer["cpu_ms_per_url"] = cpu_ms_per_url(ops)
            layer["trace_overhead_frac"] = (
                end_to_end(traced)["wall_s"] / end_to_end(plain)["wall_s"] - 1)
            for name in sorted(layer):
                if name.endswith(("remainder_s", "unattributed_ms")):
                    print(f"perfbench: remainder {name} = {layer[name]:.6g}", file=sys.stderr)
        read = reading(args, n, spark, wl, ops, tracer.run_id)
        attempted = sum(o["attempted"] for o in ops)
        failed = attempted if problems else sum(o["failed"] for o in ops)
    finally:
        sampler.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    table = metrics.LAYER if args.trace else metrics.E2E
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": metrics.render(layer if args.trace else e2e, table)}
    detail = {"reading": read, "problems": problems, "end_to_end": e2e, "layers": layer,
              "error_rate": failed / attempted,
              "operations": [{k: o[k] for k in ("wall", "cpu", "urls", "traced")}
                             for o in ops]}
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(out_dir, stem + ".spans.json"))
    for name, v in sorted(result["metrics"].items()):
        print(f"perfbench: {name} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    print(f"perfbench: error_rate = {failed / attempted:.6g} ratio", file=sys.stderr)
    print("reading " + json.dumps(read, sort_keys=True))
    print(json.dumps(result))
    return 0


def main(args) -> int:
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1
