"""Every metric the benchmark prints: unit, direction, and what it should
move. ``E2E`` metrics come from untraced runs (``--trace 0``); ``LAYER``
metrics from traced runs (``--trace 1``). A layer metric that does not
apply to a workload reads 0 there.
"""

from __future__ import annotations

import re

EXTRACT = ("extract_synth", "extract_web")
CRAWL = ("crawl_bfs", "crawl_polite")
WORKLOADS = EXTRACT + CRAWL

# name: (unit, better, definition)
E2E = {
    "setup_s": ("s", "lower", "process start to the first timed operation: "
                "session start, corpus build and cache, untimed warm-up"),
    "wall_s": ("s", "lower", "median wall time of one operation, input to "
               "complete result: an extract pass, or a whole crawl"),
    "urls_per_s": ("urls/s", "higher", "median over operations of urls out "
                   "(extract: rows; crawl: sum of fetched_ok) per second"),
    "html_mb_per_s": ("MB/s", "higher", "median over operations of HTML MB "
                      "of the pages extracted per second"),
    "peak_pss_mb": ("MB", "lower", "peak summed PSS (RSS with shared pages "
                    "split among their sharers) of the driver Python, the JVM "
                    "and the Python workers, sampled from /proc"),
}

_SECTION_FIELDS = {
    "wall_s": ("s", "lower"), "jobs": ("count", "lower"),
    "tasks": ("count", "lower"), "exec_run_s": ("s", "lower"),
    "exec_cpu_s": ("s", "lower"), "shuffle_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"), "files_written": ("count", "lower"),
}
SECTIONS = ("results", "frontier", "seen", "politeness")

# name: (unit, better, which end-to-end metric it should move, where)
LAYER = {
    "scrape.parse_dom_ms": ("ms", "lower", "urls_per_s, html_mb_per_s; extract_web more than extract_synth"),
    "scrape.harvest_ms": ("ms", "lower", "urls_per_s, html_mb_per_s; extract_web more than extract_synth"),
    "markdown.fast_ms": ("ms", "lower", "urls_per_s on extract_synth"),
    "markdown.fallback_ms": ("ms", "lower", "urls_per_s on extract_web"),
    "markdown.fallback_frac": ("ratio", "lower", "base: scrape.pages_sampled; 0 on synth pages"),
    "markdown.citations_ms": ("ms", "lower", "urls_per_s on both extract workloads"),
    "scrape.page_ms_mean": ("ms", "lower", "serial per-page total; urls_per_s on extract_*"),
    "scrape.page_ms_p50": ("ms", "lower", "serial per-page total; urls_per_s on extract_*"),
    "scrape.page_ms_p99": ("ms", "lower", "serial per-page total; urls_per_s on extract_*"),
    "scrape.pages_sampled": ("count", "higher", "sample size of the scrape.* and markdown.* metrics"),
    "scrape.unattributed_ms": ("ms", "lower", "page_ms_mean minus the per-function means"),
    "scrape_stage.python_s": ("s", "lower", "urls_per_s on extract_synth"),
    "scrape_stage.bytes_to_python": ("bytes", "lower", "urls_per_s on extract_synth"),
    "scrape_stage.bytes_from_python": ("bytes", "lower", "urls_per_s on extract_synth"),
    "scrape_stage.exec_run_s": ("s", "lower", "urls_per_s on extract_synth"),
    "scrape_stage.exec_cpu_s": ("s", "lower", "urls_per_s on extract_synth"),
    "scrape_stage.tasks": ("count", "lower", "urls_per_s on extract_synth"),
    "scrape_stage.parallel_eff": ("ratio", "higher", "urls_per_s x page_ms_mean / (1000 x cores)"),
    "crawl.rounds": ("count", "lower", "sample size of the round metrics"),
    "crawl.round_s_p50": ("s", "lower", "median round wall time; wall_s on crawl_*"),
    "crawl.round_fixed_s": ("s", "lower", "intercept a of round_wall = a + b*selected; wall_s on crawl_bfs"),
    "frontier.driver_s": ("s", "lower", "round wall minus the union of job intervals; wall_s on crawl_*"),
    "frontier.jobs_per_round": ("count", "lower", "crawl.round_fixed_s on crawl_bfs"),
    "frontier.round_ms_per_url": ("ms", "lower", "slope b of the round fit; crawl.round_fixed_s on crawl_bfs"),
    "crawl.other_sections_s": ("s", "lower", "jobs of sections outside the four layers"),
    "crawl.remainder_s": ("s", "lower", "round wall minus sections, other and driver_s"),
    "seen.admit_ratio": ("ratio", "higher", "new links over internal links harvested"),
    "politeness.deferred_frac": ("ratio", "lower", "deferred over next-frontier rows, summed over rounds; 0 on crawl_bfs"),
    "fetch.miss_frac": ("ratio", "lower", "selected urls not fetched over selected"),
    "session.start_s": ("s", "lower", "setup_s"),
    "synth.corpus_s": ("s", "lower", "setup_s"),
    "warmup_s": ("s", "lower", "setup_s"),
    "cpu_ms_per_url": ("ms", "lower", "CPU time (user + system) of the driver, the JVM and the "
                       "Python workers per url out; urls_per_s, less sensitive to other load"),
    "trace_overhead_frac": ("ratio", "lower", "traced wall_s over untraced wall_s, minus 1"),
}
for _sec in SECTIONS:
    for _f, (_u, _b) in _SECTION_FIELDS.items():
        LAYER[f"{_sec}.{_f}"] = (
            _u, _b, "crawl.round_fixed_s on crawl_bfs, crawl.round_s_p50 on crawl_polite")

NAME_RX = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RX = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def problems() -> list[str]:
    """Registry self-check: names and units within the allowed alphabet."""
    bad = []
    for name, spec in list(E2E.items()) + list(LAYER.items()):
        if not NAME_RX.match(name):
            bad.append(f"bad metric name {name!r}")
        if not UNIT_RX.match(spec[0]):
            bad.append(f"bad unit {spec[0]!r} for {name}")
    return bad


def render(values: dict, table: dict) -> dict:
    """``{name: {"value": v, "unit": u}}`` for every metric of ``table``
    (missing values read 0: the layer is not on this workload's path)."""
    return {name: {"value": float(values.get(name, 0.0)), "unit": spec[0]}
            for name, spec in table.items()}
