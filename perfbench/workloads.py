"""The four workloads, driven only through the engine's public entry points.

Each workload object has:

- ``setup(ctx)``: build and cache its inputs (timed as ``synth.corpus_s``);
- ``warmup(ctx)``: an untimed small run of the same code path;
- ``run_once(ctx, tracer)``: one operation (an extract pass, or a whole
  crawl); the harness times it, in a closed loop with one client;
- ``finish(ctx, op)``: untimed reads of the operation's outputs;
- ``check(ctx, ops)``: output checks, returning problem strings;
- ``layers(ctx, ops, tracer)``: per-layer metrics of traced operations;
- ``sample_pages(ctx, k)``: pages for the serial per-page trace.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from . import checks, corpus, jvm
from .metrics import SECTIONS
from .stats import clip, linear_fit, median, union_length

CHECK_ROWS = 16  # rows recomputed on the driver per run


@dataclass
class Ctx:
    spark: object
    cores: int
    seed: int
    work: str

    def rng(self, purpose: str) -> random.Random:
        return random.Random(f"{purpose}:{self.seed}")


def _synth_pages(ctx: Ctx, sf: str):
    """Cached ``synth.generate_pages`` output over the sf-shaped documents."""
    from crawl4ai_spark.synth import generate_pages

    sf_dir = os.path.join(ctx.work, sf)
    docs = corpus.write_documents(sf_dir, corpus.SF_DOCS[sf])
    return docs, generate_pages(ctx.spark, sf_dir).cache()


# ---------------------------------------------------------------------------
# extract
# ---------------------------------------------------------------------------

class Extract:
    """One ``scrape_stage(markdown=True, drop_cols=("html",
    "cleaned_html"))`` pass per operation. The pass ends in an aggregate of
    per-column digests, so every output column is computed and checked."""

    def __init__(self, name: str, synth_reps: int = 0, web_pages: int = 0):
        self.name, self.synth_reps, self.web_pages = name, synth_reps, web_pages
        self.passes = 0

    def setup(self, ctx: Ctx) -> None:
        spark = ctx.spark
        if self.synth_reps:
            _docs, pages = _synth_pages(ctx, "sf0.1")
            salt = f"?r={ctx.seed}-"
            src = (pages.select("url", "html")
                   .crossJoin(spark.range(self.synth_reps).withColumnRenamed("id", "rep"))
                   .select(F.concat("url", F.lit(salt), F.col("rep").cast("string")).alias("url"),
                           "html"))
            self._warm_src = pages.select("url", "html")
        else:
            texts = list(corpus.documents(corpus.SF_DOCS["sf0.1"])["text"])
            pdf = corpus.web_pages(ctx.seed, texts, self.web_pages)
            src = spark.createDataFrame(pdf, "url string, html binary")
            self._warm_src = spark.createDataFrame(
                corpus.web_pages(-1 - ctx.seed, texts, self.web_pages // 4),
                "url string, html binary")
        self.input = src.repartition(2 * ctx.cores).cache()
        stats = self.input.agg(F.count(F.lit(1)).alias("n"),
                               F.sum(F.length("html")).alias("b")).first()
        self.rows, self.html_bytes = int(stats["n"]), int(stats["b"])
        self.mean_page_bytes = self.html_bytes / self.rows
        urls = sorted(r["url"] for r in self.input.select("url").collect())
        self.check_urls = ctx.rng("check").sample(urls, CHECK_ROWS)
        self.all_urls = urls

    def _pass(self, df, sample=None):
        from crawl4ai_spark.functions.scrape import scrape_stage

        out = scrape_stage(df, markdown=True, drop_cols=("html", "cleaned_html"))
        agg = out.agg(F.sum(F.when(F.col("success"), 0).otherwise(1)).alias("_failed"),
                      *checks.digest_exprs(out, sample=sample))
        row = agg.collect()[0].asDict()
        return agg, row

    def warmup(self, ctx: Ctx) -> None:
        """A pass over a quarter-size slice with the timed pass's layout."""
        small = self._warm_src.limit(self.rows // 4).repartition(2 * ctx.cores)
        self._pass(small, sample=self.check_urls)

    def run_once(self, ctx: Ctx, tracer) -> dict:
        self.passes += 1
        group = f"perfbench-{self.name}-{self.passes}"
        ctx.spark.sparkContext.setJobGroup(group, f"perfbench {self.name} pass")
        with tracer.span("extract.pass", workload=self.name) as sid:
            agg, row = self._pass(self.input, sample=self.check_urls)
        failed = int(row.pop("_failed"))
        op = {"urls": int(row["rows"]), "html_bytes": self.html_bytes,
              "attempted": self.rows, "failed": failed, "digests": row,
              "group": group, "span": sid}
        if sid is not None:
            op["plan"] = jvm.plan_metrics(agg, "MapInPandas")
        return op

    def finish(self, ctx: Ctx, op: dict) -> None:
        pass

    def expected_value(self, ops: list[dict]) -> dict:
        return checks.split_sample(ops[0]["digests"])[0]

    def check(self, ctx: Ctx, ops: list[dict]) -> list[str]:
        from crawl4ai_spark.functions.scrape import scrape_stage

        bad = []
        whole, part = checks.split_sample(ops[0]["digests"])
        for op in ops[1:]:
            bad += checks.compare(ops[0]["digests"], op["digests"], "pass vs first pass")
        if whole["rows"] != self.rows:
            bad.append(f"{whole['rows']} rows out for {self.rows} in")
        if any(op["failed"] for op in ops):
            bad.append("pages with success=false")
        expected = checks.load_expected(self.name, ctx.seed)
        if expected is not None:
            bad += checks.compare(expected, whole, "recorded digest")
        # the sampled rows: timed-pass digests == a small re-run's digests,
        # and the small re-run's rows == the driver recompute
        sample_in = self.input.filter(F.col("url").isin(self.check_urls))
        out = scrape_stage(sample_in, markdown=True, drop_cols=("html", "cleaned_html")).cache()
        small = out.agg(*checks.digest_exprs(out)).first().asDict()
        small.pop("rows")
        bad += checks.compare(part, small, "sampled rows vs re-run")
        html = {r["url"]: bytes(r["html"]) for r in sample_in.collect()}
        rows = {r["url"]: r for r in out.collect()}
        out.unpersist()
        bad += checks.compare_rows(rows, html, [c for c in out.columns if c != "url"])
        return bad

    def sample_pages(self, ctx: Ctx, k: int) -> list[tuple[str, bytes]]:
        urls = ctx.rng("trace").sample(self.all_urls, min(k, len(self.all_urls)))
        rows = self.input.filter(F.col("url").isin(urls)).collect()
        return sorted((r["url"], bytes(r["html"])) for r in rows)

    def layers(self, ctx: Ctx, ops: list[dict], tracer) -> dict:
        jobs = jvm.jobs(ctx.spark)
        out: dict = {}
        n = len(ops)
        for op in ops:
            p = op["plan"]
            st = jvm.stage_totals(ctx.spark, [s for j in jobs if j["group"] == op["group"]
                                              for s in j["stages"]])
            for k, v in (("python_s", p.get("pythonTotalTime", 0) / 1e3),
                         ("bytes_to_python", p.get("pythonDataSent", 0)),
                         ("bytes_from_python", p.get("pythonDataReceived", 0)),
                         ("exec_run_s", st["exec_run_s"]),
                         ("exec_cpu_s", st["exec_cpu_s"]),
                         ("tasks", st["tasks"])):
                out[f"scrape_stage.{k}"] = out.get(f"scrape_stage.{k}", 0) + v / n
        return out


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------

SECTION_NAMES = ("robots", "politeness", "results", "cache", "metrics", "seen", "frontier")
START_URLS = 50
MAX_DEPTH = 4


class Crawl:
    """One whole crawl per operation: ``CrawlRun.seed`` then ``run_round``
    until the frontier empties (or ``rounds`` rounds)."""

    def __init__(self, name: str, round_seconds: float, rounds: int | None):
        self.name, self.round_seconds, self.rounds = name, round_seconds, rounds
        self.crawls = 0

    def _config(self, max_depth: int):
        from crawl4ai_spark.operators.frontier import CrawlConfig

        return CrawlConfig(max_depth=max_depth, round_seconds=self.round_seconds)

    def setup(self, ctx: Ctx) -> None:
        self.docs, self.pages = _synth_pages(ctx, "sf0.1")
        sizes = self.pages.select("url", F.length("html").alias("b")).collect()
        self.bytes_by_url = {r["url"]: int(r["b"]) for r in sizes}
        self.mean_page_bytes = sum(self.bytes_by_url.values()) / len(self.bytes_by_url)
        self.starts = sorted(ctx.rng("starts").sample(sorted(self.bytes_by_url), START_URLS))

    def _crawl(self, ctx: Ctx, pages, starts, wd, max_depth, rounds, tracer=None):
        from crawl4ai_spark.operators.frontier import CrawlRun

        from .trace import NullTracer

        tracer = tracer or NullTracer()
        run = CrawlRun(ctx.spark, pages, wd, self._config(max_depth))
        manifests, spans = [], []
        try:
            with tracer.span("crawl.seed", workload=self.name):
                run.seed(starts)
            r = 0
            while rounds is None or r < rounds:
                with tracer.span("crawl.round", round=r) as sid:
                    t0 = time.time()
                    m = run.run_round(r)
                    t1 = time.time()
                manifests.append(m)
                spans.append((r, t0, t1, sid))
                r += 1
                if m["next_frontier"] == 0 and m["deferred"] == 0:
                    break
        finally:
            run.close()
        return run, manifests, spans

    def warmup(self, ctx: Ctx) -> None:
        """One round of the same crawl over the sf0.01 corpus."""
        _docs, small = _synth_pages(ctx, "sf0.01")
        urls = sorted(r["url"] for r in small.select("url").collect())
        starts = ctx.rng("warm").sample(urls, 10)
        self._crawl(ctx, small, starts, os.path.join(ctx.work, "warm"), 1, 1)
        small.unpersist()

    def run_once(self, ctx: Ctx, tracer) -> dict:
        self.crawls += 1
        wd = os.path.join(ctx.work, f"crawl-{self.crawls}")
        with tracer.span("crawl", workload=self.name) as sid:
            run, manifests, spans = self._crawl(
                ctx, self.pages, self.starts, wd, MAX_DEPTH, self.rounds, tracer)
        return {"urls": sum(m["fetched_ok"] for m in manifests),
                "attempted": sum(m["selected"] for m in manifests),
                "manifests": manifests, "round_spans": spans, "run": run,
                "span": sid}

    def finish(self, ctx: Ctx, op: dict) -> None:
        """Digests and fetched bytes from the crawl's outputs (untimed)."""
        run = op["run"]
        res = run.results()
        fetched = res.filter(F.col("success")).select("url").collect()
        op["html_bytes"] = sum(self.bytes_by_url[r["url"]] for r in fetched)
        op["failed"] = op["attempted"] - op["urls"]
        keep = res.drop("partition_id")  # depends on the partition layout only
        seen = run.seen.load().select("url", "url_hash")
        op["results"] = res
        op["seen"] = seen
        op["digests"] = {
            "manifests": [[m[k] for k in checks.MANIFEST_KEYS] for m in op["manifests"]],
            "results": keep.agg(*checks.digest_exprs(keep)).first().asDict(),
            "seen": seen.agg(*checks.digest_exprs(seen)).first().asDict(),
        }

    def expected_value(self, ops: list[dict]) -> dict:
        return ops[0]["digests"]

    def check(self, ctx: Ctx, ops: list[dict]) -> list[str]:
        bad = []
        for op in ops[1:]:
            if op["digests"] != ops[0]["digests"]:
                bad.append("crawl outputs differ from the first crawl")
        op = ops[0]
        ms = op["manifests"]
        bad += checks.manifest_problems(ms)
        expected = checks.load_expected(self.name, ctx.seed)
        if expected is not None:
            got = op["digests"]
            if expected["manifests"] != got["manifests"]:
                bad.append("recorded manifests differ")
            bad += checks.compare(expected["results"], got["results"], "recorded results")
            bad += checks.compare(expected["seen"], got["seen"], "recorded seen set")
        res, seen = op["results"], op["seen"]
        rows = res.select("url", "depth").collect()
        depth = {r["url"]: r["depth"] for r in rows}
        if len(depth) != len(rows):
            bad.append("a url appears twice in the results")
        if res.join(seen, "url", "left_anti").count():
            bad.append("a fetched url is missing from the seen set")
        if op["digests"]["seen"]["rows"] != ms[-1]["cum_admitted_next"]:
            bad.append("seen-set size != cum_admitted_next of the last round")
        reach = checks.bfs_depths(self.starts, self.docs, MAX_DEPTH)
        if self.rounds is None and set(depth) != set(reach):
            bad.append(f"bfs fetched {len(depth)} urls, the link graph reaches {len(reach)}")
        for u, d in depth.items():
            if u not in reach or d < reach[u] or d > MAX_DEPTH:
                bad.append(f"{u} fetched at depth {d}, graph depth {reach.get(u)}")
                break
        sample = sorted(ctx.rng("check").sample(sorted(depth), min(CHECK_ROWS, len(depth))))
        got = {r["url"]: r for r in res.filter(F.col("url").isin(sample)).collect()}
        html = {r["url"]: bytes(r["html"]) for r in
                self.pages.filter(F.col("url").isin(sample)).select("url", "html").collect()}
        bad += checks.compare_rows(got, html, (
            "title", "headings", "meta", "text_extracted", "raw_markdown",
            "markdown_with_citations", "references_markdown", "links"))
        return bad

    def sample_pages(self, ctx: Ctx, k: int) -> list[tuple[str, bytes]]:
        urls = ctx.rng("trace").sample(sorted(self.bytes_by_url), min(k, len(self.bytes_by_url)))
        rows = self.pages.filter(F.col("url").isin(urls)).select("url", "html").collect()
        return sorted((r["url"], bytes(r["html"])) for r in rows)

    def layers(self, ctx: Ctx, ops: list[dict], tracer) -> dict:
        op = ops[-1]
        run, ms = op["run"], op["manifests"]
        groups = {run.job_group(r, s): s for r in range(len(ms) + 1) for s in SECTION_NAMES}
        jobs = jvm.jobs(ctx.spark)
        out: dict = {}
        per_sec: dict = {s: [] for s in SECTIONS + ("other",)}
        driver_s = other_s = wall_sum = 0.0
        n_jobs = 0
        for r, t0, t1, sid in op["round_spans"]:
            inside = [j for j in jobs if j["start"] >= t0 - 1e-3 and j["end"] <= t1 + 1e-3]
            n_jobs += len(inside)
            wall_sum += t1 - t0
            driver_s += (t1 - t0) - union_length(clip([(j["start"], j["end"]) for j in inside], t0, t1))
            for j in inside:
                sec = groups.get(j["group"], "other")
                sec = sec if sec in SECTIONS else "other"
                per_sec[sec].append((r, j))
                tracer.add("job", j["start"], j["end"], sid, section=sec, job_id=j["id"])
        written = jvm.written_files(
            ctx.spark, [j["id"] for items in per_sec.values() for _, j in items])
        for sec, items in per_sec.items():
            by_round: dict = {}
            for r, j in items:
                by_round.setdefault(r, []).append((j["start"], j["end"]))
            wall = sum(union_length(iv) for iv in by_round.values())
            if sec == "other":
                other_s = wall
                continue
            job_ids = {j["id"] for _, j in items}
            st = jvm.stage_totals(ctx.spark, [s for _, j in items for s in j["stages"]])
            out.update({f"{sec}.wall_s": wall, f"{sec}.jobs": len(items),
                        f"{sec}.files_written": sum(n for ran, n in written if ran & job_ids)})
            out.update({f"{sec}.{k}": v for k, v in st.items()})
        walls = [t1 - t0 for _, t0, t1, _ in op["round_spans"]]
        a, b = linear_fit([m["selected"] for m in ms], walls)
        res = op["results"]
        internal = res.filter(F.col("success")).select(
            F.sum(F.size(F.filter("links", lambda lk: lk["is_internal"]))).alias("n")).first()["n"]
        next_rows = sum(m["next_frontier"] for m in ms)
        out.update({
            "crawl.rounds": len(ms),
            "crawl.round_s_p50": median(walls),
            "crawl.round_fixed_s": a,
            "frontier.round_ms_per_url": b * 1e3,
            "frontier.driver_s": driver_s,
            "frontier.jobs_per_round": n_jobs / len(ms),
            "crawl.other_sections_s": other_s,
            "crawl.remainder_s": wall_sum - driver_s - other_s - sum(
                out[f"{s}.wall_s"] for s in SECTIONS),
            "seen.admit_ratio": sum(m["new_links"] for m in ms) / max(1, internal or 0),
            "politeness.deferred_frac": sum(m["deferred"] for m in ms) / max(1, next_rows),
            "fetch.miss_frac": op["failed"] / max(1, op["attempted"]),
        })
        return out


def make(name: str):
    """The workload object for ``name`` (KeyError for an unknown name)."""
    return {
        "extract_synth": lambda: Extract("extract_synth", synth_reps=1),
        "extract_web": lambda: Extract("extract_web", web_pages=600),
        "crawl_bfs": lambda: Crawl("crawl_bfs", round_seconds=1e6, rounds=None),
        "crawl_polite": lambda: Crawl("crawl_polite", round_seconds=64.0, rounds=4),
    }[name]()
