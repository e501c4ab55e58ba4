"""Crawl-semantics tests (SURVEY.md §5 tier-3).

A single-threaded reference-faithful simulator recomputes the BFS
visited sets, per-round selections, and politeness budgets from the
synthetic corpus' analytic link graph; the Spark engine must match it
round for round. Kill/resume mid-crawl must land in the identical final
state.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.operators.frontier import CrawlConfig, CrawlRun, run_crawl
from crawl4ai_spark.operators.politeness import BASE_DELAY, update_state
from crawl4ai_spark.operators.robots import rules_table, synthetic_robots
from crawl4ai_spark.operators.seen import SeenFilter
from crawl4ai_spark.snaptable import SnapshotTable
from crawl4ai_spark.synth import (
    external_url,
    generate_pages,
    outlink_targets,
    page_host,
    page_url,
)

N_DOCS = 500


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    pages = generate_pages(spark, sf_dir)
    pages.cache()
    pages.count()
    langs = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    yield pages, langs
    pages.unpersist()


def _doc_of(url: str) -> int:
    return int(url.rsplit("/p", 1)[1].removesuffix(".html"))


def simulate(seeds, langs, *, max_rounds, max_depth, round_seconds,
             blocked_pred=None):
    """Reference-faithful single-threaded BFS with politeness budgets.

    Every fetch succeeds (the corpus is closed), so per-host delay stays
    at BASE_DELAY and the budget is floor(round_seconds / BASE_DELAY).
    Returns (per_round_selected, per_round_blocked, final_seen).
    """
    budget = max(int(round_seconds / BASE_DELAY), 1)
    seen = set(seeds)
    frontier = [(u, 0) for u in sorted(seeds)]  # (url, depth)
    sel_rounds, blk_rounds = [], []
    for _ in range(max_rounds):
        if not frontier:
            break
        blocked = [u for u, d in frontier if blocked_pred and blocked_pred(u)]
        eligible = [(u, d) for u, d in frontier if u not in blocked]
        by_host: dict[str, list] = {}
        for u, d in sorted(eligible):  # priority all equal -> url order
            by_host.setdefault(page_host(_doc_of(u)), []).append((u, d))
        selected, deferred = [], []
        for h, rows in by_host.items():
            selected.extend(rows[:budget])
            deferred.extend(rows[budget:])
        sel_rounds.append({u for u, _ in selected})
        blk_rounds.append(set(blocked))
        discovered: dict[str, int] = {}
        for u, d in selected:
            if d + 1 > max_depth:
                continue
            doc = _doc_of(u)
            for t in outlink_targets(doc, N_DOCS):
                tu = page_url(t, langs[t])
                if tu not in seen:
                    discovered[tu] = min(discovered.get(tu, 10**9), d + 1)
        for tu in discovered:
            seen.add(tu)
        frontier = deferred + sorted(discovered.items())
    return sel_rounds, blk_rounds, seen


def _engine_rounds(run: CrawlRun, n: int):
    res = run.results()
    out = []
    for r in range(n):
        out.append(
            {
                x["url"]
                for x in res.filter(
                    (F.col("round") == r) & (F.col("fetch_status") != "robots_blocked")
                ).select("url").collect()
            }
        )
    return out


def test_bfs_matches_simulator(spark, corpus, tmp_path):
    pages, langs = corpus
    seeds = [page_url(0, langs[0]), page_url(7, langs[7])]
    cfg = CrawlConfig(max_depth=2, round_seconds=8.0)
    wd = str(tmp_path / "bfs")
    ms = run_crawl(spark, pages, seeds, wd, cfg, max_rounds=4)

    sim_sel, _, sim_seen = simulate(
        seeds, langs, max_rounds=4, max_depth=2, round_seconds=8.0
    )
    run = CrawlRun(spark, pages, wd, cfg)
    eng_sel = _engine_rounds(run, len(ms))
    for r, want in enumerate(sim_sel):
        assert eng_sel[r] == want, f"round {r} selected-set mismatch"
    eng_seen = {x["url"] for x in run.seen.load().select("url").collect()}
    assert eng_seen == sim_seen


def test_resume_identical_to_uninterrupted(spark, corpus, tmp_path):
    pages, langs = corpus
    seeds = [page_url(3, langs[3])]
    cfg = CrawlConfig(max_depth=2, round_seconds=4.0)

    wd_a = str(tmp_path / "uninterrupted")
    run_crawl(spark, pages, seeds, wd_a, cfg, max_rounds=3)

    # interrupted: one round, then a fresh CrawlRun resumes
    wd_b = str(tmp_path / "resumed")
    run_crawl(spark, pages, seeds, wd_b, cfg, max_rounds=1)
    run_crawl(spark, pages, seeds, wd_b, cfg, max_rounds=3)

    a, b = CrawlRun(spark, pages, wd_a, cfg), CrawlRun(spark, pages, wd_b, cfg)
    cols = ["url", "round", "depth", "parent_url_hash", "success", "raw_markdown"]
    ra = sorted(map(tuple, a.results().select(cols).collect()))
    rb = sorted(map(tuple, b.results().select(cols).collect()))
    assert ra == rb
    assert {x["url"] for x in a.seen.load().collect()} == {
        x["url"] for x in b.seen.load().collect()
    }


class _Crash(RuntimeError):
    """The injected kill: raised at one job or commit boundary."""


# Every boundary a crash can hit in a default-config crawl, counted
# from the start of the seed or of a round: the k-th section tag
# (`_sec`, before that section's jobs), the k-th snapshot adoption
# (`add_files`, after its files are written and before they are
# committed), and the seed's seen-delta write (after the seed frontier
# is on disk; in a round it follows the "seen" section tag at once).
# `crash_baseline` counts these calls over the seed and two rounds, so
# a new boundary fails the coverage test below.
_SEAMS = {
    "sec": (CrawlRun, "_sec"),
    "add_files": (SnapshotTable, "add_files"),
    "seen_add": (SeenFilter, "add"),
}
_SEED_POINTS = [("sec", 1), ("add_files", 1), ("seen_add", 1), ("add_files", 2)]
_ROUND_POINTS = [("sec", k) for k in range(1, 6)] + [
    ("add_files", k) for k in range(1, 5)]


def _crawl_state(spark, pages, wd, cfg):
    """Everything a resumed crawl must reproduce: the rows of every
    round directory of results, seen deltas, frontier and politeness
    state, the committed counters (minus wall time), and the snapshot
    log of every table (summary, source dirs, rows)."""
    import json

    import pyarrow.parquet as pq

    run = CrawlRun(spark, pages, wd, cfg)

    def rows(path):
        return sorted(json.dumps(r, sort_keys=True, default=str)
                      for r in pq.read_table(path).to_pylist())

    dirs = {}
    for sub in ("results", "url_seen", "frontier", "politeness"):
        base = os.path.join(wd, sub)
        for d in sorted(os.listdir(base)) if os.path.isdir(base) else []:
            dirs[f"{sub}/{d}"] = rows(os.path.join(base, d))
    last = run.latest_completed_round()
    counters = [
        {k: v for k, v in run.manifest(i).items() if k != "wall_s"}
        for i in range(0 if last is None else last + 1)]
    log, root = {}, os.path.realpath(wd)
    for name in ("results", "frontier", "url_seen", "politeness"):
        t = run.table(name)
        log[name] = [
            ({k: v for k, v in s["summary"].items() if k != "wall_s"},
             sorted({os.path.relpath(os.path.dirname(f["path"]), root)
                     for f in t.files(s["snapshot_id"])}),
             sum(f["rows"] for f in t.files(s["snapshot_id"])))
            for s in t.snapshots()]
    return dirs, counters, log


@pytest.fixture(scope="module")
def crash_baseline(spark, corpus, tmp_path_factory):
    """One uncrashed crawl (seed + rounds 0 and 1) and the number of
    calls it makes to each crash seam."""
    pages, langs = corpus
    seeds = [page_url(d, langs[d]) for d in (3, 11, 40)]
    cfg = CrawlConfig(max_depth=2, round_seconds=4.0)
    wd = str(tmp_path_factory.mktemp("crash") / "baseline")
    calls = dict.fromkeys(_SEAMS, 0)
    with pytest.MonkeyPatch.context() as mp:
        for seam in _SEAMS:
            cls, attr = _SEAMS[seam]

            def counted(*a, _seam=seam, _orig=getattr(cls, attr), **kw):
                calls[_seam] += 1
                return _orig(*a, **kw)

            mp.setattr(cls, attr, counted)
        run_crawl(spark, pages, seeds, wd, cfg, max_rounds=2)
    return pages, seeds, cfg, calls, _crawl_state(spark, pages, wd, cfg)


def test_crash_points_cover_every_boundary(crash_baseline):
    *_, calls, state = crash_baseline
    assert calls == {"sec": 1 + 2 * 5, "add_files": 2 + 2 * 4, "seen_add": 3}
    dirs, counters, log = state
    assert len(counters) == 2 and dirs["frontier/round=2"]


@pytest.mark.parametrize("first_round", [None, 0, 1],
                         ids=["seed", "round0", "round1"])
def test_crash_at_every_boundary_resumes_identically(
        spark, crash_baseline, tmp_path, first_round):
    """Kill the crawl at each boundary of the seed, round 0 or round 1,
    then resume with run_crawl: results, seen deltas, frontier and
    politeness state of every round, the committed counters and the
    snapshot log equal the uncrashed crawl's. Each kill starts from the
    crawl as it stood before that step: an empty workdir for the seed,
    else a crawl cut back to the round with ``_forget_from``."""
    pages, seeds, cfg, _, want = crash_baseline
    wd = str(tmp_path / "wd")
    for seam, k in _SEED_POINTS if first_round is None else _ROUND_POINTS:
        if first_round is None:
            shutil.rmtree(wd, ignore_errors=True)
        else:
            run_crawl(spark, pages, seeds, wd, cfg, max_rounds=first_round)
            CrawlRun(spark, pages, wd, cfg)._forget_from(first_round)
        cls, attr = _SEAMS[seam]
        orig, calls = getattr(cls, attr), [0]

        def crashing(*a, _orig=orig, _calls=calls, _k=k, **kw):
            _calls[0] += 1
            if _calls[0] == _k:
                raise _Crash
            return _orig(*a, **kw)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cls, attr, crashing)
            with pytest.raises(_Crash):
                run_crawl(spark, pages, seeds, wd, cfg, max_rounds=2)
        run_crawl(spark, pages, seeds, wd, cfg, max_rounds=2)
        assert _crawl_state(spark, pages, wd, cfg) == want, f"{seam} #{k}"


def test_seen_delta_layout(spark, corpus, tmp_path):
    """Each round's seen delta is plain parquet under url_seen/round=N/
    (no shard=K directories), every file sorted by (shard, url_hash)
    with shard = pmod(url_hash, n_shards); load() returns exactly the
    frontier rows stamped with each round. The seed's jobs carry their
    own job group."""
    import glob

    import pyarrow.parquet as pq

    pages, langs = corpus
    seeds = [page_url(0, langs[0]), page_url(7, langs[7])]
    cfg = CrawlConfig(max_depth=2, round_seconds=8.0)
    wd = str(tmp_path / "layout")
    run = CrawlRun(spark, pages, wd, cfg)
    run.seed(seeds)
    tracker = spark.sparkContext.statusTracker()
    assert tracker.getJobIdsForGroup(run.job_group(0, "seed"))
    for r in range(2):
        run.run_round(r)

    seen_dir = os.path.join(wd, "url_seen")
    assert sorted(os.listdir(seen_dir)) == ["round=0", "round=1", "round=2"]
    for d in os.listdir(seen_dir):
        assert not [n for n in os.listdir(os.path.join(seen_dir, d))
                    if n.startswith("shard=")]
        files = glob.glob(os.path.join(seen_dir, d, "*.parquet"))
        assert files
        for f in files:
            t = pq.read_table(f, columns=["shard", "url_hash"])
            keys = list(zip(t["shard"].to_pylist(), t["url_hash"].to_pylist()))
            assert keys == sorted(keys)
            assert all(s == h % cfg.n_shards for s, h in keys)

    stamped = set()
    for r in range(3):
        fr = spark.read.parquet(run._frontier_path(r)).filter(F.col("round") == r)
        stamped |= {(x["url"], x["url_hash"], x["url_hash"] % cfg.n_shards)
                    for x in fr.collect()}
    got = [tuple(x) for x in
           run.seen.load().select("url", "url_hash", "shard").collect()]
    assert len(got) == len(set(got))
    assert set(got) == stamped


def test_robots_blocking(spark, corpus, tmp_path):
    pages, langs = corpus
    hosts = [f"h{i}" for i in range(32)]
    rules = rules_table(spark, synthetic_robots(hosts))
    # h5 (5 % 4 == 1) disallows /de/
    seeds = [page_url(d, langs[d]) for d in range(40)]
    cfg = CrawlConfig(max_depth=0, round_seconds=64.0, robots_rules=rules)
    wd = str(tmp_path / "robots")
    run_crawl(spark, pages, seeds, wd, cfg, max_rounds=1)
    run = CrawlRun(spark, pages, wd, cfg)
    res = run.results()
    blocked = {
        x["url"]
        for x in res.filter("fetch_status = 'robots_blocked'").select("url").collect()
    }
    want_blocked = set()
    for u in seeds:
        hn = int(u.split("//h", 1)[1].split(".")[0])
        doc = u.rsplit("/p", 1)[1].removesuffix(".html")
        if "/de/" in u and hn % 4 == 1:
            want_blocked.add(u)  # plain prefix rule
        if hn % 8 == 4 and doc.startswith("1") and not doc.startswith("13"):
            want_blocked.add(u)  # wildcard disallow minus allow override
        if hn % 8 == 0 and hn > 0 and "/de/" in u and doc.endswith("2"):
            want_blocked.add(u)  # end-anchored wildcard
    assert blocked == want_blocked
    # blocked urls must not contribute links or success rows
    assert res.filter(
        (F.col("fetch_status") == "robots_blocked") & F.col("success")
    ).count() == 0


def test_politeness_backoff_on_failures(spark):
    """Hosts whose fetches all fail back off exponentially and are
    dropped after MAX_RETRIES consecutive failed rounds."""
    results = spark.createDataFrame(
        [("badhost.com", False), ("badhost.com", False), ("good.com", True)],
        "host string, success boolean",
    )
    st = None
    delays = []
    for r in range(4):
        st = update_state(st, results, r)
        row = {x["host"]: x for x in st.collect()}
        delays.append(row["badhost.com"]["current_delay"])
        assert row["badhost.com"]["fail_count"] == r + 1
        assert row["good.com"]["fail_count"] == 0
        assert row["good.com"]["current_delay"] == BASE_DELAY
    assert delays == sorted(delays)  # monotone backoff
    assert delays[0] >= 1.5  # 2x with jitter >= 0.75


def test_external_links_config(spark, corpus, tmp_path):
    pages, langs = corpus
    seeds = [page_url(2, langs[2])]
    cfg = CrawlConfig(max_depth=1, include_external=True, round_seconds=64.0)
    wd = str(tmp_path / "ext")
    run_crawl(spark, pages, seeds, wd, cfg, max_rounds=2)
    run = CrawlRun(spark, pages, wd, cfg)
    res = run.results()
    ext = external_url(2)
    rows = res.filter(F.col("url") == ext).collect()
    assert len(rows) == 1  # external url entered the frontier...
    assert rows[0]["fetch_status"] == "miss"  # ...and missed the corpus


def test_priority_aging_prevents_starvation(spark, corpus, tmp_path):
    """T6: with priority_aging on, politeness-deferred rows outrank
    equal-priority fresh links the next round, so every budget slot on
    the hot host goes to the longest-waiting URLs; the stored frontier
    priority stays unboosted (no cross-round compounding)."""
    pages, langs = corpus
    # three h0 seeds, h0 budget = 1 fetch/round
    h0_docs = [i for i in range(N_DOCS) if page_host(i) == "h0"][:3]
    seeds = sorted(page_url(i, langs[i]) for i in h0_docs)
    cfg = CrawlConfig(max_depth=3, round_seconds=1.0, priority_aging=1.0)
    wd = str(tmp_path / "aging")
    run_crawl(spark, pages, seeds, wd, cfg, max_rounds=3)
    run = CrawlRun(spark, pages, wd, cfg)
    res = run.results()

    # rounds 1 and 2 each fetch exactly one h0 URL, and it must be one
    # of the waiting seeds (fresh links have aging 0)
    for r in (1, 2):
        got = [
            row["url"]
            for row in res.filter(
                (F.col("round") == r)
                & (F.col("host") == "h0.example.com")
                & (F.col("fetch_status") == "fetched")
            ).collect()
        ]
        assert len(got) == 1, f"round {r}: h0 budget is 1"
        assert got[0] in seeds, f"round {r}: aged seed must win the slot"

    # stored priorities stay at their unboosted values
    fr = spark.read.parquet(os.path.join(wd, "frontier"))
    assert fr.filter(F.col("priority") != 0.0).count() == 0


def test_robots_crawl_delay_floors_budget(spark, corpus, tmp_path):
    """A robots.txt Crawl-delay must floor the per-host budget:
    h0's delay 8s with round_seconds=16 allows 2 fetches/round even
    though the backoff state would allow 16."""
    pages, langs = corpus
    bodies = {"h0.example.com": "User-agent: *\nCrawl-delay: 8"}
    rules = rules_table(spark, bodies)
    h0_docs = [i for i in range(N_DOCS) if page_host(i) == "h0"][:6]
    seeds = [page_url(i, langs[i]) for i in h0_docs]
    cfg = CrawlConfig(max_depth=0, round_seconds=16.0, robots_rules=rules)
    wd = str(tmp_path / "rdelay")
    ms = run_crawl(spark, pages, seeds, wd, cfg, max_rounds=1)
    assert ms[0]["selected"] == 2      # floor(16 / 8)
    assert ms[0]["deferred"] == 4      # the rest wait, not dropped


def test_abandoned_host_rows_are_observable(spark, corpus, tmp_path):
    """URLs still queued for a host that exceeded MAX_RETRIES surface as
    fetch_status='abandoned' results (not silent disappearance)."""
    pages, langs = corpus
    # 6 urls on a host that has no pages at all -> every fetch misses
    fake = [f"https://deadhost.example.com/p{i}.html" for i in range(6)]
    cfg = CrawlConfig(max_depth=0, round_seconds=1.0)  # budget 1/round
    wd = str(tmp_path / "abandon")
    ms = run_crawl(spark, pages, fake, wd, cfg, max_rounds=8)
    run = CrawlRun(spark, pages, wd, cfg)
    res = run.results()
    statuses = {
        r["fetch_status"]: r["cnt"]
        for r in res.groupBy("fetch_status").agg(F.count("*").alias("cnt")).collect()
    }
    # 1 miss per round until fail_count exceeds MAX_RETRIES (4 failed
    # rounds), then the remaining 2 queued urls are abandoned
    assert statuses.get("miss") == 4
    assert statuses.get("abandoned") == 2
    assert sum(m.get("abandoned", 0) for m in ms) == 2
    assert res.count() == 6  # every seeded url is accounted for


def test_hot_host_spreads_across_salted_partitions(spark, corpus, tmp_path):
    """North-rule skew answer: h0 carries ~75% of the corpus, so its
    fetches must spread across multiple salted partitions instead of
    serializing on one."""
    pages, langs = corpus
    seeds = [page_url(i, langs[i]) for i in range(0, 40)]
    cfg = CrawlConfig(max_depth=2, round_seconds=1e6, salt=8)
    wd = str(tmp_path / "skew")
    run_crawl(spark, pages, seeds, wd, cfg, max_rounds=2)
    run = CrawlRun(spark, pages, wd, cfg)
    res = run.results().filter(
        (F.col("host") == "h0.example.com")
        & (F.col("fetch_status") == "fetched")
    )
    n_h0 = res.count()
    n_parts = res.select("partition_id").distinct().count()
    assert n_h0 > 50  # the hot host dominates, as constructed
    assert n_parts >= 4  # spread over salt slices, not one straggler


def test_budget_split_two_phase_parity(spark):
    """The salted two-phase budget top-k must select exactly the rows
    the one-phase per-host window would — including on a hot host
    carrying most of the frontier and on priority ties."""
    from crawl4ai_spark.operators.politeness import select_within_budget

    rows = []
    # h0 = hot host with 600 rows, many tied priorities
    for i in range(600):
        rows.append(("h0.example.com", f"https://h0.example.com/p{i:04d}", float(i % 7)))
    for h in range(1, 20):
        for i in range(10):
            rows.append((f"h{h}.example.com", f"https://h{h}.example.com/p{i}", float(i)))
    fr = spark.createDataFrame(rows, "host string, url string, priority double")
    state = spark.createDataFrame(
        [("h0.example.com", 2.0, 0), ("h1.example.com", 8.0, 0),
         ("h2.example.com", 1.0, 99)],
        "host string, current_delay double, fail_count int",
    )
    out = select_within_budget(
        fr, state, round_seconds=16.0, salt=8
    ).toPandas()

    # reference: exact one-phase top-k in pandas
    import math

    delays = {"h0.example.com": 2.0, "h1.example.com": 8.0, "h2.example.com": 1.0}
    want_sel = set()
    df = out.sort_values(["host", "priority", "url"], ascending=[True, False, True])
    for host, grp in df.groupby("host"):
        budget = max(math.floor(16.0 / delays.get(host, 1.0)), 1)
        if host == "h2.example.com":  # fail_count 99 > MAX_RETRIES
            continue
        want_sel |= set(grp["url"].head(budget))
    got_sel = set(out[out["_selected"]]["url"])
    assert got_sel == want_sel
    assert set(out[out["_dropped"]]["host"]) == {"h2.example.com"}
    assert len(out) == len(rows)  # every frontier row accounted for


def test_budget_split_no_unsalted_full_window(spark):
    """Scale shape: the window that sees the FULL frontier must be
    salt-partitioned; the exact host-only window may only consume the
    pre-filtered candidates (<= salt x budget rows per host)."""
    from crawl4ai_spark.operators.politeness import select_within_budget

    fr = spark.createDataFrame(
        [("h0", f"u{i}", 1.0) for i in range(50)],
        "host string, url string, priority double",
    )
    out = select_within_budget(fr, None, round_seconds=16.0, salt=8)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # both phases present: a salted partial window and an exact window
    assert "pmod(xxhash64" in plan
    # the host-only window's subtree must contain the partial-rank
    # filter, i.e. it never consumes the raw frontier
    import re

    host_only = [
        m.start() for m in re.finditer(r"windowspecdefinition\(host#", plan)
        if "pmod" not in plan[m.start():m.start() + 120]
    ]
    assert host_only, "exact per-host window missing"
    tail = plan[host_only[0]:]
    assert "_prn" in tail  # (the literal budget constant-folds away)


def test_robots_wildcard_rules_unit(spark):
    """Wildcard/anchor rule matching parity with the reference's
    patched robotparser semantics (utils.py:53-73)."""
    from crawl4ai_spark.operators.robots import rules_table, with_robots_decision

    body = "\n".join([
        "User-agent: *",
        "Disallow: /*.pdf$",
        "Disallow: /tmp*",
        "Disallow: /a/*/c",
        "Allow: /tmp/keep",
    ])
    rules = rules_table(spark, {"x.com": body})
    cases = [
        ("https://x.com/doc.pdf", False),       # anchored match
        ("https://x.com/doc.pdfx", True),       # anchor rejects suffix
        ("https://x.com/doc.pdf.html", True),
        ("https://x.com/tmp/file", False),      # wildcard prefix
        ("https://x.com/tmpfoo", False),
        ("https://x.com/tmp/keep/it", True),    # allow more specific
        ("https://x.com/a/b/c", False),         # inner wildcard
        ("https://x.com/a/b/x", True),
        ("https://x.com/ok.html", True),
    ]
    df = spark.createDataFrame(
        [(u, "x.com") for u, _ in cases], "url string, host string"
    )
    got = {
        r["url"]: r["robots_allowed"]
        for r in with_robots_decision(df, rules).collect()
    }
    for u, want in cases:
        assert got[u] == want, u

    # parity against the stdlib robotparser WITH the reference's patch
    # (utils.py:59-71 verbatim: stdlib quotes '*' to %2A at RuleLine
    # construction, so both spellings count)
    import re
    import urllib.robotparser as rp

    orig = rp.RuleLine.applies_to
    def patched(self, filename):
        if "*" in self.path or "%2A" in self.path or self.path in ("*", "%2A"):
            pattern = self.path.replace("%2A", "*")
            pattern = re.escape(pattern).replace("\\*", ".*")
            pattern = "^" + pattern
            if pattern.endswith("\\$"):
                pattern = pattern[:-2] + "$"
            return bool(re.match(pattern, filename))
        return orig(self, filename)
    rp.RuleLine.applies_to = patched
    try:
        p = rp.RobotFileParser()
        p.parse(body.splitlines())
        for u, want in cases:
            if ".pdf" in u or "/tmp/keep" in u:
                continue  # documented divergences asserted below
            assert p.can_fetch("*", u) == want, f"reference parity: {u}"
        # DOCUMENTED DIVERGENCE 1: stdlib RuleLine also quotes '$' to
        # %24, which the reference's patch does NOT undo — so the
        # reference silently ignores every '$'-anchored rule
        # ('/*.pdf$' blocks nothing there). This engine honors the
        # anchor per RFC 9309. Prove the reference really drops it:
        assert p.can_fetch("*", "https://x.com/doc.pdf") is True
        # DOCUMENTED DIVERGENCE 2: urllib resolves rules FIRST-MATCH in
        # file order, so 'Disallow: /tmp*' shadows the later, more
        # specific 'Allow: /tmp/keep'. RFC 9309 says the most specific
        # (longest) rule wins — this engine allows /tmp/keep/it, the
        # reference blocks it:
        assert p.can_fetch("*", "https://x.com/tmp/keep/it") is False
    finally:
        rp.RuleLine.applies_to = orig


def test_robots_rules_percent_encoding_normalized(spark):
    """Rules written with raw reserved chars must match canonicalized
    (%-encoded) URL paths — both sides normalize to percent-encoded
    form, mirroring the reference's robotparser quote() of rule and
    path alike."""
    from crawl4ai_spark.operators.robots import rules_table, with_robots_decision

    body = "\n".join([
        "User-agent: *",
        "Disallow: /a{b*",       # raw reserved char
        "Disallow: /c%7Dd/",     # already-encoded rule stays as-is
        "Allow: /a{b/keep*",
    ])
    rules = rules_table(spark, {"x.com": body})
    cases = [
        ("https://x.com/a%7Bb/c", False),
        ("https://x.com/a%7Bb/keep/me", True),
        ("https://x.com/c%7Dd/e", False),
        ("https://x.com/plain", True),
    ]
    df = spark.createDataFrame([(u, "x.com") for u, _ in cases],
                               "url string, host string")
    got = {r["url"]: r["robots_allowed"]
           for r in with_robots_decision(df, rules).collect()}
    for u, want in cases:
        assert got[u] == want, u


def test_crawl_invariant_to_salt_and_partitions(spark, corpus, tmp_path):
    """North rule: partitioning knobs (salt slices, shuffle width) must
    change the PHYSICAL layout only — the crawl ordering, URL-seen set
    and extracted results must be identical."""
    pages, langs = corpus
    seeds = [page_url(d, langs[d]) for d in range(12)]

    def run_with(salt, parts, name):
        cfg = CrawlConfig(max_depth=2, round_seconds=6.0, salt=salt,
                          shuffle_partitions=parts)
        wd = str(tmp_path / name)
        run_crawl(spark, pages, seeds, wd, cfg, max_rounds=3)
        run = CrawlRun(spark, pages, wd, cfg)
        rows = sorted(map(tuple, run.results().select(
            "url", "round", "depth", "success", "raw_markdown"
        ).collect()))
        seen = {x["url"] for x in run.seen.load().collect()}
        return rows, seen

    a = run_with(4, 8, "salt4")
    b = run_with(16, 32, "salt16")
    assert a[0] == b[0]
    assert a[1] == b[1]


def _mini_pages(spark, rows):
    """pages table from (url, [link_urls]) tuples."""
    from datetime import datetime, timezone

    data = [
        (
            url,
            datetime(2026, 1, 1, tzinfo=timezone.utc),
            ("<html><head><title>t</title></head><body>"
             + "".join(f'<a href="{l}">x</a>' for l in links)
             + "</body></html>").encode(),
            "body", "en",
        )
        for url, links in rows
    ]
    return spark.createDataFrame(
        data, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def test_trap_filter_blocks_trap_links(spark, tmp_path):
    seed = "https://t.com/start.html"
    trap = "https://t.com/a/a/a/loop.html"
    good = "https://t.com/next.html"
    pages = _mini_pages(spark, [(seed, [trap, good]), (good, []), (trap, [])])

    admitted = {}
    for name, flag in (("off", False), ("on", True)):
        wd = str(tmp_path / name)
        cfg = CrawlConfig(max_depth=2, round_seconds=1e6, trap_filter=flag)
        run_crawl(spark, pages, [seed], wd, cfg, max_rounds=2)
        res = CrawlRun(spark, pages, wd, cfg).results()
        admitted[name] = {r["url"] for r in res.select("url").collect()}
    assert trap in admitted["off"]
    assert trap not in admitted["on"]
    assert good in admitted["on"]


def test_rewind_to_round_replays_identically(spark, sf_dir, tmp_path):
    """rewind_to_round(k) + run() reproduces the original crawl bit-for-
    bit: same committed counters (minus wall time), same results, same
    snapshot tables — the engine is deterministic given round-k state."""
    import os

    from crawl4ai_spark.synth import generate_pages

    pages = generate_pages(spark, sf_dir)
    seeds = [r["url"] for r in
             pages.select("url").orderBy("url").limit(5).collect()]
    wd = str(tmp_path / "c")
    cfg = CrawlConfig(max_depth=3, round_seconds=1e6,
                      seen_filter_kind="cuckoo")
    run_crawl(spark, pages, seeds, wd, cfg, max_rounds=3)
    run = CrawlRun(spark, pages, wd, cfg)
    last = run.latest_completed_round()
    assert last >= 2

    def fingerprint():
        res = sorted(map(tuple, run.results().select(
            "url", "round", "fetch_status").collect()))
        mans = []
        for i in range(last + 1):
            m = dict(run.manifest(i))
            m.pop("wall_s")
            mans.append(m)
        # part-file names carry write UUIDs; the deterministic identity
        # of a snapshot is (summary, source dirs, per-dir row totals)
        tables = {}
        for name in ("results", "frontier", "url_seen", "politeness"):
            t = run.table(name)
            tables[name] = [
                ({k: v for k, v in s["summary"].items() if k != "wall_s"},
                 sorted({os.path.dirname(f["path"])
                         for f in t.files(s["snapshot_id"])}),
                 sum(f["rows"] for f in t.files(s["snapshot_id"])))
                for s in t.snapshots()]
        return res, mans, tables

    before = fingerprint()
    run.rewind_to_round(1)
    assert run.latest_completed_round() == 1
    assert not os.path.exists(os.path.join(wd, "results", f"round={last}"))
    # every state table is cut with the results log
    for name in ("results", "frontier", "url_seen", "politeness"):
        assert all(s["summary"]["round"] <= 1
                   for s in run.table(name).snapshots())
    run.run(max_rounds=last + 1)
    assert run.latest_completed_round() == last
    assert fingerprint() == before

    # rewind past the end and negative k are rejected/no-ops
    run.rewind_to_round(last + 5)
    assert run.latest_completed_round() == last
    import pytest as _pytest
    with _pytest.raises(ValueError):
        run.rewind_to_round(-1)
    # negative k raises even on a fresh (round-less) run
    fresh = CrawlRun(spark, pages, str(tmp_path / "fresh"), cfg)
    with _pytest.raises(ValueError):
        fresh.rewind_to_round(-1)

    # forgetting ONLY the last round is an ordinary resumable crawl too
    run.rewind_to_round(last - 1)
    assert run.latest_completed_round() == last - 1
    for i in range(last):  # every remaining commit readable
        run.manifest(i)
    run.run(max_rounds=last + 1)
    assert fingerprint() == before

    # a run WITHOUT the prefilter rewinding this workdir must drop the
    # forgotten rounds' cuckoo sidecars too: a stale sidecar would mark
    # the URLs of a rewritten delta definitely-unseen
    def round_dirs(name):
        return sorted(d for d in os.listdir(os.path.join(wd, name))
                      if d.startswith("round="))

    plain = CrawlConfig(max_depth=3, round_seconds=1e6)
    CrawlRun(spark, pages, wd, plain).rewind_to_round(1)
    assert round_dirs("url_seen_cuckoo") == round_dirs("url_seen")


def test_per_host_admission_quota(spark, sf_dir, tmp_path):
    """With max_urls_per_host=k, each round admits exactly the one-phase
    per-host top-k of what an unconstrained run admits."""
    import os

    from crawl4ai_spark.synth import generate_pages

    pages = generate_pages(spark, sf_dir)
    seeds = [r["url"] for r in pages.select("url").orderBy("url").limit(5).collect()]
    k = 3
    frontiers = {}
    for name, quota in (("free", None), ("quota", k)):
        wd = str(tmp_path / name)
        cfg = CrawlConfig(max_depth=3, round_seconds=1e6, max_urls_per_host=quota)
        run_crawl(spark, pages, seeds, wd, cfg, max_rounds=1)
        f1 = spark.read.parquet(os.path.join(wd, "frontier", "round=1"))
        frontiers[name] = sorted(
            map(tuple, f1.select("host", "priority", "url").collect())
        )
    by_host: dict = {}
    for host, prio, url in frontiers["free"]:
        by_host.setdefault(host, []).append((prio, url))
    want = []
    for host, rows in by_host.items():
        top = sorted(rows, key=lambda t: (-t[0], t[1]))[:k]
        want.extend((host, p, u) for p, u in top)
    assert sorted(want) == frontiers["quota"]
    # the synthetic hot host actually hit the cap
    counts = {}
    for host, _, _ in frontiers["quota"]:
        counts[host] = counts.get(host, 0) + 1
    assert max(counts.values()) == k
    free_counts = {}
    for host, _, _ in frontiers["free"]:
        free_counts[host] = free_counts.get(host, 0) + 1
    assert max(free_counts.values()) > k


def test_url_priors_boost_seed_and_link_priorities(spark, corpus, tmp_path):
    """CrawlConfig.url_priors adds to both seed and discovered-link
    priorities (keywords off -> priority == prior exactly), and absent
    urls stay at 0."""
    pages, langs = corpus
    seed0, seed7 = page_url(0, langs[0]), page_url(7, langs[7])
    # boost seed7 and one link every page links to (target of doc 0)
    from crawl4ai_spark.synth import outlink_targets

    # first outlink target of doc 0 that is NOT itself a seed (a seeded
    # url is already in the seen set and never re-enters the frontier)
    tgt = next(t for t in outlink_targets(0, N_DOCS) if t not in (0, 7))
    tgt_url = page_url(tgt, langs[tgt])
    priors = spark.createDataFrame(
        [(seed7, 3.5), (tgt_url, 1.25)], ["url", "prior"]
    )
    cfg = CrawlConfig(max_depth=2, round_seconds=8.0, url_priors=priors)
    wd = str(tmp_path / "priors")
    run = CrawlRun(spark, pages, wd, cfg)
    run.seed([seed0, seed7])
    f0 = {r["url"]: r["priority"]
          for r in spark.read.parquet(f"{wd}/frontier/round=0").collect()}
    assert f0[seed7] == 3.5 and f0[seed0] == 0.0
    run.run_round(0)
    f1 = {r["url"]: r["priority"]
          for r in spark.read.parquet(f"{wd}/frontier/round=1").collect()}
    assert f1.get(tgt_url) == 1.25
    others = [v for u, v in f1.items() if u != tgt_url]
    assert others and all(v == 0.0 for v in others)


def test_url_priors_pagerank_wiring(spark, corpus, tmp_path):
    """linkgraph.pagerank output (node ids ARE url_hash longs) feeds
    url_priors directly via its url_hash column — the corpus-level
    authority prior the north star's 'crawl prioritization' names."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.functions.urls import url_hash
    from crawl4ai_spark.operators.linkgraph import pagerank

    pages, langs = corpus
    seeds = [page_url(0, langs[0])]
    # authority over the synth link graph, keyed by url_hash
    from crawl4ai_spark.synth import outlink_targets

    edge_rows = [
        (page_url(s, langs[s]), page_url(d, langs[d]))
        for s in range(40)
        for d in outlink_targets(s, N_DOCS)
    ]
    edges = spark.createDataFrame(edge_rows, ["src_url", "dst_url"]).select(
        url_hash("src_url").alias("src"), url_hash("dst_url").alias("dst")
    )
    pr = pagerank(edges, "src", "dst", iters=2).select(
        F.col("node").alias("url_hash"),
        (F.col("pr") / F.lit(1e9)).alias("prior"),
    )
    cfg = CrawlConfig(max_depth=1, round_seconds=8.0, url_priors=pr)
    wd = str(tmp_path / "prwire")
    run = CrawlRun(spark, pages, wd, cfg)
    run.seed(seeds)
    run.run_round(0)
    f1 = spark.read.parquet(f"{wd}/frontier/round=1")
    boosted = f1.filter(F.col("priority") > 0).count()
    assert boosted > 0  # authority scores actually reached the frontier


def test_budget_fast_path_is_identity_and_engages(spark, sf_dir, tmp_path):
    """When footer statistics prove the politeness budget non-binding
    (tokens cover the frontier, nobody past MAX_RETRIES), the two-phase
    split is skipped — and the crawl output is bit-identical to the
    full split. When the budget binds, the fast path must not engage."""
    import crawl4ai_spark.operators.frontier as fr
    from crawl4ai_spark.synth import generate_pages

    pages = generate_pages(spark, sf_dir).cache()
    pages.count()
    seeds = [
        r["url"] for r in pages.select("url").orderBy("url").limit(20).collect()
    ]

    def crawl(tag, cfg, force_slow):
        wd = str(tmp_path / tag)
        run = fr.CrawlRun(spark, pages, wd, cfg)
        calls = {"n": 0}
        if force_slow:
            run._budget_provably_non_binding = lambda *a, **k: False
        else:
            orig = run._budget_provably_non_binding
            def spy(*a, **k):
                hit = orig(*a, **k)
                calls["n"] += int(hit)
                return hit
            run._budget_provably_non_binding = spy
        run.seed(seeds)
        for r in range(2):
            run.run_round(r)
        run.close()
        rows = sorted(
            (x["url"], x["fetch_status"], x["success"])
            for x in spark.read.parquet(f"{wd}/results/*").collect()
        )
        return rows, calls["n"]

    cfg = fr.CrawlConfig(max_depth=2, round_seconds=1e6)
    fast, engaged = crawl("fast", cfg, force_slow=False)
    slow, _ = crawl("slow", cfg, force_slow=True)
    assert engaged == 2, "fast path should engage every non-binding round"
    assert fast == slow

    # binding budget: proof must fail, split must run
    cfg2 = fr.CrawlConfig(max_depth=2, round_seconds=4.0)
    bound, engaged2 = crawl("bound", cfg2, force_slow=False)
    assert engaged2 == 0
    pages.unpersist()


def test_leaf_indices_resolve_past_nested_columns(tmp_path):
    """Row-group column chunks are LEAF-ordered: with a map column
    before n_links, the logical arrow index points at the wrong chunk.
    _leaf_indices must resolve by parquet schema path instead — the
    driver-metrics size guard depends on it counting the right bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawl4ai_spark.operators.frontier import _leaf_indices

    t = pa.table({
        "partition_id": pa.array([1], pa.int32()),
        "meta": pa.array(
            [[("k", "v")]], pa.map_(pa.string(), pa.string())
        ),
        "n_links": pa.array([3], pa.int32()),
    })
    p = str(tmp_path / "x.parquet")
    pq.write_table(t, p)
    pf = pq.ParquetFile(p)
    idx = _leaf_indices(pf, ["partition_id", "n_links"])
    rg = pf.metadata.row_group(0)
    roots = [rg.column(i).path_in_schema.split(".")[0] for i in idx]
    assert roots == ["partition_id", "n_links"]
    # the buggy logical index for n_links (2) lands inside the map
    assert idx == [0, 3]


def test_budget_fast_path_respects_robots_crawl_delay(spark, sf_dir, tmp_path):
    """A robots Crawl-delay that makes the budget binding must keep the
    fast path OFF even when the politeness state alone looks idle — and
    the rules dim is re-read every round, so a raise applies mid-run."""
    import crawl4ai_spark.operators.frontier as fr
    from crawl4ai_spark.operators.robots import rules_table
    from crawl4ai_spark.synth import generate_pages

    pages = generate_pages(spark, sf_dir).cache()
    pages.count()
    seeds = [
        r["url"] for r in pages.select("url").orderBy("url").limit(20).collect()
    ]
    hosts = [
        r["host"]
        for r in pages.selectExpr(
            "parse_url(url, 'HOST') as host"
        ).distinct().collect()
    ]
    # slow hosts: floor(round_seconds / 8.0) = 2 < frontier size
    rules = rules_table(
        spark, {h: "User-agent: *\nCrawl-delay: 8\n" for h in hosts}
    )
    cfg = fr.CrawlConfig(max_depth=1, round_seconds=16.0, robots_rules=rules)
    run = fr.CrawlRun(spark, pages, str(tmp_path / "wd"), cfg)
    engaged = {"n": 0}
    orig = run._budget_provably_non_binding
    def spy(*a, **k):
        hit = orig(*a, **k)
        engaged["n"] += int(hit)
        return hit
    run._budget_provably_non_binding = spy
    run.seed(seeds)
    m = run.run_round(0)
    run.close()
    assert engaged["n"] == 0  # proof must fail under the 8 s delay
    assert m["deferred"] > 0  # and the real split actually deferred rows
    pages.unpersist()


def test_politeness_idle_host_keeps_backoff(spark):
    """A backed-off host with NO fetches this round keeps its delay —
    the reference RateLimiter adjusts delay per RESPONSE, so idle
    rounds must not evaporate a backoff (x0.75 decay used to apply
    to n=0 hosts through the state ride-along)."""
    bad = spark.createDataFrame(
        [("flaky.com", False)], "host string, success boolean"
    )
    st = update_state(None, bad, 0, jitter_value=1.0)
    delay0 = st.collect()[0]["current_delay"]
    assert delay0 == BASE_DELAY * 2.0
    # three idle rounds: host appears only via the state side
    empty = spark.createDataFrame([], "host string, success boolean")
    for r in range(1, 4):
        st = update_state(st, empty, r, jitter_value=1.0)
    row = st.collect()[0]
    assert row["current_delay"] == delay0  # unchanged, not decayed
    assert row["fail_count"] == 1
    # an actual all-success round decays it again
    ok = spark.createDataFrame(
        [("flaky.com", True)], "host string, success boolean"
    )
    st = update_state(st, ok, 4, jitter_value=1.0)
    assert st.collect()[0]["current_delay"] == max(delay0 * 0.75, BASE_DELAY)
