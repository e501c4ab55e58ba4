"""Self-tests of the benchmark's own code: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from perfbench import checks, metrics, stats
from perfbench.trace import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))


def test_metric_names_and_units():
    assert metrics.problems() == []
    for name, spec in list(metrics.E2E.items()) + list(metrics.LAYER.items()):
        assert spec[0], name
        assert spec[1] in ("lower", "higher"), name


def test_benchmark_json_matches_registry():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert e2e == {k: v[:2] for k, v in metrics.E2E.items()}
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layer == {k: v[:2] for k, v in metrics.LAYER.items()}
    assert {w["name"] for w in spec["workloads"]} <= set(metrics.WORKLOADS)
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    import subprocess
    import sys

    shutil.copytree(HERE, tmp_path / "perfbench")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "extract_web",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


def test_fit_recovers_known_points():
    xs = [0, 50, 288, 1400, 2953]
    a, b = stats.linear_fit(xs, [3.3 + 0.0009 * x for x in xs])
    assert a == pytest.approx(3.3)
    assert b == pytest.approx(0.0009)
    assert stats.linear_fit([5, 5], [1.0, 3.0]) == (2.0, 0.0)


def test_intervals_and_self_time():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    tr = Tracer()
    root = tr.add("round", 10.0, 20.0)
    tr.add("job", 11.0, 14.0, root)
    tr.add("job", 13.0, 15.0, root)
    tr.add("job", 19.0, 25.0, root)  # clipped to the round
    assert tr.self_time(root) == pytest.approx(10 - 4 - 1)
    assert {s["run"] for s in tr.spans} == {tr.run_id}


def test_percentiles():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile(xs, 50) == 50
    assert stats.median([3, 1, 2]) == 2


def test_memory_sampler_reads_this_process():
    me = os.getpid()
    with open(f"/proc/{me}/status") as f:
        vm_kb = int(next(x for x in f if x.startswith("VmRSS")).split()[1])
    got = stats.pss_bytes(me)
    assert 0.3 * vm_kb * 1024 < got <= 1.1 * vm_kb * 1024  # PSS <= RSS
    assert me in stats.process_tree(me)
    s = stats.PssSampler(me, interval_s=0.01)
    s.start()
    s.stop()
    assert s.peak_bytes >= got * 0.5
    assert stats.pss_bytes(2 ** 22 + 12345) == 0  # no such process


def _manifest(r, frontier, selected, deferred, new, cum):
    return {"round": r, "frontier": frontier, "selected": selected,
            "fetched_ok": selected, "deferred": deferred, "new_links": new,
            "next_frontier": new + deferred, "cum_admitted": cum,
            "cum_admitted_next": cum + new, "blocked": 0, "abandoned": 0,
            "cache_hits": 0}


def test_manifest_invariants():
    ok = [_manifest(0, 50, 50, 0, 288, 50), _manifest(1, 288, 125, 163, 670, 338)]
    assert checks.manifest_problems(ok) == []
    bad = [dict(ok[0]), dict(ok[1], selected=124)]
    assert checks.manifest_problems(bad)


def test_bfs_depths_follow_the_link_graph():
    import pandas as pd

    from crawl4ai_spark.synth import outlink_targets, page_url

    docs = pd.DataFrame({"doc_id": range(40), "lang": ["en"] * 40})
    start = page_url(0, "en")
    depth = checks.bfs_depths([start], docs, 1)
    assert depth[start] == 0
    assert {u for u, d in depth.items() if d == 1} == {
        page_url(t, "en") for t in outlink_targets(0, 40)} - {start}


@pytest.fixture(scope="module")
def spark():
    from perfbench import harness

    work = tempfile.mkdtemp(prefix="perfbench-test-")
    s = harness.start_session(1, work)
    yield s
    harness.stop_session(s)
    shutil.rmtree(work, ignore_errors=True)


def test_one_byte_change_fails_the_digest_check(spark):
    rows = [("https://a/1", "alpha", {"k": "v"}), ("https://a/2", "beta", {"k": "w"})]
    ddl = "url string, md string, meta map<string,string>"
    df = spark.createDataFrame(rows, ddl)
    want = df.agg(*checks.digest_exprs(df)).first().asDict()
    same = spark.createDataFrame(list(reversed(rows)), ddl)  # order-independent
    assert checks.compare(want, same.agg(*checks.digest_exprs(same)).first().asDict(), "x") == []
    changed = spark.createDataFrame([rows[0], ("https://a/2", "bets", {"k": "w"})], ddl)
    got = changed.agg(*checks.digest_exprs(changed)).first().asDict()
    assert checks.compare(want, got, "x") == ["x: md expected %r got %r" % (want["md"], got["md"])]


def test_driver_recompute_matches_the_scrape_stage(spark):
    from crawl4ai_spark.functions.scrape import scrape_stage

    from perfbench import corpus

    pdf = corpus.web_pages(7, list(corpus.documents(50)["text"]), 3)
    df = spark.createDataFrame(pdf, "url string, html binary")
    out = scrape_stage(df, markdown=True, drop_cols=("html", "cleaned_html"))
    rows = {r["url"]: r for r in out.collect()}
    html = dict(zip(pdf["url"], pdf["html"]))
    assert checks.compare_rows(rows, html, [c for c in out.columns if c != "url"]) == []
