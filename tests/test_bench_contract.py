"""Pin the bench stdout contract: the recording harness parses only a
bounded (~2000 char) window of bench.py's one-line JSON, so the compact
line must stay under bench.STDOUT_BUDGET even with every section
populated (round 3 shipped parsed:null when the line outgrew the
window). Worst-case shaped inputs, no SparkSession needed."""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

import bench


def _full_result() -> dict:
    point = {
        "cpus": 32,
        "n_urls": 80_000,
        "wall_sec": 123.456,
        "urls_per_sec": 12345.67,
        "urls_per_sec_per_cpu": 385.8,
        "partitions": [{"pid": i, "rows": 1000, "sec": 1.23} for i in range(32)],
    }
    queries = {name: 123.456 for name in bench.HEADLINE}
    # a few extra long names in case the headline list grows
    queries.update({f"extra_query_with_a_long_name_{i}": 99.999 for i in range(4)})
    queries["crawl_3rounds"] = 21.934
    queries["extract_pass"] = 6.789
    queries["streaming_pass"] = 19.876
    return {
        "metric": "extract_urls_per_sec",
        "value": 13036.12,
        "unit": "urls/sec",
        "queries": queries,
        "sf": "0.1",
        "cpus": 32,
        "crawl": {
            "cpus": 32, "n_pages": 5000, "rounds": 3, "fetched_ok": 1636,
            "selected": 1700, "wall_sec": 21.934, "urls_per_sec": 74.58,
        },
        "extract": point,
        "scaling": {
            "job": "fetch+extract one-pass (scrape+markdown mapInPandas)",
            "note": "N->4N on one 32-core box; pair chosen below saturation",
            "low": dict(point, cpus=2),
            "high": dict(point, cpus=8),
            "speedup": 3.831,
            "cpu_ratio": 4.0,
            "efficiency": 0.958,
        },
        "submit_scaling": {
            "low": dict(point, cpus=2),
            "high": dict(point, cpus=8),
            "speedup": 3.62,
            "cpu_ratio": 4.0,
            "efficiency": 0.905,
            "trials": [{"eff": 0.9}, {"eff": 0.85}],
        },
        "seen_bloom": {
            "seen_rows": 4_000_000, "candidates": 55_000, "true_dups": 5_000,
            "exact_sec": 2.143, "cuckoo_sec": 1.192,
            "exact_shuffle_exchanges": 0, "cuckoo_shuffle_exchanges": 0,
        },
        "streaming": {
            "cpus": 32, "n_rows": 40_000, "expected": 40_000, "batches": 8,
            "wall_sec": 19.876, "rows_per_sec": 2012.48,
            "coarse_rows_per_sec": 12931.23,
        },
    }


def test_compact_line_fits_budget():
    line = json.dumps(bench.compact_result(_full_result()))
    assert len(line) <= bench.STDOUT_BUDGET, len(line)
    parsed = json.loads(line)
    # driver-contract keys survive compaction
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed
    # 21.93 when 2-decimal precision fits the window; 21.9 when the
    # headline set has grown enough that the designed one-decimal
    # degradation kicks in — both parse, both within the contract
    assert parsed["queries"]["crawl_3rounds"] in (21.93, 21.9)
    assert parsed["scaling"]["efficiency"] == 0.958
    assert parsed["submit_scaling"]["efficiency"] == 0.905
    assert parsed["seen_bloom"]["cuckoo_sec"] == 1.192
    # the streaming headline must SURVIVE the worst case — redundant
    # sections (extract/crawl) and the coarse secondary rate degrade
    # first; round 4's coarse key once silently evicted the section
    assert parsed["streaming"]["rows_per_sec"] == 2012.48
    assert parsed["detail"] == "bench_detail.json"


def test_compact_line_single_line():
    line = json.dumps(bench.compact_result(_full_result()))
    assert "\n" not in line


def test_compact_survives_error_sections():
    full = _full_result()
    full["submit_scaling"] = {"error": "x" * 500}
    full["scaling"] = {}
    line = json.dumps(bench.compact_result(full))
    assert len(line) <= bench.STDOUT_BUDGET
    assert len(json.loads(line)["submit_scaling"]["error"]) <= 120
