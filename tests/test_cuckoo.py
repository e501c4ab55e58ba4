"""Cuckoo-filter kernel (operators/cuckoo.py) + SeenFilter integration.

The north_star names "a partitioned cuckoo-filter URL-seen set
(canonicalized URL -> xxhash64 fingerprint)"; these tests pin the three
filter guarantees (no false negatives, bounded false-positive rate,
working delete) and the parity of the cuckoo-prefiltered seen set with
the exact path: anti-join, shard pruning, same-round rewrite, and a
3-round crawl.
"""

from __future__ import annotations

import numpy as np
import pytest

from crawl4ai_spark.operators import cuckoo
from crawl4ai_spark.operators.seen import SeenFilter


def _rand_hashes(n, seed, lo=-(2**62), hi=2**62):
    return np.random.default_rng(seed).integers(lo, hi, size=n, dtype=np.int64)


def test_no_false_negatives_and_bounded_fpp():
    member = _rand_hashes(50_000, 1)
    other = _rand_hashes(50_000, 2)
    other = other[~np.isin(other, member)]
    m, table = cuckoo.build(member)
    assert m & (m - 1) == 0  # power of two (partial-key XOR needs it)
    assert cuckoo.contains(member, m, table).all()
    # theoretical fpp ~ 2*b/2^f = 8/65536 ~ 0.012%; allow 10x slack
    assert cuckoo.contains(other, m, table).mean() < 0.005


def test_load_factor_and_kick_path():
    # force a small table so bulk passes overflow and kicking happens
    keys = _rand_hashes(900, 3)
    m = 256  # 1024 slots, load 0.88 > TARGET_LOAD
    m2, table = cuckoo.build(keys, m=m)
    assert m2 == m
    assert cuckoo.contains(keys, m, table).all()
    load = (table != 0).sum() / table.size
    assert load > 0.8


def test_overflow_raises():
    keys = _rand_hashes(2000, 4)
    with pytest.raises(OverflowError):
        cuckoo.build(keys, m=64)  # 256 slots for 2000 keys


def test_delete_removes_membership():
    keys = _rand_hashes(10_000, 5)
    m, table = cuckoo.build(keys)
    victims = keys[:100]
    removed = cuckoo.delete(victims, m, table)
    assert removed.all()
    # deleted keys are gone (modulo fp collisions with surviving keys);
    # with 16-bit fps over 10k keys expect essentially all gone
    still = cuckoo.contains(victims, m, table)
    assert still.mean() < 0.02
    # everyone else still present — delete must not cause false negatives
    assert cuckoo.contains(keys[100:], m, table).all()


def test_duplicate_keys_dedup_to_one_slot():
    keys = np.repeat(_rand_hashes(100, 6), 50)  # 5000 rows, 100 distinct
    m, table = cuckoo.build(keys)
    assert cuckoo.contains(keys, m, table).all()
    assert (table != 0).sum() <= 100


def test_sidecar_roundtrip_via_test_any():
    a, b = _rand_hashes(1000, 7), _rand_hashes(1000, 8)
    fa = cuckoo.build(a)
    fb = cuckoo.build(b)
    rows = [
        (fa[0], cuckoo.SLOTS, fa[1].tobytes()),
        (fb[0], cuckoo.SLOTS, fb[1].tobytes()),
    ]
    both = np.concatenate([a, b])
    assert cuckoo.test_any(both, rows).all()
    fresh = _rand_hashes(20_000, 9)
    assert cuckoo.test_any(fresh, rows).mean() < 0.005


def _mk_rows(spark, ids):
    return spark.createDataFrame(
        [(int(i), f"https://h0.example.com/u{i}") for i in ids],
        "url_hash bigint, url string",
    )


def test_cuckoo_anti_join_matches_exact(spark, tmp_path):
    seen_ids = list(range(0, 4000))
    cand_ids = list(range(3000, 5000))
    exact = SeenFilter(spark, str(tmp_path / "a"), n_shards=8)
    ck = SeenFilter(spark, str(tmp_path / "b"), n_shards=8,
                    filter_kind="cuckoo")
    for r, chunk in enumerate((seen_ids[:2000], seen_ids[2000:])):
        exact.add(_mk_rows(spark, chunk), r)
        ck.add(_mk_rows(spark, chunk), r)
    cands = _mk_rows(spark, cand_ids)
    got_exact = {r["url_hash"] for r in exact.anti_join(cands).collect()}
    got_ck = {r["url_hash"] for r in ck.anti_join(cands).collect()}
    assert got_ck == got_exact == set(range(4000, 5000))
    # the cuckoo sidecar directory is what got written
    assert (tmp_path / "b" / "url_seen_cuckoo").exists()


def test_unknown_filter_kind_rejected(spark, tmp_path):
    # cuckoo is the only sidecar codec; "bloom" is rejected like any other
    for kind in ("quotient", "bloom"):
        with pytest.raises(ValueError):
            SeenFilter(spark, str(tmp_path), filter_kind=kind)


def test_cuckoo_shard_skip(spark, tmp_path):
    """Candidates that all map to one shard must reach the exact-confirm
    scan as a pushed-down ``shard`` predicate, and the delta files must
    be sorted by shard with min/max statistics on it, so that predicate
    skips row groups (the Iceberg way: column stats, not directories)."""
    import glob
    import re

    import pyarrow.parquet as pq

    sf = SeenFilter(spark, str(tmp_path / "c"), n_shards=8,
                    filter_kind="cuckoo")
    sf.add(_mk_rows(spark, range(4000)), 0)

    # candidates confined to shard 3: url_hash % 8 == 3 (pmod semantics)
    cand_ids = [8 * i + 3 for i in range(200, 400)]
    cands = _mk_rows(spark, cand_ids)
    out = sf.anti_join(cands)
    plan = out._jdf.queryExecution().executedPlan().toString()
    new = {r["url_hash"] for r in out.collect()}
    assert new == {i for i in cand_ids if i >= 4000}
    # the seen-side scan pushes the shard predicate itself down
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("EqualTo(shard,3)" in p for p in pushed), plan

    files = glob.glob(str(tmp_path / "c" / "url_seen" / "round=0" / "*.parquet"))
    assert files
    for f in files:
        pf = pq.ParquetFile(f)
        shards = pf.read(columns=["shard"]).column("shard").to_pylist()
        assert shards == sorted(shards)
        idx = pf.schema_arrow.get_field_index("shard")
        for g in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(g).column(idx).statistics
            assert st is not None and st.has_min_max


def test_same_round_rewrite_invalidates_sidecar_cache(spark, tmp_path):
    """A crashed round re-run overwrites its delta+sidecar under the
    SAME round number. The in-memory per-round filter cache must evict
    that round (and rebuild the broadcast), or the stale filter marks
    the rewritten URLs definitely-unseen and re-admits them past the
    exact join."""
    sf = SeenFilter(spark, str(tmp_path), n_shards=4, filter_kind="cuckoo")
    sf.add(_mk_rows(spark, range(100)), round_no=0)
    # prime the cache
    assert sf.anti_join(_mk_rows(spark, range(100, 120))).count() == 20
    # same-round rewrite with DIFFERENT hashes (live refetch divergence)
    sf.add(_mk_rows(spark, range(200, 300)), round_no=0)
    # the rewritten hashes must test as seen (stale cache would pass them)
    assert sf.anti_join(_mk_rows(spark, range(200, 220))).count() == 0


def test_crawl_with_cuckoo_matches_exact(spark, sf_dir, tmp_path):
    """A 3-round crawl is identical with and without the cuckoo
    prefilter: same manifests (minus wall time and config), same
    results."""
    from crawl4ai_spark.operators.frontier import (
        CrawlConfig,
        CrawlRun,
        run_crawl,
    )
    from crawl4ai_spark.synth import generate_pages, page_url

    pages = generate_pages(spark, sf_dir)
    langs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    ).collect()
    lang_of = {r["doc_id"]: r["lang"] for r in langs}
    seeds = [page_url(i, lang_of[i]) for i in (1, 2, 3)]

    cols = ["url", "round", "depth", "success", "n_links"]
    runs = {}
    for name, kind in (("exact", None), ("cuckoo", "cuckoo")):
        wd = str(tmp_path / name)
        cfg = CrawlConfig(
            max_depth=2, round_seconds=8.0, seen_filter_kind=kind
        )
        ms = run_crawl(spark, pages, seeds, wd, cfg, max_rounds=3)
        res = CrawlRun(spark, pages, wd, cfg).results()
        runs[name] = (
            [
                {k: v for k, v in m.items() if k not in ("wall_s", "config")}
                for m in ms
            ],
            sorted(map(tuple, res.select(*cols).collect())),
        )
    assert runs["cuckoo"] == runs["exact"]


def test_build_tolerates_structured_keys():
    """The codec must not assume uniform input: sequential int64 keys
    (ids, timestamps) used to collapse every primary bucket to 0 —
    (h >> 16) is 0 for small ints — degenerating two-choice placement
    to one choice and overflowing the build at ~50%% load. The
    splitmix64 mixer makes the layout uniform for any key structure."""
    import numpy as np

    from crawl4ai_spark.operators import cuckoo

    for base in (0, 10**6, -500):
        keys = np.arange(base, base + 4000, dtype=np.int64)
        m, table = cuckoo.build(keys)
        assert cuckoo.contains(keys, m, table).all()
        other = np.arange(10**9, 10**9 + 4000, dtype=np.int64)
        fp_rate = cuckoo.contains(other, m, table).mean()
        assert fp_rate < 0.01
