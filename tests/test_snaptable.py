"""SnapshotTable: Iceberg-style snapshot semantics over parquet.

Covers atomic commits + optimistic concurrency (threaded committers),
time travel, incremental scans, file-stats pruning, rollback, expiry,
and add_files adoption of crawl-round outputs.
"""

import os
import threading

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.snaptable import CommitConflict, SnapshotTable


def _df(spark, lo, hi, tag="a"):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id"),
            F.concat(F.lit(tag), F.col("id").cast("string")).alias("name"),
            (F.col("id") % 7).alias("bucket"),
        )
    )


def test_append_read_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    assert not t.exists()
    s1 = t.append(_df(spark, 0, 100))
    s2 = t.append(_df(spark, 100, 250))
    assert t.exists() and (s1, s2) == (1, 2)

    assert t.read().count() == 250
    assert t.read(snapshot_id=s1).count() == 100
    # time travel by commit timestamp
    ts1 = t.snapshots()[0]["timestamp_ms"]
    assert t.read(as_of_ms=ts1).count() == 100
    assert t.read(as_of_ms=ts1 - 10_000).count() == 0
    # values, not just counts
    got = sorted(r["id"] for r in t.read(snapshot_id=s1).collect())
    assert got == list(range(100))


def test_overwrite_and_history(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 50))
    t.overwrite(_df(spark, 1000, 1010), summary={"reason": "compact"})
    assert t.read().count() == 10
    h = {r["snapshot_id"]: r for r in t.history().collect()}
    assert h[1]["operation"] == "append" and h[1]["total_rows"] == 50
    assert h[2]["operation"] == "overwrite" and h[2]["total_rows"] == 10
    assert "compact" in h[2]["summary"]
    # old snapshot still readable (no physical delete until expiry)
    assert t.read(snapshot_id=1).count() == 50


def test_schema_pinned(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.range(5).select(F.col("id").alias("other")))


def test_schema_evolution_additive(spark, tmp_path):
    """merge_schema=True appends new nullable columns; files written
    before the evolution read as null for them, everywhere (current
    read, time travel, scan)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    s1 = t.append(_df(spark, 0, 10).coalesce(1))
    evolved = _df(spark, 10, 20).withColumn(
        "lang", F.lit("en")).coalesce(1)
    # without the flag: hard error, no half-evolved table
    with pytest.raises(ValueError, match="merge_schema"):
        t.append(evolved)
    t.append(evolved, merge_schema=True)
    assert [f.name for f in t.schema().fields] == [
        "id", "name", "bucket", "lang"]
    rows = {r["id"]: r["lang"] for r in t.read().collect()}
    assert rows[5] is None and rows[15] == "en"
    # time travel reads with the CURRENT schema (evolved column = null)
    tt = t.read(snapshot_id=s1)
    assert "lang" in tt.columns and tt.count() == 10
    assert all(r["lang"] is None for r in tt.collect())
    # dropping columns (or renaming) stays a mismatch even with merge
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.range(3).select("id"), merge_schema=True)


def test_incremental_scan(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    s1 = t.append(_df(spark, 0, 10))
    s2 = t.append(_df(spark, 10, 30))
    s3 = t.append(_df(spark, 30, 35))
    inc = t.incremental(s1, s3)
    assert sorted(r["id"] for r in inc.collect()) == list(range(10, 35))
    assert t.incremental(s2).count() == 5  # to current
    assert t.incremental(0, s1).count() == 10  # from table start
    t.overwrite(_df(spark, 0, 3))
    with pytest.raises(ValueError, match="overwrite"):
        t.incremental(s1)


def test_stats_pruning_skips_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # three appends with disjoint id ranges -> disjoint file stats
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        t.append(_df(spark, lo, hi).coalesce(1))
    df, info = t.scan(filters=[("id", ">=", 250)])
    assert info["files_total"] == 3 and info["files_read"] == 1
    assert sorted(r["id"] for r in df.collect()) == list(range(250, 300))
    # equality on string column prunes too
    df2, info2 = t.scan(filters=[("name", "=", "a42")])
    assert info2["files_read"] == 1
    assert df2.count() == 1
    # AND-combined filters
    df3, info3 = t.scan(filters=[("id", ">=", 100), ("id", "<", 200)])
    assert info3["files_read"] == 1 and df3.count() == 100
    # un-prunable predicate still row-exact
    df4, info4 = t.scan(filters=[("bucket", "=", 3)])
    assert info4["files_read"] == 3
    assert df4.count() == sum(1 for i in range(300) if i % 7 == 3)


def test_delete_where_copy_on_write(spark, tmp_path):
    """delete_where rewrites ONLY files that may hold matching rows;
    non-matching files carry through untouched (same physical path)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:  # disjoint stats
        t.append(_df(spark, lo, hi).coalesce(1))
    paths_before = {f["path"] for f in t.files()}
    sid = t.delete_where([("id", ">=", 150), ("id", "<", 160)])
    assert sid is not None
    got = sorted(r["id"] for r in t.read().collect())
    assert got == [i for i in range(300) if not 150 <= i < 160]
    # only the middle file was rewritten; the other two survive in place
    paths_after = {f["path"] for f in t.files()}
    assert len(paths_before & paths_after) == 2
    # time travel still sees the pre-delete rows
    assert t.read(snapshot_id=3).count() == 300
    # incremental across a delete is undefined
    with pytest.raises(ValueError, match="delete"):
        t.incremental(1)
    # no file can match -> no-op, no new snapshot
    n = len(t.snapshots())
    assert t.delete_where([("id", ">=", 10_000)]) is None
    assert len(t.snapshots()) == n


def test_delete_where_partitioned(spark, tmp_path):
    """Partition-column predicates prune whole partitions and delete
    correctly when the predicate mixes partition + data columns."""
    ext = str(tmp_path / "part")
    _df(spark, 0, 140).write.partitionBy("bucket").parquet(ext)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.add_files(ext)
    before = {f["path"] for f in t.files()}
    t.delete_where([("bucket", "=", 2), ("id", "<", 70)])
    got = sorted((r["id"], r["bucket"]) for r in t.read().collect())
    want = sorted((i, i % 7) for i in range(140)
                  if not (i % 7 == 2 and i < 70))
    assert got == want
    # only bucket=2 files rewritten
    after = {f["path"] for f in t.files()}
    untouched = {p for p in before if "bucket=2" not in p}
    assert untouched <= after


def test_merge_by_key_upsert(spark, tmp_path):
    """merge_by_key: matching keys are replaced by the source row, new
    keys append, and only key-range-overlapping files rewrite — the
    recrawl path (fresh captures supersede stored pages)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:  # disjoint ranges
        t.append(_df(spark, lo, hi, tag="old").coalesce(1))
    paths_before = {f["path"] for f in t.files()}
    s_pre = t.current_snapshot_id()

    # re-fetch keys 150..159 (middle file only) + brand-new keys 400..404
    src = _df(spark, 150, 160, tag="new").union(
        _df(spark, 400, 405, tag="new"))
    sid = t.merge_by_key(src, "id")
    assert sid is not None

    rows = {r["id"]: r["name"] for r in t.read().collect()}
    assert len(rows) == 305
    assert rows[155] == "new155" and rows[149] == "old149"
    assert rows[400] == "new400" and rows[5] == "old5"
    # only the middle file was rewritten; first and last survive in place
    assert len(paths_before & {f["path"] for f in t.files()}) == 2
    # time travel pre-merge still shows the old capture
    old = {r["id"]: r["name"]
           for r in t.read(snapshot_id=s_pre).collect()}
    assert old[155] == "old155" and 400 not in old
    with pytest.raises(ValueError, match="merge"):
        t.incremental(s_pre)
    # merging on a partition column is refused
    ext = str(tmp_path / "part")
    _df(spark, 0, 70).write.partitionBy("bucket").parquet(ext)
    tp = SnapshotTable(spark, str(tmp_path / "tp"))
    tp.add_files(ext)
    with pytest.raises(ValueError, match="partition column"):
        tp.merge_by_key(_df(spark, 0, 5), "bucket")
    # empty source is a no-op
    assert t.merge_by_key(_df(spark, 0, 0), "id") is None
    # null keys and wrong-typed sources are hard errors, not bad prunes
    bad = spark.createDataFrame(
        [(None, "x", 0)], "id long, name string, bucket long")
    with pytest.raises(ValueError, match="null"):
        t.merge_by_key(bad, "id")
    wrong = spark.createDataFrame(
        [("7", "x", 0)], "id string, name string, bucket long")
    with pytest.raises(ValueError, match="types"):
        t.merge_by_key(wrong, "id")


def test_delete_by_key_purges_dedup_losers(spark, tmp_path):
    """delete_by_key fed by the real duplicate-resolution operator:
    losing doc ids vanish from the corpus table, canonical rows stay,
    and only key-range-overlapping files rewrite."""
    from crawl4ai_spark.operators.dedup import resolve_duplicates

    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        t.append(_df(spark, lo, hi).coalesce(1))
    paths_before = {f["path"] for f in t.files()}

    # near-dup pairs all inside the middle file's id range
    pairs = spark.createDataFrame(
        [(110, 111), (111, 112), (150, 155)], "id_a long, id_b long")
    ids = t.read().select(F.col("id"))
    resolution = resolve_duplicates(ids, pairs, "id")
    losers = resolution.filter(F.col("is_canonical") == 0).select("id")
    assert losers.count() == 3  # 111,112 lose to 110; 155 loses to 150

    sid = t.delete_by_key(losers, "id")
    assert sid is not None
    got = sorted(r["id"] for r in t.read().collect())
    assert got == [i for i in range(300) if i not in (111, 112, 155)]
    # first and last files untouched (their ranges hold no loser)
    assert len(paths_before & {f["path"] for f in t.files()}) == 2
    # disjoint key set -> no-op
    far = spark.createDataFrame([(9999,)], "id long")
    assert t.delete_by_key(far, "id") is None


def test_rewrite_conflict_detection(spark, tmp_path):
    """The copy-on-write commit validates against appends that landed
    after planning: a possibly-overlapping file aborts (serializable
    isolation); a provably disjoint one commits."""
    from crawl4ai_spark.snaptable import CommitConflict

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 100).coalesce(1))
    planned = {f["path"] for f in t.files()}
    t.append(_df(spark, 50, 60).coalesce(1))  # lands after planning
    with pytest.raises(CommitConflict, match="concurrently appended"):
        t._commit_rewrite("delete", planned, [], [], {}, [],
                          conflicts=lambda f: True)
    sid = t._commit_rewrite("delete", planned, [], [], {}, [],
                            conflicts=lambda f: False)
    assert sid == t.current_snapshot_id()
    assert t.read().count() == 110  # no-op delta kept everything


def test_metadata_stores_deltas_not_full_lists(spark, tmp_path):
    """Each append snapshot records only its own files (manifest
    reuse): metadata stays O(files added), not O(rounds × files)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(6):
        t.append(_df(spark, 10 * i, 10 * i + 10).coalesce(1))
    snaps = t.snapshots()
    assert [len(s["files_added"]) for s in snaps] == [1] * 6
    assert snaps[0]["complete"] and not any(s["complete"] for s in snaps[1:])
    assert len(t.files()) == 6 and t.read().count() == 60
    # resolution survives expiry of the delta chain's head
    t.expire_snapshots(keep_last=3)
    assert t.snapshots()[0]["complete"]  # rebased survivor
    assert len(t.files()) == 6 and t.read().count() == 60


def test_rollback(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    s1 = t.append(_df(spark, 0, 10))
    t.append(_df(spark, 10, 40))
    rb = t.rollback(s1)
    assert t.read().count() == 10
    assert t.current_snapshot_id() == rb
    # rollback is itself a snapshot; the rolled-past one is still there
    assert [s["operation"] for s in t.snapshots()] == [
        "append", "append", "rollback"]


def test_expire_snapshots_deletes_unreferenced(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10).coalesce(1))
    t.overwrite(_df(spark, 50, 60).coalesce(1))  # snap-1 files now dead
    all_files = {f["path"] for s in t.snapshots()
                 for f in t.files(s["snapshot_id"])}
    dead = t.expire_snapshots(keep_last=1)
    assert len(t.snapshots()) == 1
    assert dead and all(not os.path.exists(p) for p in dead)
    live = {f["path"] for f in t.files()}
    assert live == all_files - set(dead)
    assert all(os.path.exists(p) for p in live)
    assert t.read().count() == 10  # current data intact


def test_tags_name_snapshots(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    s1 = t.append(_df(spark, 0, 10).coalesce(1))
    t.tag("baseline")  # current
    t.append(_df(spark, 10, 30).coalesce(1))
    t.tag("full")
    assert t.refs() == {"baseline": s1, "full": 2}
    assert t.read(tag="baseline").count() == 10
    assert t.read(tag="full").count() == 30
    t.tag("baseline", 2)  # retag moves
    assert t.read(tag="baseline").count() == 30
    with pytest.raises(KeyError, match="nope"):
        t.read(tag="nope")
    with pytest.raises(KeyError):
        t.tag("bad", 99)
    # tags survive further commits; expiry orphans dropped targets
    t.append(_df(spark, 30, 35).coalesce(1))
    assert t.read(tag="full").count() == 30
    t.tag("old", s1)
    t.expire_snapshots(keep_last=1)
    assert "old" not in t.refs()
    # selector exclusivity + empty-table tagging are hard errors
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.read(tag="baseline", as_of_ms=2**62)
    t2 = SnapshotTable(spark, str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="no snapshot"):
        t2.tag("x")


def test_add_files_path_spelling_cannot_duplicate(spark, tmp_path,
                                                  monkeypatch):
    """The dup-adoption guard must hold across path spellings: relative
    vs absolute references to the same directory are one identity."""
    ext = str(tmp_path / "ext")
    _df(spark, 0, 20).coalesce(1).write.parquet(ext)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    monkeypatch.chdir(tmp_path)
    t.add_files("ext")  # relative spelling
    with pytest.raises(ValueError, match="already referenced"):
        t.add_files(ext)  # absolute spelling of the same dir
    assert t.read().count() == 20


def test_expire_snapshots_older_than(spark, tmp_path):
    """Age-based retention keeps everything at/after the cutoff even
    beyond keep_last, and still expires the pre-cutoff prefix."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(5):
        t.append(_df(spark, 10 * i, 10 * i + 10).coalesce(1))
    snaps = t.snapshots()
    cutoff = snaps[2]["timestamp_ms"]  # snapshots 3,4,5 are "recent"
    dead = t.expire_snapshots(keep_last=1, older_than_ms=cutoff)
    assert [s["snapshot_id"] for s in t.snapshots()] == [3, 4, 5]
    assert dead == []  # appends: expired prefix files still referenced
    assert t.read().count() == 50
    assert t.read(snapshot_id=3).count() == 30  # rebased survivor
    # future cutoff degrades to keep_last
    t.expire_snapshots(keep_last=2, older_than_ms=2**62)
    assert [s["snapshot_id"] for s in t.snapshots()] == [4, 5]


def test_concurrent_committers_optimistic(spark, tmp_path):
    """8 threads × 3 appends race on the version link; every commit must
    land exactly once (no lost updates, contiguous snapshot ids)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 1))
    errs = []

    def worker(k):
        try:
            tt = SnapshotTable(spark, str(tmp_path / "t"))
            for j in range(3):
                lo = 1000 * (k + 1) + 10 * j
                tt.append(_df(spark, lo, lo + 5))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    snaps = t.snapshots()
    assert [s["snapshot_id"] for s in snaps] == list(range(1, 26))
    assert t.read().count() == 1 + 24 * 5
    # every snapshot's parent is the previous snapshot (linear history)
    assert all(s["parent_id"] == s["snapshot_id"] - 1 for s in snaps[1:])


def test_add_files_adopts_crawl_round_output(spark, tmp_path):
    """Register already-written parquet (a crawl round's pages dir) as
    snapshots without copying; expiry must never delete adopted files."""
    ext = str(tmp_path / "round1")
    d1 = _df(spark, 0, 20).coalesce(1)
    d1.write.parquet(ext)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    s1 = t.add_files(ext, d1.schema, summary={"round": 1})
    assert t.read(snapshot_id=s1).count() == 20

    ext2 = str(tmp_path / "round2")
    _df(spark, 20, 30).coalesce(1).write.parquet(ext2)
    t.add_files(ext2, d1.schema, summary={"round": 2})
    assert t.read().count() == 30
    assert t.incremental(s1).count() == 10

    dead = t.expire_snapshots(keep_last=1)
    assert dead == []  # adopted files live outside <path>/data -> kept
    assert t.read().count() == 30
    assert os.path.exists(ext)
    # double adoption of the same directory is refused, not duplicated
    with pytest.raises(ValueError, match="already referenced"):
        t.add_files(ext, d1.schema)
    assert t.read().count() == 30


def test_compact_rewrites_small_files(spark, tmp_path):
    """compact() bin-packs small files, preserves rows + partitions +
    history, is net-zero for incremental scans, and its inputs become
    deletable at expiry."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for lo in range(0, 50, 10):  # 5 appends x 2 files = 10 small files
        t.append(_df(spark, lo, lo + 10).repartition(2))
    s_pre = t.current_snapshot_id()
    before = sorted((r["id"], r["name"]) for r in t.read().collect())
    assert len(t.files()) == 10

    sid = t.compact(target_file_bytes=1 << 30)  # everything is "small"
    assert sid is not None
    assert t._snapshot(None)["operation"] == "compact"
    assert len(t.files()) == 1
    assert sorted((r["id"], r["name"]) for r in t.read().collect()) == before
    # pre-compact snapshot still readable
    assert t.read(snapshot_id=s_pre).count() == 50
    # incremental across the compact snapshot adds nothing
    assert t.incremental(s_pre).count() == 0
    # append after compact; incremental from pre-compact sees only it
    t.append(_df(spark, 100, 105))
    assert t.incremental(s_pre).count() == 5
    # expiry now deletes the 10 rewritten inputs
    dead = t.expire_snapshots(keep_last=1)
    assert len(dead) == 10
    assert t.read().count() == 55
    # nothing small left -> no-op
    assert t.compact(target_file_bytes=1, min_input_files=2) is None


def test_compact_sort_by_restores_pruning(spark, tmp_path):
    """Interleaved appends make every file's key range overlap (no file
    prunable); compact(sort_by) re-clusters into disjoint ranges."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # each append spans the FULL id range -> every file overlaps
    for off in range(4):
        t.append(spark.range(300).select(
            (F.col("id") * 4 + off).alias("id")).coalesce(1))
    _, before = t.scan(filters=[("id", "<", 100)])
    assert before["files_read"] == before["files_total"] == 4

    total_bytes = sum(f["bytes"] for f in t.files())
    sid = t.compact(target_file_bytes=max(1, total_bytes // 4),
                    min_input_files=2, sort_by=["id"])
    assert sid is not None
    df, after = t.scan(filters=[("id", "<", 100)])
    assert after["files_total"] >= 2 and \
        after["files_read"] < after["files_total"]
    assert sorted(r["id"] for r in df.collect()) == list(range(100))
    assert t.read().count() == 1200
    # output ranges are disjoint
    ranges = sorted(tuple(f["stats"]["id"]) for f in t.files())
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo


def test_compact_partitioned_table(spark, tmp_path):
    ext = str(tmp_path / "part")
    _df(spark, 0, 140).write.partitionBy("bucket").parquet(ext)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.add_files(ext)
    ext2 = str(tmp_path / "part2")
    _df(spark, 140, 210).write.partitionBy("bucket").parquet(ext2)
    t.add_files(ext2)
    before = sorted((r["id"], r["bucket"]) for r in t.read().collect())
    sid = t.compact(target_file_bytes=1 << 30)
    assert sid is not None
    # one output file per partition group, partition values preserved
    assert len(t.files()) == 7
    assert sorted((r["id"], r["bucket"]) for r in t.read().collect()) == before
    # partition pruning still works on compacted files
    df, info = t.scan(filters=[("bucket", "=", 2)])
    assert info["files_read"] == 1
    assert df.count() == sum(1 for i in range(210) if i % 7 == 2)
    # adopted inputs are never physically deleted
    assert t.expire_snapshots(keep_last=1) == []
    assert t.read().count() == 210


def test_add_files_hive_partitioned(spark, tmp_path):
    """Adopting a hive-partitioned dir records per-file partition
    values, reconstructs them on read, and prunes on them at scan."""
    ext = str(tmp_path / "part")
    src = _df(spark, 0, 210)
    src.write.partitionBy("bucket").parquet(ext)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.add_files(ext)  # schema inferred, incl. the partition column
    got = t.read()
    assert set(got.columns) == {"id", "name", "bucket"}
    # partition values reconstructed exactly
    want = sorted((r["id"], r["bucket"]) for r in src.collect())
    assert sorted((r["id"], r["bucket"]) for r in got.collect()) == want
    # partition pruning: only bucket=3 files are read
    df, info = t.scan(filters=[("bucket", "=", 3)])
    assert info["files_read"] < info["files_total"]
    assert df.count() == sum(1 for i in range(210) if i % 7 == 3)


def test_crawl_round_snapshots(spark, sf_dir, tmp_path):
    """Each round lands as a results/frontier snapshot — time travel
    per round, incremental = that round's pages — and a crash-rerun
    doesn't double-register."""
    from crawl4ai_spark.operators.frontier import (
        CrawlConfig, CrawlRun, run_crawl)
    from crawl4ai_spark.synth import generate_pages

    pages = generate_pages(spark, sf_dir)
    seeds = [r["url"] for r in
             pages.select("url").orderBy("url").limit(3).collect()]
    wd = str(tmp_path / "crawl")
    cfg = CrawlConfig(max_depth=3, round_seconds=1e6)
    run_crawl(spark, pages, seeds, wd, cfg, max_rounds=3)
    run = CrawlRun(spark, pages, wd, cfg)
    rounds = run.latest_completed_round() + 1
    assert rounds >= 2

    t = run.table("results")
    snaps = t.snapshots()
    assert [s["summary"]["round"] for s in snaps] == list(range(rounds))
    # current == union of all round dirs == results()
    assert t.read().count() == run.results().count()
    # time travel to round 0 == just that round's results
    r0 = spark.read.parquet(os.path.join(wd, "results", "round=0"))
    assert t.read(snapshot_id=snaps[0]["snapshot_id"]).count() == r0.count()
    # incremental scan of the last snapshot == last round's results
    last = spark.read.parquet(
        os.path.join(wd, "results", f"round={rounds - 1}"))
    inc = t.incremental(snaps[-2]["snapshot_id"])
    assert sorted(r["url"] for r in inc.select("url").collect()) == \
        sorted(r["url"] for r in last.select("url").collect())

    # crash-rerun: drop the last round commit (round r outputs stay on
    # disk, its state snapshots stay adopted) and resume — adoption
    # must not duplicate the round
    t.drop_snapshots_since(snaps[-1]["snapshot_id"] - 1)
    run2 = CrawlRun(spark, pages, wd, cfg)
    run2.run(max_rounds=rounds)
    t2 = run2.table("results")
    assert [s["summary"]["round"] for s in t2.snapshots()] == \
        list(range(rounds))
    assert t2.read().count() == run2.results().count()
    for name in ("frontier", "url_seen", "politeness"):
        got = [s["summary"]["round"] for s in run2.table(name).snapshots()]
        assert got == ([] if name == "politeness" else [-1]) + \
            list(range(rounds))

    # the full north-star state set is checkpointed: frontier offsets
    # (incl. the seed round), url_seen deltas, politeness counters
    tf = run.table("frontier")
    assert [s["summary"] for s in tf.snapshots()][:2] == [
        {"round": -1, "stage": "seed"}, {"round": 0}]
    ts = run.table("url_seen")
    assert ts.snapshots()[0]["summary"] == {"round": -1, "stage": "seed"}
    # seen table current == engine's full seen set, with shard read
    # from the stored column
    seen_rows = ts.read()
    assert {"url_hash", "url", "shard"} <= set(seen_rows.columns)
    eng = spark.read.parquet(os.path.join(wd, "url_seen"))
    assert sorted(r["url_hash"] for r in seen_rows.collect()) == \
        sorted(r["url_hash"] for r in eng.collect())
    tp = run.table("politeness")
    assert [s["summary"]["round"] for s in tp.snapshots()] == \
        list(range(rounds))
    # politeness checkpoint of round r == state the engine saved for r+1
    last_pol = spark.read.parquet(
        os.path.join(wd, "politeness", f"round={rounds}"))
    assert tp.incremental(tp.snapshots()[-2]["snapshot_id"]).count() == \
        last_pol.count()


def test_remove_orphan_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10).coalesce(1))
    # simulate a crashed write: data files on disk, never committed
    orphan_dir = os.path.join(str(tmp_path / "t"), "data", "snap-dead")
    _df(spark, 99, 120).coalesce(1).write.parquet(orphan_dir)
    # default cutoff (1 h) protects the just-written files — they look
    # exactly like an IN-FLIGHT writer's uncommitted data
    assert t.remove_orphan_files() == []
    assert os.path.exists(orphan_dir)
    # explicit cutoff 0 = "no writer can be active": sweep them
    removed = t.remove_orphan_files(older_than_seconds=0)
    assert removed and all("snap-dead" in p for p in removed)
    assert not os.path.exists(orphan_dir)
    assert t.read().count() == 10  # live data untouched
    assert t.remove_orphan_files(older_than_seconds=0) == []


def test_streaming_append_exactly_once(spark, tmp_path):
    """foreachBatch sink: availableNow file stream lands as snapshots;
    a replayed batch id (crash-restart semantics) is skipped."""
    from crawl4ai_spark.snaptable import streaming_append

    src = str(tmp_path / "src")
    _df(spark, 0, 30).coalesce(1).write.parquet(src)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    stream = spark.readStream.schema(_df(spark, 0, 1).schema).parquet(src)
    q = (stream.writeStream.foreachBatch(streaming_append(t, "q1"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert t.read().count() == 30
    snaps = t.snapshots()
    assert snaps[-1]["summary"]["streaming_query"] == "q1"
    replayed_id = snaps[-1]["summary"]["streaming_batch_id"]

    # crash-replay of the same batch: a no-op, not a duplicate append
    sink = streaming_append(t, "q1")
    sink(_df(spark, 0, 30), replayed_id)
    assert t.read().count() == 30
    assert len(t.snapshots()) == len(snaps)
    # a genuinely new batch (or another query) still appends
    sink(_df(spark, 30, 35), replayed_id + 1)
    assert t.read().count() == 35


def test_snapshot_adoption_is_job_free(spark, sf_dir, tmp_path):
    """_commit_round is pure metadata: footer reads + json links,
    ZERO Spark jobs — the round commit must not tax the crawl round."""
    from crawl4ai_spark.operators.frontier import (
        STATE_TABLES, CrawlConfig, CrawlRun, _truncate_table_to_round,
        run_crawl)
    from crawl4ai_spark.synth import generate_pages

    pages = generate_pages(spark, sf_dir)
    seeds = [r["url"] for r in
             pages.select("url").orderBy("url").limit(3).collect()]
    wd = str(tmp_path / "c")
    cfg = CrawlConfig(max_depth=2, round_seconds=1e6)
    run_crawl(spark, pages, seeds, wd, cfg, max_rounds=2)
    run = CrawlRun(spark, pages, wd, cfg)
    res_schema = run.table("results").schema()
    counts = run.manifest(1)
    for name in STATE_TABLES:  # un-commit round 1, then commit it again
        _truncate_table_to_round(run.table(name), 0)
    assert run.latest_completed_round() == 0

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    run._commit_round(1, res_schema, counts)
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before
    # and the re-adoption left the tables correct
    assert run.latest_completed_round() == 1
    assert run.manifest(1) == counts
    assert run.table("results").read().count() == run.results().count()


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_snapshot_table_model(spark, tmp_path, seed):
    """Model check: a random op sequence (append / overwrite / rollback
    / compact / expire) against a pure-Python model of snapshot
    contents — read() and every retained snapshot's time travel must
    match the model after every op."""
    import random as _random

    rng = _random.Random(seed)
    t = SnapshotTable(spark, str(tmp_path / f"t{seed}"))
    model: dict[int, list[int]] = {}  # snapshot_id -> sorted row ids
    order: list[int] = []  # retained snapshot ids, commit order
    current: list[int] = []
    base = 0

    def ids(lo, n):
        return list(range(lo, lo + n))

    def df_of(lo, n):
        return spark.createDataFrame([(i,) for i in ids(lo, n)], "id long")

    for step in range(10):
        op = rng.choice(
            ["append", "append", "overwrite", "rollback", "compact",
             "expire", "delete", "merge"])
        if op == "append":
            n = rng.randint(1, 4)
            sid = t.append(df_of(base, n))
            current = current + ids(base, n)
            model[sid] = sorted(current)
            order.append(sid)
            base += 100
        elif op == "overwrite":
            n = rng.randint(1, 4)
            sid = t.overwrite(df_of(base, n))
            current = ids(base, n)
            model[sid] = sorted(current)
            order.append(sid)
            base += 100
        elif op == "rollback" and order:
            target = rng.choice(order)
            sid = t.rollback(target)
            current = list(model[target])
            model[sid] = sorted(current)
            order.append(sid)
        elif op == "compact" and order:
            sid = t.compact(target_file_bytes=1 << 30)
            if sid is not None:
                model[sid] = sorted(current)
                order.append(sid)
        elif op == "delete" and order and current:
            cut = rng.choice(sorted(current))
            sid = t.delete_where([("id", ">=", cut)])
            if sid is not None:
                current = [i for i in current if i < cut]
                model[sid] = sorted(current)
                order.append(sid)
        elif op == "merge" and order:
            # re-capture one existing id (if any) + one new id
            upserts = ([rng.choice(sorted(current))] if current else []) \
                + [base]
            src = spark.createDataFrame([(i,) for i in upserts], "id long")
            sid = t.merge_by_key(src, "id")
            assert sid is not None
            current = sorted(set(current) | set(upserts))
            model[sid] = sorted(current)
            order.append(sid)
            base += 100
        elif op == "expire" and len(order) > 2:
            keep = rng.randint(1, len(order) - 1)
            t.expire_snapshots(keep_last=keep)
            for sid in order[:-keep]:
                model.pop(sid)
            order = order[-keep:]
        if order:
            got = sorted(r["id"] for r in t.read().collect())
            assert got == sorted(current), f"step {step} op {op}"

    assert [s["snapshot_id"] for s in t.snapshots()] == order
    for sid in order:
        got = sorted(r["id"] for r in t.read(snapshot_id=sid).collect())
        assert got == model[sid], f"time travel to {sid}"
    # maintenance ops never corrupt: a final orphan sweep is a no-op
    # for referenced data
    t.remove_orphan_files()
    if order:
        assert sorted(r["id"] for r in t.read().collect()) == sorted(current)


def test_commit_conflict_raises(spark, tmp_path, monkeypatch):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    monkeypatch.setattr(
        t, "_commit",
        lambda meta, expected: (_ for _ in ()).throw(FileExistsError()))
    with pytest.raises(CommitConflict):
        t.append(_df(spark, 5, 10))


def test_append_rejects_changed_column_types(spark, tmp_path):
    """Name match alone must not admit a write whose physical types
    differ from the committed schema — such files poison every later
    read with 'Parquet column cannot be converted'."""
    import pytest as _pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "id int, v string"))
    with _pytest.raises(ValueError, match="types differ"):
        t.append(spark.createDataFrame([("2", "b")], "id string, v string"))
    # same logical type with different nullability still appends
    from pyspark.sql import functions as F

    t.append(
        spark.range(1).select(
            F.lit(3).alias("id"), F.lit("c").alias("v")
        )
    )
    assert t.read().count() == 2


def test_merge_by_key_rejects_mixed_null_keys(spark, tmp_path):
    """A null key hiding among valid keys must raise the documented
    ValueError (the sort places None LAST — the guard has to look
    there, not at keys[0])."""
    import pytest as _pytest

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([("a", 1)], "k string, v int"))
    bad = spark.createDataFrame([("b", 2), (None, 3)], "k string, v int")
    with _pytest.raises(ValueError, match="null/NaN keys"):
        t.merge_by_key(bad, "k")


def test_boolean_partition_pruning(spark, tmp_path):
    """bool('false') is True — the partition-value parse must decode
    booleans explicitly or success=false files are pruned away and
    scans/deletes silently miss every matching row."""
    ext = str(tmp_path / "boolext")
    spark.createDataFrame(
        [(1, True), (2, False), (3, False)], "id long, success boolean"
    ).write.partitionBy("success").parquet(ext)
    t = SnapshotTable(spark, str(tmp_path / "boolpart"))
    t.add_files(ext)
    got, info = t.scan([("success", "=", False)])
    assert {r["id"] for r in got.collect()} == {2, 3}
    got_t, _ = t.scan([("success", "=", True)])
    assert {r["id"] for r in got_t.collect()} == {1}


def test_incremental_rejects_expired_from_id(spark, tmp_path):
    """After expire_snapshots rebases the oldest survivor to a complete
    record, incremental() from an EXPIRED snapshot id must raise — the
    rebased files_added span the whole pre-expiry history, so answering
    would re-deliver rows the consumer already processed."""
    t = SnapshotTable(spark, str(tmp_path / "inc"))
    for lo in (0, 10, 20):
        t.append(spark.range(lo, lo + 10).select("id"))
    s1, s2, s3 = [s["snapshot_id"] for s in t.snapshots()]
    t.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError, match="expired or unknown"):
        t.incremental(s1, s3)
    with pytest.raises(ValueError, match="expired or unknown"):
        t.incremental(999, s3)
    # the surviving range still answers exactly
    assert t.incremental(s2, s3).count() == 10
    # from 0 = everything currently reachable
    assert t.incremental(0, s3).count() == 30


def test_partition_values_with_metacharacters_round_trip(spark, tmp_path):
    """delete_where's rewrite path must percent-quote partition values
    the way _harvest unquotes them: 'a/b' used to nest a directory and
    re-harvest as the wrong value."""
    ext = str(tmp_path / "metaext")
    spark.createDataFrame(
        [(1, "a/b"), (2, "a/b"), (3, "plain"), (4, "x%25y")],
        "id long, k string",
    ).write.partitionBy("k").parquet(ext)
    t = SnapshotTable(spark, str(tmp_path / "meta"))
    t.add_files(ext)
    t.delete_where([("id", "=", 2)])
    rows = {(r["id"], r["k"]) for r in t.read().collect()}
    assert rows == {(1, "a/b"), (3, "plain"), (4, "x%25y")}


def test_streaming_markers_survive_expiry(spark, tmp_path):
    """A crash-replayed micro-batch whose marker snapshot was expired
    must still be skipped: expire folds dropped streaming markers into
    a high-water map on the rebased survivor."""
    from crawl4ai_spark.snaptable import streaming_append

    t = SnapshotTable(spark, str(tmp_path / "stream"))
    sink = streaming_append(t, query_name="q")
    sink(spark.range(0, 5).select("id"), 0)   # batch 0
    sink(spark.range(5, 9).select("id"), 1)   # batch 1
    t.append(spark.range(100, 101).select("id"))  # unrelated writer
    t.expire_snapshots(keep_last=2)  # drops batch 0's marker snapshot
    sink(spark.range(0, 5).select("id"), 0)   # crash-replay of batch 0
    sink(spark.range(5, 9).select("id"), 1)   # and of batch 1
    assert t.read().count() == 10  # 5 + 4 + 1, no duplicates


def test_expire_prunes_old_metadata_versions(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "vers"))
    for i in range(14):
        t.append(spark.range(i, i + 1).select("id"))
    assert len(t._versions()) == 14
    t.expire_snapshots(keep_last=2)
    vs = t._versions()
    # versions <= current-10 are pruned; reads still work
    assert len(vs) <= 11 and max(vs) == 15
    assert t.read().count() == 14  # current snapshot keeps all rows
