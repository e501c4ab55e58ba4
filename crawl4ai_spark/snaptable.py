"""Iceberg-style snapshot tables over parquet — from scratch.

The north-star architecture holds the 10^10-URL frontier and the crawl
state "in Iceberg tables ... checkpoint[ed] to Iceberg snapshots so a
killed job resumes mid-round".  This container has no Iceberg runtime
jar, so this module re-creates the load-bearing subset of the Iceberg
*table-format idea* (Apache Iceberg spec, https://iceberg.apache.org/spec/)
from scratch over plain parquet + JSON metadata:

- **atomic snapshot commits** — a snapshot's data files are fully
  written first, then a single metadata file ``metadata/v<N>.json`` is
  published with ``os.link`` (atomic on POSIX; fails with EEXIST when a
  concurrent committer won, which is exactly Iceberg's optimistic-
  concurrency loop: re-read, re-apply, retry),
- **time travel** — ``read(snapshot_id=...)`` / ``read(as_of_ms=...)``,
- **incremental scans** — ``incremental(from_id, to_id)`` reads only
  the files appended between two snapshots,
- **file-level min/max pruning** — per-file column stats are harvested
  from parquet footers at commit time (zero Spark jobs) and ``scan``
  skips files whose [min,max] range can't satisfy a predicate, the
  same file-skipping Iceberg manifests buy at 100 TB,
- **rollback** and **snapshot expiry** (physical delete of data files
  no retained snapshot references),
- **register-in-place** (``add_files``) — adopt parquet files that
  already exist (e.g. a crawl round's output) as a new snapshot without
  copying bytes, mirroring Iceberg's ``add_files`` migration procedure.

Scale notes: metadata is O(files), never O(rows); every read plans from
footer-harvested stats cached in the snapshot json, so planning cost is
one small JSON read no matter the table size.  Data file layout is
whatever Spark wrote — partitioning/bucketing of the DataFrame carries
straight through.

Reference seam: the reference persists crawl state ad hoc (sqlite db at
``/root/reference/crawl4ai/async_database.py``); this is the Spark-
native, cluster-shared replacement demanded by the north star.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["SnapshotTable", "CommitConflict", "streaming_append"]


def streaming_append(table: "SnapshotTable", query_name: str = "stream"):
    """``foreachBatch`` sink writing a stream into a snapshot table with
    exactly-once semantics (Iceberg's idempotent streaming write): the
    (query_name, batch_id) pair rides in the snapshot summary, and a
    replayed batch — Structured Streaming re-runs the last batch after
    a crash-restart — is detected and skipped instead of appended
    twice.

        (stream.writeStream.foreachBatch(streaming_append(t))
               .option("checkpointLocation", ckpt).start())
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        for s in table.snapshots():
            sm = s.get("summary", {})
            if (sm.get("streaming_query") == query_name
                    and sm.get("streaming_batch_id") == batch_id):
                return  # replay of an already-committed batch
            # markers of expired snapshots survive as a high-water map
            # on the expire-rebased record (see expire_snapshots)
            hw = sm.get("streaming_high_water") or {}
            if query_name in hw and batch_id <= int(hw[query_name]):
                return
        table.append(batch_df, summary={"streaming_query": query_name,
                                        "streaming_batch_id": batch_id})

    return _write


class CommitConflict(RuntimeError):
    """Raised when optimistic commits keep losing the version race."""


# parquet logical types whose min/max footer stats are safe to prune on
_PRUNABLE = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.DateType, T.TimestampType,
)


def _file_stats(path: str, stat_cols: list[str]) -> dict:
    """Per-file stats from the parquet footer — no Spark job.

    Returns ``{"rows": n, "stats": {col: [min, max] | None}}``; a column
    entry is None when any row group lacks stats or holds nulls only.
    """
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict[str, list | None] = {}
    name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    for col in stat_cols:
        i = name_to_idx.get(col)
        if i is None:
            out[col] = None
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    ok = False
                    break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        out[col] = [_json_safe(lo), _json_safe(hi)] if ok and lo is not None else None
    return {"rows": md.num_rows, "stats": out}


def _part_seg(k, v) -> str:
    """Hive-style partition path segment with the value percent-quoted,
    so values containing '/', '%', '=' etc. round-trip through
    _harvest's unquote() instead of corrupting the directory layout
    (plain alphanumeric values are unchanged — quote is the identity)."""
    from urllib.parse import quote

    return f"{k}={quote(str(v), safe='')}"


def _json_safe(v):
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


@dataclass
class _Snapshot:
    """One commit. File membership is stored as a DELTA against the
    parent (``files_added`` / ``files_removed``) unless ``complete`` —
    Iceberg's manifest-reuse idea: without it every snapshot repeats
    the full file list and metadata grows O(rounds²) over a long
    crawl. A snapshot's full file set is resolved by walking up to the
    nearest complete ancestor (overwrite/rollback commits, the first
    snapshot, and expire-rebased survivors are complete)."""

    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # append | overwrite | add_files | rollback | compact
    files_added: list[dict]  # [{"path", "partition", "rows", "stats", ...}]
    files_removed: list[str]  # paths dropped vs parent (compact)
    complete: bool  # files_added IS the full set (no parent walk)
    summary: dict = field(default_factory=dict)


class SnapshotTable:
    """A snapshot-versioned parquet table (see module docstring).

    Layout::

        <path>/data/snap-<id>-<uuid>/part-*.parquet
        <path>/metadata/v<N>.json        # one per committed version

    The current version is the highest committed ``v<N>.json``; commits
    publish with ``os.link`` so readers only ever see complete files and
    concurrent writers race on EEXIST (optimistic concurrency).
    """

    MAX_COMMIT_RETRIES = 50  # metadata-only retries are milliseconds

    def __init__(self, spark: SparkSession, path: str,
                 stat_cols: list[str] | None = None):
        self.spark = spark
        # absolute path: file identity (dup-adoption guard, expiry's
        # table-owned check) is path-string based
        self.path = os.path.abspath(path)
        self.stat_cols = stat_cols
        os.makedirs(os.path.join(path, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- metadata ------------------------------------------------------------

    def _meta_path(self, v: int) -> str:
        return os.path.join(self.path, "metadata", f"v{v}.json")

    def _versions(self) -> list[int]:
        out = []
        for f in os.listdir(os.path.join(self.path, "metadata")):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def _load(self, v: int | None = None) -> dict:
        return self._load_versioned(v)[0]

    def _load_versioned(self, v: int | None = None) -> tuple[dict, int]:
        """(metadata, version) read as one consistent pair.

        Commit loops MUST derive their expected version from the SAME
        listing the metadata was read at — a second ``_versions()``
        call could see a concurrent commit and publish metadata derived
        from the stale read over it (lost update)."""
        vs = self._versions()
        if not vs:
            return ({"table_uuid": None, "schema": None,
                     "snapshots": [], "current_snapshot_id": None}, 0)
        v = v if v is not None else vs[-1]
        with open(self._meta_path(v)) as f:
            return json.load(f), v

    def _commit(self, meta: dict, expected_version: int) -> int:
        """Publish ``meta`` as v<expected_version+1> atomically.

        Raises FileExistsError when a concurrent committer won the
        version — callers re-read and retry (optimistic concurrency).
        """
        v = expected_version + 1
        tmp = self._meta_path(v) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._meta_path(v))  # atomic publish-or-fail
        finally:
            os.unlink(tmp)
        return v

    # -- introspection -------------------------------------------------------

    def exists(self) -> bool:
        return bool(self._versions())

    def schema(self) -> T.StructType:
        meta = self._load()
        if meta["schema"] is None:
            raise ValueError(f"table {self.path} has no committed snapshot")
        return T.StructType.fromJson(meta["schema"])

    def snapshots(self) -> list[dict]:
        return self._load()["snapshots"]

    def current_snapshot_id(self) -> int | None:
        return self._load()["current_snapshot_id"]

    @staticmethod
    def _resolve_all(snaps: list[dict]) -> dict[int, list[dict]]:
        """Full file set per snapshot, resolved forward in one pass
        (parents precede children in the log). Handles delta records,
        complete records, and legacy full-list records ("files")."""
        out: dict[int, list[dict]] = {}
        for s in snaps:
            added = s.get("files_added", s.get("files", []))
            removed = set(s.get("files_removed", []))
            complete = s.get("complete", "files" in s)
            if complete or s["parent_id"] not in out:
                base: list[dict] = []
            else:
                base = out[s["parent_id"]]
            out[s["snapshot_id"]] = [
                f for f in base if f["path"] not in removed] + added
        return out

    def files(self, snapshot_id: int | None = None) -> list[dict]:
        """Resolved data-file metadata of a snapshot (default current)."""
        snaps = self.snapshots()
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
            if snapshot_id is None:
                return []
        resolved = self._resolve_all(snaps)
        if snapshot_id not in resolved:
            raise KeyError(f"snapshot {snapshot_id} not in {self.path}")
        return resolved[snapshot_id]

    def tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Name a snapshot (Iceberg tag): ``read(tag=name)`` resolves it
        after any number of later commits. Re-tagging an existing name
        moves it. Tags are labels, not retention — expiring a tagged
        snapshot orphans the tag (``refs()`` filters it out)."""
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
            if snapshot_id is None:
                raise ValueError(f"tag {name!r}: table {self.path} has "
                                 "no snapshot to tag")
        self._snapshot(snapshot_id)  # validate it exists
        for _ in range(self.MAX_COMMIT_RETRIES):
            meta, expected = self._load_versioned()
            refs = dict(meta.get("refs", {}))
            refs[name] = snapshot_id
            try:
                self._commit({**meta, "refs": refs}, expected)
                return
            except FileExistsError:
                continue
        raise CommitConflict(f"tag lost races on {self.path}")

    def refs(self) -> dict:
        """Current tag name -> snapshot id mapping (dropped tags whose
        snapshot was expired are filtered out)."""
        meta = self._load()
        ids = {s["snapshot_id"] for s in meta["snapshots"]}
        return {k: v for k, v in meta.get("refs", {}).items() if v in ids}

    def history(self) -> DataFrame:
        """Snapshot log as a DataFrame (id, parent, ts, op, files, rows)."""
        snaps = self.snapshots()
        resolved = self._resolve_all(snaps)
        rows = [
            (s["snapshot_id"], s["parent_id"],
             time.strftime("%Y-%m-%dT%H:%M:%S",
                           time.gmtime(s["timestamp_ms"] / 1000)),
             s["operation"], len(resolved[s["snapshot_id"]]),
             sum(f["rows"] for f in resolved[s["snapshot_id"]]),
             json.dumps(s.get("summary", {}), sort_keys=True))
            for s in snaps
        ]
        return self.spark.createDataFrame(
            rows, "snapshot_id long, parent_id long, committed_at string, "
                  "operation string, num_files int, total_rows long, "
                  "summary string")

    # -- writes --------------------------------------------------------------

    def _write_data(self, df: DataFrame, snap_id: int) -> tuple[str, list[dict]]:
        d = os.path.join(self.path, "data",
                         f"snap-{snap_id}-{uuid.uuid4().hex[:8]}")
        df.write.mode("errorifexists").parquet(d)
        return d, self._harvest(d, df.schema)

    def _harvest(self, directory: str, schema: T.StructType) -> list[dict]:
        """File metadata under ``directory`` (recursive): footer stats +
        identity partition values parsed from hive-style ``k=v`` path
        segments (Iceberg stores partition tuples per data file in its
        manifests; this is that, for identity transforms)."""
        from urllib.parse import unquote

        cols = self.stat_cols
        if cols is None:
            cols = [f.name for f in schema.fields
                    if isinstance(f.dataType, _PRUNABLE)]
        files = sorted(glob.glob(
            os.path.join(directory, "**", "*.parquet"), recursive=True))
        out = []
        for p in files:
            part = {}
            for seg in os.path.relpath(os.path.dirname(p), directory).split(os.sep):
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    part[k] = unquote(v)
            out.append({"path": p, "partition": part,
                        "base": directory if part else None,
                        "bytes": os.path.getsize(p), **_file_stats(p, cols)})
        return out

    @staticmethod
    def _evolve_schema(committed: T.StructType | None, new: T.StructType,
                       merge: bool) -> T.StructType:
        """Declared schema after a write: unchanged names keep the
        committed layout; with ``merge``, NEW columns append as nullable
        fields (Iceberg additive schema evolution — older files read as
        null for them). Anything else is a hard mismatch."""
        if committed is None:
            return new
        old_names = [f.name for f in committed.fields]
        new_names = [f.name for f in new.fields]

        def _check_types() -> None:
            # name match alone is not enough: committing files whose
            # physical types differ from the declared schema poisons
            # every later read ("Parquet column cannot be converted").
            # simpleString() strips nullability flags, which
            # legitimately vary between writes of the same logical
            # schema (e.g. a lit() column is non-nullable one round)
            old_types = {
                f.name: f.dataType.simpleString() for f in committed.fields
            }
            bad = [
                (f.name, old_types[f.name], f.dataType.simpleString())
                for f in new.fields
                if f.name in old_types
                and f.dataType.simpleString() != old_types[f.name]
            ]
            if bad:
                raise ValueError(
                    "schema mismatch: column types differ from the "
                    f"committed table schema: {bad}"
                )

        if old_names == new_names:
            _check_types()
            return committed
        if merge and set(old_names) <= set(new_names):
            _check_types()
            extra = [T.StructField(f.name, f.dataType, True)
                     for f in new.fields if f.name not in set(old_names)]
            return T.StructType(list(committed.fields) + extra)
        raise ValueError(
            f"schema mismatch: table has {old_names}, df has {new_names}"
            + ("" if merge else
               " (pass merge_schema=True to add new columns)"))

    def _apply(self, op: str, df: DataFrame | None,
               directory: str | None = None, summary: dict | None = None,
               merge_schema: bool = False) -> int:
        """Optimistic-concurrency commit loop shared by all write ops.

        The data files are written ONCE, before the loop — their bytes
        don't depend on which version the commit lands as — and only
        the metadata publish retries on conflict (Iceberg's commit
        model: expensive work outside the retry, cheap metadata swap
        inside it, jittered backoff between attempts). The declared
        schema is (re-)derived INSIDE the loop so a concurrent
        evolution is never overwritten with a stale layout.
        """
        import random
        import shutil

        if df is not None:
            # fail fast on an obvious mismatch before paying the write
            meta0 = self._load()
            self._evolve_schema(
                T.StructType.fromJson(meta0["schema"])
                if meta0["schema"] is not None else None,
                df.schema, merge_schema)
            new_dir, new_files = self._write_data(df, uuid.uuid4().int % 10**6)
        else:
            new_dir = None
            dir_schema = self.schema() if self._load()["schema"] else None
            new_files = (self._harvest(directory, dir_schema)
                         if directory else [])

        for attempt in range(self.MAX_COMMIT_RETRIES):
            meta, expected = self._load_versioned()
            parent = meta["current_snapshot_id"]
            snap_id = (max(s["snapshot_id"] for s in meta["snapshots"]) + 1
                       if meta["snapshots"] else 1)
            if op == "add_files" and parent is not None:
                # double adoption would silently duplicate rows
                cur = {f["path"] for f in
                       self._resolve_all(meta["snapshots"])[parent]}
                dup = sorted(f["path"] for f in new_files
                             if f["path"] in cur)
                if dup:
                    raise ValueError(
                        f"add_files: {len(dup)} file(s) already "
                        f"referenced by the current snapshot, e.g. "
                        f"{dup[0]}")
            committed = (T.StructType.fromJson(meta["schema"])
                         if meta["schema"] is not None else None)
            if df is not None:
                declared = self._evolve_schema(
                    committed, df.schema, merge_schema)
            else:
                declared = committed if committed is not None else dir_schema

            snap = _Snapshot(
                snapshot_id=snap_id, parent_id=parent,
                timestamp_ms=int(time.time() * 1000), operation=op,
                files_added=new_files, files_removed=[],
                # append deltas against the parent; overwrite (and a
                # parentless first commit) carry the full set
                complete=(op == "overwrite" or parent is None),
                summary=summary or {},
            ).__dict__
            meta = {
                **meta,  # carries refs (tags) and any future keys
                "table_uuid": meta["table_uuid"] or uuid.uuid4().hex,
                "schema": (declared.jsonValue() if declared is not None
                           else meta["schema"]),
                "snapshots": meta["snapshots"] + [snap],
                "current_snapshot_id": snap_id,
            }
            try:
                self._commit(meta, expected)
                return snap_id
            except FileExistsError:
                time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
        if new_dir is not None:
            shutil.rmtree(new_dir, ignore_errors=True)
        raise CommitConflict(
            f"lost {self.MAX_COMMIT_RETRIES} commit races on {self.path}")

    def append(self, df: DataFrame, summary: dict | None = None,
               merge_schema: bool = False) -> int:
        """Commit ``df`` as a new append snapshot; returns snapshot id.
        ``merge_schema=True`` allows ``df`` to carry NEW columns, which
        evolve the table schema additively (older files read as null)."""
        return self._apply("append", df, summary=summary,
                           merge_schema=merge_schema)

    def overwrite(self, df: DataFrame, summary: dict | None = None,
                  merge_schema: bool = False) -> int:
        """Commit ``df`` as a full-replace snapshot; returns snapshot id."""
        return self._apply("overwrite", df, summary=summary,
                           merge_schema=merge_schema)

    def add_files(self, directory: str, schema: T.StructType | None = None,
                  summary: dict | None = None) -> int:
        """Adopt existing parquet files in ``directory`` as an append
        snapshot WITHOUT copying bytes (Iceberg add_files migration).
        Hive-partitioned layouts (``k=v`` subdirs) are adopted with
        their partition values recorded per file. ``schema=None``
        infers it from the directory (incl. partition columns).
        Adopted files are never deleted by :meth:`expire_snapshots`."""
        directory = os.path.realpath(directory)
        if schema is None:
            schema = (self.schema() if self._load()["schema"] is not None
                      else self.spark.read.parquet(directory).schema)
        if self._load()["schema"] is None:
            # first commit fixes the schema; derive the expected version
            # from the SAME read as the metadata (a schema-less version
            # can legitimately exist — e.g. nothing but failed commits)
            for _ in range(self.MAX_COMMIT_RETRIES):
                meta, expected = self._load_versioned()
                if meta["schema"] is not None:
                    break
                files = self._harvest(directory, schema)
                snap = _Snapshot(1, None, int(time.time() * 1000),
                                 "add_files", files, [], True,
                                 summary or {}).__dict__
                try:
                    self._commit(
                        {**meta,
                         "table_uuid": meta["table_uuid"] or uuid.uuid4().hex,
                         "schema": schema.jsonValue(),
                         "snapshots": meta["snapshots"] + [snap],
                         "current_snapshot_id": 1}, expected)
                    return 1
                except FileExistsError:
                    continue
        return self._apply("add_files", None, directory=directory,
                           summary=summary)

    # -- reads ---------------------------------------------------------------

    def _snapshot(self, snapshot_id: int | None) -> dict:
        """Raw snapshot record (file membership is a delta — use
        :meth:`files` for the resolved set)."""
        snaps = self.snapshots()
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
            if snapshot_id is None:  # created-but-empty table
                return {"snapshot_id": None, "parent_id": None,
                        "timestamp_ms": 0, "operation": "none",
                        "files_added": [], "files_removed": [],
                        "complete": True, "summary": {}}
        for s in snaps:
            if s["snapshot_id"] == snapshot_id:
                return s
        raise KeyError(f"snapshot {snapshot_id} not in {self.path}")

    def _read_files(self, fmetas: list[dict]) -> DataFrame:
        """Read a file set; partitioned files get their hive ``k=v``
        path values re-attached as literal columns per group (identity
        partition reconstruction — the raw files don't carry them)."""
        schema = self.schema()
        if not fmetas:
            return self.spark.createDataFrame([], schema)
        if all(not f.get("partition") for f in fmetas):
            return self.spark.read.schema(schema).parquet(
                *[f["path"] for f in fmetas])

        # partitioned files: prefer Spark's native hive-layout discovery
        # (one relation per harvest root via basePath — O(adoption dirs)
        # plan branches, not O(partition values)); files lacking a
        # recorded base (pre-upgrade metadata) fall back to per-value
        # groups with literal partition columns re-attached
        cols = [f.name for f in schema.fields]
        by_name = {f.name: f for f in schema.fields}
        base_groups: dict[str, list[dict]] = {}
        value_groups: dict[tuple, list[str]] = {}
        for f in fmetas:
            if f.get("partition") and f.get("base"):
                base_groups.setdefault(f["base"], []).append(f)
            else:
                key = tuple(sorted((f.get("partition") or {}).items()))
                value_groups.setdefault(key, []).append(f["path"])
        parts = []
        for base, fs in sorted(base_groups.items()):
            parts.append(
                self.spark.read.schema(schema)
                .option("basePath", base)
                .parquet(*[f["path"] for f in fs])
                .select(cols))
        for key, paths in sorted(value_groups.items()):
            pcols = dict(key)
            fschema = T.StructType(
                [f for f in schema.fields if f.name not in pcols])
            df = self.spark.read.schema(fschema).parquet(*paths)
            for name, val in pcols.items():
                df = df.withColumn(
                    name, F.lit(val).cast(by_name[name].dataType))
            parts.append(df.select(cols))
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d)
        return out

    def read(self, snapshot_id: int | None = None,
             as_of_ms: int | None = None,
             tag: str | None = None) -> DataFrame:
        """Current snapshot, or time travel by EXACTLY ONE of snapshot
        id / commit timestamp / tag name."""
        if sum(x is not None for x in (snapshot_id, as_of_ms, tag)) > 1:
            raise ValueError(
                "read(): snapshot_id, as_of_ms and tag are mutually "
                "exclusive selectors")
        if tag is not None:
            try:
                snapshot_id = self.refs()[tag]
            except KeyError:
                raise KeyError(f"tag {tag!r} not in {self.path}") from None
        if as_of_ms is not None:
            eligible = [s for s in self.snapshots()
                        if s["timestamp_ms"] <= as_of_ms]
            if not eligible:
                return self.spark.createDataFrame([], self.schema())
            snapshot_id = eligible[-1]["snapshot_id"]
        if snapshot_id is None and self.current_snapshot_id() is None:
            return self.spark.createDataFrame([], self.schema())
        return self._read_files(self.files(snapshot_id))

    def scan(self, filters: list[tuple] | None = None,
             snapshot_id: int | None = None) -> tuple[DataFrame, dict]:
        """Stats-pruned scan: ``filters`` are pyarrow-style
        ``(col, op, value)`` tuples (op in = < <= > >=), AND-combined.

        Files whose footer [min,max] range can't satisfy every filter
        are skipped at PLAN time (no footer reads — stats ride in the
        snapshot json).  Returns ``(df, info)`` where info reports
        ``files_total`` / ``files_read`` so callers (and tests) can see
        the pruning; the same predicate is re-applied as a DataFrame
        filter for row-level exactness.
        """
        fmetas = self.files(snapshot_id)
        keep = []
        for fmeta in fmetas:
            if all(self._file_may_match(fmeta, *flt) for flt in (filters or [])):
                keep.append(fmeta)
        df = self._read_files(keep)
        for col, op, val in filters or []:
            c = F.col(col)
            df = df.filter({"=": c == val, "<": c < val, "<=": c <= val,
                            ">": c > val, ">=": c >= val}[op])
        return df, {"files_total": len(fmetas),
                    "files_read": len(keep)}

    @staticmethod
    def _file_may_match(fmeta: dict, col: str, op: str, val) -> bool:
        pv = (fmeta.get("partition") or {}).get(col)
        if pv is not None:
            # partition pruning: the file holds exactly one value.
            # bool needs explicit parsing — bool('false') is True, so
            # type(val)(pv) would prune away every success=false file
            try:
                if isinstance(val, bool) and isinstance(pv, str):
                    pv = pv.strip().lower() in ("true", "1", "t")
                else:
                    pv = type(val)(pv)
            except (TypeError, ValueError):
                pass
            lo = hi = pv
        else:
            rng = fmeta["stats"].get(col)
            if rng is None:
                return True  # no stats -> can't prune
            lo, hi = rng
        val = _json_safe(val)
        if op == "=":
            return lo <= val <= hi
        if op in ("<", "<="):
            return lo < val if op == "<" else lo <= val
        if op in (">", ">="):
            return hi > val if op == ">" else hi >= val
        return True

    def incremental(self, from_id: int, to_id: int | None = None) -> DataFrame:
        """Rows added in snapshots (from_id, to_id] — append/add_files
        only; raises on an overwrite inside the range (its net change
        is not expressible as added files, same rule as Iceberg's
        incremental scan)."""
        snaps = self.snapshots()
        to_id = to_id if to_id is not None else self.current_snapshot_id()
        ids = {s["snapshot_id"] for s in snaps}
        # a from_id that no longer exists (expired, or never existed)
        # makes the range unanswerable: after expire_snapshots the
        # oldest survivor is rebased to a COMPLETE record whose
        # files_added span the whole pre-expiry history, so walking it
        # would re-deliver rows before from_id. 0 = "before the first
        # snapshot" and is always valid.
        if from_id != 0 and from_id not in ids:
            raise ValueError(
                f"from_id {from_id} is not a live snapshot (expired or "
                "unknown) — incremental cannot resume across the expiry "
                "horizon; re-read the full table and checkpoint anew"
            )
        if to_id is not None and to_id not in ids:
            raise ValueError(f"to_id {to_id} is not a live snapshot")
        added: list[str] = []
        for s in snaps:
            if from_id < s["snapshot_id"] <= to_id:
                if s["operation"] == "compact":
                    continue  # net-zero rewrite: adds no rows
                if s["operation"] in ("overwrite", "rollback", "delete",
                                      "merge"):
                    raise ValueError(
                        f"snapshot {s['snapshot_id']} is {s['operation']}: "
                        "incremental scan undefined across it")
                # delta records carry their additions directly; legacy
                # full-list records diff against the parent
                if "files_added" in s:
                    added.extend(s["files_added"])
                else:
                    parent = next((p for p in snaps
                                   if p["snapshot_id"] == s["parent_id"]),
                                  None)
                    pfiles = {f["path"]
                              for f in (parent or {"files": []})["files"]}
                    added.extend(f for f in s["files"]
                                 if f["path"] not in pfiles)
        return self._read_files(added)

    # -- maintenance ---------------------------------------------------------

    def rollback(self, snapshot_id: int) -> int:
        """Make ``snapshot_id``'s file set current again via a new
        rollback snapshot (history is retained, like Iceberg)."""
        target_files = self.files(snapshot_id)
        for _ in range(self.MAX_COMMIT_RETRIES):
            meta, expected = self._load_versioned()
            new_id = max(s["snapshot_id"] for s in meta["snapshots"]) + 1
            snap = _Snapshot(
                new_id, meta["current_snapshot_id"], int(time.time() * 1000),
                "rollback", target_files, [], True,
                {"rolled_back_to": snapshot_id}).__dict__
            meta = {**meta, "snapshots": meta["snapshots"] + [snap],
                    "current_snapshot_id": new_id}
            try:
                self._commit(meta, expected)
                return new_id
            except FileExistsError:
                continue
        raise CommitConflict(f"rollback lost races on {self.path}")

    def _commit_rewrite(self, op: str, planned_paths: set[str],
                        removed: list[str], new_files: list[dict],
                        summary: dict, cleanup_dirs: list[str],
                        conflicts=None) -> int:
        """Optimistic commit shared by the copy-on-write ops (delete /
        merge / compact): validates ``removed`` files still exist, and
        — when ``conflicts`` is given — that no file appended since
        planning could hold affected rows (``conflicts(fmeta) -> bool``;
        Iceberg's serializable-isolation validation). Raises
        CommitConflict on either; the caller's cleanup dirs are removed
        before raising so no orphans outlive the failure."""
        import random
        import shutil

        def _fail(msg: str):
            for d in cleanup_dirs:
                shutil.rmtree(d, ignore_errors=True)
            raise CommitConflict(msg)

        new_paths = {f["path"] for f in new_files}
        for attempt in range(self.MAX_COMMIT_RETRIES):
            meta, expected = self._load_versioned()
            resolved = self._resolve_all(meta["snapshots"])
            cur = resolved.get(meta["current_snapshot_id"], [])
            if not set(removed) <= {f["path"] for f in cur}:
                _fail(f"{op} inputs vanished under a concurrent "
                      f"overwrite on {self.path}")
            if conflicts is not None:
                bad = [f["path"] for f in cur
                       if f["path"] not in planned_paths
                       and f["path"] not in new_paths and conflicts(f)]
                if bad:
                    _fail(f"{op} conflicts with concurrently appended "
                          f"files on {self.path}: {bad[:3]}")
            snap = _Snapshot(
                max(s["snapshot_id"] for s in meta["snapshots"]) + 1,
                meta["current_snapshot_id"], int(time.time() * 1000),
                op, new_files, sorted(removed), False, summary).__dict__
            meta = {**meta, "snapshots": meta["snapshots"] + [snap],
                    "current_snapshot_id": snap["snapshot_id"]}
            try:
                self._commit(meta, expected)
                return snap["snapshot_id"]
            except FileExistsError:
                time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
        _fail(f"{op} lost {self.MAX_COMMIT_RETRIES} commit races "
              f"on {self.path}")

    def delete_where(self, filters: list[tuple]) -> int | None:
        """Row-level delete, copy-on-write (Iceberg COW ``DELETE``):
        only files whose stats/partition values MAY hold matching rows
        (same pruning as :meth:`scan`) are read back and rewritten
        without the matching rows; untouched files carry over via the
        delta record. ``filters`` are AND-combined ``(col, op, value)``
        tuples — the match predicate, i.e. matching rows are REMOVED.

        The pipeline seam: after a dedup pass flags losing URLs, purge
        them from the results table without rewriting the other 99 % of
        a 100 TB table. Returns the new snapshot id, or None when no
        file could match (nothing to do). A concurrent append whose
        files may hold matching rows aborts the commit with
        CommitConflict (serializable isolation — those rows were never
        scanned, so the delete's promise can't be kept).
        """
        if not filters:
            raise ValueError("delete_where requires at least one filter")
        schema = self.schema()
        planned = self.files()
        touched = [f for f in planned
                   if all(self._file_may_match(f, *flt) for flt in filters)]
        if not touched:
            return None
        pred = None
        for col, op, val in filters:
            c = F.col(col)
            term = {"=": c == val, "<": c < val, "<=": c <= val,
                    ">": c > val, ">=": c >= val}[op]
            pred = term if pred is None else pred & term

        out_dir = os.path.join(self.path, "data",
                               f"delete-{uuid.uuid4().hex[:8]}")
        groups: dict[tuple, list[dict]] = {}
        for f in touched:
            key = tuple(sorted((f.get("partition") or {}).items()))
            groups.setdefault(key, []).append(f)
        new_files: list[dict] = []
        for key, fs in sorted(groups.items()):
            pcols = dict(key)
            fschema = T.StructType(
                [fld for fld in schema.fields if fld.name not in pcols])
            df = self.spark.read.schema(fschema).parquet(
                *[f["path"] for f in fs])
            # partition columns referenced by the predicate are
            # path-derived constants for this group
            by_name = {f.name: f for f in schema.fields}
            full = df
            for name, val in pcols.items():
                full = full.withColumn(
                    name, F.lit(val).cast(by_name[name].dataType))
            kept = full.filter(~pred).select(
                [f.name for f in fschema.fields])
            d = os.path.join(out_dir, *[_part_seg(k, v) for k, v in key])
            kept.coalesce(max(1, len(fs))).write.parquet(d)
            for meta in self._harvest(d, fschema):
                if meta["rows"] > 0:  # fully-emptied groups add nothing
                    new_files.append({**meta, "partition": pcols,
                                      "base": out_dir if pcols else None})
        return self._commit_rewrite(
            "delete", {f["path"] for f in planned},
            sorted(f["path"] for f in touched), new_files,
            {"filters": [[c, o, _json_safe(v)] for c, o, v in filters],
             "rewritten_files": len(touched)},
            [out_dir],
            conflicts=lambda f: all(
                self._file_may_match(f, *flt) for flt in filters))

    # bounded driver-side key materialization for merge pruning — above
    # this, fall back to conservative [min,max]-range-overlap pruning
    MERGE_PRUNE_MAX_KEYS = 2_000_000

    def merge_by_key(self, source: DataFrame, key_col: str,
                     summary: dict | None = None) -> int | None:
        """Upsert (Iceberg ``MERGE INTO`` for the whole-row case):
        rows whose ``key_col`` appears in ``source`` are replaced by the
        source row; unseen keys are appended — the recrawl path, where
        a re-fetched page's fresh capture supersedes the stored one.

        Copy-on-write with key pruning: only files whose footer
        [min,max] ``key_col`` range contains at least one source key
        are rewritten (source keys are collected driver-side under a
        ``MERGE_PRUNE_MAX_KEYS`` guard — beyond it, range overlap with
        the source's global [min,max] decides, still never a full
        rewrite of non-overlapping files). Null (or NaN) merge keys are
        rejected; duplicate source keys keep one arbitrary row — make
        the winner explicit upstream (e.g. a latest-capture max_by).
        A concurrent append whose files may hold a merged key aborts
        with CommitConflict (serializable isolation).
        """
        return self._keyed_rewrite(source, key_col, append_source=True,
                                   op="merge", summary=summary)

    def delete_by_key(self, keys: DataFrame, key_col: str,
                      summary: dict | None = None) -> int | None:
        """Row-level delete by key set — :meth:`merge_by_key`'s pruning
        and isolation, no replacement rows. The dedup seam: feed it the
        LOSING doc ids from a connected-components duplicate resolution
        and the corpus table drops them, rewriting only the files whose
        key range holds a loser. ``keys`` needs only ``key_col``."""
        return self._keyed_rewrite(keys.select(key_col), key_col,
                                   append_source=False, op="delete",
                                   summary=summary)

    def _keyed_rewrite(self, source: DataFrame, key_col: str,
                       append_source: bool, op: str,
                       summary: dict | None) -> int | None:
        import bisect

        schema = self.schema()
        cols = ([f.name for f in schema.fields] if append_source
                else [key_col])
        planned = self.files()
        part_cols = {k for f in planned for k in (f.get("partition") or {})}
        if key_col in part_cols:
            raise ValueError(
                f"{op} on partition column {key_col!r} is not "
                "supported (repartition the table by a data column)")
        want_types = ({f.name: f.dataType for f in schema.fields}
                      if append_source
                      else {key_col: schema[key_col].dataType})
        if {f.name: f.dataType
                for f in source.select(cols).schema.fields} != want_types:
            raise ValueError(
                f"{op} source schema {source.schema.simpleString()} is "
                f"incompatible with table schema "
                f"{schema.simpleString()} (names AND types must match)")

        # one deterministic materialization of the source: pruning keys,
        # anti-joins, and the final write must all see the same rows
        source = source.select(cols).dropDuplicates([key_col]).persist()
        try:
            n_keys = source.count()
            if n_keys == 0:
                return None
            keys = None
            if n_keys <= self.MERGE_PRUNE_MAX_KEYS:
                keys = sorted(
                    (_json_safe(r[0])
                     for r in source.select(key_col).collect()),
                    key=lambda k: (k is None, k))
                # the sort places None LAST — check that end, or a
                # single null among valid keys slips through
                if keys[-1] is None or any(k != k for k in keys):
                    raise ValueError(f"{op}: null/NaN keys in source")
                lo_k, hi_k = keys[0], keys[-1]
            else:
                if source.filter(F.col(key_col).isNull()
                                 | F.isnan(key_col)
                                 if isinstance(
                                     schema[key_col].dataType,
                                     (T.FloatType, T.DoubleType))
                                 else F.col(key_col).isNull()).head(1):
                    raise ValueError(f"{op}: null/NaN keys in source")
                row = source.agg(F.min(key_col), F.max(key_col)).first()
                lo_k, hi_k = _json_safe(row[0]), _json_safe(row[1])

            def may_touch(fmeta: dict) -> bool:
                rng = fmeta["stats"].get(key_col)
                if rng is None:
                    return True  # no stats -> must rewrite to stay exact
                lo, hi = rng
                if hi < lo_k or lo > hi_k:
                    return False
                if keys is None:
                    return True
                i = bisect.bisect_left(keys, lo)
                return i < len(keys) and keys[i] <= hi

            touched = [f for f in planned if may_touch(f)]

            out_dir = os.path.join(self.path, "data",
                                   f"{op}-{uuid.uuid4().hex[:8]}")
            new_files: list[dict] = []
            if touched:
                groups: dict[tuple, list[dict]] = {}
                for f in touched:
                    key = tuple(sorted((f.get("partition") or {}).items()))
                    groups.setdefault(key, []).append(f)
                src_keys = source.select(F.col(key_col).alias("_mk"))
                for key, fs in sorted(groups.items()):
                    pcols = dict(key)
                    fschema = T.StructType(
                        [fld for fld in schema.fields
                         if fld.name not in pcols])
                    df = self.spark.read.schema(fschema).parquet(
                        *[f["path"] for f in fs])
                    kept = df.join(
                        F.broadcast(src_keys)
                        if n_keys <= self.MERGE_PRUNE_MAX_KEYS else src_keys,
                        df[key_col] == src_keys["_mk"], "left_anti")
                    d = os.path.join(out_dir, *[_part_seg(k, v) for k, v in key])
                    kept.coalesce(max(1, len(fs))).write.parquet(d)
                    for meta in self._harvest(d, fschema):
                        if meta["rows"] > 0:
                            new_files.append(
                                {**meta, "partition": pcols,
                                 "base": out_dir if pcols else None})
            cleanup = [out_dir]
            if append_source:
                # the source rows land as fresh unpartitioned files
                src_dir, src_files = self._write_data(
                    source, uuid.uuid4().int % 10**6)
                new_files += src_files
                cleanup.append(src_dir)
            elif not touched:
                return None  # pure delete with nothing to touch
        finally:
            source.unpersist(blocking=False)
        return self._commit_rewrite(
            op, {f["path"] for f in planned},
            sorted(f["path"] for f in touched), new_files,
            {**(summary or {}), "keys": n_keys,
             "rewritten_files": len(touched)},
            cleanup, conflicts=may_touch)

    def compact(self, target_file_bytes: int = 128 << 20,
                min_input_files: int = 2,
                sort_by: list[str] | None = None) -> int | None:
        """Bin-pack small data files into ~target-size files (Iceberg's
        ``rewrite_data_files``): per partition group, files below the
        target size are read back, rewritten as ⌈bytes/target⌉ files,
        and committed as a net-zero ``compact`` snapshot that keeps the
        already-large files as-is. Old snapshots still see the old
        files (physical delete happens at :meth:`expire_snapshots`).

        A crawl emits one small file per task per round — at 10^10 URLs
        the results table otherwise degrades into millions of tiny
        files whose open/footer cost dominates scans. Returns the new
        snapshot id, or None when fewer than ``min_input_files`` files
        qualify in every partition group.

        ``sort_by`` re-clusters while compacting (Iceberg's sort-order
        rewrite): rows are range-repartitioned + sorted on the given
        columns before writing, so output files carry DISJOINT [min,
        max] ranges and :meth:`scan`/:meth:`merge_by_key` pruning works
        again — appends from many crawl rounds otherwise interleave
        every file's key range until no file can be skipped. With
        ``sort_by`` ALL of a group's files rewrite (re-clustering can't
        keep unsorted survivors), so use it periodically, not per-round.
        """
        import math

        groups: dict[tuple, list[dict]] = {}
        for f in self.files():
            key = tuple(sorted((f.get("partition") or {}).items()))
            groups.setdefault(key, []).append(f)

        schema = self.schema()
        keep: list[dict] = []
        new_files: list[dict] = []
        rewritten: set[str] = set()
        out_dir = os.path.join(self.path, "data",
                               f"compact-{uuid.uuid4().hex[:8]}")
        for key, fmetas in sorted(groups.items()):
            if sort_by:
                # re-clustering rewrites the whole group — unsorted
                # survivors would defeat the disjoint-range goal
                small, big = list(fmetas), []
            else:
                small = [f for f in fmetas
                         if f.get("bytes", target_file_bytes)
                         < target_file_bytes]
                big = [f for f in fmetas if f not in small]
            if len(small) < min_input_files:
                keep.extend(fmetas)
                continue
            keep.extend(big)
            rewritten.update(f["path"] for f in small)
            pcols = dict(key)
            fschema = T.StructType(
                [fld for fld in schema.fields if fld.name not in pcols])
            df = self.spark.read.schema(fschema).parquet(
                *[f["path"] for f in small])
            n_out = max(1, math.ceil(
                sum(f.get("bytes", 0) for f in small) / target_file_bytes))
            d = os.path.join(out_dir, *[_part_seg(k, v) for k, v in key])
            if sort_by:
                # range partition on the sort key -> disjoint per-file
                # [min,max] ranges; sortWithinPartitions orders rows so
                # parquet row-group stats are tight too
                (df.repartitionByRange(n_out, *sort_by)
                 .sortWithinPartitions(*sort_by).write.parquet(d))
            else:
                df.coalesce(n_out).write.parquet(d)
            for meta in self._harvest(d, fschema):
                if meta["rows"] > 0:  # range partitions can come out empty
                    new_files.append({**meta, "partition": pcols,
                                      "base": out_dir if pcols else None})
        if not rewritten:
            return None
        # net-zero rewrite: concurrent appends compose safely (their
        # files ride through the delta record), so no conflicts check
        return self._commit_rewrite(
            "compact", set(), sorted(rewritten), new_files,
            {"rewritten_files": len(rewritten),
             "new_files": len(new_files)}, [out_dir])

    def drop_snapshots_since(self, snapshot_id: int) -> None:
        """Remove snapshots with id > ``snapshot_id`` and make
        ``snapshot_id`` current again (0 → logically empty table).

        Metadata-only — data files stay in place.  This is the rerun
        and rewind seam for the crawl engine: a round that crashed
        after adopting some of its state but before its results commit
        is re-run in place, so its stale snapshot entries (pointing at
        overwritten files) must be dropped before re-adoption."""
        for _ in range(self.MAX_COMMIT_RETRIES):
            meta, expected = self._load_versioned()
            if expected == 0:
                return
            snaps = [s for s in meta["snapshots"]
                     if s["snapshot_id"] <= snapshot_id]
            meta = {**meta, "snapshots": snaps,
                    "current_snapshot_id":
                        snaps[-1]["snapshot_id"] if snaps else None}
            try:
                self._commit(meta, expected)
                return
            except FileExistsError:
                continue
        raise CommitConflict(f"drop_snapshots_since lost races on {self.path}")

    def remove_orphan_files(
        self, older_than_seconds: float = 3600.0
    ) -> list[str]:
        """Delete data files under ``<path>/data/`` referenced by NO
        snapshot — the debris of writes whose commit lost every retry
        or crashed before publishing (Iceberg's remove_orphan_files).
        Safe w.r.t. readers: an unreferenced file can never become
        referenced again (commits only add newly-written paths).

        ``older_than_seconds`` (Iceberg's olderThan guard, default 1 h)
        protects IN-FLIGHT writers: a concurrent append has already
        written its data files but not yet published its snapshot —
        deleting those would let its commit land pointing at missing
        files. Only files whose mtime predates the cutoff are swept;
        pass 0 only when no writer can be active."""
        import time as _time

        cutoff = _time.time() - float(older_than_seconds)
        resolved = self._resolve_all(self.snapshots())
        live = {f["path"] for fs in resolved.values() for f in fs}
        live_dirs = {os.path.dirname(p) for p in live}
        orphans = []
        for p in sorted(glob.glob(
                os.path.join(self.path, "data", "**", "*"), recursive=True)):
            if not os.path.isfile(p) or p in live:
                continue
            # non-parquet markers (_SUCCESS, .crc) ride with their dir:
            # orphaned only when the dir holds no live data file
            if not p.endswith(".parquet") and os.path.dirname(p) in live_dirs:
                continue
            try:
                if os.path.getmtime(p) > cutoff:
                    continue  # possibly an in-flight writer's file
            except OSError:
                continue
            orphans.append(p)
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass
        # sweep dead dirs bottom-up: a dir holding no live file and no
        # surviving subdir keeps only stray markers (hidden .crc files
        # the glob above can't see) — remove them and the dir itself
        data_root = os.path.join(self.path, "data")
        for root, _dirs, _files in os.walk(data_root, topdown=False):
            if root == data_root or root in live_dirs:
                continue
            entries = os.listdir(root)
            if any(os.path.isdir(os.path.join(root, e)) for e in entries):
                continue
            # a young file spared by the cutoff keeps its dir alive
            # (it may belong to an in-flight writer)
            try:
                if any(
                    os.path.getmtime(os.path.join(root, e)) > cutoff
                    for e in entries
                ):
                    continue
            except OSError:
                continue
            for e in entries:
                try:
                    os.unlink(os.path.join(root, e))
                except OSError:
                    pass
            try:
                os.rmdir(root)
            except OSError:
                pass
        return orphans

    def expire_snapshots(self, keep_last: int = 1,
                         older_than_ms: int | None = None) -> list[str]:
        """Drop old snapshots and physically delete table-owned data
        files no retained snapshot references. Files adopted via
        :meth:`add_files` (outside ``<path>/data/``) are never deleted.
        Returns the deleted paths.

        Retention = the last ``keep_last`` snapshots, plus — when
        ``older_than_ms`` is given — every snapshot committed at or
        after that timestamp (Iceberg's expire_snapshots retention
        pair). Commit timestamps are monotone, so the expired set is
        always a history prefix and delta resolution stays sound."""
        for _ in range(self.MAX_COMMIT_RETRIES):
            meta, expected = self._load_versioned()
            snaps = meta["snapshots"]
            n_keep = max(keep_last, 1)
            if older_than_ms is not None:
                n_recent = sum(1 for s in snaps
                               if s["timestamp_ms"] >= older_than_ms)
                n_keep = max(n_keep, n_recent)
            if len(snaps) <= n_keep:
                return []
            kept, dropped = snaps[-n_keep:], snaps[:-n_keep]
            resolved = self._resolve_all(snaps)
            live = {f["path"] for s in kept
                    for f in resolved[s["snapshot_id"]]}
            dead = sorted({
                f["path"] for s in dropped for f in resolved[s["snapshot_id"]]
                if f["path"] not in live
                and f["path"].startswith(os.path.join(self.path, "data") + os.sep)
            })
            # the oldest survivor loses its ancestors: rebase it to a
            # complete record so delta resolution never walks past the
            # expiry horizon (snapshots keep their parent_id as a
            # historical reference). Streaming idempotency markers of
            # the DROPPED snapshots fold into a high-water map on the
            # survivor: a crash-replayed micro-batch whose marker
            # snapshot was expired must still be detected as committed,
            # or the exactly-once sink would append it twice.
            hw: dict = dict(
                (kept[0].get("summary") or {}).get(
                    "streaming_high_water", {}
                )
            )
            for s in dropped:
                sm = s.get("summary") or {}
                q = sm.get("streaming_query")
                if q is not None and sm.get("streaming_batch_id") is not None:
                    b = int(sm["streaming_batch_id"])
                    if b > hw.get(q, -1):
                        hw[q] = b
                for q2, b2 in (sm.get("streaming_high_water") or {}).items():
                    if int(b2) > hw.get(q2, -1):
                        hw[q2] = int(b2)
            osum = dict(kept[0].get("summary") or {})
            if hw:
                osum["streaming_high_water"] = hw
            oldest = {**kept[0],
                      "files_added": resolved[kept[0]["snapshot_id"]],
                      "files_removed": [], "complete": True,
                      "summary": osum}
            oldest.pop("files", None)
            meta = {**meta, "snapshots": [oldest] + kept[1:]}
            try:
                self._commit(meta, expected)
            except FileExistsError:
                continue
            for p in dead:
                try:
                    os.unlink(p)
                except FileNotFoundError:
                    pass
            # prune old metadata versions too: every commit writes a
            # full v<N>.json embedding the whole snapshot list, so a
            # long crawl otherwise accumulates O(commits x files)
            # metadata debris that nothing else touches. Keep a window
            # for concurrent readers mid-_load_versioned (they read
            # the highest version at their listing; anything 10 behind
            # the post-expire current is safely dead). Best-effort.
            cur = expected + 1
            for v in self._versions():
                if v <= cur - 10:
                    try:
                        os.unlink(self._meta_path(v))
                    except FileNotFoundError:
                        pass
            return dead
        raise CommitConflict(f"expire lost races on {self.path}")
