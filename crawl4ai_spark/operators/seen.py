"""The URL-seen filter — THE scale-critical operator (SURVEY.md J1).

Reference semantics: the in-memory ``visited: Set[str]`` of the BFS/DFS
strategies (deep_crawling/bfs_strategy.py:106-121, dfs_strategy.py:33)
and the seeder's dedup set (async_url_seeder.py:344-358) — membership
keyed by the canonical URL.

Spark design for a 10^10-URL frontier:
- key = ``xxhash64(canonical_url)`` (→ functions/urls.url_hash).
- the seen set is a table sharded by ``pmod(url_hash, n_shards)``,
  stored as one parquet delta per round (``url_seen/round=N/``).
  ``shard`` is a stored column and each file is sorted by
  ``(shard, url_hash)``, so a shard predicate is a pushed-down filter
  that skips row groups by their min/max statistics, as Iceberg prunes
  by column stats. The file count follows the delta's input, not
  ``n_shards``.
- the exact membership test is ONE left-anti join on url_hash against
  the whole seen set.
- **probabilistic fast path** (``filter_kind="cuckoo"``): each round's
  delta also writes a per-shard cuckoo-filter sidecar
  (``url_seen_cuckoo/round=N``; codec in operators/cuckoo.py — the
  north_star's named structure, deletable for retired URLs).
  ``anti_join`` then tests every candidate against the OR of its
  shard's filters in one Arrow-batched numpy kernel; candidates the
  filter rejects are *definitely* unseen (no false negatives) and skip
  the join entirely, and the exact join runs only for the "maybe" rows
  against only the shards they map to (row-group pruned). Exactness is
  preserved — the filter is a prefilter, never the verdict. In
  production the sidecars are executor-side broadcast variables; at
  10^10 URLs with ~24 bits/key they total ~30 GB across 32 shards, so
  each executor holds only the shards its tasks touch.
- exactness of the hash key: 64-bit (pair-collision odds ~3e-9 at 1e10
  URLs); a production deployment confirms collisions against the full
  URL inside the shard — the shard rows carry ``url`` for that purpose.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cuckoo

SEEN_SCHEMA = "url_hash bigint, url string, shard int"
# one cuckoo table per (round, shard): k = slots per bucket, bits = the
# uint16 table bytes (operators/cuckoo.test_any reads these rows)
SIDECAR_SCHEMA = "shard int, m long, k int, bits binary"
SIDECAR_DIR = "url_seen_cuckoo"


def shard_of(url_hash_col, n_shards: int):
    return F.pmod(url_hash_col, F.lit(n_shards)).cast("int")


def _sidecar_row(pdf: pd.DataFrame) -> pd.DataFrame:
    """One shard's sidecar row, built from its written delta rows."""
    m, table = cuckoo.build(pdf["url_hash"].to_numpy(dtype=np.int64))
    return pd.DataFrame(
        {"shard": [int(pdf["shard"].iloc[0])], "m": [m],
         "k": [cuckoo.SLOTS], "bits": [table.tobytes()]}
    )


class SeenFilter:
    """Parquet-backed sharded seen set with per-round append deltas."""

    def __init__(self, spark: SparkSession, workdir: str, n_shards: int = 32,
                 filter_kind: str | None = None):
        if filter_kind not in (None, "cuckoo"):
            raise ValueError(f"unknown filter_kind {filter_kind!r}")
        self.spark = spark
        self.path = os.path.join(workdir, "url_seen")
        self.filter_kind = filter_kind
        self.sidecar_path = os.path.join(workdir, SIDECAR_DIR)
        self.n_shards = n_shards
        # per-round sidecar cache + its broadcast: only NEW delta rounds
        # are read from disk, and the broadcast is rebuilt only when the
        # round set changes (production: executors hold the filters and
        # new increments stream in — reloading the full set per query
        # would dominate the fast path it exists to provide)
        self._side_rounds: dict[int, dict[int, list]] = {}
        self._side_bc = None
        self._side_bc_key: tuple = ()

    def _rounds(self, path: str) -> set[int]:
        if not os.path.exists(path):
            return set()
        return {
            int(name.split("=", 1)[1])
            for name in os.listdir(path)
            if name.startswith("round=")
        }

    @staticmethod
    def _has_data(path: str) -> bool:
        """True when at least one parquet data file exists under path."""
        for root, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def load(self) -> DataFrame:
        if not self._has_data(self.path):
            return self.spark.createDataFrame([], SEEN_SCHEMA)
        # explicit schema: no footer inference; `round` comes from the
        # round=N directories, `shard` is a stored column
        return self.spark.read.schema(SEEN_SCHEMA + ", round int").parquet(
            self.path
        ).select("url_hash", "url", "shard")

    def _load_sidecars(self) -> dict[int, list[tuple[int, int, np.ndarray]]] | None:
        """Per-shard sidecar list, or None when sidecars don't cover every
        delta round (falling back to the exact join keeps exactness).
        Incremental: rounds already cached are not re-read."""
        rounds = self._rounds(self.path)
        if rounds != self._rounds(self.sidecar_path):
            return None
        self._side_rounds = {
            r: v for r, v in self._side_rounds.items() if r in rounds
        }
        for r in sorted(rounds - set(self._side_rounds)):
            rp = os.path.join(self.sidecar_path, f"round={r}")
            per_round: dict[int, list] = {}
            if self._has_data(rp):
                pdf = self.spark.read.schema(SIDECAR_SCHEMA).parquet(rp).toPandas()
                for row in pdf.itertuples():
                    per_round.setdefault(int(row.shard), []).append(
                        (int(row.m), int(row.k),
                         np.frombuffer(row.bits, dtype=np.uint8))
                    )
            self._side_rounds[r] = per_round
        merged: dict[int, list] = {}
        for per_round in self._side_rounds.values():
            for shard, lst in per_round.items():
                merged.setdefault(shard, []).extend(lst)
        return merged

    def _drop_broadcast(self) -> None:
        if self._side_bc is not None:
            self._side_bc.unpersist(blocking=False)
        self._side_bc = None
        self._side_bc_key = ()

    def invalidate_cache(self) -> None:
        """Drop the in-memory per-round filter cache + broadcast — must
        be called when delta rounds are REMOVED from disk (rewind): the
        merge step unions every cached round, so a stale cached round
        would keep marking its URLs as seen."""
        self._side_rounds.clear()
        self._drop_broadcast()

    def _broadcast(self, filters: dict, rounds_key: tuple):
        if self._side_bc is None or self._side_bc_key != rounds_key:
            self._drop_broadcast()
            self._side_bc = self.spark.sparkContext.broadcast(filters)
            self._side_bc_key = rounds_key
        return self._side_bc

    def _exact_anti_join(self, candidates: DataFrame,
                         url_hash_col: str) -> DataFrame:
        seen = self.load().select(F.col("url_hash").alias("__seen_hash"))
        return candidates.join(
            seen, F.col(url_hash_col) == F.col("__seen_hash"), "left_anti"
        )

    def anti_join(self, candidates: DataFrame, url_hash_col: str = "url_hash") -> DataFrame:
        """Rows of ``candidates`` whose url_hash is NOT in the seen set.

        Exact path: one left-anti join on url_hash against every delta.

        Cuckoo path (``filter_kind="cuckoo"``): definite-new rows skip
        the join; maybe-seen rows join against only their shards (a
        pushed-down ``shard`` filter on the sorted deltas).
        """
        if self.filter_kind is None:
            return self._exact_anti_join(candidates, url_hash_col)

        filters = self._load_sidecars()
        if not filters:  # no deltas yet, sidecars incomplete, or empty set
            if filters == {} and not self._has_data(self.path):
                return candidates  # provably empty seen set
            return self._exact_anti_join(candidates, url_hash_col)

        n_shards = self.n_shards
        bc = self._broadcast(filters, tuple(sorted(self._rounds(self.path))))

        # closes over locals only: touching self would pickle the
        # SeenFilter (and its SparkSession) into the UDF
        @F.pandas_udf("boolean")
        def maybe_seen(h: pd.Series) -> pd.Series:
            hv = h.to_numpy(dtype=np.int64)
            shards = np.mod(hv, n_shards)
            out = np.zeros(len(hv), dtype=bool)
            table = bc.value
            for s in np.unique(shards):
                rows = table.get(int(s))
                if rows:
                    sel = shards == s
                    out[sel] = cuckoo.test_any(hv[sel], rows)
            return pd.Series(out)

        # the filter shrinks the candidate side to the tiny "maybe" set,
        # which unlocks a zero-shuffle topology: collect the maybe
        # hashes (callers persist `candidates` when their plan is
        # expensive), probe the shard-pruned seen scan MAP-SIDE (the
        # exact path would shuffle the full seen side), then
        # broadcast-anti the confirmed hits back onto the candidates.
        cand = candidates.withColumn("__maybe", maybe_seen(F.col(url_hash_col)))
        maybe_hashes = [
            int(r["h"])
            for r in cand.filter(F.col("__maybe"))
            .select(F.col(url_hash_col).alias("h"))
            .distinct()
            .collect()
        ]
        if not maybe_hashes:
            return cand.drop("__maybe")
        if len(maybe_hashes) > 2_000_000:
            # driver-memory guard: giant maybe sets (filter barely
            # filtering) degrade to the exact anti-join
            return self._exact_anti_join(candidates, url_hash_col)
        touched = sorted({h % n_shards for h in maybe_hashes})
        probe = self.spark.createDataFrame(
            [(h,) for h in maybe_hashes], "url_hash bigint"
        )
        confirmed = (
            self.load()
            .filter(F.col("shard").isin(touched))
            .join(F.broadcast(probe), "url_hash", "left_semi")
            .select(F.col("url_hash").alias("__seen_hash"))
        )
        return cand.drop("__maybe").join(
            F.broadcast(confirmed),
            F.col(url_hash_col) == F.col("__seen_hash"),
            "left_anti",
        )

    def add(self, rows: DataFrame, round_no: int,
            url_hash_col: str = "url_hash", url_col: str = "url",
            assume_unique: bool = False) -> None:
        """Write this round's delta of newly-seen URLs.

        One subdir per round, overwritten (not appended) so a crashed
        round can be re-run idempotently; rows sorted by
        ``(shard, url_hash)`` within each file, and as many files as the
        input has partitions. With ``filter_kind="cuckoo"``, a per-shard
        cuckoo sidecar is built from the written delta (one extra small
        job per round).

        ``assume_unique=True`` skips the defensive dropDuplicates
        exchange — for callers whose rows are unique by url_hash by
        construction (the crawl round's fresh links come out of a
        row_number window + anti-join), saving one shuffle per round.
        """
        delta = rows.select(
            F.col(url_hash_col).alias("url_hash"),
            F.col(url_col).alias("url"),
            shard_of(F.col(url_hash_col), self.n_shards).alias("shard"),
        )
        if not assume_unique:
            delta = delta.dropDuplicates(["url_hash"])
        delta_path = os.path.join(self.path, f"round={round_no}")
        delta.sortWithinPartitions("shard", "url_hash").write.mode(
            "overwrite"
        ).parquet(delta_path)

        if self.filter_kind is not None:
            # explicit schema: an empty delta has nothing to infer from
            written = self.spark.read.schema(SEEN_SCHEMA).parquet(delta_path)
            written.groupBy("shard").applyInPandas(
                _sidecar_row, schema=SIDECAR_SCHEMA
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.sidecar_path, f"round={round_no}")
            )
            # this round's sidecar may have REPLACED one already cached
            # (a crashed round re-run writes different hashes under the
            # same round number): evict it and force a broadcast rebuild,
            # or the stale filter would mark the new URLs definitely-
            # unseen and re-admit them past the exact join
            if self._side_rounds.pop(round_no, None) is not None:
                self._drop_broadcast()

    def count(self) -> int:
        return self.load().count()
