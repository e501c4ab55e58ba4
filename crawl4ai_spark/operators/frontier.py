"""The crawl engine: iterative BFS frontier over the pages table.

This is the flagship plan (SURVEY.md §3.3 / §2.11 BFS strategy,
bfs_strategy.py:142-192 + link_discovery :68-140), reformulated as one
DataFrame job per round:

    round r:
      frontier_r --robots--> allowed | blocked(403-style results)
      allowed --politeness budget--> selected | deferred | abandoned
      selected --salted repartition by (host, salt) + secondary sort
                 (priority desc, url)--> fetch layout + lineage
      fetch = left join against pages (miss => failed fetch)
      extract = scrape+markdown mapInPandas  --> results_r (+ metrics_r)
      links = explode -> canonicalize -> depth/score/filters
              -> in-round dedup -> anti-join url_seen -> capacity cap
      frontier_{r+1} = deferred ∪ new links ; url_seen += new links
      politeness state_{r+1} = backoff fold of results_r
      adopt frontier/url_seen/politeness_{r+1} into their snapshot
      tables, then results_r LAST: that snapshot, whose summary is the
      round's counters, is the atomic round commit (resume point)

Scale shape: two shuffles per round (fetch join on url, link dedup/
anti-join on url_hash) plus the explicit salted repartition; everything
else is narrow. Hot hosts are spread across ``salt`` partitions while
``sortWithinPartitions(priority desc, url)`` preserves per-host
priority order inside each slice — the north-rule skew answer.

Determinism: every ordering is (priority desc, url asc); jitter is
hash-derived; all round outputs are written before the results
snapshot commits, so a kill anywhere leaves either a complete round or
a cleanly re-runnable one: a round first forgets everything from
itself on (``CrawlRun._forget_from``), then rewrites it.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scrape import scrape_stage
from ..functions.urls import canonicalize_udf, host_no_port, url_hash
from .fetch import fetch_status_expr as _fetch_status_expr
from .politeness import (
    STATE_SCHEMA,
    PolitenessState,
    _leaf_indices,
    select_within_budget,
    update_state,
)
from .robots import with_robots_decision
from .scorers import keyword_relevance_score
from .seen import SEEN_SCHEMA, SIDECAR_DIR, SeenFilter

FRONTIER_SCHEMA = (
    "url string, url_hash bigint, host string, priority double, depth int, "
    "parent_url_hash bigint, round int, dfs_key string"
)


def _scrape_options_json(opts) -> dict | None:
    """JSON-safe view of a ScrapeOptions for the round manifest:
    frozensets sort into lists so the record is deterministic."""
    if opts is None:
        return None
    from dataclasses import fields as dc_fields

    out = {}
    for f in dc_fields(opts):
        v = getattr(opts, f.name)
        if isinstance(v, frozenset):
            v = sorted(v)
        elif isinstance(v, tuple):
            v = list(v)
        out[f.name] = v
    return out


@dataclass
class CrawlConfig:
    max_depth: int = 2
    max_pages: int | None = None
    score_threshold: float | None = None
    round_seconds: float = 16.0  # politeness token basis per host per round
    n_shards: int = 32  # url_seen shard modulus (a column, not a file count)
    salt: int = 8  # hot-host spread factor
    include_external: bool = False
    # F10 link-exclusion flags (reference content_scraping_strategy.py
    # :661-691, :1152-1165 + config.py SOCIAL_MEDIA_DOMAINS): external
    # links whose registrable base domain is in exclude_domains (or in
    # the social-media list when exclude_social_media_links is set) are
    # dropped at the post-explode filter, so they never enter the
    # frontier. Internal links are never excluded (reference checks
    # only the external branch). Matters with include_external=True —
    # otherwise externals are dropped wholesale anyway.
    exclude_domains: tuple = ()
    exclude_social_media_links: bool = False
    # scrape-stage content-shaping knobs (functions/scrape.py
    # ScrapeOptions): excluded_tags / excluded_selector / css_selector /
    # target_elements / word_count_threshold / only_text / strip_attrs /
    # media harvest ... applied to every fetched page in the round.
    # None = the engine's default scrape (fast path).
    scrape_options: object | None = None
    keywords: tuple = ()
    robots_rules: object | None = None  # DataFrame | None
    # live robots.txt acquisition (reference: RobotsParser.can_fetch's
    # cache-then-fetch, utils.py:313-353). When on, each round fetches
    # scheme://host/robots.txt for frontier hosts not yet cached —
    # through `robots_fetcher` (default: the page fetcher) — parses
    # them DISTRIBUTED (operators/robots.py fetch_robots_rules), and
    # persists per-round increments under workdir/robots so resume and
    # rewind replay the same rules. `robots_rules` still works as a
    # static pre-seeded dim (those hosts are never fetched). TTL is in
    # ROUNDS (deterministic replay), mirroring the reference's 7-day
    # wall-clock TTL; None = never expires within a run.
    robots_fetch: bool = False
    robots_fetcher: object | None = None
    robots_ttl_rounds: int | None = None
    robots_scheme: str = "https"
    robots_ua: str = "*"
    # redirect aliasing (extension — the reference's deep-crawl visited
    # set tracks requested URLs only): when a successful fetch lands on
    # final_url != url, the canonicalized final_url ALSO enters the
    # url_seen set, so a later direct link to the redirect target is
    # recognized as already-crawled content instead of refetched.
    # Failed/non-2xx redirects do not alias (their target content was
    # never obtained). NB the seen set then outgrows the admitted
    # count by the alias volume (the manifests' cum_admitted, which
    # feeds max_pages, still counts admissions only).
    alias_redirects: bool = False
    # conditional revalidation (RFC 9110 §13, the recrawl loop's cheap
    # refetch): a DataFrame of (url | url_hash, if_none_match,
    # if_modified_since) — e.g. built from a previous crawl's results
    # (etag / last_modified columns) — joined into the fetch layout so
    # a fetcher with pass_cols=("if_none_match", "if_modified_since")
    # sends conditional requests; a 304 answer surfaces as
    # fetch_status='not_modified' (no body, no links, politeness
    # success). Fetcher mode only; ignored by the lookup join.
    url_validators: object | None = None
    # proxy rotation (reference: proxy_strategy.py RoundRobin cycle,
    # advanced per request at async_webcrawler.py:297-307). A list of
    # ProxyConfig / "ip:port[:user:pass]" / server-URL specs; each
    # fetch-layout row gets a deterministic proxy_server column
    # (operators/proxy.assign_proxies — hash-mod, even + replayable)
    # consumed by proxy-aware fetchers (UrllibFetcher) and dropped
    # before results are written. proxy_per: "url" = rotate per
    # request (reference spirit), "host" = sticky proxy per host.
    # Fetcher mode only; the lookup join makes no requests.
    proxies: object | None = None
    proxy_per: str = "url"
    # politeness failure definition. Default (None) is the engine's
    # conservative shape: ANY unsuccessful row backs the host off.
    # Setting a code tuple reproduces the reference RateLimiter
    # exactly (async_dispatcher.py:37,63-80: update_delay backs off
    # ONLY on rate_limit_codes — default (429, 503) — while every
    # other outcome, including 404s and extraction failures, DECAYS
    # the delay and resets fail_count).
    rate_limit_codes: tuple | None = None
    shuffle_partitions: int | None = None
    # traversal strategy (SURVEY.md T1/T7): "bfs" crawls the whole
    # frontier each round; "best_first" caps each round at the global
    # top `batch_size` by (priority desc, url) — the reference's
    # priority-queue batches of 10; "dfs" is the sequential parity mode
    # (one url per round in LIFO preorder via the dfs_key sort key).
    strategy: str = "bfs"
    batch_size: int | None = None
    # priority aging (T6): deferred URLs gain `priority_aging` per round
    # spent waiting in the frontier (rounds-waited = current round minus
    # the admitted round each row carries), so politeness-deferred rows
    # on hot hosts can't starve behind a stream of fresh high-priority
    # links. 0.0 = off (reference parity: its queue has no aging either
    # in batch terms, hence the former N/A).
    priority_aging: float = 0.0
    # result cache (SURVEY.md S9-S11): CacheMode gating of the
    # read/write anti-joins against a shared crawl_results table.
    cache_mode: str = "bypass"
    cache_path: str | None = None
    # seen-set prefilter: "cuckoo" puts the north_star's partitioned
    # cuckoo filter (operators/cuckoo.py) in front of the seen anti-join
    # (exactness preserved: no false negatives; "maybe" rows still go
    # through the exact join). Wins when |seen| >> |candidates| — the
    # steady state of a long crawl; at toy scale the exact join alone
    # is faster, so default None (exact join only).
    seen_filter_kind: str | None = None
    # spider-trap admission filter (filters.is_crawler_trap): drop
    # repeated-segment / calendar-walk / param-explosion URLs before
    # they reach the seen anti-join. Off by default (reference parity:
    # its FilterChain only applies user-supplied globs).
    trap_filter: bool = False
    # per-host admission quota: each round a host contributes at most
    # this many NEW frontier URLs (anti-flood — one link-farm host
    # cannot drown the frontier). Selection = per-host top-k by
    # (priority desc, url), computed with the same salted two-phase
    # window as the politeness budgets (no hot-host task funnel).
    max_urls_per_host: int | None = None
    # URL priority priors: a DataFrame of (url | url_hash, prior:double)
    # added to every seed's and discovered link's priority — the wiring
    # point for corpus-level signals this library computes elsewhere:
    # linkgraph.pagerank authority (its node ids ARE url_hash longs),
    # recrawl.py staleness, hostprior keep-scores. Joined on url_hash
    # (the same key the in-round dedup window partitions by, so the
    # exchange is reused); small prior tables broadcast automatically.
    # Duplicate keys are collapsed to their max prior defensively.
    url_priors: object | None = None  # DataFrame | None
    # pluggable fetch stage (operators/fetch.py): an object with
    # .fetch(df, url_col) -> df + (html, http_status, final_url,
    # fetch_error), or a bare per-URL callable. None = the default
    # pages-table lookup join (PagesJoinFetcher semantics). This is the
    # S1/S2 seam: swap in UrllibFetcher for live HTTP, a recorded
    # fetcher in tests — the crawl loop is identical either way.
    fetcher: object | None = None

    def to_json(self) -> dict:
        return {
            "max_depth": self.max_depth,
            "max_pages": self.max_pages,
            "score_threshold": self.score_threshold,
            "round_seconds": self.round_seconds,
            "n_shards": self.n_shards,
            "salt": self.salt,
            "include_external": self.include_external,
            "exclude_domains": list(self.exclude_domains),
            "exclude_social_media_links": self.exclude_social_media_links,
            "keywords": list(self.keywords),
            "strategy": self.strategy,
            "batch_size": self.batch_size,
            "cache_mode": self.cache_mode,
            "seen_filter_kind": self.seen_filter_kind,
            "priority_aging": self.priority_aging,
            "trap_filter": self.trap_filter,
            "max_urls_per_host": self.max_urls_per_host,
            # scrape shaping must ride the manifest too: two runs
            # differing only in scrape_options would otherwise write
            # byte-identical config records (audit/repro blind spot)
            "scrape_options": _scrape_options_json(self.scrape_options),
        }


def _per_host_topk(
    df: DataFrame, k: int, salt: int, host_col: str = "host"
) -> DataFrame:
    """Top-``k`` rows per host by (priority desc, url) — two-phase.

    Phase 1 ranks inside each of ``salt`` hash slices of a host's rows
    and keeps ≤ k per slice (any global top-k row is top-k in its own
    slice, so no survivor is lost); phase 2 ranks the ≤ salt×k
    survivors exactly. No task ever holds a hot host's full row set —
    the same skew shape as politeness.select_within_budget.
    """
    from pyspark.sql import Window

    order = (F.desc("priority"), F.asc("url"))
    salt_expr = F.pmod(F.xxhash64("url"), F.lit(salt))
    w_partial = Window.partitionBy(F.col(host_col), salt_expr).orderBy(*order)
    pre = (
        df.withColumn("_qrn", F.row_number().over(w_partial))
        .filter(F.col("_qrn") <= k)
        .drop("_qrn")
    )
    w_exact = Window.partitionBy(host_col).orderBy(*order)
    return (
        pre.withColumn("_qrn", F.row_number().over(w_exact))
        .filter(F.col("_qrn") <= k)
        .drop("_qrn")
    )


def _priors_by_hash(priors) -> "DataFrame":
    """Normalize a (url|url_hash, prior) table to (url_hash, _prior),
    max-collapsing duplicate keys so the frontier join can't multiply
    rows. One partial-aggregable groupBy; at scale the caller computes
    priors once per crawl, not per round."""
    p = priors
    if "url_hash" not in p.columns:
        p = p.select(url_hash("url").alias("url_hash"), "prior")
    return (
        p.select("url_hash", F.col("prior").cast("double").alias("_prior"))
        .groupBy("url_hash")
        .agg(F.max("_prior").alias("_prior"))
    )


# snapshot tables of a crawl's state, each under workdir/tables/<name>;
# results first, because its snapshot is the round commit and a cut
# must un-commit before it removes anything else
STATE_TABLES = ("results", "frontier", "url_seen", "politeness")
# round-scoped directories: (dir, name prefix, first round forgotten
# relative to r). A round's own outputs are named after it; its
# post-round state (the next round's inputs) after r+1.
_ROUND_DIRS = (
    ("results", "round=", 0), ("metrics", "round=", 0),
    ("robots", "r", 0), ("seen_aliases", "r", 0),
    ("frontier", "round=", 1), ("politeness", "round=", 1),
    ("url_seen", "round=", 1), (SIDECAR_DIR, "round=", 1),
)
_SEED = {"round": -1, "stage": "seed"}  # the state before round 0


def _truncate_table_to_round(table, max_round: int) -> None:
    """Drop a crawl snapshot table's entries for rounds > ``max_round``
    (metadata-only, one publish). Relies on snapshot ids being monotone
    in round, so the earliest stale id minus one is a clean prefix
    cut."""
    stale = [s["snapshot_id"] for s in table.snapshots()
             if s.get("summary", {}).get("round", -1) > max_round]
    if stale:
        table.drop_snapshots_since(min(stale) - 1)


def round_log(spark: SparkSession, workdir: str) -> dict[int, dict]:
    """Committed rounds of the crawl in ``workdir``: round -> the
    counters ``run_round`` returned for it. They are the summaries of
    the results table's snapshots; committing that snapshot commits the
    round, so a round is complete exactly when it is here."""
    from ..snaptable import SnapshotTable

    t = SnapshotTable(spark, os.path.join(workdir, "tables", "results"))
    return {s["summary"]["round"]: s["summary"] for s in t.snapshots()
            if "round" in s["summary"]}


def _parquet_rows(path: str) -> int:
    """Row count from parquet footers (no Spark job)."""
    import glob as _glob

    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in _glob.glob(os.path.join(path, "*.parquet"))
    )


def _deferred_count(
    path: str, next_round: int, max_bytes: int = 256 << 20
) -> int | None:
    """Count rows whose `round` != next_round via a row-group-statistic-
    pruned pyarrow read of that single column. Row groups whose
    min==max==next_round (the common case — deferred rows are the
    exception) are skipped without reading. Returns None when the
    groups that WOULD need reading exceed ``max_bytes`` compressed —
    the caller must then use a distributed aggregation instead.
    """
    import glob as _glob

    import pyarrow.parquet as pq

    n = 0
    to_read: list[tuple] = []
    budget = 0
    for f in _glob.glob(os.path.join(path, "*.parquet")):
        pf = pq.ParquetFile(f)
        ci = _leaf_indices(pf, ["round"])[0]
        for g in range(pf.num_row_groups):
            col = pf.metadata.row_group(g).column(ci)
            st = col.statistics
            if (
                st is not None
                and st.has_min_max
                and st.min == next_round
                and st.max == next_round
            ):
                continue
            budget += col.total_compressed_size
            if budget > max_bytes:
                return None
            to_read.append((pf, g))
    for pf, g in to_read:
        vals = pf.read_row_group(g, columns=["round"]).column(0)
        n += sum(1 for v in vals.to_pylist() if v != next_round)
    return n


def _driver_metrics(path: str, max_bytes: int = 256 << 20):
    """Per-partition round metrics aggregated DRIVER-side from the
    just-written results parquet (columns partition_id/host/success/
    n_links only — the heavy markdown/text columns are never touched,
    parquet being columnar). Replaces a 3-4-job Spark aggregation whose
    input the driver re-reads anyway for the manifest counters.

    Web-scale guard (same pattern as ``_deferred_count``): when the four
    columns' compressed chunks exceed ``max_bytes`` the function returns
    None and the caller falls back to the distributed aggregation — at
    100 TB a round's results are GBs even in narrow columns, so the big
    path stays on executors.
    """
    import glob as _glob

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cols = ["partition_id", "host", "success", "n_links"]
    files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    budget = 0
    for f in files:
        pf = pq.ParquetFile(f)
        idx = _leaf_indices(pf, cols)
        for g in range(pf.num_row_groups):
            rg = pf.metadata.row_group(g)
            budget += sum(rg.column(i).total_compressed_size for i in idx)
            if budget > max_bytes:
                return None
    tables = [pq.read_table(f, columns=cols) for f in files]
    t = pa.concat_tables(tables) if tables else pa.table(
        {"partition_id": pa.array([], pa.int32()),
         "host": pa.array([], pa.string()),
         "success": pa.array([], pa.bool_()),
         "n_links": pa.array([], pa.int32())}
    )
    agg = t.group_by("partition_id").aggregate(
        [("partition_id", "count"), ("host", "count_distinct"),
         ("success", "sum"), ("n_links", "sum")]
    )
    # mirror the Spark aggregation's output schema exactly (bigint
    # counters) so rounds written by either path union cleanly
    return pa.table(
        {
            "partition_id": agg.column("partition_id"),
            "n_urls": pc.cast(agg.column("partition_id_count"), pa.int64()),
            "n_hosts": pc.cast(agg.column("host_count_distinct"), pa.int64()),
            "n_ok": pc.cast(
                pc.coalesce(agg.column("success_sum"), pa.scalar(0)),
                pa.int64(),
            ),
            "n_links": pc.cast(
                pc.coalesce(agg.column("n_links_sum"), pa.scalar(0)),
                pa.int64(),
            ),
        }
    )


def _parquet_table(path: str, columns: list[str]):
    """Column-pruned driver-side read of a SMALL just-written parquet
    directory via pyarrow — replaces a tiny Spark aggregation job.
    Only for bounded tables (per-partition metrics, manifest counters)."""
    import glob as _glob

    import pyarrow.parquet as pq

    tables = [
        pq.read_table(f, columns=columns)
        for f in _glob.glob(os.path.join(path, "*.parquet"))
    ]
    import pyarrow as pa

    return pa.concat_tables(tables) if tables else None


RESULT_COLS = [
    "url", "url_hash", "host", "depth", "priority", "parent_url_hash",
    "dfs_key", "partition_id", "fetch_status", "success", "title",
    "headings", "meta", "text_extracted", "raw_markdown",
    "markdown_with_citations", "references_markdown", "n_links", "links",
    # fetch provenance (reference: status_code / redirected_url /
    # error_message on CrawlResult) — the join-mode fetch synthesizes
    # them (200/url/None), a live fetcher carries real values
    "http_status", "final_url", "fetch_error",
    # response validators (RFC 9110): feed CrawlConfig(url_validators=)
    # of a later revisit crawl for conditional (304) refetches
    "etag", "last_modified",
]

LINKS_TYPE = (
    "array<struct<href:string,text:string,title:string,"
    "base_domain:string,is_internal:boolean>>"
)


class CrawlRun:
    """One resumable crawl over a pages table."""

    def __init__(self, spark: SparkSession, pages: DataFrame, workdir: str,
                 config: CrawlConfig | None = None):
        self.spark = spark
        self.pages = pages
        self.workdir = workdir
        self.config = config or CrawlConfig()
        self.seen = SeenFilter(
            spark, workdir, self.config.n_shards,
            filter_kind=self.config.seen_filter_kind,
        )
        self.politeness = PolitenessState(spark, workdir)
        # normalize + persist the priors table ONCE per run: every
        # round (and the seed) joins it, and without the persist the
        # priors' full upstream lineage (e.g. a pagerank iteration
        # chain) would re-execute per round. Cached for the run's
        # lifetime — MEMORY_AND_DISK, so a 10^10-row prior table
        # spills rather than OOMs on a real cluster.
        self._priors = None
        if self.config.url_priors is not None:
            self._priors = _priors_by_hash(self.config.url_priors).persist()
        self._run_tag = uuid.uuid4().hex[:8]  # job-group namespace
        # this round's effective robots dim (static rules, or under
        # robots_fetch the cache ∪ increment) — stashed by run_round
        # for the politeness fast-path's max-Crawl-delay proof
        self._round_rules = None
        os.makedirs(workdir, exist_ok=True)

    # -- paths ---------------------------------------------------------------

    def _frontier_path(self, r: int) -> str:
        return os.path.join(self.workdir, "frontier", f"round={r}")

    def _results_path(self, r: int) -> str:
        return os.path.join(self.workdir, "results", f"round={r}")

    def _metrics_path(self, r: int) -> str:
        return os.path.join(self.workdir, "metrics", f"round={r}")

    def _robots_path(self, r: int) -> str:
        # no 'round=' spelling: these subdirs are read as an explicit
        # path list, and key=value names would trigger Spark partition
        # discovery over the common parent
        return os.path.join(self.workdir, "robots", f"r{r}")

    def _alias_path(self, r: int) -> str:
        return os.path.join(self.workdir, "seen_aliases", f"r{r}")

    def _robots_cache(self, upto_r: int):
        """All cached robots rows fetched in rounds <= upto_r, or None
        when nothing is cached yet (explicit subdir list + explicit
        schema: no partition-column inference, no schema-infer job)."""
        from .robots import ROBOTS_CACHE_SCHEMA

        base = os.path.join(self.workdir, "robots")
        paths = []
        if os.path.isdir(base):
            for name in sorted(os.listdir(base)):
                if name.startswith("r") and name[1:].isdigit():
                    if int(name[1:]) <= upto_r:
                        paths.append(os.path.join(base, name))
        if not paths:
            return None
        return self.spark.read.schema(ROBOTS_CACHE_SCHEMA).parquet(*paths)

    @staticmethod
    def _latest_per_host(cache: DataFrame) -> DataFrame:
        """Latest fetch per host (fetched_round max_by) — the one
        place the cache's per-host resolution rule lives."""
        return (
            cache.groupBy("host")
            .agg(
                F.max_by(
                    F.struct(*[c for c in cache.columns if c != "host"]),
                    "fetched_round",
                ).alias("_s")
            )
            .select("host", "_s.*")
        )

    def robots_cache(self) -> DataFrame | None:
        """The live-acquired robots cache (latest row per host), or
        None when ``robots_fetch`` never ran. Columns:
        :data:`~crawl4ai_spark.operators.robots.ROBOTS_CACHE_SCHEMA`.
        """
        cache = self._robots_cache(2**31 - 1)
        if cache is None:
            return None
        return self._latest_per_host(cache)

    def discovered_sitemaps(self) -> DataFrame | None:
        """(host, sitemap_url) pairs from the robots.txt files the
        crawl fetched — the feeder for sources/seeder.py's sitemap
        pipeline (the reference seeder's robots Sitemap: fallback,
        async_url_seeder.py:807-818, closed into a loop: crawl ->
        robots cache -> sitemap seeds -> next crawl)."""
        cache = self.robots_cache()
        if cache is None:
            return None
        return cache.select(
            "host", F.explode("sitemaps").alias("sitemap_url")
        )

    def _robots_rules_for_round(self, frontier: DataFrame, r: int):
        """Effective robots dim for round ``r`` under live acquisition:
        unexpired cached rows (latest fetch per host) ∪ this round's
        fetch-on-miss increment ∪ the static ``robots_rules`` (never
        fetched, never expiring). The reference's
        RobotsParser.can_fetch cache-then-fetch (utils.py:313-353)
        reshaped as one distributed stage per round: new-host discovery
        is an anti-join of the round's distinct hosts against the known
        set, the fetch+parse is one mapInPandas chain, and the
        increment commits to ``workdir/robots/r{N}`` before use so a
        resumed or rewound run replays identical decisions."""
        from .robots import ROBOTS_CACHE_SCHEMA, RULES_SCHEMA, fetch_robots_rules

        cfg = self.config
        fetcher = cfg.robots_fetcher or cfg.fetcher
        if fetcher is None:
            raise ValueError(
                "CrawlConfig.robots_fetch requires a fetcher "
                "(config.fetcher or config.robots_fetcher)"
            )
        spark = self.spark
        rule_cols = ["host", "disallow", "allow", "crawl_delay"]

        # rounds <= r-1 ONLY: a crashed attempt of round r may have
        # left a partial robots/r{r} increment, and this plan both
        # feeds the overwrite of that path and (via `known`) decides
        # which hosts to refetch — reading it would be a Spark
        # read-overwrite conflict AND would silently exclude the
        # crashed attempt's hosts from the refetch. The rerun simply
        # re-derives the whole increment.
        cache = self._robots_cache(r - 1)
        live = None
        if cache is not None:
            if cfg.robots_ttl_rounds is not None:
                # round-based TTL: expired rows vanish from the dim,
                # which re-classifies their hosts as new -> refetched
                cache = cache.filter(
                    F.col("fetched_round") > r - int(cfg.robots_ttl_rounds)
                )
            live = self._latest_per_host(cache)

        known = (
            live.select("host")
            if live is not None
            else spark.createDataFrame([], "host string")
        )
        static = cfg.robots_rules
        if static is not None:
            known = known.unionByName(static.select("host"))
        # one exemplar URL per new host: robots.txt is requested from
        # the exemplar's scheme+authority (RFC 9309 scopes robots per
        # origin, port included), not from a run-global scheme
        new_hosts = (
            frontier.groupBy("host")
            .agg(F.min("url").alias("url"))
            .join(known, "host", "left_anti")
        )
        inc = fetch_robots_rules(
            new_hosts, fetcher, ua=cfg.robots_ua,
            scheme=cfg.robots_scheme, round_no=r,
        )
        inc.write.mode("overwrite").parquet(self._robots_path(r))
        if _parquet_rows(self._robots_path(r)) > 0:
            inc_read = spark.read.schema(ROBOTS_CACHE_SCHEMA).parquet(
                self._robots_path(r)
            )
            # increment hosts are anti-joined against `known`, so the
            # union is disjoint by construction — no per-host re-dedup
            live = (
                inc_read
                if live is None
                else live.unionByName(inc_read.select(live.columns))
            )
        dim = live.select(rule_cols) if live is not None else None
        if static is not None:
            fetched_part = (
                # static wins on any host overlap (the dim join must
                # stay 1 row/host — duplicate rows would fan out the
                # frontier); overlap only arises if the static table
                # was swapped mid-run
                dim.join(static.select("host"), "host", "left_anti")
                if dim is not None
                else None
            )
            dim = (
                static.select(rule_cols)
                if fetched_part is None
                else fetched_part.unionByName(static.select(rule_cols))
            )
        if dim is None:
            dim = spark.createDataFrame([], RULES_SCHEMA)
        return dim

    # -- the commit log -----------------------------------------------------

    def latest_completed_round(self) -> int | None:
        log = round_log(self.spark, self.workdir)
        return max(log) if log else None

    def manifest(self, r: int) -> dict:
        """Committed counters of round ``r`` (its results snapshot's
        summary)."""
        return round_log(self.spark, self.workdir)[r]

    def _seeded(self) -> bool:
        """True once the seed committed (its url_seen adoption)."""
        return any(s["summary"].get("stage") == "seed"
                   for s in self.table("url_seen").snapshots())

    def _adopt(self, name: str, path: str, summary: dict, schema=None) -> None:
        """Register ``path``'s parquet files as a snapshot of state table
        ``name`` (metadata-only: footer reads and one JSON publish, no
        Spark job). A directory without data files commits an empty
        snapshot. ``schema`` defaults to the table's fixed DDL; an
        explicit schema keeps schema inference, a footer job, away."""
        from pyspark.sql import types as T

        if schema is None:
            ddl = {"frontier": FRONTIER_SCHEMA, "url_seen": SEEN_SCHEMA,
                   "politeness": STATE_SCHEMA}[name]
            schema = T.StructType.fromDDL(ddl)
        self.table(name).add_files(path, schema, summary=summary)

    def _forget_from(self, r: int) -> None:
        """Forget round ``r`` and every later one: cut every state table
        to rounds <= r-1 (results first, which un-commits them in one
        atomic publish), then remove the round-scoped outputs of rounds
        >= r (results, metrics, robots increments, redirect aliases)
        and the post-round state of rounds >= r+1 (frontier, seen deltas
        and their cuckoo sidecars, politeness). Round r's inputs stay.
        A kill part-way leaves files that the next call removes."""
        import shutil

        for name in STATE_TABLES:
            _truncate_table_to_round(self.table(name), r - 1)
        dropped_delta = False
        for sub, prefix, offset in _ROUND_DIRS:
            base = os.path.join(self.workdir, sub)
            for name in os.listdir(base) if os.path.isdir(base) else ():
                j = name[len(prefix):]
                if name.startswith(prefix) and j.isdigit() and int(j) >= r + offset:
                    shutil.rmtree(os.path.join(base, name))
                    dropped_delta |= sub in ("url_seen", SIDECAR_DIR)
        if dropped_delta:
            # a cached sidecar of a removed delta would keep marking its
            # URLs as seen
            self.seen.invalidate_cache()

    # -- seeding -------------------------------------------------------------

    def seed(self, urls: list[str]) -> None:
        """Round-0 frontier from a seed list (canonical URLs).

        Commits to the snapshot log like a round: frontier/round=0 is
        adopted, then url_seen/round=0, and that second adoption is the
        seed's commit (:meth:`_seeded`). Both tables are emptied first,
        so a seed that was killed before its commit simply runs again.
        """
        for name in ("frontier", "url_seen"):
            self.table(name).drop_snapshots_since(0)
        self._sec(0, "seed")
        rows = [(u, f"{i:06d}") for i, u in enumerate(sorted(set(urls)))]
        # a pandas frame goes to the JVM as Arrow batches; a list of
        # tuples plans as a scan of a Python RDD, and the write below took
        # 0.71-0.79 s for 50 rows that way against 0.21-0.23 s (warm,
        # 4-core box)
        df = self.spark.createDataFrame(
            pd.DataFrame(rows, columns=["url", "dfs_key"]), "url string, dfs_key string"
        ).select(
            "url",
            url_hash("url").alias("url_hash"),
            host_no_port("url").alias("host"),
            F.lit(0.0).alias("priority"),
            F.lit(0).alias("depth"),
            F.lit(None).cast("bigint").alias("parent_url_hash"),
            F.lit(0).alias("round"),
            "dfs_key",
        )
        if self._priors is not None:
            df = (
                df.join(self._priors, "url_hash", "left")
                .withColumn(
                    "priority",
                    F.col("priority") + F.coalesce(F.col("_prior"), F.lit(0.0)),
                )
                .drop("_prior")
                .select(  # keep the frontier column order stable
                    "url", "url_hash", "host", "priority", "depth",
                    "parent_url_hash", "round", "dfs_key",
                )
            )
        df.coalesce(1).sortWithinPartitions(F.desc("priority"), "url").write.mode(
            "overwrite"
        ).parquet(self._frontier_path(0))
        self._adopt("frontier", self._frontier_path(0), _SEED)
        # the delta comes from the file just written, as in run_round:
        # re-running `df` would recompute its columns and, without
        # assume_unique (the seed list is deduplicated above), add a
        # dropDuplicates shuffle
        self.seen.add(
            self.spark.read.schema(FRONTIER_SCHEMA).parquet(self._frontier_path(0)),
            0, assume_unique=True,
        )
        self._adopt("url_seen", os.path.join(self.seen.path, "round=0"), _SEED)

    # -- one round -----------------------------------------------------------

    def _robots_max_delay(self) -> float | None:
        """Largest Crawl-delay in this round's EFFECTIVE robots dim
        (0.0 when no rules). Recomputed every round — the rules
        DataFrame is documented as refreshable out-of-band, and under
        ``robots_fetch`` the dim grows per round, so a once-per-run
        cache could let a mid-run Crawl-delay raise slip past the
        fast-path proof. One tiny agg job on a broadcast-sized
        dimension, and only on runs that configure robots at all.
        None = unknown (fast path must not engage)."""
        dim = self._round_rules
        if dim is None:
            return 0.0
        try:
            row = dim.agg(F.max("crawl_delay").alias("m")).first()
            return float(row["m"] or 0.0)
        except Exception:
            return None

    def _budget_provably_non_binding(
        self, r: int, frontier_count: int, state_rows: int
    ) -> bool:
        """True when this round's politeness split is the identity —
        provable from metadata alone (politeness state row-group
        statistics + the rules dim's max Crawl-delay), so the two-phase
        salted top-k and the state join can be skipped. Conservative:
        any missing statistic disables the fast path."""
        import math

        from .politeness import BASE_DELAY, MAX_RETRIES

        # free driver-side checks FIRST: in the binding steady state
        # (the common case at scale) the footer statistics disprove the
        # fast path without any Spark job; the robots max-delay agg —
        # the proof's only job — runs only once these pass
        max_delay, max_fail = BASE_DELAY, 0
        if state_rows:
            bounds = self.politeness.footer_bounds(r)
            if bounds is None:
                return False
            max_delay = max(bounds[0], BASE_DELAY)
            max_fail = bounds[1]
        if max_fail > MAX_RETRIES:
            return False
        if math.floor(self.config.round_seconds / max_delay) < frontier_count:
            return False
        rmax = self._robots_max_delay()
        if rmax is None:
            return False
        eff = max(max_delay, rmax)
        return math.floor(self.config.round_seconds / eff) >= frontier_count

    def job_group(self, r: int, name: str) -> str:
        """The job-group id `_sec` tags a section's jobs with. Includes
        a per-run nonce — statusTracker group lookups span the whole
        application, so two CrawlRuns in one session must not share
        group names (the jobs-per-round budget test counts by group)."""
        return f"crawl-{self._run_tag}-r{r}-{name}"

    def _sec(self, r: int, name: str) -> None:
        """Tag the jobs of the next action with a per-section group id
        (Spark-UI attribution + the jobs-per-round budget test)."""
        self.spark.sparkContext.setJobGroup(
            self.job_group(r, name), f"crawl round {r}: {name}"
        )

    def run_round(self, r: int) -> dict:
        cfg = self.config
        t0 = time.perf_counter()
        # a killed attempt of this round (or of a later one) may have
        # left outputs, state and uncommitted snapshots behind: the
        # seen anti-join below must not see its url_seen delta
        self._forget_from(r)

        frontier = self.spark.read.schema(FRONTIER_SCHEMA).parquet(
            self._frontier_path(r)
        )
        # footer-metadata count — not even a metadata-only Spark job
        frontier_count = _parquet_rows(self._frontier_path(r))

        # cumulative admitted count (= seen-set size) carried through the
        # round commits: at 10^10 URLs a per-round seen.count() full scan
        # is the one genuine scale-killer in max_pages mode — the
        # previous round's commit already knows the number
        admitted_before = (
            frontier_count if r == 0
            else int(self.manifest(r - 1)["cum_admitted_next"])
        )

        # robots gate (broadcast dim join); under robots_fetch the dim
        # is acquired live first (fetch-on-miss increment, one job)
        if cfg.robots_fetch:
            self._sec(r, "robots")
            rules_dim = self._robots_rules_for_round(frontier, r)
        else:
            rules_dim = cfg.robots_rules
        self._round_rules = rules_dim
        if rules_dim is not None:
            frontier = with_robots_decision(frontier, rules_dim)
        else:
            frontier = frontier.withColumn("robots_allowed", F.lit(True)).withColumn(
                "robots_crawl_delay", F.lit(None).cast("double")
            )

        blocked = frontier.filter(~F.col("robots_allowed"))
        # robots_crawl_delay rides through to the budget split: a
        # host's robots.txt Crawl-delay floors its effective delay
        candidate = frontier.filter(F.col("robots_allowed")).drop(
            "robots_allowed"
        )
        # effective priority for THIS round's orderings: aging boosts by
        # rounds-waited (from the admitted-round lineage) without ever
        # touching the stored priority — deferred rows re-persist their
        # original value, so the boost cannot compound across rounds
        if cfg.priority_aging:
            eff = F.col("priority") + F.lit(cfg.priority_aging) * F.greatest(
                F.lit(r) - F.col("round"), F.lit(0)
            ).cast("double")
        else:
            eff = F.col("priority")
        candidate = candidate.withColumn("_prio_eff", eff)

        # traversal-strategy pool cut (T1 best-first batches / T7 DFS)
        if cfg.strategy == "best_first" and cfg.batch_size:
            # tie-break mirrors the reference's priority-queue tuple
            # (score, depth, url) — bff_strategy.py:146-151: equal
            # scores pop the SHALLOWER url first, then lexicographic
            pool = candidate.orderBy(
                F.desc("_prio_eff"), F.asc("depth"), F.asc("url")
            ).limit(cfg.batch_size)
            pool_rest = candidate.join(
                pool.select("url_hash"), "url_hash", "left_anti"
            )
        elif cfg.strategy == "dfs":
            pool = candidate.orderBy(F.asc("dfs_key")).limit(cfg.batch_size or 1)
            pool_rest = candidate.join(
                pool.select("url_hash"), "url_hash", "left_anti"
            )
        else:
            pool, pool_rest = candidate, None

        # cache read (S9/S11): hits skip fetch+extract AND the budget
        from .cache import CacheMode, ResultCache

        cache = ResultCache(self.spark, cfg.cache_path) if cfg.cache_path else None
        cache_mode = CacheMode(cfg.cache_mode)
        if cache is not None:
            hits, pool = cache.split_hits(pool, cache_mode)
        else:
            hits = None

        # politeness budget split — unless footer statistics PROVE it
        # non-binding for this round: if even the slowest host's token
        # count (round_seconds / max(max state delay, max robots
        # Crawl-delay)) covers the whole frontier and no host is past
        # MAX_RETRIES, the split is the identity (all selected, none
        # deferred/dropped) and the two-phase windows + state join are
        # skipped. Stats come from parquet row-group footers (state, no
        # job) and a per-round agg of the tiny rules dim (only on runs
        # that configure robots; the rules table is refreshable).
        state = self.politeness.load(r)
        state_rows = self.politeness.count_rows(r) if state is not None else 0
        # the proof's only possible job (the robots rules-dim agg) must
        # be attributed to THIS round's politeness section, not linger
        # under the previous round's last job group
        self._sec(r, "politeness")
        if self._budget_provably_non_binding(r, frontier_count, state_rows):
            budgeted = pool.withColumn("_selected", F.lit(True)).withColumn(
                "_dropped", F.lit(False)
            ).persist()
        else:
            budgeted = select_within_budget(
                pool, state, round_seconds=cfg.round_seconds,
                order_cols=("_prio_eff", "url"),
                robots_delay_col="robots_crawl_delay",
                salt=cfg.salt,
                state_rows=state_rows,
            ).persist()
        # consumed by the results write AND the next-frontier
        # write; one persist beats re-running the joins + two-phase
        # windows in each job (bounded: this round's candidate pool)
        # a live fetcher that declares host_interval_col keeps the
        # per-host robots Crawl-delay riding into the fetch layout, so
        # the delay becomes actual in-task request spacing (not just
        # round budgeting); dropped again right after the fetch
        _fetch_icol = getattr(cfg.fetcher, "host_interval_col", None)
        _keep_delay = _fetch_icol is not None
        _sel_drop = ["_selected", "_dropped"] + (
            [] if _keep_delay else ["robots_crawl_delay"]
        )
        selected = budgeted.filter(
            F.col("_selected") & ~F.col("_dropped")
        ).drop(*_sel_drop)
        if _keep_delay and _fetch_icol != "robots_crawl_delay":
            # the fetcher may declare any column name for its per-row
            # delay; surface the robots Crawl-delay under that name so
            # pacing works regardless of the declared spelling
            selected = selected.withColumnRenamed(
                "robots_crawl_delay", _fetch_icol
            )
        deferred = budgeted.filter(~F.col("_selected") & ~F.col("_dropped")).drop(
            "_selected", "_dropped", "robots_crawl_delay"
        )
        # hosts past MAX_RETRIES: their remaining frontier rows surface
        # as observable 'abandoned' results instead of vanishing
        # (reference: domain dropped after 3 retries)
        abandoned = budgeted.filter(F.col("_dropped")).drop(
            "_selected", "_dropped", "robots_crawl_delay"
        )
        if pool_rest is not None:
            deferred = deferred.unionByName(
                pool_rest.drop("robots_crawl_delay")
            )

        # salted fetch layout: hot hosts spread over `salt` slices, each
        # slice in (priority desc, url) order; partition id = lineage
        n_part = cfg.shuffle_partitions or int(
            self.spark.conf.get("spark.sql.shuffle.partitions")
        )

        # "fetch": the pluggable seam (operators/fetch.py). Default =
        # lookup of the page body (S2 — frontier ⋈ pages); cfg.fetcher
        # swaps in a live/mapInPandas fetcher with identical columns.
        if cfg.fetcher is not None:
            # a REAL fetcher runs inside the layout partitions, so the
            # repartition + priority sort genuinely control fetch
            # locality and order. Live fetchers (host_exclusive) get a
            # by-host-ONLY layout: the hot-host salt would spread one
            # host over up to `salt` concurrently-fetching tasks,
            # violating crawl-delay; a lookup-join fetcher keeps the
            # salted skew spread since no requests leave the cluster.
            if getattr(cfg.fetcher, "host_exclusive", False):
                part_cols = [F.col("host")]
            else:
                part_cols = [
                    F.col("host"),
                    F.pmod(F.col("url_hash"), F.lit(cfg.salt)),
                ]
            if cfg.url_validators is not None:
                v = cfg.url_validators
                if "url_hash" not in v.columns:
                    v = v.withColumn("url_hash", url_hash("url")).drop("url")
                # duplicate keys collapse deterministically (max) — a
                # validators table with a URL twice (e.g. a union of
                # two crawls' results) must not fan out the fetch
                # layout into duplicate fetches (same defensive rule
                # as _priors_by_hash)
                selected = selected.join(
                    v.groupBy("url_hash").agg(
                        F.max("if_none_match").alias("if_none_match"),
                        F.max("if_modified_since").alias(
                            "if_modified_since"
                        ),
                    ),
                    "url_hash", "left",
                )
            if cfg.proxies is not None:
                from .proxy import assign_proxies

                selected = assign_proxies(
                    selected, cfg.proxies, per=cfg.proxy_per
                )
            layout = (
                selected.repartition(n_part, *part_cols)
                .sortWithinPartitions(F.desc("_prio_eff"), F.asc("url"))
                .withColumn("partition_id", F.spark_partition_id())
                .drop("_prio_eff")
            )
            from .fetch import fetch_stage

            fetched = fetch_stage(layout, cfg.fetcher)
            if _keep_delay:
                fetched = fetched.drop(_fetch_icol)
            if cfg.url_validators is not None:
                # request-side validators are consumed by the fetcher;
                # the RESPONSE validators (etag / last_modified) ride on
                fetched = fetched.drop("if_none_match", "if_modified_since")
            if cfg.proxies is not None:
                # consumed by the fetcher; may carry credentials —
                # never persisted into results
                fetched = fetched.drop("proxy_server")
        else:
            # join-mode: the fetch join reshuffles by url anyway (the
            # scrape runs on the JOIN output), so a physical salted
            # exchange here would buy nothing but the partition_id
            # lineage — which is a pure column: pmod(murmur3(host,
            # slice), n) is bit-identical to what repartition's
            # HashPartitioning would have assigned (pinned by
            # tests/test_plan_audit.py). One shuffle per round saved.
            layout = selected.withColumn(
                "partition_id",
                F.pmod(
                    F.hash(
                        F.col("host"), F.pmod(F.col("url_hash"), F.lit(cfg.salt))
                    ),
                    F.lit(n_part),
                ),
            ).drop("_prio_eff")
            fetched = layout.join(
                self.pages.select("url", "html", "warc_ts"), "url", "left"
            ).withColumns({
                # synthesized provenance, so both fetch modes emit the
                # same result schema (a lookup hit IS a 200)
                "http_status": F.when(
                    F.col("html").isNotNull(), F.lit(200)
                ).cast("int"),
                "final_url": F.col("url"),
                "fetch_error": F.when(
                    F.col("html").isNull(), F.lit("miss")
                ).cast("string"),
                "etag": F.lit(None).cast("string"),
                "last_modified": F.lit(None).cast("string"),
            })

        # non-2xx responses carry their body (UrllibFetcher keeps error
        # pages) but are NOT successes: the reference raises
        # HTTPStatusError for them — here the row survives with
        # fetch_status='http_error' and its links are never followed
        # (link discovery filters on success). A null status with a
        # body is trusted (custom MapFetcher fns may not report one).
        fetched = fetched.withColumn(
            "_has_html", F.col("html").isNotNull()
        ).withColumn(
            "_fetch_ok",
            F.col("_has_html")
            & (
                F.col("http_status").isNull()
                | F.col("http_status").between(200, 299)
            ),
        ).withColumn(
            # relative links belong to the POST-redirect URL (the
            # reference scrapes against redirected_url)
            "_scrape_base", F.coalesce(F.col("final_url"), F.col("url"))
        )

        # drop the raw bytes from the stage output: the results table
        # persists extractions, not input bytes (halves Arrow egress)
        extracted = scrape_stage(
            fetched, "html", "_scrape_base", markdown=True,
            drop_cols=("html", "cleaned_html", "_scrape_base"),
            opts=cfg.scrape_options,
        )
        results = extracted.select(
            "url", "url_hash", "host", "depth", "priority", "parent_url_hash",
            "dfs_key", "partition_id",
            _fetch_status_expr(F.col("_fetch_ok")).alias("fetch_status"),
            (F.col("_fetch_ok") & F.col("success")).alias("success"),
            "title", "headings", "meta", "text_extracted", "raw_markdown",
            "markdown_with_citations", "references_markdown",
            F.size(F.coalesce(F.col("links"), F.array())).alias("n_links"),
            "links", "http_status", "final_url", "fetch_error",
            "etag", "last_modified",
        )

        def _synthetic_results(df, partition_id: int, status: str):
            """Result rows for URLs that never reached the fetch stage
            (robots_blocked / abandoned): lineage columns ride through,
            and the union below fills every extraction column with a
            null of the fetched side's type. One definition — a
            RESULT_COLS change edits this once, not per status."""
            return df.select(
                "url", "url_hash", "host", "depth", "priority",
                "parent_url_hash", "dfs_key",
                F.lit(partition_id).alias("partition_id"),
                F.lit(status).alias("fetch_status"),
                F.lit(False).alias("success"),
                F.lit(0).alias("n_links"),
                F.col("url").alias("final_url"),
            )

        all_results = results
        for df, pid, status in ((blocked, -1, "robots_blocked"),
                                (abandoned, -3, "abandoned")):
            all_results = all_results.unionByName(
                _synthetic_results(df, pid, status), allowMissingColumns=True
            )
        if hits is not None:
            hit_results = hits.select(
                "url", "url_hash", "host", "depth", "priority",
                "parent_url_hash", "dfs_key",
                F.lit(-2).alias("partition_id"),
                F.lit("cache_hit").alias("fetch_status"),
                F.lit(True).alias("success"),
                "title", "headings", "meta", "text_extracted", "raw_markdown",
                "markdown_with_citations", "references_markdown",
                "n_links", "links",
                # provenance replayed from the cache (the original
                # fetch's status/redirect), not fabricated; validators
                # null-backfilled for cache tables written pre-r4
                F.col("http_status").cast("int").alias("http_status"),
                F.col("final_url").cast("string").alias("final_url"),
                F.lit(None).cast("string").alias("fetch_error"),
                *[
                    (
                        F.col(c) if c in hits.columns else F.lit(None)
                    ).cast("string").alias(c)
                    for c in ("etag", "last_modified")
                ],
            )
            all_results = all_results.unionByName(hit_results)
        # narrow write: the scraped payloads (markdown/text/links) are
        # the round's heaviest columns — the old repartition(url_hash)
        # re-shuffled the whole round's output for nothing but file
        # hygiene (no consumer joins on the results layout; the cache's
        # anti-join shuffles its own projection either way). coalesce
        # merges the union's branch partitions (fetched + blocked +
        # abandoned + hits) back to the round's width WITHOUT moving
        # rows between executors, and the salted fetch layout keeps
        # partition_id lineage within each file.
        self._sec(r, "results")
        out = all_results.select(*RESULT_COLS)
        out.coalesce(n_part).write.mode("overwrite").parquet(
            self._results_path(r)
        )

        # re-read results: breaks lineage — the scrape UDF ran exactly
        # once (during the write above); link discovery reads parquet.
        # The schema just written is known: a schemaless read would run
        # a footer-inference job every round
        persisted = self.spark.read.schema(out.schema).parquet(
            self._results_path(r)
        )

        # cache write (S10): append fresh fetches not already cached
        if cache is not None:
            self._sec(r, "cache")
            cache.write(
                persisted.filter(F.col("fetch_status") == "fetched"), cache_mode
            )

        # per-partition throughput metrics (A9): driver-side pyarrow
        # aggregation of the narrow columns when the round is small
        # enough (it re-reads them for the manifest counters anyway),
        # distributed Spark agg beyond the 256 MB guard
        mtable = _driver_metrics(self._results_path(r))
        if mtable is not None:
            import shutil

            import pyarrow.parquet as _pq

            mpath = self._metrics_path(r)
            shutil.rmtree(mpath, ignore_errors=True)
            os.makedirs(mpath, exist_ok=True)
            tmp = os.path.join(mpath, "._part-00000.parquet.tmp")
            _pq.write_table(mtable, tmp)
            os.replace(tmp, os.path.join(mpath, "part-00000.parquet"))
        else:
            self._sec(r, "metrics")
            persisted.groupBy("partition_id").agg(
                F.count("*").alias("n_urls"),
                F.countDistinct("host").alias("n_hosts"),
                F.sum(F.col("success").cast("int")).alias("n_ok"),
                F.sum("n_links").alias("n_links"),
            ).coalesce(1).write.mode("overwrite").parquet(self._metrics_path(r))

        # -- link discovery -> next frontier ---------------------------------
        links = (
            persisted.filter(F.col("success"))
            .select(
                F.col("url_hash").alias("parent_hash"),
                F.col("depth").alias("parent_depth"),
                F.col("dfs_key").alias("parent_dfs_key"),
                F.posexplode("links").alias("pos", "lk"),
            )
        )
        if not cfg.include_external:
            links = links.filter(F.col("lk.is_internal"))
        excluded_doms = set(d.lower() for d in cfg.exclude_domains)
        if cfg.exclude_social_media_links:
            from ..functions.scrape import SOCIAL_MEDIA_DOMAINS

            excluded_doms |= set(SOCIAL_MEDIA_DOMAINS)
        if excluded_doms:
            # F10: external links to excluded registrable domains never
            # enter the frontier; internal links are exempt (reference
            # checks only the external branch, :1152-1165)
            links = links.filter(
                F.col("lk.is_internal")
                | F.col("lk.base_domain").isNull()  # unresolvable: keep
                | ~F.lower(F.col("lk.base_domain")).isin(
                    sorted(excluded_doms)
                )
            )
        canon = canonicalize_udf(F.col("lk.href"), F.lit("https://unused.invalid/"))
        # 7-digit position segment: lpad TRUNCATES beyond its width,
        # so a 4-wide pad would collide positions >= 10000 on
        # link-heavy pages (key ties -> nondeterministic DFS order);
        # 7 digits bounds pages at 10M links, far past any real DOM
        child_key = F.concat(
            F.coalesce(F.col("parent_dfs_key"), F.lit("")),
            F.lit("."),
            F.lpad(F.col("pos").cast("string"), 7, "0"),
        )
        scored = links.select(
            canon.alias("url"),
            (F.col("parent_depth") + 1).alias("depth"),
            F.col("parent_hash").alias("parent_url_hash"),
            child_key.alias("dfs_key"),
        ).filter(F.col("url").isNotNull() & (F.col("depth") <= cfg.max_depth))
        if cfg.trap_filter:
            from .filters import is_crawler_trap

            scored = scored.filter(~is_crawler_trap(F.col("url")))
        if cfg.keywords:
            scored = scored.withColumn(
                "priority", keyword_relevance_score("url", list(cfg.keywords))
            )
        else:
            scored = scored.withColumn("priority", F.lit(0.0))
        if cfg.score_threshold is not None:
            scored = scored.filter(F.col("priority") >= cfg.score_threshold)
        scored = scored.withColumn("url_hash", url_hash("url")).withColumn(
            "host", host_no_port("url")
        )
        if self._priors is not None:
            # authority/staleness prior added AFTER the keyword
            # threshold gate (the threshold keeps its reference
            # semantics over the scorer output) and BEFORE the in-round
            # dedup window / per-host quota, both of which order by the
            # boosted priority
            scored = (
                scored.join(self._priors, "url_hash", "left")
                .withColumn(
                    "priority",
                    F.col("priority") + F.coalesce(F.col("_prior"), F.lit(0.0)),
                )
                .drop("_prior")
            )

        # in-round dedup: keep highest-priority, lowest-parent occurrence
        from pyspark.sql import Window

        # min depth first (true BFS distance), then stable parent choice
        # (DFS mode keeps the earliest stack position instead)
        if cfg.strategy == "dfs":
            w = Window.partitionBy("url_hash").orderBy(F.asc("dfs_key"))
        else:
            w = Window.partitionBy("url_hash").orderBy(
                F.desc("priority"), F.asc("depth"), F.asc("parent_url_hash")
            )
        deduped = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

        if self.seen.filter_kind is not None:
            # the sidecar prefilter splits `deduped` twice (definite-new
            # / maybe-seen) and collects the maybe-side shard list;
            # persist so the link-discovery plan runs once
            deduped = deduped.persist()
        fresh = self.seen.anti_join(deduped)

        # redirect aliasing: canonicalized final_url of successful
        # redirected fetches joins the seen set AND suppresses any
        # same-round fresh admission of the target. Committed to a
        # small per-round parquet first — a lineage cut, so the seen
        # write below never re-executes a plan that reads the seen
        # shards it is writing (and the round re-runs idempotently).
        alias_read = None
        if cfg.alias_redirects:
            aliases = (
                persisted.filter(
                    F.col("success")
                    & F.col("final_url").isNotNull()
                    & (F.col("final_url") != F.col("url"))
                )
                .select(
                    canonicalize_udf(
                        F.col("final_url"), F.lit("https://unused.invalid/")
                    ).alias("url")
                )
                .filter(F.col("url").isNotNull())
                .withColumn("url_hash", url_hash("url"))
                .dropDuplicates(["url_hash"])
            )
            # targets crawled in earlier rounds are already seen — no
            # alias row (keeps the seen set duplicate-free when many
            # pages redirect to one target across rounds)
            aliases = self.seen.anti_join(aliases)
            self._sec(r, "seen")
            aliases.write.mode("overwrite").parquet(self._alias_path(r))
            alias_read = self.spark.read.schema(
                "url string, url_hash bigint"
            ).parquet(self._alias_path(r))
            fresh = fresh.join(
                alias_read.select("url_hash"), "url_hash", "left_anti"
            )

        # per-host admission quota (anti-flood): at most k new URLs per
        # host per round, salted two-phase top-k (no hot-host funnel)
        if cfg.max_urls_per_host is not None:
            fresh = _per_host_topk(fresh, cfg.max_urls_per_host, cfg.salt)

        # capacity cap (T2): remaining global page budget, measured
        # against every URL ever admitted (= the seen set, tracked via
        # the round commits — no per-round full scan)
        if cfg.max_pages is not None:
            remaining = max(cfg.max_pages - admitted_before, 0)
            fresh = fresh.orderBy(F.desc("priority"), F.asc("url")).limit(remaining)

        # deferred rows keep the round they were admitted in (lineage);
        # fresh links are stamped with the next round — the distinction
        # lets the round counters come from ONE aggregation below
        next_frontier = deferred.select(
            "url", "url_hash", "host", "priority", "depth", "parent_url_hash",
            "round", "dfs_key",
        ).unionByName(
            fresh.select(
                "url", "url_hash", "host", "priority", "depth",
                "parent_url_hash", F.lit(r + 1).alias("round"), "dfs_key",
            )
        )

        self._sec(r, "frontier")
        next_frontier.repartition(max(n_part // 4, 1), "url_hash").sortWithinPartitions(
            F.desc("priority"), "url"
        ).write.mode("overwrite").parquet(self._frontier_path(r + 1))

        # seen delta = next-frontier rows not yet in the seen set. Those
        # are EXACTLY the rows stamped round = r+1: `fresh` already
        # passed the seen anti-join above, and deferred rows (round <=
        # r) entered the seen set when first admitted — so a pushed-down
        # filter scan of the just-written (small) frontier file replaces
        # what used to be a second full anti-join against every seen
        # shard. Idempotent on round re-run: the r+1 delta is deleted at
        # round start (_forget_from) and the frontier file is overwritten.
        frontier_next = self.spark.read.schema(FRONTIER_SCHEMA).parquet(
            self._frontier_path(r + 1)
        )
        self._sec(r, "seen")
        seen_delta = frontier_next.filter(F.col("round") == r + 1)
        if alias_read is not None:
            # still unique: fresh rows were anti-joined against the
            # alias file above, and the alias file itself is
            # dropDuplicates'd + anti-joined against rounds <= r
            seen_delta = seen_delta.select("url", "url_hash").unionByName(
                alias_read.select("url", "url_hash")
            )
        self.seen.add(seen_delta, r + 1, assume_unique=True)
        budgeted.unpersist(blocking=False)
        if self.seen.filter_kind is not None:
            deduped.unpersist(blocking=False)

        # politeness fold
        self._sec(r, "politeness")
        if cfg.rate_limit_codes is not None:
            # reference-exact: only rate-limit answers are failures
            pol_success = ~F.coalesce(
                F.col("http_status").isin(*[int(c) for c in cfg.rate_limit_codes]),
                F.lit(False),
            )
        else:
            # conservative default: any unsuccessful row backs off; a
            # 304 is a politeness SUCCESS either way (the server
            # answered fine; success=false only means "no new content")
            pol_success = F.col("success") | (
                F.col("fetch_status") == "not_modified"
            )
        new_state = update_state(
            state,
            # cache hits never touched the host (the reference's cache
            # path returns before its rate limiter runs) — counting
            # them as successful contacts would decay a backing-off
            # host's delay and reset fail_count without any request
            persisted.filter(
                ~F.col("fetch_status").isin(
                    "robots_blocked", "abandoned", "cache_hit"
                )
            ).withColumn("success", pol_success),
            r,
        )
        self.politeness.save(new_state, r + 1)

        # round counters WITHOUT Spark jobs: the metrics table is
        # bounded (one row per partition id) so a pyarrow driver read
        # replaces the aggregation job; the next-frontier counters come
        # from parquet footers + a row-group-stat-pruned read of the
        # single `round` column, falling back to a Spark agg when the
        # table is too big to touch driver-side (web scale).
        mt = _parquet_table(self._metrics_path(r), ["partition_id", "n_urls", "n_ok"])
        pid = mt.column("partition_id").to_pylist()
        nu = mt.column("n_urls").to_pylist()
        nok = mt.column("n_ok").to_pylist()
        rs = {
            "n": sum(nu),
            "blk": sum(u for p, u in zip(pid, nu) if p == -1),
            "aband": sum(u for p, u in zip(pid, nu) if p == -3),
            "hits": sum(u for p, u in zip(pid, nu) if p == -2),
            "hits_ok": sum(
                (x or 0) for p, x in zip(pid, nok) if p == -2
            ),
            "ok": sum(x or 0 for x in nok),
        }
        next_count = _parquet_rows(self._frontier_path(r + 1))
        deferred_count = _deferred_count(
            self._frontier_path(r + 1), r + 1
        )
        if deferred_count is None:  # too large for a driver-side read
            deferred_count = int(
                frontier_next.filter(F.col("round") != r + 1).count()
            )
        new_links = next_count - deferred_count
        counts = {
            "round": r,
            "frontier": frontier_count,
            "blocked": int(rs["blk"]),
            "abandoned": int(rs["aband"]),
            # cache hits ride the results table (partition_id -2) but
            # never went through budget selection or a fetch — count
            # them separately so selected/fetched_ok report real fetch
            # volume, not cache traffic
            "cache_hits": int(rs["hits"]),
            "selected": int(rs["n"]) - int(rs["blk"]) - int(rs["aband"])
            - int(rs["hits"]),
            "fetched_ok": int(rs["ok"]) - int(rs["hits_ok"]),
            "deferred": deferred_count,
            "new_links": new_links,
            "next_frontier": next_count,
            "cum_admitted": admitted_before,
            "cum_admitted_next": admitted_before + new_links,
            "wall_s": round(time.perf_counter() - t0, 3),
            "config": self.config.to_json(),
        }
        self._commit_round(r, persisted.schema, counts)
        return counts

    # -- snapshot tables (Iceberg-style round checkpoints) -------------------

    def table(self, name: str):
        """Snapshot table of this crawl's state, one of
        :data:`STATE_TABLES`: "results" holds one snapshot per committed
        round, whose summary is the round's counters; "frontier",
        "url_seen" and "politeness" hold the state each round (and the
        seed, summary round -1) left for the next one."""
        from ..snaptable import SnapshotTable

        return SnapshotTable(
            self.spark, os.path.join(self.workdir, "tables", name)
        )

    def _commit_round(self, r: int, results_schema, counts: dict) -> None:
        """Adopt round ``r``'s post-round state (the round-r+1 frontier,
        url_seen delta and politeness state), then its results with
        ``counts`` as the snapshot summary: that last adoption is the
        round commit. Metadata-only, zero byte copies, no Spark job. The
        north star checkpoints "cuckoo filter shards, frontier offsets,
        politeness counters" to Iceberg snapshots; the seen-filter
        cuckoo sidecars are derived data, rebuilt from the deltas they
        index, so they are not adopted."""
        state = {"round": r}
        self._adopt("frontier", self._frontier_path(r + 1), state)
        self._adopt("url_seen", os.path.join(self.seen.path, f"round={r + 1}"),
                    state)
        self._adopt("politeness", self.politeness._path(r + 1), state)
        self._adopt("results", self._results_path(r), counts, results_schema)

    # -- driver loop ---------------------------------------------------------

    def run(self, max_rounds: int) -> list[dict]:
        """Run (or resume) up to ``max_rounds`` rounds; returns every
        round's committed counters.

        Resume point: the last round in the results log is complete;
        work restarts at the next round, whose inputs (frontier, seen
        deltas, politeness state) were all adopted before that commit.
        A crawl whose last round left an empty frontier is finished.
        """
        log = round_log(self.spark, self.workdir)
        out = [log[i] for i in sorted(log)]
        if not out and not self._seeded():
            return out
        for r in range(len(out), max_rounds):
            if out and out[-1]["next_frontier"] == 0 and out[-1]["deferred"] == 0:
                break
            out.append(self.run_round(r))
        return out

    def rewind_to_round(self, k: int) -> None:
        """Forget every round after ``k`` so :meth:`run` replays them.

        One :meth:`_forget_from` (``k + 1``): the snapshot tables are cut
        to round <= k and the outputs and post-round state of later
        rounds are removed. Round ``k``'s own outputs (the round-k+1
        frontier / seen delta / politeness state) are KEPT, being the
        resume inputs. With an unchanged config the replay is
        bit-identical (the engine is deterministic given frontier +
        seen + politeness state; NB a shared result cache in a
        non-bypass ``cache_mode`` retains the forgotten rounds' entries,
        so the replay may legitimately hit cache where the original
        fetched), which is the north star's "resumes mid-[crawl] with
        identical crawl ordering and URL-seen set" exercised as an
        explicit rewind instead of a crash.

        Crash-safe: the results log is cut first, in one atomic
        metadata publish, so every later round un-commits at once; a
        kill after that leaves an ordinary resumable crawl whose next
        round removes the rest.
        """
        if k < 0:
            raise ValueError("rewind_to_round(k): k must be >= 0")
        last = self.latest_completed_round()
        if last is None or k >= last:
            return
        self._forget_from(k + 1)

    def close(self) -> None:
        """Release session-lifetime resources (the persisted priors
        table). Idempotent; the run object stays usable — a later
        round would just recompute the priors lineage."""
        if self._priors is not None:
            self._priors.unpersist(blocking=False)

    def results(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, "results"))

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, "metrics"))


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str],
    workdir: str,
    config: CrawlConfig | None = None,
    max_rounds: int = 3,
) -> list[dict]:
    """Convenience wrapper: seed (unless the log says the crawl was
    seeded) and run the loop."""
    run = CrawlRun(spark, pages, workdir, config)
    try:
        if not run._seeded():
            run.seed(seeds)
        return run.run(max_rounds)
    finally:
        run.close()
