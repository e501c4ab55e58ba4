"""Crawler hub: a registry of named, reusable site crawlers.

Reference surface (re-expressed, not ported):
- ``crawl4ai/hub.py:12-35`` — ``BaseCrawler`` ABC with a validated
  ``run`` signature enforced at subclass time.
- ``crawl4ai/hub.py:37-69`` — ``CrawlerHub`` registry with lazy
  discovery and ``get(name)`` lookup; a module-level ``__meta__`` dict
  is attached to the class as ``cls.meta``.
- ``crawl4ai/crawlers/google_search/crawler.py:11-131`` — the Google
  SERP crawler: deterministic search-URL builder, per-section
  extraction schemas built once and cached on disk as JSON, then
  JSON-CSS extraction of organic results / top stories / suggested
  queries into one JSON object per page.
- ``crawl4ai/crawlers/amazon_product/crawler.py:10-20`` — a stub
  product crawler (the reference returns a fixed JSON payload).

Spark-native reading: a site crawler is a *recipe* — URL builder +
cached extraction schemas + one vectorized extraction stage — applied
to a DataFrame of pages through the pluggable fetch seam
(``operators/fetch.py``). Schema *generation* is a bounded driver-side
step (one sample page); schema *application* is an Arrow-batched
``mapInPandas`` that scales to any number of SERP pages, so the hub
composes with the frontier/politeness tiers unchanged.

Divergences (documented, by design):
- The reference builds schemas with an LLM guided by a natural-language
  ``query`` hint (``crawler.py:79-123``). The sandbox has no LLM, so the
  hint becomes a *structural scoping selector* per schema key
  (``section_hints``): the section subtree is carved out with the CSS
  engine and ``generate_schema`` (structural inference, LLM seam kept)
  runs on that fragment. Passing ``llm=`` restores reference behavior.
- The reference defaults the schema cache to ``get_home_folder()``;
  here caching only happens when ``schema_cache_path`` is given (the
  engine never writes outside an explicit workdir).
- Image search (``crawler.py:47-54``) needs the browser JS tier
  (``script.js`` walks ``window.W_jd``); the Spark engine has no
  browser, so that path returns the reference's error-JSON shape.
"""

from __future__ import annotations

import inspect
import json
import os
from typing import Dict, Type, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.html_tools import preprocess_html_for_schema
from .functions.schema_extract import (
    json_css_extract,
    parse_dom,
    select_all,
    validate_schema,
)
from .functions.scrape import outer_html
from .functions.schema_infer import generate_schema
from .operators.fetch import fetch_stage


class BaseCrawler:
    """Sync, Spark-first mirror of ``hub.py:12-35``.

    Subclasses implement ``run(self, spark, url="", **kwargs)`` and
    return a DataFrame (one row per crawled URL with an ``extracted``
    JSON column) instead of a JSON string — the distributed analogue of
    the reference's single-URL coroutine.
    """

    meta: dict = {}

    def __init__(self, fetcher=None):
        # the fetch seam: PagesJoinFetcher for offline corpora,
        # UrllibFetcher for live HTTP — same contract either way
        self._fetcher = fetcher

    def run(self, spark: SparkSession, url: str = "", **kwargs) -> DataFrame:
        raise NotImplementedError

    def __init_subclass__(cls, **kwargs):
        super().__init_subclass__(**kwargs)
        run_method = cls.run
        # self + spark + url (reference checks self + url, hub.py:30)
        if run_method.__code__.co_argcount < 3:
            raise TypeError(
                f"{cls.__name__} must implement "
                "'run(self, spark, url: str, **kwargs)'"
            )
        # the reference enforces async (hub.py:34); Spark driver code is
        # sync, so the polarity flips
        if inspect.iscoroutinefunction(run_method):
            raise TypeError(f"{cls.__name__}.run must be sync driver code")
        cls.meta = dict(getattr(cls, "__meta__", {}))


class CrawlerHub:
    """Name → crawler-class registry (``hub.py:37-69``)."""

    _crawlers: Dict[str, Type[BaseCrawler]] = {}

    @classmethod
    def _discover_crawlers(cls) -> None:
        # the reference walks crawl4ai/crawlers/* with importlib
        # (hub.py:41-55); the Spark build registers its builtins
        # statically and exposes register() for user packages
        cls._crawlers.setdefault("google_search", GoogleSearchCrawler)
        cls._crawlers.setdefault("amazon_product", AmazonProductCrawler)

    @classmethod
    def register(cls, name: str, crawler: Type[BaseCrawler]) -> None:
        if not (isinstance(crawler, type) and issubclass(crawler, BaseCrawler)):
            raise TypeError(f"{crawler!r} is not a BaseCrawler subclass")
        cls._crawlers[name] = crawler

    @classmethod
    def get(cls, name: str) -> Union[Type[BaseCrawler], None]:
        # unconditional: discovery is idempotent (setdefault), and an
        # early register() must not hide the builtins
        cls._discover_crawlers()
        return cls._crawlers.get(name)


# ---------------------------------------------------------------------------
# Google SERP crawler
# ---------------------------------------------------------------------------

# the reference's LLM query hints (crawler.py:87,106,122), restated as
# structural scoping selectors; #search is Google's stable organic
# container — the other two have no stable public ids, so synthetic /
# recorded pages should carry these (override via section_hints=)
_GOOGLE_SECTION_HINTS = {
    "organic_schema": "#search",
    "top_stories_schema": "#top-stories",
    "suggested_query_schema": "#suggested",
}


class GoogleSearchCrawler(BaseCrawler):
    __meta__ = {
        "version": "1.0.0",
        "tested_on": ["google.com/search*"],
        "rate_limit": "10 RPM",
        "description": "Crawls Google Search results (text + images)",
    }

    def __init__(self, fetcher=None, section_hints: dict | None = None,
                 llm=None):
        super().__init__(fetcher)
        self._section_hints = dict(section_hints or _GOOGLE_SECTION_HINTS)
        self._llm = llm

    # -- URL building (crawler.py:26-30, mirrored exactly incl. quirks:
    #    the query is not URL-encoded and page_start multiplies by 10
    #    before the >1 guard) --------------------------------------------
    @staticmethod
    def build_url(query: str, search_type: str = "text",
                  page_start: int = 1, page_length: int = 1) -> str:
        if search_type == "text":
            url = f"https://www.google.com/search?q={query}&gl=sg&hl=en"
        else:
            url = (f"https://www.google.com/search?q={query}&gl=sg&hl=en"
                   "&tbs=qdr:d&udm=2")
        if page_start > 1:
            url = f"{url}&start={page_start * 10}"
        if page_length > 1:
            url = f"{url}&num={page_length}"
        return url

    # -- schema cache (crawler.py:66-131) --------------------------------
    def _build_schemas(self, html: str,
                       schema_cache_path: str | None) -> dict:
        schema_dir = None
        if schema_cache_path:
            schema_dir = os.path.join(schema_cache_path, "schema")
            os.makedirs(schema_dir, exist_ok=True)
        schemas: dict = {}
        root = parse_dom(html) if html else None
        for key, hint in self._section_hints.items():
            cache_file = (
                os.path.join(schema_dir, f"{key}.json") if schema_dir else None
            )
            if cache_file and os.path.exists(cache_file):
                with open(cache_file, "r") as f:
                    schemas[key] = json.load(f)
                continue
            schema = None
            if root is not None:
                section = select_all(root, hint)
                if section:
                    fragment = outer_html(section[0])
                    if self._llm is not None:
                        # the reference always asks the LLM, feeding it
                        # the shrunken page (crawler.py:72,79-123) —
                        # preprocess is an LLM token-budget step, so it
                        # applies only on this path (it strips href,
                        # which structural inference needs)
                        schema = self._llm(
                            html=preprocess_html_for_schema(fragment),
                            schema_type="CSS", query=hint,
                        )
                    else:
                        schema = generate_schema(
                            fragment, schema_type="CSS", query=hint
                        )
            schemas[key] = schema
            if cache_file and schema is not None:
                with open(cache_file, "w") as f:
                    f.write(json.dumps(schema))
        return schemas

    # -- single-URL mirror of crawler.py:24-64 ----------------------------
    def run(self, spark: SparkSession, url: str = "", query: str = "",
            search_type: str = "text", schema_cache_path: str | None = None,
            **kwargs) -> DataFrame:
        if search_type == "image":
            # crawler.py:47-54 — the image path executes script.js in a
            # live browser; no browser tier here, so return the
            # reference's error-JSON shape instead of raising
            u = url or self.build_url(query, "image")
            err = json.dumps({
                "error": "image search requires the browser JS tier "
                         "(crawlers/google_search/script.js); "
                         "not available in the Spark engine"
            })
            return spark.createDataFrame(
                [(u, err)], "url string, extracted string"
            )
        u = url or self.build_url(
            query, "text",
            kwargs.get("page_start", 1), kwargs.get("page_length", 1),
        )
        urls = spark.createDataFrame([(u,)], "url string")
        return self.run_batch(
            spark, urls, schema_cache_path=schema_cache_path
        )

    # -- Spark-first extension: many SERP pages, one extraction stage ----
    def run_batch(self, spark: SparkSession, urls: DataFrame,
                  schema_cache_path: str | None = None,
                  url_col: str = "url") -> DataFrame:
        """Fetch + extract a whole DataFrame of SERP URLs.

        Schema generation is bounded driver work — ONE successful page
        is sampled (``limit(1)``), mirroring the reference's build-once
        disk cache — then application is a single Arrow-batched stage
        over every page, so the crawler scales with the cluster.
        """
        fetched = fetch_stage(urls, self._fetcher, url_col=url_col)
        # materialize the fetch ONCE: without this, the schema sample
        # below and the extraction stage would each re-run the fetch
        # lineage — double live HTTP traffic against a host this
        # crawler's own meta rates at 10 RPM, and the extracted page
        # could differ from the one the schema was inferred from
        fetched = fetched.localCheckpoint()
        schemas = None
        # non-EMPTY html: a 200 with an empty body yields html='' (not
        # null), and sampling it would silently disable extraction for
        # the whole batch (every schema inferred from '' is None)
        sample = (
            fetched.filter(F.length(F.coalesce("html", F.lit(""))) > 0)
            .select("html").limit(1).collect()
        )
        if sample:
            schemas = self._build_schemas(sample[0][0], schema_cache_path)
        elif schema_cache_path:
            # no page survived the fetch but a warm cache may exist
            schemas = self._build_schemas("", schema_cache_path)
        live = {k: s for k, s in (schemas or {}).items() if s is not None}
        for s in live.values():
            validate_schema(s, "css")  # fail fast, on the driver

        out_ddl = ", ".join(
            f.name + " " + f.dataType.simpleString()
            for f in fetched.schema.fields
        ) + ", extracted string"

        def process(batches):
            for pdf in batches:
                vals = []
                for h, err in zip(pdf["html"], pdf["fetch_error"]):
                    if h is None:
                        # crawler.py:44-45 — failures return error JSON
                        vals.append(json.dumps(
                            {"error": err or "miss"}
                        ))
                    else:
                        vals.append(json.dumps(
                            {k: json_css_extract(h, s)
                             for k, s in live.items()},
                            ensure_ascii=False, sort_keys=True,
                        ))
                out = pdf.copy()
                out["extracted"] = vals
                yield out

        return fetched.mapInPandas(process, schema=out_ddl)


# ---------------------------------------------------------------------------
# Amazon product crawler (the reference ships a stub — crawler.py:10-20
# returns a fixed JSON payload; mirrored honestly, not embellished)
# ---------------------------------------------------------------------------

class AmazonProductCrawler(BaseCrawler):
    __meta__ = {
        "version": "1.2.0",
        "tested_on": ["amazon.com"],
        "rate_limit": "50 RPM",
        "schema": {"product": ["name", "price"]},
    }

    def run(self, spark: SparkSession, url: str = "", **kwargs) -> DataFrame:
        payload = '{"product": {"name": "Test Amazon Product"}}'
        return spark.createDataFrame(
            [(url, payload)], "url string, extracted string"
        )
