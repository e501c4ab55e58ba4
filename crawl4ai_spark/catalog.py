"""Query catalog: every implemented operator exposed as a (spark, sf_dir)
-> DataFrame callable, paired with an ANSI-SQL DuckDB oracle.

This is the correctness surface consumed by ``__spark_entry__.py``. Each
query derives its inputs deterministically from the driver-generated
testdata tables (documents / embeddings / lineitem ...), so the oracle
can either mirror the computation in SQL or compute the expected value
analytically from the same derivation.

Conventions (driver compare = row-count + schema + order-insensitive
value hash, columns sorted by name):
- every computed double is rounded to a fixed precision in BOTH engines;
- column names are aliased identically on both sides;
- queries whose semantics are not SQL-expressible (minhash banding,
  simhash, xxhash64 fingerprints) have no oracle entry -> driver records
  a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.encoding import decode_html, sniff_charset
from .functions.entities import extract_entities

from .functions.text import (
    STOPWORDS,
    doc_fingerprint_portable,
    lang_id,
    quality_score,
    token_count,
)
from .functions.urls import (
    base_domain,
    canonicalize_udf,
    extension,
    host,
    is_external,
    path_depth,
)
from .operators.dedup import (
    exact_dedup,
    line_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from .operators.filters import (
    content_type_filter,
    domain_filter,
    seo_url_quality_score,
    url_pattern_filter,
)
from .operators.scorers import (
    composite_score,
    domain_authority_score,
    freshness_score,
    keyword_relevance_score,
    path_depth_score,
)
from .operators.similarity import cosine, cosine_topk_lsh, dot, l2_norm


def _spread_scan(df: DataFrame, spark: SparkSession, key: str) -> DataFrame:
    """Spread a small single-file scan across the session's cores.

    The test tables are one sub-row-group parquet file each, which
    Spark reads as ONE partition — so every expression-heavy per-doc
    query (quality, classifier, signals, chunkers) ran single-threaded
    regardless of local[N]. A deterministic hash repartition on the id
    column restores the parallelism a production table has natively
    (at 100 TB the scan arrives in thousands of splits and this
    repartition is the no-op AQE coalesces away; here it shuffles a
    few hundred KiB once)."""
    return df.repartition(spark.sparkContext.defaultParallelism, F.col(key))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread_scan(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), spark, "doc_id"
    )


_PAGES_CACHE: dict[str, DataFrame] = {}

# bounded scratch registry for per-query multi-consumer persists
# (distinct from _PAGES_CACHE, which is a keep-forever named corpus
# cache): each _scratch_persist call evicts the previous call's frame —
# eviction is recompute-safe, so a session holds at most one query's
# worth of scratch blocks
_SCRATCH_CACHES: list[DataFrame] = []


def _scratch_persist(df: DataFrame) -> DataFrame:
    while _SCRATCH_CACHES:
        try:
            _SCRATCH_CACHES.pop().unpersist()
        except Exception:
            pass
    df = df.persist()
    _SCRATCH_CACHES.append(df)
    return df


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic rendered pages corpus, persisted once per
    (session, sf_dir). Eleven catalog queries consume the corpus, and
    several consume it in TWO plan branches (scrape + head peek) — an
    uncached handle re-runs the Arrow render UDF per branch per query.
    Production inputs are parquet scans, so this cache only models
    what storage would provide anyway."""

    from .synth import generate_pages

    # applicationId is unique per context; id(spark) could alias a new
    # session allocated at a dead one's address
    key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    df = _PAGES_CACHE.get(key)
    if df is None:
        df = generate_pages(spark, sf_dir).persist()
        _PAGES_CACHE[key] = df
    return df


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread_scan(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), spark, "vec_id"
    )


# ---------------------------------------------------------------------------
# Deterministic derived-URL constructions (Spark Column + SQL fragment pairs)
# ---------------------------------------------------------------------------

def _d():
    return F.col("doc_id")

_SUB_SQL = "CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END"
_TLD_SQL = "CASE WHEN doc_id % 7 = 0 THEN 'co.uk' ELSE 'com' END"
_DIRS_SQL = "repeat('d/', CAST(doc_id % 3 AS INT))"
_NAME_SQL = "'p' || CAST(doc_id % 10 AS VARCHAR)"
_EXT_SQL = (
    "CASE doc_id % 5 WHEN 0 THEN '.html' WHEN 1 THEN '.php' "
    "WHEN 2 THEN '.pdf' WHEN 3 THEN '' ELSE '.jpg' END"
)
_URL1_SQL = (
    f"'https://' || {_SUB_SQL} || source || '.example.' || {_TLD_SQL} || '/' "
    f"|| {_DIRS_SQL} || lang || '/' || {_NAME_SQL} || {_EXT_SQL}"
)


def _sub():
    return F.when(_d() % 3 == 0, F.lit("www.")).otherwise(F.lit(""))


def _tld():
    return F.when(_d() % 7 == 0, F.lit("co.uk")).otherwise(F.lit("com"))


def _name():
    return F.concat(F.lit("p"), (_d() % 10).cast("string"))


def _ext_piece():
    return (
        F.when(_d() % 5 == 0, ".html")
        .when(_d() % 5 == 1, ".php")
        .when(_d() % 5 == 2, ".pdf")
        .when(_d() % 5 == 3, "")
        .otherwise(".jpg")
    )


def _url1() -> F.Column:
    return F.concat(
        F.lit("https://"),
        _sub(),
        F.col("source"),
        F.lit(".example."),
        _tld(),
        F.lit("/"),
        F.expr("repeat('d/', CAST(doc_id % 3 AS INT))"),
        F.col("lang"),
        F.lit("/"),
        _name(),
        _ext_piece(),
    )


_TOKENIZE_SQL = "regexp_split_to_array(text, ' ')"  # corpus is single-spaced a-z


def _sw_hits_sql(lang: str) -> str:
    words = ", ".join(f"''{w}''" for w in STOPWORDS[lang]).replace("''", "'")
    return f"len(list_filter({_TOKENIZE_SQL}, x -> x IN ({words})))"


# ---------------------------------------------------------------------------
# Query callables + oracles
# ---------------------------------------------------------------------------


# The URL scalar layer is checked through three composites so the whole
# catalog fits the driver's 50-entry CORRECTNESS window (r2 verdict):
# url_core = the former url_parts + url_canonicalize entries,
# url_filters = url_pattern_filter + url_content_type_filter +
# url_domain_filter, url_scoring = url_scorers + url_freshness +
# url_seo_quality. Same operators, same oracles — one row each.


def q_url_core(spark, sf_dir):
    """URL decomposition (F12/F13) + canonicalization (F11)."""
    df = _docs(spark, sf_dir).withColumn("url", _url1())
    href = F.concat(
        F.lit("/A B/"),
        _name(),
        F.lit("/?b=2&a=1&utm_source=x"),
        F.when(_d() % 2 == 0, "&fbclid=zz").otherwise(""),
        F.lit("#frag"),
    )
    base = F.concat(F.lit("https://"), _sub(), F.col("source"), F.lit(".Example.com/base/x"))
    return df.select(
        "doc_id",
        "url",
        host("url").alias("host"),
        base_domain("url").alias("bdom"),
        path_depth("url").alias("depth"),
        extension("url").alias("ext"),
        is_external("url", F.lit("example.com")).alias("is_ext"),
        canonicalize_udf(href, base).alias("canon_url"),
    )


ORACLE_URL_CORE = f"""
SELECT doc_id,
       {_URL1_SQL} AS url,
       {_SUB_SQL} || source || '.example.' || {_TLD_SQL} AS host,
       CASE WHEN doc_id % 7 = 0 THEN 'example.co.uk' ELSE 'example.com' END AS bdom,
       CAST(doc_id % 3 + 2 AS INT) AS depth,
       CASE doc_id % 5 WHEN 0 THEN 'html' WHEN 1 THEN 'php'
            WHEN 2 THEN 'pdf' WHEN 3 THEN '' ELSE 'jpg' END AS ext,
       doc_id % 7 = 0 AS is_ext,
       'https://' || {_SUB_SQL} || source || '.example.com/A%20B/' || {_NAME_SQL}
        || '?a=1&b=2' AS canon_url
FROM documents
"""


def q_url_filters(spark, sf_dir):
    """URLPatternFilter (F2) + ContentTypeFilter (F3) + DomainFilter (F4)."""
    df = _docs(spark, sf_dir).withColumn("url", _url1())
    return df.select(
        "doc_id",
        url_pattern_filter("url", ["*.html"]).alias("f_html"),
        url_pattern_filter("url", ["^https://www\\."]).alias("f_www"),
        url_pattern_filter("url", ["*.html"], reverse=True).alias("f_not_html"),
        content_type_filter("url", ["text"]).alias("f_text"),
        content_type_filter("url", ["image"]).alias("f_image"),
        domain_filter(
            "url", allowed_domains=["example.com"], blocked_domains=["src0.example.com"]
        ).alias("f_dom"),
    )


ORACLE_URL_FILTERS = """
SELECT doc_id,
       doc_id % 5 = 0 AS f_html,
       doc_id % 3 = 0 AS f_www,
       doc_id % 5 <> 0 AS f_not_html,
       doc_id % 5 IN (0, 3) AS f_text,
       doc_id % 5 IN (3, 4) AS f_image,
       (doc_id % 7 <> 0) AND source <> 'src0' AS f_dom
FROM documents
"""


def q_url_scoring(spark, sf_dir):
    """Keyword/depth/authority/composite scorers + freshness + SEO-URL
    quality (the reference's url scorer suite)."""
    df = _docs(spark, sf_dir).withColumn("url", _url1())
    kw = keyword_relevance_score("url", ["www", "html", "pdf"])
    pd_ = path_depth_score("url", optimal_depth=3)
    auth = domain_authority_score("url", {"src1.example.com": 0.9}, default_weight=0.5)
    comp = composite_score([kw, pd_, auth])
    url2 = F.concat(
        F.lit("https://news.example.com/blog/"),
        (F.lit(2018) + _d() % 9).cast("string"),
        F.lit("/"),
        _name(),
    )
    url3 = F.concat(
        F.lit("https://example.com/section"),
        F.when(_d() % 2 == 0, "_sub").otherwise(""),
        F.lit("/item"),
        F.when(_d() % 3 == 0, "2021").otherwise(""),
        F.when(_d() % 5 == 0, F.expr("repeat('/padpad', 20)")).otherwise(F.lit("")),
        F.when(_d() % 4 == 0, "?id=9").otherwise(""),
    )
    return df.select(
        "doc_id",
        F.round(kw, 6).alias("kw_score"),
        F.round(pd_, 6).alias("pd_score"),
        F.round(auth, 6).alias("auth_score"),
        F.round(comp, 6).alias("comp_score"),
        F.round(freshness_score(url2, current_year=2024), 6).alias("fresh_score"),
        F.round(seo_url_quality_score(url3), 6).alias("seo_score"),
    )


ORACLE_URL_SCORING = """
WITH raw AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
     + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
     + CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END) / 3.0 * 1.0 AS kw,
    CASE abs(doc_id % 3 + 2 - 3) WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 END * 1.0 AS pd,
    CASE WHEN source = 'src1' AND doc_id % 3 <> 0 AND doc_id % 7 <> 0
         THEN 0.9 ELSE 0.5 END * 1.0 AS auth
  FROM documents)
SELECT doc_id,
       round(kw, 6) AS kw_score,
       round(pd, 6) AS pd_score,
       round(auth, 6) AS auth_score,
       round((kw + pd + auth) / 3.0, 6) AS comp_score,
       CASE doc_id % 9
         WHEN 0 THEN 0.4 WHEN 1 THEN 0.5 WHEN 2 THEN 0.6 WHEN 3 THEN 0.7
         WHEN 4 THEN 0.8 WHEN 5 THEN 0.9 WHEN 6 THEN 1.0 ELSE 0.5
       END AS fresh_score,
       round(1.0
         * CASE WHEN doc_id % 5 = 0 THEN 0.7 ELSE 1.0 END
         * CASE WHEN doc_id % 3 = 0 THEN 0.8 ELSE 1.0 END
         * CASE WHEN doc_id % 4 = 0 THEN 0.6 ELSE 1.0 END
         * CASE WHEN doc_id % 2 = 0 THEN 0.9 ELSE 1.0 END, 6) AS seo_score
FROM raw
"""


def q_entities_extract(spark, sf_dir):
    df = _docs(spark, sf_dir).withColumn(
        "synth",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            _d().cast("string"),
            F.lit("@example.com pay $12.50 or 15% due 2024-03-1"),
            (_d() % 10).cast("string"),
        ),
    )
    ext = extract_entities(
        df, "synth", labels=["email", "currency", "percentage", "date_iso"], id_cols=["doc_id"]
    )
    # PII scrub (functions/entities.py redact_pii) on the same synth
    # column: the email becomes <EMAIL>; the ISO date is a
    # phone_intl-shaped digit run, demonstrating the documented
    # overlap-order caveat (counts audit runs on the original text)
    from .functions.entities import redact_pii

    red = df.select(
        "doc_id",
        F.lit("pii_redacted").alias("label"),
        redact_pii(F.col("synth")).alias("value"),
    )
    return ext.unionByName(red)


ORACLE_ENTITIES_EXTRACT = """
SELECT doc_id, 'email' AS label,
       'user' || CAST(doc_id AS VARCHAR) || '@example.com' AS value FROM documents
UNION ALL
SELECT doc_id, 'currency', '$12.50' FROM documents
UNION ALL
SELECT doc_id, 'percentage', '15%' FROM documents
UNION ALL
SELECT doc_id, 'date_iso', '2024-03-1' || CAST(doc_id % 10 AS VARCHAR) FROM documents
UNION ALL
SELECT doc_id, 'pii_redacted',
       text || ' contact <EMAIL> pay $12.50 or 15% due <PHONE_INTL>'
FROM documents
"""


def _oracle_lang_id() -> str:
    hits = {lg: _sw_hits_sql(lg) for lg in STOPWORDS}
    best = "greatest(" + ", ".join(f"h_{lg}" for lg in STOPWORDS) + ")"
    cases = " ".join(
        f"WHEN h_{lg} > 0 AND h_{lg} = {best} THEN '{lg}'" for lg in STOPWORDS
    )
    hit_cols = ", ".join(f"{expr} AS h_{lg}" for lg, expr in hits.items())
    return f"""
WITH h AS (SELECT doc_id, {hit_cols} FROM documents)
SELECT doc_id, CASE {cases} ELSE 'und' END AS detected_lang FROM h
"""


ORACLE_TEXT_TOKEN_COUNT = f"""
SELECT doc_id, CAST(len({_TOKENIZE_SQL}) AS INT) AS n_tokens FROM documents
"""


ORACLE_TEXT_BPE_COUNT_FWD = """
WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(text, ' ')) AS wd
           FROM documents)
SELECT doc_id, CAST(sum(ceil(length(wd) / 6.0)) AS BIGINT) AS n_bpe
FROM w GROUP BY doc_id
"""


def q_text_signals(spark, sf_dir):
    """Per-document scalar signals in one row: detected language,
    token count, BPE-ish subword count, REAL trained-BPE token count,
    min-shingle fingerprint. Merges the former text_lang_id /
    text_token_count / text_fingerprint / text_bpe_count gate entries
    (identical per-doc shape) to free correctness-window slots; each
    signal keeps its own unit tests.

    r4 widening: ``bpe_real_n`` runs the full operators/bpe.py pipeline
    — distributed word-frequency training (train_bpe over the corpus'
    DISTINCT words, each count 1, which makes the learned merge list a
    pure function of the vocabulary SET and therefore identical at
    every scale factor) followed by the broadcast-ranks mapInPandas
    encode of every document. The oracle replays the encode as a
    rank-ordered chain of left-to-right string replaces over
    '#'-wrapped symbol strings (sequential merge application — provably
    equivalent to lowest-rank-first inference for genuinely-trained
    merge lists, pinned per-word by tests/test_bpe.py) using the baked
    ``_BPE_MERGES`` constant, which tests/test_bpe.py re-derives from
    every sf dir."""
    from .functions.text import (
        blocklist_hits,
        bpe_ish_token_count,
        gopher_quality_flags,
        winnow_fingerprints,
    )
    from .operators.bpe import bpe_token_count, train_bpe

    docs = _docs(spark, sf_dir)
    train_words = (
        docs.select(F.explode(F.split("text", " ")).alias("text"))
        .filter(F.length("text") > 0)
        .distinct()
    )
    merges = train_bpe(
        train_words, text_col="text", num_merges=24, min_pair_count=2
    )
    enc = bpe_token_count(docs, merges)
    g = gopher_quality_flags("text")
    wf = F.array_sort(winnow_fingerprints("text", k=3, w=4))
    return enc.select(
        "doc_id",
        lang_id("text").alias("detected_lang"),
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe"),
        F.col("bpe_n_tokens").alias("bpe_real_n"),
        doc_fingerprint_portable("text").alias("fp"),
        blocklist_hits("text", ("slow", "big", "bogusword")).alias(
            "blocklist_hits"
        ),
        g["mean_word_len_e2"].alias("mean_word_len_e2"),
        g["alpha_word_frac_e6"].alias("alpha_word_frac_e6"),
        g["gopher_keep"].alias("gopher_keep"),
        # winnowing (Schleimer et al. 2003): the full sorted fingerprint
        # set rides along as one string so the hash compare pins every
        # selected window minimum, not just a count
        F.size(wf).cast("int").alias("n_winnow"),
        F.array_join(wf, ",").alias("winnow_fps"),
    )


# The merge list train_bpe learns from the corpus' distinct-word
# vocabulary (count=1 each; num_merges=24, min_pair_count=2 — training
# exhausts at 20). Baked here so the DuckDB oracle can replay the
# encode; tests/test_bpe.py::test_catalog_merges_match_every_sf
# re-derives it from each sf dir and fails if the testdata vocabulary
# ever drifts.
_BPE_MERGES = [
    ("e", "</w>"), ("e", "r"), ("er", "</w>"), ("i", "n"), ("o", "r"),
    ("o", "w"), ("ow", "</w>"), ("s", "t"), ("a", "</w>"), ("a", "l"),
    ("a", "r"), ("a", "t"), ("g", "</w>"), ("h", "</w>"), ("n", "</w>"),
    ("p", "</w>"), ("p", "ar"), ("t", "</w>"), ("u", "p</w>"),
    ("y", "</w>"),
]


def _oracle_bpe_counts() -> str:
    """Per-doc real-BPE token counts: wrap each distinct word's symbols
    as '#sym##sym#...#', apply the merges in rank order as left-to-right
    non-overlapping string replaces, count symbols as (#-count)/2, then
    sum per document."""
    expr = "'#' || array_to_string(list_append(string_split(w, ''), '</w>'), '##') || '#'"
    for a, b in _BPE_MERGES:
        pat = f"#{a}##{b}#".replace("'", "''")
        rep = f"#{a}{b}#".replace("'", "''")
        expr = f"replace({expr}, '{pat}', '{rep}')"
    return f"""
WITH bw AS (SELECT DISTINCT w FROM
              (SELECT unnest({_TOKENIZE_SQL}) AS w FROM documents)
            WHERE w <> ''),
be AS (SELECT w, {expr} AS e FROM bw),
bn AS (SELECT w, (length(e) - length(replace(e, '#', ''))) // 2 AS n FROM be),
dw AS (SELECT doc_id, unnest({_TOKENIZE_SQL}) AS w FROM documents),
ds AS (SELECT dw.doc_id, sum(bn.n) AS s FROM dw JOIN bn USING (w)
       GROUP BY dw.doc_id)
SELECT d.doc_id, CAST(coalesce(ds.s, 0) AS BIGINT) AS bpe_real_n
FROM documents d LEFT JOIN ds ON ds.doc_id = d.doc_id
"""


_ORACLE_GOPHER_SIGNALS = f"""
WITH gw AS (SELECT doc_id, {_TOKENIZE_SQL} AS ws FROM documents),
gs AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n,
              CAST(len(list_filter(ws, w -> w IN ('slow', 'big', 'bogusword')))
                   AS BIGINT) AS bl,
              CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)
                AS tc,
              CAST(len(list_filter(ws, w -> regexp_matches(w, '(?i)[a-z]')))
                   AS BIGINT) AS al
       FROM gw)
SELECT doc_id, bl AS blocklist_hits,
       CAST(CASE WHEN n > 0 THEN (100 * tc) // n ELSE 0 END AS BIGINT)
         AS mean_word_len_e2,
       CAST(CASE WHEN n > 0 THEN (1000000 * al) // n ELSE 0 END AS BIGINT)
         AS alpha_word_frac_e6,
       CAST((n BETWEEN 50 AND 100000)
            AND ((CASE WHEN n > 0 THEN (100 * tc) // n ELSE 0 END)
                 BETWEEN 300 AND 1000)
            AND ((CASE WHEN n > 0 THEN (1000000 * al) // n ELSE 0 END)
                 >= 800000) AS INT) AS gopher_keep
FROM gs
"""


ORACLE_TEXT_WINNOW = """
WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS ws
           FROM documents),
h AS (SELECT doc_id,
             list_transform(generate_series(1, len(ws) - 2),
               i -> substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
                           1, 16)) AS hs
      FROM w),
wn AS (SELECT doc_id,
              list_sort(list_distinct(list_transform(
                generate_series(1, greatest(len(hs) - 3, 1)),
                j -> list_aggregate(hs[j:j+3], 'min')))) AS fps
       FROM h)
SELECT doc_id, CAST(len(fps) AS INT) AS n_winnow,
       array_to_string(fps, ',') AS winnow_fps
FROM wn
"""


def _oracle_text_signals() -> str:
    return f"""
SELECT l.doc_id, l.detected_lang, t.n_tokens, b.n_bpe, r.bpe_real_n, f.fp,
       g.blocklist_hits, g.mean_word_len_e2, g.alpha_word_frac_e6,
       g.gopher_keep, v.n_winnow, v.winnow_fps
FROM ({_oracle_lang_id()}) l
JOIN ({ORACLE_TEXT_TOKEN_COUNT}) t ON t.doc_id = l.doc_id
JOIN ({ORACLE_TEXT_BPE_COUNT_FWD}) b ON b.doc_id = l.doc_id
JOIN ({_oracle_bpe_counts()}) r ON r.doc_id = l.doc_id
JOIN ({ORACLE_TEXT_FINGERPRINT}) f ON f.doc_id = l.doc_id
JOIN ({_ORACLE_GOPHER_SIGNALS}) g ON g.doc_id = l.doc_id
JOIN ({ORACLE_TEXT_WINNOW}) v ON v.doc_id = l.doc_id
"""


def q_text_quality(spark, sf_dir):
    """Quality score + Gopher-style repetition metrics, one row/doc.

    Repetition comes from the Arrow-batched struct kernel
    (functions/repetition.py repetition_struct): still row-local and
    shuffle-free, but O(G) hash counting instead of the pure-Column
    form's O(G·D) nested array lambdas (44x at sf0.1; both forms are
    parity-pinned in tests/test_repetition.py)."""
    from .functions.repetition import _METRIC_FIELDS, repetition_struct

    rep = repetition_struct(F.col("text"))
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.round(quality_score("text"), 6).alias("q_score"),
            rep.alias("_r"),
        )
        .select("doc_id", "q_score", *[f"_r.{f}" for f in _METRIC_FIELDS])
    )


def _oracle_quality() -> str:
    sw_sum = " + ".join(_sw_hits_sql(lg) for lg in STOPWORDS)
    gram_ctes, top_cols, dup_cols, joins = [], [], [], []
    for n in (2, 3, 4):
        gram_ctes.append(f""",
g{n} AS MATERIALIZED (
  SELECT doc_id, array_to_string(ws[(t.i+1):(t.i+{n})], ' ') AS gm
  FROM w, unnest(generate_series(0, len(ws) - {n})) t(i)
  WHERE len(ws) >= {n}),
top{n} AS (
  SELECT doc_id, c, gm FROM (
    SELECT doc_id, gm, count(*) AS c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, gm ASC) AS rn
    FROM g{n} GROUP BY doc_id, gm) WHERE rn = 1)""")
        top_cols.append(
            f"CAST(CASE WHEN w.tc > 0 AND coalesce(top{n}.c, 0) > 0"
            f" THEN least((1000000 * top{n}.c * length(top{n}.gm)) // w.tc,"
            f" 1000000) ELSE 0 END AS BIGINT) AS top{n}gram_char_frac_e6"
        )
        joins.append(f"LEFT JOIN top{n} ON top{n}.doc_id = w.doc_id")
    for n in (5, 10):
        gram_ctes.append(f""",
gg{n} AS MATERIALIZED (
  SELECT doc_id, array_to_string(ws[(t.i+1):(t.i+{n})], ' ') AS gm
  FROM w, unnest(generate_series(0, len(ws) - {n})) t(i)
  WHERE len(ws) >= {n}),
d{n} AS (
  SELECT doc_id, count(*) AS g, count(DISTINCT gm) AS gd
  FROM gg{n} GROUP BY doc_id)""")
        dup_cols.append(
            f"CAST(CASE WHEN coalesce(d{n}.g, 0) > 0"
            f" THEN (1000000 * (d{n}.g - d{n}.gd)) // d{n}.g"
            f" ELSE 0 END AS BIGINT) AS dup{n}gram_frac_e6"
        )
        joins.append(f"LEFT JOIN d{n} ON d{n}.doc_id = w.doc_id")
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_TOKENIZE_SQL}) AS DOUBLE) AS n,
         CAST(length(replace(text, ' ', '')) AS DOUBLE) AS chars,
         CAST({sw_sum} AS DOUBLE) AS sw
  FROM documents),
parts AS (
  SELECT doc_id,
         least(n / 50.0, 1.0) AS ls,
         CASE WHEN chars / n >= 3.0 AND chars / n <= 10.0 THEN 1.0 ELSE 0.3 END AS wls,
         least((chars / chars) / 0.8, 1.0) AS als,
         CASE WHEN sw / n >= 0.05 THEN 1.0 ELSE (sw / n) / 0.05 END AS sws,
         1.0 AS cs
  FROM base),
w AS MATERIALIZED (
  SELECT doc_id, {_TOKENIZE_SQL} AS ws, length(text) AS tc FROM documents),
lines AS MATERIALIZED (
  SELECT doc_id,
         array_to_string(ws[(t.i*10+1):(t.i*10+10)], ' ') AS line
  FROM w, unnest(generate_series(0, CAST(ceil(len(ws)/10.0) AS BIGINT) - 1)) t(i)
  WHERE len(ws) > 0),
ls AS (
  SELECT doc_id, count(*) AS nl, count(DISTINCT line) AS nld,
         CAST(sum(length(line)) AS BIGINT) AS totc
  FROM lines GROUP BY doc_id),
lsd AS (
  SELECT doc_id, CAST(sum(length(line)) AS BIGINT) AS distc
  FROM (SELECT DISTINCT doc_id, line FROM lines) GROUP BY doc_id){"".join(gram_ctes)}
SELECT p.doc_id, round((ls_ + wls + als + sws + cs) / 5.0, 6) AS q_score,
  CAST(CASE WHEN coalesce(ls.nl, 0) > 0
       THEN (1000000 * (ls.nl - ls.nld)) // ls.nl ELSE 0 END AS BIGINT)
    AS dup_line_frac_e6,
  CAST(CASE WHEN coalesce(ls.totc, 0) > 0
       THEN (1000000 * (ls.totc - lsd.distc)) // ls.totc ELSE 0 END AS BIGINT)
    AS dup_line_char_frac_e6,
  {", ".join(top_cols)},
  {", ".join(dup_cols)}
FROM (SELECT doc_id, ls AS ls_, wls, als, sws, cs FROM parts) p
JOIN w ON w.doc_id = p.doc_id
LEFT JOIN ls ON ls.doc_id = p.doc_id
LEFT JOIN lsd ON lsd.doc_id = p.doc_id
{" ".join(joins)}
"""


def q_dedup_exact(spark, sf_dir):
    """Doc-level exact dedup (first-seen content hash) + CCNet
    line-level boilerplate removal (operators/dedup.py line_dedup) +
    exact-substring dedup (substring_dedup, Lee et al. 2022 ExactSubstr
    at k=5) as ONE tagged gate row, schemas unified on
    (strategy, doc_id, kept_lines, removed_lines, h). The line and
    substring tiers run the real xxhash64-keyed scale path; the oracle
    groups on the line / k-gram string itself (equal by construction
    absent 64-bit hash collisions, which the gate corpus cannot hit)."""
    from .operators.dedup import substring_dedup

    df = _docs(spark, sf_dir).select("doc_id", "text")
    dup = df.withColumn("doc_id", _d() + 100000)
    docs = exact_dedup(df.unionByName(dup), "text", "doc_id").select(
        F.lit("doc").alias("strategy"),
        "doc_id",
        F.lit(0).cast("long").alias("kept_lines"),
        F.lit(0).cast("long").alias("removed_lines"),
        F.lit("").alias("h"),
    )
    ln = line_dedup(df, "text", "doc_id", min_dup=2, line_len=10).select(
        F.lit("line").alias("strategy"),
        "doc_id",
        "kept_lines",
        "removed_lines",
        F.md5(F.col("text")).alias("h"),
    )
    ss = substring_dedup(df, "text", "doc_id", k=5, min_dup=2).select(
        F.lit("substr").alias("strategy"),
        "doc_id",
        F.col("kept_tokens").alias("kept_lines"),
        F.col("removed_tokens").alias("removed_lines"),
        F.md5(F.col("text")).alias("h"),
    )
    return docs.unionByName(ln).unionByName(ss)


ORACLE_DEDUP_EXACT = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents),
r AS (
  SELECT doc_id, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
  FROM u),
w AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS ws FROM documents),
lines AS (
  SELECT doc_id, t.i AS idx,
         array_to_string(ws[(t.i*10+1):(t.i*10+10)], ' ') AS line
  FROM w, unnest(generate_series(0, CAST(ceil(len(ws)/10.0) AS BIGINT) - 1)) t(i)
  WHERE len(ws) > 0),
c AS (SELECT line, count(*) AS n FROM lines GROUP BY line),
j AS (SELECT l.doc_id, l.idx, l.line, (c.n >= 2) AS dup
      FROM lines l JOIN c USING (line)),
a AS (SELECT doc_id,
             count(*) FILTER (WHERE NOT dup) AS kept_lines,
             count(*) FILTER (WHERE dup) AS removed_lines,
             string_agg(CASE WHEN NOT dup THEN line END, ' ' ORDER BY idx) AS txt
      FROM j GROUP BY doc_id),
sg AS (SELECT doc_id, p, array_to_string(ws[p:p+4], ' ') AS g
       FROM (SELECT doc_id, ws,
                    unnest(generate_series(1, len(ws) - 4)) AS p FROM w)),
sdup AS (SELECT g FROM sg GROUP BY g HAVING count(*) >= 2),
sdp AS (SELECT doc_id, p FROM sg JOIN sdup USING (g)),
stok AS (SELECT doc_id, unnest(ws) AS t,
                unnest(generate_series(1, len(ws))) AS i FROM w),
sfl AS (SELECT s.doc_id, s.i, s.t,
               max(CASE WHEN d.p IS NULL THEN 0 ELSE 1 END)
                 OVER (PARTITION BY s.doc_id ORDER BY s.i
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS rm
        FROM stok s LEFT JOIN sdp d ON d.doc_id = s.doc_id AND d.p = s.i),
sa AS (SELECT doc_id,
              count(*) FILTER (WHERE rm = 0) AS kept,
              count(*) FILTER (WHERE rm = 1) AS removed,
              coalesce(string_agg(CASE WHEN rm = 0 THEN t END,
                                  ' ' ORDER BY i), '') AS txt
       FROM sfl GROUP BY doc_id)
SELECT 'doc' AS strategy, doc_id, CAST(0 AS BIGINT) AS kept_lines,
       CAST(0 AS BIGINT) AS removed_lines, '' AS h
FROM r WHERE rn = 1
UNION ALL
SELECT 'line' AS strategy, d.doc_id,
       CAST(coalesce(a.kept_lines, 0) AS BIGINT) AS kept_lines,
       CAST(coalesce(a.removed_lines, 0) AS BIGINT) AS removed_lines,
       md5(coalesce(a.txt, '')) AS h
FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id
UNION ALL
SELECT 'substr' AS strategy, doc_id,
       CAST(kept AS BIGINT) AS kept_lines,
       CAST(removed AS BIGINT) AS removed_lines,
       md5(txt) AS h
FROM sa
"""


def q_politeness_budget(spark, sf_dir):
    df = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    budget = F.when(F.length("source") <= 4, 3).otherwise(5)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= budget)
        .select("doc_id", "source")
    )


ORACLE_POLITENESS_BUDGET = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents)
WHERE rn <= CASE WHEN length(source) <= 4 THEN 3 ELSE 5 END
"""


def q_topk_capacity(spark, sf_dir):
    df = _docs(spark, sf_dir).withColumn("score", (_d() * F.lit(2654435761)) % 1000000)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 100)
        .select("doc_id", "score")
    )


ORACLE_TOPK_CAPACITY = """
SELECT doc_id, score FROM (
  SELECT doc_id, (doc_id * 2654435761) % 1000000 AS score,
         row_number() OVER (ORDER BY (doc_id * 2654435761) % 1000000 DESC, doc_id) AS rn
  FROM documents)
WHERE rn <= 100
"""


def q_term_stats(spark, sf_dir):
    """Corpus term stats + BOTH tokenizer tiers' train-order and
    encode bytes (operators/bpe.py + operators/unigram.py), one tagged
    union (r4 verdict item 6: the tokenizer paths were pytest-only;
    r5 folds the unigram-LM tiers the same way — see the inline
    uni_* comments below).

    kind='term': the original tf/df rows.

    kind='bpe_merge': train_bpe over a deterministic worked corpus —
    doc d contributes the word 'ab'*(1+d%3) repeated (3-d%3) times —
    whose three merges are strictly ordered at ANY corpus size
    (weighted pair counts: (a,b)=3n0+4n1+3n2 dominates, then
    (ab,</w>)=3n0+2n1+n2 > (ab,ab)=2n1+2n2 because 3n0 > n2, then
    (ab,ab</w>)=2n1+n2 > (ab,ab)=n2). The oracle pins the merge order
    as literals; tf carries the rank.

    kind='bpe_encode_count': every real doc's token count when encoded
    with merge (a,b) alone — per word: len+1 symbols (the </w> marker)
    minus the non-overlapping 'ab' occurrences, which SQL mirrors with
    a replace() length diff over the single-spaced corpus text.

    kind='bpe_encode_tokens': five worked words encoded with ALL three
    merges, the full '|'-joined token bytes as literals — pins greedy
    lowest-rank-first application (e.g. 'ababab' -> ab|abab</w>:
    merge2 beats merge3 at the word end before merge3 fuses the rest).
    """
    from .operators.bpe import bpe_encode_stage, train_bpe

    df = _docs(spark, sf_dir)
    terms = df.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    base = terms.groupBy("term").agg(
        F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df")
    ).select(F.lit("term").alias("kind"), "term", "tf", "df")

    word = F.repeat(F.lit("ab"), (_d() % 3 + 1).cast("int"))
    reps = (F.lit(3) - _d() % 3).cast("int")
    synth = df.select(
        F.array_join(
            F.array_repeat(word, reps), " "
        ).alias("text")
    )
    # both tokenizer tiers train over the same worked corpus: share
    # ONE persisted (word, count) pass between them instead of two
    # independent corpus scans
    from .operators.bpe import word_frequencies

    synth_wf = word_frequencies(synth, "text").persist()
    merges = train_bpe(
        synth, "text", num_merges=3, min_pair_count=2, word_freqs=synth_wf
    )
    merge_rows = spark.createDataFrame(
        [("bpe_merge", f"{a}+{b}", i, 0) for i, (a, b) in enumerate(merges)],
        "kind string, term string, tf long, df long",
    )

    enc1 = bpe_encode_stage(
        df.select("doc_id", "text"), merges[:1]
    ).select(
        F.lit("bpe_encode_count").alias("kind"),
        F.col("doc_id").cast("string").alias("term"),
        F.size("bpe_tokens").cast("long").alias("tf"),
        F.lit(0).cast("long").alias("df"),
    )

    words5 = spark.createDataFrame(
        [(w,) for w in ("ab", "abab", "ababab", "aab", "abba")],
        "text string",
    )
    enc3 = bpe_encode_stage(words5, merges).select(
        F.lit("bpe_encode_tokens").alias("kind"),
        F.concat(
            F.col("text"), F.lit("="), F.array_join("bpe_tokens", "|")
        ).alias("term"),
        F.size("bpe_tokens").cast("long").alias("tf"),
        F.lit(0).cast("long").alias("df"),
    )

    # r5: the unigram-LM tokenizer (operators/unigram.py), previously
    # pytest-only, folded in the same three-tier shape as BPE.
    #
    # kind='uni_piece': train_unigram over the SAME worked corpus the
    # BPE rows use. The hard-EM fixed point is {a, b, ab, abab} at any
    # corpus size >= 11 docs: seeding keeps every substring, the first
    # E-step's Viterbi assigns whole words to their longest piece
    # ('ab'->ab, 'abab'->abab, 'ababab'->abab+ab by the longer-final
    # tie-break), so ba/aba/bab/baba get count 0 and fall out, and the
    # cost order is ab < abab (3*n0+n2 > 2*n1+n2 needs 3*floor(n/3) >
    # 2*ceil(n/3)+2, i.e. n >= 11) < a = b (EM count 1 floor; a before
    # b by the piece-asc tie). tf carries the rank; pinned empirically
    # at n = 11 / 100 / 500 and re-derived at the n>=11 boundary by
    # tests/test_unigram.py::test_catalog_uni_piece_fixed_point_boundary.
    #
    # kind='uni_encode_count': every real doc's Viterbi token count
    # under the fixed vocab {26 chars @ 1.0M micro-nats, 'ab' @ 1.5M}.
    # Since cost('ab') < 2*cost(char), every optimal segmentation uses
    # the MAXIMUM number of disjoint 'ab' occurrences k, and the count
    # is n_chars - k; SQL mirrors k with the same replace() length
    # diff the BPE count row uses (greedy leftmost non-rescanning =
    # maximum disjoint matches for a length-2 pattern).
    #
    # kind='uni_encode_tokens': worked words under {a,b,c @ 1.0M,
    # 'ab' @ 1.5M} with the full '|'-joined segmentation as literals —
    # pins min-cost DP ('abab' -> ab|ab, never a|b|a|b), the
    # longer-final-piece tie ('ababab' -> ab|ab|ab) and the UNK
    # single-char fallback ('axb' -> a|x|b with x outside the vocab).
    from .operators.unigram import train_unigram, unigram_token_count

    uni_costs = train_unigram(
        synth, "text", vocab_size=4, seed_size=16, iters=2,
        max_piece_len=4, word_freqs=synth_wf,
    )
    synth_wf.unpersist()
    uni_rank = sorted(uni_costs.items(), key=lambda kv: (kv[1], kv[0]))
    uni_piece = spark.createDataFrame(
        [("uni_piece", p, i, 0) for i, (p, _) in enumerate(uni_rank)],
        "kind string, term string, tf long, df long",
    )

    fixed = {c: 1_000_000 for c in "abcdefghijklmnopqrstuvwxyz"}
    fixed["ab"] = 1_500_000
    uni1 = unigram_token_count(df.select("doc_id", "text"), fixed).select(
        F.lit("uni_encode_count").alias("kind"),
        F.col("doc_id").cast("string").alias("term"),
        F.col("unigram_n_tokens").alias("tf"),
        F.lit(0).cast("long").alias("df"),
    )

    abc = {"a": 1_000_000, "b": 1_000_000, "c": 1_000_000, "ab": 1_500_000}
    words6 = spark.createDataFrame(
        [(w,) for w in ("abab", "ababab", "aba", "aab", "axb", "cab")],
        "text string",
    )
    from .operators.unigram import unigram_encode_stage

    uni3 = unigram_encode_stage(words6, abc).select(
        F.lit("uni_encode_tokens").alias("kind"),
        F.concat(
            F.col("text"), F.lit("="), F.array_join("unigram_tokens", "|")
        ).alias("term"),
        F.size("unigram_tokens").cast("long").alias("tf"),
        F.lit(0).cast("long").alias("df"),
    )

    return (
        base.unionByName(merge_rows)
        .unionByName(enc1)
        .unionByName(enc3)
        .unionByName(uni_piece)
        .unionByName(uni1)
        .unionByName(uni3)
    )


ORACLE_TERM_STATS = f"""
SELECT 'term' AS kind, term, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest({_TOKENIZE_SQL}) AS term FROM documents)
GROUP BY term
UNION ALL
SELECT 'bpe_merge', m.term, m.tf, 0
FROM (VALUES ('a+b', 0), ('ab+</w>', 1), ('ab+ab</w>', 2)) m(term, tf)
UNION ALL
SELECT 'bpe_encode_count', CAST(doc_id AS VARCHAR),
       length(replace(text, ' ', ''))
         + (length(text) - length(replace(text, ' ', '')) + 1)
         - (length(text) - length(replace(text, 'ab', ''))) // 2,
       0
FROM documents
UNION ALL
SELECT 'bpe_encode_tokens', e.term, e.tf, 0
FROM (VALUES ('ab=ab</w>', 1), ('abab=abab</w>', 1),
             ('ababab=ab|abab</w>', 2), ('aab=a|ab</w>', 2),
             ('abba=ab|b|a|</w>', 4)) e(term, tf)
UNION ALL
SELECT 'uni_piece', p.term, p.tf, 0
FROM (VALUES ('ab', 0), ('abab', 1), ('a', 2), ('b', 3)) p(term, tf)
UNION ALL
SELECT 'uni_encode_count', CAST(doc_id AS VARCHAR),
       length(replace(text, ' ', ''))
         - (length(text) - length(replace(text, 'ab', ''))) // 2,
       0
FROM documents
UNION ALL
SELECT 'uni_encode_tokens', u.term, u.tf, 0
FROM (VALUES ('abab=ab|ab', 2), ('ababab=ab|ab|ab', 3),
             ('aba=ab|a', 2), ('aab=a|ab', 2),
             ('axb=a|x|b', 3), ('cab=c|ab', 2)) u(term, tf)
"""


def q_round_saturation(spark, sf_dir):
    """Per-round saturation lag + host-level quality priors
    (operators/hostprior.py) as one long-format gate row
    (metric, key, v1, v2): round token totals with their lag, per-host
    doc counts and integer mean token counts, the host keep decision
    (>=3 docs AND mean >= 52 tokens), and the decision joined back to
    a doc_id%7 sample of documents through ``apply_host_prior``."""
    from .operators.hostprior import apply_host_prior, host_prior_stats

    df = _docs(spark, sf_dir).withColumn("round", _d() % 5)
    per_round = df.groupBy("round").agg(
        F.sum(token_count("text")).alias("total_tokens")
    )
    w = Window.orderBy("round")
    rounds = per_round.select(
        F.lit("round_tokens").alias("metric"),
        F.col("round").cast("string").alias("key"),
        F.col("total_tokens").cast("long").alias("v1"),
        F.coalesce(F.lag("total_tokens").over(w), F.lit(-1))
        .cast("long")
        .alias("v2"),
    )
    docs = _docs(spark, sf_dir)
    stats = host_prior_stats(docs, "source", token_count("text"))
    # both host-row kinds from ONE stats computation (explode of a
    # 2-struct array) — separate selects would re-run the aggregation
    # once per union branch
    hpk = stats.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("host_prior").alias("metric"),
                    F.col("source").alias("key"),
                    F.col("n_docs").alias("v1"),
                    F.col("metric_mean").alias("v2"),
                ),
                F.struct(
                    F.lit("host_keep").alias("metric"),
                    F.col("source").alias("key"),
                    ((F.col("n_docs") >= 3) & (F.col("metric_mean") >= 52))
                    .cast("long")
                    .alias("v1"),
                    F.lit(0).cast("long").alias("v2"),
                ),
            )
        ).alias("_r")
    ).select("_r.*")
    dk = (
        apply_host_prior(docs, stats, "source", min_docs=3, min_mean=52)
        .filter(_d() % 7 == 0)
        .select(
            F.lit("doc_keep").alias("metric"),
            F.col("doc_id").cast("string").alias("key"),
            F.col("host_keep").cast("long").alias("v1"),
            F.lit(0).cast("long").alias("v2"),
        )
    )
    # r4 widening: the Cho & Garcia-Molina recrawl scheduler
    # (operators/recrawl.py) over a deterministic capture history —
    # doc d gets 2 + d%3 captures spaced 1 + d%5 days apart, with the
    # digest changing in exactly the first d % n_caps transition slots
    # (digest_k = 'g' || min(k, d % n_caps)). Both the bias-corrected
    # change intensity and the Poisson staleness at a fixed 'now' are
    # closed-form in doc_id, so the oracle mirrors them analytically;
    # micro-unit quantization (round(x*1e6 + 1e-9)) absorbs cross-engine
    # log/exp ulp noise, same convention as bm25_corpus / the LM costs.
    from .operators.recrawl import recrawl_priorities

    n_caps = F.pmod("doc_id", F.lit(3)) + 2
    caps = (
        docs.select(
            "doc_id",
            F.concat(F.lit("https://rc.example.com/p"), _d().cast("string"))
            .alias("url"),
            (F.pmod("doc_id", F.lit(5)) + 1).alias("_ivl"),
            F.pmod("doc_id", n_caps).alias("_c"),
            F.explode(
                F.sequence(F.lit(0), F.pmod("doc_id", F.lit(3)) + 1)
            ).alias("k"),
        )
        .select(
            "url",
            F.timestamp_seconds(
                F.lit(1704067200) + F.col("doc_id") * 60
                + F.col("k") * F.col("_ivl") * 86400
            ).alias("warc_ts"),
            F.concat(
                F.lit("g"), F.least(F.col("k"), F.col("_c")).cast("string")
            ).alias("digest"),
        )
    )
    pr = recrawl_priorities(caps, now="2024-03-01 00:00:00")
    rc = pr.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("recrawl").alias("metric"),
                    F.col("url").alias("key"),
                    F.round(F.col("staleness") * 1e6 + F.lit(1e-9), 0)
                    .cast("long")
                    .alias("v1"),
                    F.round(F.col("lambda_per_day") * 1e6 + F.lit(1e-9), 0)
                    .cast("long")
                    .alias("v2"),
                ),
                F.struct(
                    F.lit("recrawl_obs").alias("metric"),
                    F.col("url").alias("key"),
                    F.col("n_obs").cast("long").alias("v1"),
                    F.col("n_changes").cast("long").alias("v2"),
                ),
            )
        ).alias("_r")
    ).select("_r.*")
    return rounds.unionByName(hpk).unionByName(dk).unionByName(rc)


ORACLE_ROUND_SATURATION = f"""
WITH pr AS (
  SELECT doc_id % 5 AS round,
         CAST(sum(len({_TOKENIZE_SQL})) AS BIGINT) AS total_tokens
  FROM documents GROUP BY doc_id % 5),
rr AS (
  SELECT round, total_tokens,
         lag(total_tokens) OVER (ORDER BY round) AS prev
  FROM pr),
hs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_TOKENIZE_SQL})) AS BIGINT) AS s
  FROM documents GROUP BY source),
hp AS (SELECT source, n_docs, s // n_docs AS mean FROM hs)
SELECT 'round_tokens' AS metric, CAST(round AS VARCHAR) AS key,
       total_tokens AS v1, CAST(coalesce(prev, -1) AS BIGINT) AS v2 FROM rr
UNION ALL
SELECT 'host_prior', source, n_docs, CAST(mean AS BIGINT) FROM hp
UNION ALL
SELECT 'host_keep', source,
       CAST((n_docs >= 3 AND mean >= 52) AS BIGINT), CAST(0 AS BIGINT) FROM hp
UNION ALL
SELECT 'doc_keep', CAST(d.doc_id AS VARCHAR),
       CAST(coalesce(k.keep, 0) AS BIGINT), CAST(0 AS BIGINT)
FROM documents d LEFT JOIN (
  SELECT source, CAST((n_docs >= 3 AND mean >= 52) AS INT) AS keep FROM hp
) k ON k.source = d.source
WHERE d.doc_id % 7 = 0
UNION ALL
SELECT 'recrawl', 'https://rc.example.com/p' || CAST(doc_id AS VARCHAR),
       CAST(round(1000000 * (1 - exp(-lam * age)) + 1e-9) AS BIGINT),
       CAST(round(1000000 * lam + 1e-9) AS BIGINT)
FROM (
  SELECT doc_id,
         -ln((slots - x + 0.5) / (slots + 0.5))
           / (((slots * ivl * 86400) / 86400.0) / slots) AS lam,
         greatest((1709251200 - (1704067200 + doc_id * 60
                                  + CAST(slots * ivl AS BIGINT) * 86400))
                    / 86400.0, 0.0) AS age
  FROM (SELECT doc_id,
               CAST(1 + doc_id % 3 AS DOUBLE) AS slots,
               CAST(1 + doc_id % 5 AS DOUBLE) AS ivl,
               CAST(doc_id % (2 + doc_id % 3) AS DOUBLE) AS x
        FROM documents))
UNION ALL
SELECT 'recrawl_obs', 'https://rc.example.com/p' || CAST(doc_id AS VARCHAR),
       CAST(2 + doc_id % 3 AS BIGINT),
       CAST(doc_id % (2 + doc_id % 3) AS BIGINT)
FROM documents
"""


def q_sim_cosine_topk(spark, sf_dir):
    df = _emb(spark, sf_dir)
    qvec = [float(x) for x in df.filter(F.col("vec_id") == 0).first()["embedding"]]
    import math

    qn = math.sqrt(sum(x * x for x in qvec))
    q = F.array(*[F.lit(x) for x in qvec])
    v = F.col("embedding").cast("array<double>")
    sim = F.round(dot(v, q) / (l2_norm(v) * F.lit(qn)), 6)
    return (
        df.select("vec_id", sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(20)
    )


ORACLE_SIM_COSINE_TOPK = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6)
         AS cosine_sim
FROM e, q
ORDER BY cosine_sim DESC, vec_id
LIMIT 20
"""


def q_sim_neardup_pairs(spark, sf_dir):
    """Embedding near-dup PAIRS (brute cos >= 0.35) + SemDeDup
    (operators/similarity.py semantic_dedup, Abbas et al. 2023 —
    sampled centroids, 6-dec quantized decisions, triangular-max keep
    rule at eps=0.35) as one tagged union; SemDeDup rows carry
    (vec_id, cluster, cent_sim) with the keep decision in the tag."""
    from .operators.similarity import semantic_dedup

    df = _emb(spark, sf_dir).select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a, b = df.alias("a"), df.alias("b")
    pair = a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
    sim = cosine(F.col("a.v"), F.col("b.v"))
    pairs = pair.select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        F.round(sim, 6).alias("cosine_sim"),
        F.lit("brute").alias("strategy"),
    ).filter(F.col("cosine_sim") >= 0.35)
    sem = semantic_dedup(df, "v", "vec_id", eps=0.35, n_centroids=8).select(
        F.col("vec_id").cast("long").alias("id_a"),
        F.col("cluster").cast("long").alias("id_b"),
        F.col("cent_sim").alias("cosine_sim"),
        F.when(F.col("is_kept"), F.lit("sem_kept"))
        .otherwise(F.lit("sem_removed"))
        .alias("strategy"),
    )
    return pairs.unionByName(sem)


_COS6 = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)

ORACLE_SIM_NEARDUP_PAIRS = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
asg AS (
  SELECT vec_id, v, cid, sim,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
  FROM (SELECT e.vec_id, e.v, c.cid,
               {_COS6.format(a='e.v', b='c.cv')} AS sim
        FROM e, c)),
r AS (SELECT vec_id, v, cid AS cluster, sim AS cent_sim,
             row_number() OVER (PARTITION BY cid ORDER BY sim ASC, vec_id)
               AS rk
      FROM asg WHERE rn = 1),
rm AS (SELECT DISTINCT x.vec_id
       FROM r x JOIN r y ON x.cluster = y.cluster AND y.rk < x.rk
       WHERE {_COS6.format(a='x.v', b='y.v')} >= 0.35)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_COS6.format(a='a.v', b='b.v')} AS cosine_sim,
       'brute' AS strategy
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_COS6.format(a='a.v', b='b.v')} >= 0.35
UNION ALL
SELECT r.vec_id AS id_a, CAST(r.cluster AS BIGINT) AS id_b,
       r.cent_sim AS cosine_sim,
       CASE WHEN rm.vec_id IS NULL THEN 'sem_kept'
            ELSE 'sem_removed' END AS strategy
FROM r LEFT JOIN rm ON rm.vec_id = r.vec_id
"""


def q_lineitem_pricing(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_LINEITEM_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


# -- rows-only queries (no SQL-expressible oracle) ---------------------------


def q_dedup_minhash_pairs(spark, sf_dir):
    df = _docs(spark, sf_dir).select("doc_id", "text")
    near = df.withColumn("doc_id", _d() + 100000)  # exact copies: jaccard 1.0
    return minhash_lsh_pairs(
        df.unionByName(near), "text", "doc_id", num_hashes=64, bands=16,
        jaccard_threshold=0.8,
    )


def q_dedup_simhash_pairs(spark, sf_dir):
    df = _docs(spark, sf_dir).select("doc_id", "text")
    near = df.withColumn("doc_id", _d() + 100000)
    return simhash_pairs(df.unionByName(near), "text", "doc_id", max_hamming=3)


def q_dedup_ngram_jaccard(spark, sf_dir):
    import pyarrow.parquet as pq

    df = _docs(spark, sf_dir).select("doc_id", "text")
    near = df.withColumn("doc_id", _d() + 100000)
    # parquet footer count — the auto strategy pick needs no count job
    n_docs = pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    out = ngram_jaccard_pairs(
        df.unionByName(near), "text", "doc_id", shingle_k=3, threshold=0.9,
        approx_count=2 * n_docs,
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# Exact mirror of the inverted-index Jaccard: distinct 3-shingles per
# doc (the engine joins on xxhash64 of the shingle; identical sets
# modulo ~2^-64 collisions), the same hot-shingle DF cap, the same
# double-division. Raw-threshold filter, then round for the hash gate.
ORACLE_DEDUP_NGRAM_JACCARD = """
WITH u AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text FROM documents),
w AS (SELECT doc_id AS id, regexp_split_to_array(text, ' ') AS ws FROM u),
sh AS (SELECT id, list_distinct(list_transform(
           generate_series(1, len(ws) - 2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
       FROM w WHERE len(ws) >= 3),
ex0 AS (SELECT id, unnest(s) AS sh FROM sh),
hot AS (SELECT sh FROM ex0 GROUP BY sh HAVING count(*) > 1000),
ex AS (SELECT * FROM ex0 WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT id, count(*) AS n FROM ex GROUP BY id),
inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
          FROM ex a JOIN ex b ON a.sh = b.sh AND a.id < b.id
          GROUP BY 1, 2)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
  SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
  FROM inter JOIN sizes sa ON inter.id_a = sa.id
             JOIN sizes sb ON inter.id_b = sb.id)
WHERE j >= 0.9
"""


def q_dedup_ngram_prefix(spark, sf_dir):
    """The AllPairs/PPJoin prefix-filtered strategy forced on (auto
    picks the plain inverted index at this scale): identical output to
    dedup_ngram_jaccard, so it shares the exact-Jaccard oracle."""
    df = _docs(spark, sf_dir).select("doc_id", "text")
    near = df.withColumn("doc_id", _d() + 100000)
    out = ngram_jaccard_pairs(
        df.unionByName(near), "text", "doc_id", shingle_k=3, threshold=0.9,
        algorithm="prefix",
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_minhash_portable(spark, sf_dir):
    """The full MinHash+LSH pipeline with the engine-portable shingle
    hash: permutations, banding, candidate generation and the
    agreement estimate are all replayed exactly by the SQL oracle (the
    xxhash64 production entry stays rows-only)."""
    df = _docs(spark, sf_dir).select("doc_id", "text")
    near = df.withColumn("doc_id", _d() + 100000)
    out = minhash_lsh_pairs(
        df.unionByName(near), "text", "doc_id", num_hashes=64, bands=16,
        jaccard_threshold=0.8, hash_fn="md5",
    )
    return out.select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def _oracle_minhash_portable() -> str:
    from .operators.dedup import MERSENNE_P, _mh_params

    vals = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_mh_params(64, 42))
    )
    return f"""
WITH u AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text FROM documents),
w AS (SELECT doc_id AS id, regexp_split_to_array(text, ' ') AS ws FROM u),
sh AS (SELECT id, unnest(list_transform(
           generate_series(1, len(ws) - 2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
       FROM w WHERE len(ws) >= 3),
hv AS (SELECT id,
              CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
                % {MERSENNE_P} AS h
       FROM sh),
params(pi, a, b) AS (VALUES {vals}),
sigs AS (SELECT id, pi, min((a * h + b) % {MERSENNE_P}) AS sv
         FROM hv CROSS JOIN params GROUP BY id, pi),
bnd AS (SELECT id, pi // 4 AS band,
               array_to_string(list(sv ORDER BY pi), ',') AS key
        FROM sigs GROUP BY id, pi // 4),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM bnd a JOIN bnd b
           ON a.band = b.band AND a.key = b.key AND a.id < b.id),
agree AS (SELECT c.id_a, c.id_b,
                 sum(CASE WHEN sa.sv = sb.sv THEN 1 ELSE 0 END) / 64.0 AS ej
          FROM cand c
          JOIN sigs sa ON sa.id = c.id_a
          JOIN sigs sb ON sb.id = c.id_b AND sb.pi = sa.pi
          GROUP BY c.id_a, c.id_b)
SELECT id_a, id_b, round(ej, 6) AS est_jaccard FROM agree WHERE ej >= 0.8
"""


def q_dedup_simhash_portable(spark, sf_dir):
    """SimHash with the portable shingle hash: the bit-vote fold, the
    pigeonhole block tables and the Hamming verify are replayed by the
    SQL oracle (xxhash64 production entry stays rows-only)."""
    df = _docs(spark, sf_dir).select("doc_id", "text")
    near = df.withColumn("doc_id", _d() + 100000)
    out = simhash_pairs(
        df.unionByName(near), "text", "doc_id", max_hamming=3, hash_fn="md5"
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


ORACLE_SIMHASH_PORTABLE = """
WITH u AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 100000, text FROM documents),
w AS (SELECT doc_id AS id, regexp_split_to_array(text, ' ') AS ws FROM u),
sh AS (SELECT id, unnest(list_transform(
           generate_series(1, len(ws) - 1),
           i -> ws[i] || ' ' || ws[i+1])) AS s
       FROM w WHERE len(ws) >= 2),
hv AS (SELECT id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
       FROM sh),
bits AS (SELECT id, j,
                CASE WHEN sum(2 * ((h // (CAST(1 AS BIGINT) << j)) % 2) - 1)
                          > 0 THEN 1 ELSE 0 END AS bit
         FROM hv, unnest(generate_series(0, 59)) t(j)
         GROUP BY id, j),
sim AS (SELECT id, sum(bit * (CAST(1 AS BIGINT) << j)) AS sh FROM bits
        GROUP BY id),
tab AS (SELECT id, sh, t,
               (sh // (CAST(1 AS BIGINT) << (16 * t))) % 65536 AS key
        FROM sim, unnest(generate_series(0, 3)) g(t)),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                a.sh AS ha, b.sh AS hb
         FROM tab a JOIN tab b
           ON a.t = b.t AND a.key = b.key AND a.id < b.id)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
"""


def q_dedup_ngram(spark, sf_dir):
    """Both exact-Jaccard strategies (adaptive inverted-index and the
    AllPairs/PPJoin prefix filter — output-identical by construction)
    as ONE tagged gate row; the oracle replays the pipeline once per
    tag. Frees a driver-window slot."""
    inv = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.lit("inverted").alias("algo"), "id_a", "id_b", "jaccard"
    )
    pref = q_dedup_ngram_prefix(spark, sf_dir).select(
        F.lit("prefix").alias("algo"), "id_a", "id_b", "jaccard"
    )
    return inv.unionByName(pref)


def _oracle_dedup_ngram() -> str:
    return f"""
SELECT 'inverted' AS algo, id_a, id_b, jaccard
FROM ({ORACLE_DEDUP_NGRAM_JACCARD})
UNION ALL
SELECT 'prefix' AS algo, id_a, id_b, jaccard
FROM ({ORACLE_DEDUP_NGRAM_JACCARD})
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C / The Pile 13-gram
    rule): eval set = the first 30 words of every doc_id%50==0
    document; flag every corpus doc sharing a 13-gram with it. The
    md5-portable shingle key lets the oracle replay the broadcast
    join + distinct-count exactly."""
    from .operators.decontam import contamination_check

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.array_join(F.slice(F.split("text", " "), 1, 30), " ").alias("text")
    )
    return contamination_check(docs, ev, hash_fn="md5")


_ORACLE_SHINGLE_13 = """unnest(CASE WHEN len(ws) >= 13
        THEN list_transform(generate_series(1, len(ws) - 12),
                            i -> array_to_string(ws[i:i+12], ' '))
        ELSE [array_to_string(ws, ' ')] END)"""

ORACLE_DECONTAMINATE = f"""
WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS ws
           FROM documents),
evw AS (SELECT ws[1:30] AS ws FROM w WHERE doc_id % 50 = 0),
evsh AS (SELECT DISTINCT substr(md5(s), 1, 16) AS k FROM (
    SELECT {_ORACLE_SHINGLE_13} AS s FROM evw)),
dsh AS (SELECT doc_id, substr(md5(s), 1, 16) AS k FROM (
    SELECT doc_id, {_ORACLE_SHINGLE_13} AS s FROM w)),
hits AS (SELECT doc_id, count(DISTINCT k) AS n
         FROM dsh JOIN evsh USING (k) GROUP BY doc_id)
SELECT w.doc_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated_ngrams,
       CAST(coalesce(h.n, 0) > 0 AS INT) AS contaminated
FROM w LEFT JOIN hits h ON h.doc_id = w.doc_id
"""


def q_dedup_lsh_portable(spark, sf_dir):
    """Both portable-hash LSH pipelines (r2-green as separate
    `dedup_minhash_portable` / `dedup_simhash_portable` rows) as ONE
    tagged gate row: UNION ALL with a strategy tag, schemas unified on
    (algo, id_a, id_b, score). Frees a slot in the driver's 50-entry
    window while keeping both full oracle replays bit-exact."""
    mh = q_dedup_minhash_portable(spark, sf_dir).select(
        F.lit("minhash").alias("algo"), "id_a", "id_b",
        F.col("est_jaccard").alias("score"),
    )
    sh = q_dedup_simhash_portable(spark, sf_dir).select(
        F.lit("simhash").alias("algo"), "id_a", "id_b",
        F.col("hamming").cast("double").alias("score"),
    )
    return mh.unionByName(sh)


def _oracle_lsh_portable() -> str:
    return f"""
SELECT 'minhash' AS algo, id_a, id_b, est_jaccard AS score
FROM ({_oracle_minhash_portable()})
UNION ALL
SELECT 'simhash' AS algo, id_a, id_b, CAST(hamming AS DOUBLE) AS score
FROM ({ORACLE_SIMHASH_PORTABLE})
"""


def q_dedup_components(spark, sf_dir):
    """The missing last stage of a real dedup pipeline: near-dup PAIRS
    (embedding cosine graph, same edge rule as sim_neardup_pairs) →
    transitive connected components → keep/drop resolution (min-id
    canonical, per-component size). Spark side is the iterative
    min-label-propagation + pointer-jumping operator
    (operators/dedup.py connected_components); the oracle replays the
    closure exactly with a recursive CTE."""
    from .operators.dedup import resolve_duplicates

    df = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a, b = df.alias("a"), df.alias("b")
    sim = cosine(F.col("a.v"), F.col("b.v"))
    pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(sim, 6).alias("s"),
        )
        .filter(F.col("s") >= 0.35)
    )
    ids = _emb(spark, sf_dir).select("vec_id")
    return resolve_duplicates(ids, pairs, "vec_id")


ORACLE_DEDUP_COMPONENTS = """
WITH RECURSIVE
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35),
ed AS (SELECT id_a AS s, id_b AS d FROM p
       UNION ALL SELECT id_b, id_a FROM p),
r(node, lab) AS (
    SELECT vec_id, vec_id FROM e
    UNION
    SELECT ed.d, r.lab FROM r JOIN ed ON ed.s = r.node
),
lab AS (SELECT node, min(lab) AS component FROM r GROUP BY node),
sz AS (SELECT component, count(*) AS csize FROM lab GROUP BY component)
SELECT node AS vec_id, component, csize,
       CAST(node = component AS INT) AS is_canonical
FROM lab JOIN sz USING (component)
"""


ORACLE_TEXT_FINGERPRINT = """
WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS ws FROM documents)
SELECT doc_id,
       list_aggregate(list_transform(
           generate_series(1, len(ws) - 2),
           i -> substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 16)),
         'min') AS fp
FROM w
"""


def q_quality_classifier(spark, sf_dir):
    """Model-based quality filter (functions/quality_model.py), both
    execution paths as one tagged union: the row-local hashed-weight
    score and the explode + broadcast-vocab-join score must agree
    bit-for-bit, and both replay in SQL via the md5 weight
    derivation."""
    from .functions.quality_model import (
        classifier_score_milli,
        classifier_scores_vocab,
        default_weights,
    )
    from .functions.repetition import word_ngrams

    docs = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    keep = lambda c: (c >= 0).cast("int")  # noqa: E731
    row = docs.select(
        "doc_id",
        F.lit("rowlocal").alias("strategy"),
        classifier_score_milli(words).alias("score_milli"),
    ).withColumn("keep", keep(F.col("score_milli")))
    vocab = default_weights(docs, word_ngrams(words, 2))
    voc = (
        classifier_scores_vocab(docs, "doc_id", words, vocab)
        .select(
            "doc_id", F.lit("vocabjoin").alias("strategy"), "score_milli"
        )
        .withColumn("keep", keep(F.col("score_milli")))
    )

    # third + fourth strategy rows: the CCNet LM-perplexity tier
    # (functions/ngram_lm.py) — corpus-trained interpolated bigram
    # model, mean token cost in milli-nats; keep = at-or-below the
    # median-ish 3400 cutoff — and the CCNet §3.3 head/middle/tail
    # bucketing of that same score (per-language terciles, keep =
    # head+middle). Both rows explode out of ONE scored DataFrame:
    # a unionByName of two selects over it would re-run the whole LM
    # train+score pipeline per branch (no cross-branch CSE).
    from .functions.ngram_lm import lm_self_perplexity, perplexity_buckets

    lmb = perplexity_buckets(
        lm_self_perplexity(docs.select("doc_id", "text")).join(
            docs.select("doc_id", "lang"), "doc_id"
        ),
        lang_col="lang",
        cost_col="avg_cost_milli",
        id_col="doc_id",
        n_buckets=3,
    )
    lm = lmb.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("lm_bigram").alias("strategy"),
                    F.col("avg_cost_milli").alias("score_milli"),
                    (F.col("avg_cost_milli") <= 3400).cast("int").alias("keep"),
                ),
                F.struct(
                    F.lit("ccnet_bucket").alias("strategy"),
                    F.col("ppl_bucket").cast("long").alias("score_milli"),
                    (F.col("ppl_bucket") <= 2).cast("int").alias("keep"),
                ),
            )
        ).alias("_r"),
    ).select("doc_id", "_r.strategy", "_r.score_milli", "_r.keep")
    return row.unionByName(voc).unionByName(lm)


ORACLE_QUALITY_CLASSIFIER = """
WITH w AS MATERIALIZED (
  SELECT doc_id, regexp_split_to_array(text, ' ') AS ws FROM documents),
g AS MATERIALIZED (
  SELECT doc_id,
         (CAST(('0x' || substr(md5(ws[t.i] || ' ' || ws[t.i+1]), 1, 15))
               AS BIGINT) % 2001) AS wsh
  FROM w, unnest(generate_series(1, len(ws) - 1)) t(i)
  WHERE len(ws) >= 2),
sc AS (SELECT doc_id, CAST(sum(wsh) AS BIGINT) AS s, count(*) AS n
       FROM g GROUP BY doc_id),
f AS (SELECT w.doc_id,
             CAST(coalesce((sc.s // sc.n) - 1000, 0) AS BIGINT) AS score_milli
      FROM w LEFT JOIN sc ON sc.doc_id = w.doc_id),
lmt AS MATERIALIZED (
  SELECT doc_id, ws[t.i] AS w1, ws[t.i+1] AS w2
  FROM w, unnest(generate_series(1, len(ws) - 1)) t(i)
  WHERE len(ws) >= 2),
lmu AS MATERIALIZED (
  SELECT w, count(*) AS c1
  FROM (SELECT unnest(ws) AS w FROM w) GROUP BY w),
lmb AS MATERIALIZED (
  SELECT w1, w2, count(*) AS c12 FROM lmt GROUP BY w1, w2),
lmtot AS (SELECT CAST(sum(c1) AS BIGINT) AS t_tokens,
                 CAST(count(*) AS BIGINT) AS v_vocab FROM lmu),
lmc AS (
  SELECT l.doc_id,
         CAST(round(-ln(0.7 * (CAST(coalesce(b.c12, 0) AS DOUBLE) / u1.c1)
                        + 0.3 * (CAST(u2.c1 + 1 AS DOUBLE)
                                 / (tt.t_tokens + tt.v_vocab)))
                    * 1000000 + 0.000000001) AS BIGINT) AS cost
  FROM lmt l
  LEFT JOIN lmb b ON b.w1 = l.w1 AND b.w2 = l.w2
  JOIN lmu u1 ON u1.w = l.w1
  JOIN lmu u2 ON u2.w = l.w2, lmtot tt),
lma AS MATERIALIZED (
  SELECT doc_id, count(*) AS n, CAST(sum(cost) AS BIGINT) AS tot
  FROM lmc GROUP BY doc_id),
lms AS MATERIALIZED (
  SELECT w.doc_id,
         CAST(coalesce(lma.tot // (1000 * lma.n), 0) AS BIGINT) AS score_milli
  FROM w LEFT JOIN lma ON lma.doc_id = w.doc_id),
bkt AS (
  SELECT s.doc_id,
         NTILE(3) OVER (PARTITION BY d.lang
                        ORDER BY s.score_milli, s.doc_id) AS b
  FROM lms s JOIN documents d ON d.doc_id = s.doc_id)
SELECT doc_id, 'rowlocal' AS strategy, score_milli,
       CAST(score_milli >= 0 AS INT) AS keep FROM f
UNION ALL
SELECT doc_id, 'vocabjoin' AS strategy, score_milli,
       CAST(score_milli >= 0 AS INT) AS keep FROM f
UNION ALL
SELECT doc_id, 'lm_bigram' AS strategy, score_milli,
       CAST(score_milli <= 3400 AS INT) AS keep FROM lms
UNION ALL
SELECT doc_id, 'ccnet_bucket' AS strategy, CAST(b AS BIGINT) AS score_milli,
       CAST(b <= 2 AS INT) AS keep FROM bkt
"""


def q_sample_stratified(spark, sf_dir):
    """Training-mix sampling, three strategies as one tagged union:
    per-language stratified rates + a weighted (length-proportional)
    draw (operators/sampling.py, salts decorrelated) + DSIR importance
    resampling (operators/dsir.py, arXiv:2302.03169 — hashed
    unigram+bigram model with lang='en' docs as the target
    distribution, Gumbel top-100 without replacement). The md5 coin
    flips and micro-nat-quantized log-ratios replay exactly in SQL."""
    from .operators.dsir import (
        cache_featurized,
        featurize,
        importance_resample,
        importance_weights,
        train_importance_model,
    )
    from .operators.sampling import stratified_sample, weighted_sample

    docs = _docs(spark, sf_dir)
    rates = {"en": 800_000, "de": 500_000, "fr": 250_000, "es": 125_000}
    st = stratified_sample(
        docs, "lang", rates, "doc_id", salt="gate", default_rate_e6=62_500
    ).select("doc_id", "lang", F.lit("stratified").alias("strategy"))
    wt = weighted_sample(
        docs,
        F.least(F.col("n_chars") * F.lit(2500), F.lit(1_000_000)),
        "doc_id",
        salt="gatew",
    ).select("doc_id", "lang", F.lit("weighted").alias("strategy"))

    feats = cache_featurized(
        featurize(
            docs, "doc_id", F.split(F.col("text"), " "), 1024,
            carry_cols=["lang"],
        )
    )
    model = train_importance_model(feats, F.col("lang") == "en", 1024)
    lw = importance_weights(feats, "doc_id", model, carry_cols=["lang"])
    ds = importance_resample(lw, "doc_id", 100, salt="gated").select(
        "doc_id", "lang", F.lit("dsir").alias("strategy")
    )
    return st.unionByName(wt).unionByName(ds)


_DSIR_GUMBEL_SQL = """
CAST(round(-ln(-ln(
  (CAST((CAST(('0x' || substr(md5('gated' || CAST(doc_id AS VARCHAR)), 1, 15))
         AS BIGINT) % 1000000) AS DOUBLE) + 0.5) / 1000000.0
)) * 1e6 + 1e-9) AS BIGINT)
"""

ORACLE_SAMPLE_STRATIFIED = f"""
WITH u AS (
  SELECT doc_id, lang,
         (CAST(('0x' || substr(md5('gate' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 1000000) AS u1,
         (CAST(('0x' || substr(md5('gatew' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 1000000) AS u2,
         greatest(0, least(n_chars * 2500, 1000000)) AS wt
  FROM documents),
w AS (SELECT doc_id, lang, {_TOKENIZE_SQL} AS ws FROM documents),
g AS (
  SELECT doc_id, lang, unnest(ws) AS gram FROM w
  UNION ALL
  SELECT doc_id, lang, ws[i] || ' ' || ws[i + 1] AS gram
  FROM (SELECT doc_id, lang, ws,
               unnest(generate_series(1, len(ws) - 1)) AS i FROM w)
),
f AS (SELECT doc_id, lang,
             (CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 1024)
               AS bucket
      FROM g),
cnt AS (SELECT bucket,
               CAST(count(*) AS BIGINT) AS c_raw,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                 AS c_tgt
        FROM f GROUP BY bucket),
tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw,
               CAST(sum(c_tgt) AS BIGINT) AS t_tgt FROM cnt),
lr AS (SELECT bucket,
              CAST(round((ln(CAST(c_tgt AS DOUBLE) + 1.0)
                          - ln(CAST(t_tgt AS DOUBLE) + 1024.0)
                          - ln(CAST(c_raw AS DOUBLE) + 1.0)
                          + ln(CAST(t_raw AS DOUBLE) + 1024.0)) * 1e6
                         + 1e-9) AS BIGINT) AS lr_unat
       FROM cnt, tot),
lw AS (SELECT doc_id, lang, CAST(sum(lr_unat) AS BIGINT) AS lw_unat
       FROM f JOIN lr USING (bucket) GROUP BY doc_id, lang)
SELECT doc_id, lang, 'stratified' AS strategy FROM u
WHERE u1 < CASE lang WHEN 'en' THEN 800000 WHEN 'de' THEN 500000
                     WHEN 'fr' THEN 250000 WHEN 'es' THEN 125000
                     ELSE 62500 END
UNION ALL
SELECT doc_id, lang, 'weighted' AS strategy FROM u WHERE u2 < wt
UNION ALL
SELECT doc_id, lang, 'dsir' AS strategy
FROM (SELECT doc_id, lang
      FROM (SELECT doc_id, lang, lw_unat + {_DSIR_GUMBEL_SQL} AS gk
            FROM lw)
      ORDER BY gk DESC, doc_id LIMIT 100)
"""


def q_pack_sequences(spark, sf_dir):
    """Sequence packing (operators/packing.py): concat-and-chunk
    (two-phase distributed prefix sum, docs split at cuts) and
    truncate-and-pad assignments over the documents corpus at
    seq_len=512, as one tagged union. Pure integer arithmetic — the
    exact (doc x sequence) assignment replays in SQL."""
    from .functions.text import token_count
    from .operators.packing import pack_concat_chunk, pack_truncate_pad

    docs = _docs(spark, sf_dir)
    n = token_count("text")
    cc = pack_concat_chunk(
        docs, "doc_id", n, seq_len=512, docs_per_bucket=64
    ).withColumn("strategy", F.lit("concat_chunk"))
    tp = pack_truncate_pad(docs, "doc_id", n, seq_len=512).withColumn(
        "strategy", F.lit("truncate_pad")
    )
    return cc.unionByName(tp)


ORACLE_PACK_SEQUENCES = f"""
WITH n AS (
  SELECT doc_id,
         CAST(len({_TOKENIZE_SQL}) AS BIGINT) + 1 AS n FROM documents),
g AS (
  SELECT doc_id, n,
         CAST(sum(n) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) - n AS BIGINT) AS g
  FROM n),
x AS (
  SELECT doc_id, n, g,
         unnest(generate_series(g // 512, (g + n - 1) // 512)) AS seq_id
  FROM g)
SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(greatest(g, seq_id * 512) - g AS BIGINT) AS doc_offset,
       CAST(greatest(g, seq_id * 512) - seq_id * 512 AS BIGINT)
         AS seq_offset,
       CAST(least(g + n, seq_id * 512 + 512) - greatest(g, seq_id * 512)
            AS BIGINT) AS n_piece,
       'concat_chunk' AS strategy
FROM x
UNION ALL
SELECT doc_id, CAST(doc_id AS BIGINT), CAST(0 AS BIGINT),
       CAST(0 AS BIGINT), CAST(least(n, 512) AS BIGINT), 'truncate_pad'
FROM n
"""


def q_sim_cosine_topk_ivf(spark, sf_dir):
    """IVF ANN top-k (the partition-pruning scale path): coarse
    quantizer = deterministic corpus sample (vec_id < 16), 6-decimal
    quantized assignment with centroid-id tie-break — the whole
    assignment/probe/rerank pipeline replays in SQL."""
    from .operators.similarity import cosine_topk_ivf

    df = _emb(spark, sf_dir)
    qvec = [float(x) for x in df.filter(F.col("vec_id") == 0).first()["embedding"]]
    return cosine_topk_ivf(
        df, "embedding", qvec, k=20, n_centroids=16, nprobe=4, id_col="vec_id"
    )


ORACLE_SIM_COSINE_TOPK_IVF = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
sims AS (SELECT e.vec_id, c.cid,
                round(list_dot_product(e.v, c.cv)
                      / (sqrt(list_dot_product(e.v, e.v))
                         * sqrt(list_dot_product(c.cv, c.cv))), 6) AS s
         FROM e, c),
assign AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY s DESC, cid ASC) AS rn
             FROM sims) WHERE rn = 1),
qprobe AS (SELECT cid FROM sims WHERE vec_id = 0
           ORDER BY s DESC, cid ASC LIMIT 4),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT e.vec_id,
       round(list_dot_product(e.v, q.qv)
             / (sqrt(list_dot_product(e.v, e.v))
                * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
FROM e JOIN assign USING (vec_id), q
WHERE assign.cid IN (SELECT cid FROM qprobe)
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT 20
"""


def q_sim_cosine_topk_lsh(spark, sf_dir):
    """Hyperplane-LSH ANN top-k. The planes are deterministic
    (RandomState(42)), so the oracle embeds them as literals and
    replays bucketing, the Hamming<=2 multiprobe set and the exact
    rerank in SQL."""
    df = _emb(spark, sf_dir)
    qvec = [float(x) for x in df.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = cosine_topk_lsh(
        df, "embedding", qvec, k=20, n_planes=8, multiprobe_hamming=2, id_cols=["vec_id"]
    )
    return out.select("vec_id", F.round("cosine_sim", 6).alias("cosine_sim"))


def _oracle_sim_cosine_topk_lsh() -> str:
    from .operators.similarity import hyperplanes

    planes = hyperplanes(64, 8, 42)
    plane_rows = ", ".join(
        "(" + str(i) + ", [" + ", ".join(repr(float(x)) for x in p) + "])"
        for i, p in enumerate(planes)
    )
    masks = (
        [0]
        + [1 << i for i in range(8)]
        + [(1 << i) ^ (1 << j) for i in range(8) for j in range(i + 1, 8)]
    )
    mask_rows = ", ".join(f"({m})" for m in masks)
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
planes(pi, pv) AS (VALUES {plane_rows}),
b AS (SELECT e.vec_id, any_value(e.v) AS v,
             CAST(sum(CASE WHEN list_dot_product(e.v, p.pv) > 0
                           THEN (CAST(1 AS BIGINT) << p.pi)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN planes p GROUP BY e.vec_id),
qb AS (SELECT bucket AS qbits, v AS qv FROM b WHERE vec_id = 0),
masks(m) AS (VALUES {mask_rows}),
probes AS (SELECT DISTINCT xor(qb.qbits, masks.m) AS pb FROM qb, masks),
cand AS (SELECT vec_id, v FROM b WHERE bucket IN (SELECT pb FROM probes))
SELECT vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
             6) AS cosine_sim
FROM cand, qb
ORDER BY cosine_sim DESC
LIMIT 20
"""


def q_sim_cosine_topk_pq(spark, sf_dir):
    """Product-quantization ANN (operators/similarity.py
    cosine_topk_pq): 64-dim vectors -> 4 subspace codes from sampled
    codebooks, integer micro-unit ADC candidate scan, exact rerank of
    the top 80."""
    from .operators.similarity import cosine_topk_pq

    df = _emb(spark, sf_dir)
    qvec = [float(x) for x in df.filter(F.col("vec_id") == 0).first()["embedding"]]
    return cosine_topk_pq(
        df, "embedding", qvec, k=20, m_subspaces=4, n_codes=16, rerank=4
    ).select("vec_id", "cosine_sim")


ORACLE_SIM_COSINE_TOPK_PQ = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
sub AS (SELECT vec_id, t.m, v[(t.m*16+1):(t.m*16+16)] AS sv
        FROM e, unnest([0, 1, 2, 3]) t(m)),
cb AS (SELECT m, vec_id AS code, sv AS cw FROM sub WHERE vec_id < 16),
d2 AS (SELECT s.vec_id, s.m, c.code,
              round(list_dot_product(s.sv, s.sv)
                    - 2.0 * list_dot_product(s.sv, c.cw)
                    + list_dot_product(c.cw, c.cw), 6) AS dd
       FROM sub s JOIN cb c ON c.m = s.m),
enc AS (SELECT vec_id, m, code FROM (
          SELECT vec_id, m, code,
                 row_number() OVER (PARTITION BY vec_id, m
                                    ORDER BY dd ASC, code ASC) AS rn
          FROM d2) WHERE rn = 1),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
qsub AS (SELECT t.m, (SELECT qv FROM q)[(t.m*16+1):(t.m*16+16)] AS qs
         FROM unnest([0, 1, 2, 3]) t(m)),
lut AS (SELECT c.m, c.code,
               CAST(round(list_dot_product(qs.qs, c.cw) * 1000000
                          + 0.000000001) AS BIGINT) AS w
        FROM cb c JOIN qsub qs ON qs.m = c.m),
adc AS (SELECT enc.vec_id, CAST(sum(l.w) AS BIGINT) AS approx_e6
        FROM enc JOIN lut l ON l.m = enc.m AND l.code = enc.code
        GROUP BY enc.vec_id),
cand AS (SELECT vec_id FROM adc ORDER BY approx_e6 DESC, vec_id ASC LIMIT 80)
SELECT e.vec_id,
       round(list_dot_product(e.v, q.qv)
             / (sqrt(list_dot_product(e.v, e.v))
                * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
FROM e JOIN cand USING (vec_id), q
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT 20
"""


def q_sim_cosine_topk_ann(spark, sf_dir):
    """All three ANN top-k paths (hyperplane-LSH multiprobe, IVF
    inverted lists, PQ asymmetric-distance) as ONE tagged-union gate
    row — three full SQL replays, one driver slot."""
    lsh = q_sim_cosine_topk_lsh(spark, sf_dir).select(
        F.lit("lsh").alias("algo"), "vec_id", "cosine_sim"
    )
    ivf = q_sim_cosine_topk_ivf(spark, sf_dir).select(
        F.lit("ivf").alias("algo"), "vec_id", "cosine_sim"
    )
    pq = q_sim_cosine_topk_pq(spark, sf_dir).select(
        F.lit("pq").alias("algo"), "vec_id", "cosine_sim"
    )
    return lsh.unionByName(ivf).unionByName(pq)


def _oracle_sim_cosine_topk_ann() -> str:
    return f"""
SELECT 'lsh' AS algo, vec_id, cosine_sim
FROM ({_oracle_sim_cosine_topk_lsh()})
UNION ALL
SELECT 'ivf' AS algo, vec_id, cosine_sim
FROM ({ORACLE_SIM_COSINE_TOPK_IVF})
UNION ALL
SELECT 'pq' AS algo, vec_id, cosine_sim
FROM ({ORACLE_SIM_COSINE_TOPK_PQ})
"""


def _link_edges(spark, sf_dir):
    """The synthetic outlink graph (synth.py outlink_targets),
    deterministically thinned: the raw graph is 6-regular (centrality
    would be near-uniform); dropping dst%7>=5 gives the degree variance
    a real web graph has, so ranks differentiate."""
    import pyarrow.parquet as pq

    n = pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    docs = _docs(spark, sf_dir).select("doc_id")
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(0), F.lit(5))).alias("j"),
        )
        .select(
            "src",
            ((F.col("src") * 31 + F.col("j") * 97 + 7) % n).alias("dst"),
        )
        .filter(F.col("dst") % 7 < 5)
    )
    return docs, edges, n


def q_link_analysis(spark, sf_dir):
    """Corpus-level link-graph centrality: fixed-iteration integer
    PageRank + integer-L1 HITS hubs/authorities over the synthetic
    outlink graph, as one long-format gate row (doc_id, metric, score).
    Integer sums are order-independent, so BOTH iterative algorithms
    replay bit-exact in unrolled SQL CTEs — impossible with float
    centrality (summation-order noise)."""
    from .operators.linkgraph import hits, pagerank

    docs, edges, n = _link_edges(spark, sf_dir)
    pr = pagerank(
        edges, "src", "dst", nodes=docs, node_col="doc_id", iters=3, n_nodes=n
    ).select(
        F.col("node").alias("doc_id"),
        F.lit("pagerank").alias("metric"),
        F.col("pr").alias("score"),
    )
    hs = hits(edges, "src", "dst", nodes=docs, node_col="doc_id", iters=3)
    hub = hs.select(
        F.col("node").alias("doc_id"),
        F.lit("hub").alias("metric"),
        F.col("hub").alias("score"),
    )
    auth = hs.select(
        F.col("node").alias("doc_id"),
        F.lit("authority").alias("metric"),
        F.col("authority").alias("score"),
    )

    # anchor-text aggregation (operators/linkgraph.py anchor_stats) on
    # the same arithmetic edge set, anchors derived from (src, dst) so
    # the oracle mirrors exactly; top-anchor identity is value-checked
    # through its numeric suffix
    from .operators.linkgraph import anchor_stats

    an = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(0), F.lit(5))).alias("j"),
        )
        .select(
            "src", ((F.col("src") * 31 + F.col("j") * 97 + 7) % n).alias("dst")
        )
        .filter((F.col("dst") % 7 < 5) & (F.col("src") != F.col("dst")))
        .select(
            "src",
            "dst",
            F.concat(
                F.lit("a"), ((F.col("src") + 7 * F.col("dst")) % 8).cast("string")
            ).alias("anchor"),
        )
    )
    st = anchor_stats(an, dst="dst", anchor="anchor").select(
        F.col("dst").alias("doc_id"),
        "n_inlinks",
        "n_anchors",
        F.substring("top_anchor", 2, 10).cast("long").alias("top_id"),
        "top_anchor_cnt",
    )
    anchor_rows = None
    for metric, col in [
        ("anchor_inlinks", "n_inlinks"),
        ("anchor_distinct", "n_anchors"),
        ("anchor_top_id", "top_id"),
        ("anchor_top_cnt", "top_anchor_cnt"),
    ]:
        part = st.select(
            "doc_id", F.lit(metric).alias("metric"), F.col(col).alias("score")
        )
        anchor_rows = part if anchor_rows is None else anchor_rows.unionByName(part)

    return pr.unionByName(hub).unionByName(auth).unionByName(anchor_rows)


def _oracle_link_pagerank(iters: int = 3) -> str:
    scale, num, den = 10**9, 85, 100
    base = (den - num) * scale // den
    parts = [f"""
WITH nn AS MATERIALIZED (SELECT count(*) AS N FROM documents),
e AS MATERIALIZED (SELECT DISTINCT doc_id AS src,
             (doc_id*31 + j*97 + 7) % (SELECT N FROM nn) AS dst
      FROM documents, unnest(generate_series(0, 5)) t(j)
      WHERE doc_id <> (doc_id*31 + j*97 + 7) % (SELECT N FROM nn)
        AND ((doc_id*31 + j*97 + 7) % (SELECT N FROM nn)) % 7 < 5),
outd AS MATERIALIZED (SELECT src, count(*) AS od FROM e GROUP BY src),
p0 AS MATERIALIZED (SELECT doc_id AS node, CAST({scale} AS BIGINT) AS pr FROM documents)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
c{k} AS MATERIALIZED (SELECT e.dst AS node, CAST(sum(p.pr // o.od) AS BIGINT) AS insum
        FROM e JOIN p{k-1} p ON p.node = e.src JOIN outd o ON o.src = e.src
        GROUP BY e.dst),
d{k} AS MATERIALIZED (SELECT CAST(coalesce(sum(p.pr), 0) AS BIGINT) AS dang
        FROM p{k-1} p LEFT JOIN outd o ON o.src = p.node
        WHERE o.src IS NULL),
p{k} AS MATERIALIZED (SELECT p.node,
               CAST({base} AS BIGINT)
               + {num} * (coalesce(c.insum, CAST(0 AS BIGINT))
                          + (SELECT dang FROM d{k}) // (SELECT N FROM nn))
                 // {den} AS pr
        FROM p{k-1} p LEFT JOIN c{k} c ON c.node = p.node)""")
    parts.append(
        f"\nSELECT node AS doc_id, CAST(pr AS BIGINT) AS pr_e9 FROM p{iters}"
    )
    return "".join(parts)


def _oracle_link_hits(iters: int = 3) -> str:
    """SQL replay of operators/linkgraph.py hits(): integer-L1 HITS.
    Same unrolled-CTE trick as the PageRank oracle — integer sums are
    order-independent so each renormalized half-step is bit-exact."""
    scale = 10**7
    parts = [f"""
WITH nn AS MATERIALIZED (SELECT count(*) AS N FROM documents),
e AS MATERIALIZED (SELECT DISTINCT doc_id AS src,
             (doc_id*31 + j*97 + 7) % (SELECT N FROM nn) AS dst
      FROM documents, unnest(generate_series(0, 5)) t(j)
      WHERE doc_id <> (doc_id*31 + j*97 + 7) % (SELECT N FROM nn)
        AND ((doc_id*31 + j*97 + 7) % (SELECT N FROM nn)) % 7 < 5),
s0 AS MATERIALIZED (SELECT doc_id AS node,
              CAST({scale} // (SELECT N FROM nn) AS BIGINT) AS h,
              CAST({scale} // (SELECT N FROM nn) AS BIGINT) AS a
       FROM documents)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
ra{k} AS MATERIALIZED (SELECT e.dst AS node, CAST(sum(s.h) AS BIGINT) AS raw
         FROM e JOIN s{k-1} s ON s.node = e.src GROUP BY e.dst),
ta{k} AS MATERIALIZED (SELECT CAST(coalesce(sum(raw), 0) AS BIGINT) AS tot FROM ra{k}),
sa{k} AS MATERIALIZED (SELECT s.node, s.h,
                CAST(CASE WHEN (SELECT tot FROM ta{k}) > 0
                     THEN coalesce(r.raw, CAST(0 AS BIGINT)) * {scale}
                          // (SELECT tot FROM ta{k})
                     ELSE s.a END AS BIGINT) AS a
         FROM s{k-1} s LEFT JOIN ra{k} r ON r.node = s.node),
rh{k} AS MATERIALIZED (SELECT e.src AS node, CAST(sum(s.a) AS BIGINT) AS raw
         FROM e JOIN sa{k} s ON s.node = e.dst GROUP BY e.src),
th{k} AS MATERIALIZED (SELECT CAST(coalesce(sum(raw), 0) AS BIGINT) AS tot FROM rh{k}),
s{k} AS MATERIALIZED (SELECT s.node,
               CAST(CASE WHEN (SELECT tot FROM th{k}) > 0
                    THEN coalesce(r.raw, CAST(0 AS BIGINT)) * {scale}
                         // (SELECT tot FROM th{k})
                    ELSE s.h END AS BIGINT) AS h,
               s.a
        FROM sa{k} s LEFT JOIN rh{k} r ON r.node = s.node)""")
    parts.append(f"""
SELECT node AS doc_id, 'hub' AS metric, h AS score FROM s{iters}
UNION ALL
SELECT node AS doc_id, 'authority' AS metric, a AS score FROM s{iters}""")
    return "".join(parts)


_ORACLE_ANCHOR_STATS = """
WITH nn AS (SELECT count(*) AS N FROM documents),
ae AS (SELECT doc_id AS src,
              (doc_id*31 + j*97 + 7) % (SELECT N FROM nn) AS dst
       FROM documents, unnest(generate_series(0, 5)) t(j)),
af AS (SELECT src, dst, 'a' || CAST((src + 7*dst) % 8 AS VARCHAR) AS a
       FROM ae WHERE dst % 7 < 5 AND src <> dst),
pc AS (SELECT dst, a, count(*) AS cnt FROM af GROUP BY dst, a),
tp AS (SELECT dst, cnt, a,
              row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, a DESC) AS rn
       FROM pc),
ag AS (SELECT dst, CAST(sum(cnt) AS BIGINT) AS n_inlinks,
              CAST(count(*) AS BIGINT) AS n_anchors
       FROM pc GROUP BY dst)
SELECT dst AS doc_id, 'anchor_inlinks' AS metric, n_inlinks AS score FROM ag
UNION ALL
SELECT dst, 'anchor_distinct', n_anchors FROM ag
UNION ALL
SELECT dst, 'anchor_top_id', CAST(substr(a, 2) AS BIGINT) FROM tp WHERE rn = 1
UNION ALL
SELECT dst, 'anchor_top_cnt', CAST(cnt AS BIGINT) FROM tp WHERE rn = 1
"""


def _oracle_link_analysis(iters: int = 3) -> str:
    return f"""
SELECT doc_id, 'pagerank' AS metric, CAST(pr_e9 AS BIGINT) AS score
FROM ({_oracle_link_pagerank(iters)})
UNION ALL
SELECT doc_id, metric, score FROM ({_oracle_link_hits(iters)})
UNION ALL
SELECT doc_id, metric, score FROM ({_ORACLE_ANCHOR_STATS})
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "url_core": q_url_core,
    "url_filters": q_url_filters,
    "url_scoring": q_url_scoring,
    "entities_extract": q_entities_extract,
    "text_signals": q_text_signals,
    "text_quality": q_text_quality,
    "quality_classifier": q_quality_classifier,
    "sample_stratified": q_sample_stratified,
    "pack_sequences": q_pack_sequences,
    "dedup_exact": q_dedup_exact,
    "politeness_budget": q_politeness_budget,
    "topk_capacity": q_topk_capacity,
    "term_stats": q_term_stats,
    "round_saturation": q_round_saturation,
    "sim_cosine_topk": q_sim_cosine_topk,
    "sim_neardup_pairs": q_sim_neardup_pairs,
    "lineitem_pricing": q_lineitem_pricing,
    "dedup_ngram": q_dedup_ngram,
    "dedup_lsh_portable": q_dedup_lsh_portable,
    "dedup_components": q_dedup_components,
    "decontaminate": q_decontaminate,
    "sim_cosine_topk_ann": q_sim_cosine_topk_ann,
    "link_analysis": q_link_analysis,
}

# Checked by tests/test_catalog.py but kept OUT of the driver catalog so
# every driver entry fits the 50-row CORRECTNESS window: the production
# minhash/simhash entries hash shingles with xxhash64, which no SQL
# engine reproduces — the IDENTICAL pipelines are oracle-checked through
# the dedup_lsh_portable tagged union (md5-based
# shingle hash, same permutations/banding/votes/verify); the stemmed
# BM25 fit variant differs from the oracle-checked
# content_fit_bm25_nostem twin only in the Porter2 stemmer (pinned by
# tests/test_stemmer.py against the published spec's worked examples).
PYTEST_ONLY_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
}

ORACLES: dict[str, str] = {
    "url_core": ORACLE_URL_CORE,
    "url_filters": ORACLE_URL_FILTERS,
    "url_scoring": ORACLE_URL_SCORING,
    "entities_extract": ORACLE_ENTITIES_EXTRACT,
    "text_signals": _oracle_text_signals(),
    "text_quality": _oracle_quality(),
    "quality_classifier": ORACLE_QUALITY_CLASSIFIER,
    "sample_stratified": ORACLE_SAMPLE_STRATIFIED,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "politeness_budget": ORACLE_POLITENESS_BUDGET,
    "topk_capacity": ORACLE_TOPK_CAPACITY,
    "term_stats": ORACLE_TERM_STATS,
    "round_saturation": ORACLE_ROUND_SATURATION,
    "sim_cosine_topk": ORACLE_SIM_COSINE_TOPK,
    "sim_neardup_pairs": ORACLE_SIM_NEARDUP_PAIRS,
    "lineitem_pricing": ORACLE_LINEITEM_PRICING,
    "dedup_ngram": _oracle_dedup_ngram(),
    "decontaminate": ORACLE_DECONTAMINATE,
    "dedup_lsh_portable": _oracle_lsh_portable(),
    "dedup_components": ORACLE_DEDUP_COMPONENTS,
    "sim_cosine_topk_ann": _oracle_sim_cosine_topk_ann(),
    "link_analysis": _oracle_link_analysis(),
}


# ---------------------------------------------------------------------------
# Crawl-engine queries
# ---------------------------------------------------------------------------


def q_pages_meta(spark, sf_dir):
    """The synthetic pages table minus the rendered html — URL/host/
    timestamp derivation is SQL-expressible, so the corpus layer itself
    gets an oracle.

    r4 widening: the charset sniff + tolerant decode layer
    (functions/encoding.py — the byte boundary every WARC page crosses
    before any text operator, mirroring the reference's charset
    detection seam, async_crawler_strategy.py:2387-2389) rides the same
    row: each page deterministically gets raw bytes in one of seven
    real-crawl encoding shapes (plain utf-8, meta windows-1252 /
    iso-8859-1 labels, an XML declaration, a UTF-8 BOM, a bogus label,
    BOM'd UTF-16LE), and the query emits the sniffed label plus the
    decoded text. The oracle mirrors the construction analytically —
    the corpus being single-spaced ASCII means every expected decode is
    exactly the constructed string."""
    from .session import ensure_runtime_confs

    # the decode layer needs the legacy-charset confs even on a session
    # the library did not build (the r4 driver-gate regression)
    ensure_runtime_confs(spark)
    pages = _pages(spark, sf_dir)
    # pages drops doc_id; the synth url embeds it as '/p{doc_id}.html'
    did = F.regexp_extract("url", r"/p(\d+)\.html$", 1).cast("long")
    m = F.pmod(did, F.lit(7))
    s = F.substring("text", 1, 64)
    str_prefix = (
        F.when(m == 0, "<html><body>")
        .when(m == 1, '<meta charset="windows-1252">')
        .when(m == 2, "<meta charset='ISO-8859-1'>")
        .when(m == 3, '<?xml version="1.0" encoding="UTF-8"?>')
        .when(m == 5, '<meta charset="KLINGON-8">')
        .otherwise("")  # 4 and 6: BOM cases, no label prefix
    )
    raw = (
        F.when(m == 4, F.concat(
            F.lit(bytes([0xEF, 0xBB, 0xBF])), F.encode(s, "UTF-8")))
        .when(m == 6, F.encode(F.concat(F.lit("﻿"), s), "UTF-16LE"))
        .otherwise(F.encode(F.concat(str_prefix, s), "UTF-8"))
    )
    return pages.select(
        "url", "warc_ts", "text", "lang",
        sniff_charset(raw).alias("sniffed_charset"),
        decode_html(raw).alias("decoded_text"),
    )


ORACLE_PAGES_META = """
SELECT 'https://h' ||
         CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id % 32 ELSE 0 END AS VARCHAR)
       || '.example.com/' || lang || '/p' || CAST(doc_id AS VARCHAR) || '.html'
         AS url,
       TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS warc_ts,
       text, lang,
       CASE doc_id % 7
         WHEN 1 THEN 'windows-1252'
         WHEN 2 THEN 'windows-1252'
         WHEN 6 THEN 'utf-16le'
         ELSE 'utf-8'
       END AS sniffed_charset,
       CASE doc_id % 7
         WHEN 0 THEN '<html><body>' || substring(text, 1, 64)
         WHEN 1 THEN '<meta charset="windows-1252">' || substring(text, 1, 64)
         WHEN 2 THEN '<meta charset=''ISO-8859-1''>' || substring(text, 1, 64)
         WHEN 3 THEN '<?xml version="1.0" encoding="UTF-8"?>'
                     || substring(text, 1, 64)
         WHEN 5 THEN '<meta charset="KLINGON-8">' || substring(text, 1, 64)
         ELSE substring(text, 1, 64)
       END AS decoded_text
FROM documents
"""


def q_crawl_bfs(spark, sf_dir):
    """Two BFS rounds of the full crawl engine on the synthetic corpus.

    Because the corpus link graph is arithmetic in doc_id, the whole
    two-round crawl — seed ordering, in-round dedup, seen anti-join,
    per-host politeness budgets (floor(16s / 1s) = 16 fetches/host) —
    is mirrored by the SQL oracle below; the per-round semantics are
    additionally pinned by the simulator tests in tests/test_frontier.py.

    r4 widening: the returned rows are REASSEMBLED from the results
    table's snapshot log (the north star's Iceberg-style round
    checkpoints, snaptable.py), whose snapshots are the round commits
    of every crawl — round 0 via time travel to the first snapshot,
    each later round via an incremental scan between consecutive
    snapshots — so the gate row also proves adoption + time travel +
    incremental reads reproduce the crawl outputs bit-exactly."""
    import tempfile
    from functools import reduce

    from pyspark.sql import functions as F

    from .operators.frontier import CrawlConfig, CrawlRun, run_crawl

    pages = _pages(spark, sf_dir)
    seeds = [r["url"] for r in pages.select("url").orderBy("url").limit(5).collect()]
    wd = tempfile.mkdtemp(prefix="crawl_q_")
    cfg = CrawlConfig(max_depth=2, round_seconds=16.0)
    run_crawl(spark, pages, seeds, wd, cfg, max_rounds=2)
    run = CrawlRun(spark, pages, wd, cfg)
    t = run.table("results")
    parts, prev = [], None
    for s in t.snapshots():
        r = int(s["summary"]["round"])
        df_r = (
            t.read(snapshot_id=s["snapshot_id"])
            if prev is None
            else t.incremental(prev, s["snapshot_id"])
        )
        parts.append(df_r.withColumn("round", F.lit(r)))
        prev = s["snapshot_id"]
    results = reduce(lambda a, b: a.unionByName(b), parts)
    return results.select(
        "url", "round", "depth", "fetch_status", "success", "n_links"
    ).orderBy("round", "url")


_PAGE_URL_SQL = (
    "'https://h' || CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id % 32 ELSE 0 END"
    " AS VARCHAR) || '.example.com/' || lang || '/p' || CAST(doc_id AS VARCHAR)"
    " || '.html'"
)

# Round 0 = the 5 lexicographically-first urls (all fetch ok, every
# page harvests exactly 7 links: 3 nav + 3 list + 1 external). Round 1
# = distinct internal outlink targets (d*31 + j*97 + 7 mod n) minus the
# seeds, capped at 16 per host (round_seconds=16 / BASE_DELAY=1; the
# all-success round-0 fold keeps delay at the 1.0 floor), row_number
# ordered by (priority desc = all 0.0, url asc).
ORACLE_CRAWL_BFS = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
pages AS (SELECT doc_id, {_PAGE_URL_SQL} AS url,
                 'h' || CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id % 32
                             ELSE 0 END AS VARCHAR) || '.example.com' AS host
          FROM documents),
seeds AS (SELECT doc_id, url FROM pages ORDER BY url LIMIT 5),
r0 AS (SELECT url, 0 AS round, 0 AS depth, 'fetched' AS fetch_status,
              TRUE AS success, 7 AS n_links
       FROM seeds),
tgts AS (SELECT DISTINCT p.url, p.host
         FROM seeds s
         CROSS JOIN generate_series(0, 5) g(j)
         JOIN pages p
           ON p.doc_id = (s.doc_id * 31 + g.j * 97 + 7) % (SELECT n FROM nn)),
fresh AS (SELECT url, host FROM tgts
          WHERE url NOT IN (SELECT url FROM seeds)),
sel AS (SELECT url FROM (
          SELECT url, row_number() OVER (PARTITION BY host ORDER BY url) AS rn
          FROM fresh)
        WHERE rn <= 16),
r1 AS (SELECT url, 1 AS round, 1 AS depth, 'fetched' AS fetch_status,
              TRUE AS success, 7 AS n_links
       FROM sel)
SELECT * FROM r0 UNION ALL SELECT * FROM r1
"""

QUERIES["pages_meta"] = q_pages_meta
QUERIES["crawl_bfs"] = q_crawl_bfs
ORACLES["pages_meta"] = ORACLE_PAGES_META
ORACLES["crawl_bfs"] = ORACLE_CRAWL_BFS


# ---------------------------------------------------------------------------
# Chunkers (X5)
# ---------------------------------------------------------------------------

_WORDS_SQL = "list_filter(str_split_regex(text, '\\s+'), x -> x <> '')"


def q_chunk_fixed(spark, sf_dir):
    from .functions.chunking import chunk_table, fixed_word_chunks

    df = _docs(spark, sf_dir)
    return chunk_table(df, "text", fixed_word_chunks("text", 7), ["doc_id"])


ORACLE_CHUNK_FIXED = f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
u AS (SELECT doc_id, ws,
             unnest(generate_series(0, len(ws) - 1, 7)) AS s,
             generate_subscripts(generate_series(0, len(ws) - 1, 7), 1) - 1 AS i
      FROM w WHERE len(ws) > 0)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       array_to_string(ws[s + 1 : s + 7], ' ') AS chunk
FROM u
"""


def q_chunk_sliding(spark, sf_dir):
    from .functions.chunking import chunk_table, sliding_word_chunks

    df = _docs(spark, sf_dir)
    return chunk_table(
        df, "text", sliding_word_chunks("text", window_size=10, step=4), ["doc_id"]
    )


ORACLE_CHUNK_SLIDING = f"""
WITH w AS (SELECT doc_id, text, {_WORDS_SQL} AS ws FROM documents),
p AS (SELECT doc_id, text, ws, len(ws) AS n FROM w)
SELECT doc_id, CAST(s // 4 AS INT) AS chunk_idx,
       array_to_string(ws[s + 1 : s + 10], ' ') AS chunk
FROM (SELECT doc_id, ws, unnest(generate_series(0, n - 10, 4)) AS s
      FROM p WHERE n > 10)
UNION ALL
SELECT doc_id, CAST((n - 10) // 4 + 1 AS INT),
       array_to_string(ws[n - 9 : n], ' ')
FROM p WHERE n > 10 AND ((n - 10) // 4) * 4 + 10 < n
UNION ALL
SELECT doc_id, 0, text FROM p WHERE n <= 10
"""


def q_chunk_overlap(spark, sf_dir):
    from .functions.chunking import chunk_table, overlapping_window_chunks

    df = _docs(spark, sf_dir)
    return chunk_table(
        df, "text", overlapping_window_chunks("text", window_size=12, overlap=3),
        ["doc_id"],
    )


ORACLE_CHUNK_OVERLAP = f"""
WITH w AS (SELECT doc_id, text, {_WORDS_SQL} AS ws FROM documents),
p AS (SELECT doc_id, text, ws, len(ws) AS n,
             1 + CAST(ceil((len(ws) - 12) / 9.0) AS INT) AS nc
      FROM w)
SELECT doc_id, CAST(k AS INT) AS chunk_idx,
       array_to_string(ws[k * 9 + 1 : k * 9 + 12], ' ') AS chunk
FROM (SELECT doc_id, ws, unnest(generate_series(0, nc - 1)) AS k
      FROM p WHERE n > 12)
UNION ALL
SELECT doc_id, 0, text FROM p WHERE n <= 12
"""


def q_chunk_sentence(spark, sf_dir):
    """Sentence chunker over a synthetic sentence-ified corpus (the raw
    corpus has no punctuation): every 7-word group becomes a period-
    terminated sentence, which the chunker must recover with
    first-occurrence dedup."""
    from .functions.chunking import (
        chunk_table,
        fixed_word_chunks,
        sentence_chunks,
    )

    df = _docs(spark, sf_dir).withColumn(
        "_sent",
        F.concat(F.array_join(fixed_word_chunks("text", 7), ". "), F.lit(".")),
    )
    return chunk_table(df, "_sent", sentence_chunks("_sent"), ["doc_id"])


ORACLE_CHUNK_SENTENCE = f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
u AS (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 1, 7)) AS s
      FROM w WHERE len(ws) > 0),
c AS (SELECT doc_id, s,
             array_to_string(ws[s + 1 : s + 7], ' ') || '.' AS chunk
      FROM u),
f AS (SELECT doc_id, chunk, min(s) AS fs FROM c GROUP BY doc_id, chunk)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY fs) - 1 AS INT)
         AS chunk_idx,
       chunk
FROM f
"""


def q_chunk_regex(spark, sf_dir):
    from .functions.chunking import chunk_table, regex_chunks

    df = _docs(spark, sf_dir)
    return chunk_table(df, "text", regex_chunks("text", [" the "]), ["doc_id"])


ORACLE_CHUNK_REGEX = """
SELECT doc_id,
       generate_subscripts(str_split_regex(text, ' the '), 1) - 1 AS chunk_idx,
       unnest(str_split_regex(text, ' the ')) AS chunk
FROM documents
"""


def q_chunk_topic(spark, sf_dir):
    """TextTiling-style topic segmentation (X5's last chunker; reference
    chunking_strategy.py:112-161). Integer-arithmetic scoring makes the
    whole pipeline — pseudo-sentences, block-overlap similarity, depth
    scores, mean-threshold boundaries — replayable in SQL."""
    from .functions.chunking import topic_chunk_table

    df = _docs(spark, sf_dir)
    return topic_chunk_table(df, "text", ["doc_id"], w=20, k=2)


ORACLE_CHUNK_TOPIC = """
WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS ws FROM documents),
p AS (SELECT doc_id, ws, len(ws) AS n,
             CAST(ceil(len(ws) / 20.0) AS BIGINT) AS m FROM w),
g AS (SELECT doc_id, ws, n, m, unnest(generate_series(0, m - 2)) AS i
      FROM p WHERE m >= 2),
s AS (SELECT doc_id, n, i,
             len(list_intersect(
               ws[greatest(i - 1, 0) * 20 + 1 : (i + 1) * 20],
               ws[(i + 1) * 20 + 1 : (i + 3) * 20])) AS sim
      FROM g),
d AS (SELECT doc_id, n, i,
             greatest(coalesce(lag(sim) OVER win, sim) - sim, 0)
             + greatest(coalesce(lead(sim) OVER win, sim) - sim, 0) AS depth
      FROM s WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
t AS (SELECT doc_id, n, i, depth,
             sum(depth) OVER (PARTITION BY doc_id) AS total,
             count(*) OVER (PARTITION BY doc_id) AS gcnt
      FROM d),
b AS (SELECT doc_id, (i + 1) * 20 AS off FROM t WHERE depth * gcnt > total),
bagg AS (SELECT doc_id, list(off ORDER BY off) AS bs FROM b GROUP BY doc_id),
st AS (SELECT p.doc_id, p.ws, p.n,
              list_prepend(CAST(0 AS BIGINT),
                           coalesce(bagg.bs, CAST([] AS BIGINT[]))) AS starts,
              list_append(coalesce(bagg.bs, CAST([] AS BIGINT[])),
                          CAST(p.n AS BIGINT)) AS ends
       FROM p LEFT JOIN bagg USING (doc_id)),
u AS (SELECT doc_id, ws,
             unnest(starts) AS cs, unnest(ends) AS ce,
             generate_subscripts(starts, 1) - 1 AS idx
      FROM st)
SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
       array_to_string(ws[cs + 1 : ce], ' ') AS chunk
FROM u WHERE ce > cs
"""


# Chunkers are gate-checked as two tagged unions (+ chunk_topic) so the
# catalog fits the driver's 50-entry window; the component entries keep
# their own oracles inside the union.


def q_chunk_word_windows(spark, sf_dir):
    """FixedLengthWord + SlidingWindow + (regex-)NlpSentence chunkers."""
    tag = lambda df, t: df.select(F.lit(t).alias("strategy"), "*")  # noqa: E731
    return (
        tag(q_chunk_fixed(spark, sf_dir), "fixed")
        .unionByName(tag(q_chunk_sliding(spark, sf_dir), "sliding"))
        .unionByName(tag(q_chunk_sentence(spark, sf_dir), "sentence"))
    )


ORACLE_CHUNK_WORD_WINDOWS = f"""
SELECT 'fixed' AS strategy, * FROM ({ORACLE_CHUNK_FIXED})
UNION ALL SELECT 'sliding', * FROM ({ORACLE_CHUNK_SLIDING})
UNION ALL SELECT 'sentence', * FROM ({ORACLE_CHUNK_SENTENCE})
"""


def q_chunk_boundaries(spark, sf_dir):
    """OverlappingWindow + Regex chunkers."""
    tag = lambda df, t: df.select(F.lit(t).alias("strategy"), "*")  # noqa: E731
    return tag(q_chunk_overlap(spark, sf_dir), "overlap").unionByName(
        tag(q_chunk_regex(spark, sf_dir), "regex")
    )


ORACLE_CHUNK_BOUNDARIES = f"""
SELECT 'overlap' AS strategy, * FROM ({ORACLE_CHUNK_OVERLAP})
UNION ALL SELECT 'regex', * FROM ({ORACLE_CHUNK_REGEX})
"""


# ---------------------------------------------------------------------------
# Head-section analytics (F5/F6/F8)
# ---------------------------------------------------------------------------

_TITLE_SQL = "substr(text, 1, 40 + doc_id % 35)"
_DESC_SQL = "substr(text, 10, 100 + doc_id % 120)"
_HEAD_SQL = (
    "'<head><title>' || " + _TITLE_SQL + " || '</title>'"
    " || '<meta name=\"description\" content=\"' || " + _DESC_SQL + " || '\">'"
    " || '<meta name=\"keywords\" content=\"spark data\">'"
    " || CASE WHEN doc_id % 5 = 0 THEN '<meta name=\"robots\" content=\"noindex\">'"
    "         ELSE '<meta name=\"robots\" content=\"index,follow\">' END"
    " || CASE WHEN doc_id % 4 = 0 THEN"
    " '<meta property=\"canonical\" content=\"https://example.com/p' ||"
    " CAST(doc_id AS VARCHAR) || '\">' ELSE '' END"
    " || CASE WHEN doc_id % 3 = 0 THEN"
    " '<script type=\"application/ld+json\">{}</script>' ELSE '' END"
    " || '</head><body>junk</body>'"
)
_HURL_SQL = "'https://example.com/p' || CAST(doc_id AS VARCHAR)"


def _head_col():
    title = F.expr("substr(text, 1, 40 + doc_id % 35)")
    desc = F.expr("substr(text, 10, 100 + doc_id % 120)")
    return F.concat(
        F.lit("<head><title>"), title, F.lit("</title>"),
        F.lit('<meta name="description" content="'), desc, F.lit('">'),
        F.lit('<meta name="keywords" content="spark data">'),
        F.when(_d() % 5 == 0, '<meta name="robots" content="noindex">')
        .otherwise('<meta name="robots" content="index,follow">'),
        F.when(
            _d() % 4 == 0,
            F.concat(
                F.lit('<meta property="canonical" content="https://example.com/p'),
                _d().cast("string"), F.lit('">'),
            ),
        ).otherwise(""),
        F.when(_d() % 3 == 0, '<script type="application/ld+json">{}</script>')
        .otherwise(""),
        F.lit("</head><body>junk</body>"),
    )


ORACLE_HEAD_META = f"""
SELECT doc_id,
       {_TITLE_SQL} AS title,
       {_DESC_SQL} AS description,
       CASE WHEN doc_id % 5 = 0 THEN 'noindex' ELSE 'index,follow' END AS robots,
       CASE WHEN doc_id % 4 = 0 THEN 'https://example.com/p' || CAST(doc_id AS VARCHAR)
            ELSE '' END AS canonical
FROM documents
"""


ORACLE_HEAD_SEO = f"""
WITH h AS (
  SELECT doc_id,
         {_TITLE_SQL} AS title,
         {_DESC_SQL} AS descr,
         {_HURL_SQL} AS url
  FROM documents),
s AS (
  SELECT doc_id,
    CASE WHEN length(title) BETWEEN 50 AND 60 THEN 1.0
         WHEN length(title) BETWEEN 40 AND 49 OR length(title) BETWEEN 61 AND 70 THEN 0.7
         ELSE 0.3 END AS s_tl,
    least(len(regexp_extract_all(title, '(?i)\\b(data|spark)\\b')) * 0.3, 1.0) AS s_kw,
    CASE WHEN length(descr) BETWEEN 140 AND 160 THEN 1.0
         WHEN length(descr) BETWEEN 120 AND 200 THEN 0.5
         ELSE 0.2 END AS s_d,
    CASE WHEN doc_id % 4 = 0 THEN 1.0 ELSE 0.5 END AS s_c,
    CASE WHEN doc_id % 5 = 0 THEN 0.0 ELSE 1.0 END AS s_r,
    CASE WHEN doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS s_s,
    1.0 AS s_u
  FROM h)
SELECT doc_id,
       round(0.15 * s_tl + 0.18 * s_kw + 0.12 * s_d + 0.10 * s_c
             + 0.20 * s_r + 0.10 * s_s + 0.15 * s_u, 6) AS seo
FROM s
"""


def _oracle_head_relevance() -> str:
    # weighted doc: title*3 + ' ' + desc*2 + ' ' + keywords + ' ' +
    # all meta contents (description, keywords, robots[, canonical])
    doc = (
        "repeat(" + _TITLE_SQL + ", 3) || ' ' || repeat(" + _DESC_SQL + ", 2)"
        " || ' ' || 'spark data' || ' ' || "
        + _DESC_SQL
        + " || ' ' || 'spark data' || ' ' ||"
        " CASE WHEN doc_id % 5 = 0 THEN 'noindex' ELSE 'index,follow' END ||"
        " CASE WHEN doc_id % 4 = 0 THEN ' https://example.com/p' ||"
        " CAST(doc_id AS VARCHAR) ELSE '' END"
    )
    toks = f"list_filter(str_split_regex(lower({doc}), '\\s+'), x -> x <> '')"
    parts = []
    for term in sorted({"spark", "data", "table"}):
        tf = f"CAST(len(list_filter(toks, x -> x = '{term}')) AS DOUBLE)"
        parts.append(
            f"(ln(2.0 / ({tf} + 0.5) + 1.0) * ({tf} * 2.2)"
            f" / ({tf} + 1.2 * (1.0 - 0.75 + 0.75 * (dl / 1000))))"
        )
    expr = " + ".join(parts)
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
p AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM t)
SELECT doc_id, round(0.0 + {expr}, 6) AS relevance FROM p
"""


def q_head_analysis(spark, sf_dir):
    """HeadPeekr composite (F5 ContentRelevance + F6 SEOFilter + F8
    head-section parse), the former head_meta/head_seo/head_relevance
    entries folded into one driver-gate row — one head parse, all three
    analytics."""
    from .functions.headpeek import (
        content_relevance_score,
        head_section,
        head_title,
        meta_value,
        seo_score,
    )

    df = _docs(spark, sf_dir).withColumn("_head", head_section(_head_col()))
    url = F.expr("'https://example.com/p' || CAST(doc_id AS STRING)")
    return df.select(
        "doc_id",
        head_title("_head").alias("title"),
        meta_value("_head", "description").alias("description"),
        meta_value("_head", "robots").alias("robots"),
        meta_value("_head", "canonical").alias("canonical"),
        F.round(seo_score("_head", url, keywords=["data", "spark"]), 6).alias("seo"),
        F.round(content_relevance_score("_head", "spark data table"), 6).alias(
            "relevance"
        ),
    )


def _oracle_head_analysis() -> str:
    return f"""
WITH hm AS ({ORACLE_HEAD_META}),
hs AS ({ORACLE_HEAD_SEO}),
hr AS ({_oracle_head_relevance()})
SELECT hm.*, hs.seo, hr.relevance
FROM hm JOIN hs USING (doc_id) JOIN hr USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Corpus BM25 + adaptive aggregates (A4-A8)
# ---------------------------------------------------------------------------


def q_bm25_corpus(spark, sf_dir):
    from .operators.relevance import bm25_scores

    df = _docs(spark, sf_dir)
    out = bm25_scores(df, "text", "doc_id", "spark data batch window")
    # integer micro-units with a boundary guard: float aggregation order
    # differs across engines/environments, and a score landing exactly on
    # a 6th-decimal rounding boundary flips the value hash (r2 gate
    # regression). 1e-9 is far above ulp noise (~1e-10 at this scale) and
    # far below the 0.5 micro-unit boundary, so both sides round alike.
    return out.select(
        "doc_id",
        F.round(F.col("bm25_score") * F.lit(1e6) + F.lit(1e-9), 0)
        .cast("long")
        .alias("bm25_score_u"),
    )


def _oracle_bm25_corpus() -> str:
    q_terms = sorted({"spark", "data", "batch", "window"})
    tf_scores = " + ".join(
        f"""(SELECT coalesce((SELECT idf FROM vf WHERE t = '{term}'), 0.0))
           * CAST(len(list_filter(toks, x -> x = '{term}')) AS DOUBLE) * 2.5
           / (CAST(len(list_filter(toks, x -> x = '{term}')) AS DOUBLE)
              + 1.5 * (1.0 - 0.75 + 0.75 * (dl / (SELECT avgdl FROM s))))"""
        for term in q_terms
    )
    return f"""
WITH d AS (SELECT doc_id,
                  list_filter(str_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
           FROM documents),
p AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d),
s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM p),
t AS (SELECT doc_id, unnest(toks) AS t FROM d),
v AS (SELECT t, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM t GROUP BY t),
vi AS (SELECT t, ln((SELECT n FROM s) - df + 0.5) - ln(df + 0.5) AS idf_raw FROM v),
e AS (SELECT 0.25 * avg(idf_raw) AS fl FROM vi),
vf AS (SELECT t, CASE WHEN idf_raw < 0 THEN (SELECT fl FROM e) ELSE idf_raw END AS idf
       FROM vi),
raw AS (SELECT doc_id, 0.0 + {tf_scores} AS sc FROM p),
mm AS (SELECT min(sc) AS mn, max(sc) AS mx FROM raw)
SELECT doc_id,
       CAST(round((CASE WHEN (SELECT mx FROM mm) = (SELECT mn FROM mm) THEN 0.5
                        ELSE (sc - (SELECT mn FROM mm))
                             / ((SELECT mx FROM mm) - (SELECT mn FROM mm)) END)
                  * 1e6 + 1e-9) AS BIGINT)
         AS bm25_score_u
FROM raw
"""


def q_adaptive_metrics(spark, sf_dir):
    from .operators.relevance import confidence

    df = _docs(spark, sf_dir).withColumn("round", _d() % 5)
    out = confidence(df, "text", "doc_id", "round", "spark data")
    return out.select(
        F.round("coverage", 6).alias("coverage"),
        F.round("consistency", 6).alias("consistency"),
        F.round("saturation", 6).alias("saturation"),
        F.round("confidence", 6).alias("confidence"),
    )


def _oracle_adaptive_metrics() -> str:
    # the AdaptiveCrawler tokenizer (adaptive_crawler.py:576-585):
    # punctuation -> space, whitespace split, drop tokens of length <= 2
    toks = (
        "list_filter(str_split_regex("
        "regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+'),"
        " x -> len(x) > 2)"
    )
    return f"""
WITH d AS (SELECT doc_id, doc_id % 5 AS r, {toks} AS toks FROM documents),
t AS (SELECT doc_id, r, unnest(toks) AS t FROM d),
stats AS (SELECT t, CAST(count(*) AS DOUBLE) AS tf,
                 CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
          FROM t GROUP BY t),
sc AS (SELECT max(tf) AS max_tf FROM stats),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
term_score AS (
  SELECT
    coalesce((SELECT (df / (SELECT n FROM nd))
                     * (1.0 + 0.5 * ln(1.0 + tf) / ln(1.0 + (SELECT max_tf FROM sc)))
              FROM stats WHERE t = 'data'), 0.0) AS s_data,
    coalesce((SELECT (df / (SELECT n FROM nd))
                     * (1.0 + 0.5 * ln(1.0 + tf) / ln(1.0 + (SELECT max_tf FROM sc)))
              FROM stats WHERE t = 'spark'), 0.0) AS s_spark),
cov AS (SELECT least(1.0, sqrt((s_data + s_spark) / 2.0)) AS coverage FROM term_score),
ts AS (SELECT DISTINCT doc_id, t FROM t),
sizes AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS ns FROM ts GROUP BY doc_id),
inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(count(*) AS DOUBLE) AS i
          FROM ts a JOIN ts b ON a.t = b.t AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
jac AS (SELECT sum(i / (sa.ns + sb.ns - i)) AS sj
        FROM inter JOIN sizes sa ON inter.ia = sa.doc_id
                   JOIN sizes sb ON inter.ib = sb.doc_id),
-- denominator counts only docs with a nonempty term set (the
-- reference excludes pairs where either side is empty); no pair -> 0
mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM sizes),
cons AS (SELECT CASE WHEN (SELECT m FROM mm) >= 2
                THEN coalesce(sj, 0.0)
                     / ((SELECT m FROM mm) * ((SELECT m FROM mm) - 1) / 2.0)
                ELSE 0.0 END AS consistency FROM jac),
first_seen AS (SELECT t, min(r) AS fr FROM t GROUP BY t),
-- rounds discovering nothing still enter the history as 0 (the
-- reference's update_state appends 0 for such documents)
hist AS (SELECT rr.fr, coalesce(h.new_terms, 0.0) AS new_terms
         FROM (SELECT DISTINCT r AS fr FROM d) rr
         LEFT JOIN (SELECT fr, CAST(count(*) AS DOUBLE) AS new_terms
                    FROM first_seen GROUP BY fr) h USING (fr)),
sat AS (SELECT greatest(0.0, least(
          1.0 - (CASE WHEN last_v > 0 THEN last_v ELSE 1 END)
                / (CASE WHEN first_v > 0 THEN first_v ELSE 1 END), 1.0)) AS saturation
        FROM (SELECT (SELECT new_terms FROM hist ORDER BY fr LIMIT 1) AS first_v,
                     (SELECT new_terms FROM hist ORDER BY fr DESC LIMIT 1) AS last_v))
SELECT round(coverage, 6) AS coverage,
       round(consistency, 6) AS consistency,
       round(saturation, 6) AS saturation,
       round(0.4 * coverage + 0.3 * consistency + 0.3 * saturation, 6) AS confidence
FROM cov, cons, sat
"""


def q_adaptive_embedding(spark, sf_dir):
    """Embedding-strategy adaptive crawl link ranking (reference
    EmbeddingStrategy adaptive_crawler.py:804-921): query variations,
    KB and candidate links all drawn deterministically from the
    embeddings table through the pluggable-embedder seam."""
    from .operators.adaptive_embedding import (
        coverage_gaps,
        select_links_embedding,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kb = emb.filter(F.col("vec_id") % 5 == 1)
    cand = emb.filter(F.col("vec_id") % 5 == 2).select(
        F.col("vec_id").alias("link_id"), "embedding"
    )
    gaps = coverage_gaps(kb, queries)
    out = select_links_embedding(cand, gaps, kb)
    return out.select("link_id", F.round("link_score", 6).alias("link_score"))


_COS_SQL = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})))"
)

ORACLE_ADAPTIVE_EMBEDDING = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
kb AS (SELECT v AS kv FROM e WHERE vec_id % 5 = 1),
cand AS (SELECT vec_id AS link_id, v AS cv FROM e WHERE vec_id % 5 = 2),
gaps AS (SELECT qid, qv,
                min(1 - {_COS_SQL.format(a="qv", b="kv")}) AS gap
         FROM q, kb GROUP BY qid, qv),
pair AS (SELECT link_id, gap,
                1 - {_COS_SQL.format(a="cv", b="qv")} AS nd
         FROM cand, gaps),
per AS (SELECT link_id,
               sum(CASE WHEN gap > 0.2 AND nd < gap
                        THEN (gap - nd) * 2 ELSE 0 END) AS total,
               sum(CASE WHEN gap > 0.2 THEN 1 ELSE 0 END) AS nhelp
        FROM pair GROUP BY link_id),
ov AS (SELECT link_id, max({_COS_SQL.format(a="cv", b="kv")}) AS maxsim
       FROM cand, kb GROUP BY link_id)
SELECT per.link_id,
       round((CASE WHEN nhelp > 0 THEN total / nhelp ELSE 0 END)
             * (1 - CASE WHEN maxsim > 0.85
                         THEN (maxsim - 0.85) * 2 ELSE 0 END), 6)
         AS link_score
FROM per JOIN ov ON per.link_id = ov.link_id
"""


QUERIES.update(
    {
        "adaptive_embedding": q_adaptive_embedding,
        "chunk_word_windows": q_chunk_word_windows,
        "chunk_boundaries": q_chunk_boundaries,
        "chunk_topic": q_chunk_topic,
        "head_analysis": q_head_analysis,
        "bm25_corpus": q_bm25_corpus,
        "adaptive_metrics": q_adaptive_metrics,
    }
)
ORACLES.update(
    {
        "adaptive_embedding": ORACLE_ADAPTIVE_EMBEDDING,
        "chunk_word_windows": ORACLE_CHUNK_WORD_WINDOWS,
        "chunk_boundaries": ORACLE_CHUNK_BOUNDARIES,
        "chunk_topic": ORACLE_CHUNK_TOPIC,
        "head_analysis": _oracle_head_analysis(),
        "bm25_corpus": _oracle_bm25_corpus(),
        "adaptive_metrics": _oracle_adaptive_metrics(),
    }
)


# ---------------------------------------------------------------------------
# Content filters (§2.9) + JSON-CSS schema extraction (X8)
# ---------------------------------------------------------------------------


def q_schema_extract_pages(spark, sf_dir):
    """JSON-CSS extraction over the synthetic pages corpus; the h1/img
    construction is analytic, so the oracle rebuilds it in SQL."""
    from .functions.schema_extract import schema_extract_stage

    schema = {
        "baseSelector": "body",
        "fields": [
            {"name": "h1", "selector": "h1", "type": "text"},
            {"name": "img_alt", "selector": "img", "type": "attribute",
             "attribute": "alt"},
            # r3 extended CSS grammar at the gate: positional pseudo,
            # adjacent-sibling combinator, ^= attribute operator
            {"name": "nav_last", "selector": "nav > a:last-child",
             "type": "text"},
            {"name": "after_nav", "selector": "nav + h1", "type": "text"},
            {"name": "item0", "selector": "li > a[title^='target 0']",
             "type": "text"},
        ],
    }
    pages = _pages(spark, sf_dir)
    out = schema_extract_stage(pages, "html", schema)
    return out.select(
        "url",
        F.from_json(
            "extracted_content",
            "array<struct<h1:string,img_alt:string,nav_last:string,"
            "after_nav:string,item0:string>>",
        ).alias("_items"),
    ).select(
        "url",
        F.col("_items")[0]["h1"].alias("h1"),
        F.col("_items")[0]["img_alt"].alias("img_alt"),
        F.col("_items")[0]["nav_last"].alias("nav_last"),
        F.col("_items")[0]["after_nav"].alias("after_nav"),
        F.col("_items")[0]["item0"].alias("item0"),
    )


ORACLE_SCHEMA_EXTRACT_PAGES = """
SELECT 'https://h' ||
         CAST(CASE WHEN doc_id % 4 = 0 THEN doc_id % 32 ELSE 0 END AS VARCHAR)
       || '.example.com/' || lang || '/p' || CAST(doc_id AS VARCHAR) || '.html'
         AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
         array_to_string((str_split(text, ' '))[1:3], ' ') AS h1,
       'figure ' || CAST(doc_id % 7 AS VARCHAR) AS img_alt,
       'link 2' AS nav_last,
       'Doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
         array_to_string((str_split(text, ' '))[1:3], ' ') AS after_nav,
       'item 0' AS item0
FROM documents
"""


def q_schema_extract_xpath(spark, sf_dir):
    """JSON-XPath extraction (X8 true-XPath path) over the synthetic
    pages: child/descendant axes, per-parent positional indexing and an
    attribute predicate, all analytic in doc_id."""
    from .functions.schema_extract import schema_extract_stage

    schema = {
        "baseSelector": "//body",
        "fields": [
            {"name": "h1", "selector": ".//h1", "type": "text"},
            {"name": "nav2", "selector": ".//nav/a[2]", "type": "text"},
            {"name": "titled", "selector": ".//li/a[@title='target 1']",
             "type": "text"},
            {"name": "img_alt", "selector": ".//img", "type": "attribute",
             "attribute": "alt"},
            # r3 extended grammar: contains(.), starts-with, sibling
            # axis + positional, union
            {"name": "ext", "selector": ".//p[contains(., 'External')]/a",
             "type": "text"},
            {"name": "item0",
             "selector": ".//li/a[starts-with(@title, 'target 0')]",
             "type": "text"},
            {"name": "after_list",
             "selector": ".//ul/following-sibling::p[1]", "type": "text"},
            {"name": "heading", "selector": ".//h2 | .//h1", "type": "text"},
            # r3b extended grammar: count(), boolean and + position(),
            # position()=last(), normalize-space(@attr)
            {"name": "row_id", "selector": ".//table[count(tr)=3]/tr[2]/td[2]",
             "type": "text"},
            {"name": "strong_key",
             "selector": ".//p[count(strong)=1 and position()>1]/strong",
             "type": "text"},
            {"name": "nav_last",
             "selector": ".//nav/a[position()=last()]", "type": "text"},
            {"name": "norm2",
             "selector": ".//li/a[normalize-space(@title)='target 2']",
             "type": "text"},
        ],
    }
    pages = _pages(spark, sf_dir)
    out = schema_extract_stage(pages, "html", schema, selector_type="xpath")
    items = F.from_json(
        "extracted_content",
        "array<struct<h1:string,nav2:string,titled:string,img_alt:string,"
        "ext:string,item0:string,after_list:string,heading:string,"
        "row_id:string,strong_key:string,nav_last:string,norm2:string>>",
    )
    first = items[0]
    return out.select(
        "url",
        first["h1"].alias("h1"),
        first["nav2"].alias("nav2"),
        first["titled"].alias("titled"),
        first["img_alt"].alias("img_alt"),
        first["ext"].alias("ext"),
        first["item0"].alias("item0"),
        first["after_list"].alias("after_list"),
        first["heading"].alias("heading"),
        first["row_id"].alias("row_id"),
        first["strong_key"].alias("strong_key"),
        first["nav_last"].alias("nav_last"),
        first["norm2"].alias("norm2"),
    )


ORACLE_SCHEMA_EXTRACT_XPATH = f"""
SELECT {_PAGE_URL_SQL} AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
         array_to_string((str_split(text, ' '))[1:3], ' ') AS h1,
       'link 1' AS nav2,
       'item 1' AS titled,
       'figure ' || CAST(doc_id % 7 AS VARCHAR) AS img_alt,
       'partner ' || CAST(doc_id % 5 AS VARCHAR) AS ext,
       'item 0' AS item0,
       'External: partner ' || CAST(doc_id % 5 AS VARCHAR) AS after_list,
       'Doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
         array_to_string((str_split(text, ' '))[1:3], ' ') AS heading,
       CASE WHEN doc_id % 5 = 0 THEN CAST(doc_id AS VARCHAR) END AS row_id,
       CASE WHEN doc_id % 3 = 0 THEN 'key' END AS strong_key,
       'link 2' AS nav_last,
       'item 2' AS norm2
FROM documents
"""


def q_content_fit_pruning(spark, sf_dir):
    """Pruning fit-markdown over the pages corpus.

    The oracle mirrors the *selection* semantics, which are analytic on
    the synthetic structure: nav/script drop via the excluded-tag set,
    li and img prune below the 0.48 composite threshold (the emptied ul
    then fails the nonempty-text block test), every other top-level
    element scores safely above it -> surviving block count = 5 fixed
    (h1 + 3 paragraphs + external-link p) plus the %5 table, %7 pre and
    %11 blockquote, with the h1 always serialized first. Byte-level
    output is pinned separately by the ported reference tests and the
    markdown goldens."""
    from .functions.content_filter import fit_markdown_stage

    pages = _pages(spark, sf_dir)
    out = fit_markdown_stage(pages, html_col="html", url_col="url")
    # one "<div>" wrapper per surviving block (block bodies never emit
    # a div; splitting on newline would miscount multi-line <pre>)
    n_blocks = F.size(F.split("fit_html", F.lit("<div>"), -1)) - 1
    return out.select(
        "url",
        n_blocks.alias("n_blocks"),
        F.element_at(F.split("fit_html", "\n"), 1).alias("first_block"),
    )


ORACLE_CONTENT_FIT_PRUNING = f"""
SELECT {_PAGE_URL_SQL} AS url,
       CAST(5 + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
              + (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
              + (CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS INT)
         AS n_blocks,
       '<div><h1>Doc ' || CAST(doc_id AS VARCHAR) || ': '
         || array_to_string((str_split(text, ' '))[1:3], ' ')
         || '</h1></div>' AS first_block
FROM documents
"""


def q_content_fit_bm25(spark, sf_dir):
    from .functions.content_filter import fit_markdown_stage

    pages = _pages(spark, sf_dir)
    out = fit_markdown_stage(
        pages, html_col="html", url_col="url", filter_type="bm25",
        bm25_threshold=0.5,
    )
    return out.select(
        "url",
        F.length("fit_html").alias("fit_html_len"),
        F.length("fit_markdown").alias("fit_md_len"),
    )


def q_content_fit_bm25_nostem(spark, sf_dir):
    """BM25 fit-content selection with stemming off — the variant whose
    every stage (page-query extraction, block-walk chunking,
    clean_tokens, BM25Okapi with epsilon idf-flooring, priority-tag
    weighting, thresholding) is mirrored exactly by the SQL oracle over
    the synthetic pages' enumerable chunk list. The stemming-on default
    stays rows-only (Porter2 isn't SQL-expressible) and is pinned by
    the ported reference tests + tests/test_stemmer.py."""
    from .functions.content_filter import fit_markdown_stage

    pages = _pages(spark, sf_dir)
    out = fit_markdown_stage(
        pages, html_col="html", url_col="url", filter_type="bm25",
        bm25_threshold=0.5, use_stemming=False,
    )
    n_blocks = F.size(F.split("fit_html", F.lit("<div>"), -1)) - 1
    return out.select("url", n_blocks.alias("n_blocks"))


def _oracle_content_fit_bm25_nostem() -> str:
    from .functions.content_filter import NOISE, STOP_WORDS

    stop = sorted(STOP_WORDS | NOISE)
    stop_sql = ", ".join("'" + w.replace("'", "''") + "'" for w in stop)
    keep = (
        "list_filter(str_split_regex(lower({t}), '\\s+'), "
        f"x -> length(x) > 2 AND x NOT IN ({stop_sql}))"
    )
    return f"""
WITH w AS (SELECT doc_id, lang, text, regexp_split_to_array(text, ' ') AS ws
           FROM documents),
p AS (SELECT doc_id, lang, text, ws, len(ws) AS n, len(ws) // 3 AS stp FROM w),
-- the block-walk chunk list of every synthetic page, in document order
chunks AS (
  SELECT doc_id, 0 AS ord, 'link 0|link 1|link 2' AS ctext, 'nav' AS tag FROM p
  UNION ALL
  SELECT doc_id, 1,
         'Doc ' || CAST(doc_id AS VARCHAR) || ': '
           || array_to_string(ws[1:3], ' '), 'h1' FROM p
  UNION ALL
  SELECT doc_id, 2 + k,
         array_to_string(ws[k * stp + 1 : (k + 1) * stp], ' ')
           || CASE WHEN k = 1 AND doc_id % 3 = 0 THEN 'keysection'
                   ELSE '' END,
         'p'
  FROM p, unnest([0, 1, 2]) t(k)
  UNION ALL
  SELECT doc_id, 5 + k, 'item ' || CAST(k AS VARCHAR), 'li'
  FROM p, unnest([0, 1, 2]) t(k)
  UNION ALL
  SELECT doc_id, 8,
         'External:partner ' || CAST(doc_id % 5 AS VARCHAR), 'p' FROM p
  UNION ALL
  SELECT doc_id, 9, 'k', 'th' FROM p WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 10, 'v', 'th' FROM p WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 11, 'id', 'td' FROM p WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 12, CAST(doc_id AS VARCHAR), 'td' FROM p WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 13, 'lang', 'td' FROM p WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 14, lang, 'td' FROM p WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 15,
         'value = ' || CAST(doc_id AS VARCHAR) || ' lang = ''' || lang || '''',
         'pre' FROM p WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, 16, array_to_string(ws[1:5], ' '), 'blockquote'
  FROM p WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id, 17, 'var tracker = 1;', 'body' FROM p),
tok AS (SELECT doc_id, ord, tag, {keep.format(t="ctext")} AS toks FROM chunks),
cl AS (SELECT doc_id, ord, tag, toks, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
st AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS nchunks, avg(dl) AS avgdl
       FROM cl GROUP BY doc_id),
-- per-page vocabulary idf with rank_bm25's epsilon flooring
voc AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS df
        FROM (SELECT doc_id, ord, unnest(list_distinct(toks)) AS t FROM cl)
        GROUP BY doc_id, t),
vraw AS (SELECT v.doc_id, v.t,
                ln(s.nchunks - v.df + 0.5) - ln(v.df + 0.5) AS idf_raw
         FROM voc v JOIN st s ON v.doc_id = s.doc_id),
eps AS (SELECT doc_id, 0.25 * avg(idf_raw) AS fl FROM vraw GROUP BY doc_id),
vf AS (SELECT vraw.doc_id, t,
              CASE WHEN idf_raw < 0 THEN eps.fl ELSE idf_raw END AS idf
       FROM vraw JOIN eps ON vraw.doc_id = eps.doc_id),
-- page query = title + h1 (identical) + meta description, cleaned,
-- multiplicity preserved (BM25Okapi scores each query token occurrence)
q0 AS (SELECT doc_id,
              {keep.format(
                  t="'Doc ' || CAST(doc_id AS VARCHAR) || ': ' "
                    "|| array_to_string(ws[1:3], ' ')")} AS tq,
              {keep.format(t="array_to_string(ws[1:8], ' ')")} AS dq
       FROM p),
qt AS (SELECT doc_id, unnest(list_concat(list_concat(tq, tq), dq)) AS t
       FROM q0),
-- per (chunk, query-token-occurrence) BM25 contribution
contrib AS (
  SELECT cl.doc_id, cl.ord, cl.tag,
         vf.idf * (CAST(len(list_filter(cl.toks, x -> x = qt.t)) AS DOUBLE)
                   * 2.5)
           / (CAST(len(list_filter(cl.toks, x -> x = qt.t)) AS DOUBLE)
              + 1.5 * (1.0 - 0.75 + 0.75 * cl.dl / st.avgdl)) AS sc
  FROM cl
  JOIN st ON cl.doc_id = st.doc_id
  JOIN qt ON qt.doc_id = cl.doc_id
  JOIN vf ON vf.doc_id = cl.doc_id AND vf.t = qt.t),
scores AS (SELECT doc_id, ord, tag, coalesce(sum(sc), 0.0) AS score
           FROM contrib GROUP BY doc_id, ord, tag),
sel AS (SELECT c.doc_id,
               CASE WHEN coalesce(s.score, 0.0)
                         * (CASE c.tag WHEN 'h1' THEN 5.0 WHEN 'th' THEN 1.5
                                       WHEN 'pre' THEN 1.5
                                       WHEN 'blockquote' THEN 2.0
                                       ELSE 1.0 END) >= 0.5
                    THEN 1 ELSE 0 END AS hit
        FROM chunks c LEFT JOIN scores s
          ON c.doc_id = s.doc_id AND c.ord = s.ord)
SELECT {_PAGE_URL_SQL} AS url,
       CAST((SELECT sum(hit) FROM sel WHERE sel.doc_id = documents.doc_id)
            AS INT) AS n_blocks
FROM documents
"""


QUERIES.update(
    {
        "schema_extract_pages": q_schema_extract_pages,
        "schema_extract_xpath": q_schema_extract_xpath,
        "content_fit_bm25_nostem": q_content_fit_bm25_nostem,
        "content_fit_pruning": q_content_fit_pruning,
    }
)
# content_fit_bm25 (stemming on, the production default) is pytest-only:
# Porter2 isn't SQL-expressible; the rest of its pipeline is fully
# oracle-checked through content_fit_bm25_nostem above and the stemmer
# itself by tests/test_stemmer.py against the spec's worked examples.
PYTEST_ONLY_QUERIES["content_fit_bm25"] = q_content_fit_bm25
ORACLES["schema_extract_pages"] = ORACLE_SCHEMA_EXTRACT_PAGES
ORACLES["schema_extract_xpath"] = ORACLE_SCHEMA_EXTRACT_XPATH
ORACLES["content_fit_bm25_nostem"] = _oracle_content_fit_bm25_nostem()
ORACLES["content_fit_pruning"] = ORACLE_CONTENT_FIT_PRUNING


# ---------------------------------------------------------------------------
# URL seeder (S5-S8, F9, T5)
# ---------------------------------------------------------------------------

def q_seeder_sitemaps(spark, sf_dir):
    """Sitemapindex recursion + flat sitemaps must enumerate exactly the
    corpus URLs."""
    from .sources.seeder import expand_sitemaps, synthetic_sitemaps

    sitemaps, roots = synthetic_sitemaps(spark, sf_dir)
    return expand_sitemaps(spark, sitemaps, roots).select("url")


ORACLE_SEEDER_SITEMAPS = f"SELECT {_PAGE_URL_SQL} AS url FROM documents"


def q_seeder_pipeline(spark, sf_dir):
    """CC source + nonsense filter + '*.html' pattern (kind='seed'):
    the injected noise (robots/sitemap/admin/hidden/print/short URLs)
    must all be dropped, leaving exactly the corpus URLs with zero
    scores. r4 widening — the WARC/WET/CDXJ archive layer
    (sources/warc.py ISO 28500 from scratch, sources/cdx.py) gets
    driver-checked rows via a full ROUND-TRIP over a deterministic
    archive built from documents: response records re-read through
    ``warc_pages`` (kind='warc' = payload byte length, 'warc_ts' =
    capture-time offset), WET conversion records through ``wet_text``
    (kind='wet' = decoded text length), and the CDXJ sidecar through
    ``read_cdxj`` (kind='cdx' — the url column carries the SURT key,
    v1 the indexed HTTP status). Every value is analytic in doc_id
    (ASCII corpus: byte length == char length), so the whole archive
    round-trip is SQL-oracled."""
    import shutil
    import tempfile

    from .sources.cdx import read_cdxj
    from .sources.seeder import seed_urls, synthetic_cc_index
    from .sources.warc import warc_pages, wet_text, write_warc, write_wet

    cc = synthetic_cc_index(spark, sf_dir)
    seeds = seed_urls(spark, cc_index=cc, pattern="*.html").select(
        F.lit("seed").alias("kind"),
        "url",
        F.col("relevance_score").cast("double").alias("v1"),
    )

    docs = _docs(spark, sf_dir)
    src = docs.select(
        F.concat(F.lit("https://w.example.com/p"), _d().cast("string")).alias(
            "url"
        ),
        F.timestamp_seconds(F.lit(1704067200) + _d()).alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        F.col("text"),
    ).coalesce(4)
    wd = tempfile.mkdtemp(prefix="warc_q_")
    shutil.rmtree(wd, ignore_errors=True)
    write_warc(
        src.select("url", "warc_ts", "html"), f"{wd}/warc", cdx_sidecar=True
    )
    write_wet(src.select("url", "warc_ts", "text"), f"{wd}/wet")

    pages = warc_pages(spark, f"{wd}/warc/*.warc.gz")
    warc_rows = pages.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("warc").alias("kind"),
                    F.col("url"),
                    F.length(F.col("html")).cast("double").alias("v1"),
                ),
                F.struct(
                    F.lit("warc_ts").alias("kind"),
                    F.col("url"),
                    (F.unix_timestamp("warc_ts") - F.lit(1704067200))
                    .cast("double")
                    .alias("v1"),
                ),
            )
        ).alias("_r")
    ).select("_r.*")
    wet_rows = wet_text(spark, f"{wd}/wet/*.warc.wet.gz").select(
        F.lit("wet").alias("kind"),
        "url",
        F.length("text").cast("double").alias("v1"),
    )
    cdx_rows = read_cdxj(spark, f"{wd}/warc/*.cdxj").select(
        F.lit("cdx").alias("kind"),
        F.col("surt").alias("url"),
        F.col("status").cast("double").alias("v1"),
    )
    return (
        seeds.unionByName(warc_rows)
        .unionByName(wet_rows)
        .unionByName(cdx_rows)
    )


ORACLE_SEEDER_PIPELINE = f"""
SELECT 'seed' AS kind, {_PAGE_URL_SQL} AS url, 0.0 AS v1 FROM documents
UNION ALL
SELECT 'warc', 'https://w.example.com/p' || CAST(doc_id AS VARCHAR),
       CAST(length(text) AS DOUBLE) FROM documents
UNION ALL
SELECT 'warc_ts', 'https://w.example.com/p' || CAST(doc_id AS VARCHAR),
       CAST(doc_id AS DOUBLE) FROM documents
UNION ALL
SELECT 'wet', 'https://w.example.com/p' || CAST(doc_id AS VARCHAR),
       CAST(length(text) AS DOUBLE) FROM documents
UNION ALL
SELECT 'cdx', 'com,example,w)/p' || CAST(doc_id AS VARCHAR),
       200.0 FROM documents
"""


QUERIES.update(
    {"seeder_sitemaps": q_seeder_sitemaps, "seeder_pipeline": q_seeder_pipeline}
)
ORACLES.update(
    {
        "seeder_sitemaps": ORACLE_SEEDER_SITEMAPS,
        "seeder_pipeline": ORACLE_SEEDER_PIPELINE,
    }
)


# ---------------------------------------------------------------------------
# Multimodal (training-data pipeline extension; rows-only — RAW1 decode
# is not SQL-expressible)
# ---------------------------------------------------------------------------


def q_media_features(spark, sf_dir):
    """RAW1 decode + channel statistics: the first feat_mean entry is
    arithmetically derivable from the generator (image channel-0 mean,
    audio mean |amplitude|, video middle-frame channel-0 mean), so the
    oracle recomputes it in SQL. phash/embedding stay pytest-pinned
    (bit assembly is not SQL-practical)."""
    from .functions.multimodal import generate_media, media_features_stage

    media = generate_media(spark, sf_dir)
    out = media_features_stage(media)
    return out.select(
        "media_id", "kind",
        F.round(F.element_at("feat_mean", 1), 4).alias("mean0"),
    )


# Generator mirrors (multimodal.generate_media): image pixels are
# (j*(i+7)) % 256 over h*w*3 with h=8+i%8, w=8+(i*3)%8 (channel 0 =
# every 3rd flat index); audio is int16(trunc(sin(t*f)*3000)) with
# f=0.01+(i%10)*0.001 over n=1600+(i%5)*160 samples; video's middle
# frame (index 3 of 6) spans flat indices [144, 192) of (j*(i+3))%256.
ORACLE_MEDIA_FEATURES = """
WITH img AS (
  SELECT doc_id, (8 + doc_id % 8) * (8 + (doc_id * 3) % 8) * 3 AS npx
  FROM documents),
imgm AS (
  SELECT doc_id, avg((j * (doc_id + 7)) % 256) AS m
  FROM (SELECT doc_id, unnest(generate_series(0, npx - 3, 3)) AS j FROM img)
  GROUP BY doc_id),
aud AS (
  SELECT doc_id, 1600 + (doc_id % 5) * 160 AS n,
         0.01 + (doc_id % 10) * 0.001 AS f
  FROM documents WHERE doc_id % 3 = 0),
audm AS (
  SELECT doc_id,
         avg(abs(CAST(trunc(sin(t * f) * 3000) AS SMALLINT))) AS m
  FROM (SELECT doc_id, f, unnest(generate_series(0, n - 1)) AS t FROM aud)
  GROUP BY doc_id),
vidm AS (
  SELECT doc_id, avg((j * (doc_id + 3)) % 256) AS m
  FROM (SELECT doc_id, unnest(generate_series(144, 189, 3)) AS j
        FROM documents WHERE doc_id % 5 = 0)
  GROUP BY doc_id)
SELECT doc_id * 10 AS media_id, 'image' AS kind, round(m, 4) AS mean0 FROM imgm
UNION ALL
SELECT doc_id * 10 + 1, 'audio', round(m, 4) FROM audm
UNION ALL
SELECT doc_id * 10 + 2, 'video', round(m, 4) FROM vidm
"""


def q_media_frames(spark, sf_dir):
    from .functions.multimodal import generate_media, video_frame_sample_stage

    media = generate_media(spark, sf_dir).filter("kind = 'video'")
    return video_frame_sample_stage(media, every_k=2).select(
        "media_id", "frame_idx", F.length("frame").alias("frame_bytes")
    )


# Every video has 6 frames sampled at every_k=2 -> indices 0/2/4; each
# packed RAW1 frame is 17 header + 4*4*3 payload = 65 bytes.
ORACLE_MEDIA_FRAMES = """
SELECT doc_id * 10 + 2 AS media_id, CAST(g.j AS INT) AS frame_idx,
       65 AS frame_bytes
FROM documents, generate_series(0, 4, 2) g(j)
WHERE doc_id % 5 = 0
"""

QUERIES.update({"media_features": q_media_features, "media_frames": q_media_frames})
ORACLES.update(
    {"media_features": ORACLE_MEDIA_FEATURES, "media_frames": ORACLE_MEDIA_FRAMES}
)


# ---------------------------------------------------------------------------
# Link intrinsic scoring (§2.8 link harvest scoring hooks)
# ---------------------------------------------------------------------------


def q_link_intrinsic(spark, sf_dir):
    """Intrinsic link-quality score over derived link rows (page-term
    overlap disabled so every rule mirrors to pure CASE arithmetic)."""
    from .functions.link_scoring import link_intrinsic_score

    df = _docs(spark, sf_dir)
    text = (
        F.when(_d() % 4 == 0, "click here")
        .when(_d() % 4 == 1, "API reference guide here")
        .when(_d() % 4 == 2, "hm")
        .otherwise("one two three four five")
    )
    url = F.concat(
        F.when(_d() % 2 == 0, "https://").otherwise("http://"),
        F.lit("site.example.com"),
        F.when(_d() % 5 == 0, "/docs/item")
        .when(_d() % 5 == 1, "/blog/item")
        .when(_d() % 5 == 2, "/admin/item")
        .otherwise("/a/b/c/d/e/f"),
        F.lit("/p"),
        (_d() % 10).cast("string"),
    )
    title_attr = F.when(_d() % 3 == 0, "a descriptive title").otherwise("ab")
    class_attr = F.when(_d() % 6 == 0, "nav main").when(_d() % 6 == 1, "ad banner").otherwise("")
    rel_attr = F.when(_d() % 7 == 0, "next").when(_d() % 7 == 1, "nofollow").otherwise("")
    score = link_intrinsic_score(
        text, url, title_attr, class_attr, rel_attr,
        F.array().cast("array<string>"), F.lit(False),
    )
    return df.select("doc_id", F.round(score, 6).alias("link_score"))


ORACLE_LINK_INTRINSIC = """
WITH s AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END
    + CASE WHEN doc_id % 6 = 0 THEN 1.5 ELSE 0.0 END
    - CASE WHEN doc_id % 6 = 1 THEN 1.0 ELSE 0.0 END
    + CASE WHEN doc_id % 7 = 0 THEN 1.0 ELSE 0.0 END
    - CASE WHEN doc_id % 7 = 1 THEN 0.5 ELSE 0.0 END
    + CASE WHEN doc_id % 5 = 0 THEN 2.0
           WHEN doc_id % 5 = 1 THEN 1.0 ELSE 0.0 END
    - CASE WHEN doc_id % 5 = 2 THEN 1.5 ELSE 0.0 END
    -- depth: /docs|/blog|/admin paths -> 5 slashes -> depth 3 -> 0;
    -- the /a/b/c/d/e/f path -> 9 slashes -> depth 7 -> -0.5
    + CASE WHEN doc_id % 5 IN (0, 1, 2) THEN 0.0 ELSE -0.5 END
    + CASE WHEN doc_id % 2 = 0 THEN 0.5 ELSE 0.0 END
    -- text quality: 'hm' fails len>3; others pass
    + CASE WHEN doc_id % 4 = 2 THEN 0.0 ELSE 1.0 END
    + CASE WHEN doc_id % 4 = 2 THEN 0.0 ELSE 0.5 END          -- wc >= 2
    + CASE WHEN doc_id % 4 IN (1, 3) THEN 0.5 ELSE 0.0 END    -- wc >= 4
    - CASE WHEN doc_id % 4 = 0 THEN 1.0 ELSE 0.0 END          -- generic text
    AS raw
  FROM documents)
SELECT doc_id, round(greatest(0.0, least(raw, 10.0)), 6) AS link_score FROM s
"""


QUERIES["link_intrinsic"] = q_link_intrinsic
ORACLES["link_intrinsic"] = ORACLE_LINK_INTRINSIC


def q_link_preview(spark, sf_dir):
    """LinkPreview head-extraction loop (§2.11) over the synthetic
    corpus: internal-only, '*.html' include pattern, 4-link cap; the
    head source is each target page's own <head>, so the valid rows'
    head_title is analytic via one arithmetic join."""
    from .functions.headpeek import head_section
    from .functions.scrape import scrape_stage
    from .operators.link_preview import LinkPreviewConfig, link_preview_stage

    pages = _pages(spark, sf_dir)
    results = scrape_stage(
        pages, "html", "url", markdown=False, drop_cols=("html", "cleaned_html")
    ).select("url", "links")
    heads = pages.select(
        "url", head_section(F.col("html").cast("string")).alias("head_html")
    )
    cfg = LinkPreviewConfig(
        include_internal=True, include_external=False,
        include_patterns=("*.html",), max_links=4,
    )
    return link_preview_stage(results, heads, cfg)


ORACLE_LINK_PREVIEW = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
pages AS (SELECT doc_id, text, {_PAGE_URL_SQL} AS url FROM documents),
lk AS (SELECT p.doc_id, p.url AS page_url, g.j AS link_pos,
              (p.doc_id * 31 + g.j * 97 + 7) % (SELECT n FROM nn) AS tid,
              TRUE AS is_internal
       FROM pages p CROSS JOIN generate_series(0, 5) g(j)
       UNION ALL
       SELECT doc_id, url, 6, NULL, FALSE FROM pages),
res AS (SELECT l.page_url,
               CASE WHEN l.is_internal THEN t.url
                    ELSE 'https://ext' || CAST(l.doc_id % 5 AS VARCHAR)
                         || '.other.net/page' || CAST(l.doc_id % 11 AS VARCHAR)
               END AS href,
               CAST(l.link_pos AS INT) AS link_pos,
               l.is_internal,
               CASE WHEN l.is_internal AND l.link_pos < 4
                    THEN 'valid' ELSE 'skipped' END AS status,
               CASE WHEN l.is_internal AND l.link_pos < 4
                    THEN 'Doc ' || CAST(t.doc_id AS VARCHAR) || ': '
                         || array_to_string((str_split(t.text, ' '))[1:3], ' ')
               END AS head_title
        FROM lk l LEFT JOIN pages t ON l.tid = t.doc_id)
SELECT page_url, href, link_pos, is_internal, status, head_title,
       CAST(NULL AS DOUBLE) AS relevance_score,
       0.0 AS total_score
FROM res
"""

QUERIES["link_preview"] = q_link_preview
ORACLES["link_preview"] = ORACLE_LINK_PREVIEW


def q_pdf_extract(spark, sf_dir):
    """From-scratch PDF reader over the deterministic pdf table
    (functions/pdf.py): per-page text slices, metadata and the page-1
    /URI link are all arithmetic in doc_id."""
    from .functions.pdf import generate_pdfs, pdf_process_stage

    pdfs = generate_pdfs(spark, sf_dir)
    out = pdf_process_stage(pdfs)
    return out.select(
        "doc_id", "page_number", "title", "author", "n_pages", "encrypted",
        "raw_text",
        F.try_element_at("links", F.lit(1)).alias("link0"),
    )


ORACLE_PDF_EXTRACT = """
WITH w AS (SELECT doc_id, source, regexp_split_to_array(text, ' ') AS ws
           FROM documents),
pg AS (SELECT doc_id, source, ws, unnest(generate_series(0, doc_id % 3)) AS k
       FROM w)
SELECT doc_id, CAST(k + 1 AS INT) AS page_number,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       source AS author,
       CAST(1 + doc_id % 3 AS INT) AS n_pages,
       FALSE AS encrypted,
       coalesce(array_to_string(ws[k * 10 + 1 : k * 10 + 10], ' '), '')
         AS raw_text,
       CASE WHEN doc_id % 4 = 0 AND k = 0
            THEN 'https://ref' || CAST(doc_id % 9 AS VARCHAR)
                 || '.example.com/cite' END AS link0
FROM pg
"""

QUERIES["pdf_extract"] = q_pdf_extract
ORACLES["pdf_extract"] = ORACLE_PDF_EXTRACT


def q_schema_infer(spark, sf_dir):
    """generate_schema structural inference round-trip (§2.10): each
    page's dominant repeated group is its 3-item link list, so the
    inferred schema must recover exactly those items — analytic via
    the outlink arithmetic."""
    from .functions.schema_extract import json_css_extract
    from .functions.schema_infer import infer_schema

    pages = _pages(spark, sf_dir).select("url", "html")

    def proc(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                h = bytes(html).decode()
                schema = infer_schema(h)
                items = json_css_extract(h, schema) if schema else []
                for i, it in enumerate(items):
                    rows.append((url, i, it.get("a"), it.get("a_href")))
            yield pd.DataFrame(
                rows, columns=["url", "item_idx", "text", "href"]
            )

    return pages.mapInPandas(
        proc, "url string, item_idx int, text string, href string"
    )


ORACLE_SCHEMA_INFER = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
pages AS (SELECT doc_id, {_PAGE_URL_SQL} AS url FROM documents)
SELECT p.url, CAST(g.j AS INT) AS item_idx,
       'item ' || CAST(g.j AS VARCHAR) AS text,
       t.url AS href
FROM pages p
CROSS JOIN generate_series(0, 2) g(j)
JOIN pages t
  ON t.doc_id = (p.doc_id * 31 + (g.j + 3) * 97 + 7) % (SELECT n FROM nn)
"""

QUERIES["schema_infer"] = q_schema_infer
ORACLES["schema_infer"] = ORACLE_SCHEMA_INFER


def q_ua_generate(spark, sf_dir):
    """Deterministic UA generation + Sec-CH-UA hints (X14), indexed by
    doc_id so the oracle replays the same table lookups."""
    from .functions.user_agent import client_hints, user_agent

    df = _docs(spark, sf_dir)
    ua = user_agent(_d())
    return df.select("doc_id", ua.alias("ua"), client_hints(ua).alias("hints"))


def _oracle_ua() -> str:
    from .functions.user_agent import (
        CHROME_VERSIONS,
        DESKTOP_PLATFORMS,
        EDGE_VERSIONS,
        FIREFOX_VERSIONS,
        MOBILE_PLATFORMS,
    )

    def lst(opts):
        return "[" + ", ".join("'" + o.replace("'", "''") + "'" for o in opts) + "]"

    plats = lst(DESKTOP_PLATFORMS + MOBILE_PLATFORMS)
    chrome = lst(CHROME_VERSIONS)
    edge = lst(EDGE_VERSIONS)
    firefox = lst(FIREFOX_VERSIONS)
    majors = lst([v.split("/")[1].split(".")[0] for v in CHROME_VERSIONS])
    edge_majors = lst([v.split("/")[1].split(".")[0] for v in EDGE_VERSIONS])
    return f"""
WITH p AS (
  SELECT doc_id,
         ({plats})[doc_id % 13 + 1] AS plat,
         ({chrome})[doc_id % 5 + 1] AS cv,
         ({edge})[doc_id % 5 + 1] AS ev,
         ({firefox})[doc_id % 10 + 1] AS fv,
         ({majors})[doc_id % 5 + 1] AS cmj,
         ({edge_majors})[doc_id % 5 + 1] AS emj,
         doc_id % 3 AS rot
  FROM documents)
SELECT doc_id,
  'Mozilla/5.0 ' || plat || ' ' ||
  CASE rot
    WHEN 0 THEN 'AppleWebKit/537.36 (KHTML, like Gecko) ' || cv || ' Safari/537.36'
    WHEN 1 THEN 'AppleWebKit/537.36 (KHTML, like Gecko) ' || cv
                || ' Safari/537.36 ' || ev
    ELSE 'Gecko/20100101 ' || fv
  END AS ua,
  CASE rot
    WHEN 0 THEN '"Chromium";v="' || cmj || '", "Not_A Brand";v="8", '
                || '"Google Chrome";v="' || cmj || '"'
    WHEN 1 THEN '"Chromium";v="' || cmj || '", "Not_A Brand";v="8", '
                || '"Microsoft Edge";v="' || emj || '"'
    ELSE '""'
  END AS hints
FROM p
"""


QUERIES["ua_generate"] = q_ua_generate
ORACLES["ua_generate"] = _oracle_ua()


def q_ssl_parse(spark, sf_dir):
    """From-scratch DER/X.509 decode over the deterministic cert table
    (functions/ssl_cert.py); every field is arithmetic in doc_id. The
    sha256 fingerprint is pytest-pinned (DER bytes aren't rebuildable
    in SQL)."""
    from .functions.ssl_cert import generate_certs, ssl_cert_stage

    out = ssl_cert_stage(generate_certs(spark, sf_dir))
    return out.select(
        "doc_id", "subject_cn", "subject_o", "issuer_cn", "issuer_c",
        "serial", "not_before", "not_after",
    )


ORACLE_SSL_PARSE = """
SELECT doc_id,
       'h' || CAST(doc_id % 32 AS VARCHAR) || '.example.com' AS subject_cn,
       source AS subject_o,
       'Example CA ' || CAST(doc_id % 3 AS VARCHAR) AS issuer_cn,
       'US' AS issuer_c,
       1000 + doc_id AS serial,
       '2024-01-01 00:00:00' AS not_before,
       '2026-0' || CAST(1 + doc_id % 9 AS VARCHAR) || '-01 00:00:00'
         AS not_after
FROM documents
"""

QUERIES["ssl_parse"] = q_ssl_parse
ORACLES["ssl_parse"] = ORACLE_SSL_PARSE


def q_cache_split(spark, sf_dir):
    """Result-cache gating (S9-S11): a cache primed with the doc%3==0
    subset must route exactly those rows around fetch+extract; ENABLED
    reads hits, BYPASS must hit nothing.

    r4 widening — the Structured-Streaming extract path
    (streaming/stream_crawl.py start_stream_extract: frontier parquet
    files → foreachBatch fetch-join + scrape+markdown → results sink)
    gets driver-checked rows: a deterministic 500-URL frontier is
    drained in availableNow mode and the sink's per-page link counts
    and titles (both analytic in doc_id over the synthetic corpus) are
    emitted as 'stream_links'/'stream_title' kinds next to the cache
    decision rows — the streaming scrape is thereby proven equal to
    the SQL oracle, not just row-counted."""
    import shutil
    import tempfile

    from .operators.cache import CacheMode, ResultCache
    from .operators.frontier import LINKS_TYPE

    df = _docs(spark, sf_dir)
    cached_src = df.filter(_d() % 3 == 0).select(
        _d().alias("url_hash"),
        F.lit("t").alias("title"),
        F.lit(None).cast("string").alias("headings"),
        F.lit(None).cast("map<string,string>").alias("meta"),
        F.lit(None).cast("string").alias("text_extracted"),
        F.lit("md").alias("raw_markdown"),
        F.lit(None).cast("string").alias("markdown_with_citations"),
        F.lit(None).cast("string").alias("references_markdown"),
        F.lit(0).alias("n_links"),
        F.lit(None).cast(LINKS_TYPE).alias("links"),
        F.lit(200).alias("http_status"),
        F.concat(F.lit("u"), _d().cast("string")).alias("final_url"),
        F.lit(True).alias("success"),
        F.concat(F.lit("u"), _d().cast("string")).alias("url"),
    )
    wd = tempfile.mkdtemp(prefix="cache_q_")
    shutil.rmtree(wd, ignore_errors=True)
    cache = ResultCache(spark, wd)
    cache.write(cached_src, CacheMode.ENABLED)

    pool = df.select(_d().alias("url_hash"))
    hits, misses = cache.split_hits(pool, CacheMode.ENABLED)
    bypass_hits, _ = cache.split_hits(pool, CacheMode.BYPASS)
    enabled = hits.select(
        F.col("url_hash").alias("doc_id"), F.lit(True).alias("is_hit")
    ).unionByName(
        misses.select(
            F.col("url_hash").alias("doc_id"), F.lit(False).alias("is_hit")
        )
    )
    cache_rows = enabled.join(
        bypass_hits.select(F.col("url_hash").alias("doc_id"))
        .withColumn("_bypass_hit", F.lit(True)),
        "doc_id",
        "left",
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("cache_enabled").alias("kind"),
                    F.col("doc_id").cast("string").alias("key"),
                    F.col("is_hit").cast("int").cast("string").alias("v1"),
                ),
                F.struct(
                    F.lit("cache_bypass").alias("kind"),
                    F.col("doc_id").cast("string").alias("key"),
                    F.coalesce("_bypass_hit", F.lit(False))
                    .cast("int")
                    .cast("string")
                    .alias("v1"),
                ),
            )
        ).alias("_r")
    ).select("_r.*")

    # streaming extract: drain a deterministic frontier through the
    # foreachBatch scrape sink and read the results back
    from .functions.urls import host_no_port, url_hash
    from .streaming.stream_crawl import start_stream_extract

    pages = _pages(spark, sf_dir)
    sdir = tempfile.mkdtemp(prefix="stream_q_")
    shutil.rmtree(sdir, ignore_errors=True)
    frontier_dir = f"{sdir}/frontier"
    pages.select(
        "url",
        url_hash("url").alias("url_hash"),
        host_no_port("url").alias("host"),
        F.lit(0.0).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("bigint").alias("parent_url_hash"),
        F.lit(0).alias("round"),
        F.lit(None).cast("string").alias("dfs_key"),
    ).coalesce(4).write.parquet(frontier_dir)
    q = start_stream_extract(
        spark, pages, frontier_dir, f"{sdir}/out", f"{sdir}/ckpt",
        available_now=True,
    )
    # bounded drain (mirrors bench_streaming): a wedged micro-batch
    # must fail the gate entry, not hang the whole gate run
    try:
        if not q.awaitTermination(600):
            raise TimeoutError("stream extract did not drain in 600s")
    finally:
        q.stop()
    stream_rows = spark.read.parquet(f"{sdir}/out").select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("stream_links").alias("kind"),
                    F.col("url").alias("key"),
                    F.col("n_links").cast("string").alias("v1"),
                ),
                F.struct(
                    F.lit("stream_title").alias("kind"),
                    F.col("url").alias("key"),
                    F.col("title").alias("v1"),
                ),
            )
        ).alias("_r")
    ).select("_r.*")
    return cache_rows.unionByName(stream_rows)


ORACLE_CACHE_SPLIT = f"""
SELECT 'cache_enabled' AS kind, CAST(doc_id AS VARCHAR) AS key,
       CAST(CAST(doc_id % 3 = 0 AS INT) AS VARCHAR) AS v1 FROM documents
UNION ALL
SELECT 'cache_bypass', CAST(doc_id AS VARCHAR), '0' FROM documents
UNION ALL
SELECT 'stream_links', {_PAGE_URL_SQL}, '7' FROM documents
UNION ALL
SELECT 'stream_title', {_PAGE_URL_SQL},
       'Doc ' || CAST(doc_id AS VARCHAR) || ': ' ||
       array_to_string(list_slice(str_split(text, ' '), 1, 3), ' ')
FROM documents
"""


def q_robots_decision(spark, sf_dir):
    """Robots gate (S12/J6) over the synthetic corpus: hosts h(n) with
    n%4==1 disallow /de/, h0 carries a crawl-delay — both analytic."""
    from .operators.robots import (
        rules_table,
        synthetic_robots,
        with_robots_decision,
    )

    frontier = _pages(spark, sf_dir).select(
        "url", host("url").alias("host")
    )
    rules = rules_table(spark, synthetic_robots([f"h{i}" for i in range(32)]))
    out = with_robots_decision(frontier, rules)
    return out.select("url", "robots_allowed", "robots_crawl_delay")


_HOSTNUM_SQL = "(CASE WHEN doc_id % 4 = 0 THEN doc_id % 32 ELSE 0 END)"

ORACLE_ROBOTS_DECISION = f"""
SELECT {_PAGE_URL_SQL} AS url,
       NOT ({_HOSTNUM_SQL} % 4 = 1 AND lang = 'de')
       AND NOT ({_HOSTNUM_SQL} % 8 = 4
                AND CAST(doc_id AS VARCHAR) LIKE '1%'
                AND NOT CAST(doc_id AS VARCHAR) LIKE '13%')
       AND NOT ({_HOSTNUM_SQL} % 8 = 0 AND {_HOSTNUM_SQL} > 0
                AND lang = 'de' AND doc_id % 10 = 2) AS robots_allowed,
       CASE WHEN {_HOSTNUM_SQL} = 0 THEN 0.5 END AS robots_crawl_delay
FROM documents
"""


def q_filter_chain_stats(spark, sf_dir):
    """FilterChain + FilterStats (F1/A1): one-pass pass/reject counters
    over the derived url table, plus the short-circuit chain."""
    from .operators.filters import filter_chain, filter_stats

    df = _docs(spark, sf_dir).withColumn("url", _url1())
    preds = {
        "pattern": url_pattern_filter("url", ["*.html"]),
        "ctype": content_type_filter("url", ["text"]),
        "domain": domain_filter(
            "url", allowed_domains=["example.com"],
            blocked_domains=["src0.example.com"],
        ),
    }
    preds["chain"] = filter_chain(*preds.values())
    return filter_stats(df, preds)


ORACLE_FILTER_CHAIN_STATS = """
SELECT count(*) AS total_urls,
       CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS pattern_passed,
       CAST(sum(CASE WHEN doc_id % 5 IN (0, 3) THEN 1 ELSE 0 END) AS BIGINT)
         AS ctype_passed,
       CAST(sum(CASE WHEN doc_id % 7 <> 0 AND source <> 'src0'
                     THEN 1 ELSE 0 END) AS BIGINT) AS domain_passed,
       CAST(sum(CASE WHEN doc_id % 5 = 0 AND doc_id % 7 <> 0
                      AND source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT)
         AS chain_passed
FROM documents
"""


QUERIES.update(
    {
        "cache_split": q_cache_split,
        "robots_decision": q_robots_decision,
        "filter_chain_stats": q_filter_chain_stats,
    }
)
ORACLES.update(
    {
        "cache_split": ORACLE_CACHE_SPLIT,
        "robots_decision": ORACLE_ROBOTS_DECISION,
        "filter_chain_stats": ORACLE_FILTER_CHAIN_STATS,
    }
)


# ---------------------------------------------------------------------------
# Data-table detection/extraction (A10, §2.8 tables)
# ---------------------------------------------------------------------------


def q_tables_extract(spark, sf_dir):
    """Score-gated table extraction + scored-media scrape, one tagged
    union (the §2.8 media sub-operators share the row because the
    50-entry driver window is full).

    kind='table' (reference is_data_table/extract_table_data
    :1454-1564): pages with doc_id %% 5 == 0 embed a 2-col k/v table
    whose contents are analytic in doc_id/lang.

    kind='image'/'video'/'audio' (reference _process_element media
    portion :1174-1221 + process_image :1271-1376 via
    functions/scrape.py extract_media): every doc renders a
    deterministic media page — a scored hero image (width
    100+(doc_id%%8)*20 so the >150 point flips at doc_id%%8>=3, alt on
    doc_id%%3>0, srcset variant on doc_id%%4==0, always-on height/
    position/format points -> score 3..6, always above the threshold
    cut of 2), an always-skipped logo image, a video+source pair on
    doc_id%%5==0 and an audio on doc_id%%7==0 — so the whole scoring
    formula and variant expansion are mirrored analytically by the
    oracle.

    Unified columns: url, kind, f1 (headers|src), f2 (id_val|width),
    f3 (lang_val|format), dsc (closest-parent description), score.
    """
    from .functions.scrape import ScrapeOptions, scrape_stage
    from .functions.tables import tables_stage

    pages = _pages(spark, sf_dir)
    out = tables_stage(pages, "html", score_threshold=7.0)
    t = F.element_at("tables", 1)
    s = F.lit(None).cast("string")
    tabs = out.filter(F.size("tables") > 0).select(
        "url",
        F.lit("table").alias("kind"),
        F.array_join(t["headers"], ",").alias("f1"),
        t["rows"][0][1].alias("f2"),
        t["rows"][1][1].alias("f3"),
        s.alias("dsc"),
        F.lit(None).cast("long").alias("score"),
    )

    did = F.regexp_extract("url", r"/p(\d+)\.html$", 1).cast("long")
    ds = did.cast("string")
    width = (F.lit(100) + F.pmod(did, F.lit(8)) * 20).cast("string")
    alt = F.when(
        F.pmod(did, F.lit(3)) > 0,
        F.concat(F.lit(' alt="a'), ds, F.lit('"')),
    ).otherwise("")
    srcset = F.when(
        F.pmod(did, F.lit(4)) == 0,
        F.concat(F.lit(' srcset="img'), ds, F.lit('-2x.jpg 2w"')),
    ).otherwise("")
    video = F.when(
        F.pmod(did, F.lit(5)) == 0,
        F.concat(
            F.lit('<video src="vid'), ds, F.lit('.mp4"><source src="vid'),
            ds, F.lit('.webm"></video>'),
        ),
    ).otherwise("")
    audio = F.when(
        F.pmod(did, F.lit(7)) == 0,
        F.concat(F.lit('<audio src="aud'), ds, F.lit('.mp3"></audio>')),
    ).otherwise("")
    mhtml = F.concat(
        F.lit("<body><div>ctx "), ds, F.lit(' words<img src="img'), ds,
        F.lit('.jpg" width="'), width, F.lit('" height="200"'), alt,
        srcset, F.lit('><img src="logo.png"></div>'), video, audio,
        F.lit("</body>"),
    )
    # persisted: three union branches (images + videos + audios) each
    # consume this frame — without the cache the DOM-parse media scrape
    # UDF would run three times over the corpus. Registered in the
    # bounded scratch registry (previous call's cache evicted) so
    # repeated catalog runs in one session don't leak storage.
    scraped = _scratch_persist(
        scrape_stage(
            pages.select("url", mhtml.alias("mhtml")),
            html_col="mhtml",
            markdown=False,
            opts=ScrapeOptions(media=True),
            drop_cols=("mhtml", "cleaned_html"),
        )
    )
    imgs = scraped.select(
        "url", F.explode("media.images").alias("m")
    ).select(
        "url",
        F.lit("image").alias("kind"),
        F.col("m.src").alias("f1"),
        F.col("m.width").alias("f2"),
        F.col("m.format").alias("f3"),
        F.col("m.desc").alias("dsc"),
        F.col("m.score").cast("long").alias("score"),
    )

    def _av(field, kind):
        return scraped.select(
            "url", F.explode("media." + field).alias("m")
        ).select(
            "url",
            F.lit(kind).alias("kind"),
            F.col("m.src").alias("f1"),
            s.alias("f2"),
            s.alias("f3"),
            F.col("m.description").alias("dsc"),
            F.lit(None).cast("long").alias("score"),
        )

    return tabs.unionByName(imgs).unionByName(
        _av("videos", "video")
    ).unionByName(_av("audios", "audio"))


ORACLE_TABLES_EXTRACT = f"""
WITH base AS (
  SELECT doc_id, lang, {_PAGE_URL_SQL} AS url FROM documents
)
SELECT url, 'table' AS kind, 'k,v' AS f1,
       CAST(doc_id AS VARCHAR) AS f2, lang AS f3,
       CAST(NULL AS VARCHAR) AS dsc, CAST(NULL AS BIGINT) AS score
FROM base WHERE doc_id % 5 = 0
UNION ALL
SELECT url, 'image',
       'img' || doc_id || '.jpg',
       CAST(NULL AS VARCHAR),
       'jpg',
       'ctx ' || doc_id || ' words',
       3 + CASE WHEN doc_id % 8 >= 3 THEN 1 ELSE 0 END
         + CASE WHEN doc_id % 3 > 0 THEN 1 ELSE 0 END
         + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END
FROM base
UNION ALL
SELECT url, 'image',
       'img' || doc_id || '-2x.jpg',
       '2',
       'jpg',
       'ctx ' || doc_id || ' words',
       3 + CASE WHEN doc_id % 8 >= 3 THEN 1 ELSE 0 END
         + CASE WHEN doc_id % 3 > 0 THEN 1 ELSE 0 END + 1
FROM base WHERE doc_id % 4 = 0
UNION ALL
SELECT url, 'video', 'vid' || doc_id || s, CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT)
FROM base, (SELECT unnest(['.mp4', '.webm']) AS s)
WHERE doc_id % 5 = 0
UNION ALL
SELECT url, 'audio', 'aud' || doc_id || '.mp3', CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT)
FROM base WHERE doc_id % 7 = 0
"""


QUERIES["tables_extract"] = q_tables_extract
ORACLES["tables_extract"] = ORACLE_TABLES_EXTRACT


# ---------------------------------------------------------------------------
# End-to-end corpus pipeline (pipeline.py) — benched + pytest-covered;
# outside the 50-entry gate window (its stages are each gate-checked
# individually: quality_classifier, dedup_*, decontaminate,
# sample_stratified, pack_sequences)
# ---------------------------------------------------------------------------


def q_corpus_pipeline(spark, sf_dir):
    """quality -> exact dedup -> MinHash near-dedup -> decontaminate ->
    stratified sample -> pack, funnel as one aggregation; returns the
    funnel row joined with the packing stats."""
    from .pipeline import CorpusConfig, build_corpus

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    eval_docs = docs.filter(_d() % 97 == 13).select("text")
    cfg = CorpusConfig(
        quality_min_e6=200_000,
        sample_rates_e6={"en": 900_000, "de": 800_000,
                         "fr": 700_000, "es": 600_000},
        seq_len=512,
        docs_per_bucket=256,
    )
    out = build_corpus(docs, eval_docs, cfg)
    return out["funnel"].crossJoin(out["pack_stats"])


PYTEST_ONLY_QUERIES["corpus_pipeline"] = q_corpus_pipeline


# ---------------------------------------------------------------------------
# BPE tokenizer training + encode (operators/bpe.py) — pytest-covered
# (the merge loop is iterative-on-vocab; a SQL replay of k merges is a
# k-level nested CTE, so this stays outside the oracle gate, verified
# by the pure-python differential in tests/test_bpe.py instead)
# ---------------------------------------------------------------------------


def q_bpe_train_encode(spark, sf_dir):
    """Train 40 merges on the documents corpus, encode it, report the
    per-doc exact token counts next to the regex proxy."""
    from .functions.text import bpe_ish_token_count
    from .operators.bpe import bpe_token_count, train_bpe

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    merges = train_bpe(docs, num_merges=40)
    return bpe_token_count(docs, merges).select(
        "doc_id",
        "bpe_n_tokens",
        bpe_ish_token_count(F.col("text")).alias("proxy_n_tokens"),
    )


PYTEST_ONLY_QUERIES["bpe_train_encode"] = q_bpe_train_encode


def q_unigram_train_encode(spark, sf_dir):
    """Train a unigram-LM vocab (SentencePiece's second model family,
    Kudo 2018) on the documents corpus and encode it — reported next
    to the BPE counts so the two tokenizer tiers are comparable.
    Iterative float-free training (integer micro-nat costs), but the
    EM fixed point is not SQL-expressible — pytest-only entry, like
    bpe_train_encode."""
    from .operators.unigram import train_unigram, unigram_token_count

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    costs = train_unigram(
        docs, vocab_size=400, seed_size=1600, iters=2, max_piece_len=6
    )
    return unigram_token_count(docs, costs).select(
        "doc_id", "unigram_n_tokens"
    )


PYTEST_ONLY_QUERIES["unigram_train_encode"] = q_unigram_train_encode


def q_revisit_crawl(spark, sf_dir):
    """Conditional-revalidation loop (RFC 9110 §13; the cheap-refetch
    half of the recrawl scheduler, operators/recrawl.py): crawl the
    synthetic corpus once through an ETag-aware fetcher, build
    ``CrawlConfig(url_validators=...)`` from the results' captured
    validators, revisit the same seeds — unchanged pages answer 304
    (fetch_status='not_modified', no links, politeness success).
    Returns (url, first_status, revisit_status) per seed. The loop is
    imperative multi-crawl plumbing — pytest-only entry, like
    corpus_pipeline. No reference counterpart (crawl4ai refetches
    unconditionally; CacheMode is its only refetch dampener)."""
    import hashlib
    import shutil
    import tempfile

    from .operators.fetch import MapFetcher
    from .operators.frontier import CrawlConfig, run_crawl

    pages = _pages(spark, sf_dir)
    corpus = {
        r["url"]: bytes(r["html"])
        for r in pages.select("url", "html").collect()
    }

    def fn(url, extra=None):
        body = corpus.get(url)
        if body is None:
            return {"error": "miss"}
        tag = f'"{hashlib.md5(body).hexdigest()[:12]}"'
        if extra and extra.get("if_none_match") == tag:
            return {"status": 304, "etag": tag}
        return {"status": 200, "body": body, "etag": tag}

    seeds = [
        r["url"] for r in pages.select("url").orderBy("url").limit(8).collect()
    ]
    cfg = lambda v: CrawlConfig(  # noqa: E731
        max_depth=1,
        fetcher=MapFetcher(fn, pass_cols=("if_none_match", "if_modified_since")),
        url_validators=v,
    )
    wd1 = tempfile.mkdtemp(prefix="revisit_q1_")
    shutil.rmtree(wd1, ignore_errors=True)
    run_crawl(spark, pages, seeds, wd1, cfg(None), max_rounds=1)
    first = spark.read.parquet(f"{wd1}/results")
    validators = first.filter(F.col("etag").isNotNull()).select(
        "url",
        F.col("etag").alias("if_none_match"),
        F.col("last_modified").alias("if_modified_since"),
    )
    wd2 = tempfile.mkdtemp(prefix="revisit_q2_")
    shutil.rmtree(wd2, ignore_errors=True)
    run_crawl(spark, pages, seeds, wd2, cfg(validators), max_rounds=1)
    second = spark.read.parquet(f"{wd2}/results")
    out = (
        first.select("url", F.col("fetch_status").alias("first_status"))
        .join(
            second.select(
                "url", F.col("fetch_status").alias("revisit_status")
            ),
            "url",
        )
        .orderBy("url")
    )
    rows = out.collect()
    shutil.rmtree(wd1, ignore_errors=True)
    shutil.rmtree(wd2, ignore_errors=True)
    return spark.createDataFrame(
        rows, "url string, first_status string, revisit_status string"
    )


PYTEST_ONLY_QUERIES["revisit_crawl"] = q_revisit_crawl


def q_hub_google_serp(spark, sf_dir):
    """Crawler-hub tier (hub.py, crawlers/google_search/crawler.py):
    synthesize SERP pages arithmetically from the documents table
    (3 organic results per page, titles/links/snippets closed-form in
    doc_id), run them through ``GoogleSearchCrawler.run_batch`` — the
    pluggable fetch seam + driver-side schema inference + one
    Arrow-batched extraction stage — and explode the organic items
    back out. Round-trip identity (html build -> schema infer ->
    extract) is pinned in tests/test_hub.py; the multi-section schema
    cache and error paths are pytest-covered there too."""
    from .hub import GoogleSearchCrawler
    from .operators.fetch import PagesJoinFetcher

    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    item = F.format_string(
        '<div class="g"><h3 class="title">doc %s</h3>'
        '<a class="lnk" href="https://ex.test/%s">visit</a>'
        '<span class="snippet">%s</span>'
        '<span class="date">%s hours ago</span></div>',
        F.col("doc_id"),
        F.col("doc_id"),
        F.substring("text", 1, 40),
        F.col("doc_id") % 24,
    )
    serp = (
        docs.withColumn("page", (F.col("doc_id") / F.lit(3)).cast("long"))
        .withColumn("part", F.struct(F.col("doc_id"), item.alias("item")))
        .groupBy("page")
        .agg(
            F.concat(
                F.lit('<html><body><div id="search">'),
                F.concat_ws(
                    "",
                    F.transform(
                        F.sort_array(F.collect_list("part")),
                        lambda s: s["item"],
                    ),
                ),
                F.lit("</div></body></html>"),
            ).alias("html")
        )
        .withColumn(
            "url",
            F.format_string(
                "https://www.google.com/search?q=p%s&gl=sg&hl=en", "page"
            ),
        )
    )
    g = GoogleSearchCrawler(
        fetcher=PagesJoinFetcher(serp.select("url", "html"))
    )
    res = g.run_batch(spark, serp.select("url"))
    organic = (
        "struct<organic_schema: array<struct<title:string, lnk_href:string,"
        " lnk:string, snippet:string, date:string>>>"
    )
    return (
        res.select(
            "url",
            F.posexplode(
                F.from_json("extracted", organic)["organic_schema"]
            ).alias("pos", "o"),
        )
        .select(
            "url",
            "pos",
            F.col("o.title").alias("title"),
            F.col("o.lnk_href").alias("link"),
            F.col("o.snippet").alias("snippet"),
            F.col("o.date").alias("result_date"),
        )
        .orderBy("url", "pos")
    )


PYTEST_ONLY_QUERIES["hub_google_serp"] = q_hub_google_serp
