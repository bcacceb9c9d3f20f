"""Web-crawl ingestion queries: WARC/WET round-trips through the
``spp_warc`` Python DataSource (sources/warc_datasource.py) feeding the
existing HTML-extraction chain — the canonical LLM-pipeline input stage
(Common Crawl → visible text) the reference platform has no analogue
for (its sources are Kafka/CSV/JSON/collection, taskmanager/operators/
sources.py:25-198).

Oracle doctrine (sequential replay, CLAUDE.md): every WARC fixture byte
is a pure function of the ``documents`` rows — the query WRITES the
archive from the table through the spp_warc writer, READS it back
through the spp_warc reader, and extracts; the duckdb oracle recomputes
the same answer straight from ``documents`` using the shared
strip-chain SQL. A hash-MATCH therefore proves the full
encode → member-gzip → two-phase commit → streaming decode →
HTTP-split → strip cycle is lossless.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_platform_spark.functions import text as T
from stream_processing_platform_spark.functions.html import strip_html, strip_html_sql
from stream_processing_platform_spark.partitioning import ensure_min_parallelism
from stream_processing_platform_spark.registry import query
from stream_processing_platform_spark.tables import load_table

# Page chrome wrapped around each document's text to form the HTTP
# entity — script/style/comment/entity traps so the strip chain is
# genuinely exercised, doc identity in the title/URI. NO single quotes
# (these constants are inlined into the SQL oracle as literals).
_W_PRE = "<html><head><title>Doc "
_W_MID1 = (
    "</title><script>if (a < b) { track(); }</script>"
    "<style>.nav { display: none; }</style></head>"
    "<body><nav>Home | About</nav><h1>Source "
)
_W_MID2 = "</h1><!-- chrome --><p>"
_W_POST = "</p><footer>Tom &amp; Jerry &lt;3&nbsp;corp</footer></body></html>"

# HTTP/1.1 response head the payload is framed in (the msgtype=response
# body of a WARC response record). BASE_LEN feeds the oracle's
# content_length reconstruction: head + digits-of-L + L.
_HTTP_PRE = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\nContent-Length: "
_HTTP_POST = "\r\n\r\n"
_HTTP_BASE_LEN = len(_HTTP_PRE) + len(_HTTP_POST)

_URI_PREFIX = "https://docs.example.test/"


def _html_col() -> F.Column:
    return F.concat(
        F.lit(_W_PRE),
        F.col("doc_id").cast("string"),
        F.lit(_W_MID1),
        F.col("source"),
        F.lit(_W_MID2),
        F.col("text"),
        F.lit(_W_POST),
    )


def _html_sql() -> str:
    return (
        f"'{_W_PRE}' || CAST(doc_id AS VARCHAR) || '{_W_MID1}' || source"
        f" || '{_W_MID2}' || text || '{_W_POST}'"
    )


def _uri_col() -> F.Column:
    return F.concat(F.lit(_URI_PREFIX), F.col("source"), F.lit("/"), F.col("doc_id").cast("string"))


def _warc_fixture_dir(sf_dir: str, kind: str) -> str:
    return f"/tmp/spp_warc_{kind}_{os.path.basename(sf_dir.rstrip('/'))}"


def _write_warc_docs(spark: SparkSession, sf_dir: str) -> str:
    """documents → response-record WARC archive (member-gzipped), one
    file per task via the spp_warc writer's two-phase manifest commit."""
    from stream_processing_platform_spark.sources.warc_datasource import (
        register_warc_source,
    )

    register_warc_source(spark)
    out = _warc_fixture_dir(sf_dir, "docs")
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    html = _html_col()
    http = F.concat(
        F.lit(_HTTP_PRE), F.octet_length(html).cast("string"), F.lit(_HTTP_POST), html
    )
    rows = d.select(
        F.lit("response").alias("warc_type"),
        F.lit("").alias("record_id"),  # writer fills deterministic UUIDv5
        F.lit("").alias("warc_date"),
        _uri_col().alias("target_uri"),
        F.lit("application/http; msgtype=response").alias("content_type"),
        F.encode(http, "UTF-8").alias("payload"),
    )
    rows.write.format("spp_warc").mode("overwrite").save(out)
    return out


@query(
    "q_warc_extract",
    oracle=f"""
    WITH x AS (SELECT doc_id, {_html_sql()} AS html FROM documents),
    y AS (SELECT doc_id,
                 {strip_html_sql("html")} AS extracted,
                 CAST(length(html) AS BIGINT) AS hchars,
                 CAST(strlen(html) AS BIGINT) AS hl
          FROM x)
    SELECT doc_id,
           CAST(200 AS INTEGER) AS status,
           extracted,
           floor(length(extracted) * 10000.0 / hchars + 0.5) / 10000.0 AS density,
           CAST({_HTTP_BASE_LEN} + length(CAST(hl AS VARCHAR)) + hl AS BIGINT)
             AS content_length
    FROM y
    """,
    description="WARC ingestion end-to-end (sources/warccodec.py + the "
    "spp_warc Python DataSource): documents are framed as HTTP "
    "responses inside member-gzipped WARC response records (warcinfo-"
    "led files, two-phase manifest commit), read back with warc_type "
    "pushdown pruning the warcinfo records inside the Python source, "
    "HTTP-split and boilerplate-stripped with the SAME regexp chain as "
    "q_html_extract. The oracle rebuilds the page from documents "
    "directly and reconstructs content_length arithmetically (head + "
    "digits(L) + L), so a hash-MATCH proves the whole encode → gzip → "
    "commit → streaming decode → extract cycle lossless. Scale shape: "
    "one partition per archive file (the honest unit for member-gzip; "
    "a 100 TB crawl is ~100k files >> executor count), record-streaming "
    "decode (working set = one record), extraction pure JVM columns.",
)
def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _write_warc_docs(spark, sf_dir)
    back = (
        spark.read.format("spp_warc")
        .load(out)
        .where(F.col("warc_type") == "response")  # pushed into the source
    )
    body = F.decode(F.col("payload"), "UTF-8")
    # The entity never contains CRLF (documents text is single-line
    # ASCII, the chrome adds none), so the LAST occurrence of the blank
    # line == the head/body split — substring_index stays one JVM call.
    html = F.substring_index(body, "\r\n\r\n", -1)
    parsed = back.select(
        F.regexp_extract(F.col("target_uri"), r"/(\d+)$", 1).cast("long").alias("doc_id"),
        F.regexp_extract(body, r"^HTTP/1\.1 (\d+) ", 1).cast("int").alias("status"),
        strip_html(html).alias("extracted"),
        F.length(html).alias("_hchars"),
        F.col("content_length"),
    )
    return parsed.select(
        "doc_id",
        "status",
        "extracted",
        (F.floor(F.length("extracted") * 10000.0 / F.col("_hchars") + 0.5) / 10000.0).alias(
            "density"
        ),
        "content_length",
    )


@query(
    "q_warc_wet_tokens",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> ''))) AS BIGINT) AS n_tokens,
           CAST(sum(strlen(text)) AS BIGINT) AS n_bytes
    FROM documents
    GROUP BY source
    """,
    description="WET (plain-text conversion records) round-trip: the "
    "same documents written as text/plain conversion records — the "
    "Common Crawl .wet.gz layout — read back with warc_type pushdown "
    "and aggregated per source (source recovered from the target URI). "
    "n_bytes sums the records' Content-Length, so the hash-MATCH "
    "against octet_length(text) proves byte-exact payload transport; "
    "token counts use the shared whitespace tokenizer. One source-keyed "
    "shuffle after a map-side partial aggregate.",
)
def q_warc_wet_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.sources.warc_datasource import (
        register_warc_source,
    )

    register_warc_source(spark)
    out = _warc_fixture_dir(sf_dir, "wet")
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    rows = d.select(
        F.lit("conversion").alias("warc_type"),
        F.lit("").alias("record_id"),
        F.lit("").alias("warc_date"),
        _uri_col().alias("target_uri"),
        F.lit("text/plain").alias("content_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    rows.write.format("spp_warc").mode("overwrite").save(out)
    back = (
        spark.read.format("spp_warc")
        .load(out)
        .where(F.col("warc_type") == "conversion")
    )
    text = F.decode(F.col("payload"), "UTF-8")
    return (
        back.select(
            F.regexp_extract(F.col("target_uri"), r"test/([a-z0-9]+)/", 1).alias("source"),
            F.size(T.tokens(text)).alias("_toks"),
            F.col("content_length"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_toks").alias("n_tokens"),
            F.sum("content_length").alias("n_bytes"),
        )
    )


# --------------------------------------------------------------- URL curation
#
# documents carry no URL column, so a deterministic URL is synthesized
# per doc (pure function of doc_id — sequential-replay doctrine): both
# engines build the identical string, then the OPERATOR under test
# (operators/webcur.py registered-domain extraction) runs on the Spark
# side while its generated SQL twin runs on duckdb.

_URL_SUBS = ("www", "blog", "docs", "shop", "cdn")
_URL_NAMES = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
_URL_SUFFIXES = ("com", "org", "net", "io", "co.uk", "com.au", "github.io", "ac.uk")

# Registered domains banned by the curation policy — exercises both the
# single-level and multi-level suffix branches of the PSL rule.
_BLOCKLIST = ("beta.com", "zeta.co.uk", "epsilon.github.io", "delta.org")


def _synth_url_col() -> F.Column:
    sub = F.element_at(
        F.array(*[F.lit(s) for s in _URL_SUBS]),
        (F.col("doc_id") % len(_URL_SUBS) + 1).cast("int"),
    )
    name = F.element_at(
        F.array(*[F.lit(s) for s in _URL_NAMES]),
        (F.col("doc_id") % len(_URL_NAMES) + 1).cast("int"),
    )
    suf = F.element_at(
        F.array(*[F.lit(s) for s in _URL_SUFFIXES]),
        (F.col("doc_id") % len(_URL_SUFFIXES) + 1).cast("int"),
    )
    host = F.concat_ws(".", sub, name, suf)
    return F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("doc_id").cast("string"))


def _synth_url_sql() -> str:
    def arr(items):
        return "[" + ", ".join(f"'{s}'" for s in items) + "]"

    sub = f"{arr(_URL_SUBS)}[CAST(doc_id % {len(_URL_SUBS)} AS INT) + 1]"
    name = f"{arr(_URL_NAMES)}[CAST(doc_id % {len(_URL_NAMES)} AS INT) + 1]"
    suf = f"{arr(_URL_SUFFIXES)}[CAST(doc_id % {len(_URL_SUFFIXES)} AS INT) + 1]"
    return f"('https://' || {sub} || '.' || {name} || '.' || {suf} || '/p/' || CAST(doc_id AS VARCHAR))"


def _domain_stats_oracle() -> str:
    from stream_processing_platform_spark.operators.webcur import (
        host_of_sql,
        registered_domain_sql,
    )

    host = host_of_sql("url")
    return f"""
    WITH u AS (SELECT doc_id, text, {_synth_url_sql()} AS url FROM documents),
    h AS (SELECT doc_id, text, {host} AS host FROM u),
    d AS (SELECT doc_id, text, host, {registered_domain_sql("host")} AS registered_domain
          FROM h)
    SELECT registered_domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(sum(length(list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> ''))) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT text) AS BIGINT) AS n_unique_texts,
           CAST(floor((count(*) - count(DISTINCT text)) * 10000.0 / count(*) + 0.5)
                AS BIGINT) AS dup_rate_bp
    FROM d
    GROUP BY registered_domain
    """


@query(
    "q_domain_stats",
    oracle=None,  # generated below (shared suffix table)
    description="Per-registered-domain corpus statistics — the standard "
    "CCNet/RefinedWeb URL-level curation stage: hosts parsed with "
    "parse_url, pay-level domains via the PSL-style longest-suffix rule "
    "(operators/webcur.py; single- and multi-level suffixes both "
    "exercised), then docs/hosts/tokens/exact-dup-rate per domain. "
    "dup_rate_bp is on the integer basis-point grid ((n-u)*10000/n, "
    "floor(x+0.5)). Scale shape: one domain-keyed shuffle with map-side "
    "partials; the suffix rule set is a literal array in the plan "
    "(never shuffled); distinct counts are exact per group.",
)
def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.webcur import (
        host_of,
        registered_domain,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _synth_url_col().alias("url")
    )
    h = d.select("doc_id", "text", host_of(F.col("url")).alias("host"))
    dom = h.select(
        "doc_id", "text", "host", registered_domain(F.col("host")).alias("registered_domain")
    )
    n, u = F.count("*"), F.count_distinct(F.col("text"))
    return dom.groupBy("registered_domain").agg(
        n.alias("n_docs"),
        F.count_distinct(F.col("host")).alias("n_hosts"),
        F.sum(F.size(T.tokens(F.col("text")))).alias("n_tokens"),
        u.alias("n_unique_texts"),
        F.floor((n - u) * 10000.0 / n + 0.5).cast("long").alias("dup_rate_bp"),
    )


def _blocklist_oracle() -> str:
    from stream_processing_platform_spark.operators.webcur import (
        host_of_sql,
        registered_domain_sql,
    )

    blocked = ", ".join(f"'{b}'" for b in _BLOCKLIST)
    host = host_of_sql("url")
    return f"""
    WITH u AS (SELECT doc_id, lang, {_synth_url_sql()} AS url FROM documents),
    h AS (SELECT doc_id, lang, url, {host} AS host FROM u),
    d AS (SELECT doc_id, lang, url, host,
                 {registered_domain_sql("host")} AS registered_domain
          FROM h)
    SELECT doc_id, host, registered_domain, lang
    FROM d
    WHERE registered_domain NOT IN ({blocked})
    """


@query(
    "q_blocklist_filter",
    oracle=None,  # generated below (shared suffix table)
    description="Domain-blocklist anti-join — the URL-level removal "
    "stage every web-curation pipeline runs before content filters. "
    "The blocklist is a tiny dimension: broadcast-hinted LEFT ANTI "
    "join on the registered domain (never a shuffle of the corpus "
    "side), so at 100 TB the plan is one broadcast + one scan. "
    "Blocklist entries hit both suffix branches (beta.com vs "
    "zeta.co.uk / epsilon.github.io).",
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.webcur import (
        host_of,
        registered_domain,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _synth_url_col().alias("url")
    )
    dom = d.select(
        "doc_id",
        "lang",
        host_of(F.col("url")).alias("host"),
    ).withColumn("registered_domain", registered_domain(F.col("host")))
    blocked = spark.createDataFrame(
        [(b,) for b in _BLOCKLIST], "registered_domain string"
    )
    return dom.join(
        F.broadcast(blocked), "registered_domain", "left_anti"
    ).select("doc_id", "host", "registered_domain", "lang")


_REGW = __import__("stream_processing_platform_spark.registry", fromlist=["REGISTRY"]).REGISTRY
from dataclasses import replace as _dc_replace_w  # noqa: E402

_REGW["q_domain_stats"] = _dc_replace_w(_REGW["q_domain_stats"], oracle=_domain_stats_oracle())
_REGW["q_blocklist_filter"] = _dc_replace_w(
    _REGW["q_blocklist_filter"], oracle=_blocklist_oracle()
)


# ------------------------------------------------- URL canonicalization
#
# Messy-URL fixture: each doc's raw URL is a VARIANT (case, userinfo,
# default port, tracking params, param order, fragment, trailing slash)
# of a canonical page shared by several docs — a pure function of
# doc_id, built identically on both engines, so the oracle proves the
# canonicalizer collapses exactly the variants it should and nothing
# else. Variant tails deliberately include every TRACKING_PARAMS class.

_CANON_PAGES = 40

_URL_VARIANTS = (
    "",                                   # already canonical, no query
    "/",                                  # trailing slash
    "?utm_source=x",                      # tracking only -> no query
    "?b=2&a=1",                           # params out of order
    "?a=1&b=2",                           # params in order
    "/?a=1&gclid=zz&b=2",                 # slash + tracker inside
    "?a=1&b=2#sec",                       # fragment
    "?fbclid=abc&b=2&a=1",                # tracker first
)
# host-spelling variants cycle separately so case/port/userinfo changes
# combine with every query-tail class.
#
# Variant indices are driven by doc_id div _CANON_PAGES (the "generation"
# g), NOT by doc_id itself: page = doc_id % 40 fixes doc_id mod 4 and
# mod 8 (both divide 40), so a doc_id-modulo index would hand every
# document of a page the IDENTICAL raw spelling and the canonicalizer
# would never collapse anything (r11 ADVICE). g varies freely across the
# documents of one page, so each canonical page receives g%4 × g%8
# distinct spellings and n_raw_variants > 1 is genuinely exercised
# (asserted in tests/test_webcur.py).
_HOST_VARIANTS = (
    ("https://", "www.{n}.{s}", ""),
    ("HTTPS://", "WWW.{n}.{s}", ""),       # scheme+host case
    ("https://", "www.{n}.{s}:443", ""),   # default port
    ("https://", "crawler@www.{n}.{s}", ""),  # userinfo
)


def _messy_url_col() -> F.Column:
    page = F.col("doc_id") % _CANON_PAGES
    name = F.element_at(
        F.array(*[F.lit(s) for s in _URL_NAMES]),
        (page % len(_URL_NAMES) + 1).cast("int"),
    )
    suf = F.element_at(
        F.array(*[F.lit(s) for s in _URL_SUFFIXES]),
        (page % len(_URL_SUFFIXES) + 1).cast("int"),
    )
    gen = F.expr(f"doc_id div {_CANON_PAGES}")
    hv = (gen % len(_HOST_VARIANTS)).cast("int")
    tail = F.element_at(
        F.array(*[F.lit(t) for t in _URL_VARIANTS]),
        ((gen % len(_URL_VARIANTS)) + 1).cast("int"),
    )
    heads = []
    for scheme, hostpat, _ in _HOST_VARIANTS:
        pre, _, post = hostpat.partition("{n}")
        mid, _, tail_s = post.partition("{s}")
        heads.append(F.concat(F.lit(scheme + pre), name, F.lit(mid), suf, F.lit(tail_s)))
    host = F.element_at(F.array(*heads), (hv + 1).cast("int"))
    return F.concat(host, F.lit("/page/"), page.cast("string"), tail)


def _messy_url_sql() -> str:
    def arr(items):
        return "[" + ", ".join(f"'{s}'" for s in items) + "]"

    page = f"(doc_id % {_CANON_PAGES})"
    name = f"{arr(_URL_NAMES)}[CAST({page} % {len(_URL_NAMES)} AS INT) + 1]"
    suf = f"{arr(_URL_SUFFIXES)}[CAST({page} % {len(_URL_SUFFIXES)} AS INT) + 1]"
    gen = f"(doc_id // {_CANON_PAGES})"
    tail = (
        f"{arr(_URL_VARIANTS)}[CAST({gen} % {len(_URL_VARIANTS)} AS INT) + 1]"
    )
    heads = []
    for scheme, hostpat, _ in _HOST_VARIANTS:
        pre, _, post = hostpat.partition("{n}")
        mid, _, tail_s = post.partition("{s}")
        h = f"'{scheme}{pre}' || {name} || '{mid}' || {suf}"
        if tail_s:
            h += f" || '{tail_s}'"
        heads.append(f"({h})")
    host = f"[{', '.join(heads)}][CAST({gen} % {len(_HOST_VARIANTS)} AS INT) + 1]"
    return f"({host} || '/page/' || CAST({page} AS VARCHAR) || {tail})"


def _url_canonicalize_oracle() -> str:
    from stream_processing_platform_spark.operators.webcur import canonical_url_sql

    return f"""
    WITH u AS (SELECT doc_id, {_messy_url_sql()} AS url FROM documents),
    c AS (SELECT doc_id, url, {canonical_url_sql("url")} AS canonical_url FROM u)
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM c
    GROUP BY canonical_url
    """


@query(
    "q_url_canonicalize",
    oracle=None,  # generated below (shared tracking-param table)
    description="URL canonicalization (r11) — the CCNet/RefinedWeb "
    "dedup-key step: lowercase scheme/host, strip userinfo and default "
    "ports, drop fragments and tracking parameters (utm_*/gclid/fbclid/"
    "msclkid/mc_*/ref), sort surviving query params, collapse trailing "
    "slashes — all pure JVM regexp/array expressions (whole-stage "
    "codegen, no UDF). The fixture gives every document a raw VARIANT "
    "of one of 40 canonical pages (case, port, userinfo, param order, "
    "trackers, fragments); grouping by the canonical form counts how "
    "many raw spellings collapsed. One shuffle on the canonical key; "
    "at 100 TB this runs at scan speed ahead of URL-level dedup. "
    "duckdb twin generated from the same variant + tracking tables.",
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.webcur import canonical_url

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _messy_url_col().alias("url")
    )
    c = d.withColumn("canonical_url", canonical_url(F.col("url")))
    return c.groupBy("canonical_url").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("url").alias("n_raw_variants"),
        F.min("doc_id").alias("first_doc"),
    )


_REGW["q_url_canonicalize"] = _dc_replace_w(
    _REGW["q_url_canonicalize"], oracle=_url_canonicalize_oracle()
)


# ---------------------------------------------------- WebDataset (r11)
#
# Same round-trip doctrine as q_warc_extract: the shard bytes are a
# pure function of the documents rows (the sample JSON is built with
# explicit concat — not to_json — so the oracle rebuilds identical
# bytes), the query WRITES the shards through spp_wds, READS them back
# and re-derives every field; the duckdb oracle recomputes the answer
# straight from documents. A hash-MATCH proves the tar encode → gzip →
# two-phase commit → streaming member-group decode cycle lossless.


def _wds_json_col() -> F.Column:
    return F.concat(
        F.lit('{"source":"'), F.col("source"),
        F.lit('","n_chars":'), F.col("n_chars").cast("string"), F.lit("}"),
    )


def _wds_json_sql() -> str:
    return (
        "('{\"source\":\"' || source || '\",\"n_chars\":' "
        "|| CAST(n_chars AS VARCHAR) || '}')"
    )


def _write_wds_docs(spark: SparkSession, sf_dir: str) -> str:
    from stream_processing_platform_spark.sources.wds_datasource import (
        register_wds_source,
    )

    register_wds_source(spark)
    out = f"/tmp/spp_wds_docs_{os.path.basename(sf_dir.rstrip('/'))}"
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    rows = d.select(
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("key"),
        F.create_map(
            F.lit("txt"), F.encode(F.col("text"), "UTF-8"),
            F.lit("cls"), F.encode(F.col("lang"), "UTF-8"),
            F.lit("json"), F.encode(_wds_json_col(), "UTF-8"),
        ).alias("files"),
    )
    rows.write.format("spp_wds").mode("overwrite").option("gzip", "true").save(out)
    return out


@query(
    "q_wds_roundtrip",
    oracle=f"""
    SELECT doc_id, source, lang,
           CAST(3 AS INTEGER) AS n_files,
           CAST(strlen(text) + strlen(lang) + strlen({_wds_json_sql()})
                AS BIGINT) AS total_bytes,
           CAST(strlen(text) AS BIGINT) AS text_len,
           CAST(n_chars AS BIGINT) AS json_n_chars
    FROM documents
    """,
    description="WebDataset ingestion end-to-end (sources/"
    "wds_datasource.py): documents are packed as (key.txt, key.cls, "
    "key.json) members of gzipped tar shards — the webdataset "
    "convention behind most large multimodal training runs — written "
    "with deterministic member metadata and a two-phase manifest "
    "commit, then streamed back member by member with consecutive "
    "members folding into one sample row per key. Every field "
    "re-derives from the sample map (decode + regexp over the JSON "
    "sidecar); the oracle recomputes from documents directly, so a "
    "hash-MATCH proves the full cycle lossless. Scale shape: one "
    "partition per shard (tars are not block-splittable; real corpora "
    "shard to ~1 GB precisely for this), member-streaming reads "
    "(working set = one member).",
)
def q_wds_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _write_wds_docs(spark, sf_dir)
    back = spark.read.format("spp_wds").load(out)
    js = F.decode(F.col("files")["json"], "UTF-8")
    return back.select(
        F.col("key").cast("long").alias("doc_id"),
        F.regexp_extract(js, r'"source":"([^"]*)"', 1).alias("source"),
        F.decode(F.col("files")["cls"], "UTF-8").alias("lang"),
        F.col("n_files"),
        F.col("total_bytes"),
        F.octet_length(F.decode(F.col("files")["txt"], "UTF-8")).cast("long").alias("text_len"),
        F.regexp_extract(js, r'"n_chars":(\d+)', 1).cast("long").alias("json_n_chars"),
    )


# ------------------------------------------- WDS multimodal shards (r11)
#
# The format's actual use case: image+caption samples. Per document a
# small RGB image (pure function of doc_id % 8) is PNG-encoded and
# packed beside the caption and a JSON sidecar; reading back decodes
# the PNG through the from-scratch imagecodec and reports dimensions +
# a pixel digest. Sequential-replay oracle over the 8 residue classes
# (the q_audio_segments doctrine) — a hash-MATCH proves tar framing,
# PNG encode AND decode all lossless through the distributed cycle.

import pandas as pd  # noqa: E402  (module-global: pandas_udf type hints
# resolve in MODULE globals under `from __future__ import annotations`)

_WDS_IMG_MOD = 8


def _wds_image(rem: int):
    import numpy as np

    yy, xx = np.mgrid[0:16, 0:24]
    r = (xx * 11 + rem * 37) % 256
    g = (yy * 23 + rem * 5) % 256
    b = (xx + yy * 7 + rem) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def _write_wds_multimodal(spark: SparkSession, sf_dir: str) -> str:
    from pyspark.sql.functions import pandas_udf

    from stream_processing_platform_spark.sources.wds_datasource import (
        register_wds_source,
    )

    register_wds_source(spark)
    out = f"/tmp/spp_wds_mm_{os.path.basename(sf_dir.rstrip('/'))}"

    @pandas_udf("binary")
    def synth_png(ids: pd.Series) -> pd.Series:
        from stream_processing_platform_spark.multimodal.imagecodec import encode_png

        return pd.Series(
            [encode_png(_wds_image(int(d) % _WDS_IMG_MOD)) for d in ids]
        )

    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    rows = d.select(
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("key"),
        F.create_map(
            F.lit("png"), synth_png(F.col("doc_id")),
            F.lit("txt"), F.encode(F.substring(F.col("text"), 1, 40), "UTF-8"),
            F.lit("json"), F.encode(_wds_json_col(), "UTF-8"),
        ).alias("files"),
    )
    rows.write.format("spp_wds").mode("overwrite").save(out)
    return out


def _wds_multimodal_oracle() -> str:
    import hashlib

    rows = []
    for rem in range(_WDS_IMG_MOD):
        img = _wds_image(rem)
        h, w = img.shape[:2]
        rows.append(
            f"({rem}, CAST({h} AS INTEGER), CAST({w} AS INTEGER),"
            f" '{hashlib.sha256(img.tobytes()).hexdigest()}')"
        )
    return f"""
    WITH exp(rem, img_h, img_w, pix_sha) AS (VALUES {", ".join(rows)})
    SELECT d.doc_id, e.img_h, e.img_w, e.pix_sha,
           substr(d.text, 1, 40) AS caption
    FROM documents d JOIN exp e ON d.doc_id % {_WDS_IMG_MOD} = e.rem
    """


@query(
    "q_wds_multimodal",
    oracle=None,  # generated below: sequential-replay per residue class
    description=f"WebDataset multimodal samples end-to-end (r11): per "
    f"document a deterministic RGB image (pure function of doc_id % "
    f"{_WDS_IMG_MOD}) is PNG-encoded via the from-scratch imagecodec "
    f"and packed as (key.png, key.txt, key.json) tar members beside "
    f"the caption; reading back through spp_wds DECODES the PNG and "
    f"reports dimensions plus a raw-pixel sha256. Sequential-replay "
    f"oracle over the residue classes — a hash-MATCH proves tar "
    f"framing AND the PNG encode/decode cycle lossless through the "
    f"distributed write/read. Scale shape: per-shard parallel read, "
    f"decode is a 1-in-1-out Arrow map, no shuffle.",
)
def q_wds_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    out = _write_wds_multimodal(spark, sf_dir)
    back = spark.read.format("spp_wds").load(out)

    @pandas_udf("img_h int, img_w int, pix_sha string")
    def decode(pngs: pd.Series) -> pd.DataFrame:
        import hashlib

        from stream_processing_platform_spark.multimodal.imagecodec import decode_png

        hs, ws, shas = [], [], []
        for b in pngs:
            img = decode_png(bytes(b))
            hs.append(img.shape[0])
            ws.append(img.shape[1])
            shas.append(hashlib.sha256(img.tobytes()).hexdigest())
        return pd.DataFrame({"img_h": hs, "img_w": ws, "pix_sha": shas})

    dec = decode(F.col("files")["png"])
    return back.select(
        F.col("key").cast("long").alias("doc_id"),
        dec["img_h"].alias("img_h"),
        dec["img_w"].alias("img_w"),
        dec["pix_sha"].alias("pix_sha"),
        F.decode(F.col("files")["txt"], "UTF-8").alias("caption"),
    )


_REGW["q_wds_multimodal"] = _dc_replace_w(
    _REGW["q_wds_multimodal"], oracle=_wds_multimodal_oracle()
)


# --------------------------------------------- robots meta gate (r11)
#
# Crawl-politeness page gate: pages whose <meta name=robots> carries
# noindex must be dropped from a training corpus (the crawl-side
# robots.txt gate can't see page-level directives). Directive set is a
# pure function of doc_id % 5, shared by both engines.

_ROBOTS_VARIANTS = (
    "",                                             # no meta tag
    '<meta name=robots content="index,follow">',
    '<meta name=robots content="noindex">',
    '<meta name=ROBOTS content="NOINDEX,nofollow">',  # case-insensitive
    '<meta name=robots content="nofollow">',          # nofollow alone OK
)
_ROBOTS_SQL_VARIANTS = (
    "['', '<meta name=robots content=\"index,follow\">', "
    "'<meta name=robots content=\"noindex\">', "
    "'<meta name=ROBOTS content=\"NOINDEX,nofollow\">', "
    "'<meta name=robots content=\"nofollow\">']"
)
# a page is excluded iff a robots meta tag's content contains noindex
_ROBOTS_RE = '<meta[^>]*name="?robots"?[^>]*content="([^"]*)"'


@query(
    "q_meta_robots_filter",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             ('<html><head>'
              || {_ROBOTS_SQL_VARIANTS}[CAST(doc_id % 5 AS INT) + 1]
              || '</head><body>' || text || '</body></html>') AS page
      FROM documents
    ),
    d AS (SELECT doc_id,
                 lower(regexp_extract(page, '(?i){_ROBOTS_RE}', 1))
                   AS directives
          FROM p)
    SELECT doc_id, directives,
           (directives NOT LIKE '%noindex%') AS indexable
    FROM d
    """,
    description="Page-level robots directive gate (r11): the crawl "
    "pipeline's politeness stage — <meta name=robots> is parsed "
    "case-insensitively from each page and documents carrying noindex "
    "are flagged non-indexable (nofollow alone passes, matching "
    "indexing semantics). Fixture cycles all five directive classes by "
    "doc_id % 5; pure JVM regexp in whole-stage codegen, scan-speed "
    "map, '' sentinel for tagless pages (no-nullable invariant).",
)
def q_meta_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    variant = F.element_at(
        F.array(*[F.lit(v) for v in _ROBOTS_VARIANTS]),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    page = F.concat(
        F.lit("<html><head>"), variant, F.lit("</head><body>"),
        F.col("text"), F.lit("</body></html>"),
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.regexp_extract(page, f"(?i){_ROBOTS_RE}", 1)).alias("directives"),
    )
    return d.select(
        "doc_id",
        "directives",
        (~F.col("directives").contains("noindex")).alias("indexable"),
    )


# -------------------------------------------------- CDX URL index (r11)


def _cdx_oracle() -> str:
    from stream_processing_platform_spark.operators.webcur import (
        canonical_url_sql,
        surt_key_sql,
    )

    canon = canonical_url_sql(_messy_url_sql())
    return f"""
    WITH c AS (SELECT doc_id, text, {canon} AS canonical FROM documents)
    SELECT doc_id, {surt_key_sql("canonical")} AS urlkey,
           sha256(text) AS digest,
           CAST(strlen(text) AS BIGINT) AS length
    FROM c
    """


@query(
    "q_cdx_index",
    oracle=None,  # generated below (composes the canonical + SURT twins)
    description="CDX-style URL index records (r11): the Common Crawl "
    "index convention — each capture keyed by its SURT-form urlkey "
    "(host labels reversed/comma-joined, www. stripped, lowercased "
    "path+query) computed over the CANONICAL url, plus a content "
    "digest and length. Composes canonical_url and surt_key, both "
    "pure JVM expressions with twins generated from the same tables; "
    "fixture is the messy-variant URL synth, so the emitted urlkeys "
    "also prove variant spellings index identically. Scan-speed map; "
    "at scale the urlkey is the range-partition sort key an index "
    "writer would bucket by.",
)
def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.webcur import (
        canonical_url,
        surt_key,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", _messy_url_col().alias("url")
    )
    c = d.withColumn("canonical", canonical_url(F.col("url")))
    return c.select(
        "doc_id",
        surt_key(F.col("canonical")).alias("urlkey"),
        F.sha2(F.col("text"), 256).alias("digest"),
        F.octet_length(F.col("text")).cast("long").alias("length"),
    )


_REGW["q_cdx_index"] = _dc_replace_w(_REGW["q_cdx_index"], oracle=_cdx_oracle())


# ------------------------------------------- robots.txt matching (r11)
#
# The fetch-side crawl gate (complement of q_meta_robots_filter's
# page-level one): per-domain Allow/Disallow path rules applied with
# the REP precedence — longest matching prefix wins, Allow wins
# length ties (RFC 9309 / the Google specification), no match =>
# allowed. One shared Python rule list drives the Spark literal frame
# AND the oracle VALUES, so the rule set can never drift.

# (domain-name, allow, path-pattern): five of the seven _URL_NAMES
# domains get a disallow tree with carve-outs; two stay ruleless
# (default-allow path exercised). Pages are doc_id % 40 and the domain
# name index is page % 7, so the longer Allow carve-out for name i is
# pinned to page 14+i (inside the /page/1* disallow subtree AND
# congruent to i mod 7 — without the alignment the override would
# never fire, every /page/1x landing on a different domain). r13 adds
# RFC 9309 §2.2.3 wildcard rules, each placed on a domain where it is
# DECISIVE under page ≡ i (mod 7): '/page/*0$' disallows alpha's page
# 0 and gamma's page 30 outright; '/page/*3$' vs the 8-literal Allow
# '/page/2*3$' wins gamma's page 23 back; on delta, '/page/*3$' (0,
# spec 7) TIES '/page/3*$' (1, spec 7) on page 3 -> Allow wins; and
# delta's page 10 ties two DISALLOWS ('/page/1' vs '/page/*0$', both
# spec 7) -> matched_rule resolves by the struct max's pattern field.
_ROBOTS_RULES: tuple[tuple[str, int, str], ...] = tuple(
    (name, allow, prefix)
    for i, name in enumerate(_URL_NAMES)
    if i < 5
    for allow, prefix in (
        (0, "/page/1"),           # disallow the /page/1* subtree
        (1, f"/page/{14 + i}"),   # ...but allow this page back (longer)
        (0, f"/page/{2 + i}"),    # one name-specific disallow
        (0, "/page/*3$"),         # wildcard+anchor: pages ending in 3
        (0, "/page/*0$"),         # wildcard+anchor: pages ending in 0
        *(((1, "/page/2*3$"),) if i == 2 else ()),  # allow 23 back
        *(((1, "/page/3*$"),) if i == 3 else ()),   # specificity tie
    )
)


def _robots_like(pattern: str) -> str:
    """RFC 9309 path pattern -> SQL LIKE pattern, '!' as the escape
    char: '*' -> '%', a trailing '$' drops (LIKE is already
    end-anchored), otherwise a trailing '%' is appended (un-anchored
    patterns match any continuation). Literal '%'/'_'/'!' escape.
    LIKE's fully-anchored glob semantics are exactly the RFC pattern
    language, so ONE translation serves the Spark join and the duckdb
    oracle (pinned equivalent to functions.robotstxt.match_pattern in
    tests/test_web_queries.py)."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    esc = body.replace("!", "!!").replace("%", "!%").replace("_", "!_")
    like = esc.replace("*", "%")
    return like if anchored else like + "%"


def _robots_oracle() -> str:
    from stream_processing_platform_spark.operators.webcur import (
        canonical_url_sql,
        registered_domain_sql,
    )

    from stream_processing_platform_spark.functions.robotstxt import (
        pattern_specificity,
    )

    vals = ", ".join(
        f"('{n}', {a}, '{p}', '{_robots_like(p)}', {pattern_specificity(p)})"
        for n, a, p in _ROBOTS_RULES
    )
    canon = canonical_url_sql(_messy_url_sql())
    host = "regexp_extract(canonical, '^[a-zA-Z]+://([^/?#]+)', 1)"
    return f"""
    WITH rules(name, allow, prefix, pat, spec) AS (VALUES {vals}),
    c AS (SELECT doc_id, {canon} AS canonical FROM documents),
    u AS (SELECT doc_id,
                 string_split({registered_domain_sql(host)}, '.')[1] AS name,
                 regexp_extract(canonical, '^[a-zA-Z]+://[^/]+([^?#]*)', 1)
                   AS path
          FROM c),
    m AS (SELECT u.doc_id,
                 max({{'l': r.spec, 'a': r.allow, 'p': r.prefix}})
                   AS b
          FROM u JOIN rules r
            ON u.name = r.name AND u.path LIKE r.pat ESCAPE '!'
          GROUP BY u.doc_id),
    j AS (SELECT u.doc_id, u.name, u.path, m.b
          FROM u LEFT JOIN m ON u.doc_id = m.doc_id)
    SELECT doc_id, name AS domain_name, path,
           (b IS NULL OR b.a = 1) AS allowed,
           COALESCE(b.p, '') AS matched_rule
    FROM j
    """


@query(
    "q_robots_rules_filter",
    oracle=None,  # generated below from the same rule list
    description="robots.txt path-rule matching (r11, wildcards r13) — "
    "the fetch-side crawl gate: per-domain Allow/Disallow rules in the "
    "full RFC 9309 §2.2.3 pattern language ('*' any-run, trailing '$' "
    "end anchor) applied with RFC precedence (most literal octets "
    "wins, Allow wins ties, no match allows). Patterns compile ONCE "
    "at plan time to SQL LIKE (whose fully-anchored glob semantics "
    "are exactly the RFC language) + a precomputed specificity, so "
    "matching stays a JVM-side LIKE on both engines; the winner is a "
    "max(struct(spec, allow, pattern)) aggregate — map-side "
    "combinable, never a rank window — over a broadcast rules join; "
    "unmatched URLs rejoin with a '' sentinel. One shared rule list + "
    "one shared LIKE translation generate both the Spark literal "
    "frame and the oracle VALUES. Scale shape: rules are KBs "
    "broadcast with the plan; one doc-keyed aggregate.",
)
def q_robots_rules_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.webcur import (
        canonical_url,
        registered_domain,
    )

    from stream_processing_platform_spark.functions.robotstxt import (
        pattern_specificity,
    )

    rules = spark.createDataFrame(
        [
            (n, a, p, _robots_like(p), pattern_specificity(p))
            for n, a, p in _ROBOTS_RULES
        ],
        "name string, allow int, prefix string, pat string, spec int",
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _messy_url_col().alias("url")
    )
    c = d.withColumn("canonical", canonical_url(F.col("url")))
    host = F.regexp_extract(F.col("canonical"), r"^[a-zA-Z]+://([^/?#]+)", 1)
    u = c.select(
        "doc_id",
        F.split(registered_domain(host), r"\.")[0].alias("name"),
        F.regexp_extract(F.col("canonical"), r"^[a-zA-Z]+://[^/]+([^?#]*)", 1).alias("path"),
    )
    # ONE left join + one grouped max(struct) — no self-join back onto u.
    # The r11 shape (inner join -> agg -> left join u) referenced u's
    # whole lineage TWICE; with the r12 full-PSL expression in that
    # lineage the duplicated tree pushed fresh-lineage compile to ~5 s
    # (AQE re-walks it per stage). name/path are functionally dependent
    # on doc_id, so grouping by all three keeps the same one-shuffle
    # width; unmatched docs keep NULL rule fields, excluded from the
    # precedence max by the isNotNull guard (max ignores NULLs) — the
    # default-allow path.
    j = u.join(
        F.broadcast(rules),
        (u["name"] == rules["name"]) & F.expr("path LIKE pat ESCAPE '!'"),
        "left",
    )
    # group on doc_id ALONE: name/path are functionally dependent, so
    # they ride as first() aggregates — if they were group keys,
    # CollapseProject would inline their full canonical+PSL expression
    # chains into the partial aggregate AND the exchange hash keys
    # (measured +3.7 s of fresh-lineage codegen/plan time at r12)
    g = j.groupBy("doc_id").agg(
        F.first(u["name"]).alias("name"),
        F.first("path").alias("path"),
        F.max(
            F.when(
                F.col("prefix").isNotNull(),
                F.struct(
                    F.col("spec").alias("l"),
                    F.col("allow").alias("a"),
                    F.col("prefix").alias("p"),
                ),
            )
        ).alias("b")
    )
    return g.select(
        "doc_id",
        F.col("name").alias("domain_name"),
        "path",
        (F.col("b").isNull() | (F.col("b")["a"] == 1)).alias("allowed"),
        F.coalesce(F.col("b")["p"], F.lit("")).alias("matched_rule"),
    )


_REGW["q_robots_rules_filter"] = _dc_replace_w(
    _REGW["q_robots_rules_filter"], oracle=_robots_oracle()
)


# ------------------------------- WARC request/response pairing (r11)
#
# Real WARC consumers pair the request record with its response (and
# metadata) for the same capture — the multi-record-type shape a
# single-type extract never exercises. The fixture writes BOTH records
# per document into one archive; the query reads the mixed archive
# back and equi-joins the types on the target URI.


def _write_warc_pairs(spark: SparkSession, sf_dir: str) -> str:
    from stream_processing_platform_spark.sources.warc_datasource import (
        register_warc_source,
    )

    register_warc_source(spark)
    out = f"/tmp/spp_warc_pairs_{os.path.basename(sf_dir.rstrip('/'))}"
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    uri = _uri_col()
    req_body = F.concat(
        F.lit("GET /"), F.col("source"), F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit(" HTTP/1.1\r\nHost: docs.example.test\r\n\r\n"),
    )
    html = _html_col()
    resp_body = F.concat(
        F.lit(_HTTP_PRE), F.octet_length(html).cast("string"),
        F.lit(_HTTP_POST), html,
    )
    req = d.select(
        F.lit("request").alias("warc_type"),
        F.lit("").alias("record_id"),
        F.lit("").alias("warc_date"),
        uri.alias("target_uri"),
        F.lit("application/http; msgtype=request").alias("content_type"),
        F.encode(req_body, "UTF-8").alias("payload"),
    )
    resp = d.select(
        F.lit("response").alias("warc_type"),
        F.lit("").alias("record_id"),
        F.lit("").alias("warc_date"),
        uri.alias("target_uri"),
        F.lit("application/http; msgtype=response").alias("content_type"),
        F.encode(resp_body, "UTF-8").alias("payload"),
    )
    req.unionAll(resp).write.format("spp_warc").mode("overwrite").save(out)
    return out


@query(
    "q_warc_pair_capture",
    oracle=f"""
    WITH x AS (SELECT doc_id, source, {_html_sql()} AS html FROM documents)
    SELECT doc_id,
           ('GET /' || source || '/' || CAST(doc_id AS VARCHAR)) AS request_line,
           CAST(200 AS INTEGER) AS status,
           CAST({_HTTP_BASE_LEN} + length(CAST(strlen(html) AS VARCHAR))
                + strlen(html) AS BIGINT) AS response_bytes
    FROM x
    """,
    description="WARC request/response capture pairing (r11): the "
    "multi-record-type consumer shape — one archive carries BOTH the "
    "request and the response record per capture (as real crawls do), "
    "and the reader's output self-joins on the target URI to pair "
    "them, emitting the request line beside the response status and "
    "size. The oracle recomputes everything from documents, so a "
    "hash-MATCH proves mixed-type framing survives the round trip and "
    "the pairing join drops nothing. Scale shape: per-archive "
    "parallel read; the pair join keys on URI (both sides arrive "
    "from the same scan — one shuffle).",
)
def q_warc_pair_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _write_warc_pairs(spark, sf_dir)
    # Two separate load() calls, NOT two .where branches of one: Spark
    # reuses a single Python DataSource reader instance per relation,
    # and two conflicting warc_type pushdowns through one instance
    # mis-scan (see WarcBatchReader's docstring — caught by this very
    # query). Independent relations get independent readers, so each
    # branch keeps its own (correct, pruning) pushdown.
    body = F.decode(F.col("payload"), "UTF-8")
    req = (
        spark.read.format("spp_warc").load(out)
        .where(F.col("warc_type") == "request")
        .select(
            F.col("target_uri"),
            F.regexp_extract(body, r"^(GET [^ ]+) HTTP", 1).alias("request_line"),
        )
    )
    resp = (
        spark.read.format("spp_warc").load(out)
        .where(F.col("warc_type") == "response")
        .select(
            F.col("target_uri"),
            F.regexp_extract(body, r"^HTTP/1\.1 (\d+) ", 1).cast("int").alias("status"),
            F.col("content_length").alias("response_bytes"),
        )
    )
    j = req.join(resp, "target_uri")
    return j.select(
        F.regexp_extract(F.col("target_uri"), r"/(\d+)$", 1).cast("long").alias("doc_id"),
        "request_line",
        "status",
        "response_bytes",
    )




# ---------------------------------------------- charset decoding (r12)
#
# The step between WARC payload BYTES and every text operator
# (functions/charset.py): BOM sniff -> meta-charset declaration ->
# strict UTF-8 with cp1252 fallback (the WHATWG latin-1-means-cp1252
# rule). The fixture encodes known text per doc_id % 19 residue class —
# plain UTF-8, UTF-8 BOM, UTF-16 LE/BE BOMs, undeclared cp1252
# (fallback path), meta-declared ISO-8859-1, and (r13) one
# meta-declared class per WHATWG major encoding — and because every
# decode is a lossless round-trip of a string the oracle can
# RECONSTRUCT in SQL, this carries a full oracle with no VALUES table.
# Document text is ASCII, so the appended body round-trips under every
# class codec; each class's SAMPLE exercises that codec's own script.

_CS_UNI = "café Ω "          # classes that can carry non-latin-1 text
_CS_LAT = "café résumé "     # cp1252-encodable classes
_CS_META = '<meta charset="ISO-8859-1">'

# r13 meta-declared classes (residues 6..18): (label, python codec,
# codec-native sample). Labels deliberately exercise the WHATWG alias
# rules — gb2312 means GBK, korean means windows-949, iso-8859-9 means
# windows-1254, a utf-16 meta label decodes as UTF-8.
_CS_META_CLASSES: tuple[tuple[str, str, str], ...] = (
    ("shift_jis", "shift_jis", "日本語テスト "),
    ("x-euc-jp", "euc_jp", "日本語テスト "),
    ("korean", "cp949", "한국어 시험 "),
    ("gb2312", "gbk", "中文测试 "),
    ("big5", "big5", "中文測試 "),
    ("koi8", "koi8_r", "русский текст "),
    ("x-cp1251", "cp1251", "русский текст "),
    ("latin2", "iso8859-2", "žluťoučký kůň "),
    ("cyrillic", "iso8859-5", "кириллица "),
    ("greek", "iso8859-7", "ελληνικά "),
    ("iso-8859-9", "cp1254", "Türkçe sınama "),
    ("latin9", "iso8859-15", "euro € sign "),
    ("utf-16", "utf-8", "mislabeled as utf-16 "),
)
_CS_MOD = 6 + len(_CS_META_CLASSES)


def _charset_payload(d: int, text: str) -> bytes:
    from stream_processing_platform_spark.functions import charset  # noqa: F401

    r = d % _CS_MOD
    if r == 0:
        return (_CS_UNI + text).encode("utf-8")
    if r == 1:
        return b"\xef\xbb\xbf" + (_CS_UNI + text).encode("utf-8")
    if r == 2:
        return b"\xff\xfe" + (_CS_UNI + text).encode("utf-16-le")
    if r == 3:
        return b"\xfe\xff" + (_CS_UNI + text).encode("utf-16-be")
    if r == 4:
        return (_CS_LAT + text).encode("cp1252")
    if r == 5:
        return (_CS_META + _CS_LAT + text).encode("cp1252")
    label, codec, sample = _CS_META_CLASSES[r - 6]
    return (f'<meta charset="{label}">{sample}' + text).encode(codec)


def _charset_oracle() -> str:
    text_whens = "\n        ".join(
        f"WHEN {6 + i} THEN '<meta charset=\"{label}\">{sample}' || text"
        for i, (label, _, sample) in enumerate(_CS_META_CLASSES)
    )
    enc_whens = "\n        ".join(
        f"WHEN {6 + i} THEN '{codec}'"
        for i, (_, codec, _) in enumerate(_CS_META_CLASSES)
    )
    text_case = f"""CASE doc_id % {_CS_MOD}
        WHEN 4 THEN '{_CS_LAT}' || text
        WHEN 5 THEN '{_CS_META}{_CS_LAT}' || text
        {text_whens}
        ELSE '{_CS_UNI}' || text END"""
    return f"""
    SELECT doc_id,
      {text_case} AS text_out,
      CASE doc_id % {_CS_MOD}
        WHEN 2 THEN 'utf-16-le' WHEN 3 THEN 'utf-16-be'
        WHEN 4 THEN 'cp1252' WHEN 5 THEN 'cp1252'
        {enc_whens}
        ELSE 'utf-8' END AS encoding,
      CASE doc_id % {_CS_MOD}
        WHEN 0 THEN 'utf-8' WHEN 1 THEN 'bom' WHEN 2 THEN 'bom'
        WHEN 3 THEN 'bom' WHEN 4 THEN 'fallback'
        ELSE 'meta' END AS how,
      CAST(length({text_case}) AS BIGINT) AS n_chars
    FROM documents
    """


@query(
    "q_charset_decode",
    oracle=None,  # patched below: generated from _CS_META_CLASSES
    description="Charset sniffing + byte->text decoding (r12/r13, "
    "functions/charset.py) — the crawl-ingest step between WARC payload "
    "bytes and every text operator: BOM detection (UTF-8/16/32, "
    "longest-first so UTF-32 LE beats its UTF-16 prefix), meta-charset "
    "declarations over the full WHATWG major-encodings label table "
    "(r13: shift_jis/euc-jp/euc-kr/gbk/big5/koi8/windows-125x/"
    "iso-8859-2/5/7/9/15/thai/mac + the alias rules — latin-1 means "
    "cp1252, gb2312 means GBK, korean means windows-949, iso-8859-9 "
    "means windows-1254, a utf-16 meta label decodes as UTF-8), strict "
    "UTF-8 attempt with cp1252 fallback, U+FFFD replacement so the "
    "pipe never throws. Fixture encodes per doc_id % 19 across all "
    "sniff paths with codec-native samples per script; every decode is "
    "a lossless string round-trip, so the oracle RECONSTRUCTS the "
    "expected text in plain SQL. Arrow mapInPandas, 1-in-1-out, zero "
    "shuffle, scan speed at 100 TB.",
)
def q_charset_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from stream_processing_platform_spark.functions.charset import decode_payload

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("text_out", StringType(), False),
            StructField("encoding", StringType(), False),
            StructField("how", StringType(), False),
            StructField("n_chars", LongType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = [
                decode_payload(_charset_payload(int(d), t))
                for d, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "text_out": [r[0] for r in rows],
                    "encoding": [r[1] for r in rows],
                    "how": [r[2] for r in rows],
                    "n_chars": [len(r[0]) for r in rows],
                }
            )

    return load_table(spark, sf_dir, "documents").select("doc_id", "text").mapInPandas(
        run, schema
    )


_REGW["q_charset_decode"] = _dc_replace_w(
    _REGW["q_charset_decode"], oracle=_charset_oracle()
)


# ---------------------------------------------- robots.txt parse (r12)
#
# The FRONT half of the robots pipeline (functions/robotstxt.py, RFC
# 9309): q_robots_rules_filter consumes a per-agent rules TABLE; this
# query produces it from robots.txt payload text — group selection
# (most-specific token, '*' fallback, same-token merge), crawl-delay,
# global sitemaps, and a longest-match path evaluation probe. Fixture
# robots.txt files are a pure function of doc_id % 13 covering: plain
# star group, specific-beats-star, same-token merge, disallow-all,
# empty file, comments + mixed-case keys + sitemaps, UA stacking with
# blank lines inside the group, orphan rules before any group, and the
# r13 RFC 9309 §2.2.3 wildcard legs: '*'/'$' rules, the '/*.css$' vs
# '/' precedence case, an equal-specificity Allow-wins tie, multi-star
# + mid-pattern-literal-'$' patterns, and a Sitemap line splitting a
# User-agent run (the r12 ADVICE group-formation fix).

_RBT_AGENT = "trainingbot"

_RBT_CLASSES = (
    "User-agent: *\nDisallow: /private/\nAllow: /private/public/\nCrawl-delay: 10\n",
    "User-agent: *\nDisallow: /a/\n\nUser-agent: trainingbot\nDisallow: /private/\nCrawl-delay: 3\n",
    "User-agent: trainingbot\nDisallow: /b/\n\nUser-agent: TrainingBot\nAllow: /b/public/\nDisallow: /private/\n",
    "User-agent: trainingbot\nDisallow: /\n",
    "",
    "# policy\nUSER-AGENT: *\nDISALLOW: /private/\nSitemap: https://ex.test/s1.xml\nsitemap: https://ex.test/s2.xml\n",
    "User-agent: otherbot\nUser-agent: *\n\nDisallow: /private/\nCrawl-delay: 7.9\n",
    "Disallow: /orphan/\n\nUser-agent: *\nDisallow:\n",
    # r13 wildcard legs:
    # suffix-anchor beats a shorter wildcard Allow (14 vs 13 literals)
    "User-agent: *\nDisallow: /private/*.html$\nAllow: /private/data*\n",
    # the verdict's canonical case: /*.css$ (5 literals) vs / (1)
    "User-agent: *\nAllow: /*.css$\nDisallow: /\n",
    # equal specificity (both 14 literals) -> Allow wins the tie
    "User-agent: *\nDisallow: /private/*.html$\nAllow: /private/data.*\n",
    # multi-star with trailing anchor; plus a mid-pattern '$' literal
    "User-agent: *\nDisallow: /*iv*te/*$\nAllow: /pri$ate/\n",
    # Sitemap splits the UA run: trainingbot's group carries NO rules
    "User-agent: trainingbot\nSitemap: https://ex.test/s.xml\nUser-agent: otherbot\nDisallow: /private/\n",
)

_RBT_PROBE = "/private/data.html"
_RBT_PROBE_CSS = "/static/app.css"


def _robots_txt_oracle() -> str:
    from stream_processing_platform_spark.functions.robotstxt import (
        parse_robots_txt,
        path_allowed,
    )

    rows = []
    for rem, txt in enumerate(_RBT_CLASSES):
        p = parse_robots_txt(txt, _RBT_AGENT)
        rows.append(
            f"({rem}, '{p.matched_agent}', CAST({len(p.rules)} AS BIGINT),"
            f" CAST({sum(1 for a, _ in p.rules if a == 0)} AS BIGINT),"
            f" CAST({p.crawl_delay} AS BIGINT),"
            f" '{','.join(p.sitemaps)}',"
            f" CAST({str(path_allowed(p, _RBT_PROBE)).upper()} AS BOOLEAN),"
            f" CAST({str(path_allowed(p, _RBT_PROBE_CSS)).upper()} AS BOOLEAN))"
        )
    return f"""
    WITH exp(rem, matched_agent, n_rules, n_disallow, crawl_delay,
             sitemaps, probe_allowed, probe_css_allowed) AS (VALUES {", ".join(rows)})
    SELECT d.doc_id, matched_agent, n_rules, n_disallow, crawl_delay,
           sitemaps, probe_allowed, probe_css_allowed
    FROM documents d JOIN exp e ON d.doc_id % {len(_RBT_CLASSES)} = e.rem
    """


@query(
    "q_robots_txt_parse",
    oracle=None,  # patched below: generated sequential-replay oracle
    description="robots.txt FILE parsing (r12/r13, functions/robotstxt.py "
    "— RFC 9309 incl. §2.2.3 wildcards): per document a robots.txt "
    "payload (pure function of doc_id % 13, covering star/specific/"
    "merged groups, UA stacking across blank lines, disallow-all, "
    "empty files, comments and mixed-case keys, global sitemaps, "
    "orphan rules, and the r13 '*'/'$' wildcard legs — suffix anchors, "
    "the /*.css$-vs-/ precedence case, an equal-specificity Allow-wins "
    "tie, multi-star patterns, a Sitemap line splitting a UA run) "
    "parses into the agent's rule group — most-specific-token "
    "selection with '*' fallback and same-token merge — plus "
    "crawl-delay, sitemaps, and two wildcard-aware "
    "most-specific-match/Allow-wins-ties path probes. This is "
    "the front half of the robots pipeline whose back half "
    "(q_robots_rules_filter) consumes the resulting rules table. "
    "Arrow mapInPandas, zero shuffle, scan-speed at 100 TB (one parse "
    "per fetched robots.txt). Full sequential-replay oracle through "
    "the same parser core.",
)
def q_robots_txt_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from stream_processing_platform_spark.functions.robotstxt import (
        parse_robots_txt,
        path_allowed,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("matched_agent", StringType(), False),
            StructField("n_rules", LongType(), False),
            StructField("n_disallow", LongType(), False),
            StructField("crawl_delay", LongType(), False),
            StructField("sitemaps", StringType(), False),
            StructField("probe_allowed", BooleanType(), False),
            StructField("probe_css_allowed", BooleanType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            ps = [
                parse_robots_txt(_RBT_CLASSES[int(d) % len(_RBT_CLASSES)], _RBT_AGENT)
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "matched_agent": [p.matched_agent for p in ps],
                    "n_rules": [len(p.rules) for p in ps],
                    "n_disallow": [
                        sum(1 for a, _ in p.rules if a == 0) for p in ps
                    ],
                    "crawl_delay": [p.crawl_delay for p in ps],
                    "sitemaps": [",".join(p.sitemaps) for p in ps],
                    "probe_allowed": [path_allowed(p, _RBT_PROBE) for p in ps],
                    "probe_css_allowed": [
                        path_allowed(p, _RBT_PROBE_CSS) for p in ps
                    ],
                }
            )

    return load_table(spark, sf_dir, "documents").select("doc_id").mapInPandas(
        run, schema
    )


_REGW["q_robots_txt_parse"] = _dc_replace_w(
    _REGW["q_robots_txt_parse"], oracle=_robots_txt_oracle()
)


# ------------------------------------------ web-curation funnel (r13)
#
# The web-curation lineage registered as ONE oracle query
# (the q_pipeline_funnel precedent, r12 verdict ask #6): canonicalize
# -> PSL registered domain -> blocklist -> boilerplate -> NFC ->
# script-mix gate -> canonical-URL dedup, reporting pages, domains and
# content characters surviving each stage. Every stage reuses the
# shared fragment its standalone query already oracle-checks
# (canonical_url/registered_domain twins, the _BP_* chrome +
# boilerplate_blocks tables, the NFC cross-engine pair, SCRIPT_RANGES).
#
# One-scan shape: ONE Arrow mapInPandas computes the per-doc
# boilerplate/NFC/script stats (the heavy Python, via the pinned
# Python twins), then per-doc stage FLAGS are plain expressions, the
# dedup keeper is one window min over ok5 survivors, and all six stage
# rows come out of a single 18-column aggregate exploded into rows —
# no per-stage rescan. At 100 TB: one scan, one canonical-keyed
# window shuffle, one global aggregate.

_WF_STAGES = (
    "raw", "blocklist", "boilerplate", "nfc", "script_filter", "url_dedup"
)


def _wf_snip_col() -> F.Column:
    from stream_processing_platform_spark.queries.text import (
        _NFC_SNIPPETS,
        _SCRIPT_SNIPPETS,
    )

    script = F.element_at(
        F.array(*[F.lit(s) for s in _SCRIPT_SNIPPETS]),
        (F.col("doc_id") % len(_SCRIPT_SNIPPETS) + 1).cast("int"),
    )
    nfc = F.element_at(
        F.array(*[F.lit(s) for s in _NFC_SNIPPETS]),
        (F.col("doc_id") % len(_NFC_SNIPPETS) + 1).cast("int"),
    )
    return F.concat(script, F.lit(" "), nfc)


def _wf_raw_col() -> F.Column:
    from stream_processing_platform_spark.queries.text import (
        _BP_MID1,
        _BP_MID2,
        _BP_POST,
        _BP_PRE,
    )

    return F.concat(
        F.lit(_BP_PRE), F.col("source"), F.lit(_BP_MID1), F.col("snip"),
        F.lit(_BP_MID2), F.col("text"), F.lit(_BP_POST),
    )


@query(
    "q_web_funnel",
    oracle=None,  # generated below from the same shared fragments
    description="Web-curation funnel capstone (r13): the "
    "web-curation lineage as one composed oracle query — "
    "messy URL variants canonicalize, hosts resolve to registered "
    "domains (full PSL), blocklisted domains drop, chrome-wrapped "
    "pages pass block-level boilerplate extraction (pages whose "
    "content empties drop), kept content NFC-normalizes, mixed-script "
    "pages drop (the spam/mojibake gate), and canonical-URL dedup "
    "keeps the min-doc_id capture — reporting pages, distinct domains "
    "and content characters per stage. Every stage reuses the shared "
    "fragment its standalone query oracle-checks (canonical/PSL "
    "twins, _BP_ chrome + boilerplate tables, the cross-engine NFC "
    "pair, SCRIPT_RANGES). One-scan shape: one Arrow map for the "
    "per-doc Python (pinned twins), flags as expressions, one "
    "canonical-keyed window for the keeper, one exploded 18-column "
    "aggregate for all six rows.",
)
def q_web_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from stream_processing_platform_spark.operators.webcur import (
        canonical_url,
        host_of,
        registered_domain,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "source")
        .withColumn("canonical", canonical_url(_messy_url_col()))
        .withColumn("snip", _wf_snip_col())
    )
    d = d.select(
        "doc_id",
        "canonical",
        registered_domain(host_of(F.col("canonical"))).alias("domain"),
        _wf_raw_col().alias("raw"),
    )

    stats_schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("canonical", StringType(), False),
            StructField("domain", StringType(), False),
            StructField("raw_len", LongType(), False),
            StructField("content_len", LongType(), False),
            StructField("n_kept", LongType(), False),
            StructField("nfc_len", LongType(), False),
            StructField("n_scripts", LongType(), False),
        ]
    )

    def run(batches):
        import unicodedata

        from stream_processing_platform_spark.functions.html import (
            boilerplate_blocks_py,
        )
        from stream_processing_platform_spark.operators.unicode_scripts import (
            script_counts,
        )

        for pdf in batches:
            rows = [boilerplate_blocks_py(r or "") for r in pdf["raw"]]
            nfcs = [unicodedata.normalize("NFC", r[0]) for r in rows]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "canonical": pdf["canonical"],
                    "domain": pdf["domain"],
                    "raw_len": [len(r) for r in pdf["raw"]],
                    "content_len": [len(r[0]) for r in rows],
                    "n_kept": [r[2] for r in rows],
                    "nfc_len": [len(s) for s in nfcs],
                    "n_scripts": [
                        int((script_counts(s) > 0).sum()) for s in nfcs
                    ],
                }
            )

    s = d.mapInPandas(run, stats_schema)
    ok2 = ~F.col("domain").isin(*_BLOCKLIST)
    f = s.select(
        "*",
        F.lit(True).alias("ok1"),
        ok2.alias("ok2"),
        (ok2 & (F.col("n_kept") >= 1)).alias("ok3"),
    ).withColumn("ok5", F.col("ok3") & (F.col("n_scripts") <= 1))
    keeper = F.min(F.when(F.col("ok5"), F.col("doc_id"))).over(
        Window.partitionBy("canonical")
    )
    g = f.withColumn("ok6", F.col("ok5") & (F.col("doc_id") == keeper))
    # stage k -> (flag, chars): nfc (4) keeps ok3's survivors (a
    # normalization stage drops nothing) but reports NFC char counts.
    spec = [
        ("ok1", "raw_len"), ("ok2", "raw_len"), ("ok3", "content_len"),
        ("ok3", "nfc_len"), ("ok5", "nfc_len"), ("ok6", "nfc_len"),
    ]
    aggs = []
    for k, (ok, chars) in enumerate(spec):
        c = F.col(ok)
        aggs += [
            F.count(F.when(c, 1)).alias(f"p{k}"),
            F.count_distinct(F.when(c, F.col("domain"))).alias(f"d{k}"),
            F.coalesce(F.sum(F.when(c, F.col(chars))), F.lit(0)).alias(f"c{k}"),
        ]
    one = g.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(k + 1).cast("int").alias("stage_idx"),
                F.lit(_WF_STAGES[k]).alias("stage"),
                F.col(f"p{k}").alias("n_pages"),
                F.col(f"d{k}").alias("n_domains"),
                F.col(f"c{k}").alias("n_chars"),
            )
            for k in range(6)
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


def _web_funnel_oracle() -> str:
    from stream_processing_platform_spark.functions.html import (
        boilerplate_blocks_sql,
    )
    from stream_processing_platform_spark.operators.unicode_scripts import (
        SCRIPT_RANGES,
        _range_pred_sql,
    )
    from stream_processing_platform_spark.operators.webcur import (
        canonical_url_sql,
        host_of_sql,
        registered_domain_sql,
    )
    from stream_processing_platform_spark.queries.text import (
        _BP_MID1,
        _BP_MID2,
        _BP_POST,
        _BP_PRE,
        _NFC_SNIPPETS,
        _SCRIPT_SNIPPETS,
    )

    def arr(items):
        return "[" + ", ".join(f"'{s}'" for s in items) + "]"

    snip = (
        f"({arr(_SCRIPT_SNIPPETS)}[CAST(doc_id % {len(_SCRIPT_SNIPPETS)} AS INT) + 1]"
        f" || ' ' || {arr(_NFC_SNIPPETS)}[CAST(doc_id % {len(_NFC_SNIPPETS)} AS INT) + 1])"
    )
    bp = boilerplate_blocks_sql("raw")
    n_scripts = " + ".join(
        f"(CASE WHEN len(list_filter(cps, x -> {_range_pred_sql(ranges)})) > 0"
        f" THEN 1 ELSE 0 END)"
        for _, ranges in SCRIPT_RANGES
    )
    blocked = ", ".join(f"'{b}'" for b in _BLOCKLIST)
    spec = [
        ("ok1", "raw_len"), ("ok2", "raw_len"), ("ok3", "content_len"),
        ("ok3", "nfc_len"), ("ok5", "nfc_len"), ("ok6", "nfc_len"),
    ]
    branches = []
    for k, (ok, chars) in enumerate(spec):
        branches.append(
            f"SELECT CAST({k + 1} AS INTEGER) AS stage_idx,"
            f" '{_WF_STAGES[k]}' AS stage,"
            f" CAST(count(*) AS BIGINT) AS n_pages,"
            f" CAST(count(DISTINCT domain) AS BIGINT) AS n_domains,"
            f" CAST(coalesce(sum({chars}), 0) AS BIGINT) AS n_chars"
            f" FROM g WHERE {ok}"
        )
    return f"""
    WITH u AS MATERIALIZED (
      SELECT doc_id, text, source,
             {canonical_url_sql(_messy_url_sql())} AS canonical,
             {snip} AS snip
      FROM documents),
    d AS MATERIALIZED (
      SELECT doc_id, canonical,
             {registered_domain_sql(host_of_sql("canonical"))} AS domain,
             ('{_BP_PRE}' || source || '{_BP_MID1}' || snip ||
              '{_BP_MID2}' || text || '{_BP_POST}') AS raw
      FROM u),
    b AS MATERIALIZED (
      SELECT doc_id, canonical, domain,
             CAST(length(raw) AS BIGINT) AS raw_len,
             {bp["content"]} AS content, {bp["n_kept"]} AS n_kept
      FROM d),
    n AS MATERIALIZED (
      SELECT doc_id, canonical, domain, raw_len,
             CAST(length(content) AS BIGINT) AS content_len, n_kept,
             nfc_normalize(content) AS nfc
      FROM b),
    s AS MATERIALIZED (
      SELECT doc_id, canonical, domain, raw_len, content_len, n_kept,
             CAST(length(nfc) AS BIGINT) AS nfc_len,
             list_transform(regexp_extract_all(nfc, '(?s).'),
                            c -> unicode(c)) AS cps
      FROM n),
    f AS MATERIALIZED (
      SELECT doc_id, canonical, domain, raw_len, content_len, nfc_len,
             TRUE AS ok1,
             (domain NOT IN ({blocked})) AS ok2,
             ((domain NOT IN ({blocked})) AND n_kept >= 1) AS ok3,
             ((domain NOT IN ({blocked})) AND n_kept >= 1
              AND ({n_scripts}) <= 1) AS ok5
      FROM s),
    g AS MATERIALIZED (
      SELECT *,
             (ok5 AND doc_id = min(CASE WHEN ok5 THEN doc_id END)
                       OVER (PARTITION BY canonical)) AS ok6
      FROM f)
    {" UNION ALL ".join(branches)}
    """


_REGW["q_web_funnel"] = _dc_replace_w(
    _REGW["q_web_funnel"], oracle=_web_funnel_oracle()
)


# --------------------------------------------- sitemap parsing (r13)
#
# The frontier half of crawl discovery (functions/sitemap.py):
# robots.txt surfaces Sitemap: URLs (q_robots_txt_parse emits them);
# this parses the fetched payloads into frontier entries. Fixture
# payloads are a pure function of doc_id % 7 covering: a plain urlset
# (lastmod/changefreq/priority), entity-escaped locs + spec-default
# priority, a sitemapindex, an empty urlset, a non-sitemap payload,
# malformed priority + invalid changefreq + whitespace-padded loc, and
# a loc-less entry (dropped — loc is the one required element).

_SITEMAP_CLASSES = (
    # 0: plain urlset, three complete entries
    "<?xml version=\"1.0\"?><urlset><url><loc>https://ex.test/a</loc>"
    "<lastmod>2026-01-03</lastmod><changefreq>daily</changefreq>"
    "<priority>0.8</priority></url><url><loc>https://ex.test/b</loc>"
    "<lastmod>2026-02-14</lastmod><changefreq>weekly</changefreq>"
    "<priority>0.4</priority></url><url><loc>https://ex.test/c</loc>"
    "<lastmod>2025-12-31</lastmod><changefreq>monthly</changefreq>"
    "<priority>1.0</priority></url></urlset>",
    # 1: entity-escaped loc, missing priority -> spec default 0.5
    "<urlset><url><loc>https://ex.test/q?a=1&amp;b=2</loc></url>"
    "<url><loc>https://ex.test/lt&lt;x&gt;</loc>"
    "<changefreq>hourly</changefreq></url></urlset>",
    # 2: sitemapindex with two children
    "<sitemapindex><sitemap><loc>https://ex.test/s1.xml</loc>"
    "<lastmod>2026-03-01</lastmod></sitemap><sitemap>"
    "<loc>https://ex.test/s2.xml</loc></sitemap></sitemapindex>",
    # 3: empty urlset
    "<urlset></urlset>",
    # 4: not a sitemap at all
    "<html><body>404 not found</body></html>",
    # 5: malformed priority + invalid changefreq + padded loc
    "<urlset><url><loc>  https://ex.test/pad  </loc>"
    "<changefreq>SOMETIMES</changefreq><priority>high</priority></url>"
    "<url><loc>https://ex.test/neg</loc><priority>1.5</priority></url>"
    "</urlset>",
    # 6: loc-less entry dropped, one valid entry kept
    "<urlset><url><lastmod>2026-01-01</lastmod></url>"
    "<url><loc>https://ex.test/only</loc><priority>0.25</priority></url>"
    "</urlset>",
)


def _sitemap_oracle() -> str:
    from stream_processing_platform_spark.functions.sitemap import (
        parse_sitemap,
    )

    rows = []
    for rem, txt in enumerate(_SITEMAP_CLASSES):
        kind, entries = parse_sitemap(txt)
        first_loc = entries[0].loc if entries else ""
        maxp = max((e.priority_milli for e in entries), default=-1)
        lastmod_max = max((e.lastmod for e in entries), default="")
        n_default = sum(1 for e in entries if e.priority_milli == 500)
        rows.append(
            f"({rem}, '{kind}', CAST({len(entries)} AS BIGINT),"
            f" CAST({sum(1 for e in entries if e.is_child_sitemap)} AS BIGINT),"
            f" '{first_loc}', CAST({maxp} AS BIGINT),"
            f" '{lastmod_max}', CAST({n_default} AS BIGINT))"
        )
    return f"""
    WITH exp(rem, kind, n_entries, n_children, first_loc,
             max_priority_milli, lastmod_max, n_default_priority)
         AS (VALUES {", ".join(rows)})
    SELECT d.doc_id, kind, n_entries, n_children, first_loc,
           max_priority_milli, lastmod_max, n_default_priority
    FROM documents d JOIN exp e ON d.doc_id % {len(_SITEMAP_CLASSES)} = e.rem
    """


@query(
    "q_sitemap_parse",
    oracle=None,  # patched below: generated sequential-replay oracle
    description="Sitemap XML parsing (r13, functions/sitemap.py — "
    "sitemaps.org v0.9): per document a sitemap payload (pure function "
    "of doc_id % 7 covering urlset/sitemapindex/empty/non-sitemap "
    "shapes, entity-escaped locs, spec-default and malformed "
    "priorities, invalid changefreq, loc-less entries) parses into "
    "frontier-entry statistics — entry/child counts, first loc, max "
    "priority on the exact 1e-3 integer grid, lexicographic max "
    "lastmod, default-priority count. The frontier half of crawl "
    "discovery: q_robots_txt_parse emits the Sitemap: URLs this "
    "consumes. Arrow mapInPandas, 1-in-1-out, zero shuffle, scan speed "
    "at 100 TB. Full sequential-replay oracle through the same parser "
    "core.",
)
def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from stream_processing_platform_spark.functions.sitemap import (
        parse_sitemap,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("n_entries", LongType(), False),
            StructField("n_children", LongType(), False),
            StructField("first_loc", StringType(), False),
            StructField("max_priority_milli", LongType(), False),
            StructField("lastmod_max", StringType(), False),
            StructField("n_default_priority", LongType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            parsed = [
                parse_sitemap(_SITEMAP_CLASSES[int(d) % len(_SITEMAP_CLASSES)])
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "kind": [k for k, _ in parsed],
                    "n_entries": [len(es) for _, es in parsed],
                    "n_children": [
                        sum(1 for e in es if e.is_child_sitemap)
                        for _, es in parsed
                    ],
                    "first_loc": [es[0].loc if es else "" for _, es in parsed],
                    "max_priority_milli": [
                        max((e.priority_milli for e in es), default=-1)
                        for _, es in parsed
                    ],
                    "lastmod_max": [
                        max((e.lastmod for e in es), default="")
                        for _, es in parsed
                    ],
                    "n_default_priority": [
                        sum(1 for e in es if e.priority_milli == 500)
                        for _, es in parsed
                    ],
                }
            )

    return load_table(spark, sf_dir, "documents").select("doc_id").mapInPandas(
        run, schema
    )


_REGW["q_sitemap_parse"] = _dc_replace_w(
    _REGW["q_sitemap_parse"], oracle=_sitemap_oracle()
)


# ------------------------------------- crawl frontier schedule (r13)
#
# The step AFTER robots + sitemaps in a polite crawler: every
# discovered URL gets a fetch slot within its host's politeness queue
# — per-host FIFO ordered by sitemap priority (desc, doc_id tiebreak),
# slot k fetching at k * crawl_delay seconds. Pure relational math
# (one domain-keyed window), exact integers end to end. Composes the
# shared fixtures: messy URLs canonicalize, hosts resolve through the
# PSL, the per-domain delay comes from a recipe keyed like the robots
# rules, the priority rides the sitemap 1e-3 grid.
#
# Scale shape: ONE shuffle keyed on the registered domain (the window
# partition), no join at all for the delay (7 domains ride as a
# literal CASE/array — broadcast-with-the-plan, the robots-rules
# doctrine). At 100 TB the frontier is trillions of URLs over ~10^8
# hosts: the per-host window is the natural partitioning and nothing
# here is corpus-wide.

_CRAWL_DELAYS = {name: 2 + 3 * i for i, name in enumerate(_URL_NAMES)}
_CRAWL_DELAY_DEFAULT = 60  # unknown-domain fallback (conservative politeness)


@query(
    "q_crawl_schedule",
    oracle=None,  # generated below from the same recipe tables
    description="Polite crawl-frontier scheduling (r13): discovered "
    "URLs (canonicalized, PSL-resolved) are queued per registered "
    "domain ordered by sitemap priority (1e-3 integer grid, doc_id "
    "tiebreak); slot k fetches at k * crawl_delay seconds with the "
    "per-domain delay from a plan-literal recipe (robots crawl-delay "
    "semantics). One domain-keyed window shuffle, exact integers "
    "throughout — the step after q_robots_txt_parse/q_sitemap_parse "
    "in the crawl pipeline.",
)
def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from stream_processing_platform_spark.operators.webcur import (
        canonical_url,
        host_of,
        registered_domain,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("canonical", canonical_url(_messy_url_col()))
    )
    d = d.select(
        "doc_id",
        "canonical",
        F.split(registered_domain(host_of(F.col("canonical"))), r"\.")[0]
        .alias("name"),
        (F.col("doc_id") * 37 % 1000).alias("priority_milli"),
    )
    # recipe-miss guard (r13 ADVICE): array_position returns 0 for a
    # name outside the recipe and element_at(.., 0) THROWS — a domain
    # the recipe doesn't know falls back to the conservative default
    # delay instead (never-throw policy).
    pos = F.array_position(
        F.array(*[F.lit(n) for n in _URL_NAMES]), F.col("name")
    ).cast("int")
    delay = F.when(
        pos > 0,
        F.element_at(
            F.array(*[F.lit(_CRAWL_DELAYS[n]) for n in _URL_NAMES]), pos
        ),
    ).otherwise(F.lit(_CRAWL_DELAY_DEFAULT)).cast("long")
    w = Window.partitionBy("name").orderBy(
        F.col("priority_milli").desc(), F.col("doc_id").asc()
    )
    return d.select(
        "doc_id",
        F.col("name").alias("domain_name"),
        "priority_milli",
        (F.row_number().over(w) - 1).cast("long").alias("fetch_slot"),
        ((F.row_number().over(w) - 1) * delay).alias("fetch_offset_s"),
    )


def _crawl_schedule_oracle() -> str:
    from stream_processing_platform_spark.operators.webcur import (
        canonical_url_sql,
        host_of_sql,
        registered_domain_sql,
    )

    delays = " ".join(
        f"WHEN '{n}' THEN {_CRAWL_DELAYS[n]}" for n in _URL_NAMES
    )
    canon = canonical_url_sql(_messy_url_sql())
    return f"""
    WITH c AS (SELECT doc_id, {canon} AS canonical FROM documents),
    u AS (SELECT doc_id,
                 string_split({registered_domain_sql(host_of_sql("canonical"))},
                              '.')[1] AS name,
                 (doc_id * 37 % 1000) AS priority_milli
          FROM c),
    r AS (SELECT doc_id, name, priority_milli,
                 row_number() OVER (PARTITION BY name
                                    ORDER BY priority_milli DESC, doc_id ASC)
                   - 1 AS slot
          FROM u)
    SELECT doc_id, name AS domain_name,
           CAST(priority_milli AS BIGINT) AS priority_milli,
           CAST(slot AS BIGINT) AS fetch_slot,
           CAST(slot * (CASE name {delays} ELSE {_CRAWL_DELAY_DEFAULT} END)
                AS BIGINT) AS fetch_offset_s
    FROM r
    """


_REGW["q_crawl_schedule"] = _dc_replace_w(
    _REGW["q_crawl_schedule"], oracle=_crawl_schedule_oracle()
)


# --------------------------------------- HTTP response parsing (r13)
#
# The layer between a WARC response record and the charset/content
# pipeline (functions/httpheaders.py): status line, header fields, and
# the TRANSPORT-LAYER charset — which the WHATWG precedence ranks
# above an in-document meta declaration and below a BOM (now wired
# into sniff_charset as how='header'). Fixture payloads are a pure
# function of doc_id % 16 covering: header-charset decode (utf-8 and
# shift_jis), a redirect with Location, a charset-less text/plain
# (strict-utf-8 sniff path), a BOM beating a LYING header label, a
# quoted ISO-8859-1 label (the latin-1-means-cp1252 rule on the
# transport layer), duplicate headers + LF-only endings + an invalid
# Content-Length, a non-HTTP payload (status -1, whole-payload
# sniff) — and the r14 transport-decode legs: chunked de-framing
# (extensions + trailers), gzip and zlib-deflate Content-Encoding,
# chunked+gzip stacked, a raw-deflate body (the classic server bug),
# an honest BOM-less UTF-16LE body with a utf-16le transport label,
# malformed chunk framing (best-effort partial assembly, never
# throws), and a mixed '\n\r\n' header terminator.


def _chunked(body: bytes, cuts: tuple[int, ...]) -> bytes:
    """Frame ``body`` as Transfer-Encoding: chunked, split at ``cuts``
    (byte offsets), with a chunk extension on the second chunk and a
    trailer field after the terminal chunk — fixture staging for the
    de-chunking legs."""
    out = bytearray()
    bounds = (0, *cuts, len(body))
    for i in range(len(bounds) - 1):
        part = body[bounds[i]: bounds[i + 1]]
        ext = b";ext=v" if i == 1 else b""
        out += format(len(part), "x").encode("ascii") + ext + b"\r\n"
        out += part + b"\r\n"
    out += b"0\r\nx-trailer: sha\r\n\r\n"
    return bytes(out)


def _gzipped(body: bytes) -> bytes:
    import gzip

    return gzip.compress(body, mtime=0)


def _deflated(body: bytes, raw: bool = False) -> bytes:
    import zlib

    if raw:
        c = zlib.compressobj(wbits=-zlib.MAX_WBITS)
        return c.compress(body) + c.flush()
    return zlib.compress(body)


_HTTPR_CLASSES: tuple[bytes, ...] = (
    ("HTTP/1.1 200 OK\r\nServer: ex\r\n"
     "Content-Type: text/html; charset=utf-8\r\nContent-Length: 22\r\n"
     "\r\n<p>café Ω body</p>").encode("utf-8"),
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=shift_jis\r\n"
     "\r\n<p>日本語の本文</p>").encode("shift_jis"),
    b"HTTP/1.1 301 Moved Permanently\r\nLocation: https://ex.test/new\r\n"
    b"Content-Length: 0\r\n\r\n",
    b"HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n\r\n"
    b"nothing here",
    # BOM in the body BEATS the lying shift_jis header label
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=shift_jis\r\n"
     "\r\n").encode("ascii") + b"\xef\xbb\xbf"
    + "café bom wins".encode("utf-8"),
    ('HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="ISO-8859-1"\r\n'
     "\r\ncafé résumé transport").encode("cp1252"),
    b"HTTP/1.1 500 Internal Server Error\nX-Cache: MISS\nX-Cache: HIT\n"
    b"Content-Length: oops\n\nplain ascii body",
    b"%PDF-1.4 not an http response at all",
    # ---- r14 transport-decode legs (verdict ask #2 + ADVICE legs) ----
    # 8: chunked, labeled utf-8 — extensions + trailer exercised
    b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
    b"Transfer-Encoding: chunked\r\n\r\n"
    + _chunked("chunked café Ω page".encode("utf-8"), (7, 13)),
    # 9: gzip Content-Encoding, labeled utf-8
    b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
    b"Content-Encoding: gzip\r\n\r\n"
    + _gzipped("gzip café body — inflated".encode("utf-8")),
    # 10: zlib-wrapped deflate, quoted latin-1 label (means cp1252)
    b'HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="ISO-8859-1"\r\n'
    b"Content-Encoding: deflate\r\n\r\n"
    + _deflated("café déflate résumé".encode("cp1252")),
    # 11: chunked + gzip stacked, no charset label (strict-utf-8 sniff)
    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
    b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n\r\n"
    + _chunked(_gzipped("gzip üñî body".encode("utf-8")), (5, 11)),
    # 12: honest BOM-less UTF-16LE body with a utf-16le transport label
    #     (honored at the transport layer — r13 ADVICE #1)
    b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-16le\r\n"
    b"\r\n" + "utf-16 tränsport body".encode("utf-16-le"),
    # 13: raw-deflate (the classic server bug), labeled utf-8
    b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n"
    b"Content-Encoding: deflate\r\n\r\n"
    + _deflated(b"raw deflate body", raw=True),
    # 14: malformed chunk framing — first chunk assembles, then a bad
    #     size line stops the de-framing (best-effort, never throws)
    b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
    b"Transfer-Encoding: chunked\r\n\r\n"
    b"5\r\nhello\r\nzz\r\nnot really chunked",
    # 15: mixed '\n\r\n' header terminator (LF header lines closed by
    #     CRLF — the r13 ADVICE #2 boundary case)
    b"HTTP/1.1 200 OK\nContent-Type: text/plain\n\r\nmixed endings body",
)


def _httpr_oracle() -> str:
    from stream_processing_platform_spark.functions.httpheaders import (
        decode_http_body,
        parse_http_response,
    )

    rows = []
    for rem, payload in enumerate(_HTTPR_CLASSES):
        r = parse_http_response(payload)
        text, enc, how, status = decode_http_body(payload)
        rows.append(
            f"({rem}, CAST({status} AS BIGINT), '{r.reason}',"
            f" '{r.content_type}', '{r.charset_label}',"
            f" CAST({r.content_length} AS BIGINT),"
            f" CAST({len(r.headers)} AS BIGINT),"
            f" '{text.replace(chr(39), chr(39) * 2)}', '{enc}', '{how}')"
        )
    return f"""
    WITH exp(rem, status, reason, content_type, charset_label,
             content_length, n_headers, body_text, encoding, how)
         AS (VALUES {", ".join(rows)})
    SELECT d.doc_id, status, reason, content_type, charset_label,
           content_length, n_headers, body_text, encoding, how
    FROM documents d JOIN exp e ON d.doc_id % {len(_HTTPR_CLASSES)} = e.rem
    """


@query(
    "q_http_headers",
    oracle=None,  # patched below: generated sequential-replay oracle
    description="HTTP response parsing + transport decode + "
    "transport-layer charset (r13; transport layers r14, "
    "functions/httpheaders.py): per document an HTTP/1.x response "
    "payload (pure function of doc_id % 16 — header-charset decode, "
    "redirects, charset-less sniff fallthrough, a BOM beating a lying "
    "header label, quoted latin-1-means-cp1252 labels, duplicate "
    "headers with LF-only endings and invalid Content-Length, "
    "non-HTTP bytes, chunked de-framing with extensions and trailers, "
    "gzip / zlib-deflate / raw-deflate Content-Encoding inflation, "
    "chunked+gzip stacked, an honest BOM-less UTF-16LE body with a "
    "utf-16le transport label, malformed chunk framing assembled "
    "best-effort, and a mixed LF/CRLF header terminator) parses into "
    "status/reason/headers, the transport layers are undone (chunked "
    "then Content-Encoding), and the body decodes with the full "
    "WHATWG precedence — BOM > Content-Type charset ('header') > "
    "meta > strict UTF-8 > cp1252. The stage between the WARC "
    "response record and every text operator. Arrow mapInPandas, "
    "1-in-1-out, zero shuffle, scan speed at 100 TB. Full "
    "sequential-replay oracle through the same parser core.",
)
def q_http_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from stream_processing_platform_spark.functions.httpheaders import (
        decode_http_body,
        parse_http_response,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("status", LongType(), False),
            StructField("reason", StringType(), False),
            StructField("content_type", StringType(), False),
            StructField("charset_label", StringType(), False),
            StructField("content_length", LongType(), False),
            StructField("n_headers", LongType(), False),
            StructField("body_text", StringType(), False),
            StructField("encoding", StringType(), False),
            StructField("how", StringType(), False),
        ]
    )

    def run(batches):
        # only 16 distinct payloads exist (doc_id % 16) — parse and
        # transport-decode each ONCE per task, then index per row
        # (r14 review finding: per-row re-parse + inflate was timed
        # work in the bench extended set)
        table = [
            (parse_http_response(p), decode_http_body(p))
            for p in _HTTPR_CLASSES
        ]
        n = len(_HTTPR_CLASSES)
        for pdf in batches:
            rows = [table[int(d) % n] for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "status": [d[3] for _r, d in rows],
                    "reason": [r.reason for r, _d in rows],
                    "content_type": [r.content_type for r, _d in rows],
                    "charset_label": [r.charset_label for r, _d in rows],
                    "content_length": [r.content_length for r, _d in rows],
                    "n_headers": [len(r.headers) for r, _d in rows],
                    "body_text": [d[0] for _r, d in rows],
                    "encoding": [d[1] for _r, d in rows],
                    "how": [d[2] for _r, d in rows],
                }
            )

    return load_table(spark, sf_dir, "documents").select("doc_id").mapInPandas(
        run, schema
    )


_REGW["q_http_headers"] = _dc_replace_w(
    _REGW["q_http_headers"], oracle=_httpr_oracle()
)


def httpr_fixture_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-synthesis stage for the bench's q_http_headers entry:
    one HTTP response payload per document (doc_id % 16). Split out —
    the codec-split convention — so the bench pre-materializes payload
    bytes ONCE (un-timed) and the timed region is parse-per-row: at
    real scale every payload is distinct, so the declared query's
    16-way parse memo would flatter the number (r14 verdict item 7)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from stream_processing_platform_spark.partitioning import ensure_min_parallelism

    @pandas_udf("binary")
    def synth(ids: pd.Series) -> pd.Series:
        n = len(_HTTPR_CLASSES)
        return pd.Series([_HTTPR_CLASSES[int(d) % n] for d in ids])

    return ensure_min_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id")
    ).select("doc_id", synth(F.col("doc_id")).alias("payload"))


def httpr_decode_df(docs: DataFrame) -> DataFrame:
    """Parse/transport-decode stage over (doc_id, payload) — EVERY row
    parses its own payload (no residue memo), the honest per-row cost
    the engine pays on real distinct payloads."""
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from stream_processing_platform_spark.functions.httpheaders import (
        decode_http_body,
        parse_http_response,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("status", LongType(), False),
            StructField("reason", StringType(), False),
            StructField("content_type", StringType(), False),
            StructField("charset_label", StringType(), False),
            StructField("content_length", LongType(), False),
            StructField("n_headers", LongType(), False),
            StructField("body_text", StringType(), False),
            StructField("encoding", StringType(), False),
            StructField("how", StringType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = [
                (parse_http_response(bytes(p)), decode_http_body(bytes(p)))
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "status": [d[3] for _r, d in rows],
                    "reason": [r.reason for r, _d in rows],
                    "content_type": [r.content_type for r, _d in rows],
                    "charset_label": [r.charset_label for r, _d in rows],
                    "content_length": [r.content_length for r, _d in rows],
                    "n_headers": [len(r.headers) for r, _d in rows],
                    "body_text": [d[0] for _r, d in rows],
                    "encoding": [d[1] for _r, d in rows],
                    "how": [d[2] for _r, d in rows],
                }
            )

    return docs.select("doc_id", "payload").mapInPandas(run, schema)


# ----------------------------------------- URL feature filter (r13)
#
# The RefinedWeb/CCNet URL-text filter — the curation stage BETWEEN
# the domain blocklist (q_blocklist_filter, registered-domain level)
# and content fetch: per-URL structural features (path depth, query
# arity, extension class, host digit density, length) plus a
# blockword scan over the URL text, feeding a keep/drop gate. All
# pure JVM codegen expressions (regexp + array ops, zero Python);
# the fixture appends a per-residue tail to the messy URL so every
# feature leg has real variance. One shared tail/blockword/media
# table generates BOTH engines' expressions.

_URLF_TAILS = (
    "",                                   # bare page
    "/index.html",                        # html doc
    "/img/photo-01.jpg",                  # media: image
    "/clip/video.mp4",                    # media: video
    "/a/b/c/deep/page.php?x=1&y=2&z=3",   # deep path + wide query
    "/download/setup.exe",                # executable
    "/casino-poker/free-spins",           # blockword path
    "/doc/report.pdf?session=abc123",     # doc + tracking-ish param
)
_URLF_MEDIA_EXTS = ("jpg", "jpeg", "png", "gif", "webp", "mp4", "webm", "mp3")
_URLF_BLOCKWORDS = ("casino", "poker", "viagra", "warez")
_URLF_MAX_DEPTH = 4
_URLF_MAX_PARAMS = 2


@query(
    "q_url_features",
    oracle=None,  # generated below from the same tables
    description="URL-text feature filter (r13) — the RefinedWeb-style "
    "stage between the domain blocklist and fetch: per-URL path depth, "
    "query-parameter arity, extension class (media set), host digit "
    "density, URL length, and a blockword scan over the URL text; the "
    "keep gate drops media/executable extensions, blockword hits, "
    "over-deep paths and over-wide queries. Pure whole-stage-codegen "
    "expressions (regexp + array ops, zero Python, zero shuffle — "
    "scan speed at 100 TB); one shared tail/media/blockword table "
    "generates both engines.",
)
def q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    tail = F.element_at(
        F.array(*[F.lit(t) for t in _URLF_TAILS]),
        (F.col("doc_id") % len(_URLF_TAILS) + 1).cast("int"),
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(_messy_url_col(), tail).alias("url")
    )
    host = F.regexp_extract("url", r"^[a-zA-Z]+://([^/?#]+)", 1)
    path = F.regexp_extract("url", r"^[a-zA-Z]+://[^/?#]+([^?#]*)", 1)
    query_s = F.regexp_extract("url", r"\?([^#]*)", 1)
    lower_url = F.lower("url")
    feats = d.select(
        "doc_id",
        "url",
        F.length("url").cast("long").alias("url_len"),
        F.size(F.filter(F.split(path, "/"), lambda x: x != "")).cast("long").alias("path_depth"),
        F.size(F.filter(F.split(query_s, "&"), lambda x: x != "")).cast("long").alias("n_params"),
        F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]{1,5})$", 1)).alias("ext"),
        F.length(F.regexp_replace(host, "[^0-9]", "")).cast("long").alias("host_digits"),
        F.exists(
            F.array(*[F.lit(w) for w in _URLF_BLOCKWORDS]),
            lambda w: lower_url.contains(w),
        ).alias("blockword_hit"),
    )
    is_media = F.col("ext").isin(*_URLF_MEDIA_EXTS)
    keep = (
        ~F.col("blockword_hit")
        & ~is_media
        & (F.col("ext") != "exe")
        & (F.col("path_depth") <= _URLF_MAX_DEPTH)
        & (F.col("n_params") <= _URLF_MAX_PARAMS)
    )
    return feats.select(
        "doc_id", "url", "url_len", "path_depth", "n_params", "ext",
        "host_digits", "blockword_hit",
        is_media.alias("is_media"),
        keep.alias("keep"),
    )


def _url_features_oracle() -> str:
    def arr(items):
        return "[" + ", ".join(f"'{s}'" for s in items) + "]"

    tail = f"{arr(_URLF_TAILS)}[CAST(doc_id % {len(_URLF_TAILS)} AS INT) + 1]"
    media = ", ".join(f"'{e}'" for e in _URLF_MEDIA_EXTS)
    block = " OR ".join(
        f"contains(lower(url), '{w}')" for w in _URLF_BLOCKWORDS
    )
    return f"""
    WITH u AS (SELECT doc_id, ({_messy_url_sql()} || {tail}) AS url
               FROM documents),
    p AS (SELECT doc_id, url,
                 regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1) AS host,
                 regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1) AS path,
                 regexp_extract(url, '\\?([^#]*)', 1) AS q
          FROM u),
    f AS (SELECT doc_id, url,
                 CAST(length(url) AS BIGINT) AS url_len,
                 CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS BIGINT) AS path_depth,
                 CAST(len(list_filter(string_split(q, '&'), x -> x <> '')) AS BIGINT) AS n_params,
                 lower(regexp_extract(path, '\\.([A-Za-z0-9]{{1,5}})$', 1)) AS ext,
                 CAST(length(regexp_replace(host, '[^0-9]', '', 'g')) AS BIGINT) AS host_digits,
                 ({block}) AS blockword_hit
          FROM p)
    SELECT doc_id, url, url_len, path_depth, n_params, ext, host_digits,
           blockword_hit,
           (ext IN ({media})) AS is_media,
           (NOT blockword_hit AND ext NOT IN ({media}) AND ext <> 'exe'
            AND path_depth <= {_URLF_MAX_DEPTH}
            AND n_params <= {_URLF_MAX_PARAMS}) AS keep
    FROM f
    """


_REGW["q_url_features"] = _dc_replace_w(
    _REGW["q_url_features"], oracle=_url_features_oracle()
)


# ----------------------- outlink extraction + frontier (r14)
#
# The crawl DISCOVERY loop closed (the r13 verdict's top ask): fetched
# pages' <a href> values are extracted (functions/html.extract_hrefs),
# resolved against the page URL (operators/webcur.resolve_url —
# WHATWG-basic subset, pinned to urljoin by tests/test_urlresolve.py),
# scheme-gated to http(s), canonicalized, and anti-joined against the
# already-seen page set — exactly the stage that feeds
# q_crawl_schedule, which until now ate from sitemaps alone. Every
# href is a pure function of doc_id built from paired column/SQL
# builders, and the oracle re-runs the SAME regex extraction and the
# SAME generated resolver over the SAME reconstructed HTML — the
# generated-oracle doctrine end to end. Link classes cover every
# resolver branch: absolute, scheme-relative, absolute-path, ../ and
# ./ relative, bare relative, fragment-only + empty (self, dropped by
# the anti-join), mailto/javascript (dropped by the scheme gate), a
# cross-page link to doc_id - 7*(doc_id%3) (same-origin by
# construction — a REAL page, dropped by the anti-join), plus <link>
# and <img> noise the <a>-only patterns must skip, one uppercase
# <A HREF> tag, and double-/single-/un-quoted attribute forms.
#
# 100 TB shape: extract+resolve+canonicalize is pure JVM regexp
# codegen at scan speed (zero Python); the anti-join is ONE shuffle
# keyed on the canonical URL (the frontier key — at 10^10 seen URLs
# this is the same keyed state as q_stream_url_dedup's, ~60 B/key);
# the final per-URL aggregate reuses that partitioning. No cartesian,
# no driver state (plan-gated in tests/test_plan_quality.py).


def _sqlq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _ol_name_col(shift: int = 0) -> F.Column:
    return F.element_at(
        F.array(*[F.lit(n) for n in _URL_NAMES]),
        ((F.col("doc_id") + shift) % len(_URL_NAMES) + 1).cast("int"),
    )


def _ol_name_sql(shift: int = 0) -> str:
    arr = "[" + ", ".join(f"'{n}'" for n in _URL_NAMES) + "]"
    return f"{arr}[CAST((doc_id + {shift}) % {len(_URL_NAMES)} AS INT) + 1]"


def _ol_suffix_col(shift: int) -> F.Column:
    return F.element_at(
        F.array(*[F.lit(s) for s in _URL_SUFFIXES]),
        ((F.col("doc_id") + shift) % len(_URL_SUFFIXES) + 1).cast("int"),
    )


def _ol_suffix_sql(shift: int) -> str:
    arr = "[" + ", ".join(f"'{s}'" for s in _URL_SUFFIXES) + "]"
    return f"{arr}[CAST((doc_id + {shift}) % {len(_URL_SUFFIXES)} AS INT) + 1]"


def _ol_base_col() -> F.Column:
    return F.concat(
        F.lit("https://www."),
        _ol_name_col(),
        F.lit(".com/sub/page"),
        F.col("doc_id").cast("string"),
        F.lit(".html"),
    )


def _ol_base_sql() -> str:
    return (
        f"('https://www.' || {_ol_name_sql()} || '.com/sub/page' || "
        f"CAST(doc_id AS VARCHAR) || '.html')"
    )


def _mod_str_col(m: int) -> F.Column:
    return (F.col("doc_id") % m).cast("string")


def _mod_str_sql(m: int) -> str:
    return f"CAST(doc_id % {m} AS VARCHAR)"


def _ol_links() -> list[tuple]:
    """(quote_style, href_col_thunk, href_sql) per link class.
    quote_style is '\"', \"'\", or '' (unquoted) — the HTML attribute
    form the link is emitted in, so all three extraction patterns get
    real coverage. The column side is a zero-arg THUNK: oracle
    generation runs at import time, before any SparkContext exists,
    and F.lit cannot be called then."""

    def cat(*parts):
        return lambda: F.concat(
            *[p() if callable(p) else F.lit(p) for p in parts]
        )

    links: list[tuple] = [
        # absolute (emitted as an uppercase <A HREF> tag)
        ('"',
         cat("https://mirror", lambda: _mod_str_col(3),
             ".example.org/m/p", lambda: _mod_str_col(11), ".html"),
         f"('https://mirror' || {_mod_str_sql(3)} || '.example.org/m/p' "
         f"|| {_mod_str_sql(11)} || '.html')"),
        # scheme-relative, single-quoted
        ("'",
         cat("//cdn.", lambda: _ol_name_col(2), ".",
             lambda: _ol_suffix_col(3), "/lib/app",
             lambda: _mod_str_col(4), ".js"),
         f"('//cdn.' || {_ol_name_sql(2)} || '.' || {_ol_suffix_sql(3)} "
         f"|| '/lib/app' || {_mod_str_sql(4)} || '.js')"),
        # absolute-path
        ('"',
         cat("/top/s", lambda: _mod_str_col(3), "/index.html"),
         f"('/top/s' || {_mod_str_sql(3)} || '/index.html')"),
        # ../ relative, unquoted attribute
        ("",
         cat("../up/d", lambda: _mod_str_col(4), ".html"),
         f"('../up/d' || {_mod_str_sql(4)} || '.html')"),
        # ./ relative
        ('"',
         cat("./sib/p", lambda: _mod_str_col(6), ".html"),
         f"('./sib/p' || {_mod_str_sql(6)} || '.html')"),
        # fragment-only (self for no-base-tag docs — anti-joined
        # away there; on base-tag docs it resolves to the base and
        # SURVIVES into the frontier, WHATWG behavior)
        ('"',
         cat("#sec", lambda: _mod_str_col(2)),
         f"('#sec' || {_mod_str_sql(2)})"),
        # non-http schemes (scheme-gated away)
        ('"',
         cat("mailto:info@", lambda: _ol_name_col(), ".com"),
         f"('mailto:info@' || {_ol_name_sql()} || '.com')"),
        ('"', cat("javascript:void(0)"), "'javascript:void(0)'"),
        # bare relative, unquoted
        ("",
         cat("n", lambda: _mod_str_col(5), ".html"),
         f"('n' || {_mod_str_sql(5)} || '.html')"),
        # empty href (same base-tag caveat as the fragment-only leg)
        ('"', cat(""), "''"),
        # uppercase scheme: taken verbatim by resolve_url, must pass
        # the (case-insensitive) scheme gate; canonical_url lowers it
        ('"',
         cat("HTTPS://Mirror.Example.net/Up/P", lambda: _mod_str_col(5)),
         f"('HTTPS://Mirror.Example.net/Up/P' || {_mod_str_sql(5)})"),
        # cross-page link: same origin by construction (doc_id mod 7
        # preserved), a REAL page for doc_id >= 14 — anti-joined away
        # on no-base-tag docs; base-tag docs rebase it off the page
        # tree and it survives (both engines compute the same)
        ('"',
         cat("./page",
             lambda: (
                 F.col("doc_id") - 7 * (F.col("doc_id") % 3)
             ).cast("string"),
             ".html"),
         "('./page' || CAST(doc_id - 7 * (doc_id % 3) AS VARCHAR) "
         "|| '.html')"),
    ]
    return links


_OL_HTML_HEAD = (
    '<html><head><link rel="stylesheet" href="/css/site.css">'
)
_OL_HTML_HEAD2 = '</head><body><img src="/img/h.png">'
# <base href> classes (WHATWG: the first <base> sets the document base
# for RELATIVE resolution): doc_id % 8 == 5 gets an ABSOLUTE base on a
# different origin, the other doc_id % 4 == 1 docs an absolute-path
# base, doc_id % 8 == 2 a NON-HTTP base tag (ftp:) that document_base
# must IGNORE — the leg that keeps the pre-resolution http(s) gate's
# equivalence oracle-visible (a page-controlled base must not smuggle
# non-http URLs into the frontier); everyone else has no base tag.
_OL_BASE_ABS = "https://based.example.org/z/"
_OL_BASE_PATH = "/rebased/"
_OL_BASE_IGNORED = "ftp://files.example.net/pub/"


def _ol_base_tag_col() -> F.Column:
    d = F.col("doc_id")
    return (
        F.when(d % 8 == 5, F.lit(f'<base href="{_OL_BASE_ABS}">'))
        .when(d % 4 == 1, F.lit(f'<base href="{_OL_BASE_PATH}">'))
        .when(d % 8 == 2, F.lit(f'<base href="{_OL_BASE_IGNORED}">'))
        .otherwise(F.lit(""))
    )


def _ol_base_tag_sql() -> str:
    return (
        f"CASE WHEN doc_id % 8 = 5 THEN '<base href=\"{_OL_BASE_ABS}\">' "
        f"WHEN doc_id % 4 = 1 THEN '<base href=\"{_OL_BASE_PATH}\">' "
        f"WHEN doc_id % 8 = 2 THEN '<base href=\"{_OL_BASE_IGNORED}\">' "
        f"ELSE '' END"
    )


def _ol_html_col() -> F.Column:
    parts: list[F.Column] = [
        F.lit(_OL_HTML_HEAD),
        _ol_base_tag_col(),
        F.lit(_OL_HTML_HEAD2),
    ]
    for i, (q, thunk, _sql) in enumerate(_ol_links()):
        col = thunk()
        if i == 0:  # uppercase tag exercises (?i)
            parts += [F.lit('<A HREF="'), col, F.lit('">T</A>')]
        elif q == '"':
            parts += [F.lit('<a class="x" href="'), col, F.lit('">t</a>')]
        elif q == "'":
            parts += [F.lit("<a href='"), col, F.lit("'>t</a>")]
        else:
            parts += [F.lit("<a href="), col, F.lit(">t</a>")]
    parts.append(F.lit("</body></html>"))
    return F.concat(*parts)


def _ol_html_sql() -> str:
    parts: list[str] = [
        _sqlq(_OL_HTML_HEAD),
        "(" + _ol_base_tag_sql() + ")",
        _sqlq(_OL_HTML_HEAD2),
    ]
    for i, (q, _col, sql) in enumerate(_ol_links()):
        if i == 0:
            parts += [_sqlq('<A HREF="'), sql, _sqlq('">T</A>')]
        elif q == '"':
            parts += [_sqlq('<a class="x" href="'), sql, _sqlq('">t</a>')]
        elif q == "'":
            parts += [_sqlq("<a href='"), sql, _sqlq("'>t</a>")]
        else:
            parts += [_sqlq("<a href="), sql, _sqlq(">t</a>")]
    parts.append(_sqlq("</body></html>"))
    return "(" + " || ".join(parts) + ")"


@query(
    "q_outlink_frontier",
    oracle=None,  # generated below from the same link/step tables
    description="Outlink extraction + relative URL resolution + "
    "frontier anti-join (r14 — the crawl discovery loop closed): per "
    "page, <a href> values (double-/single-/un-quoted, case-"
    "insensitive; <link>/<img> noise skipped; attribute names bound "
    "at a boundary so data-href never shadows the real href) are "
    "extracted with functions/html.extract_hrefs, resolved against "
    "the document base — the page URL, overridden by the first "
    "<base href> tag per WHATWG (absolute and absolute-path base "
    "classes in the fixture) — via operators/webcur.resolve_url "
    "(WHATWG-basic subset pinned to urljoin by a grid + hypothesis "
    "fuzz), gated to http(s) case-insensitively, canonicalized, "
    "anti-joined against the seen page set, and aggregated per "
    "discovered URL with its PSL registered domain. Pure JVM regexp codegen end to end (zero "
    "Python), one keyed shuffle for the anti-join + the reused "
    "aggregate. Full generated oracle: duckdb re-runs the SAME "
    "extraction regexes and the SAME generated resolver over the SAME "
    "reconstructed HTML.",
)
def q_outlink_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.functions.html import (
        extract_base_href,
        extract_hrefs,
    )
    from stream_processing_platform_spark.operators.webcur import (
        canonical_url,
        document_base,
        host_of,
        registered_domain,
        resolve_url,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    # regex-heavy map (extract -> resolve -> canonicalize, ~30 regexp
    # ops/link): the single-row-group testdata scan would run it in ONE
    # task — spread it (no-op at real scale, CLAUDE.md rule)
    pages = ensure_min_parallelism(d).select(
        "doc_id", _ol_base_col().alias("base"), _ol_html_col().alias("html")
    )
    # WHATWG <base href>: the document's FIRST base tag overrides the
    # page URL for relative refs (document_base — the http(s)-family
    # honored subset, not the full resolver: see its docstring). braw
    # is bound as its OWN projected column first: document_base
    # references it 6x, and splicing the full-page regexp_extract tree
    # into each reference is the k-references cost CLAUDE.md warns
    # about (the oracle's CTE shape, mirrored).
    based = pages.select(
        "doc_id",
        "base",
        "html",
        extract_base_href(F.col("html")).alias("braw"),
    )
    eff = document_base(F.col("base"), F.col("braw"))
    links = based.select(
        "doc_id",
        eff.alias("ebase"),
        F.explode(extract_hrefs(F.col("html"))).alias("href"),
    )
    # http(s) gate on the RAW reference, case-insensitively (RFC 3986
    # schemes are case-insensitive — r14 review finding): a relative
    # reference inherits the document base's scheme, and a crawl's
    # document bases are http(s) by construction, so gating absolute
    # references pre-resolution is equivalent to gating the resolved
    # URL — and keeps the resolve tree OUT of the pushed-down filter
    # predicate (a second spliced copy blew the 64 KB codegen limit).
    http = links.where(
        ~F.col("href").rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:")
        | F.col("href").rlike("(?i)^https?:")
    )
    resolved = http.select(
        "doc_id", resolve_url(F.col("ebase"), F.col("href")).alias("url")
    )
    canon = resolved.select(
        "doc_id", canonical_url(F.col("url")).alias("url")
    )
    seen = d.select(canonical_url(_ol_base_col()).alias("url"))
    # merge hint: the seen side is the FULL crawl frontier — it scales
    # with the corpus (10^10 URLs at 100 TB), so the honest plan is a
    # shuffled sort-merge anti-join on the canonical key; without the
    # hint AQE broadcasts the small-SF seen set and the plan inverts
    # at scale (the q_substring_dup_spans doctrine). The downstream
    # per-URL aggregate reuses the same partitioning — one keyed
    # shuffle per side, zero extra Exchanges (plan-gated).
    fresh = canon.join(seen.hint("merge"), "url", "left_anti")
    agg = fresh.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_refs"),
        F.min("doc_id").alias("first_doc"),
    )
    return agg.select(
        "url",
        registered_domain(host_of(F.col("url"))).alias("domain"),
        "n_refs",
        "first_doc",
    )


def _outlink_frontier_oracle() -> str:
    from stream_processing_platform_spark.functions.html import (
        extract_base_href_sql,
        extract_hrefs_sql,
    )
    from stream_processing_platform_spark.operators.webcur import (
        canonical_url_sql,
        document_base_sql,
        host_of_sql,
        registered_domain_sql,
        resolve_url_sql,
    )

    return f"""
    WITH p AS (SELECT doc_id, {_ol_base_sql()} AS base,
                      {_ol_html_sql()} AS html
               FROM documents),
    l AS (SELECT doc_id, base,
                 {extract_base_href_sql("html")} AS braw,
                 unnest({extract_hrefs_sql("html")}) AS href
          FROM p),
    e AS (SELECT doc_id, href,
                 {document_base_sql("base", "braw")} AS ebase
          FROM l
          WHERE NOT regexp_matches(href, '^[a-zA-Z][a-zA-Z0-9+.-]*:')
             OR regexp_matches(href, '(?i)^https?:')),
    r AS (SELECT doc_id, {resolve_url_sql("ebase", "href")} AS url FROM e),
    c AS (SELECT doc_id, {canonical_url_sql("url")} AS url FROM r),
    s AS (SELECT DISTINCT {canonical_url_sql(_ol_base_sql())} AS url
          FROM documents),
    f AS (SELECT c.doc_id, c.url FROM c
          WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.url = c.url)),
    g AS (SELECT url, CAST(count(*) AS BIGINT) AS n_refs,
                 CAST(min(doc_id) AS BIGINT) AS first_doc
          FROM f GROUP BY url)
    SELECT url, {registered_domain_sql(host_of_sql("url"))} AS domain,
           n_refs, first_doc
    FROM g
    """


_REGW["q_outlink_frontier"] = _dc_replace_w(
    _REGW["q_outlink_frontier"], oracle=_outlink_frontier_oracle()
)


# ---------------------------- multi-charset WARC fixture (r13)
#
# A response archive whose HTTP envelopes carry VARIED transport-layer
# charsets (the q_stream_charset_ingest fixture): per doc_id % 10 the
# Content-Type declares utf-8 / shift_jis / quoted ISO-8859-1 / euc-kr,
# or omits the parameter (strict-UTF-8 sniff path), or the body leads
# with a BOM (which outranks any label) — plus the r14 transport legs:
# chunked framing, gzip and deflate Content-Encoding (undone before
# the charset precedence), and an honest BOM-less UTF-16LE body with
# a utf-16le transport label. Payload bytes are built in an Arrow map
# because the CJK codecs are not in Spark's F.encode set — fixture
# staging, never timed. Class tuple: (label, codec, snippet, xfer).

_WCS_CLASSES: tuple[tuple[str | None, str, str, str | None], ...] = (
    ("utf-8", "utf-8", "café Ω ", None),
    ("shift_jis", "shift_jis", "日本語テスト ", None),
    ('"ISO-8859-1"', "cp1252", "café résumé ", None),
    ("euc-kr", "cp949", "한국어 시험 ", None),
    (None, "utf-8", "strict ütf-8 ", None),  # no label -> strict-UTF-8
    (None, "bom", "bom päge ", None),        # BOM wins over any label
    ("utf-8", "utf-8", "chunked stream ", "chunked"),      # r14
    ("utf-8", "utf-8", "gzip stream ", "gzip"),            # r14
    (None, "utf-8", "deflate sniff ", "deflate"),          # r14
    ("utf-16le", "utf-16-le", "utf16 stream ", None),      # r14
)


def _wcs_payload(d: int, text: str) -> bytes:
    label, codec, snip, xfer = _WCS_CLASSES[d % len(_WCS_CLASSES)]
    body_text = snip + text
    if codec == "bom":
        body = b"\xef\xbb\xbf" + body_text.encode("utf-8")
    else:
        body = body_text.encode(codec)
    extra = ""
    if xfer == "chunked":
        body = _chunked(body, (5, 11))
        extra = "Transfer-Encoding: chunked\r\n"
    elif xfer == "gzip":
        body = _gzipped(body)
        extra = "Content-Encoding: gzip\r\n"
    elif xfer == "deflate":
        body = _deflated(body)
        extra = "Content-Encoding: deflate\r\n"
    ct = "text/html" + (f"; charset={label}" if label else "")
    head = (
        f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n{extra}"
        f"Content-Length: {len(body)}\r\n\r\n"
    )
    return head.encode("ascii") + body


def _write_warc_charset(spark: SparkSession, sf_dir: str) -> str:
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    from stream_processing_platform_spark.sources.warc_datasource import (
        register_warc_source,
    )

    register_warc_source(spark)
    out = _warc_fixture_dir(sf_dir, "charset")
    d = ensure_min_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    )
    schema = StructType(
        [
            StructField("warc_type", StringType(), False),
            StructField("record_id", StringType(), False),
            StructField("warc_date", StringType(), False),
            StructField("target_uri", StringType(), False),
            StructField("content_type", StringType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "warc_type": "response",
                    "record_id": "",
                    "warc_date": "",
                    "target_uri": [
                        f"{_URI_PREFIX}{s}/{int(i)}"
                        for s, i in zip(pdf["source"], pdf["doc_id"])
                    ],
                    "content_type": "application/http; msgtype=response",
                    "payload": [
                        _wcs_payload(int(i), t)
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    d.mapInPandas(run, schema).write.format("spp_warc").mode("overwrite").save(out)
    return out
