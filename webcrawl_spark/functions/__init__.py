"""Vectorized (Arrow/pandas) UDF wrappers over the pure kernels.

Every per-row operation crosses the JVM↔Python boundary exactly once per
Arrow batch (input_hint mandate: no per-row Python). Cheap predicates that
Catalyst can evaluate natively (protocol prefix, file extension, depth) also
exist as Column-expression builders here so plans can prune *before* any UDF
runs — Catalyst does not reorder through opaque Python UDFs
(SURVEY.md §4 predicate-ordering note).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels import urlkit
from ..kernels.classify import (
    FILE_EXTENSIONS,
    NON_WEB_PROTOCOLS,
    FilterOptions,
    link_classifier,
    url_filter,
)
from ..kernels.htmlkit import (
    decode_html,
    extract_anchors,
    extract_images,
    extract_links,
    extract_metadata,
)
from ..kernels.scrape import markdown_for_page
from ..kernels.gatekeeper import Thresholds, evaluate_gatekeeper

__all__ = [
    "canonicalize_url",
    "url_host",
    "url_depth",
    "url_hash_col",
    "host_bucket_col",
    "native_protocol_filter",
    "native_file_type_filter",
    "forced_engine_col",
    "engine_choice_col",
    "classify_links_udf",
    "filter_url_udf",
    "decode_html_udf",
    "transform_html_udf",
    "markdown_udf",
    "links_udf",
    "images_udf",
    "metadata_json_udf",
    "gatekeeper_udf",
    "CLASSIFY_SCHEMA",
    "GATEKEEPER_SCHEMA",
]


# --- native Column helpers (JVM-side, codegen'd — keep ahead of UDFs) -------

def url_hash_col(url_canon: Column) -> Column:
    """Stable 64-bit id for seen-filter membership and joins."""
    return F.xxhash64(url_canon)

def host_bucket_col(host: Column, num_buckets: int) -> Column:
    """Partition key for frontier/seen shards: hash-bucket by host so all
    URLs of one host co-locate (politeness + shard probe are host-local)."""
    return F.pmod(F.xxhash64(host), F.lit(num_buckets)).cast("int")

def native_protocol_filter(url: Column) -> Column:
    """P2 as a native predicate (crawler.rs:174-183)."""
    pattern = "^(?:" + "|".join(p.rstrip(":") for p in NON_WEB_PROTOCOLS) + "):"
    return ~url.rlike(pattern)

def native_file_type_filter(path: Column) -> Column:
    """P4 as a native predicate (crawler.rs:126-134)."""
    ext = F.regexp_extract(path, r"(\.[^./]+)$", 1)
    return ~ext.isin(*FILE_EXTENSIONS)


# --- scalar pandas UDFs ------------------------------------------------------

@pandas_udf(T.StringType())
def canonicalize_url(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: urlkit.canonicalize_url(u) if u else "")


@pandas_udf(T.StringType())
def url_host(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: urlkit.url_host(u) if u else "")


@pandas_udf(T.IntegerType())
def url_depth(urls: pd.Series) -> pd.Series:
    return urls.map(
        lambda u: urlkit.get_url_depth(urlkit.url_path(u)) if u else 0
    )


def forced_engine_col(url: Column,
                      mappings: dict[str, str | list[str]] | None) -> Column:
    """F4 engine-forcing map (WC/scraper/WebScraper/utils/engine-forcing.ts:
    15-86): config domain→engine mapping with wildcard patterns, first
    matching entry wins. Semantics follow engine-forcing.test.ts:8-105
    (the authoritative vectors): a plain pattern matches the domain and all
    its subdomains; a ``*.base`` pattern matches strict subdomains only
    (NOT the bare base domain). Engine lists are joined with ';;' (one
    string column carries the fallback list). Unparseable URL → null."""
    if not mappings:
        return F.lit(None).cast("string")
    host = F.lower(
        F.regexp_extract(F.trim(url), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1)
    )
    expr = None
    for pattern, engine in mappings.items():
        p = pattern.lower()
        val = engine if isinstance(engine, str) else ";;".join(engine)
        if p.startswith("*."):
            cond = host.endswith("." + p[2:])
        else:
            cond = (host == p) | host.endswith("." + p)
        expr = (F.when(cond, F.lit(val)) if expr is None
                else expr.when(cond, F.lit(val)))
    return expr.otherwise(F.lit(None).cast("string"))


def engine_choice_col(url: Column,
                      forced: dict[str, str | list[str]] | None = None) -> Column:
    """S5 engine fallback choice collapsed to a deterministic CASE on the
    URL extension (WC/scraper/scrapeURL/index.ts:55-83 feature flags +
    engines/index.ts:54-78 ordering): forced map (F4) → document → pdf →
    fetch. The playwright branch never applies (no rendering in this
    engine)."""
    path = F.lower(F.regexp_extract(url, r"^[a-z]+://[^/]+([^?#]*)", 1))
    default = (
        F.when(path.rlike(r"\.pdf$"), F.lit("pdf"))
        .when(path.rlike(r"\.(docx|odt|rtf|xlsx)$"), F.lit("document"))
        .otherwise(F.lit("fetch"))
    )
    if not forced:
        return default
    return F.coalesce(forced_engine_col(url, forced), default)


def blocklist_filter(url: Column, blocked_hosts: list[str] | None = None,
                     allowed_keywords: list[str] | None = None) -> Column:
    """F3 URL blocklist (WC/scraper/WebScraper/utils/blocklist.ts:10-85):
    exact/subdomain host match blocks unless an allowed keyword appears in
    the URL. The reference initializes the blob EMPTY, so default is a
    no-op (returns true)."""
    blocked_hosts = blocked_hosts or []
    allowed_keywords = allowed_keywords or []
    if not blocked_hosts:
        return F.lit(True)
    host = F.lower(F.regexp_extract(url, r"^[a-z]+://([^/:?#]+)", 1))
    blocked = F.lit(False)
    for b in blocked_hosts:
        b = b.lower()
        blocked = blocked | (host == b) | host.endswith("." + b)
    allowed = F.lit(False)
    for kw in allowed_keywords:
        allowed = allowed | F.lower(url).contains(kw.lower())
    return ~blocked | allowed


def rewrite_url_udf():
    """F5 — vectorized rewriteUrl; returns the rewritten URL or the
    original when no rewrite applies."""
    from ..kernels.rewrite import rewrite_url

    @pandas_udf(T.StringType())
    def _rewrite(urls: pd.Series) -> pd.Series:
        return urls.map(lambda u: (rewrite_url(u) or u) if u else u)

    return _rewrite


CLASSIFY_SCHEMA = T.StructType([
    T.StructField("allowed", T.BooleanType()),
    T.StructField("url", T.StringType()),
    T.StructField("denial_reason", T.StringType()),
])


def classify_links_udf(opts: FilterOptions):
    """F1 predicate chain (without the batch limit — limiting is a Spark
    window, SURVEY.md §2.5 W2) as a vectorized UDF over candidate links.
    Per-batch parse/compile work is hoisted once."""

    def classify_batch(links: pd.Series) -> pd.DataFrame:
        classify = link_classifier(opts)
        rows = [classify(link) for link in links]
        return pd.DataFrame(rows, columns=["allowed", "url", "denial_reason"])

    return pandas_udf(classify_batch, CLASSIFY_SCHEMA)


def filter_url_udf(opts: FilterOptions):
    """F2 variant for the in-page link-extraction path (crawler.rs:396-557):
    (href, page_url) → struct."""

    def batch(hrefs: pd.Series, page_urls: pd.Series) -> pd.DataFrame:
        filter_href = url_filter(opts)
        rows = [filter_href(h or "", p or "")
                for h, p in zip(hrefs, page_urls)]
        return pd.DataFrame(rows, columns=["allowed", "url", "denial_reason"])

    return pandas_udf(batch, CLASSIFY_SCHEMA)


@pandas_udf(T.StringType())
def decode_html_udf(raw: pd.Series) -> pd.Series:
    return raw.map(lambda b: decode_html(bytes(b)) if b is not None else None)


def _as_text(html) -> str | None:
    """Accept either raw bytes (decoded with charset sniffing, U5) or an
    already-decoded string. Passing the binary column straight into each
    extraction UDF avoids materializing a JVM string and re-shipping it
    through Arrow between UDF stages (scale note: halves JVM memory traffic
    for the dominant column)."""
    if html is None:
        return None
    if isinstance(html, (bytes, bytearray)):
        return decode_html(bytes(html))
    return html


def transform_html_udf(include_tags: tuple[str, ...] = (),
                       exclude_tags: tuple[str, ...] = (),
                       only_main_content: bool = True):
    """Format "html" = transformHtml output (FormatObject, types.ts:3-16):
    the cleaned DOM serialized back to HTML. (html binary|string, url) →
    cleaned html string."""
    from ..kernels.htmlkit import transform_html

    def batch(htmls: pd.Series, urls: pd.Series) -> pd.Series:
        out = []
        for html, url in zip(htmls, urls):
            text = _as_text(html)
            if not text:
                out.append(None)
                continue
            try:
                out.append(transform_html(
                    text, url, include_tags=list(include_tags),
                    exclude_tags=list(exclude_tags),
                    only_main_content=only_main_content,
                ))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")

    return pandas_udf(batch, T.StringType())


def markdown_udf(include_tags: tuple[str, ...] = (),
                 exclude_tags: tuple[str, ...] = (),
                 only_main_content: bool = True):
    """U5+X1+X2+X3+X4 fused: (html binary|string, url) → markdown."""

    def batch(htmls: pd.Series, urls: pd.Series) -> pd.Series:
        out = []
        for html, url in zip(htmls, urls):
            text = _as_text(html)
            if not text:
                out.append("")
                continue
            try:
                out.append(markdown_for_page(
                    text, url, include_tags=list(include_tags),
                    exclude_tags=list(exclude_tags),
                    only_main_content=only_main_content,
                ))
            except Exception:
                out.append("")
        return pd.Series(out, dtype="object")

    return pandas_udf(batch, T.StringType())


@pandas_udf(T.ArrayType(T.StringType()))
def links_udf(htmls: pd.Series, urls: pd.Series) -> pd.Series:
    out = []
    for html, url in zip(htmls, urls):
        try:
            text = _as_text(html)
            out.append(extract_links(text, url) if text else [])
        except Exception:
            out.append([])
    return pd.Series(out, dtype="object")


@pandas_udf(T.ArrayType(T.StructType([
    T.StructField("href", T.StringType()),
    T.StructField("text", T.StringType()),
])))
def anchors_udf(htmls: pd.Series, urls: pd.Series) -> pd.Series:
    """(href, text) per <a> occurrence — kernels/htmlkit.py
    extract_anchors (extract_links' resolution, no dedup, text kept)."""
    out = []
    for html, url in zip(htmls, urls):
        try:
            text = _as_text(html)
            out.append(extract_anchors(text, url) if text else [])
        except Exception:
            out.append([])
    return pd.Series(out, dtype="object")


@pandas_udf(T.ArrayType(T.StringType()))
def images_udf(htmls: pd.Series, urls: pd.Series) -> pd.Series:
    out = []
    for html, url in zip(htmls, urls):
        try:
            text = _as_text(html)
            out.append(extract_images(text, url) if text else [])
        except Exception:
            out.append([])
    return pd.Series(out, dtype="object")


@pandas_udf(T.StringType())
def metadata_json_udf(htmls: pd.Series) -> pd.Series:
    """M1 → JSON string (metadata values are str|list[str]; a MapType would
    lose the array shape)."""
    out = []
    for html in htmls:
        try:
            text = _as_text(html)
            out.append(json.dumps(extract_metadata(text), ensure_ascii=False,
                                  sort_keys=True) if text else "{}")
        except Exception:
            out.append("{}")
    return pd.Series(out, dtype="object")


GATEKEEPER_SCHEMA = T.StructType([
    T.StructField("block_class", T.StringType()),
    T.StructField("content_status", T.StringType()),
    T.StructField("confidence", T.DoubleType()),
    T.StructField("html_bytes", T.LongType()),
    T.StructField("visible_text_chars", T.LongType()),
    T.StructField("main_content_chars", T.LongType()),
    T.StructField("has_structured_data", T.BooleanType()),
    T.StructField("usable", T.BooleanType()),
])


def gatekeeper_udf(thresholds: Thresholds = Thresholds()):
    def batch(urls: pd.Series, statuses: pd.Series, htmls: pd.Series) -> pd.DataFrame:
        rows = []
        for url, status, html in zip(urls, statuses, htmls):
            status = int(status) if status is not None else 200
            r = evaluate_gatekeeper(url or "", status, _as_text(html) or "",
                                    thresholds=thresholds)
            usable = r.content_status == "usable" or (
                not (200 <= status < 300 or status == 304)
                and r.block_class != "challenge"
            )
            rows.append((
                r.block_class, r.content_status, r.confidence, r.html_bytes,
                r.visible_text_chars, r.main_content_chars,
                r.has_structured_data, usable,
            ))
        return pd.DataFrame(rows, columns=[f.name for f in GATEKEEPER_SCHEMA])

    return pandas_udf(batch, GATEKEEPER_SCHEMA)
