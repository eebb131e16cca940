"""Crawl-path link extraction (L2): the in-page pipeline the reference runs
for every fetched page — raw hrefs (html.rs:62-103) → per-href filterURL F2
(crawler.rs:396-557) → absolutize → dedupe preserving first-seen order
(crawler.ts:471-545), plus recursion into inline data-URL iframes
(crawler.ts:502-516: iframe[src^=data:text/html] bodies are URI-decoded and
re-extracted against the SAME page URL)."""

from __future__ import annotations

from urllib.parse import unquote

from .classify import FilterOptions, url_filter
from .htmlkit import extract_raw_links, parse_html
from .urlkit import URLParseError, join_url

__all__ = ["page_links"]

# the reference recurses unboundedly (crawler.ts:506-511); a self-embedding
# unencoded data URL would loop forever, so bound nesting depth (real
# percent-encoded nesting shrinks geometrically and never gets this deep)
_MAX_IFRAME_DEPTH = 4


def _iframe_inline_htmls(html: str) -> list[str]:
    """Bodies of iframes whose src is an inline data:text/html URL
    (crawler.ts:502-511: src.split(',')[1], URI-decoded)."""
    out: list[str] = []
    for node in parse_html(html).select("iframe[src]"):
        src = node.get("src") or ""
        if src.startswith("data:text/html"):
            parts = src.split(",", 1)
            if len(parts) == 2:
                out.append(unquote(parts[1]))
    return out


def page_links(html: str, page_url: str, opts: FilterOptions) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    filter_href = url_filter(opts)

    def collect(doc_html: str, depth: int) -> None:
        for href in extract_raw_links(doc_html):
            ok, resolved, _ = filter_href(href, page_url)
            if ok and resolved:
                try:
                    normalized = str(join_url(page_url, resolved))
                except URLParseError:
                    continue
                if normalized not in seen:
                    seen.add(normalized)
                    out.append(normalized)
        if depth < _MAX_IFRAME_DEPTH:
            for inner in _iframe_inline_htmls(doc_html):
                collect(inner, depth + 1)

    collect(html, 0)
    return out
