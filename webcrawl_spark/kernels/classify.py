"""Link admission kernel — predicates P1-P10 with denial reasons, plus the two
call-site variants the reference exposes:

- ``filter_links``  (batch, with limit short-circuit) —
  packages/firecrawl-rs/src/crawler.rs:230-379
- ``filter_url``    (single href in page context; *reduced* predicate set:
  no depth/file/include checks on the internal branch, excludes matched on
  path) — packages/firecrawl-rs/src/crawler.rs:396-557

``link_classifier`` and ``url_filter`` are their compiled forms: options
parsed once, then one call per link.

Predicate order is semantic (first failure wins and is recorded); keep it.

The Spark layer (webcrawl_spark.functions.classify_links) vectorizes
``classify_link`` over Arrow batches; cheap native prefilters (protocol,
extension) are additionally expressed as Column predicates upstream so
Catalyst prunes before the UDF runs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .robots import Robot
from .urlkit import URLParseError, WUrl, get_url_depth, join_url, parse_url

__all__ = [
    "DenialReason",
    "FilterOptions",
    "classify_link",
    "filter_links",
    "filter_url",
    "url_filter",
    "is_file_path",
    "is_unsafe_host",
    "FILE_EXTENSIONS",
]


# crawler.rs:13-17
FILE_EXTENSIONS = (
    ".png", ".jpg", ".jpeg", ".gif", ".css", ".js", ".ico", ".svg", ".tiff",
    ".zip", ".exe", ".dmg", ".mp4", ".mp3", ".wav", ".pptx", ".xlsx", ".avi",
    ".flv", ".woff", ".ttf", ".woff2", ".webp", ".inc",
)
_FILE_EXT_SET = frozenset(FILE_EXTENSIONS)

# crawler.rs:176-178
NON_WEB_PROTOCOLS = ("mailto:", "tel:", "telnet:", "ftp:", "ftps:", "ssh:", "file:")

# crawler.rs:187-197 (substring match on the full URL)
SOCIAL_MEDIA_OR_EMAIL = (
    "facebook.com", "twitter.com", "linkedin.com", "instagram.com",
    "pinterest.com", "github.com", "calendly.com", "discord.gg", "discord.com",
)

# Multi-label public suffixes for registrable-domain comparison (crawler.rs:
# 204-215 uses the full PSL via the `psl` crate; this subset covers the
# synthetic corpus — divergence documented in SURVEY.md §7 risks).
_MULTI_SUFFIXES = frozenset({
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.nz", "co.za",
})


class DenialReason:
    URL_PARSE_ERROR = "URL_PARSE_ERROR"
    UNSAFE_HOST = "UNSAFE_HOST"
    DEPTH_LIMIT = "DEPTH_LIMIT"
    EXCLUDE_PATTERN = "EXCLUDE_PATTERN"
    INCLUDE_PATTERN = "INCLUDE_PATTERN"
    BACKWARD_CRAWLING = "BACKWARD_CRAWLING"
    ROBOTS_TXT = "ROBOTS_TXT"
    FILE_TYPE = "FILE_TYPE"
    SOCIAL_MEDIA = "SOCIAL_MEDIA"
    EXTERNAL_LINK = "EXTERNAL_LINK"
    SECTION_LINK = "SECTION_LINK"
    NON_WEB_PROTOCOL = "NON_WEB_PROTOCOL"


def is_unsafe_host(host: str) -> bool:
    """SSRF guard (engines/utils/safeFetch.ts semantics): True for hosts a
    live fetcher must never dial — loopback/localhost names, .local/.internal
    suffixes, and any literal IP that is not globally routable (private
    RFC1918, loopback, link-local 169.254/16 + fe80::/10, CGNAT 100.64/10,
    unspecified, multicast, reserved). Non-dotted-quad IPv4 forms that
    standard resolvers accept via inet_aton — decimal ('2130706433'), hex
    ('0x7f000001'), octal ('0177.0.0.1'), and short ('127.1') — are
    normalized through socket.inet_aton and classified the same way, so
    they cannot smuggle loopback past the check. Hostname-based checks
    only — a production fetch client must ALSO enforce a connect-time
    resolved-IP check (the reference's safeFetch.ts checks the socket's
    remoteAddress) since DNS can still map a clean name to a private IP;
    kernels/safefetch.py implements that layer (resolve once, vet every
    answer, dial the vetted IP) for production fetch_udfs.
    Applied at the fetch layer in live (fetch_udf) mode, like the
    reference; corpus-replay mode never dials out."""
    import ipaddress
    import socket

    h = (host or "").strip().lower().rstrip(".")
    if not h:
        return True
    if h == "localhost" or h.endswith((".localhost", ".local", ".internal")):
        return True
    if h.startswith("[") and h.endswith("]"):
        h = h[1:-1]
    try:
        ip = ipaddress.ip_address(h)
    except ValueError:
        # inet_aton-style IPv4 forms (decimal/hex/octal/short) that
        # ipaddress rejects but HTTP clients resolve to an address.
        # Real DNS names ('example.com') raise OSError here and fall
        # through to the name-based verdict (safe).
        try:
            ip = ipaddress.IPv4Address(socket.inet_aton(h))
        except OSError:
            return False
    return not ip.is_global


def is_file_path(path: str) -> bool:
    """crawler.rs:126-134 — last '.'-suffix of the path, exact set membership."""
    dot = path.rfind(".")
    return dot >= 0 and path[dot:] in _FILE_EXT_SET


def _is_internal(url: WUrl, base: WUrl) -> bool:
    """crawler.rs:144-158 — hosts equal after stripping one leading 'www.'."""
    def strip(host: str) -> str:
        return host.removeprefix("www.").strip()
    return strip(url.host) == strip(base.host)


def _no_sections(url_str: str) -> bool:
    """crawler.rs:160-172 — '#' allowed only for route-like fragments."""
    if "#" not in url_str:
        return True
    hash_part = url_str.split("#")[1] if len(url_str.split("#")) > 1 else ""
    return len(hash_part) > 1 and "/" in hash_part


def _is_non_web_protocol(url_str: str) -> bool:
    return url_str.startswith(NON_WEB_PROTOCOLS)


def _is_social_media_or_email(url_str: str) -> bool:
    return any(dom in url_str for dom in SOCIAL_MEDIA_OR_EMAIL)


def _registrable_domain(host: str) -> str | None:
    labels = host.split(".")
    if len(labels) < 2:
        return None
    if len(labels) >= 3 and ".".join(labels[-2:]) in _MULTI_SUFFIXES:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


def _is_subdomain(url: WUrl, base: WUrl) -> bool:
    """crawler.rs:204-215 — same registrable domain."""
    a, b = _registrable_domain(url.host), _registrable_domain(base.host)
    return a is not None and a == b


def _is_external_main_page(url_str: str) -> bool:
    """crawler.rs:217-228 — no non-empty path segments."""
    try:
        u = parse_url(url_str)
    except URLParseError:
        return False
    return not any(seg for seg in u.path.split("/"))


def _compile_patterns(patterns: list[str]) -> list[re.Pattern[str]]:
    """Invalid regexes are silently dropped — crawler.rs:244-253."""
    out = []
    for p in patterns:
        try:
            out.append(re.compile(p))
        except re.error:
            pass
    return out


@dataclass
class FilterOptions:
    base_url: str
    initial_url: str
    max_depth: int = 10
    limit: int | None = None
    includes: list[str] = field(default_factory=list)
    excludes: list[str] = field(default_factory=list)
    regex_on_full_url: bool = False
    allow_backward_crawling: bool = False
    allow_external_content_links: bool = False
    allow_subdomains: bool = False
    ignore_robots_txt: bool = True
    robots_txt: str = ""


def _build_robot(opts: FilterOptions) -> Robot | None:
    if opts.ignore_robots_txt or not opts.robots_txt:
        return None
    return Robot("FireCrawlAgent", opts.robots_txt)


def classify_link(
    link: str,
    opts: FilterOptions,
    *,
    _base: WUrl | None = None,
    _initial: WUrl | None = None,
    _excludes: list[re.Pattern[str]] | None = None,
    _includes: list[re.Pattern[str]] | None = None,
    _robot: Robot | None = None,
) -> tuple[bool, str | None, str | None]:
    """One link through the F1 predicate chain (crawler.rs:266-372).

    Returns (allowed, resolved_url_str, denial_reason). The underscore
    kwargs let the vectorized wrapper hoist per-batch parse/compile work.
    """
    base = _base if _base is not None else parse_url(opts.base_url)
    initial = _initial if _initial is not None else parse_url(opts.initial_url)
    excludes = _excludes if _excludes is not None else _compile_patterns(opts.excludes)
    includes = _includes if _includes is not None else _compile_patterns(opts.includes)
    robot = _robot if _robot is not None else _build_robot(opts)
    initial_path = initial.path

    try:
        url = join_url(str(base), link)
    except URLParseError:
        return False, None, DenialReason.URL_PARSE_ERROR

    path = url.path
    url_str = str(url)

    if _is_non_web_protocol(url_str):
        return False, url_str, DenialReason.NON_WEB_PROTOCOL
    if get_url_depth(path) > opts.max_depth:
        return False, url_str, DenialReason.DEPTH_LIMIT
    if is_file_path(path):
        return False, url_str, DenialReason.FILE_TYPE

    if _is_internal(url, base):
        if not _no_sections(url_str):
            return False, url_str, DenialReason.SECTION_LINK
        if not opts.allow_backward_crawling and not path.startswith(initial_path):
            return False, url_str, DenialReason.BACKWARD_CRAWLING
        target = url_str if opts.regex_on_full_url else path
        if excludes and any(r.search(target) for r in excludes):
            return False, url_str, DenialReason.EXCLUDE_PATTERN
        if includes and not any(r.search(target) for r in includes):
            return False, url_str, DenialReason.INCLUDE_PATTERN
        if robot is not None and not robot.allowed(url_str):
            return False, url_str, DenialReason.ROBOTS_TXT
        return True, url_str, None

    # external branch — crawler.rs:333-372
    if _is_social_media_or_email(url_str):
        return False, url_str, DenialReason.SOCIAL_MEDIA
    if excludes and any(r.search(url_str) for r in excludes):
        return False, url_str, DenialReason.EXCLUDE_PATTERN
    if (
        _is_internal(initial, base)
        and opts.allow_external_content_links
        and not _is_external_main_page(url_str)
    ):
        return True, url_str, None
    if (
        opts.allow_subdomains
        and not _is_social_media_or_email(url_str)
        and _is_subdomain(url, base)
    ):
        target = url_str if opts.regex_on_full_url else path
        if includes and not any(r.search(target) for r in includes):
            return False, url_str, DenialReason.INCLUDE_PATTERN
        return True, url_str, None
    return False, url_str, DenialReason.EXTERNAL_LINK


def link_classifier(opts: FilterOptions):
    """``classify(link) -> (allowed, url, denial_reason)``: classify_link
    with the options' base/initial URLs, patterns and robots parsed once,
    for callers that classify many links under one FilterOptions (a null
    link classifies as the empty string)."""
    base = parse_url(opts.base_url)
    initial = parse_url(opts.initial_url)
    excludes = _compile_patterns(opts.excludes)
    includes = _compile_patterns(opts.includes)
    robot = _build_robot(opts)

    def classify(link: str | None) -> tuple[bool, str | None, str | None]:
        return classify_link(link or "", opts, _base=base, _initial=initial,
                             _excludes=excludes, _includes=includes,
                             _robot=robot)

    return classify


def filter_links(links: list[str], opts: FilterOptions) -> tuple[list[str], dict[str, str]]:
    """Batch F1 with the inline limit short-circuit (crawler.rs:230-379):
    accepted links keep their original (unresolved) string, iteration stops
    once ``limit`` accepted, later links are neither accepted nor denied."""
    # Rust: limit.map_or(usize::MAX, |x| x.max(0)) — negative clamps to 0.
    limit = max(0, opts.limit) if opts.limit is not None else None
    if limit == 0:
        return [], {}
    classify = link_classifier(opts)
    accepted: list[str] = []
    denials: dict[str, str] = {}
    for link in links:
        if limit is not None and len(accepted) >= limit:
            break
        ok, _, reason = classify(link)
        if ok:
            accepted.append(link)
        elif reason is not None:
            denials[link] = reason
    return accepted, denials


def url_filter(opts: FilterOptions):
    """``filter(href, page_url) -> (allowed, url, denial_reason)``:
    filter_url with the options' base URL, exclude patterns and robots
    parsed once — F2's twin of link_classifier, for callers that filter
    many hrefs under one FilterOptions."""
    try:
        base = parse_url(opts.base_url)
    except URLParseError:
        base = None
    excludes = _compile_patterns(opts.excludes)
    robot = _build_robot(opts)

    def filter_href(href: str,
                    page_url: str) -> tuple[bool, str | None, str | None]:
        if base is None:
            return False, None, DenialReason.URL_PARSE_ERROR
        full_url = href
        if not href.startswith("http"):
            try:
                full_url = str(join_url(page_url, href))
            except URLParseError:
                return False, None, DenialReason.URL_PARSE_ERROR
        try:
            url = parse_url(full_url)
        except URLParseError:
            return False, None, DenialReason.URL_PARSE_ERROR

        path = url.path
        url_str = str(url)
        if _is_non_web_protocol(url_str):
            return False, None, DenialReason.NON_WEB_PROTOCOL

        if _is_internal(url, base):
            if not _no_sections(url_str):
                return False, None, DenialReason.SECTION_LINK
            if excludes and any(r.search(path) for r in excludes):
                return False, None, DenialReason.EXCLUDE_PATTERN
            if robot is not None and not robot.allowed(url_str):
                return False, None, DenialReason.ROBOTS_TXT
            return True, full_url, None

        if _is_social_media_or_email(url_str):
            return False, None, DenialReason.SOCIAL_MEDIA
        if excludes and any(r.search(url_str) for r in excludes):
            return False, None, DenialReason.EXCLUDE_PATTERN
        try:
            context = parse_url(page_url)
        except URLParseError:
            return False, None, DenialReason.URL_PARSE_ERROR
        if (
            _is_internal(context, base)
            and opts.allow_external_content_links
            and not _is_external_main_page(url_str)
        ):
            return True, full_url, None
        if (
            opts.allow_subdomains
            and not _is_social_media_or_email(url_str)
            and _is_subdomain(url, base)
        ):
            return True, full_url, None
        return False, None, DenialReason.EXTERNAL_LINK

    return filter_href


def filter_url(
    href: str,
    page_url: str,
    opts: FilterOptions,
) -> tuple[bool, str | None, str | None]:
    """Single-href variant F2 (crawler.rs:396-557). Differences vs F1:
    resolves only non-``http``-prefixed hrefs against ``page_url``; no depth,
    file-type, include, or backward checks; internal excludes match the
    *path* regardless of regex_on_full_url; subdomain branch skips includes.
    """
    return url_filter(opts)(href, page_url)
