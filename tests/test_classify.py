"""Link-admission kernel tests — ported 1:1 from the reference suites:
FR/crawler.rs:880-1052 (robots, subdomains+includes, is_file),
WC/.../__tests__/crawler.test.ts:39-155 (limit, includes modes),
WC/.../__tests__/utils.test.ts:17-54 (section anchors)."""

from webcrawl_spark.kernels.classify import (
    DenialReason,
    FilterOptions,
    classify_link,
    filter_links,
    filter_url,
    is_file_path,
)


def opts(**kw) -> FilterOptions:
    base = dict(
        base_url="https://example.com",
        initial_url="https://example.com",
        max_depth=10,
        allow_backward_crawling=True,
    )
    base.update(kw)
    return FilterOptions(**base)


class TestRobots:
    # crawler.rs:880-913
    def test_normal_robots_txt(self):
        o = opts(ignore_robots_txt=False,
                 robots_txt="User-agent: *\nDisallow: /disallowed")
        links, denials = filter_links(
            ["https://example.com/allowed", "https://example.com/disallowed"], o)
        assert links == ["https://example.com/allowed"]
        assert denials["https://example.com/disallowed"] == DenialReason.ROBOTS_TXT

    # crawler.rs:916-939
    def test_malformed_robots_txt(self):
        o = opts(ignore_robots_txt=False,
                 robots_txt="Invalid robots.txt content with \x00 null bytes and malformed syntax")
        links, _ = filter_links(["https://example.com/test"], o)
        assert links == ["https://example.com/test"]

    # crawler.rs:941-968
    def test_non_utf8_robots_txt(self):
        body = b"\xff\xfeUser-agent: *\nDisallow: /blocked".decode("utf-8", "replace")
        o = opts(ignore_robots_txt=False, robots_txt=body)
        links, _ = filter_links(["https://example.com/allowed"], o)
        assert links == ["https://example.com/allowed"]

    # crawler.rs:970-995 — NBSP inside the disallow path must not break parsing
    def test_char_boundary(self):
        o = opts(ignore_robots_txt=False,
                 robots_txt="User-agent: *\nDisallow: / test")
        links, _ = filter_links(["https://example.com/test"], o)
        assert links == ["https://example.com/test"]


class TestSubdomains:
    # crawler.rs:997-1043
    def test_allow_subdomains_with_include_paths(self):
        o = opts(includes=["^/pricing$"], allow_subdomains=True)
        links, denials = filter_links([
            "https://sub.example.com/pricing",
            "https://sub.example.com/blog",
            "https://other.example.com/pricing",
            "https://example.com/pricing",
        ], o)
        assert sorted(links) == [
            "https://example.com/pricing",
            "https://other.example.com/pricing",
            "https://sub.example.com/pricing",
        ]
        assert denials["https://sub.example.com/blog"] == DenialReason.INCLUDE_PATTERN


class TestIsFile:
    # crawler.rs:1045-1052
    def test_is_file(self):
        assert is_file_path("test.png")
        assert is_file_path("script.js")
        assert is_file_path("style.css")
        assert not is_file_path("page")
        assert not is_file_path("directory/")


class TestSectionLinks:
    # utils.test.ts:17-54 via the F1 chain
    def test_plain_anchor_rejected(self):
        ok, _, reason = classify_link("https://example.com/page#section", opts())
        assert not ok and reason == DenialReason.SECTION_LINK

    def test_hash_route_allowed(self):
        ok, _, _ = classify_link("https://example.com/page#/dashboard", opts())
        assert ok

    def test_bare_hash_slash_rejected(self):
        ok, _, reason = classify_link("https://example.com/page#/", opts())
        assert not ok and reason == DenialReason.SECTION_LINK

    def test_multi_segment_fragment_allowed(self):
        ok, _, _ = classify_link("https://example.com/page#abc/def", opts())
        assert ok


class TestLimit:
    # crawler.test.ts:39-76 — keeps the FIRST limit links
    def test_limit_keeps_first(self):
        links = [f"https://example.com/page{i}" for i in range(10)]
        accepted, _ = filter_links(links, opts(limit=3))
        assert accepted == links[:3]

    def test_limit_zero(self):
        accepted, denials = filter_links(["https://example.com/a"], opts(limit=0))
        assert accepted == [] and denials == {}

    def test_denied_links_dont_consume_limit(self):
        links = ["https://example.com/img.png", "https://example.com/a",
                 "https://example.com/b"]
        accepted, denials = filter_links(links, opts(limit=2))
        assert accepted == ["https://example.com/a", "https://example.com/b"]
        assert denials["https://example.com/img.png"] == DenialReason.FILE_TYPE


class TestPredicates:
    def test_non_web_protocol(self):
        for link in ["mailto:a@b.c", "tel:+123", "ftp://x.com/f"]:
            ok, _, reason = classify_link(link, opts())
            assert not ok and reason == DenialReason.NON_WEB_PROTOCOL

    def test_depth_limit(self):
        ok, _, reason = classify_link("https://example.com/a/b/c", opts(max_depth=2))
        assert not ok and reason == DenialReason.DEPTH_LIMIT
        ok, _, _ = classify_link("https://example.com/a/b", opts(max_depth=2))
        assert ok

    def test_backward_crawling(self):
        o = opts(initial_url="https://example.com/docs/intro",
                 allow_backward_crawling=False)
        ok, _, reason = classify_link("https://example.com/about", o)
        assert not ok and reason == DenialReason.BACKWARD_CRAWLING
        ok, _, _ = classify_link("https://example.com/docs/intro/ch1", o)
        assert ok

    def test_exclude_pattern_on_path(self):
        o = opts(excludes=["^/private"])
        ok, _, reason = classify_link("https://example.com/private/x", o)
        assert not ok and reason == DenialReason.EXCLUDE_PATTERN

    def test_regex_on_full_url(self):
        # crawler.test.ts:118-154 — include matches the full URL
        o = opts(includes=["^https://example\\.com/pricing"], regex_on_full_url=True)
        ok, _, _ = classify_link("https://example.com/pricing", o)
        assert ok
        ok, _, reason = classify_link("https://example.com/blog", o)
        assert not ok and reason == DenialReason.INCLUDE_PATTERN

    def test_invalid_regex_silently_dropped(self):
        o = opts(excludes=["[unclosed"])
        ok, _, _ = classify_link("https://example.com/anything", o)
        assert ok

    def test_social_media(self):
        ok, _, reason = classify_link("https://twitter.com/someone", opts())
        assert not ok and reason == DenialReason.SOCIAL_MEDIA

    def test_external_link(self):
        ok, _, reason = classify_link("https://other-site.org/page", opts())
        assert not ok and reason == DenialReason.EXTERNAL_LINK

    def test_external_content_links_allowed(self):
        o = opts(allow_external_content_links=True)
        ok, _, _ = classify_link("https://other-site.org/article", o)
        assert ok
        # bare main page still rejected (crawler.rs:345-351)
        ok, _, reason = classify_link("https://other-site.org/", o)
        assert not ok and reason == DenialReason.EXTERNAL_LINK

    def test_www_equivalence_internal(self):
        ok, _, _ = classify_link("https://www.example.com/page", opts())
        assert ok

    def test_url_parse_error(self):
        ok, _, reason = classify_link("https://", opts())
        assert not ok and reason == DenialReason.URL_PARSE_ERROR


class TestFilterUrl:
    """F2 variant (crawler.rs:396-557) — reduced predicate set."""

    def test_no_depth_or_file_checks(self):
        # file-type URLs pass F2 (checks absent there)
        o = opts()
        ok, url, _ = filter_url("https://example.com/img.png", "https://example.com", o)
        assert ok and url == "https://example.com/img.png"

    def test_relative_resolved_against_page(self):
        ok, url, _ = filter_url("sub/page", "https://example.com/dir/", opts())
        assert ok and url == "https://example.com/dir/sub/page"

    def test_internal_excludes_on_path(self):
        o = opts(excludes=["^/private"], regex_on_full_url=True)
        # F2 always matches excludes on path for internal links
        ok, _, reason = filter_url("https://example.com/private/a", "https://example.com", o)
        assert not ok and reason == DenialReason.EXCLUDE_PATTERN

    def test_subdomain_skips_includes(self):
        o = opts(includes=["^/pricing$"], allow_subdomains=True)
        ok, _, _ = filter_url("https://sub.example.com/blog", "https://example.com", o)
        assert ok  # F2's subdomain branch has no include check (crawler.rs:542-549)

    def test_page_links_builds_f2_once_per_page(self, monkeypatch):
        """page_links compiles F2 (base URL, excludes, robots parser) once
        per call, not once per href — iframe recursion included — and
        keeps filter_url's verdicts."""
        from urllib.parse import quote

        from webcrawl_spark.kernels import classify
        from webcrawl_spark.kernels.crawl import page_links

        built = []
        build = classify._build_robot
        monkeypatch.setattr(classify, "_build_robot",
                            lambda o: built.append(1) or build(o))
        o = opts(ignore_robots_txt=False, excludes=["^/skip"],
                 robots_txt="User-agent: *\nDisallow: /private\n")
        hrefs = ["/a", "/private/x", "/skip/y", "https://other.com/",
                 "mailto:x@example.com", "b#frag"]
        inner = '<a href="/in-frame">f</a>'
        html = ("".join(f'<a href="{h}">l</a>' for h in hrefs)
                + f'<iframe src="data:text/html,{quote(inner)}"></iframe>')
        links = page_links(html, "https://example.com/", o)
        assert len(built) == 1
        assert links == ["https://example.com/a", "https://example.com/in-frame"]
        built.clear()
        assert [filter_url(h, "https://example.com/", o)[0]
                for h in hrefs] == [True, False, False, False, False, False]
        assert len(built) == len(hrefs)


class TestUnsafeHost:
    """SSRF guard vectors (safeFetch.ts semantics): private/loopback/
    link-local/CGNAT literals and localhost-ish names blocked; public
    hosts and IPs pass."""

    def test_blocked(self):
        from webcrawl_spark.kernels.classify import is_unsafe_host

        blocked = [
            "localhost", "LOCALHOST", "sub.localhost", "db.local",
            "api.internal", "127.0.0.1", "127.8.8.8", "10.0.0.1",
            "172.16.0.1", "172.31.255.255", "192.168.1.1", "169.254.169.254",
            "100.64.0.1", "0.0.0.0", "::1", "[::1]", "fe80::1", "fc00::1",
            "",
            # inet_aton bypass forms all resolving to 127.0.0.1 (ADVICE r4):
            "2130706433", "0x7f000001", "127.1", "0177.0.0.1", "127.0.1",
        ]
        for h in blocked:
            assert is_unsafe_host(h), h

    def test_allowed(self):
        from webcrawl_spark.kernels.classify import is_unsafe_host

        allowed = [
            "example.com", "www.example.co.uk", "8.8.8.8", "1.1.1.1",
            "172.32.0.1", "192.169.0.1", "2606:4700:4700::1111",
            "my-host.test",
            "134744072",  # inet_aton decimal for 8.8.8.8 — global, allowed
        ]
        for h in allowed:
            assert not is_unsafe_host(h), h
