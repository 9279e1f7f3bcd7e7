"""URL validation/SSRF matrix, ported from the reference's
tests/smoke/test_validation.py + tests/test_ssrf_protection.py contracts
(errors become reject_reason rows instead of exceptions)."""

import pytest

from downloader_spark.functions.urlnorm import (
    canonicalize_url,
    sanitize_user_agent,
    validate_url,
)


class TestValidateUrl:
    def test_valid_http(self):
        c = validate_url("http://example.com/page")
        assert c.valid and c.url == "http://example.com/page" and c.host == "example.com"

    def test_valid_https(self):
        assert validate_url("https://example.com").valid

    def test_scheme_prepended(self):
        c = validate_url("example.com/path")
        assert c.valid and c.url == "http://example.com/path"

    def test_whitespace_stripped(self):
        c = validate_url("  http://example.com  ")
        assert c.valid and c.url == "http://example.com"

    def test_empty(self):
        assert validate_url("").reason == "empty_url"
        assert validate_url(None).reason == "empty_url"
        assert validate_url("   ").reason == "empty_url"

    def test_file_scheme_blocked(self):
        assert validate_url("file:///etc/passwd").reason == "file_scheme"

    def test_non_http_scheme_blocked(self):
        assert validate_url("ftp://example.com").reason == "non_http_scheme"
        assert validate_url("javascript://alert(1)").reason == "non_http_scheme"

    def test_no_hostname(self):
        assert not validate_url("http://").valid

    def test_bad_hostname_chars(self):
        assert not validate_url("http://exa mple.com").valid

    @pytest.mark.parametrize(
        "url,reason",
        [
            ("http://127.0.0.1/x", "ssrf_loopback"),
            ("http://127.9.9.9/x", "ssrf_hostname_blocked"),  # domain-pattern path
            ("http://0.0.0.0/", "ssrf_unspecified"),
            ("http://169.254.169.254/latest/meta-data", "ssrf_cloud_metadata"),
            ("http://169.254.1.1/", "ssrf_link_local"),
            ("http://224.0.0.1/", "ssrf_multicast"),
            ("http://240.0.0.1/", "ssrf_reserved"),
            ("http://10.0.0.5/", "ssrf_private"),
            ("http://172.16.0.1/", "ssrf_private"),
            ("http://192.168.1.1/", "ssrf_private"),
            ("http://localhost/admin", "ssrf_hostname_blocked"),
            ("http://localhost.localdomain/", "ssrf_hostname_blocked"),
        ],
    )
    def test_ssrf_blocked(self, url, reason):
        c = validate_url(url)
        assert not c.valid
        # 127.9.9.9 parses as a literal IP → loopback wins over pattern
        if url == "http://127.9.9.9/x":
            assert c.reason == "ssrf_loopback"
        else:
            assert c.reason == reason

    def test_public_ip_allowed(self):
        assert validate_url("http://93.184.216.34/").valid

    def test_ipv6_loopback_blocked(self):
        assert validate_url("http://[::1]/").reason == "ssrf_loopback"


class TestCanonicalizeUrl:
    def test_lowercase_host(self):
        assert canonicalize_url("http://EXAMPLE.com/Path").url == "http://example.com/Path"

    def test_strip_default_port(self):
        assert canonicalize_url("http://example.com:80/a").url == "http://example.com/a"
        assert canonicalize_url("https://example.com:443/a").url == "https://example.com/a"
        assert canonicalize_url("http://example.com:8080/a").url == "http://example.com:8080/a"

    def test_drop_fragment(self):
        assert canonicalize_url("http://example.com/a#frag").url == "http://example.com/a"

    def test_sort_query(self):
        assert (
            canonicalize_url("http://example.com/a?b=2&a=1").url
            == "http://example.com/a?a=1&b=2"
        )

    def test_empty_path_becomes_slash(self):
        assert canonicalize_url("http://example.com").url == "http://example.com/"

    def test_invalid_propagates(self):
        assert not canonicalize_url("file:///x").valid


class TestSanitizeUserAgent:
    def test_scrub(self):
        assert sanitize_user_agent("Bad<script>UA") == "BadscriptUA"

    def test_cap_200(self):
        assert len(sanitize_user_agent("x" * 500)) == 200

    def test_default(self):
        assert sanitize_user_agent().startswith("downloader-spark/")


class TestSSRFBoundaryMatrix:
    """Boundary values ported from the reference smoke suite
    (tests/smoke/test_validation.py:90-229)."""

    import pytest as _pytest

    BLOCKED = [
        ("http://127.0.0.2", "ssrf_loopback"),
        ("http://10.255.255.255", "ssrf_private"),
        ("http://172.31.255.255", "ssrf_private"),
        ("http://192.168.255.255", "ssrf_private"),
        ("http://169.254.169.254/latest/meta-data/", "ssrf_cloud_metadata"),
        ("http://169.254.100.50", "ssrf_link_local"),
        ("http://239.255.255.255", "ssrf_multicast"),
        ("http://240.0.0.1", "ssrf_reserved"),
        ("http://0.0.0.0", "ssrf_unspecified"),
    ]

    def test_blocked_boundaries(self):
        for url, reason in self.BLOCKED:
            c = validate_url(url)
            assert not c.valid and c.reason == reason, url

    def test_allowed_public(self):
        for url in ("http://8.8.8.8", "http://1.1.1.1", "http://example.com"):
            c = validate_url(url)
            assert c.valid and c.url == url, url

    def test_non_private_172_ranges_allowed(self):
        # 172.15.x and 172.32.x are NOT in 172.16.0.0/12
        assert validate_url("http://172.15.0.1").valid
        assert validate_url("http://172.32.0.1").valid


# every url literal this file checks, plus forms the canonicalizer
# rewrites (scheme case, default ports, fragments, query order, empty
# query values, percent escapes, bare hosts)
BATTERY = [
    "http://example.com/page", "https://example.com", "example.com/path",
    "  http://example.com  ", "", None, "   ", "file:///etc/passwd",
    "ftp://example.com", "javascript://alert(1)", "http://", "http://exa mple.com",
    "http://127.0.0.1/x", "http://127.9.9.9/x", "http://0.0.0.0/",
    "http://169.254.169.254/latest/meta-data", "http://169.254.1.1/",
    "http://224.0.0.1/", "http://240.0.0.1/", "http://10.0.0.5/", "http://172.16.0.1/",
    "http://192.168.1.1/", "http://localhost/admin", "http://localhost.localdomain/",
    "http://93.184.216.34/", "http://[::1]/", "http://EXAMPLE.com/Path",
    "http://example.com:80/a", "https://example.com:443/a", "http://example.com:8080/a",
    "http://example.com/a#frag", "http://example.com/a?b=2&a=1", "http://example.com",
    "http://8.8.8.8", "http://1.1.1.1", "http://172.15.0.1", "http://172.32.0.1",
    "HTTP://Example.COM:80/a/b?z=1&y=&x=a%20b#top", "https://Sub.Example.com/?",
    "http://example.com/a%2Fb/../c?q=%7E", "http://example.com:0080/x",
]


def test_canonicalize_is_idempotent():
    """The streaming frontier writes canonical urls and never
    canonicalizes them again, which is sound only if a canonical url is
    its own canonical form."""
    valid = [c for c in map(canonicalize_url, BATTERY) if c.valid]
    assert len(valid) >= 20
    for c in valid:
        assert canonicalize_url(c.url) == c, c
