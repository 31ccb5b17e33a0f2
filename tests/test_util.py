"""Unit tests for the Ruby-quirk utility functions (lib/util.rb fidelity)."""

from olkg.util import (cgi_escape, det_bnode, is_valid_isbn10, is_valid_isbn13,
                       isbn10_to_isbn13, isbn13_to_isbn10, isbn_cleanup,
                       normalize_uri, sanitize_url, splat,
                       strip_trailing_punct, uri_is_relative, uri_parse_ok)


class TestSanitizeUrl:
    # lib/util.rb:13-23
    def test_rejects_at(self):
        assert sanitize_url("foo@example.com") is None

    def test_rejects_no_domain(self):
        assert sanitize_url("not a url") is None

    def test_prefixes_http(self):
        assert sanitize_url("craphound.com/bio.php") == "http://craphound.com/bio.php"

    def test_keeps_http(self):
        assert sanitize_url("http://craphound.com") == "http://craphound.com"

    def test_repairs_broken_http(self):
        # "http:/x.com" → "http://x.com"
        assert sanitize_url("http:/x.com") == "http://x.com"
        assert sanitize_url("http//x.com") == "http://x.com"

    def test_https_quirk(self):
        # Ruby's sub(/^http[^A-z0-9]*/,'http://') stops at the 's'
        assert sanitize_url("https://x.com") == "http://s://x.com"

    def test_ruby_a_to_z_class(self):
        # [A-z] includes underscore/backtick etc: "a_b.x" has domainish match
        assert sanitize_url("a_b.x") == "http://a_b.x"


class TestIsbn:
    # isbn/tools semantics (lib/edition.rb:51-77)
    def test_valid_isbn10(self):
        assert is_valid_isbn10("0060275278")
        assert is_valid_isbn10("0-06-027527-8")  # hyphens cleaned first
        assert not is_valid_isbn10("0060275279")
        assert not is_valid_isbn10("006027527")

    def test_isbn10_x_check(self):
        assert is_valid_isbn10("080442957X")
        assert not is_valid_isbn10("080442957x")  # lowercase x rejected

    def test_valid_isbn13(self):
        assert is_valid_isbn13("9780060275273")
        assert is_valid_isbn13("978-0-06-027527-3")
        assert not is_valid_isbn13("9780060275274")
        assert not is_valid_isbn13("1234567890123")  # must start 978/979

    def test_conversion_roundtrip(self):
        assert isbn10_to_isbn13("0060275278") == "9780060275273"
        assert isbn13_to_isbn10("9780060275273") == "0060275278"
        assert isbn10_to_isbn13("0064420477") == "9780064420471"

    def test_979_no_isbn10(self):
        assert isbn13_to_isbn10("9791030001234") is None

    def test_cleanup(self):
        assert isbn_cleanup("978-0 06-027527 3") == "9780060275273"


class TestCgiEscape:
    # Ruby CGI.escape (lib/edition.rb:112,244)
    def test_space_plus(self):
        assert cgi_escape("QH305 .R5413 1997") == "QH305+.R5413+1997"

    def test_slash(self):
        assert cgi_escape("291.1/3") == "291.1%2F3"

    def test_tilde_encoded(self):
        # Ruby CGI.escape encodes ~ (unlike Python's quote_plus)
        assert cgi_escape("a~b") == "a%7Eb"

    def test_utf8(self):
        assert cgi_escape("é") == "%C3%A9"


class TestUri:
    def test_normalize_lowercases_scheme_host(self):
        assert normalize_uri("HTTP://Example.COM/Path") == "http://example.com/Path"

    def test_normalize_default_port(self):
        assert normalize_uri("http://example.com:80/x") == "http://example.com/x"

    def test_normalize_empty_path(self):
        assert normalize_uri("http://example.com") == "http://example.com/"

    def test_normalize_pct_case(self):
        assert normalize_uri("http://e.com/a%2fb") == "http://e.com/a%2Fb"

    def test_normalize_decodes_unreserved(self):
        assert normalize_uri("http://e.com/%41b") == "http://e.com/Ab"

    def test_relative(self):
        assert uri_is_relative("www.example.com")
        assert not uri_is_relative("http://www.example.com")

    def test_parse_ok(self):
        assert uri_parse_ok("http://e.com/a.b")
        assert not uri_parse_ok("http://e.com/a b")  # space → URI.parse raises
        assert not uri_parse_ok("http://e.com/«x»")  # non-ascii


class TestStringHelpers:
    def test_strip_trailing_punct(self):
        assert strip_trailing_punct("History.") == "History"
        assert strip_trailing_punct("History / ") == "History"
        assert strip_trailing_punct("a.b") == "a.b"

    def test_splat_hash_to_pairs(self):
        # Ruby [*hash] → array of [k, v] pairs (drives parse_notes duck-typing)
        assert splat({"value": "x"}) == [["value", "x"]]
        assert splat(None) == []
        assert splat("s") == ["s"]
        assert splat([1, 2]) == [1, 2]


def test_det_bnode_deterministic():
    assert det_bnode("k", "birth") == det_bnode("k", "birth")
    assert det_bnode("k", "birth") != det_bnode("k", "death")
    assert det_bnode("k", "authlist", 0) != det_bnode("k", "authlist", 1)
    assert det_bnode("k", "birth").startswith("_:b")
