"""Scalar/string utility functions mirroring the reference's quirks exactly.

Each function documents the reference behavior it reproduces (file:line in
/root/reference).  These are pure Python: they are shared by the pytest golden
tests (single-record semantics) and by the Arrow-batched extraction UDF, so the
distributed path and the test path can never diverge.

Ruby-regex fidelity notes:
- Ruby's ``[A-z]`` character class covers the ASCII range 0x41-0x7A, i.e.
  ``A-Z [ \\ ] ^ _ `` ` `` a-z`` — we reproduce it verbatim (lib/util.rb:15,
  lib/edition.rb:322).
- Ruby ``\\s``/``\\w``/``\\d`` are ASCII-only; Python patterns here compile with
  ``re.ASCII`` where it matters.
- Ruby ``gsub(/\\b/, '')`` is a **no-op** (word boundary, zero-width), so the
  reference's ``.gsub(/\\b/,'')`` scrubs (lib/edition.rb:139,219) do nothing and
  are intentionally omitted here.

The three String helpers that the reference defines but never calls
(lib/util.rb:38-52, SURVEY.md §2.8) have no counterpart here.
"""

from __future__ import annotations

import hashlib
import re

# Ruby's [A-z] and [A-z0-9] classes, verbatim (includes [ \ ] ^ _ `)
RUBY_A_TO_z = r"A-Za-z\[\\\]\^_`"
RUBY_A_TO_z09 = RUBY_A_TO_z + r"0-9"

_AT_RE = re.compile(r"@")
_DOMAINISH_RE = re.compile(r"([" + RUBY_A_TO_z09 + r"]*\.)+[" + RUBY_A_TO_z + r"]")
_HTTP_PREFIX_RE = re.compile(r"^http")
_HTTP_SCHEME_RE = re.compile(r"^http://")
_HTTP_REPAIR_RE = re.compile(r"^http[^" + RUBY_A_TO_z09 + r"]*")


def sanitize_url(s: str) -> str | None:
    """Util.sanitize_url (lib/util.rb:13-23), quirks included.

    - nil if the string contains ``@`` anywhere;
    - nil unless it matches ``([A-z0-9]*\\.)+[A-z]`` (Ruby [A-z] class);
    - if it starts with ``http`` but not ``http://``, the leading ``http`` plus
      any following non-[A-z0-9] run is replaced by ``http://`` (note this
      turns ``https://x`` into ``http://s://x`` — faithful to the Ruby sub);
    - else if it still lacks ``http://`` it is prefixed with ``http://``.
    """
    if not isinstance(s, str):
        return None
    if _AT_RE.search(s):
        return None
    if not _DOMAINISH_RE.search(s):
        return None
    if _HTTP_PREFIX_RE.search(s) and not _HTTP_SCHEME_RE.search(s):
        s = _HTTP_REPAIR_RE.sub("http://", s, count=1)
    if not _HTTP_SCHEME_RE.search(s):
        s = "http://" + s
    return s


_TRAILING_PUNCT_RE = re.compile(r"[\.:,;/\s]\s*$", re.ASCII)


def strip_trailing_punct(s: str) -> str:
    """String#strip_trailing_punct (lib/util.rb:43-45)."""
    return _TRAILING_PUNCT_RE.sub("", s, count=1).strip()


# --- CGI.escape (Ruby) ------------------------------------------------------

_CGI_SAFE = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_.-"
)


def cgi_escape(s: str) -> str:
    """Ruby ``CGI.escape``: safe chars ``[A-Za-z0-9_.-]``, space → ``+``,
    everything else %XX (uppercase hex, UTF-8 bytes).  Used for LCC/DDC node
    URIs (lib/edition.rb:112,244).  Note Ruby does NOT treat ``~`` as safe.
    """
    out = []
    for b in s.encode("utf-8"):
        c = chr(b)
        if c in _CGI_SAFE:
            out.append(c)
        elif c == " ":
            out.append("+")
        else:
            out.append("%%%02X" % b)
    return "".join(out)


# --- URI normalize / parse --------------------------------------------------

_URI_SPLIT_RE = re.compile(
    r"^(?:([A-Za-z][A-Za-z0-9+.\-]*):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?$",
    re.DOTALL,
)
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")
_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)

# Ruby URI.parse (RFC 2396 generic syntax) rejects characters outside this set;
# an exception there is rescued and the element skipped
# (lib/author.rb:97-104, lib/edition.rb:87-95).
_RFC2396_OK_RE = re.compile(
    r"^[A-Za-z0-9\-_.!~*'();/?:@&=+$,%#\[\]]*$"
)


def uri_parse_ok(s: str) -> bool:
    """True iff Ruby's ``URI.parse`` would accept the string (no raised
    InvalidURIError).  Spaces, quotes, angle brackets, pipes, non-ASCII etc.
    make URI.parse raise."""
    return bool(_RFC2396_OK_RE.match(s))


def _norm_pct(component: str) -> str:
    """Normalize percent-encodings: uppercase hex; decode unreserved octets."""

    def repl(m: re.Match) -> str:
        octet = int(m.group(1), 16)
        ch = chr(octet)
        if ch in _UNRESERVED:
            return ch
        return "%%%02X" % octet

    return _PCT_RE.sub(repl, component)


def _remove_dot_segments(path: str) -> str:
    if not path:
        return path
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
            continue
        out.append(seg)
    # preserve leading slash semantics: split/join round-trips it
    res = "/".join(out)
    if path.startswith("/") and not res.startswith("/"):
        res = "/" + res
    if path.endswith(("/.", "/..")) and not res.endswith("/"):
        res += "/"
    return res


def normalize_uri(s: str) -> str:
    """Approximation of ``RDF::URI#normalize!`` (rdf gem), used at
    openlibrary.rb:11 and every URL field: lowercase scheme + host, drop
    default port, uppercase %XX / decode unreserved escapes, remove dot
    segments, and give an authority-only http(s) URI a ``/`` path.
    """
    m = _URI_SPLIT_RE.match(s)
    if not m:
        return s
    scheme, authority, path, query, fragment = m.groups()
    if scheme:
        scheme = scheme.lower()
    if authority is not None:
        # split userinfo@host:port
        host = authority
        userinfo = None
        if "@" in host:
            userinfo, host = host.rsplit("@", 1)
        port = None
        hm = re.match(r"^(.*?)(?::(\d*))?$", host, re.DOTALL)
        if hm:
            host, port = hm.group(1), hm.group(2)
        host = host.lower()
        if port and not (
            (scheme == "http" and port == "80")
            or (scheme == "https" and port == "443")
        ):
            host = host + ":" + port
        authority = (userinfo + "@" + host) if userinfo else host
        authority = _norm_pct(authority)
    if path:
        path = _norm_pct(_remove_dot_segments(path))
    elif authority is not None and scheme in ("http", "https"):
        path = "/"
    out = ""
    if scheme:
        out += scheme + ":"
    if authority is not None:
        out += "//" + authority
    out += path or ""
    if query is not None:
        out += "?" + _norm_pct(query)
    if fragment is not None:
        out += "#" + _norm_pct(fragment)
    return out


def uri_is_relative(s: str) -> bool:
    """RDF::URI#relative? — no scheme component."""
    m = _URI_SPLIT_RE.match(s)
    return not (m and m.group(1))


def uri_host(s: str) -> str | None:
    m = _URI_SPLIT_RE.match(s)
    if not m or m.group(2) is None:
        return None
    host = m.group(2)
    if "@" in host:
        host = host.rsplit("@", 1)[1]
    return host.split(":", 1)[0]


# --- ISBN (isbn/tools gem semantics: lib/edition.rb:51-77) ------------------

_ISBN_CLEAN_RE = re.compile(r"[- ]")
_ISBN10_RE = re.compile(r"^\d{9}[0-9X]$")
_ISBN13_RE = re.compile(r"^97[89]\d{10}$")


def isbn_cleanup(s: str) -> str:
    """ISBN_Tools.cleanup — strip hyphens and spaces."""
    return _ISBN_CLEAN_RE.sub("", s)


def is_valid_isbn10(s: str) -> bool:
    if not isinstance(s, str):
        return False
    s = isbn_cleanup(s)
    if not _ISBN10_RE.match(s):
        return False
    total = sum((10 - i) * int(c) for i, c in enumerate(s[:9]))
    total += 10 if s[9] == "X" else int(s[9])
    return total % 11 == 0


def is_valid_isbn13(s: str) -> bool:
    if not isinstance(s, str):
        return False
    s = isbn_cleanup(s)
    if not _ISBN13_RE.match(s):
        return False
    total = sum(int(c) * (1 if i % 2 == 0 else 3) for i, c in enumerate(s))
    return total % 10 == 0


def isbn10_to_isbn13(s: str) -> str | None:
    """ISBN_Tools.isbn10_to_isbn13 on a cleaned, valid ISBN-10."""
    if len(s) != 10:
        return None
    core = "978" + s[:9]
    chk = (10 - sum(int(c) * (1 if i % 2 == 0 else 3) for i, c in enumerate(core)) % 10) % 10
    return core + str(chk)


def isbn13_to_isbn10(s: str) -> str | None:
    """ISBN_Tools.isbn13_to_isbn10 — only defined for the 978 prefix."""
    if len(s) != 13 or not s.startswith("978"):
        return None
    core = s[3:12]
    total = sum((10 - i) * int(c) for i, c in enumerate(core))
    chk = (11 - total % 11) % 11
    return core + ("X" if chk == 10 else str(chk))


# --- misc -------------------------------------------------------------------


def splat(v):
    """Ruby ``[*value]``: nil → [], Array → itself, Hash → list of [k, v]
    pairs (this is how a Hash-valued ``notes`` reaches the Array branch of
    parse_notes, lib/edition.rb:332,336-339), scalar → [value]."""
    if v is None:
        return []
    if isinstance(v, list):
        return v
    if isinstance(v, dict):
        return [[k, x] for k, x in v.items()]
    return [v]


def ruby_empty(v) -> bool:
    """Ruby ``.empty?`` for the types that respond to it."""
    if isinstance(v, (str, list, dict)):
        return len(v) == 0
    return False


def det_bnode(*parts) -> str:
    """Deterministic blank-node label replacing Ruby's random ``RDF::Node.new``
    (lib/author.rb:78,87,67).  Required for idempotent resume and shuffle-safe
    dedup: label = ``_:b`` + blake2b-64 of the identifying parts."""
    h = hashlib.blake2b("\x1f".join(str(p) for p in parts).encode("utf-8"),
                        digest_size=8)
    return "_:b" + h.hexdigest()


_CNTRL_RE = re.compile(r"[\x00-\x1f\x7f]")


def scrub_cntrl(s: str) -> str:
    """Ruby ``gsub(/[[:cntrl:]]/, '')`` (lib/edition.rb:139-140)."""
    return _CNTRL_RE.sub("", s)


_NT_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
             '"': '"', "'": "'", "\\": "\\"}


def nt_unescape(s: str) -> str:
    """Full N-Triples string-literal unescaping per the grammar the
    reference's RDF reader implements (lib/util.rb:25-34 via RDF.rb):
    ECHAR (\\t \\b \\n \\r \\f \\" \\' \\\\) and UCHAR (\\uXXXX /
    \\UXXXXXXXX).  Malformed escapes pass through verbatim rather than
    failing the load (a bad label should drop a join row, not the job)."""
    if s is None or "\\" not in s:
        return s
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c != "\\" or i + 1 >= n:
            out.append(c)
            i += 1
            continue
        nxt = s[i + 1]
        if nxt == "u" and i + 6 <= n:
            try:
                out.append(chr(int(s[i + 2:i + 6], 16)))
                i += 6
                continue
            except ValueError:
                pass
        if nxt == "U" and i + 10 <= n:
            try:
                out.append(chr(int(s[i + 2:i + 10], 16)))
                i += 10
                continue
            except ValueError:
                pass
        if nxt in _NT_ECHAR:
            out.append(_NT_ECHAR[nxt])
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)
