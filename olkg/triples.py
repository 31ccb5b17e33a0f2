"""Single-record triple-extraction semantics (pure Python, no Spark).

This module is the engine's semantic core: ``extract_record(record_type,
data)`` reproduces exactly what the reference converter emits for one dump
record (reference: /root/reference — openlibrary_to_rdf.rb:24-45 drives
lib/author.rb, lib/edition.rb, lib/work.rb, lib/subject.rb).  It is shared by:

- the pytest golden tests (ports of the reference's 64 RSpec examples), and
- the Arrow-batched extraction UDF in :mod:`olkg.extract` (its vectorized
  wrapper),

so distributed results cannot diverge from tested single-record semantics
(mirrors the reference's own spec entry point, specs/edition_spec.rb:10-20).

Cross-record effects (the Redis rendezvous join J1 at lib/author.rb:50-61 /
lib/edition.rb:174-202 / lib/work.rb:64-93, and the LCSH label lookup J2 at
lib/edition.rb:298-313) are surfaced in two ways:

- ``db=`` a :class:`MemoryKV` replays the reference's exact 3-state Redis
  protocol (used by the ported specs and the golden generator);
- ``db=None`` (the distributed path) instead returns side rows
  (``author_names``, ``creation_refs``, ``probes``) that the Spark stage turns
  into order-independent equi-joins — the batch net effect of the protocol.

Each extractor declares one ``HANDLERS`` table (record key → function of
``(self, value)``); the one :meth:`_Emitter.run` walks the record's keys in
JSON order and calls the handler of each key that has one.  Edition's table
is the generic-field map (``GENERIC_FIELDS``) with its own handlers laid
over it, so a handler wins where both name a key (``subtitle``).

Blank nodes are minted deterministically (util.det_bnode) instead of Ruby's
random ``RDF::Node.new`` so output is idempotent under resume and dedup.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import partial

try:  # fast path: orjson parses identical JSON ~5x faster; stdlib fallback
    import orjson as _fastjson
except ImportError:  # pragma: no cover
    _fastjson = None

from . import vocab as V
from .util import (
    RUBY_A_TO_z09,
    cgi_escape,
    det_bnode,
    is_valid_isbn10,
    is_valid_isbn13,
    isbn10_to_isbn13,
    isbn13_to_isbn10,
    isbn_cleanup,
    normalize_uri,
    ruby_empty,
    sanitize_url,
    scrub_cntrl,
    splat,
    strip_trailing_punct,
    uri_is_relative,
    uri_host,
    uri_parse_ok,
)

URI = "uri"
LIT = "literal"
BNODE = "bnode"


@dataclass(frozen=True)
class Triple:
    subj: str
    pred: str
    obj: str
    obj_kind: str = LIT
    obj_datatype: str | None = None

    def as_tuple(self):
        return (self.subj, self.pred, self.obj, self.obj_kind, self.obj_datatype)


@dataclass
class ExtractResult:
    triples: list[Triple] = field(default_factory=list)
    # side rows for the distributed joins (db=None mode)
    author_names: list[tuple[str, str]] = field(default_factory=list)   # (author_key, name)
    creation_refs: list[tuple[str, str]] = field(default_factory=list)  # (creation_uri, author_key)
    probes: list[tuple[str, str]] = field(default_factory=list)         # (creation_uri, normalized_label)


class MemoryKV:
    """In-memory stand-in for the reference's Redis connection ``DB``
    (openlibrary_to_rdf.rb:15): get/set/getset/append plus the ``pending``
    set protocol (sismember/sadd/srem).  Used only by tests and the golden
    generator; the Spark pipeline replaces it with shuffle joins."""

    def __init__(self):
        self.kv: dict[str, str] = {}
        self.pending: set[str] = set()

    def get(self, k):
        return self.kv.get(k)

    def set(self, k, v):
        self.kv[k] = v

    def getset(self, k, v):
        old = self.kv.get(k)
        self.kv[k] = v
        return old

    def append(self, k, v):
        self.kv[k] = self.kv.get(k, "") + v

    def sismember(self, _set, k):
        return k in self.pending

    def sadd(self, _set, k):
        self.pending.add(k)

    def srem(self, _set, k):
        self.pending.discard(k)


def ruby_split_last(s: str, sep: str = "/") -> str | None:
    """Ruby String#split drops trailing empty fields; ``[].last`` is nil."""
    parts = s.split(sep)
    while parts and parts[-1] == "":
        parts.pop()
    return parts[-1] if parts else None


def ruby_datetime_str(value: str) -> str | None:
    """Ruby ``DateTime.parse(v).to_s`` → ISO-8601 with seconds precision and
    explicit offset (fraction dropped), e.g. ``2009-10-15T15:17:23+00:00``
    (lib/subject.rb:24,27; asserted specs/subject_spec.rb:58,72)."""
    try:
        dt = datetime.fromisoformat(value)
    except (ValueError, TypeError):
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.replace(microsecond=0).isoformat()


_SUBJ_COLLAPSE_RE = re.compile(r"\s?--\s?", re.ASCII)


def normalize_subject_label(subject: str) -> str:
    """Label normalization before the LCSH probe (lib/edition.rb:303-304)."""
    s = strip_trailing_punct(subject)
    return _SUBJ_COLLAPSE_RE.sub("--", s)


def _to_s(v) -> str:
    """Ruby #to_s for JSON scalar values."""
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


class _Emitter:
    """Shared triple-accumulation helpers (openlibrary.rb:8-20)."""

    rdf_type: str  # class-level: the entity's rdf:type object
    HANDLERS: dict  # class-level: record key → handler(self, value)

    def __init__(self, data: dict, db=None):
        self.data = data if isinstance(data, dict) else {}
        key = self.data.get("key")
        self.key = key if isinstance(key, str) else ""
        # set_identifier: minted + normalized (openlibrary.rb:9-12)
        self.uri = normalize_uri(V.URI_PREFIX + self.key)
        self.db = db
        self.res = ExtractResult()
        self.add(self.uri, V.RDF_TYPE, self.rdf_type, URI)

    def run(self):
        """parse_data (lib/edition.rb:28-36): each record key that has a
        handler, in JSON order, calls ``HANDLERS[key](self, value)``."""
        handlers = self.HANDLERS
        for key, value in self.data.items():  # insertion order == JSON order
            h = handlers.get(key)
            if h is not None:
                h(self, value)
        return self.res

    def add(self, s, p, o, kind=LIT, datatype=None):
        if kind == LIT and datatype is None and not isinstance(o, str):
            if isinstance(o, bool):
                o, datatype = ("true" if o else "false"), V.XSD_NS + "boolean"
            elif isinstance(o, int):
                o, datatype = str(o), V.XSD_INTEGER
            elif isinstance(o, float):
                o, datatype = repr(o), V.XSD_NS + "double"
            else:
                return  # non-literal-able object; reference would crash
        self.res.triples.append(Triple(s, p, o, kind, datatype))

    # ---- shared URL emission (lib/edition.rb:84-97 / lib/author.rb:94-107)
    def _valid_abs_url(self, raw: str) -> str | None:
        """normalize! → URI.parse (rescue) → relative? check.  Returns the
        normalized URL, None to skip this element, or raises _AbortList to
        mirror Ruby's early ``return`` on a relative URL."""
        u = normalize_uri(raw)
        if not uri_parse_ok(u):
            return None  # URI.parse raised; rescue → next element
        if uri_is_relative(u):
            raise _AbortList  # Ruby `return` aborts the whole list
        return u

    # ---- subjects (lib/edition.rb:298-313, lib/work.rb:36-53)
    def parse_subjects(self, subjects):
        for subject in splat(subjects):
            if subject is None or ruby_empty(subject) or subject == "." or subject == " ":
                continue
            if isinstance(subject, str):
                self.add(self.uri, V.DC11_SUBJECT, subject)
                label = normalize_subject_label(subject)
                if self.db is not None:
                    hit = self.db.get(label)
                    if hit:
                        self.add(self.uri, V.DC_SUBJECT, hit, URI)
                else:
                    self.res.probes.append((self.uri, label))
            elif isinstance(subject, dict):
                k = subject.get("key")
                if k is None or ruby_empty(k):
                    continue
                self.add(self.uri, V.DC_SUBJECT, V.URI_PREFIX + _to_s(k),
                         URI)
                if not isinstance(k, str):
                    continue  # Ruby would crash on a non-String #split
                last = ruby_split_last(k)
                if last is None:
                    continue  # Ruby would crash on nil.gsub
                self.add(self.uri, V.DC11_SUBJECT, last.replace("_", " "))

    # ---- author refs J1 client side (lib/edition.rb:174-202, lib/work.rb:64-93)
    def _author_ref(self, author_key):
        # _to_s: the side row is a string column, and Redis stringifies
        # its keys, so both modes join on the same string
        author_key = _to_s(author_key)
        if self.db is not None:
            if self.db.sismember("pending", author_key):
                self.db.append(author_key, "||" + self.uri)
            else:
                auth_list = self.db.get(author_key)
                if auth_list is not None:
                    # Ruby "".split("||") → [] (no empty element)
                    for auth in (auth_list.split("||") if auth_list else []):
                        self.add(self.uri, V.OL_AUTHOR, auth)
                else:
                    self.db.set(author_key, self.uri)
                    self.db.sadd("pending", author_key)
        else:
            self.res.creation_refs.append((self.uri, author_key))

    def _author_list(self, authors: list[str]):
        """gen_author_list (lib/author.rb:63-73): reversed cons-list of blank
        nodes; attached via bibo:authorList when >1 author
        (lib/edition.rb:192-201, lib/work.rb:83-92)."""
        if len(authors) <= 1:
            return
        nodes = [det_bnode(self.key, "authlist", i) for i in range(len(authors))]
        self.add(self.uri, V.BIBO_AUTHOR_LIST, nodes[0], BNODE)
        for i, au in enumerate(authors):
            rest = nodes[i + 1] if i + 1 < len(nodes) else V.RDF_NIL
            rest_kind = BNODE if i + 1 < len(nodes) else URI
            self.add(nodes[i], V.RDF_FIRST, au, URI)
            self.add(nodes[i], V.RDF_REST, rest, rest_kind)

    # ---- LCC / DDC classification nodes
    def parse_lc_classifications(self, lc_class):
        """lib/edition.rb:107-125 == lib/work.rb:103-121."""
        for lcc in splat(lc_class):
            if lcc is None or not isinstance(lcc, str) or ruby_empty(lcc):
                continue
            lcc = lcc.replace("\\", " ").strip()
            node = normalize_uri(
                "http://api.talis.com/stores/openlibrary/items/lcc/"
                + cgi_escape(lcc) + "#class"
            )
            self.add(self.uri, V.DC_SUBJECT, node, URI)
            self.add(node, V.DCAM_IS_MEMBER_OF, V.DC_LCC, URI)
            self.add(node, V.RDF_VALUE, lcc)
            up = lcc.upper()
            if re.match(r"^[A-Z]{1,3}(\s?[1-9][0-9]*|$)", up, re.ASCII):
                lcco = re.match(r"^([A-Z]{1,3})", up).group(1)
                scheme = ("http://api.talis.com/stores/openlibrary/items/lcc/"
                          + lcco + "#scheme")
                self.add(scheme, V.RDF_TYPE, V.SKOS_CONCEPT_SCHEME, URI)
                self.add(node, V.SKOS_IN_SCHEME, scheme, URI)

    def parse_ddc(self, ddcs):
        """lib/edition.rb:241-256 == lib/work.rb:123-138."""
        for ddc in splat(ddcs):
            if ddc is None or not isinstance(ddc, str) or ruby_empty(ddc):
                continue
            node = normalize_uri(
                "http://api.talis.com/stores/openlibrary/items/ddc/"
                + cgi_escape(ddc) + "#class"
            )
            self.add(self.uri, V.DC_SUBJECT, node, URI)
            self.add(node, V.DCAM_IS_MEMBER_OF, V.DC_DDC, URI)
            self.add(node, V.RDF_VALUE, ddc)
            if re.match(r"^[0-9]{3}([^0-9]|$)", ddc, re.ASCII):
                ddc_o = re.match(r"^([0-9]{3})", ddc).group(0)
                scheme = ("http://api.talis.com/stores/openlibrary/items/ddc/"
                          + ddc_o + "#scheme")
                self.add(scheme, V.RDF_TYPE, V.SKOS_CONCEPT_SCHEME, URI)
                self.add(node, V.SKOS_IN_SCHEME, scheme, URI)

    def parse_description(self, desc):
        """lib/edition.rb:216-222 == lib/work.rb:95-101.  Note the Ruby
        String#[] quirk: a *string* description containing the substring
        'value' emits dc:description "value"."""
        val = None
        if isinstance(desc, dict):
            val = desc.get("value")
        elif isinstance(desc, str) and "value" in desc:
            val = "value"
        if val and isinstance(val, str) and not ruby_empty(val):
            self.add(self.uri, V.DC_DESCRIPTION, val.replace("\f", "f"))

    def parse_subtitle(self, subtitle):
        """lib/edition.rb:235-239; the work's is in lib/work.rb:19-34."""
        if isinstance(subtitle, str) and subtitle:
            self.add(self.uri, V.RDA_OTHER_TITLE_INFORMATION, subtitle)

    def parse_covers(self, covers, path_letter: str):
        """lib/edition.rb:368-375 (b), lib/work.rb:140-147 (w),
        lib/author.rb:147-156 (a, photos)."""
        for cover in splat(covers):
            if cover is None:
                continue
            for size in ("S", "M", "L"):
                self.add(
                    self.uri, V.FOAF_DEPICTION,
                    f"http://covers.openlibrary.org/{path_letter}/id/{cover}-{size}.jpg",
                    URI,
                )


class _AbortList(Exception):
    """Models the reference's early ``return`` that aborts the remainder of a
    URL list on the first relative URL (lib/edition.rb:92, lib/author.rb:133,
    lib/author.rb:168)."""


# ---------------------------------------------------------------------------
# Author (lib/author.rb)
# ---------------------------------------------------------------------------

class AuthorExtractor(_Emitter):
    rdf_type = V.FOAF_AGENT  # lib/author.rb:7

    def run(self):
        self.name_strings: list[str] = []
        self.parse_names()
        super().run()
        self.save()
        return self.res

    def parse_names(self):
        """lib/author.rb:21-48."""
        d = self.data
        pn, nm = d.get("personal_name"), d.get("name")
        if isinstance(pn, str) and pn:
            self.add(self.uri, V.FOAF_NAME, pn)
            self.name_strings.append(pn)
            if isinstance(nm, str) and nm:
                self.add(self.uri, V.SKOS_ALT_LABEL, nm)
                self.name_strings.append(nm)
        elif isinstance(nm, str) and nm:
            self.add(self.uri, V.FOAF_NAME, nm)
            self.name_strings.append(nm)
        alts = d.get("alternate_names")
        if alts is not None and not ruby_empty(alts):
            for alt in splat(alts):
                if alt is None or not isinstance(alt, str) or alt == "":
                    continue
                self.add(self.uri, V.SKOS_ALT_LABEL, alt)
                self.name_strings.append(alt)
        fuller = d.get("fuller_name")
        if fuller is not None and not ruby_empty(fuller):
            for fn in splat(fuller):
                if fn is None or not isinstance(fn, str) or fn == "":
                    continue
                self.add(self.uri, V.RDAG2_FULLER_FORM_OF_NAME, fn)
                self.name_strings.append(fn)

    def save(self):
        """J1 server side (lib/author.rb:50-61)."""
        names = list(dict.fromkeys(self.name_strings))  # Array#uniq
        # _to_s as in _author_ref: the join key is a string in both modes
        key = _to_s(self.data.get("key") or "")
        if self.db is not None:
            val = self.db.getset(key, "||".join(names))
            if val is not None and self.db.sismember("pending", key):
                for creation in (val.split("||") if val else []):
                    for name in self.name_strings:
                        self.add(creation, V.OL_AUTHOR, name)
                self.db.srem("pending", key)
        else:
            for name in names:
                self.res.author_names.append((key, name))

    def _bio_event(self, v, field_name: str, type_uri: str):
        """lib/author.rb:76-83 (birth), lib/author.rb:85-92 (death)."""
        if not isinstance(v, str) or v == "":
            return
        node = det_bnode(self.key, field_name)
        self.add(node, V.RDF_TYPE, type_uri, URI)
        self.add(node, V.BIO_PRINCIPAL, self.uri, URI)
        self.add(self.uri, V.BIO_EVENT, node, BNODE)
        self.add(node, V.DC_DATE, v)

    def parse_website(self, v):
        """lib/author.rb:94-107."""
        if not isinstance(v, str) or v == "":
            return
        url = sanitize_url(v)
        if url:
            try:
                u = self._valid_abs_url(url)
            except _AbortList:
                return
            if u:
                self.add(self.uri, V.FOAF_HOMEPAGE, u, URI)

    def parse_bio(self, v):
        """lib/author.rb:109-117."""
        if v is None or ruby_empty(v):
            return
        if isinstance(v, str):
            self.add(self.uri, V.BIO_OLB, v)
        elif isinstance(v, dict):
            val = v.get("value")
            if val and isinstance(val, str):
                self.add(self.uri, V.BIO_OLB, val)

    def parse_title(self, v):
        if isinstance(v, str) and v:                 # lib/author.rb:119-122
            self.add(self.uri, V.RDAG2_TITLE_OF_THE_PERSON, v)

    def parse_wikipedia(self, v):
        """lib/author.rb:124-145 (early return aborts remaining entries)."""
        if v is None or ruby_empty(v):
            return
        for wik in splat(v):
            if wik is None or not isinstance(wik, str) or wik == "":
                continue
            w = sanitize_url(wik)
            if not w:
                continue
            try:
                wp = self._valid_abs_url(w)
            except _AbortList:
                return
            if not wp:
                continue
            self.add(self.uri, V.FOAF_IS_PRIMARY_TOPIC_OF, wp, URI)
            host = uri_host(wp)
            if host and re.search(r"wikipedia\.org", host):
                dbpedia = wp.replace("//" + host, "//dbpedia.org", 1)
                dbpedia = dbpedia.replace("/wiki/", "/resource/", 1)
                self.add(self.uri, V.OWL_SAME_AS, dbpedia, URI)

    def parse_photos(self, v):
        if v is None or ruby_empty(v):               # lib/author.rb:147-156
            return
        self.parse_covers(v, "a")

    def parse_links(self, v):
        """lib/author.rb:158-175."""
        if v is None or ruby_empty(v):
            return
        for link in splat(v):
            if not link:
                continue
            if isinstance(link, dict) and link.get("url"):
                if not isinstance(link["url"], str):
                    continue
                try:
                    lnk = self._valid_abs_url(link["url"])
                except _AbortList:
                    return
                if lnk:
                    self.add(self.uri, V.FOAF_PAGE, lnk, URI)

    HANDLERS = {
        "birth_date": partial(_bio_event, field_name="birth_date",
                              type_uri=V.BIO_BIRTH),
        "death_date": partial(_bio_event, field_name="death_date",
                              type_uri=V.BIO_DEATH),
        "website": parse_website,
        "bio": parse_bio,
        "title": parse_title,
        "wikipedia": parse_wikipedia,
        "photos": parse_photos,
        "links": parse_links,
    }


# ---------------------------------------------------------------------------
# Edition (lib/edition.rb)
# ---------------------------------------------------------------------------

# lib/edition.rb:9-26
GENERIC_FIELDS = {
    "subtitle": V.RDA_OTHER_TITLE_INFORMATION,
    "publishers": V.DC11_PUBLISHER,
    "copyright_date": V.DC_DATE_COPYRIGHTED,
    "other_titles": V.RDA_VARIANT_TITLE,
    "contributions": V.DC11_CONTRIBUTOR,
    "pagination": V.DC_EXTENT,
    "physical_dimensions": V.RDA_DIMENSIONS,
    "publish_places": V.RDA_PLACE_OF_PUBLICATION,
    "source_records": V.DC11_SOURCE,
    "volume_number": V.BIBO_VOLUME,
    "number_of_pages": V.BIBO_NUM_PAGES,
    "publish_date": V.DC_ISSUED,
    "edition_name": V.BIBO_EDITION,
    "work_title": V.RDA_TITLE_OF_THE_WORK,
    "by_statement": V.RDA_STATEMENT_OF_RESPONSIBILITY,
    "by_statements": V.RDA_STATEMENT_OF_RESPONSIBILITY,
}


def _generic_field(self, values, pred):
    """lib/edition.rb:165-172: one literal per non-empty splatted value."""
    for value in splat(values):
        if value is None or ruby_empty(value):
            continue
        self.add(self.uri, pred, value)


class EditionExtractor(_Emitter):
    rdf_type = V.BIBO_BOOK  # lib/edition.rb:8

    def parse_languages(self, languages):
        """lib/edition.rb:38-49 (not splatted: list input only)."""
        if not isinstance(languages, list):
            return
        for lang in languages:
            if isinstance(lang, dict) and lang.get("key"):
                s = lang["key"]
                if not isinstance(s, str):
                    continue
                s = s.strip()
                s = re.sub(r"^/languages/", "", s, count=1)
                s = re.sub(r"^/l/", "", s, count=1)
                self.add(self.uri, V.DC_LANGUAGE,
                         f"http://purl.org/NET/marccodes/languages/{s}#lang", URI)

    def parse_isbn(self, isbns):
        """lib/edition.rb:51-77 (ISBN_Tools semantics in olkg.util)."""
        for isbn in splat(isbns):
            if not isbn or not isinstance(isbn, str):
                continue
            if not (is_valid_isbn10(isbn) or is_valid_isbn13(isbn)):
                continue
            isbn = isbn_cleanup(isbn)
            self.add(self.uri, V.BIBO_ISBN, isbn)
            if len(isbn) == 10:
                self.add(self.uri, V.BIBO_ISBN10, isbn)
                self.add(self.uri, V.OWL_SAME_AS,
                         f"http://www4.wiwiss.fu-berlin.de/bookmashup/books/{isbn}", URI)
                self.add(self.uri, V.OWL_SAME_AS,
                         f"http://purl.org/NET/book/isbn/{isbn}#book", URI)
                c13 = isbn10_to_isbn13(isbn)
                if c13:
                    self.add(self.uri, V.BIBO_ISBN13, c13)
                    self.add(self.uri, V.BIBO_ISBN, c13)
            elif len(isbn) == 13:
                self.add(self.uri, V.BIBO_ISBN13, isbn)
                c10 = isbn13_to_isbn10(isbn)
                if c10:
                    self.add(self.uri, V.BIBO_ISBN10, c10)
                    self.add(self.uri, V.BIBO_ISBN, c10)
                    self.add(self.uri, V.OWL_SAME_AS,
                             f"http://www4.wiwiss.fu-berlin.de/bookmashup/books/{c10}", URI)
                    self.add(self.uri, V.OWL_SAME_AS,
                             f"http://purl.org/NET/book/isbn/{c10}#book", URI)

    def parse_uri_list(self, uris, predicate):
        """parse_uri (lib/edition.rb:84-97)."""
        for url in splat(uris):
            if url is None or not isinstance(url, str) or url == "":
                continue
            try:
                u = self._valid_abs_url(url)
            except _AbortList:
                return
            if u:
                self.add(self.uri, predicate, u, URI)

    def parse_genres(self, genres):
        """lib/edition.rb:127-132."""
        for genre in splat(genres):
            if genre is None or not isinstance(genre, str) or genre == "":
                continue
            self.add(self.uri, V.DC_TYPE, strip_trailing_punct(genre))

    def parse_table_of_contents(self, tocs):
        """lib/edition.rb:134-146 (gsub(/\\b/,'') is a no-op; see util)."""
        out = []
        for toc in splat(tocs):
            if not isinstance(toc, dict):
                continue
            v = toc.get("title") or toc.get("value")
            if not v or not isinstance(v, str):
                continue
            out.append(scrub_cntrl(v.replace("\f", "f")))
        if out:
            self.add(self.uri, V.DC_TABLE_OF_CONTENTS, "\n".join(out))

    def parse_lccns(self, lccns):
        """lib/edition.rb:148-161."""
        for lccn in splat(lccns):
            if lccn is None or not isinstance(lccn, str) or lccn == "":
                continue
            lccn = re.sub(r"[^\w]", "", lccn, flags=re.ASCII)
            if not re.fullmatch(r"\w{0,3}\d*", lccn, re.ASCII):
                continue
            self.add(self.uri, V.BIBO_LCCN, lccn)
            self.add(self.uri, V.OWL_SAME_AS,
                     f"http://purl.org/NET/lccn/{lccn}#i", URI)
            self.add(self.uri, V.OWL_SAME_AS, f"info:lccn/{lccn}", URI)

    def parse_authors(self, auths):
        """lib/edition.rb:174-202."""
        authors = []
        for author in splat(auths):
            if author is None or ruby_empty(author):
                continue
            if not isinstance(author, dict):
                continue
            # _to_s: Ruby interpolates any key type ("#{author['key']}");
            # a non-str truthy key must not TypeError the whole Spark task
            a = V.URI_PREFIX + _to_s(author.get("key") or "")
            self.add(self.uri, V.DC_CREATOR, a, URI)
            authors.append(a)
            if author.get("key"):
                self._author_ref(author["key"])
        self._author_list(authors)

    def parse_contributors(self, contribs):
        """lib/edition.rb:204-214."""
        for contrib in splat(contribs):
            if not (isinstance(contrib, dict) and contrib.get("name")
                    and isinstance(contrib["name"], str)):
                continue
            if contrib.get("role") == "Author":
                self.add(self.uri, V.DC11_CREATOR, contrib["name"])
                self.add(self.uri, V.OL_AUTHOR, contrib["name"])
            else:
                self.add(self.uri, V.DC11_CONTRIBUTOR, contrib["name"])

    def parse_title(self, t):
        """lib/edition.rb:224-233.  Note: *any* non-nil subtitle (even empty
        string) appends '; ' + subtitle to dc:title — faithful to the Ruby
        truthiness check at :228."""
        if not isinstance(t, str) or t == "":
            return
        prefix = self.data.get("title_prefix")
        title = f"{prefix if isinstance(prefix, str) else ''}{t}"
        self.add(self.uri, V.RDA_TITLE_PROPER, title)
        sub = self.data.get("subtitle")
        # Ruby truthiness at lib/edition.rb:228: any non-nil/non-false
        # subtitle (even "") appends "; #{subtitle}"
        if sub is not None and sub is not False:
            title = title + "; " + _to_s(sub)
        self.add(self.uri, V.DC_TITLE, title)

    def parse_publish_country(self, pc):
        """lib/edition.rb:260-266."""
        if not isinstance(pc, str) or pc == "":
            return
        if re.fullmatch(r"[a-z]*", pc, re.ASCII) and len(pc) < 4:
            self.add(self.uri, V.RDA_PLACE_OF_PUBLICATION,
                     f"http://purl.org/NET/marccodes/countries/{pc.strip()}#location",
                     URI)

    def parse_identifiers(self, identifiers):
        """lib/edition.rb:268-279."""
        if not isinstance(identifiers, dict):
            return
        for k, v in identifiers.items():
            for val in splat(v):
                if val is None:
                    continue
                if k == "librarything":
                    self.add(self.uri, V.FOAF_IS_PRIMARY_TOPIC_OF,
                             f"http://www.librarything.com/work/{val}", URI)
                elif k == "goodreads":
                    self.add(self.uri, V.FOAF_IS_PRIMARY_TOPIC_OF,
                             f"http://www.goodreads.com/book/show/{val}", URI)

    def parse_oclc_numbers(self, oclc_nums):
        """lib/edition.rb:281-289."""
        for oclc_num in splat(oclc_nums):
            if oclc_num is None or ruby_empty(oclc_num):
                continue
            for onum in splat(oclc_num):
                if onum is None:
                    continue
                self.parse_oclc_number(onum)

    def parse_oclc_number(self, oclc):
        """lib/edition.rb:346-355."""
        for onum in splat(oclc):
            if onum is None or not isinstance(onum, str):
                continue
            onum = re.sub(r"[^\d]", "", onum, flags=re.ASCII)
            if not onum:
                continue
            self.add(self.uri, V.BIBO_OCLCNUM, onum)
            self.add(self.uri, V.FOAF_IS_PRIMARY_TOPIC_OF,
                     f"http://worldcat.org/oclc/{onum}", URI)

    def parse_volumes(self, vols):
        """lib/edition.rb:291-296."""
        for vol in splat(vols):
            if not isinstance(vol, dict):
                continue
            k = vol.get("key")
            if not k or ruby_empty(k):
                continue
            self.add(self.uri, V.BIBO_VOLUME, k)

    def parse_ocaid(self, ocaid):
        """lib/edition.rb:321-329 (Ruby [A-z0-9] class)."""
        if ocaid is None or not isinstance(ocaid, str) or ocaid == "":
            return
        stripped = ocaid.strip()
        if not re.fullmatch(r"[" + RUBY_A_TO_z09 + r"]*", stripped):
            return
        self.add(self.uri, V.DC11_IDENTIFIER, stripped)
        self.add(self.uri, V.FOAF_PAGE,
                 f"http://www.archive.org/details/{stripped}", URI)

    def parse_notes(self, notes):
        """lib/edition.rb:331-344.  A Hash input splats to [k, v] pairs and is
        handled by the Array branch — see util.splat."""
        for note in splat(notes):
            if not note:
                continue
            if isinstance(note, dict):
                v = note.get("value")
                if v and isinstance(v, str):
                    self.add(self.uri, V.RDA_NOTE, v)
            elif isinstance(note, list):
                if len(note) >= 2 and note[0] == "value" and isinstance(note[1], str) and note[1]:
                    self.add(self.uri, V.RDA_NOTE, note[1])
            elif isinstance(note, str) and note:
                self.add(self.uri, V.RDA_NOTE, note)

    def parse_works(self, works):
        """lib/edition.rb:357-366 — bidirectional; 2 triples have the *work*
        as subject."""
        for work in splat(works):
            if work is None or ruby_empty(work) or not isinstance(work, dict):
                continue
            k = work.get("key")
            if not isinstance(k, str):
                continue
            w = V.URI_PREFIX + k
            self.add(self.uri, V.DC_IS_VERSION_OF, w, URI)
            self.add(self.uri, V.OV_COMMON_MANIFESTATION, w, URI)
            self.add(w, V.DC_HAS_VERSION, self.uri, URI)
            self.add(w, V.OV_COMMON_MANIFESTATION, self.uri, URI)

    # parse_data's dispatch (lib/edition.rb:28-36) with the aliases of
    # lib/edition.rb:79-82,163,258,315-317; a handler shadows the generic
    # map (subtitle)
    HANDLERS = {
        **{k: partial(_generic_field, pred=p) for k, p in GENERIC_FIELDS.items()},
        "languages": parse_languages,
        "isbn": parse_isbn, "isbn10": parse_isbn, "isbn13": parse_isbn,
        "isbn_10": parse_isbn, "isbn_13": parse_isbn,
        "url": partial(parse_uri_list, predicate=V.FOAF_PAGE),   # :99-101
        "uris": partial(parse_uri_list, predicate=V.BIBO_URI),   # :103-105
        "lc_classifications": _Emitter.parse_lc_classifications,
        "genres": parse_genres,
        "table_of_contents": parse_table_of_contents,
        "lccns": parse_lccns, "lccn": parse_lccns,
        "authors": parse_authors,
        "contributors": parse_contributors,
        "description": _Emitter.parse_description,
        "title": parse_title,
        "subtitle": _Emitter.parse_subtitle,
        "dewey_decimal_class": _Emitter.parse_ddc,
        "dewry_decimal_class": _Emitter.parse_ddc,
        "publish_country": parse_publish_country,
        "identifiers": parse_identifiers,
        "oclc_numbers": parse_oclc_numbers,
        "volumes": parse_volumes,
        "subjects": _Emitter.parse_subjects,
        "subject_people": _Emitter.parse_subjects,
        "subject_times": _Emitter.parse_subjects,
        "subject_places": _Emitter.parse_subjects,
        "ocaid": parse_ocaid,
        "notes": parse_notes,
        "oclc_number": parse_oclc_number,
        "works": parse_works,
        "covers": partial(_Emitter.parse_covers, path_letter="b"),  # :368-375
    }


# ---------------------------------------------------------------------------
# Work (lib/work.rb)
# ---------------------------------------------------------------------------

class WorkExtractor(_Emitter):
    rdf_type = V.FRBR_WORK  # lib/work.rb:8

    def parse_title(self, t):
        """lib/work.rb:19-28 — like edition's but without title_prefix."""
        if not isinstance(t, str) or t == "":
            return
        self.add(self.uri, V.RDA_TITLE_PROPER, t)
        title = t
        sub = self.data.get("subtitle")
        if sub is not None and sub is not False:     # lib/work.rb:23
            title = title + "; " + _to_s(sub)
        self.add(self.uri, V.DC_TITLE, title)

    def parse_first_publish_date(self, pub_date):
        if isinstance(pub_date, str) and pub_date:
            self.add(self.uri, V.DC_CREATED, pub_date)   # lib/work.rb:59-62

    def parse_authors(self, auths):
        """lib/work.rb:64-93 — nested {author: {key}} refs; also emits
        (author, foaf:made, work)."""
        authors = []
        for au in splat(auths):
            if not isinstance(au, dict):
                continue
            ref = au.get("author")
            if not isinstance(ref, dict):
                continue
            k = ref.get("key")
            if k is None or not isinstance(k, str) or k == "":
                continue
            a = V.URI_PREFIX + k
            self.add(self.uri, V.DC_CREATOR, a, URI)
            self.add(a, V.FOAF_MADE, self.uri, URI)
            authors.append(a)
            self._author_ref(k)
        self._author_list(authors)

    HANDLERS = {
        "title": parse_title,
        "subtitle": _Emitter.parse_subtitle,
        "subjects": _Emitter.parse_subjects,
        "subject_places": _Emitter.parse_subjects,
        "subject_people": _Emitter.parse_subjects,
        "subject_times": _Emitter.parse_subjects,
        "first_publish_date": parse_first_publish_date,
        "authors": parse_authors,
        "description": _Emitter.parse_description,
        "lc_classifications": _Emitter.parse_lc_classifications,
        "dewey_number": _Emitter.parse_ddc,
        "covers": partial(_Emitter.parse_covers, path_letter="w"),  # :140-147
    }


# ---------------------------------------------------------------------------
# Subject (lib/subject.rb)
# ---------------------------------------------------------------------------

class SubjectExtractor(_Emitter):
    rdf_type = V.SKOS_CONCEPT  # lib/subject.rb:8

    def parse_name(self, name):
        if isinstance(name, str) and name:           # lib/subject.rb:18-21
            self.add(self.uri, V.SKOS_PREF_LABEL, name)

    def parse_dt(self, v, pred):
        """lib/subject.rb:23-28 — the only typed (xsd:dateTime) literals in
        the whole output."""
        if not isinstance(v, dict):
            return
        s = ruby_datetime_str(v.get("value"))
        if s is not None:
            self.add(self.uri, pred, s, LIT, V.XSD_DATETIME)

    HANDLERS = {
        "name": parse_name,
        "created": partial(parse_dt, pred=V.DC_CREATED),
        "last_modified": partial(parse_dt, pred=V.DC_MODIFIED),
    }


# ---------------------------------------------------------------------------
# Record / line entry points (openlibrary_to_rdf.rb:24-34)
# ---------------------------------------------------------------------------

EXTRACTORS = {
    "/type/author": AuthorExtractor,
    "/type/edition": EditionExtractor,
    "/type/work": WorkExtractor,
    "/type/subject": SubjectExtractor,
}


def extract_record(record_type: str, data: dict,
                   db=None) -> ExtractResult | None:
    """One dump record → triples + join side-rows.  Unknown types → None
    (skipped, openlibrary_to_rdf.rb:34)."""
    cls = EXTRACTORS.get(record_type)
    if cls is None:
        return None
    return cls(data, db=db).run()


def parse_dump_line(line: str):
    """Split a 5-column dump line (openlibrary_to_rdf.rb:25-26).  Returns
    (record_type, key, revision, modified, data) or None if malformed."""
    parts = line.rstrip("\n").split("\t")
    if len(parts) < 5:
        return None
    rtype, key, rev, date = parts[0], parts[1], parts[2], parts[3]
    try:
        if _fastjson is not None:
            try:
                data = _fastjson.loads(parts[4])
            except _fastjson.JSONDecodeError:
                # orjson rejects a few inputs stdlib json accepts (e.g.
                # >64-bit ints); retry with the reference-faithful parser
                data = json.loads(parts[4])
        else:
            data = json.loads(parts[4])
    except (ValueError, TypeError):
        return None
    if not isinstance(data, dict):
        return None
    return (rtype, key, rev, date, data)


def extract_line(line: str, db=None) -> ExtractResult | None:
    rec = parse_dump_line(line)
    if rec is None:
        return None
    return extract_record(rec[0], rec[4], db=db)
