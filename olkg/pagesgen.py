"""Synthetic Common-Crawl-style pages table (FIXTURES.md §1).

One page wraps one dump record: ``text`` carries the verbatim 5-column line
(the byte-identity invariant surface), ``html`` wraps it in a fixed envelope
that the extract stage must invert byte-identically.

Clone scaling rewrites entity keys deterministically so bench corpora of any
size derive from the fixture corpus; ``skew_hot_author`` re-points a fraction
of cloned editions at one author key to reproduce web-duplicate hot-key skew
(the J1 stress case, SURVEY.md §4).  Near-duplicate clusters are built from
the pieces below by ``perfbench/inputs.py``: :func:`_rewrite_keys`, the
identifier and name field tuples, :func:`_mutate_isbn13` and
:func:`_fake_name`.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql import functions as F

_HTML_PREFIX = b"<html><body><pre>"
_HTML_SUFFIX = b"</pre></body></html>"


def text_to_html(line: str) -> bytes:
    esc = (line.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;"))
    return _HTML_PREFIX + esc.encode("utf-8") + _HTML_SUFFIX


def html_to_text(html: bytes) -> str | None:
    """Inverse of text_to_html — must recover the dump line byte-identically
    (the per-url invariant from BASELINE.json input_hint)."""
    if html is None:
        return None
    if not (html.startswith(_HTML_PREFIX) and html.endswith(_HTML_SUFFIX)):
        return None
    body = html[len(_HTML_PREFIX):len(html) - len(_HTML_SUFFIX)].decode("utf-8")
    return body.replace("&gt;", ">").replace("&lt;", "<").replace("&amp;", "&")


def _parse_ts(date_col: str):
    try:
        dt = datetime.fromisoformat(date_col)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt
    except (ValueError, TypeError):
        return datetime(2020, 1, 1, tzinfo=timezone.utc)


_REF_FIELDS = ("authors", "works", "volumes")

_ISBN_FIELDS = ("isbn_10", "isbn_13", "isbn", "isbn10", "isbn13")
_LCCN_FIELDS = ("lccn", "lccns")
_OCLC_FIELDS = ("oclc_numbers", "oclc_number")
_NAME_FIELDS = ("name", "personal_name", "fuller_name")


def _mutate_isbn13(seed: str, cluster: int) -> str:
    """A VALID ISBN-13 derived deterministically from (seed, cluster) — the
    check digit is recomputed, so the extraction's ISBN validation keeps it
    (an invalid mutation would silently drop the blocking key)."""
    import hashlib
    h = hashlib.blake2b(f"{seed}|{cluster}".encode("utf-8"),
                        digest_size=8).hexdigest()
    digits = "978" + str(int(h, 16) % 10**9).zfill(9)
    check = (10 - sum((1 if i % 2 == 0 else 3) * int(d)
                      for i, d in enumerate(digits)) % 10) % 10
    return digits + str(check)


def _fake_name(seed: str, cluster: int) -> str:
    """A name string sharing (almost) no character 3-grams with other
    clusters' names, so MinHash name bands don't chain clusters together
    the way a shared suffix on a common name would.

    Letters are drawn from the FULL a-z alphabet, not hex: a 16-character
    gram alphabet concentrates MinHash minima onto a handful of small
    gram-hash values, which makes band keys hub-like and chains thousands
    of unrelated names into one connected component (union-find simulated:
    hex → one 4,885-name component out of 16k; a-z → max 70)."""
    import hashlib
    h = hashlib.blake2b(f"{seed}|{cluster}".encode("utf-8"),
                        digest_size=12).digest()
    letters = "".join(chr(ord("a") + b % 26) for b in h)
    return f"{letters[:6]} {letters[6:]}"


def _rewrite_keys(data: dict, suffix: str, rewrite_refs: bool) -> dict:
    """Deterministically rename the entity (and optionally its refs) for a
    clone: key '/books/OL1M' → '/books/OL1M<suffix>'."""
    out = json.loads(json.dumps(data))  # deep copy
    if isinstance(out.get("key"), str):
        out["key"] = out["key"] + suffix
    if rewrite_refs:
        for f in _REF_FIELDS:
            v = out.get(f)
            if isinstance(v, list):
                for item in v:
                    if isinstance(item, dict):
                        if isinstance(item.get("key"), str):
                            item["key"] = item["key"] + suffix
                        ref = item.get("author")
                        if isinstance(ref, dict) and isinstance(ref.get("key"), str):
                            ref["key"] = ref["key"] + suffix
    return out


def _set_author_refs(data: dict, author_key: str) -> None:
    if isinstance(data.get("authors"), list):
        for item in data["authors"]:
            if isinstance(item, dict):
                if "author" in item and isinstance(item["author"], dict):
                    item["author"]["key"] = author_key
                elif "key" in item:
                    item["key"] = author_key


def _clone_rows(line: str, clone_ids, rewrite_refs: bool,
                skew_hot_author: str | None,
                skew_fraction: float) -> list[tuple]:
    """PAGES_SCHEMA rows of one dump line's clones, one per index in
    ``clone_ids`` (see :func:`pages_rows`); none for an unparseable line."""
    parts = line.split("\t")
    if len(parts) < 5:
        return []
    rtype, _key, rev, date = parts[0], parts[1], parts[2], parts[3]
    try:
        data = json.loads(parts[4])
    except ValueError:
        return []
    ts = _parse_ts(date)
    skew_every = int(round(1.0 / skew_fraction)) if skew_fraction else 0
    rows = []
    for i in clone_ids:
        if i == 0:
            out_line, key = line, data.get("key", "")
        else:
            d = _rewrite_keys(data, f"_c{i}", rewrite_refs)
            if (skew_hot_author and rtype in ("/type/edition", "/type/work")
                    and skew_every and i % skew_every == 0):
                _set_author_refs(d, skew_hot_author)
            key = d.get("key", "")
            out_line = "\t".join([rtype, key, rev, date,
                                  json.dumps(d, ensure_ascii=False,
                                             separators=(", ", ": "))])
        url = "http://openlibrary.org" + key
        rows.append((url, ts, text_to_html(out_line), out_line, "en"))
    return rows


def pages_rows(lines: list[str], clones: int = 1, rewrite_refs: bool = True,
               skew_hot_author: str | None = None,
               skew_fraction: float = 0.0) -> list[tuple]:
    """Rows matching PAGES_SCHEMA.  clone 0 keeps the verbatim lines; clones
    1..n-1 rewrite keys with a deterministic suffix.  With skew enabled, every
    edition and work clone whose index satisfies
    ``i % round(1/skew_fraction) == 0`` points all author refs at
    ``skew_hot_author``."""
    return [row for line in lines
            for row in _clone_rows(line, range(clones), rewrite_refs,
                                   skew_hot_author, skew_fraction)]


def build_pages_df(spark, lines: list[str], **kwargs):
    from .schema import PAGES_SCHEMA
    return spark.createDataFrame(pages_rows(lines, **kwargs), PAGES_SCHEMA)


def build_pages_df_distributed(spark, lines: list[str], clones: int,
                               rewrite_refs: bool = True,
                               skew_hot_author: str | None = None,
                               skew_fraction: float = 0.0,
                               partitions: int | None = None):
    """Clone-scale the corpus *on the executors*: cross the base lines with a
    ``spark.range(clones)`` and rewrite keys inside an Arrow-batched UDF, so
    corpora of millions of pages never pass through the driver.  Each row
    comes from the same builder as :func:`pages_rows`."""
    from .schema import PAGES_SCHEMA

    base = spark.createDataFrame([(l,) for l in lines], "line string")
    idx = spark.range(clones).withColumnRenamed("id", "clone")
    if partitions:
        idx = idx.repartition(partitions)
    crossed = idx.crossJoin(F.broadcast(base))

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            rows = [row for line, clone in zip(pdf["line"], pdf["clone"])
                    for row in _clone_rows(line, (int(clone),), rewrite_refs,
                                           skew_hot_author, skew_fraction)]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html",
                                              "text", "lang"])

    return crossed.mapInPandas(gen, schema=PAGES_SCHEMA)
