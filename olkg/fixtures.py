"""Deterministic synthetic dump records + reference-fixture loading.

The engine ships its own synthetic corpus (generated below, covering every
JSON field shape the reference's parsers handle — see FIXTURES.md §2) so the
repo is standalone.  The reference's 20 fixture records are folded in for
parity coverage: from the reference corpus (``REF_DATA``) when present,
else from the ``text`` column of the committed ``data/pages.parquet``,
which holds the same lines byte for byte.
"""

from __future__ import annotations

import json
from pathlib import Path

REF_DATA = Path("/root/reference/specs/data")
PAGES = Path(__file__).resolve().parent.parent / "data" / "pages.parquet"

# LCSH label→URI dimension rows (the pairs the reference specs seed into
# Redis: specs/edition_spec.rb:318-322, specs/work_spec.rb:137-145)
LCSH_ROWS = [
    ("Homes and haunts", "http://id.loc.gov/authorities/subjects/sh99005711"),
    ("Criticism and interpretation", "http://id.loc.gov/authorities/subjects/sh99005576"),
    ("Italy", "http://id.loc.gov/authorities/names/n79021783"),
    ("Sociology, Urban", "http://id.loc.gov/authorities/subjects/sh85124233"),
    ("City and town life", "http://id.loc.gov/authorities/subjects/sh85026255"),
    ("History", "http://id.loc.gov/authorities/subjects/sh85061212"),
    ("Social conditions", "http://id.loc.gov/authorities/subjects/sh2001008850"),
    ("Canada", "http://id.loc.gov/authorities/names/n79007233"),
    ("Québec (Province)", "http://id.loc.gov/authorities/names/n80001244"),
    ("Chemistry", "http://id.loc.gov/authorities/subjects/sh85022986"),
    ("Folklore", "http://id.loc.gov/authorities/subjects/sh85050104"),
]


def _line(rtype: str, key: str, rev: int, date: str, data: dict) -> str:
    return "\t".join([rtype, key, str(rev), date,
                      json.dumps(data, ensure_ascii=False, separators=(", ", ": "))])


def synthetic_lines() -> list[str]:
    """A deterministic corpus exercising every field shape (FIXTURES.md §2)."""
    lines: list[str] = []

    # --- authors ---
    lines.append(_line("/type/author", "/authors/SA1A", 3, "2020-01-01T00:00:00",
        {"key": "/authors/SA1A", "personal_name": "Ada Quill",
         "name": "Quill, Ada", "alternate_names": ["A. Quill", "Ada Q."],
         "fuller_name": "Ada Beatrice Quill",
         "birth_date": "1 January 1901", "death_date": "2 February 1982.",
         "bio": {"type": "/type/text", "value": "Synthetic test author."},
         "title": "Dr.", "website": "adaquill.example.org/home",
         "wikipedia": "http://en.wikipedia.org/wiki/Ada_Quill",
         "photos": [101, 102],
         "links": [{"url": "http://example.org/ada", "title": "site",
                    "type": {"key": "/type/link"}}],
         "type": {"key": "/type/author"}}))
    lines.append(_line("/type/author", "/authors/SA2A", 1, "2020-01-02T00:00:00",
        {"key": "/authors/SA2A", "name": "Borges Mirror",
         "bio": "A plain string bio.",
         "wikipedia": ["http://de.wikipedia.org/wiki/Borges_Mirror"],
         "type": {"key": "/type/author"}}))
    lines.append(_line("/type/author", "/authors/SA3A", 2, "2020-01-03T00:00:00",
        {"key": "/authors/SA3A", "personal_name": "Cleo Verse",
         "alternate_names": ["", "C. Verse"],  # empty element skipped
         "website": "https://cleoverse.example.com",  # https repair quirk
         "type": {"key": "/type/author"}}))
    # hot author for skew tests
    lines.append(_line("/type/author", "/authors/HOT1A", 1, "2020-01-04T00:00:00",
        {"key": "/authors/HOT1A", "name": "Prolific Hot",
         "alternate_names": ["P. Hot"], "type": {"key": "/type/author"}}))

    # --- editions ---
    lines.append(_line("/type/edition", "/books/SB1M", 5, "2020-02-01T00:00:00",
        {"key": "/books/SB1M", "title": "Synthetic Treatise",
         "title_prefix": "The ", "subtitle": "a field-shape workout",
         "other_titles": ["Treatise, synthetic"],
         "by_statement": "by Ada Quill ; edited by Cleo Verse.",
         "authors": [{"key": "/authors/SA1A"}, {"key": "/authors/SA3A"}],
         "contributions": ["Verse, Cleo."],
         "contributors": [{"name": "Nib Overline", "role": "Author"},
                          {"name": "Guide Margin", "role": "Editor"}],
         "publishers": ["Example House"], "publish_places": ["Testville"],
         "publish_country": "xxu", "publish_date": "1999",
         "copyright_date": "1998", "edition_name": "2nd ed.",
         "pagination": "xii, 300 p.", "number_of_pages": 300,
         "physical_dimensions": "24 x 16 x 3 cm",
         "languages": [{"key": "/languages/eng"}, {"key": "/l/fre"}],
         "isbn_10": ["0060275278"], "isbn_13": ["9780064420471"],
         "lccn": ["96049548"], "oclc_numbers": ["ocm35586866"],
         "ocaid": "synthetictreatise00quil",
         "identifiers": {"librarything": ["1536693"], "goodreads": ["1780787"]},
         "lc_classifications": ["QA76.9 .D343 1999", "Z253 .U69"],
         "dewey_decimal_class": ["005.74/3"],
         "subjects": ["Chemistry", "Data structures (Computer science)",
                      {"key": "/subjects/word_games"}],
         "subject_people": ["Quill, Ada"], "subject_places": ["Canada"],
         "subject_times": ["20th century."],
         "genres": ["Bibliography.", "Fiction"],
         "series": ["Synthetic series ; no. 4"],
         "table_of_contents": [
             {"type": {"key": "/type/toc_item"}, "title": "Chapter One"},
             {"value": "Chapter Two (scrubbed)"},
             {"irrelevant": 1}],
         "notes": {"type": "/type/text", "value": "A hash-shaped note."},
         "description": {"type": "/type/text",
                         "value": "A synthetic description\fwith formfeed."},
         "works": [{"key": "/works/SW1W"}],
         "covers": [201, 202],
         "source_records": ["marc:synthetic/part1.dat:1:100"],
         "uris": ["http://example.org/t1", "http://example.org/t2"],
         "url": ["http://example.org/page"],
         "volumes": [{"key": "/books/SB1M-v1"}],
         "volume_number": 1,
         "work_title": "Synthetic Treatise (work)",
         "type": {"key": "/type/edition"}}))
    lines.append(_line("/type/edition", "/books/SB2M", 2, "2020-02-02T00:00:00",
        {"key": "/books/SB2M", "title": "Hot Streak",
         "authors": [{"key": "/authors/HOT1A"}],
         "isbn_10": ["0-06-027527-8", "badisbn"],  # hyphens + invalid
         "notes": ["A string note", {"value": "hash in array"}],
         "subjects": ["History", "Italy"],
         "oclc_number": "12101731",
         "lccns": ["n   78890351"],
         "dewry_decimal_class": ["155.4/13"],  # reference's alias typo
         "by_statements": "statement via alias",
         "type": {"key": "/type/edition"}}))
    lines.append(_line("/type/edition", "/books/SB3M", 1, "2020-02-03T00:00:00",
        {"key": "/books/SB3M", "title": "No Subtitle Book",
         "authors": [{"key": "/authors/SA2A"}],
         "works": [{"key": "/works/SW1W"}],
         "isbn_13": ["9788862742610"],
         "subjects": [".", " ", "Folklore"],
         "url": ["www.relative.example", "http://never-reached.example.org"],
         "type": {"key": "/type/edition"}}))

    # --- works ---
    lines.append(_line("/type/work", "/works/SW1W", 4, "2020-03-01T00:00:00",
        {"key": "/works/SW1W", "title": "Synthetic Treatise (work)",
         "subtitle": "the work-level subtitle",
         "authors": [{"author": {"key": "/authors/SA1A"},
                      "type": {"key": "/type/author_role"}},
                     {"author": {"key": "/authors/SA2A"},
                      "type": {"key": "/type/author_role"}}],
         "first_publish_date": "1999",
         "description": {"type": "/type/text", "value": "Work description."},
         "subjects": ["Chemistry", "Sociology, Urban"],
         "subject_places": ["Québec (Province)"],
         "lc_classifications": ["QA76.9 .D343"],
         "dewey_number": ["005.74/3"],
         "covers": [301],
         "type": {"key": "/type/work"}}))
    lines.append(_line("/type/work", "/works/SW2W", 1, "2020-03-02T00:00:00",
        {"key": "/works/SW2W", "title": "Hot Works",
         "authors": [{"author": {"key": "/authors/HOT1A"},
                      "type": {"key": "/type/author_role"}}],
         "subjects": ["City and town life"],
         "type": {"key": "/type/work"}}))

    # --- subjects ---
    lines.append(_line("/type/subject", "/subjects/synthetic_topic", 1,
        "2020-04-01T00:00:00",
        {"key": "/subjects/synthetic_topic", "name": "Synthetic topic",
         "created": {"type": "/type/datetime", "value": "2009-10-15T15:17:23.372937"},
         "last_modified": {"type": "/type/datetime", "value": "2010-01-02T03:04:05"},
         "type": {"key": "/type/subject"}}))

    return lines


def reference_lines() -> list[str]:
    """Verbatim fixture lines from the reference corpus, else the committed
    pages table's non-synthetic records; [] when neither exists (e.g. when
    the package is imported from a zip)."""
    if not REF_DATA.exists():
        if not PAGES.exists():
            return []
        import pyarrow.parquet as pq
        synthetic = set(synthetic_lines())
        return [t for t in pq.read_table(PAGES, columns=["text"])
                .column("text").to_pylist() if t not in synthetic]
    lines = []
    for path in sorted(REF_DATA.glob("*.txt")):
        with open(path, encoding="utf-8") as f:
            for raw in f:
                raw = raw.rstrip("\n")
                if raw:
                    lines.append(raw)
    return lines


def corpus_lines(include_reference: bool = True) -> list[str]:
    lines = synthetic_lines()
    if include_reference:
        lines.extend(reference_lines())
    return lines
