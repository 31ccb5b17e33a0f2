"""Compare the record semantics (``olkg.triples``) of this checkout with
another checkout's, record by record.

Both copies of the package are loaded side by side and run on the same
inputs:

- the fixture corpus (``olkg.fixtures.corpus_lines``);
- clones of it (``olkg.pagesgen.pages_rows``, rewritten keys and a hot
  author);
- ``--records`` seeded random records of the four types, over every field a
  handler reads, with mixed value shapes and shuffled key order;
- three shuffled replays of the clean records above through ``MemoryKV``
  (the in-memory stand-in for the reference's Redis), each side with its own
  store seeded with the fixture LCSH labels; the final stores are compared
  too.

A result is (triples, author_names, creation_refs, probes) as ordered lists.
Records where either side raised, or wrote a side-row value that is not a
``str`` (the side sink is a string table), are counted and listed, not
compared.  Any other difference prints the record and exits 1.

Usage: python scripts/diff_extract.py --parent <other checkout>
           [--records 60000] [--seed 3]
"""

from __future__ import annotations

import argparse
import copy
import importlib
import importlib.util
import json
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHOW = 5  # excluded records listed per kind

AUTHOR_FIELDS = ("key", "name", "personal_name", "alternate_names",
                 "fuller_name", "birth_date", "death_date", "website", "bio",
                 "title", "wikipedia", "photos", "links")
EDITION_FIELDS = (
    "key", "title_prefix", "subtitle", "publishers", "copyright_date",
    "other_titles", "contributions", "pagination", "physical_dimensions",
    "publish_places", "source_records", "volume_number", "number_of_pages",
    "publish_date", "edition_name", "work_title", "by_statement",
    "by_statements", "languages", "isbn", "isbn10", "isbn13", "isbn_10",
    "isbn_13", "url", "uris", "lc_classifications", "genres",
    "table_of_contents", "lccns", "lccn", "authors", "contributors",
    "description", "title", "dewey_decimal_class", "dewry_decimal_class",
    "publish_country", "identifiers", "oclc_numbers", "volumes", "subjects",
    "subject_people", "subject_times", "subject_places", "ocaid", "notes",
    "oclc_number", "works", "covers")
WORK_FIELDS = ("key", "title", "subtitle", "subjects", "subject_places",
               "subject_people", "subject_times", "first_publish_date",
               "authors", "description", "lc_classifications", "dewey_number",
               "covers")
SUBJECT_FIELDS = ("key", "name", "created", "last_modified")
FIELDS = {"/type/author": AUTHOR_FIELDS, "/type/edition": EDITION_FIELDS,
          "/type/work": WORK_FIELDS, "/type/subject": SUBJECT_FIELDS}

_AUTHOR_KEYS = [f"/authors/OL{i}A" for i in range(1, 6)]
_STRINGS = [
    "", " ", ".", "History.", "Fiction", "Fiction -- History", "value",
    "a value here", "T", "S", "Ada Quill", "http://example.org/a",
    "example.org/b", "https://en.wikipedia.org/wiki/X", "/relative/path",
    "x@y.org", "bad url.com/a b", "0140328726", "9780140328721",
    "978-0-14-032872-1", "123456789X", "n78-89035", "QA76.9 .D3",
    "823.914", "82", "eng", "xxu", "ia_id-01", "/books/OL1M",
    "/works/OL1W", "/subjects/place:london", "/languages/eng",
    "2009-10-15T15:17:23.123", "not a date", "line\fbreak", "tab\tx",
]


def load_triples(root: str, name: str):
    """``<root>/olkg`` imported as package ``name``; its ``triples``."""
    pkg_dir = os.path.join(root, "olkg")
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(pkg_dir, "__init__.py"),
        submodule_search_locations=[pkg_dir])
    pkg = importlib.util.module_from_spec(spec)
    sys.modules[name] = pkg
    spec.loader.exec_module(pkg)
    return importlib.import_module(name + ".triples")


def _scalar(rng: random.Random):
    r = rng.random()
    if r < 0.55:
        return rng.choice(_STRINGS)
    if r < 0.7:
        return rng.choice([0, 1, 5, 12345, -3])
    if r < 0.8:
        return rng.choice([True, False, None])
    if r < 0.85:
        return rng.choice([1.5, 0.0])
    return rng.choice(_AUTHOR_KEYS)


def _value(rng: random.Random, depth: int = 0):
    r = rng.random()
    if depth > 1 or r < 0.4:
        return _scalar(rng)
    if r < 0.75:
        return [_value(rng, depth + 1) for _ in range(rng.randint(0, 3))]
    d = {}
    for k in rng.sample(["key", "value", "url", "title", "name", "role",
                         "author", "type", "librarything", "goodreads"],
                        rng.randint(0, 3)):
        if k == "author":
            d[k] = {"key": rng.choice(_AUTHOR_KEYS + [5, None, ""])}
        elif k == "role":
            d[k] = rng.choice(["Author", "Editor", None])
        elif k == "key" and rng.random() < 0.6:
            d[k] = rng.choice(_AUTHOR_KEYS + ["/subjects/x_y", "", 7])
        else:
            d[k] = _value(rng, depth + 1)
    return d


def random_records(n: int, seed: int) -> list:
    rng = random.Random(f"diff_extract:{seed}")
    types = sorted(FIELDS)
    out = []
    for i in range(n):
        rtype = types[i % len(types)]
        fields = list(FIELDS[rtype]) + ["unknown_field"]
        picked = rng.sample(fields, rng.randint(1, min(12, len(fields))))
        data = {f: _value(rng) for f in picked}
        if rng.random() < 0.8:
            data["key"] = (rng.choice(_AUTHOR_KEYS)
                           if rtype == "/type/author"
                           else f"/x/OL{rng.randint(1, 50)}X")
        items = list(data.items())
        rng.shuffle(items)  # JSON order decides dispatch order
        out.append((rtype, dict(items)))
    return out


def _outcome(mod, rtype: str, data: dict, db=None):
    """('ok', result tuple) | ('raised', repr) — on a private copy."""
    try:
        res = mod.extract_record(rtype, copy.deepcopy(data), db=db)
    except Exception as e:  # noqa: BLE001 — any raise is the finding
        return "raised", f"{type(e).__name__}: {e}"
    if res is None:
        return "ok", None
    return "ok", ([t.as_tuple() for t in res.triples], res.author_names,
                  res.creation_refs, res.probes)


def _non_str_side(result) -> bool:
    return result is not None and any(
        not isinstance(v, str) for rows in result[1:] for row in rows
        for v in row)


class Report:
    def __init__(self):
        self.excluded: dict[str, list] = {}

    def exclude(self, kind: str, corpus: str, rtype: str, data: dict,
                detail: str) -> None:
        self.excluded.setdefault(kind, []).append((corpus, rtype, data,
                                                   detail))

    def print(self) -> None:
        for kind, rows in sorted(self.excluded.items()):
            print(f"excluded, {kind}: {len(rows)}")
            for corpus, rtype, data, detail in rows[:SHOW]:
                print(f"  [{corpus}] {rtype} {detail} "
                      f"{json.dumps(data, default=str)[:200]}")


def _fail(corpus: str, rtype: str, data: dict, a, b) -> None:
    print(f"DIFFERENCE [{corpus}] {rtype} {json.dumps(data, default=str)}")
    names = ("triples", "author_names", "creation_refs", "probes")
    if a is None or b is None:
        print(f"  parent: {a}\n  change: {b}")
    else:
        for name, x, y in zip(names, a, b):
            if x != y:
                print(f"  {name}:\n    parent: {x}\n    change: {y}")
    sys.exit(1)


def compare(corpus: str, records: list, parent, change,
            report: Report) -> list:
    """Compare every record in db=None mode; returns the clean ones."""
    clean = []
    for rtype, data in records:
        (p_kind, p_res), (c_kind, c_res) = (_outcome(parent, rtype, data),
                                            _outcome(change, rtype, data))
        if "raised" in (p_kind, c_kind):
            report.exclude(f"raised (parent {p_kind == 'raised'}, change "
                           f"{c_kind == 'raised'})", corpus, rtype, data,
                           p_res if p_kind == "raised" else c_res)
            continue
        p_bad, c_bad = _non_str_side(p_res), _non_str_side(c_res)
        if p_bad or c_bad:
            report.exclude(f"non-str side row (parent {p_bad}, change "
                           f"{c_bad})", corpus, rtype, data, "")
            continue
        if p_res != c_res:
            _fail(corpus, rtype, data, p_res, c_res)
        clean.append((rtype, data))
    print(f"{corpus}: {len(records)} records, {len(clean)} identical")
    return clean


def replay(records: list, parent, change, lcsh: list, seed: int,
           report: Report) -> None:
    rng = random.Random(f"diff_extract:replay:{seed}")
    for r in range(3):
        order = list(records)
        rng.shuffle(order)
        dbs = []
        for mod in (parent, change):
            db = mod.MemoryKV()
            for label, uri in lcsh:
                db.set(label, uri)
            dbs.append(db)
        raised = 0
        for rtype, data in order:
            a = _outcome(parent, rtype, data, db=dbs[0])
            b = _outcome(change, rtype, data, db=dbs[1])
            if a[0] == b[0] == "raised":
                raised += 1
                report.exclude("raised in replay (both)", f"replay {r}",
                               rtype, data, a[1])
                continue
            if a != b:
                _fail(f"replay {r}", rtype, data, a[1], b[1])
        if (dbs[0].kv, dbs[0].pending) != (dbs[1].kv, dbs[1].pending):
            print(f"DIFFERENCE [replay {r}] final MemoryKV state")
            sys.exit(1)
        print(f"replay {r}: {len(order)} records, {raised} raised on both "
              f"sides, the rest identical; final stores identical "
              f"({len(dbs[0].kv)} keys)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True,
                    help="the other checkout (its olkg/ is loaded)")
    ap.add_argument("--records", type=int, default=60000)
    ap.add_argument("--seed", type=int, default=3)
    args = ap.parse_args()

    change = load_triples(REPO, "olkg_change")
    parent = load_triples(os.path.abspath(args.parent), "olkg_parent")
    from olkg.fixtures import LCSH_ROWS, corpus_lines
    from olkg.pagesgen import pages_rows

    def records(lines):
        return [(r[0], r[4]) for r in map(change.parse_dump_line, lines)
                if r is not None]

    lines = corpus_lines()
    base = set(lines)
    clones = [row[3] for row in pages_rows(
        lines, clones=6, skew_hot_author="/authors/HOT1A", skew_fraction=0.5)
        if row[3] not in base]
    report = Report()
    clean = compare("fixtures", records(lines), parent, change, report)
    clean += compare("clones", records(clones), parent, change, report)
    clean += compare("random", random_records(args.records, args.seed),
                     parent, change, report)
    replay(clean, parent, change, LCSH_ROWS, args.seed, report)
    report.print()


if __name__ == "__main__":
    main()
