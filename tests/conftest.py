"""Shared test helpers.

The semantic tests port the reference's RSpec suite 1:1
(specs/{author,edition,work,subject}_spec.rb — 64 examples) against the same
20 golden fixture lines of the reference corpus (``REF_DATA``), or, when that
corpus is absent, the same lines from the committed data/pages.parquet.  They run
the pure Python extractor (olkg.triples) — the same code the Spark UDF
wraps — so no cluster is needed (mirrors the reference's own spec entry
point line_to_resource, specs/edition_spec.rb:10-20).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from olkg.fixtures import PAGES
from olkg.triples import MemoryKV, extract_line

REF_DATA = Path("/root/reference/specs/data")

requires_reference = pytest.mark.skipif(
    not REF_DATA.exists() and not PAGES.exists(),
    reason="reference fixture corpus not available"
)

# fixture file-name prefix -> path segment of the record's url
_URL_SEGMENT = {"author": "/authors/", "edition": "/books/",
                "work": "/works/", "subject": "/subjects/"}


def read_fixture_line(name: str) -> str:
    """Last line of a fixture file (the specs loop to the last line); from
    the committed pages table when the reference corpus is absent."""
    if not REF_DATA.exists():
        import pyarrow.parquet as pq
        prefix, key = name.removesuffix(".txt").split("_", 1)
        url = "http://openlibrary.org" + _URL_SEGMENT[prefix] + key
        tbl = pq.read_table(PAGES, columns=["url", "text"]).to_pydict()
        texts = [t for u, t in zip(tbl["url"], tbl["text"]) if u == url]
        assert len(texts) == 1, f"{url}: {len(texts)} pages"
        return texts[0]
    line = None
    with open(REF_DATA / name, encoding="utf-8") as f:
        for raw in f:
            line = raw
    assert line is not None
    return line


def resource(name: str, db: MemoryKV | None = None):
    """Port of resource_from_file + parse_data: returns (uri, triples, result)."""
    line = read_fixture_line(name)
    res = extract_line(line, db=db)
    assert res is not None
    data = json.loads(line.split("\t")[4])
    uri = "http://openlibrary.org" + data.get("key", "")
    return uri, res.triples, res


def match(triples, s=None, p=None, o=None, kind=None):
    """Triple-pattern set-membership, mirroring match_triples
    (specs/edition_spec.rb:43-65): None = wildcard."""
    for t in triples:
        if s is not None and t.subj != s:
            continue
        if p is not None and t.pred != p:
            continue
        if o is not None and t.obj != o:
            continue
        if kind is not None and t.obj_kind != kind:
            continue
        return True
    return False


def objects_of(triples, s, p):
    return [t.obj for t in triples if t.subj == s and t.pred == p]


def follow_author_list(triples, head):
    """Walk an rdf:first/rdf:rest cons list from its head bnode, mirroring
    follow_list (specs/edition_spec.rb:31-41).  Returns the ordered member
    list."""
    from olkg import vocab as V

    members = []
    node = head
    seen = set()
    while node != V.RDF_NIL:
        assert node.startswith("_:"), f"list cell {node} is not a bnode"
        assert node not in seen, "cycle in author list"
        seen.add(node)
        first = objects_of(triples, node, V.RDF_FIRST)
        rest = objects_of(triples, node, V.RDF_REST)
        assert len(first) == 1 and len(rest) == 1
        members.append(first[0])
        node = rest[0]
    return members


@pytest.fixture(scope="session")
def spark():
    """local-mode SparkSession for integration tests."""
    pyspark = pytest.importorskip("pyspark")
    from olkg.session import build_session

    spark = build_session(app_name="olkg-tests", master="local[4]",
                          shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture
def cc_loop(monkeypatch):
    """Pins ``canonical_map_from_blocks`` to its distributed loop: the driver
    finish cap at 0 bytes, for the tests of loop internals."""
    import olkg.canonicalize as C
    monkeypatch.setattr(C, "DRIVER_FINISH_BYTES", 0)


@pytest.fixture
def cc_sides(monkeypatch):
    """Both sides of the driver finish cap for the CC output tests.
    Calling it iterates over "loop" (the cap at 0) and "driver" (the
    default cap, above every test graph), with the cap set for that side
    while the test body runs, so one test checks both sides and can compare
    them with each other."""
    import olkg.canonicalize as C
    default = C.DRIVER_FINISH_BYTES

    def sides():
        for side, cap in (("loop", 0), ("driver", default)):
            monkeypatch.setattr(C, "DRIVER_FINISH_BYTES", cap)
            yield side
    return sides
