"""Record semantics on shapes the ported specs do not cover: values of an
unexpected type, and the dispatch precedence between a record type's
handlers and the edition's generic-field map."""

import pytest

from olkg import vocab as V
from olkg.triples import MemoryKV, extract_record

EDITION, WORK, AUTHOR = "/type/edition", "/type/work", "/type/author"


def _side_values(res):
    return [v for rows in (res.author_names, res.creation_refs, res.probes)
            for row in rows for v in row]


@pytest.mark.parametrize("rtype,data", [
    (EDITION, {"key": "/books/OL1M", "authors": [{"key": 5}]}),
    (AUTHOR, {"key": 5, "name": "Ada Quill"}),
    (EDITION, {"key": "/books/OL1M", "subjects": [{"key": 5}, "History"]}),
    (WORK, {"key": "/works/OL1W", "subject_places": [{"key": 5.5}, "Fiction"]}),
], ids=["edition_author_key", "author_key", "edition_subject_key",
        "work_subject_key"])
def test_non_string_key_keeps_side_rows_strings(rtype, data):
    """A non-string key is stringified where it becomes a side row (as the
    dc:creator URI already is) instead of failing the task; the side sink
    is a string table."""
    res = extract_record(rtype, data)
    values = _side_values(res)
    assert values and all(isinstance(v, str) for v in values), values


def test_non_string_subject_key_emits_uri_without_label():
    """The subject URI is emitted; the label (the key's last path segment)
    is skipped, as for a key with no segment."""
    res = extract_record(WORK, {"key": "/works/OL1W",
                                "subjects": [{"key": 5}]})
    got = {(t.pred, t.obj) for t in res.triples if t.pred != V.RDF_TYPE}
    assert got == {(V.DC_SUBJECT, V.URI_PREFIX + "5")}


def test_join_keys_agree_across_key_types():
    """An author whose key is the int 5 and an edition that refers to it as
    5 meet on the same string join key."""
    author = extract_record(AUTHOR, {"key": 5, "name": "Ada Quill"})
    edition = extract_record(EDITION, {"key": "/books/OL1M",
                                       "authors": [{"key": 5}]})
    assert author.author_names == [("5", "Ada Quill")]
    assert [k for _, k in edition.creation_refs] == ["5"]


@pytest.mark.parametrize("author_first", [True, False],
                         ids=["author_first", "edition_first"])
@pytest.mark.parametrize("author_key,ref", [
    (5, "5"), ("5", 5), (5, 5),
], ids=["int_author_str_ref", "str_author_int_ref", "int_both"])
def test_memory_kv_joins_on_the_side_row_key(author_key, ref, author_first):
    """The ``MemoryKV`` replay keys its store with the same string as the
    side rows, so an author whose key is the int 5 and a ref "5" meet
    there too, whichever record comes first."""
    db = MemoryKV()
    records = [(AUTHOR, {"key": author_key, "name": "Ada Quill"}),
               (EDITION, {"key": "/books/OL1M", "authors": [{"key": ref}]})]
    if not author_first:
        records.reverse()
    triples = [t for rtype, data in records
               for t in extract_record(rtype, data, db=db).triples]
    assert (V.URI_PREFIX + "/books/OL1M", V.OL_AUTHOR, "Ada Quill") in {
        (t.subj, t.pred, t.obj) for t in triples}
    assert set(db.kv) == {"5"} and db.pending == set()


@pytest.mark.parametrize("key", [["/authors/OL1A"], {"k": "/authors/OL1A"}],
                         ids=["list_key", "dict_key"])
def test_memory_kv_takes_unhashable_author_keys(key):
    """An author whose key is a list or a dict is stored under its string
    (the side row's key) instead of raising ``TypeError: unhashable``."""
    db = MemoryKV()
    res = extract_record(AUTHOR, {"key": key, "name": "Ada Quill"}, db=db)
    plain = extract_record(AUTHOR, {"key": key, "name": "Ada Quill"})
    assert res.triples == plain.triples
    assert db.kv == {plain.author_names[0][0]: "Ada Quill"}


def _titles(rtype, **fields):
    res = extract_record(rtype, {"key": "/x/OL1X", "title": "T", **fields})
    by_pred = {}
    for t in res.triples:
        by_pred.setdefault(t.pred, []).append(t.obj)
    return (by_pred.get(V.RDA_OTHER_TITLE_INFORMATION, []),
            by_pred.get(V.DC_TITLE), by_pred.get(V.RDA_TITLE_PROPER))


@pytest.mark.parametrize("rtype", [EDITION, WORK])
@pytest.mark.parametrize("subtitle,other,title", [
    ("S", ["S"], "T; S"),
    (5, [], "T; 5"),   # the subtitle handler wins over the generic map
    ("", [], "T; "),   # Ruby truthiness (lib/edition.rb:228)
])
def test_subtitle(rtype, subtitle, other, title):
    assert _titles(rtype, subtitle=subtitle) == (other, [title], ["T"])


def test_title_prefix_on_editions_only():
    assert _titles(EDITION, title_prefix="The ", subtitle="S") == (
        ["S"], ["The T; S"], ["The T"])
    assert _titles(WORK, title_prefix="The ", subtitle="S") == (
        ["S"], ["T; S"], ["T"])
