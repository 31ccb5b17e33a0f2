"""Seeded input generators.

Everything is derived from the workload seed and from files committed to the
repository, so the same seed gives byte-identical parquet files on any host.
Generated inputs are written under a directory named by their fingerprint
(seed, generator parameters, hash of the base lines): a stale corpus can never
be picked up under a new seed or after the base records change.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from olkg import pagesgen

# bump when the generator's output changes for the same parameters
GENERATOR_VERSION = 3

PAGES_SCHEMA = pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("lang", pa.string()), ("source", pa.string()),
                         ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])

HOT_AUTHOR = "/authors/HOT1A"
BASE_RECORDS = 30
# pages files; twice the cores of the reference host so every core gets a split
PARTS = 8


def base_lines(repo: str) -> list[str]:
    """The 30 committed base records (``text`` column of data/pages.parquet)."""
    lines = pq.read_table(os.path.join(repo, "data", "pages.parquet"),
                          columns=["text"]).column("text").to_pylist()
    if len(lines) != BASE_RECORDS:
        raise ValueError(f"data/pages.parquet holds {len(lines)} records, "
                         f"expected {BASE_RECORDS}")
    return lines


def fingerprint(*parts) -> str:
    h = hashlib.sha256()
    for p in (GENERATOR_VERSION,) + parts:
        h.update(json.dumps(p, sort_keys=True).encode("utf-8"))
        h.update(b"\0")
    return h.hexdigest()[:16]


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _write_parts(table: pa.Table, out_dir: str) -> list[str]:
    """Split ``table`` into PARTS files, as a crawl lands in many files
    (one file would become one scan split and serialize the extract UDF)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    step = -(-table.num_rows // PARTS)
    for i in range(PARTS):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), p)
        paths.append(p)
    return paths


# --- KG pages -----------------------------------------------------------------

_ID_FIELDS = pagesgen._ISBN_FIELDS + pagesgen._LCCN_FIELDS + pagesgen._OCLC_FIELDS


def _line(rtype: str, data: dict, rev: str, date: str) -> str:
    return "\t".join([rtype, data["key"], rev, date,
                      json.dumps(data, ensure_ascii=False,
                                 separators=(", ", ": "))])


def _member(data: dict, group: str, j: int) -> dict:
    """Member ``j`` of a cluster or chain: its own key, and refs shared with
    the rest of its group."""
    d = pagesgen._rewrite_keys(data, group, rewrite_refs=True)
    d["key"] += f".{j}"
    for f in _ID_FIELDS:
        d.pop(f, None)
    return d


def kg_rows(base: list[str], seed: int, *, mirror_copies: int,
            hot_fraction: float, clusters: int, cluster_sizes: tuple,
            chains: int, chain_lengths: tuple) -> list[tuple]:
    """Pages (rows of PAGES_SCHEMA) of a crawl that mixes three shapes.

    - Mirrors: ``olkg.pagesgen.pages_rows`` with ``mirror_copies`` clones of
      every base record.  Each copy keeps its base record's identifiers;
      every ``1/hot_fraction``-th edition and work copy points at one hot
      author.
    - Clusters: near-duplicate groups of seeded size in ``cluster_sizes``.
      Members share identifiers (editions) or author-name variants (authors);
      no two clusters share either.
    - Chains: editions linked pairwise by a shared ISBN, of seeded length in
      ``chain_lengths``.

    The pages are shuffled with the seed, as a crawl lands them in no order.
    """
    rng = random.Random(f"kg:{seed}")
    tag = f"perfbench:{seed}"
    recs = []
    for line in base:
        rtype, _key, rev, date, js = line.split("\t", 4)
        recs.append((rtype, rev, date, json.loads(js)))
    editions = [r for r in recs if r[0] == "/type/edition"]
    authors = [r for r in recs if r[0] == "/type/author"]
    extra = []
    serial = 0
    for c in range(clusters):
        size = rng.randint(*cluster_sizes)
        if rng.random() < 0.5:
            rtype, rev, date, data = rng.choice(editions)
            isbn, lccn = pagesgen._mutate_isbn13(tag, serial), f"zz{serial:08d}"
            serial += 1
            for j in range(size):
                d = _member(data, f"_k{c}", j)
                d["isbn_13"] = [isbn]
                d["lccn"] = [lccn]
                extra.append(_line(rtype, d, rev, date))
        else:
            rtype, rev, date, data = rng.choice(authors)
            # spelling variants that normalize (casefold, drop
            # non-alphanumerics) to one string: every member shares its bands
            name = pagesgen._fake_name(tag, c)
            variants = [name, name.title(), name.upper(), name + "."]
            for j in range(size):
                d = _member(data, f"_k{c}", j)
                for f in pagesgen._NAME_FIELDS + ("alternate_names",):
                    d.pop(f, None)
                d["name"] = variants[j % 4]
                extra.append(_line(rtype, d, rev, date))
    for c in range(chains):
        length = rng.randint(*chain_lengths)
        rtype, rev, date, data = rng.choice(editions)
        links = [pagesgen._mutate_isbn13(tag, serial + k) for k in range(length - 1)]
        serial += length - 1
        for k in range(length):
            d = _member(data, f"_h{c}", k)
            d["isbn_13"] = links[max(k - 1, 0):k + 1]
            extra.append(_line(rtype, d, rev, date))
    rows = pagesgen.pages_rows(base, clones=mirror_copies,
                               skew_hot_author=HOT_AUTHOR,
                               skew_fraction=hot_fraction)
    rows += pagesgen.pages_rows(extra)
    rng.shuffle(rows)
    return rows


def write_pages(rows: list[tuple], out_dir: str) -> list[str]:
    """The pages table the pipeline reads, in PARTS files."""
    table = pa.table([list(col) for col in zip(*rows)], schema=PAGES_SCHEMA)
    return _write_parts(table, out_dir)


# --- corpus documents and embeddings -----------------------------------------

# embedding width
DIM = 64
BOILERPLATE = ("all rights reserved no part of this page may be copied "
               "without written permission of the publisher")


def corpus_tables(seed: int, *, docs: int, vectors: int, vocab: int,
                  dup_fraction: float, boilerplate_fraction: float
                  ) -> tuple[pa.Table, pa.Table]:
    """Documents and embeddings with planted near-duplicates.

    A seeded ``dup_fraction`` of documents (and of vectors) are edited copies
    of an earlier one; a seeded ``boilerplate_fraction`` of documents carry one
    shared boilerplate sentence, whose shingles are the high-frequency tokens
    that skew an inverted-index join.
    """
    rng = random.Random(f"corpus:{seed}")
    words = sorted({"".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                            for _ in range(rng.randint(3, 9)))
                    for _ in range(vocab)})
    weights = [1.0 / (r + 10) for r in range(len(words))]
    texts: list[str] = []
    for i in range(docs):
        if texts and rng.random() < dup_fraction:
            toks = rng.choice(texts).split(" ")
            for _ in range(max(1, len(toks) // 12)):
                toks[rng.randrange(len(toks))] = rng.choice(words)
        else:
            toks = rng.choices(words, weights, k=rng.randint(20, 80))
        text = " ".join(toks)
        if rng.random() < boilerplate_fraction:
            text = BOILERPLATE + " " + text
        texts.append(text)
    langs = ["en", "es", "de", "fr"]
    doc_tbl = pa.table([list(range(docs)), texts,
                        [langs[i % 4] for i in range(docs)],
                        [f"src{i % 7}" for i in range(docs)],
                        [len(t) for t in texts]], schema=DOCS_SCHEMA)
    vecs: list[list[float]] = []
    for i in range(vectors):
        if vecs and rng.random() < dup_fraction:
            v = [x + rng.gauss(0.0, 0.05) for x in rng.choice(vecs)]
        else:
            v = [rng.gauss(0.0, 0.15) for _ in range(DIM)]
        vecs.append(v)
    emb_tbl = pa.table([list(range(vectors)), vecs,
                        [i % 10 for i in range(vectors)]], schema=EMB_SCHEMA)
    return doc_tbl, emb_tbl


def write_corpus(doc_tbl: pa.Table, emb_tbl: pa.Table, out_dir: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = [os.path.join(out_dir, "documents.parquet"),
             os.path.join(out_dir, "embeddings.parquet")]
    pq.write_table(doc_tbl, paths[0])
    pq.write_table(emb_tbl, paths[1])
    return paths
