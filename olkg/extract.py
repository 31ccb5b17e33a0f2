"""Extract stage: pages DataFrame → triple rows (+ join side rows).

This is the pipeline's single JVM↔Python boundary.  The per-record semantics
live in :mod:`olkg.triples` (pure Python, spec-tested); this module is only
its Arrow-batched vectorized wrapper via ``mapInPandas`` — batches stream in
as Arrow RecordBatches and rows stream out columnar, so Python is amortized
per batch, never per Spark row (the analog of the reference's 1001-record
queue, openlibrary_to_rdf.rb:35-45, minus its tail-drop bug).

Scale notes (100 TB posture):
- narrow stage: no shuffle; parallelism = input splits.  Optional
  ``repartition_by_url`` forces an xxhash64(url) redistribution when the
  input's own partitioning is skewed (north_rule's url-hash repartition).
- column pruning: only (url, html, text) are read — Catalyst prunes the rest
  from the parquet/Iceberg scan.
- the html→text inversion runs JVM-side (:func:`pages_to_lines`), so
  Python never sees html bytes; :func:`audit_pages` checks it against the
  text column in one native scan (the byte-identity invariant).
- the side sink (:func:`extract_triples_with_side_sink`, the only
  extraction — the pipeline, the query entry points and the streaming
  ingest all run it): the UDF yields the big triple stream straight into the
  downstream shuffle and writes the small side rows (author names, creation
  refs, LCSH probes, block ids — identifier keys and each author name's
  MinHash band keys; a few rows per page) to a parquet side sink
  from inside the task, so the expensive Python extraction runs EXACTLY
  ONCE per page and the large intermediate is never materialized.  On a
  cluster the sink path must be shared storage — the sink is written
  through ``pyarrow.fs`` resolved from the URI in-task (hdfs://,
  s3a://→s3://, file://; see olkg.fsio), and the driver cross-checks an
  executor-side row census against sink visibility, failing loudly on a
  non-shared sink.  Task retries can duplicate sink files; every consumer
  is duplicate-tolerant (names/refs/probes feed joins whose outputs pass
  one dropDuplicates; block ids feed blocking, which dedups).
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import vocab as V
from .canonicalize import BLOCK_PREDS, name_band_keys
from .schema import EXTRACT_SCHEMA, TRIPLES_SCHEMA
from .triples import extract_record, parse_dump_line

_COLS = ["kind", "subj", "pred", "obj", "obj_kind", "obj_datatype"]
_TRIPLE_COLS = ["subj", "pred", "obj", "obj_kind", "obj_datatype"]

# Triples whose predicate can ALSO be produced by the link stage's joins
# (J1 emits ol:author from the author↔creation rendezvous; editions with a
# role=="Author" contributor emit ol:author directly, lib/edition.rb:229-236;
# J2 emits dc:subject URIs, and classifications/dict-subjects emit dc:subject
# URIs directly).  In side-sink mode these are routed through the side sink
# so the directly-written edge set and the join-born edge set stay provably
# disjoint — global dedup then decomposes into two independent dedups.
_DC_SUBJECT = V.DC_SUBJECT
_OL_AUTHOR = V.OL_AUTHOR


def _is_collision_triple(pred: str, obj_kind: str) -> bool:
    return pred == _OL_AUTHOR or (pred == _DC_SUBJECT and obj_kind == "uri")


class _Cols:
    """Columnar accumulator: per-column Python lists → pd.DataFrame(dict),
    avoiding the row-oriented list-of-tuples transpose."""

    def __init__(self, names):
        self.names = names
        self.cols = [[] for _ in names]

    def append(self, *vals):
        for c, v in zip(self.cols, vals):
            c.append(v)

    def __len__(self):
        return len(self.cols[0])

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(dict(zip(self.names, self.cols)))


# --- JVM-native html→text inversion -----------------------------------------
# html_to_text (pagesgen.py) is substring+replace — expressible natively, so
# the pipeline never ships html bytes to Python and never pays Python string
# work for the inversion; Python receives ONLY the recovered dump line.

_H_PREFIX = "<html><body><pre>"
_H_SUFFIX = "</pre></body></html>"


def _native_recovered(html_col):
    """Decoded+unescaped dump line from the html envelope, NULL when the
    envelope doesn't conform (same contract as pagesgen.html_to_text).  An
    envelope that is not valid UTF-8 does not conform: it falls back to the
    text column and counts as an audit mismatch, instead of failing the
    whole job."""
    s = F.try_validate_utf8(html_col.cast("string"))
    conforms = s.startswith(_H_PREFIX) & s.endswith(_H_SUFFIX)
    body = s.substr(F.lit(len(_H_PREFIX) + 1),
                    F.length(s) - F.lit(len(_H_PREFIX) + len(_H_SUFFIX)))
    # same replace order as html_to_text: &gt; then &lt; then &amp;
    unesc = F.replace(F.replace(F.replace(body, F.lit("&gt;"), F.lit(">")),
                                F.lit("&lt;"), F.lit("<")),
                      F.lit("&amp;"), F.lit("&"))
    return F.when(html_col.isNotNull() & conforms, unesc)


def pages_to_lines(pages: DataFrame) -> DataFrame:
    """(line): the dump line per page — html inversion when possible, else
    the text column."""
    return pages.select(F.coalesce(_native_recovered(F.col("html")),
                                   F.col("text")).alias("line"))


def audit_pages(pages: DataFrame):
    """Byte-identity audit, fully native: (pages, mismatches) row.  A page
    passes iff the html→text inversion reproduces the text column exactly
    (north_rule's per-url invariant).  One column-pruned scan, no Python."""
    recovered = _native_recovered(F.col("html"))
    ok = recovered.eqNullSafe(F.col("text"))
    return pages.agg(
        F.count(F.lit(1)).alias("pages"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("mismatches")).first()


def _make_sink_batches(side_sink: str, side_count_acc=None):
    """Single-pass batch iterator over (line) rows: yields 5-column triple
    rows; side rows (incl. collision-class triples) accumulate across the
    task's batches and are written once per task to ``side_sink``.  Each
    (author key, name) also gets its name's band keys
    (:func:`olkg.canonicalize.name_band_keys`) as ``block_id`` rows, once
    per task, computed once per distinct name in the task.  The
    html→text inversion and the page audit happen JVM-side
    (:func:`pages_to_lines` / :func:`audit_pages`) — Python never touches
    html bytes.

    The sink path may be a URI (``hdfs://``, ``s3a://``, ``file://``) or a
    plain path: it is resolved IN-TASK via :func:`olkg.fsio.pa_fs`
    (pyarrow), so executors write straight to shared storage — the cluster
    precondition for the side sink.  ``side_count_acc`` (a Spark
    accumulator) censuses written side rows so the driver can detect a sink
    the executors wrote but it cannot see (see :func:`read_side_rows`)."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from .fsio import pa_fs, pjoin

        side = _Cols(_COLS)
        # (author key, name) pairs whose band keys this task has written,
        # and each name's keys
        banded: set = set()
        bands: dict = {}
        for pdf in batches:
            out = _Cols(_TRIPLE_COLS)
            for line in pdf["line"].tolist():
                rec = parse_dump_line(line) if line is not None else None
                if rec is None:
                    continue
                res = extract_record(rec[0], rec[4])
                if res is None:
                    continue
                for t in res.triples:
                    if _is_collision_triple(t.pred, t.obj_kind):
                        side.append("triple", t.subj, t.pred, t.obj,
                                    t.obj_kind, t.obj_datatype)
                    else:
                        # identifier predicates double as blocking keys;
                        # the sink carries a copy so the canonicalize stage
                        # never re-scans the edge table for them
                        # (duplicates are harmless — blocking dedups)
                        if t.pred in BLOCK_PREDS:
                            side.append("block_id", t.subj, None,
                                        BLOCK_PREDS[t.pred] + ":" + t.obj,
                                        None, None)
                        out.append(t.subj, t.pred, t.obj, t.obj_kind,
                                   t.obj_datatype)
                for key, name in res.author_names:
                    side.append("author_name", key, None, name, None, None)
                    if (key, name) in banded:
                        continue
                    banded.add((key, name))
                    if name not in bands:
                        bands[name] = name_band_keys(name)
                    for bk in bands[name]:
                        side.append("block_id", V.URI_PREFIX + key, None, bk,
                                    None, None)
                for creation, key in res.creation_refs:
                    side.append("creation_ref", creation, None, key, None,
                                None)
                for uri, label in res.probes:
                    side.append("probe", uri, None, label, None, None)
            yield out.frame()

        if len(side):
            tbl = pa.table(
                {n: pa.array(c, type=pa.string())
                 for n, c in zip(side.names, side.cols)})
            fs, sink_path = pa_fs(side_sink)
            fs.create_dir(sink_path, recursive=True)
            pq.write_table(
                tbl, pjoin(sink_path, f"part-{uuid.uuid4().hex}.parquet"),
                filesystem=fs, compression="zstd")
            if side_count_acc is not None:
                side_count_acc.add(len(side))

    return _batches


def extract_triples_with_side_sink(pages: DataFrame, side_sink: str,
                                   repartition_by_url: int | None = None,
                                   side_count_acc=None) -> DataFrame:
    """Single-pass extraction: returns the (non-collision) triple stream;
    side rows land in ``side_sink`` when the returned stream is executed.
    The caller MUST run an action on the stream before reading the sink.
    The page audit is NOT part of this stream — use :func:`audit_pages`.
    Pass a Spark accumulator as ``side_count_acc`` to census side rows
    written (feeds the empty-sink guard in :func:`read_side_rows`).  The
    sink path is qualified on the driver first (:func:`olkg.fsio.qualify`),
    so the tasks write where Spark and :func:`read_side_rows` resolve it."""
    from . import fsio

    side_sink = fsio.qualify(pages.sparkSession, side_sink)
    src = pages
    if repartition_by_url:
        src = src.repartition(repartition_by_url, F.xxhash64("url"))
    return pages_to_lines(src).mapInPandas(
        _make_sink_batches(side_sink, side_count_acc),
        schema=TRIPLES_SCHEMA)


def read_side_rows(spark, side_sink: str,
                   expected_rows: int | None = None) -> DataFrame:
    """Read the side sink written by :func:`extract_triples_with_side_sink`
    (EXTRACT_SCHEMA-shaped; empty DataFrame if the sink has no files).

    The sink is listed, and its rows counted from the part files' parquet
    footers, through :func:`olkg.fsio.parquet_parts`: the pyarrow URI
    resolution the executors wrote it with, metadata only, no Spark job.
    When ``expected_rows`` (the side-row accumulator's value) is positive,
    this raises unless the visible sink holds AT LEAST that many rows — a
    sink that is missing entirely OR undercounts is the signature of
    executors writing to storage the driver cannot fully see (e.g.
    executor-local disks on a multi-node cluster with a local-path sink,
    where the driver-colocated executor's files ARE visible and an
    existence check alone passes), which would otherwise silently drop
    join-born edges, block_ids and the canonical map.  ``visible >=
    expected`` is the sound direction: the accumulator counts each
    successful task exactly once, and task retries can only ADD files to
    the sink, never remove them."""
    from . import fsio

    _, parts = fsio.parquet_parts(spark, side_sink)
    if not parts:
        if expected_rows:
            raise RuntimeError(
                f"side sink {side_sink!r} is empty but executors reported "
                f"writing {expected_rows} side rows — the sink is not on "
                "storage shared between executors and driver. Point "
                "--out/side_sink at shared storage (HDFS/S3/NFS) for "
                "multi-node runs.")
        return spark.createDataFrame([], EXTRACT_SCHEMA)
    if expected_rows:
        visible = sum(p.rows for p in parts)
        if visible < expected_rows:
            raise RuntimeError(
                f"side sink {side_sink!r} holds {visible} rows but "
                f"executors reported writing {expected_rows} — part of the "
                "sink is on storage the driver cannot see (e.g. an "
                "executor-local path on a multi-node cluster). Point "
                "--out/side_sink at shared storage (HDFS/S3/NFS).")
    return spark.read.schema(EXTRACT_SCHEMA).parquet(side_sink)
