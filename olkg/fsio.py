"""Filesystem abstraction for driver- and executor-side storage I/O.

Two complementary layers, each reaching shared storage (HDFS / S3 / GCS)
the way its side of the cluster naturally can:

- **Driver side** — :func:`exists` / :func:`mkdirs` / :func:`delete` /
  :func:`touch` / :func:`qualify` go
  through Spark's Hadoop ``FileSystem`` (resolved from the path's scheme +
  the session's Hadoop conf), so whatever storage Spark itself can
  read/write — ``file://``, ``hdfs://``, ``s3a://`` with the cluster's
  connector jars and credentials — these helpers can too.  Plain paths resolve to the local FS, unchanged
  behavior for the sandbox.

- **Executor side** — :func:`pa_fs` resolves a ``pyarrow.fs.FileSystem``
  from a URI *inside a task* (no JVM access there), used by the pipeline's
  side sink (:mod:`olkg.extract`).  ``s3a://`` is translated to pyarrow's
  ``s3://`` scheme; credentials come from the task environment the way any
  pyarrow S3 access does.  The driver lists parquet tables with their
  footers (:func:`parquet_parts`) and writes the lineage table through the
  same resolution, on paths it has qualified through the Hadoop layer
  first, so that bookkeeping is metadata I/O, runs no Spark job, and reads
  where Spark wrote.  The footers give only row counts, file sizes and
  column names; schemas come from :mod:`olkg.schema`.

Path joining uses POSIX separators (URIs always do); :func:`pjoin` is
``posixpath.join``, safe for both plain paths and URIs on every deployment
this engine targets.
"""

from __future__ import annotations

import posixpath
from typing import NamedTuple

pjoin = posixpath.join


# --------------------------------------------------------------------------
# Driver side: Hadoop FileSystem via the active session's JVM
# --------------------------------------------------------------------------

def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def exists(spark, path: str) -> bool:
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def mkdirs(spark, path: str) -> None:
    fs, p = _hadoop_fs(spark, path)
    fs.mkdirs(p)


def delete(spark, path: str, recursive: bool = True) -> None:
    """Delete if present (no error when absent)."""
    fs, p = _hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, recursive)


def qualify(spark, path: str) -> str:
    """The fully qualified URI Spark's Hadoop FileSystem resolves ``path``
    to: a relative path against the default FS's working directory (the
    JVM's, or ``/user/<name>`` on HDFS), not the Python process's."""
    fs, p = _hadoop_fs(spark, path)
    return fs.makeQualified(p).toString()


def touch(spark, path: str) -> None:
    """Create an empty file (overwrite allowed) — _SUCCESS-style markers."""
    fs, p = _hadoop_fs(spark, path)
    fs.create(p, True).close()


# --------------------------------------------------------------------------
# Executor side: pyarrow FileSystem from a URI (no JVM available in a task)
# --------------------------------------------------------------------------

def translate_pa_uri(uri_or_path: str) -> str:
    """Hadoop URI spelling → pyarrow spelling (``s3a://`` → ``s3://``);
    everything else passes through (plain paths resolve to the local FS)."""
    if uri_or_path.startswith("s3a://"):
        return "s3://" + uri_or_path[len("s3a://"):]
    return uri_or_path


def pa_fs(uri_or_path: str):
    """(pyarrow.fs.FileSystem, path) for a URI or absolute path (pyarrow
    rejects a relative one; the driver qualifies paths first)."""
    from pyarrow import fs as pafs

    return pafs.FileSystem.from_uri(translate_pa_uri(uri_or_path))


class Part(NamedTuple):
    """One data file of a parquet table, as :func:`parquet_parts` lists it."""
    path: str
    rel: str      # relative to the table path
    size: int     # bytes
    rows: int
    footer: object  # its pyarrow.parquet.FileMetaData


def parquet_parts(spark, uri_or_path: str):
    """(fs, parts) for the data files under a parquet table path: the
    pyarrow filesystem and one :class:`Part` per file, sorted by relative
    path, with the file's footer.  The path is first qualified the way
    Spark resolves it (:func:`qualify`).  Like Spark's reader it recurses
    into partition directories and skips names starting with ``_`` or
    ``.`` (markers, checksums, staging dirs); a missing path has no
    parts."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    fs, root = pa_fs(qualify(spark, uri_or_path))
    top = fs.get_file_info(root)
    if top.type == pafs.FileType.File:
        infos, base = [top], posixpath.dirname(root)
    else:
        infos = fs.get_file_info(pafs.FileSelector(root, recursive=True,
                                                   allow_not_found=True))
        base = root
    parts = []
    for info in infos:
        rel = posixpath.relpath(info.path, base)
        if (info.type == pafs.FileType.File
                and not any(c[:1] in ("_", ".") for c in rel.split("/"))):
            footer = pq.read_metadata(info.path, filesystem=fs)
            parts.append(Part(info.path, rel, info.size, footer.num_rows,
                              footer))
    return fs, sorted(parts, key=lambda p: p.rel)

