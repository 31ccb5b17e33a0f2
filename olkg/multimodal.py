"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct.  The
Spark-side plumbing — schema, Arrow batch shape, partitioning, UDF signature —
is real and tested; the actual media decode is STUBBED (the decode libraries
are not in this container): ``decode_stub`` raises ``NotImplementedError`` by
design, and ``extract_features`` computes deterministic byte-level features
(length, header hash) through the same ``mapInPandas`` path a real decoder
would use.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = ("doc_id long, byte_len long, header_hash string, "
                  "modality string")


def decode_stub(payload: bytes, modality: str):
    """Placeholder for a real media decoder (PIL/librosa/pyav).  Kept as an
    explicit NotImplementedError so the plumbing can't silently pretend to
    decode."""
    raise NotImplementedError(
        f"media decode for modality={modality!r} requires decoder libs "
        "not present in this environment")


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = pdf["doc_id"].tolist()
        payloads = pdf["payload"].tolist()
        modalities = pdf["modality"].tolist()
        rows = []
        for i, p, m in zip(ids, payloads, modalities):
            b = bytes(p) if p is not None else b""
            # header window: first 16 CHARACTERS when the payload is valid
            # UTF-8 text (char boundary keeps the fingerprint reproducible
            # in engines without blob slicing), else first 16 raw bytes
            try:
                head = b.decode("utf-8")[:16].encode("utf-8")
            except UnicodeDecodeError:
                head = b[:16]
            rows.append((i, len(b),
                         hashlib.md5(head).hexdigest()[:8], m))
        yield pd.DataFrame(rows, columns=["doc_id", "byte_len",
                                          "header_hash", "modality"])


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, payload, modality)
    rows — the exact pipeline shape a real decode/resize/frame-sample stage
    uses (binary in, fixed-width features out, no per-row Python round
    trips)."""
    src = df.select("doc_id", "payload", "modality")
    return src.mapInPandas(_feature_batches, schema=FEATURE_SCHEMA)


def documents_as_binary(documents: DataFrame) -> DataFrame:
    """Adapter for testing: treat document text bytes as an opaque payload
    with a synthetic modality tag."""
    return documents.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("modality"))
