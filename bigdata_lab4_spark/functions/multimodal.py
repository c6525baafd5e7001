"""Multimodal asset columns (SURVEY §2 L5).

Design: image/audio/video payloads ride through the engine as opaque
``binary`` columns with a typed metadata struct alongside
(``mime``, ``n_bytes``, ``source``) — the pattern a 100 TB
training-data pipeline uses so that *metadata-only* queries (filter
by mime, size histograms, dedup by digest) never deserialize a
payload, and parquet column pruning skips the heavy column entirely.

The real decoders (image/audio codec libraries) are NOT in this
container, so the decode step is STUBBED: :func:`decode_payload`
raises ``NotImplementedError`` for any mime type but ``text/plain``,
whose "decode" is the deterministic identity. Everything Spark-side
— asset schema, ``mapInPandas`` batch iteration, Arrow transfer,
map-only (shuffle-free) execution — is real and oracle-tested
(tests/test_multimodal.py, queries ``l05``/``l05b``).

Scale notes (100 TB):

* feature extraction is ``mapInPandas`` — a narrow, map-only
  transform: no shuffle, scales linearly with input splits;
* payload bytes cross to Python once per batch via Arrow;
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (default 10k)
  bounds batch memory — lower it for multi-MB payloads;
* ``spark.sql.files.maxPartitionBytes`` sizes the input splits so a
  partition of binary blobs fits executor memory.

The reference has no multimodal surface at all; this implements the
SURVEY §2 L5 row from the LLM-pipeline mandate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Fake "frame" granularity for the deterministic feature stub: one
#: chunk per 256 payload bytes (stands in for frames/tiles a real
#: decoder would emit).
CHUNK_BYTES = 256

#: Output schema of :func:`extract_features` — fixed and explicit,
#: as mapInPandas requires.
ASSET_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("mime", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("n_chunks", LongType(), True),
        StructField("digest", StringType(), True),
    ]
)


def with_asset_columns(docs: DataFrame) -> DataFrame:
    """``documents`` → asset table ``(doc_id, payload: binary,
    meta: struct<mime, n_bytes, source>)``.

    The testdata has no true binary media, so the payload is the
    UTF-8 encoding of ``text`` — byte-exact and reproducible in the
    DuckDB oracle via ``encode(text)``. A real ingest would read the
    bytes from object storage instead; every downstream op is
    payload-agnostic.
    """
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length("text").cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def _make_decoder():
    """Build the stub decoder. A nested def, like
    ``functions/minhash.py::_make_kernel``: cloudpickle cannot resolve it
    as a module attribute, so a worker closure that captures it ships it
    by value."""

    def decode(payload: bytes, mime: str) -> bytes:
        """STUB decoder. Real image/audio/video decoding needs codec
        libraries the package does not depend on; the ``text/plain``
        branch is the deterministic identity so the surrounding plumbing
        stays fully testable."""
        if mime != "text/plain":
            raise NotImplementedError(
                f"no decoder for mime {mime!r}: image/audio/video codecs "
                "are stubbed (SURVEY §2 L5)"
            )
        return payload

    return decode


#: The public decoder; both worker closures ship this same function.
decode_payload = _make_decoder()


def extract_features(assets: DataFrame) -> DataFrame:
    """Batch feature extraction over asset payloads via
    ``mapInPandas`` (Arrow-batched, map-only — no shuffle).

    Features are the deterministic stand-ins a real decoder would
    produce (dimensions, frame count, perceptual hash): byte length,
    chunk count at :data:`CHUNK_BYTES` granularity, and an md5
    digest — each reproducible in SQL, so the whole Python path is
    hash-checked against DuckDB (query ``l05b``).
    """
    flat = assets.select(
        "doc_id", "payload", F.col("meta.mime").alias("mime")
    )

    # The worker closure is deliberately SELF-CONTAINED: it captures
    # only an int and the nested decoder and does its own imports, so
    # cloudpickle ships it fully by value. A module-level function
    # would pickle as a `(bigdata_lab4_spark…, name)` lookup and crash
    # any executor that doesn't have the package on its PYTHONPATH —
    # the `__spark_entry__` contract gives no --py-files hook, and on a
    # real cluster the same failure appears whenever the package is
    # installed only where the session starts.
    chunk_bytes, decode = CHUNK_BYTES, decode_payload

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        for pdf in batches:
            decoded = [decode(bytes(p), m) for p, m in zip(pdf["payload"], pdf["mime"])]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "n_bytes": [len(b) for b in decoded],
                    "n_chunks": [
                        (len(b) + chunk_bytes - 1) // chunk_bytes for b in decoded
                    ],
                    "digest": [_hashlib.md5(b).hexdigest() for b in decoded],
                }
            )

    return flat.mapInPandas(decode_batches, schema=ASSET_FEATURES_SCHEMA)


#: Output schema of :func:`sample_frames`.
FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("frame_idx", LongType(), True),
        StructField("frame_offset", LongType(), True),
        StructField("frame_len", LongType(), True),
    ]
)

#: Frame-sampling granularity/stride: 64-byte "frames", keep every
#: 2nd one (a real video pipeline would sample every Nth decoded
#: frame the same way).
FRAME_BYTES = 64
FRAME_STEP = 2


def sample_frames(assets: DataFrame) -> DataFrame:
    """Frame sampling: 1→N row expansion per asset via
    ``mapInPandas`` — the shape a video pipeline uses to turn each
    clip into its sampled frames (here: every :data:`FRAME_STEP`-th
    :data:`FRAME_BYTES`-byte slice, since real codecs are stubbed).

    Spark-side this is the third mapInPandas contract after decode
    and feature-extract: an EXPANDING map (output rows ≥ input rows)
    that stays map-only — no shuffle, no Python aggregation state;
    downstream per-frame work (dedup, embedding) partitions on
    (doc_id, frame_idx). Deterministic offsets/lengths, so the whole
    expansion is hash-checked against DuckDB (query ``l05c``).
    """
    flat = assets.select(
        "doc_id", F.col("meta.mime").alias("mime"), F.col("meta.n_bytes").alias("n_bytes")
    )
    frame_bytes, frame_step, decode = FRAME_BYTES, FRAME_STEP, decode_payload

    def expand_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_offset": [], "frame_len": []}
            for d, m, n in zip(pdf["doc_id"], pdf["mime"], pdf["n_bytes"]):
                decode(b"", m)  # only the mime check: frames need just n_bytes
                n_frames = (int(n) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, frame_step):
                    out["doc_id"].append(d)
                    out["frame_idx"].append(i)
                    out["frame_offset"].append(i * frame_bytes)
                    out["frame_len"].append(min(frame_bytes, int(n) - i * frame_bytes))
            yield _pd.DataFrame(out)

    return flat.mapInPandas(expand_batches, schema=FRAME_SAMPLE_SCHEMA)
