"""L5 multimodal plumbing tests (the oracle-parity suite already
hash-checks l05/l05b against DuckDB; these cover the pieces the
oracle can't see: the stub contract, the asset schema, and the
mapInPandas error path for undecodable mimes)."""

from __future__ import annotations

import pytest

from bigdata_lab4_spark.functions.multimodal import (
    ASSET_FEATURES_SCHEMA,
    CHUNK_BYTES,
    decode_payload,
    extract_features,
    sample_frames,
    with_asset_columns,
)
from tests.conftest import SF_DIR


def test_decode_stub_contract():
    # text/plain is the deterministic identity ...
    assert decode_payload(b"abc", "text/plain") == b"abc"
    # ... every real media type is explicitly stubbed
    for mime in ("image/png", "audio/wav", "video/mp4"):
        with pytest.raises(NotImplementedError):
            decode_payload(b"\x89PNG", mime)


def test_asset_schema_is_binary_plus_typed_struct(spark):
    from bigdata_lab4_spark.catalog import load_table

    assets = with_asset_columns(load_table(spark, SF_DIR, "documents"))
    fields = {f.name: f.dataType.simpleString() for f in assets.schema.fields}
    assert fields["payload"] == "binary"
    assert fields["meta"] == "struct<mime:string,n_bytes:bigint,source:string>"


def test_extract_features_schema_and_chunking(spark):
    docs = spark.createDataFrame(
        [
            (1, "x" * (CHUNK_BYTES + 1), "unit"),   # 2 chunks
            (2, "y", "unit"),                        # 1 chunk
            (3, "", "unit"),                         # empty → 0 chunks
        ],
        ["doc_id", "text", "source"],
    )
    out = extract_features(with_asset_columns(docs))
    assert out.schema == ASSET_FEATURES_SCHEMA
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_chunks"] == 2 and rows[1]["n_bytes"] == CHUNK_BYTES + 1
    assert rows[2]["n_chunks"] == 1
    assert rows[3]["n_chunks"] == 0 and rows[3]["n_bytes"] == 0
    # md5 of the empty payload — the canonical constant
    assert rows[3]["digest"] == "d41d8cd98f00b204e9800998ecf8427e"


def test_undecodable_mime_fails_loudly(spark):
    """A payload with a stubbed mime must error at execution, not
    silently pass through, in both mapInPandas workers — guards
    against the stub being widened without a real decoder."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(1, "abc", "unit")], ["doc_id", "text", "source"])
    assets = with_asset_columns(docs).withColumn(
        "meta",
        F.struct(
            F.lit("image/png").alias("mime"),
            F.col("meta.n_bytes").alias("n_bytes"),
            F.col("meta.source").alias("source"),
        ),
    )
    for worker in (extract_features, sample_frames):
        with pytest.raises(Exception, match="no decoder for mime"):
            worker(assets).collect()


def test_sample_frames_expansion_and_map_only_plan(spark):
    """sample_frames is a 1→N expanding map: known payload sizes give
    exact frame counts/offsets, and the plan stays shuffle-free."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a" * 200, source="s"),   # 4 frames → idx 0, 2
            Row(doc_id=2, text="b" * 64, source="s"),    # 1 frame  → idx 0
            Row(doc_id=3, text="c" * 129, source="s"),   # 3 frames → idx 0, 2
        ]
    )
    out = sample_frames(with_asset_columns(docs))
    rows = {(r.doc_id, r.frame_idx): (r.frame_offset, r.frame_len) for r in out.collect()}
    assert rows == {
        (1, 0): (0, 64), (1, 2): (128, 64),
        (2, 0): (0, 64),
        (3, 0): (0, 64), (3, 2): (128, 1),
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Exchange" not in plan
