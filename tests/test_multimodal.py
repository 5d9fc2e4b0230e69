"""Multimodal binary-column plumbing: the binaryFile source over real
files on disk + the Arrow-batched decode pipeline (stubbed decoder,
real schema/batching — see operators/multimodal.py)."""

import os

import pyspark.sql.functions as F

from glaciersgee_spark.operators.multimodal import (
    _decode_stub,
    decode_features,
    q_e_mm_decode,
)
from glaciersgee_spark.sources.readers import read_binary_dir
from tests.conftest import SF_SMOKE

PAYLOADS = {
    "a.bin": b"\x89PNG\r\n\x1a\nfakeimagebytes",
    "b.bin": b"RIFF....WAVEfakeaudio",
    "c.bin": b"",
}


def _fixture_dir(tmp_path):
    for name, data in PAYLOADS.items():
        (tmp_path / name).write_bytes(data)
    return str(tmp_path)


def test_binaryfile_source_roundtrip(spark, tmp_path):
    d = _fixture_dir(tmp_path)
    df = read_binary_dir(spark, d)
    assert set(df.columns) == {"path", "modificationTime", "length", "content"}
    rows = {os.path.basename(r.path): bytes(r.content) for r in df.collect()}
    # NOTE: the binaryFile source silently skips zero-byte files — a
    # real ingestion pipeline must reconcile against a manifest
    # (q_a_ingest_log shape) to notice them missing.
    assert rows == {k: v for k, v in PAYLOADS.items() if v}
    lens = {
        os.path.basename(r.path): r.length
        for r in df.select("path", "length").collect()
    }
    assert lens == {k: len(v) for k, v in PAYLOADS.items() if v}


def test_binaryfile_magic_byte_sniffing(spark, tmp_path):
    d = _fixture_dir(tmp_path)
    df = (
        spark.read.format("binaryFile")
        .load(d)
        .select(
            "path",
            F.lower(F.substring(F.hex("content"), 1, 8)).alias("magic"),
        )
    )
    magics = {os.path.basename(r.path): r.magic for r in df.collect()}
    assert magics["a.bin"] == "89504e47"  # PNG signature
    assert magics["b.bin"] == "52494646"  # RIFF
    assert "c.bin" not in magics  # zero-byte files skipped by the source


def test_decode_stub_deterministic():
    import hashlib

    assert _decode_stub(b"abc") == _decode_stub(b"abc")
    # empty payload: every quarter slice is b"", md5(b"") everywhere
    empty_f = float(int(hashlib.md5(b"").hexdigest()[:15], 16) % 1_000_000)
    assert _decode_stub(b"") == (hashlib.md5(b"").hexdigest(), [empty_f] * 4)
    # 8-byte payload: quarters are 2 bytes each, head slice is whole
    head, feats = _decode_stub(b"abcdefgh")
    assert head == hashlib.md5(b"abcdefgh").hexdigest()
    assert feats == [
        float(int(hashlib.md5(s).hexdigest()[:15], 16) % 1_000_000)
        for s in (b"ab", b"cd", b"ef", b"gh")
    ]


def test_decode_pipeline_schema_and_values(spark):
    out = q_e_mm_decode(spark, SF_SMOKE)
    assert out.schema.simpleString() == (
        "struct<doc_id:bigint,n_bytes:bigint,head_md5:string,"
        "f0:double,f1:double,f2:double,f3:double>"
    )
    rows = out.collect()
    assert len(rows) > 0
    for r in rows[:10]:
        assert r.n_bytes > 0
        assert len(r.head_md5) == 32
        for f in (r.f0, r.f1, r.f2, r.f3):
            assert 0.0 <= f < 1_000_000.0


def test_decode_pipeline_partitioning_invariant(spark):
    """mapInPandas output must not depend on the batch/partition layout."""
    a = {
        r.doc_id: (r.head_md5, r.f0, r.f1, r.f2, r.f3)
        for r in q_e_mm_decode(spark, SF_SMOKE).collect()
    }
    from glaciersgee_spark.operators.multimodal import _FEATURE_SCHEMA
    from glaciersgee_spark.tables import load_table

    d = (
        load_table(spark, SF_SMOKE, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.col("text").cast("binary").alias("content"))
        .repartition(13)
    )
    b = {
        r.doc_id: (r.head_md5, r.f0, r.f1, r.f2, r.f3)
        for r in d.mapInPandas(decode_features, _FEATURE_SCHEMA).collect()
    }
    assert a == b
