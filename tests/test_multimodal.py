"""Multimodal plumbing: schemas, batch shapes, binary-column pruning, and
perceptual-hash pairing."""

from re_data_pipeline_spark.operators.multimodal import (
    decode_features,
    synthetic_media,
)


def test_decode_features_schema_and_determinism(spark):
    media = synthetic_media(spark, 12)
    out = decode_features(media)
    assert "feature" in out.columns and "content" not in out.columns
    a = {r.media_id: r.feature for r in out.collect()}
    b = {r.media_id: r.feature for r in decode_features(synthetic_media(spark, 12)).collect()}
    assert a == b
    assert all(len(v) == 16 for v in a.values())


def test_decoded_shapes_by_kind(spark):
    out = decode_features(synthetic_media(spark, 9)).collect()
    shapes = {r.kind: tuple(r.decoded_shape) for r in out}
    assert shapes["image"] == (8, 8, 3)
    assert shapes["audio"] == (1600,)
    assert shapes["video"] == (4, 8, 8, 3)


def test_metadata_scan_prunes_binary(spark, tmp_path):
    """Reading only meta columns must not read the binary column
    (ReadSchema pruning — the point of binary+metadata layout)."""
    media = synthetic_media(spark, 6)
    p = str(tmp_path / "media.parquet")
    media.write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p).select("media_id", "kind", "meta.width")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan
    assert scan.count() == 6


def test_media_phash_pairs_finds_byte_copies(spark):
    """Every image's byte-identical copy must pair at Hamming 0 through
    the full decode → aHash → banding → verify path; non-image rows are
    excluded; the words encoding round-trips the 64-bit hash."""
    from re_data_pipeline_spark.operators.multimodal import (
        _ahash64,
        _fake_decode,
        media_ahash_words,
        media_phash_pairs,
        synthetic_media,
    )
    from pyspark.sql import functions as F

    media = synthetic_media(spark, 12)
    copies = media.where(F.col("kind") == "image").withColumn(
        "media_id", F.col("media_id") + F.lit(100)
    )
    both = media.unionByName(copies)
    got = {(r.id_a, r.id_b): r.hamming for r in media_phash_pairs(both, radius=2).collect()}
    image_ids = [r.media_id for r in media.where(F.col("kind") == "image").collect()]
    for i in image_ids:
        assert got.get((i, i + 100)) == 0, i
    # words encoding: low 60 bits + high bits reassemble the Python hash
    words = {r.media_id: list(r.phash_words)
             for r in media_ahash_words(media.where(F.col("kind") == "image")).collect()}
    import hashlib

    for i in image_ids:
        content = hashlib.md5(f"media-{i}".encode()).digest() * 4
        v = _ahash64(_fake_decode(content, "image"))
        assert words[i][0] | (words[i][1] << 60) == v
