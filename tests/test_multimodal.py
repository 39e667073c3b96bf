"""Multimodal plumbing: mapInPandas decode over binary columns, schema
stability, frame-sample explode, and the stub's clear failure mode."""

from __future__ import annotations

import pytest

from bigdata_storage_and_proccess_job_data_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, "image", M.encode_fake_media(640, 480, 1), "s3://bucket/a.img"),
        (2, "video", M.encode_fake_media(1920, 1080, 120), "s3://bucket/b.vid"),
        (3, "audio", M.encode_fake_media(0, 0, 4410), "s3://bucket/c.aud"),
    ]
    return spark.createDataFrame(rows, M.MEDIA_SCHEMA).repartition(2)


def test_decode_media(media_df):
    out = {r.media_id: r.asDict() for r in M.decode_media(media_df).collect()}
    assert out[1]["width"] == 640 and out[1]["height"] == 480
    assert out[2]["n_frames"] == 120 and out[2]["kind"] == "video"
    assert out[3]["n_frames"] == 4410
    assert all(r["format"] == "fake" for r in out.values())
    assert all(r["byte_len"] == 26 for r in out.values())


def test_decode_schema_stable(media_df):
    df = M.decode_media(media_df)
    assert df.schema == M.DECODED_SCHEMA


def test_frame_sampling(media_df):
    frames = M.frame_sample_plan(M.decode_media(media_df), every_n=50).collect()
    vid = sorted(r.frame_index for r in frames if r.media_id == 2)
    assert vid == [0, 50, 100]
    img = [r.frame_index for r in frames if r.media_id == 1]
    assert img == [0]


def test_unknown_format_raises_not_implemented(spark):
    bad = spark.createDataFrame(
        [(9, "image", b"REALJPEGBYTES", "s3://x")], M.MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="NotImplementedError|real media"):
        M.decode_media(bad).collect()


def test_extract_features_deterministic_and_knn_compatible(spark, media_df):
    feats = M.extract_features(media_df, dim=8)
    rows = {r.media_id: r.embedding for r in feats.collect()}
    again = {r.media_id: r.embedding for r in M.extract_features(media_df, dim=8).collect()}
    assert rows == again, "feature stub must be deterministic"
    assert all(len(v) == 8 for v in rows.values())
    assert all(-1.0 <= x < 1.0 for v in rows.values() for x in v)
    # identical payload dims differ per item -> embeddings differ
    assert rows[1] != rows[2]

    # plugs straight into the similarity operators
    from bigdata_storage_and_proccess_job_data_spark.operators import similarity

    renamed = feats.withColumnRenamed("media_id", "vec_id")
    topk = similarity.brute_force_topk(renamed, renamed, k=1)
    assert topk.count() == 3  # one neighbor each, no self-match


def test_resize_then_decode_roundtrip(spark, media_df):
    resized = M.resize_media(media_df, 320, 240)
    assert resized.schema == M.MEDIA_SCHEMA
    out = {r.media_id: r.asDict() for r in M.decode_media(resized).collect()}
    assert all(r["width"] == 320 and r["height"] == 240 for r in out.values())
    # frame counts survive the resize untouched
    assert out[2]["n_frames"] == 120


def test_media_features_knn_query_recall(spark, sf_dir):
    """The media->IVF pipeline (the blake2b + IVF tail is not
    SQL-expressible, so it has no registry entry and this test is its
    coverage): IVF ANN over fake-codec features must rank sanely and reach decent
    recall vs exact brute force over the same feature frame."""
    from bigdata_storage_and_proccess_job_data_spark.operators import (
        multimodal,
        similarity,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        _media_knn_lazy,
    )

    rows = _media_knn_lazy(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert 1 <= r.rank <= 3 and r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 10 and all(len(v) == 3 for v in by_q.values())

    # recall vs exact brute force on the same deterministic features
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    header = multimodal.encode_fake_media(32, 16, n_frames=1)[:10]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(F.lit(header), F.encode(F.col("text"), "utf-8")).alias("content"),
    )
    feats = multimodal.extract_features(media, dim=16)
    exact = similarity.brute_force_topk(
        feats.filter(F.col("media_id") < 10), feats,
        id_col="media_id", vec_col="embedding", k=3,
    ).collect()
    got = {(r.query_id, r.neighbor_id) for r in rows}
    want = {(r.query_id, r.neighbor_id) for r in exact}
    recall = len(got & want) / len(want)
    assert recall >= 0.5, f"media ANN recall {recall:.2f}"


def test_media_near_dups_exact_recall_and_locality(spark):
    """Perceptual media dedup: (1) fake_phash has genuine byte-space
    Hamming locality (k byte edits flip <= k bits); (2) at
    max_hamming <= bands-1 the banded join reproduces the brute-force
    pair set EXACTLY (pigeonhole recall guarantee); (3) at a larger
    radius candidates stay a subset of brute force with correct
    distances; (4) bands validation; (5) payloads never shuffle --
    the banded frame carries only (id, sig, band, chunk)."""
    import itertools

    base = bytearray(M.encode_fake_media(640, 480, 1) + b"\x00" * 640)
    payloads = {10: bytes(base)}
    for i, flips in [(11, [100]), (12, [100, 300]), (13, [50, 200, 400])]:
        b = bytearray(base)
        for pos in flips:
            b[pos] ^= 0xFF
        payloads[i] = bytes(b)
    # a far-away payload: different everywhere
    payloads[99] = bytes(bytearray((i * 37) % 251 for i in range(650)))
    rows = [(i, "image", p, f"s3://x/{i}") for i, p in payloads.items()]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary, uri string"
    )

    hashes = {i: M.fake_phash(p) for i, p in payloads.items()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(hashes[10], hashes[11]) <= 1
    assert ham(hashes[10], hashes[12]) <= 2
    assert ham(hashes[10], hashes[13]) <= 3
    assert ham(hashes[10], hashes[99]) > 8

    def brute(radius):
        return sorted(
            (a, b, ham(hashes[a], hashes[b]))
            for a, b in itertools.combinations(sorted(payloads), 2)
            if ham(hashes[a], hashes[b]) <= radius
        )

    got3 = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in M.media_near_dups(df, max_hamming=3, bands=4).collect()
    )
    assert got3 == brute(3)  # exact recall inside the pigeonhole bound

    got6 = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in M.media_near_dups(df, max_hamming=6, bands=4).collect()
    )
    assert set(got6) <= set(brute(6))
    assert got3 and set(got3) <= set(got6)

    # NULL content follows the NULL-propagation convention (review:
    # fake_phash on None raised TypeError mid-job): media_phash emits
    # NULL phash, media_near_dups excludes the row, answers unchanged
    with_null = df.unionByName(
        spark.createDataFrame(
            [(55, "image", None, "s3://x/55")],
            "media_id long, kind string, content binary, uri string",
        )
    )
    ph = {r.media_id: r.phash for r in M.media_phash(with_null).collect()}
    assert ph[55] is None and ph[10] == hashes[10]
    got3n = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in M.media_near_dups(with_null, max_hamming=3, bands=4)
        .collect()
    )
    assert got3n == got3

    import pytest

    from bigdata_storage_and_proccess_job_data_spark.operators import neardup

    with pytest.raises(ValueError, match="divide"):
        neardup.hamming_candidates(
            M.media_phash(df), "media_id", "phash", bands=5
        )
    with pytest.raises(ValueError, match="max_hamming"):
        neardup.hamming_candidates(
            M.media_phash(df), "media_id", "phash", max_hamming=-1
        )
