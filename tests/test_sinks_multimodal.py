"""Sinks (quoted CSV, embedding index), versioned snapshots and the
multimodal codecs."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from usda_food_data_pipeline_spark.operators.multimodal import decode_image
from usda_food_data_pipeline_spark.sources.sinks import build_embedding_index, write_quoted_csv
from usda_food_data_pipeline_spark.sources.tables import load_table


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="sink_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_quoted_csv_roundtrip(spark, sf_dir, tmpdir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    out = os.path.join(tmpdir, "csv")
    write_quoted_csv(docs, out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == docs.count()
    raw = open(glob.glob(out + "/part-*.csv")[0]).readline()
    assert '"' in raw  # quoteAll in effect


def test_build_embedding_index_and_search(spark, sf_dir, tmpdir):
    from usda_food_data_pipeline_spark.operators.similarity import cosine_topk

    docs = load_table(spark, sf_dir, "documents").limit(50)
    out = os.path.join(tmpdir, "emb_index")
    build_embedding_index(docs, "text", "doc_id", out, dim=32)
    index = spark.read.parquet(out)
    assert index.columns == ["doc_id", "embedding"]
    assert index.count() == 50
    # vectors are L2-normalized; self-search returns self first
    query = index.filter(F.col("doc_id") == index.first()["doc_id"])
    top = cosine_topk(index, query, k=3, id_col="doc_id").collect()
    assert top[0]["doc_id"] == query.first()["doc_id"]
    assert abs(top[0]["score"] - 1.0) < 1e-9


def test_codec_roundtrips():
    import numpy as np

    from usda_food_data_pipeline_spark.operators.multimodal import (
        bmp_row_size,
        decode_audio,
        decode_image,
        encode_bmp,
        encode_wav_pcm16,
        wav_meta,
    )

    rng = np.random.default_rng(7)
    # BMP: odd widths exercise the 4-byte row padding path
    for h, w in [(3, 4), (5, 5), (1, 1), (4, 7)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        data = encode_bmp(px)
        assert len(data) == 54 + bmp_row_size(w) * h
        assert (decode_image(data) == px).all()
    # top-down BMP (negative height) decodes identically
    import struct

    d = bytearray(encode_bmp(px))
    d[22:26] = struct.pack("<i", -4)
    row = bmp_row_size(7)
    rows = [bytes(d[54 + i * row : 54 + (i + 1) * row]) for i in range(4)]
    d[54:] = b"".join(reversed(rows))
    assert (decode_image(bytes(d)) == px).all()

    for n, rate in [(64, 8000), (127, 11500), (1, 8000)]:
        s = (rng.integers(0, 65536, size=n) - 32768).astype(np.int16)
        data = encode_wav_pcm16(s, rate)
        assert len(data) == 44 + 2 * n
        back = decode_audio(data)
        assert back.shape == (n, 1) and (back[:, 0] == s).all()
        assert wav_meta(data) == (rate, 1, n)


def test_codec_rejects_garbage():
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG not a bmp")
    from usda_food_data_pipeline_spark.operators.multimodal import decode_audio

    with pytest.raises(ValueError):
        decode_audio(b"RIFFgarbage")


def test_decode_media_stats_roundtrip(spark, sf_dir):
    from usda_food_data_pipeline_spark.operators.multimodal import (
        decode_media_stats,
        synthesize_media,
    )

    docs = load_table(spark, sf_dir, "documents").limit(20)
    out = decode_media_stats(synthesize_media(docs, "doc_id"), "doc_id").collect()
    assert len(out) == 20
    for r in out:
        d = r["doc_id"]
        n = 64 + d % 64
        assert r["wav_n"] == n
        assert r["wav_bytes"] == 44 + 2 * n
        assert r["wav_rate"] == 8000 + (d % 8) * 500
        assert r["wav_first"] == ((d * 31) % 65536) - 32768
        w, h = 4 + d % 4, 3 + d % 3
        assert (r["bmp_w"], r["bmp_h"]) == (w, h)
        assert r["sum_r"] == sum(
            (d + 3 * x + 7 * y) % 256 for x in range(w) for y in range(h)
        )


def test_resize_nearest_identity_and_upscale():
    import numpy as np

    from usda_food_data_pipeline_spark.operators.multimodal import resize_nearest

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert (resize_nearest(px, 2, 3) == px).all()  # identity
    up = resize_nearest(px, 4, 6)  # 2x upscale replicates each pixel
    assert up.shape == (4, 6, 3)
    assert (up[::2, ::2] == px).all() and (up[1::2, 1::2] == px).all()
    down = resize_nearest(px, 1, 1)  # downscale picks the top-left source pixel
    assert (down[0, 0] == px[0, 0]).all()


def test_snapshot_time_travel_append_and_overwrite(spark, tmp_path):
    from usda_food_data_pipeline_spark.sources.snapshots import (
        list_versions,
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "versioned")
    v0 = write_snapshot(spark.createDataFrame([(1, "a")], "k int, s string"), t)
    v1 = write_snapshot(spark.createDataFrame([(2, "b")], "k int, s string"), t)
    assert (v0, v1) == (0, 1) and list_versions(t) == [0, 1]

    # time travel: v0 sees only the first commit; latest sees both
    assert {r["k"] for r in read_snapshot(spark, t, 0).collect()} == {1}
    assert {r["k"] for r in read_snapshot(spark, t).collect()} == {1, 2}

    # logical truncate: overwrite starts a fresh file set, history intact
    v2 = write_snapshot(
        spark.createDataFrame([(9, "z")], "k int, s string"), t, mode="overwrite"
    )
    assert {r["k"] for r in read_snapshot(spark, t, v2).collect()} == {9}
    assert {r["k"] for r in read_snapshot(spark, t, 1).collect()} == {1, 2}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_snapshot(spark, t, 99)


def test_snapshot_commit_conflict_retries_next_version(spark, tmp_path, monkeypatch):
    """ADVICE r03: two writers racing for version N must serialize as N
    and N+1 — the loser retries instead of clobbering the winner's
    manifest (os.link fail-on-exists, not os.rename). Simulated by
    injecting a competing commit between the version read and the
    manifest link."""
    from usda_food_data_pipeline_spark.sources import snapshots

    t = str(tmp_path / "contended")
    write_snapshot = snapshots.write_snapshot
    v0 = write_snapshot(spark.createDataFrame([(1,)], "k int"), t)
    assert v0 == 0

    real_commit = snapshots._commit_manifest
    injected = {"done": False}

    def racing_commit(table_dir, version, files):
        if not injected["done"]:
            injected["done"] = True
            real_commit(table_dir, version, ["competitor.parquet"])  # winner lands first
        return real_commit(table_dir, version, files)

    monkeypatch.setattr(snapshots, "_commit_manifest", racing_commit)
    v = write_snapshot(spark.createDataFrame([(2,)], "k int"), t)
    assert v == 2  # version 1 went to the competitor; loser retried as 2
    assert snapshots.list_versions(t) == [0, 1, 2]
    assert snapshots._read_manifest(t, 1) == ["competitor.parquet"]
    # the retried commit (append mode) folded the winner's files in
    assert "competitor.parquet" in snapshots._read_manifest(t, 2)
