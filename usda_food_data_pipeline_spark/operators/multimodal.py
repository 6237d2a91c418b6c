"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (engine extension for training-data pipelines).

Decode is real, stdlib-only: ``decode_audio`` parses RIFF/PCM WAV
containers via ``wave`` and ``decode_image`` parses uncompressed 24bpp
BMP (bottom-up or top-down, 4-byte row padding) via ``struct`` — no
third-party codec needed. Matching encoders (``encode_wav_pcm16`` /
``encode_bmp``) exist so round-trips are testable end-to-end. Other
codecs (JPEG/FLAC/...) replace the decode call inside the
``mapInPandas`` stages.

Scale notes: payloads ride in the ``binary`` column — at 100 TB keep
them in their own parquet files (or external object store with a
pointer column) partitioned by content hash prefix so feature
extraction parallelizes evenly; ``mapInPandas`` streams Arrow batches,
never materializing a partition in memory.
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

_BMP_FILE_HEADER = 14
_BMP_INFO_HEADER = 40


def encode_wav_pcm16(samples, sample_rate: int) -> bytes:
    """Serialize int16 samples into a standard mono RIFF/PCM WAV
    container (44-byte header) using only the stdlib ``wave`` module."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_audio(data: bytes) -> np.ndarray:
    """Decode a RIFF/PCM WAV payload to its raw samples.

    Returns an ``(n_frames, n_channels)`` int array for 16-bit PCM (the
    overwhelmingly common case); 8-bit PCM is returned as unsigned
    bytes. Compressed WAV (non-PCM comptype) raises ``ValueError``.
    """
    try:
        with wave.open(io.BytesIO(data), "rb") as w:
            nch, sw, _rate, nframes = w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes()
            frames = w.readframes(nframes)
    except (wave.Error, EOFError) as e:
        raise ValueError(f"not a PCM WAV payload: {e}") from e
    if sw == 2:
        arr = np.frombuffer(frames, dtype="<i2")
    elif sw == 1:
        arr = np.frombuffer(frames, dtype=np.uint8)
    else:
        raise ValueError(f"unsupported PCM sample width {sw}")
    return arr.reshape(-1, nch)


def wav_meta(data: bytes) -> tuple[int, int, int]:
    """(sample_rate, n_channels, n_frames) from a WAV header — header
    parse only, no frame read."""
    with wave.open(io.BytesIO(data), "rb") as w:
        return w.getframerate(), w.getnchannels(), w.getnframes()


def bmp_row_size(width: int) -> int:
    """Bytes per 24bpp BMP pixel row, padded to a 4-byte boundary."""
    return (width * 3 + 3) & ~3


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Serialize an ``(h, w, 3)`` uint8 RGB array as an uncompressed
    24bpp bottom-up BMP (BITMAPFILEHEADER + BITMAPINFOHEADER, BGR pixel
    order, rows padded to 4 bytes) — pure ``struct``, no codec."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    row = bmp_row_size(w)
    img_size = row * h
    offset = _BMP_FILE_HEADER + _BMP_INFO_HEADER
    head = struct.pack("<2sIHHI", b"BM", offset + img_size, 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", _BMP_INFO_HEADER, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    body = np.zeros((h, row), dtype=np.uint8)
    body[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, RGB->BGR
    return head + info + body.tobytes()


def decode_image(data: bytes) -> np.ndarray:
    """Decode an uncompressed 24bpp BMP payload to an ``(h, w, 3)``
    uint8 RGB array (top-down, padding stripped). Handles both
    bottom-up (positive height) and top-down (negative height) files;
    other bit depths / compressions raise ``ValueError``."""
    if len(data) < _BMP_FILE_HEADER + _BMP_INFO_HEADER or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", data, 10)
    _hdr, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", data, _BMP_FILE_HEADER)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    bottom_up = h > 0
    h = abs(h)
    row = bmp_row_size(w)
    flat = np.frombuffer(data, dtype=np.uint8, offset=offset, count=row * h)
    px = flat.reshape(h, row)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR->RGB
    return np.ascontiguousarray(px[::-1] if bottom_up else px)


def synthesize_media(
    df: DataFrame, id_col: str = "doc_id", modalities: tuple[str, ...] = ("wav", "bmp")
) -> DataFrame:
    """Deterministically synthesize one WAV and one BMP payload per row
    from the integer id (mapInPandas stage 1 of the decode round-trip).

    The sample/pixel formulas are pure integer functions of the id, so a
    SQL oracle can recompute every decoded statistic without parsing
    binaries: n = 64 + id%64 samples of ((id*31 + i*7) % 65536) - 32768
    at rate 8000 + (id%8)*500; a (3 + id%3) x (4 + id%4) RGB image with
    r=(id+3x+7y)%256, g=(2id+5x+y)%256, b=(3id+x+11y)%256.
    """
    want_wav, want_bmp = "wav" in modalities, "bmp" in modalities
    schema = f"{id_col} long" + (", wav binary" if want_wav else "") + (
        ", bmp binary" if want_bmp else ""
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            wavs, bmps = [], []
            for d in pdf[id_col]:
                d = int(d)
                if want_wav:
                    n = 64 + d % 64
                    i = np.arange(n, dtype=np.int64)
                    samples = ((d * 31 + i * 7) % 65536 - 32768).astype(np.int16)
                    wavs.append(encode_wav_pcm16(samples, 8000 + (d % 8) * 500))
                if want_bmp:
                    w, h = 4 + d % 4, 3 + d % 3
                    x = np.arange(w, dtype=np.int64)[None, :]
                    y = np.arange(h, dtype=np.int64)[:, None]
                    px = np.stack(
                        [
                            (d + 3 * x + 7 * y) % 256,
                            (2 * d + 5 * x + y) % 256,
                            (3 * d + x + 11 * y) % 256,
                        ],
                        axis=-1,
                    ).astype(np.uint8)
                    bmps.append(encode_bmp(px))
            out = {id_col: pdf[id_col].values}
            if want_wav:
                out["wav"] = wavs
            if want_bmp:
                out["bmp"] = bmps
            yield pd.DataFrame(out)

    return df.select(id_col).mapInPandas(synth, schema=schema)


def decode_media_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas stage 2: parse the binary WAV/BMP containers back
    into exact integer statistics (sizes, dims, sample/channel sums).
    The binaries cross a real Arrow boundary between the two stages, so
    this attests container encode -> binary column -> container decode
    end-to-end."""
    schema = (
        f"{id_col} long, wav_bytes long, wav_rate long, wav_n long, "
        "wav_first long, wav_last long, wav_sum long, "
        "bmp_bytes long, bmp_w long, bmp_h long, sum_r long, sum_g long, sum_b long"
    )

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, wav, bmp in zip(pdf[id_col], pdf["wav"], pdf["bmp"]):
                wav, bmp = bytes(wav), bytes(bmp)
                rate, _nch, _nf = wav_meta(wav)
                s = decode_audio(wav)[:, 0].astype(np.int64)
                px = decode_image(bmp).astype(np.int64)
                rows.append(
                    (
                        int(d), len(wav), rate, len(s),
                        int(s[0]), int(s[-1]), int(s.sum()),
                        len(bmp), px.shape[1], px.shape[0],
                        int(px[:, :, 0].sum()), int(px[:, :, 1].sum()), int(px[:, :, 2].sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.strip().split(" ")[0] for f in schema.split(",")])

    return df.mapInPandas(dec, schema=schema)


def resize_nearest(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize: ``out[i, j] = px[(i*h)//out_h, (j*w)//out_w]``.

    Pure integer index arithmetic (no float sampling grid), so the
    resized pixels — and any statistic over them — are reproducible
    exactly by an engine that can compute the same integer formula
    (the SQL oracle recomputes resized-channel sums from the synthetic
    pixel formula without touching a single byte of the BMP)."""
    h, w, _ = px.shape
    yi = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xi = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return px[yi][:, xi]


def resized_image_stats(
    df: DataFrame, id_col: str = "doc_id", out_h: int = 8, out_w: int = 8
) -> DataFrame:
    """mapInPandas stage over a ``bmp`` binary column: decode → resize
    to (out_h, out_w) → exact per-channel sums. The standard
    image-normalization step (thumbnail to a fixed training shape)
    with the decode step and Arrow batching of the other multimodal
    ops; emits integer stats so the result is oracle-comparable."""
    schema = f"{id_col} long, out_h long, out_w long, sum_r long, sum_g long, sum_b long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, bmp in zip(pdf[id_col], pdf["bmp"]):
                px = decode_image(bytes(bmp))
                rs = resize_nearest(px, out_h, out_w).astype(np.int64)
                rows.append(
                    (
                        int(d), out_h, out_w,
                        int(rs[:, :, 0].sum()), int(rs[:, :, 1].sum()), int(rs[:, :, 2].sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[id_col, "out_h", "out_w", "sum_r", "sum_g", "sum_b"]
            )

    return df.mapInPandas(run, schema=schema)
