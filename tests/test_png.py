"""The pure-numpy PNG codec: round trips, the five scanline filters on
decode, and the filter the encoder writes."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.functions import (
    png,
)


def _scanlines(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """(w, h, color type, inflated IDAT bytes) of a one-IDAT PNG."""
    assert data[:8] == png.PNG_SIG
    pos, chunks = 8, {}
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        assert tag not in chunks  # one IDAT
        chunks[tag] = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
    w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", chunks[b"IHDR"])
    assert (depth, interlace) == (8, 0)
    raw = np.frombuffer(zlib.decompress(chunks[b"IDAT"]), dtype=np.uint8)
    return w, h, ctype, raw


def _png(w: int, h: int, ctype: int, lines: np.ndarray) -> bytes:
    """A PNG around already-filtered scanlines (filter byte first)."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        png.PNG_SIG
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"IDAT", zlib.compress(lines.tobytes()))
        + png._chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _filter_row(f: int, row: list[int], prior: list[int], bpp: int) -> list[int]:
    """The spec's forward filter ``f`` of one scanline, byte by byte."""
    out = []
    for x, v in enumerate(row):
        a = row[x - bpp] if x >= bpp else 0
        b = prior[x]
        c = prior[x - bpp] if x >= bpp else 0
        pred = (0, a, b, (a + b) // 2, _paeth(a, b, c))[f]
        out.append((v - pred) % 256)
    return out


SHAPES = [(1, 1), (1, 7), (7, 1), (5, 9)]


@pytest.mark.parametrize("ch", [1, 2, 3, 4])
@pytest.mark.parametrize("hw", SHAPES)
def test_round_trip(ch, hw):
    rng = np.random.default_rng(ch * 100 + hw[0] * 10 + hw[1])
    shape = hw if ch == 1 else (*hw, ch)
    arr = rng.integers(0, 256, shape, dtype=np.uint8)
    got = png.decode(png.encode(arr))
    assert got.shape == arr.shape and got.dtype == np.uint8
    assert (got == arr).all()


@pytest.mark.parametrize("f", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("ch", [1, 3, 4])
def test_decode_hand_filtered_rows(f, ch):
    """Rows filtered by the spec's predictor (Average and Paeth included)
    decode to the source pixels, whether every row uses filter ``f`` or
    the rows cycle through all five."""
    rng = np.random.default_rng(f * 10 + ch)
    h, w = 6, 5
    arr = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    stride = w * ch
    ctype = png._COLOR_TYPE[ch]
    want = arr[:, :, 0] if ch == 1 else arr
    for filters in ([f] * h, [(f + y) % 5 for y in range(h)]):
        prior, lines = [0] * stride, []
        for y, fy in enumerate(filters):
            row = [int(v) for v in arr[y].reshape(stride)]
            lines.append([fy, *_filter_row(fy, row, prior, ch)])
            prior = row
        got = png.decode(_png(w, h, ctype, np.array(lines, dtype=np.uint8)))
        assert (got == want).all(), filters


def test_decode_rejects_unknown_filter():
    lines = np.array([[5, 1, 2, 3]], dtype=np.uint8)
    with pytest.raises(ValueError, match="bad PNG filter"):
        png.decode(_png(1, 1, 2, lines))


@pytest.mark.parametrize("shape", [(1, 1), (4, 1, 3), (3, 6, 2), (8, 5, 4)])
def test_encode_writes_sub_filter(shape):
    rng = np.random.default_rng(len(shape))
    arr = rng.integers(0, 256, shape, dtype=np.uint8)
    w, h, ctype, raw = _scanlines(png.encode(arr))
    ch = 1 if arr.ndim == 2 else arr.shape[2]
    assert (w, h, ctype) == (arr.shape[1], arr.shape[0], png._COLOR_TYPE[ch])
    lines = raw.reshape(h, 1 + w * ch)
    assert (lines[:, 0] == 1).all()
    # the first pixel of a row is stored as is (its left neighbour is 0)
    assert (lines[:, 1 : 1 + ch] == arr.reshape(h, w * ch)[:, :ch]).all()
