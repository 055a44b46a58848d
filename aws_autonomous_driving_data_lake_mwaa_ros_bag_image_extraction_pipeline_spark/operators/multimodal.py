"""Multimodal-column operators: sampling, feature extraction, decode/resize.

Images/audio/video ride as opaque ``binary`` columns with typed metadata
(width/height/camera/frame_time — schemas.FRAMES_SCHEMA). The operators here
are the training-data-pipeline staples over such columns:

- ``frame_sample``: every-Nth / per-interval thinning — pure relational
  filters (no Python, no shuffle), safe at any scale.
- ``extract_features``: frames → embedding column via an Arrow-batched
  ``mapInPandas`` extractor. The default extractor is a deterministic
  md5-seeded pseudo-embedding (no vision model in this container) — swap in
  an ONNX/torch model function without touching the plumbing; one Arrow
  batch = one model invocation.
- ``decode_image`` / ``resize_frames``: pixel codecs, real by default via
  the pure-numpy PNG codec in functions/png (decode → pixel array →
  nearest-neighbor resample → re-encode); pass ``codec``/``resizer`` to
  substitute another format's kernel.

The extracted embeddings feed straight into operators/similarity.py and
operators/dedup.py (embedding near-dup) — together these close the loop
frames → features → ANN/dedup at 100 TB: every stage is either a narrow
filter or a bucketed join; nothing collects to the driver.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frame_sample(
    frames: DataFrame,
    every_n: int | None = None,
    per_interval_ms: int | None = None,
    idx_col: str = "frame_index",
    ts_col: str = "frame_time",
) -> DataFrame:
    """Thin a frame stream: keep every Nth index, or one frame per time
    bucket. Both are narrow filters — they push into the scan and cost no
    shuffle (the per-interval form keeps the FIRST frame of each bucket via
    an index tie-break window only when needed)."""
    if every_n is not None:
        return frames.filter(F.col(idx_col) % every_n == 0)
    if per_interval_ms is not None:
        bucket = (F.unix_millis(F.col(ts_col)) / per_interval_ms).cast("long")
        from pyspark.sql import Window

        w = Window.partitionBy("bag_id", "camera", bucket).orderBy(idx_col)
        return (
            frames.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    raise ValueError("pass every_n or per_interval_ms")


def _fake_extractor(images: list[bytes], dim: int) -> list[list[float]]:
    # Deterministic stand-in for a vision encoder: unit-norm vector seeded by
    # the image digest. Replace via extract_features(extractor=...).
    out = []
    for img in images:
        h = hashlib.md5(img or b"").digest()
        vals = []
        for i in range(dim):
            b = hashlib.md5(h + i.to_bytes(2, "big")).digest()[0]
            vals.append((b / 255.0) * 2 - 1)
        norm = sum(v * v for v in vals) ** 0.5 or 1.0
        out.append([v / norm for v in vals])
    return out


def extract_features(
    frames: DataFrame,
    dim: int = 64,
    extractor: Callable[[list[bytes], int], list[list[float]]] | None = None,
    content_col: str = "content",
) -> DataFrame:
    """frames → (bag_id, camera, frame_index, embedding array<double>).

    Arrow-batched: each pandas batch is one extractor call — the batch shape
    a GPU model wants. Output feeds similarity.*_topk / dedup.embedding_*."""
    fn = extractor or _fake_extractor
    out_schema = (
        "bag_id string, camera string, frame_index int, embedding array<double>"
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["bag_id", "camera", "frame_index"]].copy()
            out["embedding"] = fn(list(pdf[content_col]), dim)
            yield out

    return frames.select("bag_id", "camera", "frame_index", content_col).mapInPandas(
        _extract, schema=out_schema
    )


def decode_image(
    frames: DataFrame,
    codec: Callable[[bytes], tuple[int, int, bytes]] | None = None,
    content_col: str = "content",
) -> DataFrame:
    """Decode image bytes → (width, height, raw RGB). Defaults to the
    pure-numpy PNG codec (functions/png); supply ``codec(bytes) ->
    (w, h, rgb)`` for other formats — the batching contract is identical to
    ``extract_features``."""
    if codec is None:

        def codec(content: bytes) -> tuple[int, int, bytes]:
            from ..functions import png

            arr = png.decode(bytes(content))
            h, w = arr.shape[:2]
            return w, h, arr.tobytes()
    out_schema = (
        "bag_id string, camera string, frame_index int, "
        "width int, height int, rgb binary"
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["bag_id", "camera", "frame_index"]].copy()
            # NULL blob (failed upstream extraction) -> NULL row fields,
            # not a bytes(None) TypeError that kills the task
            decoded = [
                codec(c) if c is not None else (None, None, None)
                for c in pdf[content_col]
            ]
            out["width"] = [d[0] for d in decoded]
            out["height"] = [d[1] for d in decoded]
            out["rgb"] = [d[2] for d in decoded]
            yield out

    return frames.select("bag_id", "camera", "frame_index", content_col).mapInPandas(
        _decode, schema=out_schema
    )


def resize_frames(
    frames: DataFrame,
    width: int,
    height: int,
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize the image column to (width, height).

    Default kernel: PNG decode → nearest-neighbor resample (pure numpy
    index gather) → PNG encode. Pass ``resizer(bytes, w, h) -> bytes`` for
    other formats or interpolation schemes."""
    if resizer is None:

        def resizer(content: bytes, w: int, h: int) -> bytes:
            import numpy as np

            from ..functions import png

            arr = png.decode(bytes(content))
            src_h, src_w = arr.shape[:2]
            ys = (np.arange(h) * src_h // h).clip(0, src_h - 1)
            xs = (np.arange(w) * src_w // w).clip(0, src_w - 1)
            return png.encode(arr[np.ix_(ys, xs)])

    out_schema = (
        "bag_id string, camera string, frame_index int, filename string, "
        "frame_time timestamp, width int, height int, content binary"
    )

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["content"] = [
                resizer(c, width, height) if c is not None else None
                for c in pdf["content"]
            ]
            out["width"] = width
            out["height"] = height
            yield out

    cols = [
        "bag_id", "camera", "frame_index", "filename",
        "frame_time", "width", "height", "content",
    ]
    return frames.select(*cols).mapInPandas(_resize, schema=out_schema)


# ---------------------------------------------------------------------------
# Audio (PCM16 waveform columns)
# ---------------------------------------------------------------------------

def audio_windows(
    clips: DataFrame,
    sample_rate: int,
    win_ms: int = 25,
    hop_ms: int = 10,
    id_col: str = "clip_id",
    content_col: str = "content",
) -> DataFrame:
    """Opaque PCM16-LE audio blobs → framed analysis windows:
    ``(id, win_idx, t0_ms, n_samples, samples: binary)``.

    Unlike images, raw PCM needs NO codec library — ``np.frombuffer`` IS
    the decoder — so this path is fully real. One Arrow batch in, the
    windowed rows out; windows never leave the executor as anything wider
    than their own bytes, and downstream feature extraction keys on
    (id, win_idx) so per-clip work parallelizes across the cluster.
    Short trailing remainders (< one window) are dropped, the standard
    framing convention.
    """
    import numpy as np

    win = int(sample_rate * win_ms / 1000)
    hop = int(sample_rate * hop_ms / 1000)

    def _frame(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"__id": [], "win_idx": [], "t0_ms": [], "n_samples": [], "samples": []}
            for cid, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    continue  # NULL clip: no windows (frombuffer(None) raises)
                if len(blob) % 2:  # truncated upload: drop the odd tail byte
                    blob = blob[:-1]
                x = np.frombuffer(blob, dtype="<i2")
                n_wins = 0 if len(x) < win else (len(x) - win) // hop + 1
                for w in range(n_wins):
                    seg = x[w * hop: w * hop + win]
                    out["__id"].append(cid)
                    out["win_idx"].append(w)
                    out["t0_ms"].append(int(w * hop * 1000 / sample_rate))
                    out["n_samples"].append(win)
                    out["samples"].append(seg.tobytes())
            yield pd.DataFrame(out).rename(columns={"__id": id_col})

    dtypes = dict(clips.dtypes)
    schema = (
        f"{id_col} {dtypes[id_col]}, win_idx int, t0_ms int, "
        "n_samples int, samples binary"
    )
    return clips.select(id_col, content_col).mapInPandas(_frame, schema=schema)


def audio_features(
    windows: DataFrame,
    id_col: str = "clip_id",
) -> DataFrame:
    """Per-window waveform features — RMS energy (normalized to [0,1]),
    zero-crossing rate, and peak amplitude — the VAD/quality signals an
    audio curation pipeline filters on. Vectorized numpy per Arrow batch;
    output is narrow numeric columns, the binary stays behind."""
    import numpy as np

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rms, zcr, peak = [], [], []
            for blob in pdf["samples"]:
                if blob is None:
                    blob = b""  # NULL window: degenerate zero features
                x = np.frombuffer(blob, dtype="<i2").astype("float64") / 32768.0
                rms.append(float(np.sqrt(np.mean(x * x))) if len(x) else 0.0)
                zcr.append(
                    float(np.mean(np.abs(np.diff(np.signbit(x).astype("i1")))))
                    if len(x) > 1
                    else 0.0
                )
                peak.append(float(np.max(np.abs(x))) if len(x) else 0.0)
            out = pdf[[id_col, "win_idx", "t0_ms"]].copy()
            out["rms"], out["zcr"], out["peak"] = rms, zcr, peak
            yield out

    dtypes = dict(windows.dtypes)
    schema = (
        f"{id_col} {dtypes[id_col]}, win_idx int, t0_ms int, "
        "rms double, zcr double, peak double"
    )
    return windows.mapInPandas(_feat, schema=schema)


def active_segments(
    feats: DataFrame,
    rms_threshold: float = 0.02,
    id_col: str = "clip_id",
) -> DataFrame:
    """Energy-gate VAD: maximal runs of consecutive active windows
    (rms >= threshold) → ``(id, seg_idx, start_ms, end_ms, n_windows)``.
    Gaps-and-islands over the window index — JVM-side after the numpy
    features, one shuffle on the clip key."""
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy("win_idx")
    active = feats.filter(F.col("rms") >= F.lit(rms_threshold))
    runs = active.withColumn(
        "__grp", F.col("win_idx") - F.row_number().over(w)
    )
    return (
        runs.groupBy(id_col, "__grp")
        .agg(
            F.min("t0_ms").alias("start_ms"),
            F.max("t0_ms").alias("end_ms"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .withColumn(
            "seg_idx",
            F.row_number().over(W.partitionBy(id_col).orderBy("start_ms")) - 1,
        )
        .select(id_col, "seg_idx", "start_ms", "end_ms", "n_windows")
    )


# ---------------------------------------------------------------------------
# Perceptual image hashing (real pixels via functions/png)
# ---------------------------------------------------------------------------

def dhash_frames(
    frames: DataFrame,
    id_col: str = "key",
    content_col: str = "content",
    hash_w: int = 9,
    hash_h: int = 8,
) -> DataFrame:
    """Difference-hash (dHash) per image → ``(id, dhash: bigint)`` — the
    standard perceptual fingerprint for NEAR-duplicate image detection
    (a recompressed/slightly-edited frame keeps ~the same hash; a crop or
    different scene flips many bits).

    Real pixels end to end: functions/png.decode → grayscale (ITU-R 601
    luma) → nearest-neighbor downsample to ``hash_w × hash_h`` → 64 bits
    of "is the left pixel brighter than its right neighbor". All numpy
    per Arrow batch; output is one BIGINT per image, so downstream
    near-dup mining is integer-keyed (see dedup.hash_near_pairs) and the
    image bytes never travel again.
    """
    import numpy as np

    from ..functions import png

    def _dh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for blob in pdf[content_col]:
                if blob is None:
                    hashes.append(None)  # NULL frame: no hash, not a crash
                    continue
                arr = png.decode(bytes(blob)).astype("float64")
                if arr.ndim == 3:
                    gray = (
                        0.299 * arr[:, :, 0]
                        + 0.587 * arr[:, :, 1]
                        + 0.114 * arr[:, :, 2]
                    )
                else:
                    gray = arr
                h, w = gray.shape
                ys = (np.arange(hash_h) * h // hash_h).clip(0, h - 1)
                xs = (np.arange(hash_w) * w // hash_w).clip(0, w - 1)
                small = gray[np.ix_(ys, xs)]
                bits = (small[:, :-1] > small[:, 1:]).reshape(-1)
                val = 0
                for b in bits:
                    val = (val << 1) | int(b)
                hashes.append(val - (1 << 63) if val >= (1 << 63) else val)
            out = pdf[[id_col]].copy()
            out["dhash"] = hashes
            yield out

    dtypes = dict(frames.dtypes)
    schema = f"{id_col} {dtypes[id_col]}, dhash bigint"
    return frames.select(id_col, content_col).mapInPandas(_dh, schema=schema)
