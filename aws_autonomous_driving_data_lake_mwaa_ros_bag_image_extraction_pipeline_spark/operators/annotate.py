"""Multimodal-column transforms: decode / annotate / batch-inference
(operators P11, P12, P13, K7).

Reference: bounding boxes are relative coords scaled by image size at draw
time (processing.py:366-384); annotation draws green boxes per instance
(processing.py:352-390); enrichment calls Rekognition one image per request
(processing.py:320-327).

Spark-first: images ride as opaque ``binary`` columns; the transforms are
Arrow-batched pandas UDFs over ``mapInPandas`` so a 1000-executor cluster
processes frames in vectorized batches instead of one network call per frame.
The annotate kernel is real — functions/png decodes, rasterizes the green
outlines pixel-identically to the reference's PIL draw (verified against
``outputs/left0193_labeled.png``), and re-encodes, all numpy+zlib.

One model contract everywhere: ``model_fn(list[np.ndarray]) ->
list[list[dict]]`` over uint8 pixel arrays shaped as ``png.decode``
returns them ((h,w) grey, (h,w,ch) otherwise; read-only — a model must not
write into them), one Rekognition-shaped label list per image. The E1 bag
decode (sources/frames_source.decode_bags) calls it on the raw frames and
draws with ``label_boxes`` + ``png.draw_boxes`` in the same task, so the
pipeline itself never runs ``infer_labels`` or ``annotate_frames``; those
are the same steps over an existing PNG ``content`` column. The default
model is real and content-derived: a pure-numpy color-blob detector
(``detect_blobs``) that segments the pixels by dominant-channel class and
emits one Instance per connected component — labels change when pixels
change. Its kernel is whole-array numpy, one pass per frame: the class
image by channel comparisons, then the 4-connected components of all four
classes at once (``_components``: row runs, overlap edges, and the
package's one union-find, ``graph.union_find``), so no Python loop runs
per row or per pixel. It is deliberately simple (no learned weights ship
with the package); swap in a real network via ``model_fn``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions import png
from ..schemas import LABELS_TABLE_SCHEMA
from .graph import union_find

ANNOTATED_SCHEMA = (
    "bag_id string, camera string, frame_index int, annotated binary"
)


def label_boxes(labels) -> list[tuple[float, ...]]:
    """The box rule: one label list's relative (Left, Top, Width, Height)
    boxes, every Instance of every label in order. Takes a model's output
    or a ``labels`` cell as ``mapInPandas`` delivers it (arrays of dicts).
    A missing or NULL label, Instance list, BoundingBox or coordinate
    draws no box; coordinates are read as doubles, as the labels column
    stores them."""
    out = []
    for lab in () if labels is None else labels:
        insts = None if lab is None else lab.get("Instances")
        for inst in () if insts is None else insts:
            box = None if inst is None else inst.get("BoundingBox")
            if box is None:
                continue
            rel = [box.get(k) for k in ("Left", "Top", "Width", "Height")]
            if None not in rel:
                out.append(tuple(float(v) for v in rel))
    return out


def annotate_frames(frames_with_labels: DataFrame) -> DataFrame:
    """P12/K7: frames + labels → annotated image column.

    Input needs (bag_id, camera, frame_index, content, labels). Only the
    pixel work and the box rule (``label_boxes``, the one E1 uses) run in
    Python, Arrow-batched via ``mapInPandas``. The draw is the real
    kernel: PNG decode → green 2-px outlines at relative-coords ×
    image-dims (pixel-identical to processing.py:366-384's PIL draw) →
    PNG encode.
    """
    slim = frames_with_labels.select(
        "bag_id", "camera", "frame_index", "content", "labels"
    )

    def _annotate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["bag_id", "camera", "frame_index"]].copy()
            out["annotated"] = [
                # NULL content is a quarantined decode: no pixels to draw
                None
                if content is None
                else png.encode(
                    png.draw_boxes(png.decode(bytes(content)), label_boxes(labels))
                )
                for content, labels in zip(pdf["content"], pdf["labels"])
            ]
            yield out

    return slim.mapInPandas(_annotate, schema=ANNOTATED_SCHEMA)


def _labels_of(model_fn, contents: list) -> list[list[dict]]:
    """PNG ``content`` cells → one ``model_fn`` call on the decoded arrays;
    a NULL or empty cell has no pixels and gets no labels."""
    idx = [i for i, c in enumerate(contents) if c]
    out: list[list[dict]] = [[] for _ in contents]
    if idx:
        arrays = [png.decode(bytes(contents[i])) for i in idx]
        for i, labels in zip(idx, model_fn(arrays)):
            out[i] = labels
    return out


def infer_labels(frames: DataFrame, model_fn=None) -> DataFrame:
    """P13: pluggable batch object-detection enrich — ``frames → labels``.

    The operator contract matches the Rekognition call site
    (processing.py:320-327) but batches: each Arrow batch's PNG ``content``
    is decoded and handed to ONE model invocation. ``model_fn`` takes the
    pixel arrays (the module's contract, the same one E1 calls on raw bag
    frames) and plugs in a real model (ONNX/YOLO-class); the default is
    ``detect_blobs`` — a genuine numpy detector over the pixels, so
    frames → labels is content-derived out of the box.
    """
    model_fn = model_fn or detect_blobs

    def _infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["bag_id", "camera", "frame_index"]].copy()
            out["labels"] = _labels_of(model_fn, list(pdf["content"]))
            yield out

    return frames.select("bag_id", "camera", "frame_index", "content").mapInPandas(
        _infer, schema=LABELS_TABLE_SCHEMA
    )


def infer_labels_by_camera(frames: DataFrame, model_fn=None) -> DataFrame:
    """P13 variant: per-camera grouped inference (``applyInPandas``).

    Use when the model is camera-specific (per-sensor calibration /
    resolution) or when batches must be homogeneous: each group arrives as
    ONE pandas frame per camera instead of arbitrary partition slices. Same
    ``model_fn`` contract and output as ``infer_labels`` (tested equivalent
    for a camera-agnostic model). Grouping shuffles on camera — prefer
    ``infer_labels`` when the model doesn't care."""
    model_fn = model_fn or detect_blobs

    def _infer_group(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf[["bag_id", "camera", "frame_index"]].copy()
        out["labels"] = _labels_of(model_fn, list(pdf["content"]))
        return out

    return (
        frames.select("bag_id", "camera", "frame_index", "content")
        .groupBy("camera")
        .applyInPandas(_infer_group, schema=LABELS_TABLE_SCHEMA)
    )


# dominant-channel class → emitted label name. The mapping is an honest
# heuristic vocabulary (red-lit blob → light, green field → road surface,
# blue-tinted metallic → vehicle, low-saturation region → pedestrian-ish),
# chosen so the downstream schema matches the Rekognition label space the
# reference consumes (processing.py:320-327). A real network replaces the
# whole model_fn, not this table.
_CLASS_NAMES = ((0, "Traffic Light"), (1, "Road"), (2, "Car"), (3, "Person"))


def _components(classes: np.ndarray) -> np.ndarray:
    """4-connected components of a class image (small non-negative class
    ids), every class in one pass.

    Returns one int64 row per component, ``(class, y0, x0, y1, x1,
    area)`` with exclusive upper bounds, in raster order of each
    component's first pixel. Everything is whole-array numpy; no Python
    loop runs per row, run or pixel:

    - runs: one ``diff`` over the image with a sentinel column appended
      to each row gives every maximal same-class run of every row;
    - edges: a run's row tiles into runs, so the runs of the row above
      that it touches are one contiguous index range, found with
      ``searchsorted`` on the flat ``(row, x)`` start keys; only the
      same-class ones become edges;
    - ``graph.union_find`` over the runs (root hooking, so a vertical
      serpentine, whose longest path is most of the image, still closes
      in a few rounds): a component's root is its smallest run index,
      i.e. its first run in raster order;
    - boxes and areas: ``ufunc.at`` / ``bincount`` over the run table.
    """
    h, w = classes.shape
    if not classes.size:
        return np.empty((0, 6), dtype=np.int64)
    stride = w + 1
    padded = np.empty((h, stride), dtype=np.int8)
    padded[:, :w] = classes
    padded[:, w] = -1  # sentinel: no run crosses a row end
    flat = padded.ravel()
    change = np.flatnonzero(flat[1:] != flat[:-1]) + 1
    bounds = np.concatenate(([0], change, [flat.size]))
    starts, ends = bounds[:-1], bounds[1:]
    real = flat[starts] >= 0
    starts, ends = starts[real], ends[real]
    n = starts.size
    cls = flat[starts].astype(np.int64)
    rows = starts // stride
    x0 = starts - rows * stride
    x1 = ends - rows * stride

    # runs of the row above that overlap [x0, x1): the ones holding x0
    # and x1 - 1, and every run between them
    cur = np.flatnonzero(rows > 0)
    up = starts[cur] - stride  # x0 in the row above
    first = np.searchsorted(starts, up, side="right") - 1
    last = np.searchsorted(starts, up + (x1[cur] - x0[cur] - 1), side="right") - 1
    counts = last - first + 1
    # one (a, b) pair per overlap: b steps from first to last of each run
    a = np.repeat(cur, counts)
    b = np.repeat(first - np.cumsum(counts) + counts, counts) + np.arange(counts.sum())
    same = cls[a] == cls[b]
    a, b = a[same], b[same]

    roots, comp = np.unique(union_find(n, a, b), return_inverse=True)
    k = roots.size
    y0 = np.full(k, h, dtype=np.int64)
    bx0 = np.full(k, w, dtype=np.int64)
    y1 = np.zeros(k, dtype=np.int64)
    bx1 = np.zeros(k, dtype=np.int64)
    np.minimum.at(y0, comp, rows)
    np.minimum.at(bx0, comp, x0)
    np.maximum.at(y1, comp, rows + 1)
    np.maximum.at(bx1, comp, x1)
    area = np.bincount(comp, weights=x1 - x0, minlength=k).astype(np.int64)
    return np.stack([cls[roots], y0, bx0, y1, bx1, area], axis=1)


def detect_blobs(
    arrays: list[np.ndarray],
    min_area_frac: float = 0.02,
    sat_threshold: int = 16,
) -> list[list[dict]]:
    """Default P13 model: genuine content-derived detection, pure numpy.

    Per image array: per-pixel color class (dominant channel, first
    maximum winning, where saturation ``max - min`` is at least
    ``sat_threshold``, else the low-saturation class) → 4-connected
    components of every class in one ``_components`` pass → one Instance
    per component covering ≥ ``min_area_frac`` of the frame, bounding box
    in relative coords (the same coordinate contract as the Rekognition
    response the reference draws from, processing.py:366-375). Confidence
    is the component's area fraction mapped into [50, 100]. Deterministic,
    so the downstream aggregation pipeline is exactly testable — and
    unlike a digest-keyed fake, editing pixels moves the boxes."""
    out = []
    for arr in arrays:
        # contiguous channel planes: elementwise ops on strided channel
        # views run several times slower
        if arr.ndim == 2:
            r = g = b = arr
        elif arr.shape[2] < 3:  # grey (+ alpha)
            r = g = b = np.ascontiguousarray(arr[:, :, 0])
        else:
            r, g, b = np.moveaxis(arr[:, :, :3], 2, 0).copy()
        h, w = r.shape
        mx = np.maximum(np.maximum(r, g), b)
        mn = np.minimum(np.minimum(r, g), b)
        # 0 where r is the max, else 1 where g is, else 2, OR-ed with 3
        # where saturation is low. Arithmetic, not masked assignment:
        # that costs more than all the rest of the kernel
        classes = (r != mx).view(np.int8) * (
            np.int8(2) - (g == mx).view(np.int8)
        )
        classes |= (mx - mn < sat_threshold).view(np.int8) * np.int8(3)
        comps = _components(classes)
        comps = comps[comps[:, 5] >= min_area_frac * h * w]
        # by class, then largest first, then top-left; ties keep raster
        # order (lexsort's last key is the primary one)
        order = np.lexsort(
            (np.arange(len(comps)), comps[:, 2], comps[:, 1], -comps[:, 5], comps[:, 0])
        )
        by_class: dict[int, list] = {}
        for c, y0, x0, y1, x1, area in comps[order].tolist():
            by_class.setdefault(c, []).append(
                {
                    "BoundingBox": {
                        "Width": round((x1 - x0) / w, 6),
                        "Height": round((y1 - y0) / h, 6),
                        "Left": round(x0 / w, 6),
                        "Top": round(y0 / h, 6),
                    },
                    "Confidence": round(50.0 + 50.0 * area / (h * w), 4),
                }
            )
        out.append(
            [
                {
                    "Name": name,
                    "Confidence": max(i["Confidence"] for i in instances),
                    "Instances": instances,
                    "Parents": [{"Name": "Vehicle"}] if name == "Car" else [],
                }
                for cls, name in _CLASS_NAMES
                if (instances := by_class.get(cls))
            ]
        )
    return out


def detect_color_blobs(
    images: list[bytes],
    min_area_frac: float = 0.02,
    sat_threshold: int = 16,
) -> list[list[dict]]:
    """``detect_blobs`` over PNG bytes: decode, then detect. An empty or
    NULL image gets no labels."""
    return [
        detect_blobs([png.decode(bytes(img))], min_area_frac, sat_threshold)[0]
        if img
        else []
        for img in images
    ]
