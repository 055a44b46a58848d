"""P12/P13: batch inference + the real annotate kernel.

The annotate path is pixel-real (pure-numpy PNG codec + PIL-parity box
rasterizer), and the default detection model is a genuine numpy color-blob
detector over the decoded pixels — content in, boxes out.
Includes a golden test: drawing the reference's own label JSON onto its
original PNG reproduces its labeled PNG byte-for-byte.
"""

from __future__ import annotations

import json
import os

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.functions import (
    png,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
    annotate,
    frame_stats,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
    fixtures,
)


def test_infer_labels_schema_and_determinism(spark):
    frames_df = fixtures.frames(spark, n_bags=1, frames_per_camera=6)
    labels = annotate.infer_labels(frames_df)
    rows = labels.collect()
    assert len(rows) == frames_df.count()
    # deterministic: same input → same labels
    again = {(r.bag_id, r.camera, r.frame_index): r.labels for r in labels.collect()}
    for r in rows:
        assert again[(r.bag_id, r.camera, r.frame_index)] == r.labels
    # downstream aggregation consumes the inferred schema directly
    stats = frame_stats.instance_counts(labels)
    assert {"Ped_Count", "Bike_Count", "Motorbike_Count"} <= set(stats.columns)


def test_grouped_inference_matches_mapinpandas(spark):
    """applyInPandas per-camera grouping == mapInPandas for a
    camera-agnostic model (same deterministic detector)."""
    frames_df = fixtures.frames(spark, n_bags=1, frames_per_camera=5)
    a = {
        (r.bag_id, r.camera, r.frame_index): r.labels
        for r in annotate.infer_labels(frames_df).collect()
    }
    b = {
        (r.bag_id, r.camera, r.frame_index): r.labels
        for r in annotate.infer_labels_by_camera(frames_df).collect()
    }
    assert a == b


def test_annotate_frames_draws_real_boxes(spark):
    frames_df = fixtures.frames(spark, n_bags=1, frames_per_camera=4)
    labels_df = fixtures.labels(spark, frames_df)
    joined = frames_df.join(labels_df, ["bag_id", "camera", "frame_index"])
    out = {
        (r.bag_id, r.camera, r.frame_index): r.annotated
        for r in annotate.annotate_frames(joined).collect()
    }
    src = {
        (r.bag_id, r.camera, r.frame_index): (r.content, r.labels)
        for r in joined.collect()
    }
    assert set(out) == set(src)
    checked_with_boxes = 0
    for key, (content, labels) in src.items():
        boxes = [
            (i.BoundingBox.Left, i.BoundingBox.Top, i.BoundingBox.Width,
             i.BoundingBox.Height)
            for lab in labels
            for i in (lab.Instances or [])
        ]
        want = png.draw_boxes(png.decode(bytes(content)), boxes)
        got = png.decode(bytes(out[key]))
        assert (got == want).all(), key
        if boxes:
            checked_with_boxes += 1
            assert (
                (got[:, :, 0] == 0) & (got[:, :, 1] == 212) & (got[:, :, 2] == 0)
            ).any(), key
    assert checked_with_boxes > 0  # fixture must exercise the draw path


def test_annotate_golden_parity_with_reference_output(spark):
    """Reference golden: its label JSON drawn on its original PNG must equal
    its labeled PNG pixel-for-pixel (processing.py:352-390 semantics)."""
    ref = "/root/reference/outputs"
    if not os.path.exists(f"{ref}/left0193_original.png"):
        import pytest

        pytest.skip("reference outputs not present")
    labels = json.load(open(f"{ref}/left0193_labels.json"))
    boxes = [
        (b["Left"], b["Top"], b["Width"], b["Height"])
        for item in labels
        for inst in item.get("Instances", [])
        for b in [inst["BoundingBox"]]
    ]
    orig = png.decode(open(f"{ref}/left0193_original.png", "rb").read())
    gold = png.decode(open(f"{ref}/left0193_labeled.png", "rb").read())
    assert (png.draw_boxes(orig, boxes) == gold).all()


def test_detect_color_blobs_is_content_derived():
    """The default model reads pixels: a painted region produces a box AT
    that region, and moving the region moves the box."""
    import numpy as np

    base = np.full((40, 60, 3), 128, dtype=np.uint8)  # low-sat grey
    img_a = base.copy()
    img_a[10:20, 30:48] = (220, 30, 30)  # red blob → "Traffic Light"
    img_b = base.copy()
    img_b[25:35, 6:24] = (220, 30, 30)  # same blob, elsewhere

    la = annotate.detect_color_blobs([png.encode(img_a)])[0]
    lb = annotate.detect_color_blobs([png.encode(img_b)])[0]
    box_a = next(l for l in la if l["Name"] == "Traffic Light")["Instances"][0][
        "BoundingBox"
    ]
    box_b = next(l for l in lb if l["Name"] == "Traffic Light")["Instances"][0][
        "BoundingBox"
    ]
    assert box_a == {
        "Width": round(18 / 60, 6),
        "Height": round(10 / 40, 6),
        "Left": round(30 / 60, 6),
        "Top": round(10 / 40, 6),
    }
    assert box_b["Left"] == round(6 / 60, 6) and box_b["Top"] == round(25 / 40, 6)
    assert box_a != box_b
    # the untouched grey background is one low-saturation component
    assert any(l["Name"] == "Person" for l in la)
    # an all-grey frame has no color-class labels at all
    lg = annotate.detect_color_blobs([png.encode(base)])[0]
    assert [l["Name"] for l in lg] == ["Person"]


def test_detect_color_blobs_components():
    """Two disjoint same-color blobs → two Instances; diagonal contact does
    not merge (4-connectivity); sub-threshold specks are dropped."""
    import numpy as np

    img = np.full((40, 60, 3), 128, dtype=np.uint8)
    img[2:10, 2:14] = (30, 200, 30)
    img[20:30, 40:56] = (30, 200, 30)
    img[0, 59] = (30, 200, 30)  # 1-px speck: below min_area_frac
    road = next(
        l
        for l in annotate.detect_color_blobs([png.encode(img)])[0]
        if l["Name"] == "Road"
    )
    assert len(road["Instances"]) == 2
    areas = sorted(
        round(i["BoundingBox"]["Width"] * 60) * round(i["BoundingBox"]["Height"] * 40)
        for i in road["Instances"]
    )
    assert areas == [96, 160]


def test_draw_boxes_rgba_and_null_content(spark):
    """draw_boxes on a 4-channel image pads the color with opaque alpha
    (previously a numpy broadcast crash on any RGBA PNG the codec itself
    decodes), and annotate_frames passes NULL content through as a NULL
    annotated cell instead of bytes(None) (regression)."""
    import numpy as np

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.functions import (
        png,
    )
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
        annotate,
    )

    rgba = np.zeros((10, 10, 4), dtype="uint8")
    rgba[:, :, 3] = 255
    out = png.draw_boxes(rgba, [(0.1, 0.1, 0.5, 0.5)])
    assert out.shape == (10, 10, 4)
    assert out[1, 3, 1] == png.GREEN[1]  # green channel written
    assert out[1, 3, 3] == 255  # alpha stays opaque

    grey = np.zeros((10, 10), dtype="uint8")
    out2 = png.draw_boxes(grey, [(0.1, 0.1, 0.5, 0.5)])
    assert out2[1, 3].max() > 0  # visible luma box, not black-on-black

    img = png.encode(np.zeros((6, 6, 3), dtype="uint8"))
    rows = [
        (
            "b", "left", 1, bytearray(img),
            [([((0.1, 0.1, 0.3, 0.3),)],), ([(None,)],)],
        ),
        ("b", "left", 2, None, None),
    ]
    schema = (
        "bag_id string, camera string, frame_index int, content binary, "
        "labels array<struct<Instances array<struct<BoundingBox "
        "struct<Left double, Top double, Width double, Height double>>>>>"
    )
    frames = spark.createDataFrame(rows, schema)
    got = {r.frame_index: r.annotated for r in annotate.annotate_frames(frames).collect()}
    assert got[1] is not None
    assert got[2] is None


def _flood_components(classes):
    """Reference 4-connected labelling: BFS flood fill from each unseen
    pixel in raster order → (class, y0, x0, y1, x1, area) per component,
    exclusive upper bounds, in raster order of each first pixel."""
    from collections import deque

    h, w = classes.shape
    seen = [[False] * w for _ in range(h)]
    out = []
    for sy in range(h):
        for sx in range(w):
            if seen[sy][sx]:
                continue
            c = classes[sy, sx]
            seen[sy][sx] = True
            queue = deque([(sy, sx)])
            y0, x0, y1, x1, area = sy, sx, sy, sx, 0
            while queue:
                y, x = queue.popleft()
                y0, x0, y1, x1 = min(y0, y), min(x0, x), max(y1, y), max(x1, x)
                area += 1
                for ny, nx in ((y - 1, x), (y + 1, x), (y, x - 1), (y, x + 1)):
                    if 0 <= ny < h and 0 <= nx < w and not seen[ny][nx] and classes[ny, nx] == c:
                        seen[ny][nx] = True
                        queue.append((ny, nx))
            out.append((int(c), y0, x0, y1 + 1, x1 + 1, area))
    return out


def _serpentine(h, w):
    """One snake: every even column, joined alternately at the bottom
    and top rows — a component whose path is most of the image."""
    import numpy as np

    m = np.zeros((h, w), dtype=np.int8)
    m[:, ::2] = 1
    for i, x in enumerate(range(1, w, 2)):
        m[0 if i % 2 else h - 1, x] = 1
    return m


def test_components_match_flood_fill():
    """The vectorised components equal a BFS flood fill, in order, on
    seeded random class images of every aspect (empty, 1×N and N×1
    included) and on the adversarial shapes: diagonal-only contact,
    U-shapes, a vertical serpentine and a checkerboard."""
    import numpy as np

    rng = np.random.default_rng(7)
    images = []
    sizes = [(0, 5), (5, 0), (1, 1), (1, 17), (17, 1), (2, 2), (9, 13), (31, 7), (24, 32)]
    for h, w in sizes:
        for k in (1, 2, 4):
            images.append(rng.integers(0, k, (h, w)).astype(np.int8))
        blocky = rng.integers(0, 4, ((h + 2) // 3, (w + 2) // 3))
        images.append(np.repeat(np.repeat(blocky, 3, 0), 3, 1)[:h, :w].astype(np.int8))
    diagonal = np.eye(6, dtype=np.int8)
    images += [diagonal, diagonal[::-1].copy()]
    u = np.zeros((7, 9), dtype=np.int8)
    u[1:6, 1] = u[1:6, 7] = u[5, 1:8] = 1  # U: arms meet only at the bottom
    images += [u, u[::-1].copy(), u.T.copy()]
    images += [_serpentine(20, 15), _serpentine(15, 20).T.copy()]
    images.append((np.indices((12, 10)).sum(axis=0) % 2).astype(np.int8))
    for img in images:
        got = [tuple(c) for c in annotate._components(img).tolist()]
        assert got == _flood_components(img), img.shape


def test_detect_blobs_batch_equals_per_image():
    """``detect_blobs`` over a mixed list (grey, grey+alpha, RGB, RGBA,
    two sizes) gives each image what a call on it alone gives."""
    import numpy as np

    rng = np.random.default_rng(3)
    arrays = []
    for h, w in ((24, 32), (15, 9)):
        for shape in ((h, w), (h, w, 2), (h, w, 3), (h, w, 4)):
            palette = rng.integers(0, 256, (4,) + shape[2:])
            blocks = rng.integers(0, 4, ((h + 3) // 4, (w + 3) // 4))
            img = palette[np.repeat(np.repeat(blocks, 4, 0), 4, 1)[:h, :w]]
            arrays.append(img.astype(np.uint8))
    batch = annotate.detect_blobs(arrays)
    assert batch == [annotate.detect_blobs([a])[0] for a in arrays]
    assert any(labels for labels in batch)
