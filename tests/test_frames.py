"""P5-P8 identity parsing, A4 gap audit, A5 run diff."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
    frames as fr,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
    fixtures,
)


def test_with_frame_identity(spark):
    paths = [
        ("s3://bkt/drives/2020-10-05-10-00-00_bag0000/left0193.png",),
        ("s3://bkt/drives/2020-10-05-10-00-00_bag0000/right0033.png",),
        ("s3://bkt/drives/2020-10-05-10-00-00_bag0000/notes.txt",),  # P5 drop
    ]
    df = fr.with_frame_identity(spark.createDataFrame(paths, "path string"))
    rows = {r.filename: r for r in df.collect()}
    assert set(rows) == {"left0193.png", "right0033.png"}
    left = rows["left0193.png"]
    assert left.camera == "left" and left.frame_index == 193
    assert left.bag_time == dt.datetime(2020, 10, 5, 10, 0, 0)
    # frame_time = bag_time + 193*67ms (processing.py:218-221)
    assert left.frame_time == left.bag_time + dt.timedelta(milliseconds=193 * 67)


def test_read_frames_scans_pngs_with_identity(spark, tmp_path):
    """S10: a ``binaryFile`` scan of a bag's PNG directory → frame rows
    with their bytes and path-derived identity; other files are skipped."""
    import numpy as np

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.functions import (
        png,
    )
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
        frames_source,
    )

    d = tmp_path / "2020-10-05-10-00-00_bag0000"
    d.mkdir()
    img = png.encode(np.full((4, 6, 3), 7, dtype=np.uint8))
    (d / "left0193.png").write_bytes(img)
    (d / "notes.txt").write_bytes(b"not a frame")
    rows = frames_source.read_frames(spark, str(d)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.filename, r.bag_id, r.camera, r.frame_index) == (
        "left0193.png", "2020-10-05-10-00-00_bag0000", "left", 193,
    )
    assert r.bag_time == dt.datetime(2020, 10, 5, 10, 0, 0)
    assert bytes(r.content) == img


def test_gap_audit_finds_injected_gaps(spark):
    frames_df = fixtures.frames(spark, n_bags=2, frames_per_camera=60, drop_pct=0.05)
    # python recompute of expected gaps
    present: dict[tuple, list[int]] = {}
    for r in frames_df.select("bag_id", "camera", "frame_index").collect():
        present.setdefault((r.bag_id, r.camera), []).append(r.frame_index)
    want = set()
    for key, idxs in present.items():
        idxs.sort()
        for prev, cur in zip(idxs, idxs[1:]):
            if cur != prev + 1:
                want.add((*key, prev, cur, cur - prev - 1))
    got = {
        (r.bag_id, r.camera, r.prev_idx, r.frame_index, r.missed)
        for r in fr.gap_audit(frames_df).collect()
    }
    assert got == want and want  # fixture guarantees at least one gap


def test_run_diff(spark):
    a = spark.createDataFrame([("f1.png",), ("f2.png",), ("f3.png",)], "filename string")
    b = spark.createDataFrame([("f1.png",), ("f3.png",)], "filename string")
    assert [r.filename for r in fr.run_diff(a, b).collect()] == ["f2.png"]


def test_strip_bag_suffix(spark):
    df = spark.createDataFrame([("drives/x_bag0000.bag",), ("drives/keep.txt",)], "key string")
    got = [r[0] for r in df.select(fr.strip_bag_suffix(F.col("key"))).collect()]
    assert got == ["drives/x_bag0000", "drives/keep.txt"]


def test_identity_parses_tolerate_nonconforming_paths(spark):
    """A filename without a 4-digit run or a path without a date segment
    yields NULL fields instead of an ANSI cast/parse abort of the whole
    scan (regression); bag_id is derived so gap_audit composes."""
    files = spark.createDataFrame(
        [
            ("s3://b/2020-11-19-09-30-01/left0001.png",),
            ("s3://b/misc/calib.png",),  # no digits, no date
        ],
        "path string",
    )
    got = {r.filename: r for r in fr.with_frame_identity(files).collect()}
    ok = got["left0001.png"]
    assert ok.frame_index == 1 and ok.bag_time is not None
    assert ok.bag_id == "2020-11-19-09-30-01"
    bad = got["calib.png"]
    assert bad.frame_index is None and bad.bag_time is None
    assert bad.frame_time is None
    # composition: the audit's default (bag_id, camera) partitioning works
    fr.gap_audit(fr.with_frame_identity(files)).collect()
