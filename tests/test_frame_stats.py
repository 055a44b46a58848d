"""A1/A2/K4-K6/P9 — per-frame stats pivot, including golden-label parity.

The golden expectations are computed here in pure Python (json + dict math)
directly from the reference's shipped outputs (outputs/left0193_labels.json,
outputs/right0033.json), mirroring processing.py:239-283 semantics — an
implementation-independent check of the Spark pivot.
"""

from __future__ import annotations

import json

import pytest

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
    frame_stats,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
    fixtures,
)

GOLDEN = {
    "left": "/root/reference/outputs/left0193_labels.json",
    "right": "/root/reference/outputs/right0033.json",
}


def _python_stats(labels: list[dict]) -> tuple[dict, dict]:
    """Reference semantics (processing.py:239-283): max confidence per
    sanitized name; instance counts for Person/Bicycle/Motorcycle."""
    max_conf: dict[str, float] = {}
    counts = {"Ped_Count": 0, "Bike_Count": 0, "Motorbike_Count": 0}
    by_cls = {"Person": "Ped_Count", "Bicycle": "Bike_Count", "Motorcycle": "Motorbike_Count"}
    for lab in labels:
        name = lab["Name"].replace(" ", "_")
        max_conf[name] = max(max_conf.get(name, -1.0), lab["Confidence"])
        if lab["Name"] in by_cls:
            counts[by_cls[lab["Name"]]] += len(lab.get("Instances") or [])
    return max_conf, counts


@pytest.fixture(scope="module")
def golden_df(spark):
    df = fixtures.golden_labels(spark)
    if df is None:
        pytest.skip("reference outputs not available")
    return df


def test_golden_instance_counts(spark, golden_df):
    got = {
        (r.camera): r.asDict()
        for r in frame_stats.instance_counts(golden_df).collect()
    }
    for cam, path in GOLDEN.items():
        _, want = _python_stats(json.load(open(path)))
        for k, v in want.items():
            assert got[cam][k] == v, (cam, k)


def test_golden_max_confidence(spark, golden_df):
    got = {r.camera: r.label_conf for r in frame_stats.max_confidence_map(golden_df).collect()}
    for cam, path in GOLDEN.items():
        want, _ = _python_stats(json.load(open(path)))
        assert dict(got[cam]) == pytest.approx(want), cam


def test_golden_pivot_matches_map(spark, golden_df):
    """pivot_stats (wide row) must agree with max_confidence_map + counts."""
    piv = frame_stats.pivot_stats(golden_df).collect()
    maps = {r.camera: dict(r.label_conf) for r in frame_stats.max_confidence_map(golden_df).collect()}
    for row in piv:
        d = row.asDict()
        for name, conf in maps[row.camera].items():
            assert d[name] == pytest.approx(conf), (row.camera, name)


def test_fixture_pivot_vs_python(spark):
    """Dup-name labels (max-agg target) and zero-instance labels on the
    fixture corpus: Spark pivot == pure-Python recompute, every frame."""
    frames_df = fixtures.frames(spark, n_bags=1, frames_per_camera=8)
    labels_df = fixtures.labels(spark, frames_df)
    rows = labels_df.collect()
    want = {
        (r.bag_id, r.camera, r.frame_index): _python_stats(
            [lab.asDict(recursive=True) for lab in r.labels]
        )
        for r in rows
        if r.labels
    }
    got_counts = {
        (r.bag_id, r.camera, r.frame_index): r.asDict()
        for r in frame_stats.instance_counts(labels_df).collect()
    }
    got_maps = {
        (r.bag_id, r.camera, r.frame_index): dict(r.label_conf)
        for r in frame_stats.max_confidence_map(labels_df).collect()
    }
    assert set(got_counts) == set(want)
    for key, (want_conf, want_counts) in want.items():
        for k, v in want_counts.items():
            assert got_counts[key][k] == v, (key, k)
        assert got_maps[key] == pytest.approx(want_conf), key


def test_frames_without_labels_get_zero_rows_and_null_names_drop(spark):
    """A frame with NULL (or empty) labels still gets its zero-count row
    (reference writes counts for every processed frame), and a NULL label
    Name can't crash the map build with NULL_MAP_KEY (regression)."""
    rows = [
        ("b", "left", 1, [(("Person"), 90.0, [((0.1, 0.1, 0.2, 0.2),)]), ((None), 50.0, [])]),
        ("b", "left", 2, None),
    ]
    schema = (
        "bag_id string, camera string, frame_index int, labels array<struct<"
        "Name string, Confidence double, Instances array<struct<"
        "BoundingBox struct<Left double, Top double, Width double, Height double>>>>>"
    )
    labels = spark.createDataFrame(rows, schema)
    counts = {
        r.frame_index: r.Ped_Count
        for r in frame_stats.instance_counts(labels).collect()
    }
    assert counts == {1: 1, 2: 0}  # label-less frame present with zeros

    maps = {
        r.frame_index: dict(r.label_conf)
        for r in frame_stats.max_confidence_map(labels).collect()
    }
    assert maps[1] == {"Person": 90.0}  # NULL name dropped, no crash
    assert maps[2] == {}  # empty map, frame row kept


def test_pivot_stats_has_no_null_column(spark):
    """Frames with NULL or empty labels, and labels with a NULL Name, add
    no column named ``null`` (regression: the outer-explode placeholder
    rows fed the pivot's value pass); label-less frames keep zero-count
    rows, names are sanitized, duplicate names take the max Confidence
    and a NULL Confidence is ignored. Repeated frame keys fold into one
    row, and an explicit vocabulary gives the same table."""
    box = ((0.1, 0.1, 0.2, 0.2),)
    rows = [
        ("b", "left", 1, [
            ("Person", 90.0, [box]),
            (None, 50.0, []),
            ("Traffic Light", 70.0, None),
            ("Traffic Light", 80.0, [box]),
            ("Person", None, [box, box]),
        ]),
        ("b", "left", 2, None),
        ("b", "left", 3, []),
        ("b", "right", 1, [("Bicycle", 60.0, [box])]),
        ("b", "right", 1, [("Bicycle", 65.0, [box, box]), ("Person", 55.0, None)]),
    ]
    schema = (
        "bag_id string, camera string, frame_index int, labels array<struct<"
        "Name string, Confidence double, Instances array<struct<"
        "BoundingBox struct<Left double, Top double, Width double, Height double>>>>>"
    )
    labels = spark.createDataFrame(rows, schema)
    stats = frame_stats.pivot_stats(labels)
    assert [(f.name, f.dataType.simpleString()) for f in stats.schema.fields] == [
        ("bag_id", "string"),
        ("camera", "string"),
        ("frame_index", "int"),
        ("Bicycle", "double"),
        ("Person", "double"),
        ("Traffic_Light", "double"),
        ("Ped_Count", "bigint"),
        ("Bike_Count", "bigint"),
        ("Motorbike_Count", "bigint"),
    ]
    got = {(r.camera, r.frame_index): tuple(r)[3:] for r in stats.collect()}
    assert got == {
        ("left", 1): (None, 90.0, 80.0, 3, 0, 0),
        ("left", 2): (None, None, None, 0, 0, 0),
        ("left", 3): (None, None, None, 0, 0, 0),
        ("right", 1): (65.0, 55.0, None, 0, 3, 0),
    }
    explicit = frame_stats.pivot_stats(
        labels, vocabulary=["Bicycle", "Person", "Traffic_Light"]
    )
    assert explicit.schema == stats.schema
    assert sorted(explicit.collect()) == sorted(stats.collect())
