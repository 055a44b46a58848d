"""Deterministic fixture generators matching FIXTURES.md schemas.

Used by tests (and the golden checks) in place of live bag decode — the same
role the reference's sample bag plays for its ad-hoc tests (SURVEY §5).
Seeded, pure-Python generation; small enough to build per-test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json

from pyspark.sql import DataFrame, SparkSession

from ..schemas import (
    BAG_MANIFEST_SCHEMA,
    FRAMES_SCHEMA,
    LABELS_TABLE_SCHEMA,
    TOPIC_MESSAGES_SCHEMA,
)

BASE_TIME = dt.datetime(2020, 10, 5, 10, 0, 0)

_TOPIC_RATES = {
    "/imu": 100,
    "/tf": 50,
    "/gps": 10,
    "/gps_time": 10,
    "/pose_ground_truth": 20,
    "/pose_localized": 20,
    "/pose_raw": 20,
    "/velocity_raw": 20,
}


def _h(s: str) -> float:
    """Deterministic [0,1) from a string."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) / 2**32


def _payload(topic: str, bag_id: str, i: int) -> dict[str, str]:
    def v(field: str) -> str:
        return f"{_h(f'{bag_id}:{topic}:{field}:{i}') * 2 - 1:.6f}"

    if topic == "/imu":
        keys = (
            [f"orientation.{a}" for a in "xyzw"]
            + [f"angular_velocity.{a}" for a in "xyz"]
            + [f"linear_acceleration.{a}" for a in "xyz"]
            + [f"orientation_covariance.{j}" for j in range(9)]
        )
    elif topic == "/gps":
        return {
            "latitude": v("latitude"),
            "longitude": v("longitude"),
            "altitude": v("altitude"),
            "status.status": "0",
            "status.service": "1",
        }
    elif topic == "/gps_time":
        return {"time_ref.secs": str(1601892000 + i), "time_ref.nsecs": str(i * 1000)}
    elif topic.startswith("/pose"):
        # geometry_msgs/PoseStamped flattening (real ROS field paths)
        keys = [f"pose.position.{a}" for a in "xyz"] + [
            f"pose.orientation.{a}" for a in "xyzw"
        ]
    elif topic == "/velocity_raw":
        keys = [f"twist.linear.{a}" for a in "xyz"] + [f"twist.angular.{a}" for a in "xyz"]
    else:  # /tf — geometry_msgs/TransformStamped flattening
        return {
            "child_frame_id": "base_link",
            **{f"transform.translation.{a}": v(f"translation.{a}") for a in "xyz"},
            **{f"transform.rotation.{a}": v(f"rotation.{a}") for a in "xyzw"},
        }
    return {k: v(k) for k in keys}


def _bag_rows(
    b: int, duration_s: int = 4, gap_pct: float = 0.005
) -> list[tuple]:
    """Message rows for one bag — shared by the DataFrame fixture and the
    .bag-file writer so decode output is bit-identical to the fixture table."""
    bag_id = f"bag{b:04d}"
    base_ns = int(BASE_TIME.timestamp() * 1e9)
    rows = []
    for topic, rate in _TOPIC_RATES.items():
        n = rate * duration_s
        for i in range(n):
            if _h(f"gap:{bag_id}:{topic}:{i}") < gap_pct:
                continue  # injected seq gap (audit target)
            rows.append(
                (
                    bag_id,
                    topic,
                    base_ns + b * 60 * 10**9 + int(i / rate * 1e9),
                    i,
                    _payload(topic, bag_id, i),
                )
            )
    return rows


def topic_messages(
    spark: SparkSession,
    n_bags: int = 3,
    duration_s: int = 4,
    gap_pct: float = 0.005,
) -> DataFrame:
    rows = [r for b in range(n_bags) for r in _bag_rows(b, duration_s, gap_pct)]
    return spark.createDataFrame(rows, TOPIC_MESSAGES_SCHEMA)


def rosbag_bytes(
    b: int,
    duration_s: int = 4,
    gap_pct: float = 0.005,
    frames_per_camera: int = 12,
    compression: str = "none",
) -> bytes:
    """Serialize one fixture bag in the REAL ROS bag 2.0 record format
    (sources/rosbag_format.py): topic messages as their genuine ROS types
    (sensor_msgs/Imu, NavSatFix, TimeReference; geometry_msgs/PoseStamped,
    TwistStamped, TransformStamped) and camera frames as raw-pixel
    sensor_msgs/Image messages. Decoding through ``rosbag_decoder`` /
    ``rosbag_frame_decoder`` reproduces the DataFrame fixtures exactly.
    """
    from . import rosbag_format as rb

    messages = []
    for bag_id, topic, ts, seq, payload in _bag_rows(b, duration_s, gap_pct):
        msg_type, definition = rb.TOPIC_TYPES[topic]
        secs, nsecs = divmod(ts, 1_000_000_000)
        flat = {
            "header.seq": seq,
            "header.stamp.secs": secs,
            "header.stamp.nsecs": nsecs,
            "header.frame_id": bag_id,
            **payload,
        }
        messages.append((topic, msg_type, definition, ts, flat))
    for bag_id, camera, idx, _fname, ftime, w, h, _png in _frame_rows(
        b, frames_per_camera, with_content=False
    ):
        t_us = int(ftime.timestamp() * 1_000_000)
        arr = _frame_array(f"{bag_id}:{camera}:{idx}", w, h)
        flat = {
            "header.seq": idx,
            "header.stamp.secs": t_us // 1_000_000,
            "header.stamp.nsecs": (t_us % 1_000_000) * 1000,
            "header.frame_id": camera,
            "height": h,
            "width": w,
            "encoding": "rgb8",
            "is_bigendian": 0,
            "step": w * 3,
            "data": arr.tobytes(),
        }
        messages.append(
            (
                rb.IMAGE_TOPIC_FMT.format(camera=camera),
                "sensor_msgs/Image",
                rb.IMAGE_DEF,
                t_us * 1000,
                flat,
            )
        )
    messages.sort(key=lambda m: m[3])  # chronological, like rosbag record
    # per-topic chunks: multi-chunk layout + chunk-info index, so the
    # reader's whole-chunk topic skip is exercised by every fixture bag
    return rb.write_bag(messages, compression=compression, chunk_mode="per_topic")


def write_bag_dir(
    dest_dir: str,
    n_bags: int = 3,
    tar_gz: tuple[int, ...] = (1,),
    duration_s: int = 4,
    compression: str = "none",
) -> list[str]:
    """Write real-format ``.bag`` files (some ``.tar.gz``-wrapped,
    engine.py:35-51 semantics: exactly one bag per tarball). Returns the
    written paths."""
    import io
    import os
    import tarfile

    os.makedirs(dest_dir, exist_ok=True)
    paths = []
    for b in range(n_bags):
        bag_id = f"bag{b:04d}"
        data = rosbag_bytes(b, duration_s, compression=compression)
        if b in tar_gz:
            p = os.path.join(dest_dir, f"{bag_id}.bag.tar.gz")
            with tarfile.open(p, "w:gz") as tf:
                info = tarfile.TarInfo(name=f"{bag_id}.bag")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
        else:
            p = os.path.join(dest_dir, f"{bag_id}.bag")
            with open(p, "wb") as f:
                f.write(data)
        paths.append(p)
    return paths


def write_topic_csvs(spark: SparkSession, dest_dir: str, n_bags: int = 2) -> list[str]:
    """Reference CSV landing layout: ``csvs/topic=<t>/<t>.csv`` with one wide
    header per topic (bag_to_csv.py:99-105,114-136). Input for the S8 path."""
    import csv as _csv
    import os

    msgs = [r for b in range(n_bags) for r in _bag_rows(b)]
    dirs = []
    for topic in _TOPIC_RATES:
        t_rows = [r for r in msgs if r[1] == topic]
        fields = sorted(t_rows[0][4])
        d = os.path.join(dest_dir, f"topic={topic.lstrip('/')}")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"{topic.lstrip('/')}.csv")
        with open(p, "w", newline="") as f:
            w = _csv.writer(f)
            w.writerow(["bag_id", "rosbagTimestamp", "seq"] + fields)
            for bag_id, _, ts, seq, payload in t_rows:
                w.writerow([bag_id, ts, seq] + [payload[k] for k in fields])
        dirs.append(d)
    return dirs


FRAME_W, FRAME_H = 32, 24


def _frame_array(key: str, w: int = FRAME_W, h: int = FRAME_H):
    """Deterministic w×h RGB pixel array keyed by hash — a gradient over a
    base color (the raw form rides in sensor_msgs/Image fixture bags)."""
    import numpy as np

    c = hashlib.md5(key.encode()).digest()[:3]
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [((yy * 7 + xx * 3 + band) % 64 + ch) % 256
         for band, ch in zip((0, 85, 170), c)],
        axis=2,
    ).astype(np.uint8)


def _frame_png(key: str, w: int = FRAME_W, h: int = FRAME_H) -> bytes:
    """PNG-encoded form of ``_frame_array`` via the pure-numpy codec."""
    from ..functions import png

    return png.encode(_frame_array(key, w, h))


def _frame_rows(
    b: int,
    frames_per_camera: int = 60,
    drop_pct: float = 0.01,
    with_content: bool = True,
) -> list[tuple]:
    bag_id = f"bag{b:04d}"
    bag_time = BASE_TIME + dt.timedelta(minutes=b)
    rows = []
    for camera in ["front", "rear", "left", "right"]:
        for i in range(frames_per_camera):
            if _h(f"drop:{bag_id}:{camera}:{i}") < drop_pct:
                continue
            rows.append(
                (
                    bag_id,
                    camera,
                    i,
                    f"{camera}{i:04d}.png",
                    bag_time + dt.timedelta(milliseconds=67 * i),
                    FRAME_W,
                    FRAME_H,
                    _frame_png(f"{bag_id}:{camera}:{i}") if with_content else None,
                )
            )
    return rows


def frames(
    spark: SparkSession,
    n_bags: int = 2,
    frames_per_camera: int = 60,
    drop_pct: float = 0.01,
    with_content: bool = True,
) -> DataFrame:
    rows = [
        r
        for b in range(n_bags)
        for r in _frame_rows(b, frames_per_camera, drop_pct, with_content)
    ]
    return spark.createDataFrame(rows, FRAMES_SCHEMA)


_VOCAB = [
    ("Road", []),
    ("Highway", [{"Name": "Road"}]),
    ("Car", [{"Name": "Vehicle"}, {"Name": "Transportation"}]),
    ("Person", []),
    ("Bicycle", [{"Name": "Vehicle"}]),
    ("Motorcycle", [{"Name": "Vehicle"}]),
    ("Traffic Light", [{"Name": "Light"}]),
    ("Tarmac", [{"Name": "Road"}]),
]
_INSTANCE_BEARING = {"Car", "Person", "Bicycle", "Motorcycle"}


def labels(spark: SparkSession, frames_df: DataFrame) -> DataFrame:
    """Per-frame label arrays in the Rekognition shape (outputs/*.json),
    including duplicate names at different confidences (max-agg target) and
    zero-instance Person labels (counter skip target, processing.py:244-246)."""
    frame_rows = frames_df.select("bag_id", "camera", "frame_index").collect()
    rows = []
    for fr in frame_rows:
        key = f"{fr.bag_id}:{fr.camera}:{fr.frame_index}"
        labs = []
        for j, (name, parents) in enumerate(_VOCAB):
            r = _h(f"{key}:{name}")
            if r < 0.55:
                continue
            conf = 50.0 + round(_h(f"{key}:{name}:conf") * 50, 3)
            n_inst = (
                int(_h(f"{key}:{name}:n") * 4) if name in _INSTANCE_BEARING else 0
            )
            instances = [
                {
                    "BoundingBox": {
                        "Width": round(_h(f"{key}:{name}:{k}:w") * 0.5, 4),
                        "Height": round(_h(f"{key}:{name}:{k}:h") * 0.5, 4),
                        "Left": round(_h(f"{key}:{name}:{k}:l") * 0.5, 4),
                        "Top": round(_h(f"{key}:{name}:{k}:t") * 0.5, 4),
                    },
                    "Confidence": 50.0 + round(_h(f"{key}:{name}:{k}:c") * 50, 3),
                }
                for k in range(n_inst)
            ]
            labs.append(
                {
                    "Name": name,
                    "Confidence": conf,
                    "Instances": instances,
                    "Parents": parents,
                }
            )
            # duplicate same-name label at different confidence (~20%)
            if _h(f"{key}:{name}:dup") < 0.2:
                labs.append(
                    {
                        "Name": name,
                        "Confidence": conf - 10.0,
                        "Instances": [],
                        "Parents": parents,
                    }
                )
        rows.append((fr.bag_id, fr.camera, fr.frame_index, labs))
    return spark.createDataFrame(rows, LABELS_TABLE_SCHEMA)


def bag_manifest(spark: SparkSession, n_bags: int = 20) -> DataFrame:
    rows = []
    statuses = [None, None, None, None, "complete", "complete", "complete", "failure", "in progress", None]
    for b in range(n_bags):
        bag_id = f"bag{b:04d}"
        mm, ss = divmod(b * 97 % 3600, 60)
        key = f"drives/2020-10-05-10-{mm:02d}-{ss:02d}_{bag_id}.bag"
        if b % 10 == 9:
            key = key.replace(".bag", ".txt")  # noise key (wildcard test)
        rows.append(
            (
                bag_id,
                "src-bucket",
                key,
                int(1e8 + _h(f"sz:{bag_id}") * 1.9e9),
                statuses[b % 10],
                BASE_TIME + dt.timedelta(seconds=b),
            )
        )
    return spark.createDataFrame(rows, BAG_MANIFEST_SCHEMA)


def golden_labels(spark: SparkSession, reference_outputs_dir: str = "/root/reference/outputs") -> DataFrame | None:
    """Load the reference's two golden label JSONs as rows (read-only data,
    used for hand-checkable parity tests; returns None when unavailable)."""
    import os

    files = {
        ("bag0000", "left", 193): "left0193_labels.json",
        ("bag0000", "right", 33): "right0033.json",
    }
    rows = []
    for (bag, cam, idx), fn in files.items():
        p = os.path.join(reference_outputs_dir, fn)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            rows.append((bag, cam, idx, json.load(f)))
    return spark.createDataFrame(rows, LABELS_TABLE_SCHEMA)
