"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (and the size arguments):
the same seed gives byte-identical bags and tables, a new seed gives new
content and new bag stems. Bags are written through the package's public
ROS bag 2.0 writer (``rosbag_format.write_bag`` / ``TOPIC_TYPES`` /
``IMAGE_DEF``), so the pipeline decodes them exactly as it would a
recorded drive.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import os
import tarfile

import numpy as np

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
    rosbag_format as rb,
)

# Telemetry rates (messages per second) of the repo's fixture bags.
TOPIC_RATES = {
    "/imu": 100,
    "/tf": 50,
    "/gps": 10,
    "/gps_time": 10,
    "/pose_ground_truth": 20,
    "/pose_localized": 20,
    "/pose_raw": 20,
    "/velocity_raw": 20,
}
CAMERAS = ("front", "left", "right", "rear")
BASE_NS = 1_601_892_000 * 10**9  # 2020-10-05 10:00 UTC

_XYZ, _XYZW = "xyz", "xyzw"
_FIELDS = {
    "/imu": [f"orientation.{a}" for a in _XYZW]
    + [f"angular_velocity.{a}" for a in _XYZ]
    + [f"linear_acceleration.{a}" for a in _XYZ],
    "/gps": ["latitude", "longitude", "altitude"],
    "/pose_ground_truth": [f"pose.position.{a}" for a in _XYZ]
    + [f"pose.orientation.{a}" for a in _XYZW],
    "/velocity_raw": [f"twist.linear.{a}" for a in _XYZ]
    + [f"twist.angular.{a}" for a in _XYZ],
    "/tf": [f"transform.translation.{a}" for a in _XYZ]
    + [f"transform.rotation.{a}" for a in _XYZW],
}
_FIELDS["/pose_localized"] = _FIELDS["/pose_raw"] = _FIELDS["/pose_ground_truth"]


def bag_stem(seed: int, index: int) -> str:
    return f"drive{seed:06d}_{index:04d}"


def _telemetry(rng: np.random.Generator, stem: str, t0: int, duration_s: int):
    out = []
    for topic, rate in TOPIC_RATES.items():
        msg_type, definition = rb.TOPIC_TYPES[topic]
        names = _FIELDS.get(topic, [])
        values = rng.uniform(-1.0, 1.0, size=(rate * duration_s, len(names)))
        for i in range(rate * duration_s):
            t_ns = t0 + i * 10**9 // rate
            secs, nsecs = divmod(t_ns, 10**9)
            flat: dict[str, object] = {
                "header.seq": i,
                "header.stamp.secs": secs,
                "header.stamp.nsecs": nsecs,
                "header.frame_id": stem,
            }
            flat.update(zip(names, values[i].tolist()))
            if topic == "/gps_time":
                flat["time_ref.secs"] = secs
                flat["source"] = "gps"
            elif topic == "/tf":
                flat["child_frame_id"] = "base_link"
            out.append((topic, msg_type, definition, t_ns, flat))
    return out


def frame_pixels(
    rng: np.random.Generator, width: int, height: int, n_boxes: int
) -> np.ndarray:
    """A grey gradient with sensor noise and ``n_boxes`` saturated solid
    boxes: the noisy gradient stays one low-saturation region (and does
    not PNG-compress away, like a real camera frame), each box is a colour
    blob large enough for the default detector to report it."""
    yy, xx = np.mgrid[0:height, 0:width]
    grey = 40 + yy * 97 // height + xx * 61 // width
    noise = rng.integers(-3, 4, size=(height, width, 3))
    arr = (grey[:, :, None] + noise).astype(np.uint8)
    for _ in range(n_boxes):
        bw = int(rng.integers(width // 6, width // 3))
        bh = int(rng.integers(height // 6, height // 3))
        x0 = int(rng.integers(0, width - bw))
        y0 = int(rng.integers(0, height - bh))
        colour = np.zeros(3, np.uint8)
        colour[int(rng.integers(0, 3))] = int(rng.integers(170, 256))
        arr[y0:y0 + bh, x0:x0 + bw] = colour
    return arr


def bag_bytes(
    seed: int,
    index: int,
    frames_per_camera: int,
    width: int,
    height: int,
    duration_s: int = 4,
    cameras: tuple[str, ...] = CAMERAS,
) -> tuple[bytes, dict[str, int]]:
    """One ROS bag 2.0 byte string and its expected counts
    (``messages`` = telemetry messages, ``frames`` = camera frames)."""
    stem = bag_stem(seed, index)
    rng = np.random.default_rng([seed, index])
    t0 = BASE_NS + index * 60 * 10**9
    messages = _telemetry(rng, stem, t0, duration_s)
    n_msgs = len(messages)
    for camera in cameras:
        for i in range(frames_per_camera):
            t_ns = t0 + i * duration_s * 10**9 // max(frames_per_camera, 1)
            secs, nsecs = divmod(t_ns, 10**9)
            arr = frame_pixels(rng, width, height, int(rng.integers(1, 4)))
            messages.append(
                (
                    rb.IMAGE_TOPIC_FMT.format(camera=camera),
                    "sensor_msgs/Image",
                    rb.IMAGE_DEF,
                    t_ns,
                    {
                        "header.seq": i,
                        "header.stamp.secs": secs,
                        "header.stamp.nsecs": nsecs,
                        "header.frame_id": camera,
                        "height": height,
                        "width": width,
                        "encoding": "rgb8",
                        "is_bigendian": 0,
                        "step": width * 3,
                        "data": arr.tobytes(),
                    },
                )
            )
    messages.sort(key=lambda m: m[3])
    data = rb.write_bag(messages, chunk_mode="per_topic")
    return data, {"messages": n_msgs, "frames": frames_per_camera * len(cameras)}


def _tar_gz(name: str, data: bytes) -> bytes:
    """Deterministic single-member ``.tar.gz`` (fixed mtimes)."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        info = tarfile.TarInfo(name=name)
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    return gzip.compress(buf.getvalue(), compresslevel=1, mtime=0)


def write_bag(dest_dir: str, seed: int, index: int, **size) -> dict:
    """Write bag ``index`` of ``seed`` under ``dest_dir``; every fourth bag
    is ``.tar.gz``-wrapped. Returns {path, stem, bytes, messages, frames}."""
    stem = bag_stem(seed, index)
    data, counts = bag_bytes(seed, index, **size)
    if index % 4 == 3:
        path = os.path.join(dest_dir, f"{stem}.bag.tar.gz")
        data = _tar_gz(f"{stem}.bag", data)
    else:
        path = os.path.join(dest_dir, f"{stem}.bag")
    os.makedirs(dest_dir, exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
    return {"path": path, "stem": stem, "bytes": len(data), **counts}


# ---------------------------------------------------------------------------
# tables for the registry queries
# ---------------------------------------------------------------------------

_WORDS = (
    "a the row column table key value part order customer line query data "
    "scan filter join group agg sort merge hash window stream batch spark "
    "vector small big fast slow"
).split()
_LANGS = (["en"] * 3) + ["zh", "es", "de", "fr"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_NOUN = ["widget", "gear", "bolt", "ring", "rod", "plate", "gizmo", "anvil"]


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def tables(seed: int, scale: float = 1.0) -> dict[str, "object"]:
    """The ten tables the registry reads, as pyarrow tables, shaped like
    the engine's reference data (uniform TPC-H-like keys, a random-word
    document corpus with ~5% near-duplicates, unit-norm embeddings, a
    time-ordered event stream). ``scale=1`` is 60k lineitem rows."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)

    def n(base: int) -> int:
        return max(1, int(round(base * scale)))

    n_cust, n_part, n_supp = n(1500), n(2000), n(100)
    n_ord, n_line, n_doc, n_emb, n_ev = n(15000), n(60000), n(500), n(500), n(10000)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(0, 10000, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(0, 10000, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2)).tolist()
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part).tolist()],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
        }),
    }

    # exactly 5% of the documents (never the first) are near-duplicates
    # of an earlier one, so every seed carries the same amount of dedup work
    dups = set(rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n_doc):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, k).tolist()))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })

    gaps_us = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + np.cumsum(gaps_us).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n(150)), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    })
    return out


def write_tables(dest_dir: str, seed: int, scale: float = 1.0) -> int:
    """Write ``tables(seed, scale)`` as ``<dest_dir>/<name>.parquet``;
    returns the bytes written."""
    import pyarrow.parquet as pq

    os.makedirs(dest_dir, exist_ok=True)
    total = 0
    for name, table in tables(seed, scale).items():
        path = os.path.join(dest_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
