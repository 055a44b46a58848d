"""Binary sources: camera frames + bag files (operators S1, S4-S6, S10, S11).

``read_frames`` is the production path: ``binaryFile`` scan (splittable
listing, pushes the path glob down) + identity derivation — replaces the
reference's "replay bag through ROS at 0.5× and save PNGs" (engine.py:96-99)
with a deterministic one-pass scan.

``decode_bags`` is the bag-decode contract (S4/S10): bag paths → one row
set per bag holding its topic messages AND its PNG frames. Each task opens
its bags by path (sources/rosbag_format.open_bag) and parses each once with
the real pure-Python ROS bag 2.0 codec (the format the reference reads via
``rosbag.Bag`` / ``importRosbag``), so a bag never travels as a Spark row
and ``binaryFile``'s row-size cap never applies. ``read_bag_messages`` is
the messages-only form of the same read.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.frames import with_frame_identity
from .rosbag_format import (
    FRAME_COLUMNS,
    MESSAGE_COLUMNS,
    decode_bag,
    open_bag,
    rosbag_decoder,
)

TOPIC_MESSAGES_DDL = (
    "bag_id string, topic string, rosbagTimestamp long, seq int, "
    "payload map<string,string>"
)


def read_frames(spark: SparkSession, path: str) -> DataFrame:
    """PNG frames as a multimodal table (S10 + P5-P8).

    ``binaryFile`` gives (path, modificationTime, length, content); identity
    columns derive from the path. At 100 TB: content stays in executor-side
    Arrow batches; never collect it.
    """
    df = spark.read.format("binaryFile").option("pathGlobFilter", "*.png").load(path)
    return with_frame_identity(df, "path")


FRAMES_DDL = (
    "bag_id string, camera string, frame_index int, filename string, "
    "frame_time timestamp, width int, height int, content binary"
)

# ``decode_bags`` output: the message and frame columns side by side (a
# message row leaves the frame columns null and vice versa) plus the
# quarantine pair. Every row carries its source path; a failed bag yields
# exactly one row with ``decode_error`` set and all data columns null. This
# keeps per-bag failure isolation inside ONE Spark job per tick (the O2
# contract) — no driver-side per-bag loop launching a filtered job per key.
BAG_ROWS_DDL = (
    TOPIC_MESSAGES_DDL
    + FRAMES_DDL.removeprefix("bag_id string")
    + ", bag_path string, decode_error string"
)
_BAG_ROWS_COLUMNS = [c.split()[0] for c in BAG_ROWS_DDL.split(", ")]


def decode_bags(paths: DataFrame, topics: list[str] | None) -> DataFrame:
    """Bag paths (any DataFrame with a ``path`` column) → ``BAG_ROWS_DDL``
    rows: the messages on ``topics`` (None = all), a PNG frame row per
    sensor_msgs/Image message, or one quarantine row for a bag that fails
    to open or parse.

    The decode runs over ``paths``' own partitions — a ``binaryFile``
    listing scan gives one task per bag — and each bag is read once, by
    path, inside its task (the reference needs two full bag passes plus a
    realtime replay, engine.py:96-137). Tell the row kinds apart by
    ``topic`` (message), ``camera`` (frame) or ``decode_error``.
    """
    want = set(topics) if topics else None

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path in pdf["path"]:
                try:
                    msgs, imgs = decode_bag(path, open_bag(path), want, True)
                except Exception as exc:  # noqa: BLE001 — quarantine boundary
                    yield pd.DataFrame(
                        [[None] * (len(_BAG_ROWS_COLUMNS) - 2) + [path, repr(exc)]],
                        columns=_BAG_ROWS_COLUMNS,
                    )
                    continue
                # one pandas frame per row kind: mixing kinds would turn
                # null-padded int columns into float64, and a float64
                # rosbagTimestamp loses nanoseconds
                for rows, cols in ((msgs, MESSAGE_COLUMNS), (imgs, FRAME_COLUMNS)):
                    out = pd.DataFrame(rows, columns=cols).assign(bag_path=path)
                    nulls = {c: None for c in _BAG_ROWS_COLUMNS if c not in out}
                    yield out.assign(**nulls)[_BAG_ROWS_COLUMNS]

    return paths.select("path").mapInPandas(_decode, schema=BAG_ROWS_DDL)


def read_bag_messages(
    spark: SparkSession, path: str, topics: list[str] | None = None
) -> DataFrame:
    """Bag files under ``path`` → long topic_messages (S4/S6).

    The glob accepts both bare ``.bag`` and ``.bag.tar.gz`` objects
    (``open_bag`` sniffs the gzip magic and unwraps, S6). The ``binaryFile``
    scan only lists (no ``content`` column is read); each task opens its
    bags by path and pushes the topic predicate into the parse.
    """
    paths = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bag*")
        .load(path)
        .select("path")
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p in pdf["path"]:
                yield rosbag_decoder(p, open_bag(p), topics)

    return paths.mapInPandas(_decode, schema=TOPIC_MESSAGES_DDL)


def bag_info(messages: DataFrame) -> DataFrame:
    """S11: `rosbag info` equivalent — per (bag, topic) message counts and
    time range; an aggregation over the long table instead of a second scan."""
    return messages.groupBy("bag_id", "topic").agg(
        F.count("*").alias("msg_count"),
        F.min("rosbagTimestamp").alias("start_ns"),
        F.max("rosbagTimestamp").alias("end_ns"),
    )
