"""Binary sources: camera frames + bag files (operators S4-S6, S10, S11).

``read_frames`` reads loose PNG frames: a ``binaryFile`` scan (splittable
listing, pushes the path glob down) + identity derivation from the path.

``decode_bags`` is E1's bag-decode contract (S4/S10 + P12/P13): bag paths →
one row set per bag holding its topic messages AND its labeled, annotated
frames — replacing the reference's "replay bag through ROS at 0.5× and
save PNGs" (engine.py:96-99) with a deterministic one-pass decode. Each
task opens its bags by path (sources/rosbag_format.open_bag) and parses
each once with the real pure-Python ROS bag 2.0 codec (the format the
reference reads via ``rosbag.Bag`` / ``importRosbag``), so a bag never
travels as a Spark row and no row-size cap applies. The same task runs
the model on the raw pixels, draws the boxes and PNG-encodes only the
annotated image: each frame crosses into Python once.

``read_bag_messages`` is the messages-only read: the registered ``rosbag``
format (sources/bag_datasource.py), listed by ``listing.list_bag_keys``
like E1's tick.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from ..functions import png
from ..operators import annotate
from ..operators.frames import with_frame_identity
from ..schemas import FRAMES_SCHEMA, LABELS_ARRAY_SCHEMA, TOPIC_MESSAGES_SCHEMA
from .rosbag_format import (
    FRAME_COLUMNS,
    MESSAGE_COLUMNS,
    decode_bag,
    open_bag,
)


def read_frames(spark: SparkSession, path: str) -> DataFrame:
    """PNG frames as a multimodal table (S10 + P5-P8).

    ``binaryFile`` gives (path, modificationTime, length, content); identity
    columns derive from the path. At 100 TB: content stays in executor-side
    Arrow batches; never collect it.
    """
    df = spark.read.format("binaryFile").option("pathGlobFilter", "*.png").load(path)
    return with_frame_identity(df, "path")


# ``decode_bags`` output: the message and frame columns side by side (a
# message row leaves the frame columns null and vice versa) plus the
# quarantine pair. A frame row carries the model's ``labels`` and the
# ``annotated`` PNG in place of the raw ``content``. Every row carries its
# source path; a failed bag yields exactly one row with ``decode_error`` set
# and all data columns null. This keeps per-bag failure isolation inside ONE
# Spark job per tick (the O2 contract) — no driver-side per-bag loop
# launching a filtered job per key.
BAG_ROWS = StructType(
    TOPIC_MESSAGES_SCHEMA.fields
    + [f for f in FRAMES_SCHEMA.fields if f.name not in ("bag_id", "content")]
    + [
        StructField("labels", LABELS_ARRAY_SCHEMA),
        StructField("annotated", BinaryType()),
        StructField("bag_path", StringType()),
        StructField("decode_error", StringType()),
    ]
)
_BAG_ROWS_COLUMNS = BAG_ROWS.fieldNames()


def decode_bags(
    paths: DataFrame, topics: list[str] | None, model_fn=None
) -> DataFrame:
    """Bag paths (any DataFrame with a ``path`` column) → ``BAG_ROWS``
    rows: the messages on ``topics`` (None = all), a labeled, annotated
    frame row per sensor_msgs/Image message, or one quarantine row for a
    bag that fails to open or parse (including an unsupported image
    encoding).

    The decode runs over ``paths``' own partitions — E1's pending-path
    relation (``streaming.pipeline.process_pending``) has
    ``min(n, defaultParallelism)`` of them, one bag per task while the
    backlog fits the cores — and each bag is read once, by path, inside
    its task (the reference needs two full bag passes plus a
    realtime replay, engine.py:96-137). The task then makes one
    ``model_fn`` call on the bag's raw pixel arrays (the operators/annotate
    contract; None = ``annotate.detect_blobs``), draws each frame's boxes
    on its array and PNG-encodes only the annotated image. An exception
    raised by ``model_fn`` is not a bag error: it fails the task. Tell the
    row kinds apart by ``topic`` (message), ``camera`` (frame) or
    ``decode_error``.
    """
    want = set(topics) if topics else None
    model_fn = model_fn or annotate.detect_blobs

    def _rows(out: pd.DataFrame, path: str) -> pd.DataFrame:
        out = out.assign(bag_path=path)
        nulls = {c: None for c in _BAG_ROWS_COLUMNS if c not in out}
        return out.assign(**nulls)[_BAG_ROWS_COLUMNS]

    def _frames(imgs: list[tuple]) -> pd.DataFrame:
        pixels = [r[-1] for r in imgs]
        labels = model_fn(pixels) if pixels else []
        out = pd.DataFrame([r[:-1] for r in imgs], columns=FRAME_COLUMNS[:-1])
        out["labels"] = labels
        out["annotated"] = [
            png.encode(png.draw_boxes(arr, annotate.label_boxes(lab)))
            for arr, lab in zip(pixels, labels, strict=True)
        ]
        return out

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
                yield _rows(pd.DataFrame(msgs, columns=MESSAGE_COLUMNS), path)
                yield _rows(_frames(imgs), path)

    return paths.select("path").mapInPandas(_decode, schema=BAG_ROWS)


def read_bag_messages(
    spark: SparkSession, path: str, topics: list[str] | None = None
) -> DataFrame:
    """The bags directly under ``path`` → long topic_messages (S4/S6):
    ``spark.read.format("rosbag")``, one partition per bag, ``topics``
    (None = all) pushed into the parse. Bare ``.bag`` and ``.bag.tar.gz``
    objects both read (``open_bag`` sniffs the gzip magic and unwraps,
    S6); a bag that fails to open or parse yields one
    ``bag_datasource.DECODE_ERROR_TOPIC`` row carrying the error."""
    from .bag_datasource import BagDataSource

    spark.dataSource.register(BagDataSource)
    reader = spark.read.format("rosbag").option("path", path)
    if topics:
        reader = reader.option("topics", ",".join(topics))
    return reader.load()


def bag_info(messages: DataFrame) -> DataFrame:
    """S11: `rosbag info` equivalent — per (bag, topic) message counts and
    time range; an aggregation over the long table instead of a second scan."""
    return messages.groupBy("bag_id", "topic").agg(
        F.count("*").alias("msg_count"),
        F.min("rosbagTimestamp").alias("start_ns"),
        F.max("rosbagTimestamp").alias("end_ns"),
    )
