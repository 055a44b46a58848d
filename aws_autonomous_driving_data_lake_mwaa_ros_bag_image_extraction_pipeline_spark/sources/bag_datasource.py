"""Bag files as a first-class Spark data source (Python Data Source API).

The SURVEY §4 "optional custom piece": bag messages read like any other
format —

    spark.dataSource.register(BagDataSource)
    df = (spark.read.format("rosbag")
          .option("path", "/data/bags")
          .option("topics", "/imu,/gps")      # pushed into the parse
          .load())

with real source semantics:

- **one bag file = one input partition** → a 1000-bag backlog fans out to
  1000 tasks with no repartition step;
- **topic pushdown**: the ``topics`` option reaches the parser, which skips
  message records on unrequested connections before deserialization (and
  skips whole non-matching chunks via the chunk-info index);
- **tar.gz unwrap** (S6) handled per partition.

The same format also streams (``spark.readStream.format("rosbag")``):
micro-batch offsets are the set of discovered bag keys, so each bag is
decoded exactly once across restarts (checkpointed by the engine). The
offset carries the seen-key list — fine for the tens of thousands of
bags a landing prefix holds. This is the only messages reader
(``frames_source.read_bag_messages`` reads through it); E1's tick
(streaming/pipeline.process_pending) decodes bags with
``frames_source.decode_bags`` instead, which also yields the frames.

Both readers list with ``listing.list_bag_keys``, E1's listing: the same
keys, the same suffix and hidden-file rules, the same duplicate-stem
check. Each partition opens its bag with ``rosbag_format.open_bag`` and
parses it with the real ROS bag 2.0 codec
(``rosbag_format.rosbag_decoder``); a bag that fails to open or parse
becomes one ``__decode_error__`` row.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..schemas import TOPIC_MESSAGES_SCHEMA
from .listing import list_bag_keys

# Quarantine row for a bag whose decode raises: the reserved topic marks
# it, payload carries the error. Without this, one corrupt bag fails the
# task — and in the STREAMING form the checkpointed offset replays the
# same bag forever (a permanent poison pill that blocks every later bag).
DECODE_ERROR_TOPIC = "__decode_error__"


def _decode_or_quarantine(path: str, topics):
    from .rosbag_format import bag_id_from_path, open_bag, rosbag_decoder

    try:
        pdf = rosbag_decoder(path, open_bag(path), topics)
    except Exception as exc:  # noqa: BLE001 — quarantine boundary (same
        # contract as frames_source.decode_bags)
        error = {"error": str(exc)[:500]}
        yield (bag_id_from_path(path), DECODE_ERROR_TOPIC, None, None, error)
        return
    for row in pdf.itertuples(index=False):
        yield tuple(row)


class BagInputPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class BagDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("rosbag: option 'path' is required")
        topics = options.get("topics")
        self.topics = [t.strip() for t in topics.split(",")] if topics else None

    def partitions(self) -> list[InputPartition]:
        """One bag = one partition (the reference's unit of work)."""
        paths = list_bag_keys(self.root)
        if not paths:
            raise FileNotFoundError(f"no bag files under {self.root}")
        return [BagInputPartition(p) for p in paths]

    def read(self, partition: BagInputPartition) -> Iterator[tuple]:
        # Executor-side: parse one bag, applying the topic pushdown; a
        # corrupt bag yields one quarantine row instead of a task failure.
        yield from _decode_or_quarantine(partition.path, self.topics)


class BagStreamReader(DataSourceStreamReader):
    """Micro-batch reader: offset = the sorted set of bag keys seen so
    far; a batch's partitions are the newly-appeared bags (one each — the
    same fan-out unit as the batch reader). The engine checkpoints the
    offsets, giving exactly-once decode across restarts with no tag store.
    """

    def __init__(self, options: dict):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("rosbag: option 'path' is required")
        topics = options.get("topics")
        self.topics = [t.strip() for t in topics.split(",")] if topics else None

    def initialOffset(self) -> dict:
        return {"paths": []}

    def latestOffset(self) -> dict:
        return {"paths": list_bag_keys(self.root)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        seen = set(start.get("paths", []))
        return [
            BagInputPartition(p)
            for p in end.get("paths", [])
            if p not in seen
        ]

    def read(self, partition: BagInputPartition) -> Iterator[tuple]:
        yield from _decode_or_quarantine(partition.path, self.topics)

    def commit(self, end: dict) -> None:
        pass  # nothing external to clean up; files stay in place


class BagDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rosbag"

    def schema(self) -> StructType:
        return TOPIC_MESSAGES_SCHEMA

    def reader(self, schema) -> BagDataSourceReader:
        return BagDataSourceReader(self.options)

    def streamReader(self, schema) -> BagStreamReader:
        return BagStreamReader(self.options)
