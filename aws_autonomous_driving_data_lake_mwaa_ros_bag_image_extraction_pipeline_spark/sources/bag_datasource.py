"""Bag files as a first-class Spark data source (Python Data Source API).

The SURVEY §4 "optional custom piece": instead of a ``binaryFile``
listing plus a ``mapInPandas`` decode by path
(sources/frames_source.py), bags read like any other format —

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
micro-batch offsets are the set of discovered bag paths, so each bag is
decoded exactly once across restarts (checkpointed by the engine). The
offset carries the seen-path list — fine for the tens of thousands of
bags a landing prefix holds; at data-lake scale the ``binaryFile`` stream
in streaming/pipeline.py (engine-side file index) is the workhorse and
this source is the API-complete custom form.

Each partition opens its bag with ``rosbag_format.open_bag`` and parses it
with the real ROS bag 2.0 codec (``rosbag_format.rosbag_decoder``) — the
same open, unwrap and decode as sources/frames_source.py.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from .frames_source import TOPIC_MESSAGES_DDL

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
        paths = _list_bags(self.root)
        if not paths:
            raise FileNotFoundError(f"no bag files under {self.root}")
        return [BagInputPartition(p) for p in paths]

    def read(self, partition: BagInputPartition) -> Iterator[tuple]:
        # Executor-side: parse one bag, applying the topic pushdown; a
        # corrupt bag yields one quarantine row instead of a task failure.
        yield from _decode_or_quarantine(partition.path, self.topics)


def _list_bags(root: str) -> list[str]:
    import os

    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if ".bag" in f:
                out.append(os.path.join(dirpath, f))
    _check_unique_stems(out)
    return sorted(out)


def _check_unique_stems(paths: list[str]) -> None:
    """The bag filename stem IS the bag's identity (bag_id keys the
    per-topic partition layout downstream), so two files sharing a stem
    in different directories would silently overwrite each other's
    partitions — fail the listing loudly instead."""
    import os

    seen: dict[str, str] = {}
    for p in paths:
        stem = os.path.basename(p).split(".bag")[0]
        if stem in seen and seen[stem] != p:
            raise ValueError(
                f"duplicate bag stem {stem!r}: {seen[stem]} vs {p} — "
                "bag_id is the filename stem, so stems must be unique "
                "across the ingest tree"
            )
        seen.setdefault(stem, p)


class BagStreamReader(DataSourceStreamReader):
    """Micro-batch reader: offset = the sorted set of bag paths seen so
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
        return {"paths": _list_bags(self.root)}

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

    def schema(self) -> str:
        return TOPIC_MESSAGES_DDL

    def reader(self, schema) -> BagDataSourceReader:
        return BagDataSourceReader(self.options)

    def streamReader(self, schema) -> BagStreamReader:
        return BagStreamReader(self.options)
