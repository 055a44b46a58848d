"""S4-S6, S8, S11, K1 end-to-end: bag decode → flatten → partitioned write.

The bag files are genuine ROS bag 2.0 bytes (sources/rosbag_format.py
writer) decoded by the real record parser; ``read_bag_messages`` reads
through the ``rosbag`` data source, whose listing, by-path open, tar.gz
unwrap and topic pushdown are the production path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
    flatten,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
    csv_source,
    fixtures,
    frames_source,
    rosbag_format,
)


@pytest.fixture(scope="module")
def bag_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("bags")
    fixtures.write_bag_dir(str(d), n_bags=3, tar_gz=(1,))
    return str(d)


def test_decode_matches_fixture_table(spark, bag_dir):
    """Real-format decode (incl. the tar.gz bag) == the fixture DataFrame."""
    got = frames_source.read_bag_messages(
        spark, bag_dir, topics=list(fixtures._TOPIC_RATES)
    )
    want = fixtures.topic_messages(spark, n_bags=3)
    g = {(r.bag_id, r.topic, r.rosbagTimestamp, r.seq) for r in got.collect()}
    w = {(r.bag_id, r.topic, r.rosbagTimestamp, r.seq) for r in want.collect()}
    assert g == w
    # payload values survive serialization + the Arrow map round-trip
    # exactly (float64 round-trips; string forms differ: %.6f vs repr)
    sample_g = got.filter((F.col("topic") == "/imu") & (F.col("seq") == 0)).first()
    sample_w = want.filter((F.col("topic") == "/imu") & (F.col("seq") == 0)).first()
    for key, val in dict(sample_w.payload).items():
        assert float(sample_g.payload[key]) == float(val), key
    # the real decode also carries the std_msgs/Header fields (str(msg)
    # parity with bag_to_csv.py:116)
    assert sample_g.payload["header.seq"] == "0"


def test_topic_pushdown(spark, bag_dir):
    got = frames_source.read_bag_messages(spark, bag_dir, topics=["/gps"])
    assert {r.topic for r in got.select("topic").distinct().collect()} == {"/gps"}


def test_untar_rejects_multi_bag_archives():
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        for name in ("a.bag", "b.bag"):
            data = fixtures.rosbag_bytes(0, duration_s=1, frames_per_camera=0)
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    with pytest.raises(ValueError, match="exactly one"):
        rosbag_format.untar_bag(buf.getvalue())


def test_bag_info(spark, bag_dir):
    msgs = frames_source.read_bag_messages(spark, bag_dir)
    info = {
        (r.bag_id, r.topic): r for r in frames_source.bag_info(msgs).collect()
    }
    imu = info[("bag0000", "/imu")]
    assert imu.msg_count > 0 and imu.start_ns <= imu.end_ns


def test_decode_flatten_write_prune(spark, bag_dir, tmp_path):
    """The E2 pipeline shape: decode → widen → K1 write → pruned re-read."""
    msgs = frames_source.read_bag_messages(spark, bag_dir)
    dest = str(tmp_path / "landing")
    flatten.write_partitioned(msgs, dest)
    back = spark.read.parquet(dest)
    wide = flatten.widen_topic(back, "/imu")
    assert dict(wide.dtypes)["orientation_x"] == "double"
    assert wide.count() == msgs.filter(F.col("topic") == "/imu").count()


def test_bag_datasource_partitions_and_pushdown(spark, bag_dir):
    """The Python Data Source fans out one partition per bag and pushes
    the topic predicate (its rows: ``test_decode_matches_fixture_table``)."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources.bag_datasource import (
        BagDataSource,
    )

    spark.dataSource.register(BagDataSource)
    ds = spark.read.format("rosbag").option("path", bag_dir).load()
    assert ds.rdd.getNumPartitions() == 3  # one per bag file
    gps = (
        spark.read.format("rosbag")
        .option("path", bag_dir)
        .option("topics", "/gps")
        .load()
    )
    assert {r.topic for r in gps.select("topic").distinct().collect()} == {"/gps"}


def test_bag_datasource_streams_exactly_once(spark, tmp_path):
    """spark.readStream.format('rosbag'): path-set offsets give exactly-once
    decode across ticks — a later tick processes only newly-arrived bags."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources.bag_datasource import (
        BagDataSource,
    )

    bags = str(tmp_path / "bags")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    fixtures.write_bag_dir(bags, n_bags=2, tar_gz=())
    spark.dataSource.register(BagDataSource)

    def tick():
        q = (
            spark.readStream.format("rosbag")
            .option("path", bags)
            .option("topics", "/imu,/gps")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    tick()
    landed = spark.read.parquet(out)
    want2 = fixtures.topic_messages(spark, n_bags=2).filter(
        F.col("topic").isin("/imu", "/gps")
    )
    assert landed.count() == want2.count()
    assert set(r.bag_id for r in landed.select("bag_id").distinct().collect()) == {
        "bag0000",
        "bag0001",
    }

    # no new files: tick is a no-op (checkpointed offsets)
    tick()
    assert spark.read.parquet(out).count() == want2.count()

    # one new bag arrives: only its rows append
    fixtures.write_bag_dir(bags, n_bags=3, tar_gz=())
    tick()
    want3 = fixtures.topic_messages(spark, n_bags=3).filter(
        F.col("topic").isin("/imu", "/gps")
    )
    assert spark.read.parquet(out).count() == want3.count()


def test_csv_ingest_inferred_schema(spark, tmp_path):
    """S8: per-topic CSV with header+inferSchema — typed columns, counts."""
    root = str(tmp_path / "csvs")
    fixtures.write_topic_csvs(spark, root, n_bags=2)
    imu = csv_source.read_one_topic_csv(spark, root, "/imu")
    types = dict(imu.dtypes)
    assert types["orientation.x"] == "double"
    assert types["rosbagTimestamp"] == "bigint"
    all_topics = csv_source.read_topic_csvs(spark, root)
    assert "topic" in all_topics.columns  # partition column from layout
    want = fixtures.topic_messages(spark, n_bags=2).count()
    assert all_topics.count() == want


def test_csvs_to_parquet_roundtrip(spark, tmp_path):
    root = str(tmp_path / "csvs")
    pq = str(tmp_path / "parquet")
    fixtures.write_topic_csvs(spark, root, n_bags=1)
    csv_source.csvs_to_parquet(spark, root, pq, ["/imu", "/gps"])
    imu_csv = csv_source.read_one_topic_csv(spark, root, "/imu")
    imu_pq = spark.read.parquet(f"{pq}/topic=imu")
    assert imu_pq.count() == imu_csv.count()
    assert dict(imu_pq.dtypes)["orientation.x"] == "double"


def test_streaming_bag_ingest_e2e_exactly_once(spark, tmp_path):
    """E1/E2 in one streaming job on genuine .bag bytes: rosbag stream
    source → widen_topic → per-topic bag_id-partitioned parquet. Two ticks:
    the second sees only the newly-arrived bag; a no-op tick changes
    nothing; output matches the batch widen of the fixture table."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming import (
        pipeline as sp,
    )

    bags = str(tmp_path / "bags")
    dest = str(tmp_path / "lake")
    ck = str(tmp_path / "ck")
    fixtures.write_bag_dir(bags, n_bags=2, tar_gz=())
    topics = ["/imu", "/gps"]

    sp.streaming_bag_ingest(spark, bags, dest, ck, topics)

    def landed(topic):
        df = spark.read.parquet(f"{dest}/{topic.strip('/')}")
        return {
            tuple(r) for r in df.select("bag_id", "rosbagTimestamp", "seq").collect()
        }

    def want(topic, n_bags):
        msgs = fixtures.topic_messages(spark, n_bags=n_bags)
        df = flatten.widen_topic(msgs, topic)
        return {
            tuple(r) for r in df.select("bag_id", "rosbagTimestamp", "seq").collect()
        }

    for t in topics:
        assert landed(t) == want(t, 2), t
    # typed, not stringly: the widened imu table carries double columns
    imu = spark.read.parquet(f"{dest}/imu")
    assert dict(imu.dtypes)["orientation_x"] == "double"

    # tick with no new files: no-op
    sp.streaming_bag_ingest(spark, bags, dest, ck, topics)
    for t in topics:
        assert landed(t) == want(t, 2), t

    # one new bag arrives: exactly its rows land, old partitions untouched
    fixtures.write_bag_dir(bags, n_bags=3, tar_gz=())
    sp.streaming_bag_ingest(spark, bags, dest, ck, topics)
    for t in topics:
        assert landed(t) == want(t, 3), t
