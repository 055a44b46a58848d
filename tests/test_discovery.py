"""S1-S3 discovery: the anti-join, the bag listing and its key rules."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
    discovery,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
    fixtures,
)


def test_discover_new_excludes_tagged_and_non_bag(spark):
    manifest = fixtures.bag_manifest(spark, n_bags=20)
    listing = manifest.select("key")
    got = {r.key for r in discovery.discover_new(listing, manifest).collect()}
    rows = manifest.collect()
    want = {
        r.key
        for r in rows
        if r.key.endswith(".bag") and r.status not in ("complete", "failure", "in progress")
    }
    assert got == want and want
    assert not any(k.endswith(".txt") for k in got)  # S1 wildcard


def test_pick_first_is_lexicographic_min(spark):
    manifest = fixtures.bag_manifest(spark, n_bags=20)
    new = discovery.discover_new(manifest.select("key"), manifest)
    got = discovery.pick_first(new).collect()
    assert len(got) == 1
    assert got[0].key == min(r.key for r in new.collect())


def test_listing_source_feeds_discovery(spark, tmp_path):
    """S7: metadata-only listing → DataFrame → anti-join discovery."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
        fixtures as fx,
        listing,
    )

    d = str(tmp_path / "bags")
    fx.write_bag_dir(d, n_bags=3, tar_gz=())
    with open(f"{d}/noise.txt", "w") as f:
        f.write("x")
    lst = listing.list_files(spark, d, glob="*.bag*")
    assert lst.count() == 3  # noise filtered by glob
    assert all(r.size > 0 for r in lst.collect())
    manifest = spark.createDataFrame(
        [(lst.orderBy("key").first().key, "complete")], "key string, status string"
    )
    new = discovery.discover_new(lst, manifest)
    assert new.count() == 2  # completed key excluded


def test_read_evolved_generations(spark, tmp_path):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources.listing import (
        read_evolved,
    )

    g1 = str(tmp_path / "gen1")
    g2 = str(tmp_path / "gen2")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(g1)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(g2)

    out = read_evolved(spark, [g1, g2])
    rows = {r.id: (r.name, r.score) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}

    # a type change must raise, not coerce
    g3 = str(tmp_path / "gen3")
    spark.createDataFrame([(3, 7)], "id long, name int").write.parquet(g3)
    import pytest

    with pytest.raises(TypeError, match="changed type"):
        read_evolved(spark, [g1, g3])


# Names the E1 bag listing must treat exactly as a ``binaryFile`` listing
# of the directory does: both suffixes, a near-miss suffix, the two hidden
# prefixes, a space and a literal ``%20`` (keys are not percent-encoded),
# and a bag one directory down (not listed).
_LISTING_NAMES = (
    "a.bag", "b.bag.tar.gz", "x.bag.bak", "_h.bag", ".h.bag",
    "sp ace.bag", "lit%20pct.bag", "sub/in.bag",
)


def _bag_dir(tmp_path):
    d = tmp_path / "bags"
    (d / "sub").mkdir(parents=True)
    for name in _LISTING_NAMES:
        (d / name).write_bytes(b"x")
    return str(d)


def _binary_file_bag_keys(spark, d: str) -> list[str]:
    """The ledger keys discovery used to take from a ``binaryFile`` scan."""
    listing = spark.read.format("binaryFile").option("pathGlobFilter", "*.bag*").load(d)
    return sorted(
        r.path
        for r in listing.filter(discovery.is_bag_key(F.col("path"))).select("path").collect()
    )


def test_bag_listing_keys_equal_binaryfile_keys(spark, tmp_path):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
        listing,
    )

    d = _bag_dir(tmp_path)
    want = _binary_file_bag_keys(spark, d)
    assert [k.rsplit("/", 1)[-1] for k in want] == [
        "a.bag", "b.bag.tar.gz", "lit%20pct.bag", "sp ace.bag",
    ]
    assert listing.list_bag_keys(d) == want
    assert listing.list_bag_keys("file://" + d + "/") == want


def test_rosbag_format_reads_exactly_the_bag_listing(spark, tmp_path):
    """The ``rosbag`` batch reader's partitions and the stream reader's
    first offset are ``list_bag_keys(root)``: the near-miss suffix, the
    hidden names and the subdirectory bag stay out; the space and the
    literal ``%20`` stay in. A read yields one row per listed bag (every
    file here is corrupt, so each is one decode-error row)."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
        listing,
    )
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources.bag_datasource import (
        DECODE_ERROR_TOPIC,
        BagDataSource,
        BagDataSourceReader,
        BagStreamReader,
    )

    d = _bag_dir(tmp_path)
    want = listing.list_bag_keys(d)
    assert [k.rsplit("/", 1)[-1] for k in want] == [
        "a.bag", "b.bag.tar.gz", "lit%20pct.bag", "sp ace.bag",
    ]
    reader = BagDataSourceReader({"path": d})
    assert [p.path for p in reader.partitions()] == want
    assert BagStreamReader({"path": d}).latestOffset() == {"paths": want}

    spark.dataSource.register(BagDataSource)
    rows = spark.read.format("rosbag").option("path", d).load().collect()
    assert {r.topic for r in rows} == {DECODE_ERROR_TOPIC}
    assert sorted(r.bag_id for r in rows) == ["a", "b", "lit%20pct", "sp ace"]


@pytest.mark.parametrize("later_tick", [False, True], ids=["same_tick", "later_tick"])
def test_duplicate_stem_raises_before_any_commit(spark, tmp_path, later_tick):
    """``x.bag`` and ``x.bag.tar.gz`` would both write ``bag_id=x``
    partitions, the second replacing the first's outputs: the tick refuses
    the listing and commits nothing, whether both arrive together or the
    second arrives after the first completed (the check covers the whole
    listing, not only the pending keys). Regression: both read
    ``complete`` and the second bag's rows replaced the first's."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming import (
        pipeline as sp,
    )

    d = tmp_path / "bags"
    d.mkdir()
    m = str(tmp_path / "manifest")
    (d / "x.bag").write_bytes(b"x")
    if later_tick:
        first = sp.process_pending(spark, str(d), m, lambda batch: [])
        assert list(first.values()) == ["complete"]
    before = sp.manifest_statuses(m)
    (d / "x.bag.tar.gz").write_bytes(b"x")

    def never(batch):
        raise AssertionError("a duplicate stem reaches no processing")

    with pytest.raises(ValueError, match="duplicate bag stem"):
        sp.process_pending(spark, str(d), m, never)
    assert sp.manifest_statuses(m) == before


def test_binaryfile_ledger_reenqueues_nothing(spark, tmp_path):
    """A ledger whose keys came from a ``binaryFile`` listing marks every
    bag done for the driver-side discovery: the tick has no work."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming import (
        pipeline as sp,
    )

    d = _bag_dir(tmp_path)
    m = str(tmp_path / "manifest")
    sp.append_status(None, m, _binary_file_bag_keys(spark, d), "complete")

    def never(batch):
        raise AssertionError("nothing is pending")

    assert sp.process_pending(spark, d, m, never) == {}


def test_missing_bags_dir_raises(spark, tmp_path):
    import pytest

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming import (
        pipeline as sp,
    )

    with pytest.raises(FileNotFoundError):
        sp.process_pending(
            spark, str(tmp_path / "missing"), str(tmp_path / "manifest"), lambda b: []
        )
