"""E1 integration: discover → decode → infer → aggregate → sinks → manifest."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark import (
    runner,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
    fixtures,
    frames_source,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming import (
    pipeline as sp,
)


def test_end_to_end_pipeline(spark, tmp_path):
    bags = str(tmp_path / "bags")
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    sync = str(tmp_path / "sync")
    fixtures.write_bag_dir(bags, n_bags=2, tar_gz=(1,))
    cfg = runner.PipelineConfig(
        bags_dir=bags, output_dir=out, manifest_dir=manifest, sync_dir=sync
    )

    processed = runner.run_once(spark, cfg)
    assert len(processed) == 2

    # A3 observe() counters piggyback on the landing write
    metrics = cfg.extra["last_metrics"]
    assert metrics["n_topics"] == 8 and metrics["n_messages"] > 0

    # manifest: both bags complete (O2 success path)
    statuses = {r.key: r.status for r in sp.current_manifest(spark, manifest).collect()}
    assert sorted(statuses.values()) == ["complete", "complete"]

    # topic landing: partitioned by topic, counts match the fixture table
    msgs = spark.read.parquet(f"{out}/topic_messages")
    want = fixtures.topic_messages(spark, n_bags=2).count()
    assert msgs.count() == want

    # frame stats: one row per labeled frame, counter columns present
    stats = spark.read.parquet(f"{out}/frame_stats")
    frames_total = fixtures.frames(spark, n_bags=2, frames_per_camera=12).count()
    labels_tbl = spark.read.json(f"{out}/labels")
    labeled = labels_tbl.filter(F.size("labels") > 0).count()
    assert labels_tbl.count() == frames_total
    assert stats.count() == labeled > 0
    assert {"Ped_Count", "Bike_Count", "Motorbike_Count"} <= set(stats.columns)

    # annotated binary sink: real PNGs at the source frame dimensions
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.functions import (
        png,
    )

    ann = spark.read.parquet(f"{out}/annotated")
    assert ann.count() == frames_total
    row = ann.first()
    assert png.decode(bytes(row.annotated)).shape == (
        fixtures.FRAME_H,
        fixtures.FRAME_W,
        3,
    )

    # K2 file-tree export: one .png per frame, under the bag's prefix dir
    png_files = [
        os.path.join(d, f)
        for d in os.listdir(sync)
        for f in os.listdir(os.path.join(sync, d))
        if f.endswith(".png")
    ]
    assert len(png_files) == frames_total  # no cross-bag collisions

    # idempotency (O1 no_work): second tick processes nothing, tables stable
    assert runner.run_once(spark, cfg) == {}
    assert spark.read.parquet(f"{out}/topic_messages").count() == want


def test_pipeline_failure_isolation(spark, tmp_path):
    """A corrupt bag marks failure; good bags still complete (O2)."""
    bags = str(tmp_path / "bags")
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    fixtures.write_bag_dir(bags, n_bags=1, tar_gz=())
    with open(os.path.join(bags, "corrupt.bag"), "wb") as f:
        f.write(b"not a bag at all")
    cfg = runner.PipelineConfig(bags_dir=bags, output_dir=out, manifest_dir=manifest)
    processed = runner.run_once(spark, cfg)
    assert len(processed) == 2
    # programmatic per-key signal, no manifest scan needed
    assert {k.split("/")[-1]: v for k, v in processed.items()} == {
        "corrupt.bag": "failure",
        "bag0000.bag": "complete",
    }
    statuses = {
        r.key.split("/")[-1]: r.status
        for r in sp.current_manifest(spark, manifest).collect()
    }
    assert statuses["corrupt.bag"] == "failure"
    assert [v for k, v in statuses.items() if k != "corrupt.bag"] == ["complete"]
    # the good bag's data landed
    msgs = spark.read.parquet(f"{out}/topic_messages")
    assert msgs.select(F.col("bag_id")).distinct().count() == 1


def test_failure_isolation_is_one_job_per_tick(spark, tmp_path):
    """Quarantine pattern: the number of Spark jobs per tick is constant —
    it does NOT grow with the number of bags (no driver-side per-bag loop
    launching one filtered job per key)."""
    sc = spark.sparkContext

    def tick_jobs(group: str, n_bags: int, with_corrupt: bool) -> int:
        base = tmp_path / group
        bags = str(base / "bags")
        fixtures.write_bag_dir(bags, n_bags=n_bags, tar_gz=())
        if with_corrupt:
            with open(os.path.join(bags, "corrupt.bag"), "wb") as f:
                f.write(b"junk")
        cfg = runner.PipelineConfig(
            bags_dir=bags,
            output_dir=str(base / "out"),
            manifest_dir=str(base / "manifest"),
        )
        sc.setJobGroup(group, group)
        try:
            runner.run_once(spark, cfg)
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    small = tick_jobs("tick-small", 1, True)
    big = tick_jobs("tick-big", 4, True)
    assert small > 0
    assert big == small  # 4 bags: same job count as 1 (both with a corrupt bag)


def test_replay_is_idempotent_no_duplicate_rows(spark, tmp_path):
    """clear_status + re-run rewrites the bag's own partitions instead of
    appending duplicates — a bag whose telemetry landed but whose frames
    stage failed would otherwise double its topic_messages on replay
    (regression)."""
    bags = str(tmp_path / "bags")
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    fixtures.write_bag_dir(bags, n_bags=2, tar_gz=())
    cfg = runner.PipelineConfig(
        bags_dir=bags, output_dir=out, manifest_dir=manifest
    )
    assert len(runner.run_once(spark, cfg)) == 2

    def counts():
        msgs = spark.read.parquet(f"{out}/topic_messages")
        stats = spark.read.parquet(f"{out}/frame_stats")
        return (
            msgs.count(),
            msgs.select("bag_id").distinct().count(),
            stats.count(),
        )

    before = counts()
    # replay ONE bag through the reference's clear-tag path
    key = sorted(
        r.key for r in sp.current_manifest(spark, manifest).collect()
    )[0]
    sp.clear_status(spark, manifest, [key])
    assert runner.run_once(spark, cfg) == {key: "complete"}
    assert counts() == before  # rewrote its partitions; zero duplicates


def test_bags_over_binaryfile_max_length_complete(spark, tmp_path):
    """Bags are read by path inside the decode task, never as a
    ``binaryFile`` content row, so a bag larger than
    ``spark.sql.sources.binaryFile.maxLength`` (at most 2 GiB) still
    completes: here every fixture bag, the ``.tar.gz`` one included, is
    over the cap (regression: the tick used to fail)."""
    bags = str(tmp_path / "bags")
    paths = fixtures.write_bag_dir(bags, n_bags=2, tar_gz=(1,))
    cap = min(os.path.getsize(p) for p in paths) - 1
    cfg = runner.PipelineConfig(
        bags_dir=bags,
        output_dir=str(tmp_path / "out"),
        manifest_dir=str(tmp_path / "manifest"),
    )
    key = "spark.sql.sources.binaryFile.maxLength"
    spark.conf.set(key, str(cap))
    try:
        processed = runner.run_once(spark, cfg)
        msgs = frames_source.read_bag_messages(
            spark, bags, topics=list(fixtures._TOPIC_RATES)
        )
        n_msgs = msgs.count()
    finally:
        spark.conf.unset(key)
    assert sorted(k.split("/")[-1] for k in processed) == [
        "bag0000.bag",
        "bag0001.bag.tar.gz",
    ]
    assert set(processed.values()) == {"complete"}
    want = fixtures.topic_messages(spark, n_bags=2).count()
    assert n_msgs == want
    assert spark.read.parquet(f"{cfg.output_dir}/topic_messages").count() == want

# Spark jobs in a warm E1 tick over fixture bags (local[4], 4 shuffle
# partitions): the landing write, which also builds the persisted decode,
# and the frame sinks. 21 while labels and annotations were separate Python
# stages joined back to the frames and the ledger commits were Spark
# writes; 18 while frame_stats collected its own pivot vocabulary and
# joined a pivot to the instance counts; 11 while discovery listed the bags
# with a binaryFile scan, read the ledger with Spark and collected the
# pending keys back.
JOBS_PER_TICK = 6


def _fixture_cfg(tmp_path, name: str, **kw) -> runner.PipelineConfig:
    base = tmp_path / name
    return runner.PipelineConfig(
        bags_dir=str(tmp_path / "bags"),
        output_dir=str(base / "out"),
        manifest_dir=str(base / "manifest"),
        **kw,
    )


def _frame_outputs(spark, out: str) -> dict:
    """Every frame sink of one tick, keyed by frame: labels as dicts, stats
    rows and annotated PNG bytes."""

    def rows(df):
        return {
            (r.bag_id, r.camera, r.frame_index): r.asDict(recursive=True)
            for r in df.collect()
        }

    return {
        "labels": rows(spark.read.json(f"{out}/labels")),
        "frame_stats": rows(spark.read.parquet(f"{out}/frame_stats")),
        "annotated": rows(spark.read.parquet(f"{out}/annotated")),
    }


def test_model_fn_reaches_e1(spark, tmp_path):
    """``PipelineConfig.model_fn`` is the model E1 runs: it receives the
    raw frames as uint8 arrays at the frame shape, its label lands in the
    labels JSON and as a frame_stats column, and its box is drawn on the
    annotated PNG. An exception it raises fails the tick and marks every
    key ``failure`` (it is not a per-bag quarantine)."""
    import numpy as np
    import pytest

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.functions import (
        png,
    )

    fixtures.write_bag_dir(str(tmp_path / "bags"), n_bags=1, tar_gz=())
    box = {"Left": 0.25, "Top": 0.25, "Width": 0.5, "Height": 0.5}
    shape = (fixtures.FRAME_H, fixtures.FRAME_W, 3)

    def stub(arrays):
        for a in arrays:  # a wrong input fails the tick, and this test
            assert a.dtype == np.uint8 and a.shape == shape, (a.dtype, a.shape)
        label = {
            "Name": "Stub Cone",
            "Confidence": 77.0,
            "Instances": [{"BoundingBox": box, "Confidence": 77.0}],
            "Parents": [],
        }
        return [[label] for _ in arrays]

    cfg = _fixture_cfg(tmp_path, "stub", model_fn=stub)
    assert set(runner.run_once(spark, cfg).values()) == {"complete"}
    got = _frame_outputs(spark, cfg.output_dir)
    assert got["labels"]
    for lab in got["labels"].values():
        assert [(x["Name"], x["Instances"][0]["BoundingBox"]) for x in lab["labels"]] == [
            ("Stub Cone", box)
        ]
    assert {r["Stub_Cone"] for r in got["frame_stats"].values()} == {77.0}
    x0, y0 = int(0.25 * shape[1]), int(0.25 * shape[0])
    x1 = int(0.75 * shape[1])
    for r in got["annotated"].values():
        img = png.decode(bytes(r["annotated"]))
        assert (img[y0, x0 : x1 + 1] == png.GREEN).all()  # top edge

    def broken(arrays):
        raise RuntimeError("model down")

    cfg = _fixture_cfg(tmp_path, "broken", model_fn=broken)
    with pytest.raises(Exception, match="model down"):
        runner.run_once(spark, cfg)
    statuses = sp.current_manifest(spark, cfg.manifest_dir).collect()
    assert statuses and {r.status for r in statuses} == {"failure"}


def test_e1_frames_match_infer_and_annotate(spark, tmp_path):
    """Parity: E1's fused decode writes the same labels and the same
    annotated PNG bytes as ``infer_labels`` + ``annotate_frames`` over the
    PNG frames ``rosbag_frame_decoder`` extracts from the same bags."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
        annotate,
    )
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.schemas import (
        FRAMES_SCHEMA,
    )
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
        rosbag_format as rb,
    )

    paths = fixtures.write_bag_dir(str(tmp_path / "bags"), n_bags=2, tar_gz=(1,))
    cfg = _fixture_cfg(tmp_path, "e1")
    assert set(runner.run_once(spark, cfg).values()) == {"complete"}
    got = _frame_outputs(spark, cfg.output_dir)

    rows = [
        (*r[:4], r[4].to_pydatetime(), *r[5:])
        for p in paths
        for r in rb.rosbag_frame_decoder(p, rb.open_bag(p)).itertuples(index=False)
    ]
    frames = spark.createDataFrame(rows, FRAMES_SCHEMA)
    labels = annotate.infer_labels(frames)
    key = ["bag_id", "camera", "frame_index"]
    want_labels = {
        (r.bag_id, r.camera, r.frame_index): r.labels
        for r in labels.collect()
    }
    want_png = {
        (r.bag_id, r.camera, r.frame_index): bytes(r.annotated)
        for r in annotate.annotate_frames(frames.join(labels, key)).collect()
    }
    assert len(want_png) == len(rows) > 0
    assert {
        k: [x.asDict(recursive=True) for x in v] for k, v in want_labels.items()
    } == {k: r["labels"] for k, r in got["labels"].items()}
    assert want_png == {
        k: bytes(r["annotated"]) for k, r in got["annotated"].items()
    }


def _last_job_id(sc) -> int:
    """The newest job id Spark has assigned so far (ids are consecutive)."""
    st = sc.statusTracker()
    last = max(st.getJobIdsForGroup(None), default=-1)
    while st.getJobInfo(last + 1) is not None:
        last += 1
    return last


def _tick_under_group(spark, cfg, group: str) -> tuple[list[int], list[int], str]:
    """Run one tick under the job group ``group`` (described "caller"):
    every job id started during the tick, the ids Spark filed under the
    group, and the caller's job description once the tick returned."""
    sc = spark.sparkContext
    before = _last_job_id(sc)
    sc.setJobGroup(group, "caller")
    try:
        runner.run_once(spark, cfg)
        desc = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setJobGroup(None, None)
    started = list(range(before + 1, _last_job_id(sc) + 1))
    return started, sorted(sc.statusTracker().getJobIdsForGroup(group)), desc


def test_warm_tick_job_count_pinned(spark, tmp_path):
    """A warm E1 tick runs a fixed, small number of Spark jobs: the landing
    write and the frame sinks over one persisted decode, with driver-side
    discovery and ledger commits. A stage added back to the tick (a
    second Python pass over the frames, a join, a Spark ledger read or
    commit, a Spark listing) fails here, not only in the benchmark. Every
    job the tick starts, those of the frame sinks' pool threads included,
    is in the caller's job group: a job that lost the group would go
    uncounted below."""
    fixtures.write_bag_dir(str(tmp_path / "bags"), n_bags=2, tar_gz=(1,))
    runner.run_once(spark, _fixture_cfg(tmp_path, "cold"))
    started, grouped, _ = _tick_under_group(
        spark, _fixture_cfg(tmp_path, "warm"), "warm-tick"
    )
    assert started and grouped == started
    assert len(grouped) <= JOBS_PER_TICK


def test_e1_jobs_named_by_stage(spark, tmp_path):
    """Each job of a tick is described by its E1 stage (the landing write
    or one of the three frame sinks) while it stays in the caller's job
    group, and the caller's own job description is back after the tick."""
    store = spark.sparkContext._jsc.sc().statusStore()
    fixtures.write_bag_dir(str(tmp_path / "bags"), n_bags=2, tar_gz=(1,))
    started, grouped, desc = _tick_under_group(
        spark, _fixture_cfg(tmp_path, "named"), "named-tick"
    )
    assert started and grouped == started
    assert desc == "caller"
    names = set()
    for jid in started:
        d = store.job(jid).description()
        names.add(d.get() if d.isDefined() else None)
    assert names == {"e1.landing", "e1.frame_stats", "e1.labels", "e1.annotated"}


def test_dynamic_overwrite_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    """E1's sinks and ``streaming_bag_ingest``'s topic writes ask for a
    dynamic partition overwrite per write, never through the session conf:
    the conf is shared by every thread of the session (the frame sinks run
    on a pool), so setting and restoring it would race with them and with
    the caller's own queries."""
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.sources.partitionOverwriteMode"
    keys = []
    set_conf = RuntimeConfig.set

    def spy(self, k, v):
        keys.append(k)
        return set_conf(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    bags = str(tmp_path / "bags")
    fixtures.write_bag_dir(bags, n_bags=1, tar_gz=())
    assert set(runner.run_once(spark, _fixture_cfg(tmp_path, "e1")).values()) == {
        "complete"
    }
    sp.streaming_bag_ingest(
        spark, bags, str(tmp_path / "lake"), str(tmp_path / "ck"), ["/imu"]
    )
    assert spark.read.parquet(str(tmp_path / "lake" / "imu")).count() > 0
    assert key not in keys


def test_no_work_tick_runs_no_spark_job(spark, tmp_path):
    """The O1 ``no_work`` branch is driver-side bookkeeping only: a second
    tick over finished bags lists them, reads the ledger and returns {}
    without one Spark job."""
    sc = spark.sparkContext
    fixtures.write_bag_dir(str(tmp_path / "bags"), n_bags=2, tar_gz=(1,))
    cfg = _fixture_cfg(tmp_path, "done")
    assert set(runner.run_once(spark, cfg).values()) == {"complete"}
    sc.setJobGroup("no-work-tick", "no-work-tick")
    try:
        assert runner.run_once(spark, cfg) == {}
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("no-work-tick") == []


def test_e1_frame_stats_match_labels_sink(spark, tmp_path):
    """E1's frame_stats table equals a pure-Python recompute from the
    labels sink (``_python_stats``' rule), when the model returns no
    labels for some frames: one column per sanitized label name, sorted,
    no ``null`` column, and label-less frames keep zero-count rows."""
    from test_frame_stats import _python_stats

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
        annotate,
    )

    def sparse(arrays):
        labels = annotate.detect_blobs(arrays)
        return [[] if i % 3 == 0 else lab for i, lab in enumerate(labels)]

    fixtures.write_bag_dir(str(tmp_path / "bags"), n_bags=2, tar_gz=(1,))
    cfg = _fixture_cfg(tmp_path, "sparse", model_fn=sparse)
    assert set(runner.run_once(spark, cfg).values()) == {"complete"}
    got = _frame_outputs(spark, cfg.output_dir)

    want = {k: _python_stats(r["labels"]) for k, r in got["labels"].items()}
    vocab = sorted({name for conf, _ in want.values() for name in conf})
    assert "Traffic_Light" in vocab
    stats = spark.read.parquet(f"{cfg.output_dir}/frame_stats")
    assert stats.columns == [
        "camera", "frame_index", *vocab,
        "Ped_Count", "Bike_Count", "Motorbike_Count", "bag_id",
    ]
    assert set(got["frame_stats"]) == set(want)
    assert any(not conf for conf, _ in want.values())
    for key, (conf, counts) in want.items():
        row = dict(got["frame_stats"][key])
        for col in ("bag_id", "camera", "frame_index"):
            del row[col]
        assert row == {**dict.fromkeys(vocab), **conf, **counts}, key
