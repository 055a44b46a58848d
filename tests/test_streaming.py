"""O4: exactly-once incremental ticks, manifest ledger, replay semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.schemas import (
    TOPIC_MESSAGES_SCHEMA,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
    fixtures,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming import (
    pipeline as sp,
)


def test_manifest_last_writer_wins(spark, tmp_path):
    m = str(tmp_path / "manifest")
    sp.append_status(spark, m, ["k1", "k2"], "in progress")
    sp.append_status(spark, m, ["k1"], "complete")
    got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert got == {"k1": "complete", "k2": "in progress"}
    sp.clear_status(spark, m, ["k1"])
    got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert got["k1"] is None
    sp.compact_manifest(spark, m)
    # the head reads the snapshot commit alone, and it holds one row per key
    assert sp._read_log_arrow(sp._log_paths(m, sp._versions(m)[-1])).num_rows == 2
    got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert got == {"k1": None, "k2": "in progress"}


def test_compaction_never_breaks_open_readers(spark, tmp_path):
    """Compaction is a new snapshot COMMIT: a reader opened before it and
    a version read of the pre-compaction head still resolve afterwards
    (their data dirs are never touched), the live view reads snapshot +
    later appends, and vacuum reclaims commits below the snapshot."""
    m = str(tmp_path / "manifest")
    sp.append_status(spark, m, ["k1", "k2"], "in progress")  # v0
    sp.append_status(spark, m, ["k1"], "complete")  # v1

    reader = sp.current_manifest(spark, m)  # opened over v0+v1
    sp.compact_manifest(spark, m)  # v2 = snapshot
    sp.append_status(spark, m, ["k3"], "in progress")  # v3

    # pre-compaction reader: v0/v1 data dirs are untouched
    before = {"k1": "complete", "k2": "in progress"}
    assert {r.key: r.status for r in reader.collect()} == before
    got = {r.key: r.status for r in sp.manifest_at(spark, m, version=1).collect()}
    assert got == before
    # live view: snapshot + post-compaction append
    want = {"k1": "complete", "k2": "in progress", "k3": "in progress"}
    got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert got == want

    sp.vacuum_manifest(m, keep=1)
    assert sp._versions(m) == [2, 3]  # pre-snapshot commits reclaimed
    got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert got == want


def test_manifest_commit_is_atomic_log_rename(spark, tmp_path):
    """A commit is visible iff its log entry exists: an orphan data dir
    (crash between data write and log rename) is invisible to readers,
    also after the next commit claims that version with its own data dir
    (``vacuum_manifest`` reclaims the orphan)."""
    import os

    m = str(tmp_path / "manifest")
    sp.append_status(spark, m, ["k1"], "in progress")  # v0
    # simulate a crashed commit: data dir for v1 written, log entry never
    # renamed into place
    spark.createDataFrame(
        [("ghost", "complete", None)], sp.MANIFEST_LOG_SCHEMA
    ).write.parquet(sp._data_path(m, 1))
    assert sp._versions(m) == [0]
    got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert got == {"k1": "in progress"}  # ghost invisible
    sp.append_status(spark, m, ["k2"], "in progress")  # commits as v1
    assert sp._versions(m) == [0, 1]
    got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert got == {"k1": "in progress", "k2": "in progress"}  # still ignored
    assert not os.path.exists(
        os.path.join(sp._log_dir(m), ".tmp-00000001.json")
    )


def test_tick_exactly_once_and_failure_marking(spark, tmp_path):
    src = str(tmp_path / "bags")
    m = str(tmp_path / "manifest")
    out = str(tmp_path / "out")
    fixtures.write_bag_dir(src, n_bags=2, tar_gz=())

    processed: list[str] = []

    def process(batch):
        import pandas as pd

        from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
            rosbag_format,
        )

        keys = [r.path for r in batch.select("path").collect()]
        processed.extend(keys)
        # quarantine contract: report failed keys, process the rest
        failed = [k for k in keys if "bag0002" in k]  # injected failure
        good = [k for k in keys if k not in failed]
        if not good:
            return failed
        # real work: decode by path + append to a landing table
        frames = [
            rosbag_format.rosbag_decoder(
                k, rosbag_format.open_bag(k), list(fixtures._TOPIC_RATES)
            )
            for k in good
        ]
        sdf = spark.createDataFrame(
            pd.concat(frames), TOPIC_MESSAGES_SCHEMA
        )
        sdf.write.mode("append").parquet(out)
        return failed

    # tick 1: both bags processed, marked complete
    sp.process_pending(spark, src, m, process)
    got = {r.key.split("/")[-1]: r.status for r in sp.current_manifest(spark, m).collect()}
    assert all(v == "complete" for v in got.values()) and len(got) == 2
    n_first = len(processed)
    assert n_first == 2

    # tick 2 with no new files: nothing re-processed (the ledger marks both done)
    assert sp.process_pending(spark, src, m, process) == {}
    assert len(processed) == n_first

    # drop a new (failing) bag; only it is processed, and it's marked failure
    fixtures.write_bag_dir(src, n_bags=3, tar_gz=())  # adds bag0002
    sp.process_pending(spark, src, m, process)
    got = {r.key.split("/")[-1]: r.status for r in sp.current_manifest(spark, m).collect()}
    assert len(processed) == n_first + 1 and "bag0002" in processed[-1]
    assert [v for k, v in got.items() if "bag0002" in k] == ["failure"]
    assert sorted(v for k, v in got.items() if "bag0002" not in k) == ["complete", "complete"]

    # decoded landing table holds exactly the two good bags' messages
    landed = spark.read.parquet(out)
    want = fixtures.topic_messages(spark, n_bags=2).count()
    assert landed.count() == want


def test_replay_by_clearing_status(spark, tmp_path):
    src = str(tmp_path / "bags")
    m = str(tmp_path / "manifest")
    fixtures.write_bag_dir(src, n_bags=2, tar_gz=(1,))

    runs: list[str] = []

    def process(batch):
        runs.extend(r.path for r in batch.select("path").collect())

    first = sp.process_pending(spark, src, m, process)
    assert sorted(first.values()) == ["complete", "complete"] and len(runs) == 2

    # nothing pending on a second tick
    assert sp.process_pending(spark, src, m, process) == {}

    # clearing one key re-enqueues exactly that key (reference README replay)
    target = sorted(first)[0]
    sp.clear_status(spark, m, [target])
    replayed = sp.process_pending(spark, src, m, process)
    assert replayed == {target: "complete"}
    got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert got[target] == "complete"


def _check_time_travel(spark, m: str) -> None:
    """As-of reads with a naive (UTC) and an aware ``as_of``, version
    reads before and after compaction, and a missing version."""
    import datetime as dt
    import time
    from zoneinfo import ZoneInfo

    sp.append_status(spark, m, ["k1"], "in progress")
    time.sleep(0.05)
    t_mid = dt.datetime.now(dt.timezone.utc)
    time.sleep(0.05)
    sp.append_status(spark, m, ["k1"], "complete")
    sp.append_status(spark, m, ["k2"], "in progress")

    # as-of timestamp: k1 still in progress, k2 absent
    for as_of in (
        t_mid.replace(tzinfo=None),
        t_mid.astimezone(ZoneInfo("America/New_York")),
    ):
        past = {r.key: r.status for r in sp.manifest_at(spark, m, as_of=as_of).collect()}
        assert past == {"k1": "in progress"}, as_of

    # version travel: every append is a commit — v2 (pre-compaction head)
    # and v0 (the very first append) both stay readable after compaction
    sp.compact_manifest(spark, m)  # v3 = snapshot
    sp.append_status(spark, m, ["k1"], None)  # v4
    v2 = {r.key: r.status for r in sp.manifest_at(spark, m, version=2).collect()}
    assert v2 == {"k1": "complete", "k2": "in progress"}
    v0 = {r.key: r.status for r in sp.manifest_at(spark, m, version=0).collect()}
    assert v0 == {"k1": "in progress"}
    head = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert head == {"k1": None, "k2": "in progress"}  # the head moved on

    with pytest.raises(ValueError, match="not on disk"):
        sp.manifest_at(spark, m, version=99)


def test_manifest_time_travel(spark, tmp_path):
    _check_time_travel(spark, str(tmp_path / "manifest"))


@pytest.fixture
def new_york_tz(monkeypatch):
    """The process's local zone set to America/New_York (UTC-4/-5), so a
    naive datetime read as local time lands hours away from UTC."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_manifest_time_travel_outside_utc(spark, tmp_path, new_york_tz):
    """``as_of`` is a UTC instant whatever the local zone: a naive value
    counts as UTC, as ``append_status`` stamps it, and an aware one is
    converted (regression: the Spark fold passed a naive ``as_of`` to
    ``F.lit``, which read it as local time, so west of UTC the as-of read
    saw every commit)."""
    _check_time_travel(spark, str(tmp_path / "manifest"))


def test_streaming_cms_two_ticks_equal_batch(spark, tmp_path):
    """Two streaming folds of the CMS == one batch build over all data."""
    import json as _json

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
        sketches,
    )

    import os

    src = str(tmp_path / "ev")
    ck = str(tmp_path / "ck")
    skp = str(tmp_path / "sketch")
    os.makedirs(src)

    def _write(name, types):
        with open(os.path.join(src, name), "w") as f:
            for t in types:
                f.write(_json.dumps({"event_type": t}) + "\n")

    def _tick():
        stream = spark.readStream.schema("event_type string").json(src)
        q = sp.streaming_cms(stream, skp, ck, width=32).start()
        q.awaitTermination(120)

    _write("b1.json", ["a", "a", "b"])
    _tick()
    _write("b2.json", ["a", "c", "c", "c"])
    _tick()

    streamed = {
        (r.d, r.bucket): r.c for r in spark.read.parquet(skp).collect()
    }
    batch_df = spark.createDataFrame(
        [(t,) for t in ["a", "a", "b", "a", "c", "c", "c"]], "event_type string"
    )
    direct = {
        (r.d, r.bucket): r.c
        for r in sketches.cms_build(batch_df, "event_type", width=32).collect()
    }
    assert streamed == direct
    est = {
        r.event_type: r.est_count
        for r in sketches.cms_estimate(
            spark.read.parquet(skp),
            spark.createDataFrame([("a",), ("c",), ("z",)], "event_type string"),
            "event_type",
            width=32,
        ).collect()
    }
    assert est["a"] >= 3 and est["c"] >= 3  # never underestimates


def test_cms_fold_replay_and_rollforward(spark, tmp_path):
    """The folded-epoch set commits atomically with the sketch swap: a
    replayed epoch no-ops, and an interrupted swap (sketch dir absent,
    staging complete) rolls forward without double-counting."""
    import os

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
        sketches,
    )

    skp = str(tmp_path / "sketch")
    b1 = spark.createDataFrame([("a",), ("a",), ("b",)], "event_type string")
    b2 = spark.createDataFrame([("c",), ("c",)], "event_type string")

    assert sp.cms_fold_batch(b1, 0, skp, width=32) is True
    # at-least-once replay of the same epoch: committed marker wins
    assert sp.cms_fold_batch(b1, 0, skp, width=32) is False

    # simulate a crash between the two swap renames: sketch gone, staging
    # holds the complete committed fold of epoch 1
    assert sp.cms_fold_batch(b2, 1, skp, width=32) is True
    os.rename(skp, skp + "__staging")
    # replayed epoch 1 after the "crash": roll-forward then no-op
    assert sp.cms_fold_batch(b2, 1, skp, width=32) is False

    streamed = {(r.d, r.bucket): r.c for r in spark.read.parquet(skp).collect()}
    direct = {
        (r.d, r.bucket): r.c
        for r in sketches.cms_build(
            spark.createDataFrame(
                [(t,) for t in ["a", "a", "b", "c", "c"]], "event_type string"
            ),
            "event_type",
            width=32,
        ).collect()
    }
    assert streamed == direct


def test_streaming_gram_two_ticks_equals_batch(spark, tmp_path):
    """Two folded micro-batches reproduce the batch Gram matrix (decimal
    cells: exact up to the float partials' batch grouping); a replayed
    epoch no-ops."""
    import json
    import os

    import numpy as np

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.linalg import (
        gram_matrix,
    )
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming.pipeline import (
        gram_fold_batch,
    )

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(60, 4)).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    gram_path = str(tmp_path / "gram")

    b1 = df.filter("vec_id < 30")
    b2 = df.filter("vec_id >= 30")
    assert gram_fold_batch(b1, 0, gram_path, dim=4)
    assert gram_fold_batch(b2, 1, gram_path, dim=4)
    # replay of epoch 1 must no-op
    assert not gram_fold_batch(b2, 1, gram_path, dim=4)

    streamed = {
        (r.i, r.j): float(r.v)
        for r in spark.read.parquet(gram_path).collect()
    }
    batch = {
        (r.i, r.j): float(r.v) for r in gram_matrix(df, dim=4).collect()
    }
    assert set(streamed) == set(batch)
    for k in batch:
        assert abs(streamed[k] - batch[k]) < 1e-6


# --- concurrent-writer torture (module-level workers for mp spawn) --------

import os as _os

# repo root derived from this file, not hardcoded — the spawn-context
# workers must import the package from THIS checkout wherever it lives
_REPO_ROOT = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))


def _torture_appender(mdir: str, tag: str, n: int) -> None:
    import sys

    sys.path.insert(0, _REPO_ROOT)
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming import (
        pipeline as sp2,
    )

    for i in range(n):
        # shared keys k0..k6 force real last-writer-wins contention
        sp2.append_status(None, mdir, [f"k{i % 7}", f"own-{tag}"], f"{tag}:{i}")


def _torture_compactor(mdir: str, rounds: int) -> None:
    import sys
    import time as _time

    sys.path.insert(0, _REPO_ROOT)
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming import (
        pipeline as sp2,
    )

    for _ in range(rounds):
        sp2.compact_manifest(None, mdir)
        _time.sleep(0.02)


def test_manifest_concurrent_writers_torture(spark, tmp_path):
    """Two OS processes appending + one compactor racing them: every
    commit gets a unique contiguous version, every committed version is
    readable, no append is lost to a racing snapshot, and last-writer-wins
    holds against a ground truth rebuilt from ALL append commits."""
    import datetime as dt
    import multiprocessing as mp

    m = str(tmp_path / "manifest")
    n = 30
    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(target=_torture_appender, args=(m, "A", n)),
        ctx.Process(target=_torture_appender, args=(m, "B", n)),
        ctx.Process(target=_torture_compactor, args=(m, 6)),
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
        assert p.exitcode == 0

    versions = sp._versions(m)
    # contiguous, no double-claimed or skipped numbers
    assert versions == list(range(len(versions)))
    entries = {v: sp._read_entry(m, v) for v in versions}
    appends = [v for v, e in entries.items() if e["action"] == "append"]
    assert len(appends) == 2 * n  # no append commit lost

    # every committed version resolves to complete, readable data
    for v in versions:
        assert sp._read_log_arrow(sp._log_paths(m, v)).num_rows > 0
    # and the relation reader resolves a sample of versions incl. head
    for v in {0, versions[len(versions) // 2], versions[-1]}:
        sp.manifest_at(spark, m, version=v).collect()

    # ground truth: LWW over the union of ALL append commits
    rows = []
    for v in appends:
        data = sp._entry_data_path(m, v, entries[v])
        t = sp._read_log_arrow([(v, data)]).to_pandas()
        rows.extend(
            (r.key, r.status, r.updated_at) for r in t.itertuples()
        )
    best: dict = {}
    for k, s, ts in rows:
        best.setdefault(k, []).append((ts, s))
    got = {
        r.key: (r.status, r.updated_at)
        for r in sp.current_manifest(spark, m).collect()
    }
    assert set(got) == set(best)
    for k, cands in best.items():
        t_max = max(ts for ts, _ in cands)
        winners = {s for ts, s in cands if ts == t_max}
        status, ts_got = got[k]
        assert status in winners
        # collect() gives local wall time; compare instants, not wall clocks
        assert ts_got.astimezone(dt.timezone.utc) == t_max.to_pydatetime()

    # a final compaction + vacuum keeps exactly the live state readable
    sp.compact_manifest(spark, m)
    sp.vacuum_manifest(m, keep=1)
    after = {
        r.key: r.status for r in sp.current_manifest(spark, m).collect()
    }
    assert after == {k: got[k][0] for k in got}


def _spark_commit(spark, m: str, rows) -> None:
    """An append commit whose parquet Spark wrote, as older versions of
    the ledger wrote some of theirs: part-files named by Spark, INT96
    timestamps that pyarrow reads back as naive timestamp[ns]."""
    import uuid

    rel = f"data/c-{uuid.uuid4().hex}"
    spark.createDataFrame(rows, sp.MANIFEST_LOG_SCHEMA).write.parquet(f"{m}/{rel}")
    sp._claim_commit(m, "append", rel)


def test_manifest_mixed_writer_compaction(spark, tmp_path):
    """A log that mixes Spark-written commits (naive ns timestamps) with
    pyarrow-staged ones (tz-aware us) is readable and compactable:
    _read_log_arrow normalizes before the concat (regression: the
    driver-side compactor crashed with ArrowTypeError on such a log)."""
    import datetime as dt
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    m = str(tmp_path / "manifest")
    now = dt.datetime.now(dt.timezone.utc)
    _spark_commit(spark, m, [("k1", "started", now), ("k2", "started", now)])
    sp.append_status(None, m, ["k2"], "done")
    spark_dir = sp._entry_data_path(m, 0, sp._read_entry(m, 0))
    spark_part = glob.glob(os.path.join(spark_dir, "*.parquet"))[0]
    assert pq.read_schema(spark_part).field("updated_at").type == pa.timestamp("ns")

    sp.compact_manifest(None, m)
    want = {"k1": "started", "k2": "done"}
    got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert got == want

    # keep mixing after the snapshot, then compact the mix again
    _spark_commit(spark, m, [("k3", "started", dt.datetime.now(dt.timezone.utc))])
    sp.compact_manifest(spark, m)
    sp.append_status(None, m, ["k1"], "done")
    want = {"k1": "done", "k2": "done", "k3": "started"}
    got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert got == want
    assert sp.manifest_statuses(m) == want


def test_vacuum_reclaims_orphans(tmp_path):
    """Crashed commits (staged data dir / claim temp, never linked) are
    reclaimed by vacuum once older than the TTL; fresh orphans and every
    referenced commit dir survive."""
    import os
    import time

    m = str(tmp_path / "manifest")
    sp.append_status(None, m, ["k1"], "started")
    sp.append_status(None, m, ["k1"], "done")

    old_orphan = os.path.join(m, "data", "c-deadbeefdeadbeef")
    os.makedirs(old_orphan)
    new_orphan = os.path.join(m, "data", "c-cafebabecafebabe")
    os.makedirs(new_orphan)
    old_tmp = os.path.join(sp._log_dir(m), ".tmp-crashed.json")
    with open(old_tmp, "w") as f:
        f.write("{}")
    past = time.time() - 7 * 24 * 3600
    os.utime(old_orphan, (past, past))
    os.utime(old_tmp, (past, past))

    sp.vacuum_manifest(m, keep=2)  # default 24h TTL
    assert not os.path.exists(old_orphan)
    assert not os.path.exists(old_tmp)
    assert os.path.exists(new_orphan)  # inside TTL: could be in-flight
    # both committed versions still fully readable
    for v in sp._versions(m):
        assert sp._read_log_arrow(sp._log_paths(m, v)).num_rows > 0
    # ttl=0 reclaims the rest
    sp.vacuum_manifest(m, keep=2, orphan_ttl_s=0.0)
    assert not os.path.exists(new_orphan)
    for v in sp._versions(m):
        assert sp._read_log_arrow(sp._log_paths(m, v)).num_rows > 0


def test_lww_equal_timestamps_resolve_by_commit_order(spark, tmp_path):
    """Two appends carrying the SAME updated_at must resolve to the later
    COMMIT deterministically, before and after compaction (regression:
    row_number over updated_at alone picked an arbitrary winner)."""
    import datetime as dt

    m = str(tmp_path / "manifest")
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    rel = sp._stage_rows(m, [("k", "first", ts)])
    sp._claim_commit(m, "append", rel)
    rel = sp._stage_rows(m, [("k", "second", ts)])
    sp._claim_commit(m, "append", rel)

    got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert got == {"k": "second"}

    sp.compact_manifest(None, m)  # the snapshot keeps the commit-order winner
    got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
    assert got == {"k": "second"}


def _legacy_commit(m: str, version: int, rows) -> None:
    """A commit in the pre-multi-writer layout: rows under
    data/vNNNNNNNN and a log entry with no ``data`` pointer."""
    import json
    import os

    rel = sp._stage_rows(m, rows)
    os.rename(os.path.join(m, rel), sp._data_path(m, version))
    os.makedirs(sp._log_dir(m), exist_ok=True)
    with open(os.path.join(sp._log_dir(m), f"{version:08d}.json"), "w") as f:
        json.dump({"version": version, "action": "append"}, f)


def _replay_appends(m: str, upto: int) -> dict:
    """Reference last-writer-wins: every ``append`` commit's rows at or
    below ``upto``, replayed in (updated_at, version) order, the last row
    per key winning. Snapshots are ignored: their rows only restate
    appends."""
    rows = []
    for v in sp._versions(m):
        e = sp._read_entry(m, v)
        if v <= upto and e["action"] == "append":
            t = sp._read_log_arrow([(v, sp._entry_data_path(m, v, e))])
            rows += [(r["updated_at"], v, r["key"], r["status"]) for r in t.to_pylist()]
    state = {}
    for _, _, key, status in sorted(rows, key=lambda r: r[:2]):
        state[key] = status
    return state


def test_manifest_fold_equals_append_replay(spark, tmp_path):
    """``manifest_statuses``, ``current_manifest`` and ``manifest_at``
    equal a plain replay of the append commits on seeded random logs
    mixing a legacy data/vNNNNNNNN commit, pyarrow and Spark-written
    appends, ``clear_status`` (NULL status), commits with equal
    timestamps, snapshots, and a snapshot that lost the race to an append
    claimed after its base (the append outranks the snapshot's rows on a
    timestamp tie)."""
    import datetime as dt
    import random

    statuses = ["in progress", "complete", "failure", None]
    for seed in range(4):
        rng = random.Random(seed)
        m = str(tmp_path / f"m{seed}")
        keys = [f"file:/bags/b{i}.bag" for i in range(6)]
        t0 = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)

        def rows():
            ts = t0 + dt.timedelta(seconds=rng.randrange(3))  # many ties
            return [(k, rng.choice(statuses), ts) for k in rng.sample(keys, 3)]

        _legacy_commit(m, 0, rows())
        for _ in range(14):
            op = rng.randrange(6)
            if op in (0, 1):  # the spark argument is call-site compatibility
                sp.compact_manifest(spark if op == 0 else None, m)
            elif op == 2:
                sp.clear_status(None, m, rng.sample(keys, 2))
            elif op == 3:
                _spark_commit(spark, m, rows())
            elif op == 4:  # racing compactor: an append claims first
                head = sp._versions(m)[-1]
                snap = list(zip(*sp._fold_log(m, head).to_pydict().values()))
                rel = sp._stage_rows(m, snap)
                race = [(k, rng.choice(statuses), ts) for k, _, ts in snap[:2]]
                sp._claim_commit(m, "append", sp._stage_rows(m, race))
                sp._claim_commit(m, "snapshot", rel, base=head)
            else:
                sp._claim_commit(m, "append", sp._stage_rows(m, rows()))
        versions = sp._versions(m)
        want = _replay_appends(m, versions[-1])
        assert sp.manifest_statuses(m) == want, seed
        got = {r.key: r.status for r in sp.current_manifest(spark, m).collect()}
        assert got == want, seed
        for v in rng.sample(versions, 3):
            got = {r.key: r.status for r in sp.manifest_at(spark, m, version=v).collect()}
            assert got == _replay_appends(m, v), (seed, v)
    assert sp.manifest_statuses(str(tmp_path / "none")) == {}


def test_empty_manifest_is_a_local_relation(spark, tmp_path):
    """``current_manifest`` and ``manifest_at`` are arrow-backed local
    relations with the declared types, over a ledger with no commit and
    over a compacted one: collecting them runs no Spark job (a frame
    built from a Python list runs one Python-worker job; the old Spark
    fold ran a window over a parquet scan)."""
    sc = spark.sparkContext
    empty = str(tmp_path / "empty")
    full = str(tmp_path / "full")
    keys = [f"k{i:02d}" for i in range(24)]
    sp.append_status(None, full, keys, "in progress")
    sp.append_status(None, full, keys[::2], "complete")
    sp.compact_manifest(None, full)
    sp.clear_status(None, full, keys[:3])
    sp.append_status(None, full, keys[5:9], "failure")
    sc.setJobGroup("manifest-reads", "manifest-reads")
    try:
        assert sp.current_manifest(spark, empty).collect() == []
        assert sp.manifest_at(spark, empty).collect() == []
        head = sp.current_manifest(spark, full).collect()
        v1 = sp.manifest_at(spark, full, version=1).collect()
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("manifest-reads") == []
    assert len(head) == 24
    assert sum(r.status is None for r in head) == 3
    assert {r.key: r.status for r in v1} == {
        k: "complete" if i % 2 == 0 else "in progress" for i, k in enumerate(keys)
    }
    want = spark.createDataFrame([], sp.MANIFEST_LOG_SCHEMA).schema
    for df in (
        sp.current_manifest(spark, empty),
        sp.current_manifest(spark, full),
        sp.manifest_at(spark, full, version=3),
    ):
        assert df.schema == want


def test_streaming_chunk_store_uploads_only_the_delta(spark, tmp_path):
    """Two availableNow ticks through the content-addressed chunk store:
    tick 1 ingests the v1 corpus, tick 2 the preamble-edited v2 snapshot.
    The store must (a) equal the batch-computed distinct chunk set after
    each tick (streaming == batch), (b) grow by exactly v2's anti-join
    delta — the cdc_delta_sync bill, realized continuously — and (c) stay
    duplicate-free even when a batch is REPLAYED (foreachBatch
    at-least-once), because the anti-join makes the append idempotent."""
    import json
    import os

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
        curation,
    )
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming import (
        pipeline,
    )

    v1 = [
        (1, "the quick brown fox jumps over the lazy dog and runs far "
            "away into the night while seven silent owls watch"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    v2 = [(i, "inserted preamble tokens " + t) for i, t in v1]

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    def _w(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    def _tick():
        stream = spark.readStream.schema("doc_id long, text string").json(src)
        pipeline.run_chunk_store_stream(
            spark, stream, store, ck, min_tokens=2, max_tokens=8
        )

    def _batch_hashes(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            (r.h, r.n_tokens)
            for r in curation.cdc_chunks(
                df, avg_tokens=8, min_tokens=2, max_tokens=8
            ).select(F.md5("chunk").alias("h"), "n_tokens").distinct()
            .collect()
        }

    _w("t1.json", v1)
    _tick()
    got1 = {(r.h, r.n_tokens) for r in spark.read.parquet(store).collect()}
    assert got1 == _batch_hashes(v1)

    _w("t2.json", v2)
    _tick()
    stored = spark.read.parquet(store)
    got2 = {(r.h, r.n_tokens) for r in stored.collect()}
    assert got2 == _batch_hashes(v1) | _batch_hashes(v2)
    # duplicate-free store: one row per content hash
    assert stored.count() == stored.select("h").distinct().count()
    # the tick-2 upload bill is exactly the anti-join delta, and the
    # content-defined boundaries keep it well under a full re-upload
    delta = len(got2) - len(got1)
    assert delta == len(_batch_hashes(v2) - _batch_hashes(v1))
    assert 0 < delta < len(_batch_hashes(v2))

    # replayed batch (at-least-once) appends nothing: chunk-level idempotence
    n_before = stored.count()
    v2_df = spark.createDataFrame(v2, "doc_id long, text string")
    pipeline.chunk_store_sink(
        spark, store, min_tokens=2, max_tokens=8
    )(v2_df, 0)
    assert spark.read.parquet(store).count() == n_before


def test_chunk_store_existence_probe_is_storage_agnostic(spark, tmp_path):
    """The 'does the store exist yet' probe must go through Spark's own
    reader (try spark.read.parquet / catch AnalysisException), never a
    driver-local os.listdir — an object-store path (s3a://…) is invisible
    to os.path, and treating a populated store as absent would skip the
    anti-join and re-append the whole corpus. Exercised here: (a) a
    nonexistent path takes the except branch and the first append
    succeeds; (b) an existing-but-parquet-less directory is likewise
    treated as absent; (c) a pre-populated store takes the read branch —
    replaying the identical batch appends zero rows even though the
    directory was created by a different writer than this sink call."""
    import os

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming import (
        pipeline,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    sink = pipeline.chunk_store_sink(spark, str(tmp_path / "s1"),
                                     min_tokens=2, max_tokens=8)
    sink(docs, 0)  # (a) nonexistent path: except-branch, append succeeds
    n = spark.read.parquet(str(tmp_path / "s1")).count()
    assert n > 0

    empty = tmp_path / "s2"
    os.makedirs(empty)  # (b) exists but holds no parquet: still "absent"
    pipeline.chunk_store_sink(spark, str(empty),
                              min_tokens=2, max_tokens=8)(docs, 0)
    assert spark.read.parquet(str(empty)).count() == n

    # (c) pre-populated by a PRIOR sink instance: a fresh sink closure
    # must discover the existing rows via the try-read and append nothing
    pipeline.chunk_store_sink(spark, str(tmp_path / "s1"),
                              min_tokens=2, max_tokens=8)(docs, 1)
    assert spark.read.parquet(str(tmp_path / "s1")).count() == n


def test_chunk_store_probe_reraises_non_absence_failures(spark, tmp_path):
    """The existence-probe catch is narrowed to PATH_NOT_FOUND /
    UNABLE_TO_INFER_SCHEMA — the two conditions that mean 'store absent'.
    Any OTHER analysis failure (here: the path holds parquet with a
    foreign schema, i.e. not a chunk store at all) must re-raise:
    swallowing it would treat a damaged store as absent, skip the
    anti-join, and re-append the whole corpus."""
    from pyspark.errors import AnalysisException

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming import (
        pipeline,
    )

    bad = str(tmp_path / "not_a_store")
    spark.createDataFrame([(1, "x")], "a long, b string").write.parquet(bad)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    with pytest.raises(AnalysisException):
        pipeline.chunk_store_sink(spark, bad, min_tokens=2, max_tokens=8)(
            docs, 0
        )
    # and the damaged path was NOT appended to
    assert set(spark.read.parquet(bad).columns) == {"a", "b"}
