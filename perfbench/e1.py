"""The bag workloads: the E1 pipeline (``runner.run_once``) on seeded bags.

``bag_backlog``: each tick is one ``run_once`` over the same backlog of
real-format bags (four 320x240 ``rgb8`` cameras each) with a fresh output
and manifest directory, so decode, PNG and inference carry the load and
the ledger is empty.

``bag_trickle``: the cron steady state. A source directory already holds
historical bags whose keys sit in a pre-seeded ledger (one snapshot plus
uncompacted commits); each tick releases one new small bag and calls
``run_once``, so per-tick fixed cost and the growing ledger dominate.

An operation is one bag in one tick. After every tick, outside the timed
section, each bag is checked: ``complete`` in ``current_manifest``,
``topic_messages`` and ``labels`` row counts equal to the generator's,
``frame_stats`` and ``annotated`` non-empty, annotated PNGs decodable.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import time

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark import (
    runner,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.functions import (
    png,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
    annotate,
    discovery,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.schemas import (
    TOPIC_WHITELIST,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.sources import (
    rosbag_format as rb,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.streaming import (
    pipeline as sp,
)

import gen
from measure import median

BACKLOG_BAGS = 4
BACKLOG_SIZE = dict(frames_per_camera=8, width=320, height=240)
TRICKLE_HISTORY = 16
TRICKLE_COMMITS = 30
TRICKLE_SIZE = dict(frames_per_camera=12, width=32, height=24, cameras=("left", "right"))

SINKS = ("discover", "landing", "frame_stats", "labels", "annotated", "ledger")
_OUTPUTS = (
    ("/topic_messages", "landing"),
    ("/frame_stats", "frame_stats"),
    ("/labels", "labels"),
    ("/annotated", "annotated"),
)


def key_of(path: str) -> str:
    """The ledger key ``binaryFile`` gives a bag path."""
    return "file:" + os.path.abspath(path)


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def check_bag(out_dir: str, bag: dict) -> str | None:
    """None if bag's outputs are right, else what is wrong."""
    import pyarrow.parquet as pq

    def files(table: str, suffix: str) -> list[str]:
        return glob.glob(
            os.path.join(out_dir, table, f"bag_id={bag['stem']}", "**", f"*{suffix}"),
            recursive=True,
        )

    n_msgs = sum(pq.read_metadata(f).num_rows for f in files("topic_messages", ".parquet"))
    if n_msgs != bag["messages"]:
        return f"topic_messages rows {n_msgs} != {bag['messages']}"
    n_labels = 0
    for f in files("labels", ".json"):
        with open(f, "rb") as fh:
            n_labels += sum(1 for line in fh if line.strip())
    if n_labels != bag["frames"]:
        return f"labels rows {n_labels} != {bag['frames']}"
    if not sum(pq.read_metadata(f).num_rows for f in files("frame_stats", ".parquet")):
        return "frame_stats empty"
    annotated = files("annotated", ".parquet")
    if not sum(pq.read_metadata(f).num_rows for f in annotated):
        return "annotated empty"
    for f in annotated:  # one PNG per camera file must decode to the frame size
        blob = pq.read_table(f, columns=["annotated"]).column(0)[0].as_py()
        arr = png.decode(blob)
        if arr.shape[:2] != (bag["height"], bag["width"]):
            return f"annotated PNG shape {arr.shape}"
    return None


def check_tick(spark, cfg, bags: list[dict], result: dict) -> list[str]:
    """One error string per failed bag (empty = all bags right)."""
    ledger = {r.key: r.status for r in sp.current_manifest(spark, cfg.manifest_dir).collect()}
    errors = []
    for bag in bags:
        key = key_of(bag["path"])
        status = result.get(key)
        if status != "complete" or ledger.get(key) != "complete":
            errors.append(f"{bag['stem']}: tick={status} ledger={ledger.get(key)}")
            continue
        err = check_bag(cfg.output_dir, bag)
        if err:
            errors.append(f"{bag['stem']}: {err}")
    return errors


# ---------------------------------------------------------------------------
# per-layer accounting of one tick
# ---------------------------------------------------------------------------


_INSERT = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)"
)


def output_of(plan: str) -> str | None:
    """The path a SQL execution writes to, from its formatted physical plan."""
    m = _INSERT.search(plan)
    return m.group(1) if m else None


def sink_of(output: str, cfg) -> str:
    """The E1 stage a write belongs to, by its output path."""
    for suffix, sink in _OUTPUTS:
        if output.rstrip("/").endswith(cfg.output_dir + suffix):
            return sink
    return "ledger" if cfg.manifest_dir in output else "other"


def attribute(executions: list[dict], cfg) -> list[str]:
    """Stage of each SQL execution of one tick. Job call sites name
    nothing, so a write is attributed by the output path in its plan, and
    a non-write execution (a collect: discovery's pending-bag list, the
    pivot's value pass) to the write it precedes; one before any write is
    discovery's."""
    outs = [output_of(e["plan"]) for e in executions]
    stages, nxt = [""] * len(outs), "other"
    for i in reversed(range(len(outs))):
        if outs[i]:
            nxt = sink_of(outs[i], cfg)
        stages[i] = nxt
    first = next((i for i, o in enumerate(outs) if o), len(outs))
    stages[:first] = ["discover"] * first
    return stages


def tick_layers(acct: dict, cfg, bag_bytes: int) -> dict:
    """Per-stage wall and jobs, ledger scans and the read-waste ratio of
    one tick, from its Spark accounting."""
    out = {f"{s}.{k}": 0 for s in SINKS for k in ("wall_s", "jobs")}
    scan = re.compile(r"Location: \w+ \[[^\]]*" + re.escape(os.path.join(cfg.manifest_dir, "data")))
    scans = 0
    for e, stage in zip(acct["executions"], attribute(acct["executions"], cfg)):
        out[f"{stage}.jobs"] = out.get(f"{stage}.jobs", 0) + len(e["jobs"])
        if e["end"] is not None:
            out[f"{stage}.wall_s"] = out.get(f"{stage}.wall_s", 0) + e["end"] - e["start"]
        scans += bool(scan.search(e["plan"]))
    out["ledger_scans"] = scans
    out["bytes_read_per_bag_byte"] = acct["input_bytes"] / bag_bytes
    return out


# ---------------------------------------------------------------------------
# kernel probes: single-threaded calls on the run's own bags
# ---------------------------------------------------------------------------


def kernel_probes(bag_paths: list[str], tracer) -> dict:
    decode_s = frames_s = enc_s = dec_s = detect_s = 0.0
    n_msgs = n_frames = raw_bytes = 0
    for path in bag_paths:
        with open(path, "rb") as f:
            content = f.read()
        with tracer.span("rosbag_format.rosbag_decoder"):
            t = time.perf_counter()
            msgs = rb.rosbag_decoder(path, content, TOPIC_WHITELIST)
            decode_s += time.perf_counter() - t
        with tracer.span("rosbag_format.rosbag_frame_decoder"):
            t = time.perf_counter()
            frames = rb.rosbag_frame_decoder(path, content)
            frames_s += time.perf_counter() - t
        pngs = list(frames["content"])
        with tracer.span("png.decode"):
            t = time.perf_counter()
            arrays = [png.decode(p) for p in pngs]
            dec_s += time.perf_counter() - t
        with tracer.span("png.encode"):
            t = time.perf_counter()
            for a in arrays:
                png.encode(a)
            enc_s += time.perf_counter() - t
        with tracer.span("annotate.detect_color_blobs"):
            t = time.perf_counter()
            annotate.detect_color_blobs(pngs)
            detect_s += time.perf_counter() - t
        n_msgs += len(msgs)
        n_frames += len(frames)
        raw_bytes += sum(a.nbytes for a in arrays)
    mb = raw_bytes / 1e6
    return {
        "rosbag_format.messages_per_s": n_msgs / decode_s,
        "rosbag_format.frames_per_s": n_frames / frames_s,
        "png.encode_mb_per_s": mb / enc_s,
        "png.decode_mb_per_s": mb / dec_s,
        "annotate.detect_frames_per_s": n_frames / detect_s,
    }


def ledger_probes(spark, manifest_dir: str, bags_dir: str, work: str, tracer) -> dict:
    """Ledger read/append cost at the run's final ledger, and discovery's
    listing + anti-join. The append goes to a copy of the ledger."""
    log = os.path.join(manifest_dir, "_log")  # one numbered entry per commit
    commits = sum(
        1 for f in (os.listdir(log) if os.path.isdir(log) else []) if f[:-5].isdigit()
    )
    with tracer.span("streaming.pipeline.current_manifest"):
        t = time.perf_counter()
        sp.current_manifest(spark, manifest_dir).count()
        read_s = time.perf_counter() - t
    copy = os.path.join(work, "ledger_probe")
    shutil.rmtree(copy, ignore_errors=True)
    if os.path.isdir(manifest_dir):
        shutil.copytree(manifest_dir, copy)
    with tracer.span("streaming.pipeline.append_status"):
        t = time.perf_counter()
        sp.append_status(spark, copy, ["file:/probe/key.bag"], "complete")
        append_s = time.perf_counter() - t
    shutil.rmtree(copy, ignore_errors=True)
    with tracer.span("operators.discovery.discover_new"):
        t = time.perf_counter()
        listing = (
            spark.read.format("binaryFile").option("pathGlobFilter", "*.bag*")
            .load(bags_dir).withColumnRenamed("path", "key")
        )
        discovery.discover_new(
            listing, sp.current_manifest(spark, manifest_dir), key_col="key"
        ).select("key").collect()
        list_s = time.perf_counter() - t
    return {
        "ledger.commits": commits,
        "ledger.read_s": read_s,
        "ledger.append_s": append_s,
        "discovery.list_s": list_s,
    }


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class BagWorkload:
    """Shared tick loop. Subclasses provide ``prepare`` (inputs),
    ``next_tick`` (the config and the bags a tick should complete) and the
    targets of the traced run's probes."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.work = ctx.work
        self.bags_dir = os.path.join(self.work, "bags")
        self.tick_no = 0
        self.walls: list[float] = []
        self.mb_per_s: list[float] = []
        self.detail: dict[str, list[float]] = {}

    def _cfg(self, manifest_dir: str) -> runner.PipelineConfig:
        out = os.path.join(self.work, f"out{self.tick_no}")
        return runner.PipelineConfig(
            bags_dir=self.bags_dir, output_dir=out, manifest_dir=manifest_dir
        )

    def tick(self, timed: bool) -> None:
        ctx = self.ctx
        cfg, bags = self.next_tick()
        bag_bytes = sum(b["bytes"] for b in bags)
        mark = ctx.acct.mark() if ctx.acct else None
        trace_id = f"tick{self.tick_no}"
        result: dict = {}
        error = None
        span_id = len(ctx.tracer.spans)
        with ctx.tracer.span(
            "runner.run_once", trace_id, bags=len(bags), bag_bytes=bag_bytes
        ) as counts:
            t = time.perf_counter()
            try:
                result = runner.run_once(ctx.spark, cfg)
            except Exception as exc:  # noqa: BLE001 — counted as failed bags
                error = repr(exc)[:300]
            wall = time.perf_counter() - t
        if ctx.acct:
            t_h = time.perf_counter()
            acct = ctx.acct.since(mark)
            counts.update(jobs=acct["jobs"], stages=acct["stages"], tasks=acct["tasks"])
            for e, stage in zip(acct["executions"], attribute(acct["executions"], cfg)):
                if e["end"] is not None:
                    ctx.tracer.add(
                        f"e1.{stage}", ctx.tracer.wall_to_rel(e["start"]),
                        ctx.tracer.wall_to_rel(e["end"]), span_id, trace_id,
                        jobs=len(e["jobs"]),
                    )
            layers = tick_layers(acct, cfg, bag_bytes)
            ctx.harvest_s += time.perf_counter() - t_h
        errors = [f"run_once raised {error}"] * len(bags) if error else check_tick(
            ctx.spark, cfg, bags, result
        )
        shutil.rmtree(cfg.output_dir, ignore_errors=True)
        self.tick_no += 1
        if not timed:
            ctx.warmup_s = wall
            ctx.failures += errors
            return
        ctx.record_op(wall, attempted=len(bags), failed=len(errors), errors=errors)
        self.walls.append(wall)
        self.mb_per_s.append(bag_bytes / 1e6 / wall)
        if ctx.acct:
            ctx.record_spark(acct)
            for k, v in layers.items():
                self.detail.setdefault(k, []).append(v)

    def warmup(self) -> None:
        self.tick(timed=False)

    def op(self) -> None:
        self.tick(timed=True)

    def can_stop(self) -> bool:
        return True

    def summary(self) -> dict:
        n = len(self.walls)
        return {
            "tick_p50_s": (median(self.walls), "s", n),
            "bag_mb_per_s": (median(self.mb_per_s), "MB/s", n),
        }

    def layer_metrics(self) -> dict:
        out = {}
        for k, vals in self.detail.items():
            name = "ledger.scans_per_tick" if k == "ledger_scans" else f"e1.{k}"
            out[name] = median(vals)
        return out

    def probes(self) -> dict:
        ctx = self.ctx
        out = kernel_probes(self.probe_bags(), ctx.tracer)
        out.update(ledger_probes(
            ctx.spark, self.probe_manifest(), self.bags_dir, self.work, ctx.tracer
        ))
        return out


class Backlog(BagWorkload):
    def prepare(self) -> dict:
        self.bags = [
            gen.write_bag(self.bags_dir, self.ctx.seed, i, **BACKLOG_SIZE)
            for i in range(BACKLOG_BAGS)
        ]
        for b in self.bags:
            b.update(width=BACKLOG_SIZE["width"], height=BACKLOG_SIZE["height"])
        return {"bags": len(self.bags), "bag_bytes": sum(b["bytes"] for b in self.bags)}

    def next_tick(self):
        return self._cfg(os.path.join(self.work, f"manifest{self.tick_no}")), self.bags

    def probe_manifest(self) -> str:
        return os.path.join(self.work, f"manifest{self.tick_no - 1}")

    def probe_bags(self) -> list[str]:
        return [b["path"] for b in self.bags[:2]]


class Trickle(BagWorkload):
    def __init__(self, ctx, corrupt_first: bool = False):
        super().__init__(ctx)
        self.manifest = os.path.join(self.work, "manifest")
        self.next_index = TRICKLE_HISTORY
        self.corrupt_first = corrupt_first
        self.released: list[dict] = []

    def _bag(self, index: int) -> dict:
        bag = gen.write_bag(self.bags_dir, self.ctx.seed, index, **TRICKLE_SIZE)
        bag.update(width=TRICKLE_SIZE["width"], height=TRICKLE_SIZE["height"])
        return bag

    def prepare(self) -> dict:
        history = [self._bag(i) for i in range(TRICKLE_HISTORY)]
        keys = [key_of(b["path"]) for b in history]
        sp.append_status(None, self.manifest, keys, "complete")
        sp.compact_manifest(None, self.manifest)
        for i in range(TRICKLE_COMMITS):
            sp.append_status(None, self.manifest, [keys[i % len(keys)]], "complete")
        return {"history_bags": len(history), "ledger_commits": TRICKLE_COMMITS + 2}

    def next_tick(self):
        bag = self._bag(self.next_index)
        self.next_index += 1
        if self.corrupt_first and self.tick_no == 1:  # first timed tick
            with open(bag["path"], "r+b") as f:
                f.truncate(bag["bytes"] // 3)
        self.released.append(bag)
        return self._cfg(self.manifest), [bag]

    def probe_manifest(self) -> str:
        return self.manifest

    def probe_bags(self) -> list[str]:
        return [b["path"] for b in self.released[-2:]]
