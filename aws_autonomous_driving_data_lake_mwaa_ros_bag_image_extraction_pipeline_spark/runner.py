"""End-to-end pipeline runner (E1: O1/O2 composition).

The reference's DAG — sensor → tag → Fargate extract → label → aggregate →
draw → tag complete (rosbag_processing.py:131-136, processing.py:30-50,
141-173) — collapses into one incremental tick:

    discover (driver-side: pyarrow bag listing minus the ledger's
      terminal/active keys, like the reference's sensor)
      → decode bags: messages + frames → infer (P13) → draw (P12), in
        one Python task per bag
      → topic landing (K1), then at once: labels → frame_stats aggregate
        (A1+A2, K4) · labels JSON · annotated binary sink (K7)
      → manifest transitions in progress → complete | failure (O1/O2, K8),
        committed driver-side

The empty-discovery branch (O1 ``no_work``) returns before any Spark job,
and a tick with work runs a fixed number of jobs whatever its bag count.
Each job is described by its stage (``e1.landing``, ``e1.frame_stats``,
``e1.labels``, ``e1.annotated``) inside the caller's job group, so the
status store names what a tick ran; the reference scales out with one
Fargate task per bag, this tick by running its frame sinks side by side.
Failures mark ``failure`` per bag instead of the reference's silent
container-STOP=success (processing.py:154-173). Every stage is a DataFrame
transform — no XCom, no polling; lineage replaces cross-task value passing
(O5).
"""

from __future__ import annotations

from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import SparkContext, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from .operators import frame_stats, sinks
from .schemas import TOPIC_WHITELIST
from .sources import frames_source
from .sources.rosbag_format import MESSAGE_COLUMNS
from .streaming import pipeline as sp


@dataclass
class PipelineConfig:
    bags_dir: str
    output_dir: str
    manifest_dir: str
    # the reference's acceptable_topics whitelist (engine.py:200-209);
    # keeps sensor_msgs/Image blobs out of the message landing table
    # (they land as PNG frames instead). None = decode everything.
    topics: list[str] | None = field(
        default_factory=lambda: list(TOPIC_WHITELIST)
    )
    # P13 plug, operators/annotate's contract: list of uint8 pixel arrays →
    # one label list per array. None = the numpy color-blob detector
    model_fn: object = None
    sync_dir: str | None = None  # optional K2 file-tree export
    extra: dict = field(default_factory=dict)


@contextmanager
def _job_description(sc: SparkContext, name: str) -> Iterator[None]:
    """Jobs this thread starts inside the block carry ``name`` as their
    description; the caller's description is back afterwards."""
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def process_bags(
    spark: SparkSession, cfg: PipelineConfig, batch: DataFrame
) -> list[str]:
    """One batch of bags (rows with a ``path``) through the full E2+E1
    computation.

    Every bag output (topic tables, frame stats, labels, annotated frames)
    comes from ONE read of each bag in ONE Python task — the reference
    needs two full bag passes plus a realtime replay (engine.py:96-137) and
    a Rekognition round trip per PNG; here ``frames_source.decode_bags``
    opens each bag by path, parses it once, runs ``cfg.model_fn`` on the
    raw frames and draws their boxes, so no raw frame is ever PNG-encoded
    and no PNG is decoded again. The decoded rows are persisted and split
    into the topic landing and the three frame sinks; the slim labels
    projection is persisted too, so the stats and labels sinks never
    re-read the annotated PNGs.

    The landing write runs first and materialises the decode; the
    frame_stats, labels and annotated writes (and the ``sync_dir`` export
    when set) then run together, one pool thread each, with the caller's
    job group and scheduler pool. Starting a frame sink before the decode
    is cached would let two jobs decode the same bag. The tick waits for
    every sink, re-raises the first error and only then unpersists.

    Failure isolation is the quarantine pattern: a bag that fails to open
    or parse becomes one error row, the whole batch is ONE set of Spark
    jobs regardless of bag count, and the failed paths ride back on the
    landing write's ``observe()`` metrics (no extra pass, no driver-side
    per-bag loop), as does the label vocabulary the frame_stats columns
    are built from. An exception from ``cfg.model_fn`` fails the tick.
    Returns the failed bag paths (O2: the caller records them as
    ``failure`` in the manifest).

    REPLAY-IDEMPOTENT sinks: every landing table partitions by bag_id and
    writes as a DYNAMIC partition overwrite, so a bag re-run after
    ``clear_status`` (or a tick retried after a mid-pipeline failure)
    rewrites ITS OWN partitions instead of appending duplicates — a bag
    whose telemetry landed but whose frames stage failed would otherwise
    double its topic_messages on replay. The mode is a per-write option,
    not the session conf, which every thread of the session shares.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    is_msg = F.col("topic").isNotNull()
    bad = F.col("decode_error").isNotNull()

    # persist: the bag parse + inference + annotated PNG encode is the most
    # expensive stage, and its rows feed the landing AND the three frame
    # sinks — uncached it would re-run every bag per sink
    decoded = frames_source.decode_bags(batch, cfg.topics, cfg.model_fn).persist()
    frames = decoded.filter(F.col("camera").isNotNull())
    keys = ["bag_id", "camera", "frame_index"]
    labels = frames.select(*keys, "labels").persist()
    # A3: pipeline counters via observe() — collected from the write job
    # itself, no extra pass over the data (the reference counts uploads in a
    # Python loop, engine.py:282-300).
    obs = Observation("decode_metrics")
    msgs = (
        decoded.observe(
            obs,
            F.count(F.when(is_msg, F.lit(1))).alias("n_messages"),
            # observe() forbids DISTINCT aggregates; HLL is exact at
            # topic-count cardinalities
            F.approx_count_distinct("topic").alias("n_topics"),
            F.collect_set(F.when(bad, F.col("bag_path"))).alias("failed_paths"),
            # the frame_stats vocabulary, so its aggregate needs no
            # value pass of its own
            F.collect_set(frame_stats.label_names(F.col("labels"))).alias(
                "label_names"
            ),
        )
        .filter(is_msg)
        .select(MESSAGE_COLUMNS)
    )
    sc = spark.sparkContext

    def overwrite(df: DataFrame, *cols: str):
        return (
            df.write.partitionBy(*cols)
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
        )

    try:
        with _job_description(sc, "e1.landing"):
            overwrite(msgs, "bag_id", "topic").option(
                "compression", "snappy"
            ).parquet(f"{cfg.output_dir}/topic_messages")
        metrics = cfg.extra["last_metrics"] = obs.get
        failed = list(metrics["failed_paths"])

        stats = frame_stats.pivot_stats(
            labels, vocabulary=frame_stats.vocabulary_of(metrics["label_names"])
        )
        annotated = frames.select(*keys, "annotated")
        writes = {
            "e1.frame_stats": lambda: overwrite(stats, "bag_id").parquet(
                f"{cfg.output_dir}/frame_stats"
            ),
            "e1.labels": lambda: overwrite(labels, "bag_id", "camera").json(
                f"{cfg.output_dir}/labels"
            ),
            "e1.annotated": lambda: overwrite(
                annotated, "bag_id", "camera"
            ).parquet(f"{cfg.output_dir}/annotated"),
        }
        if cfg.sync_dir is not None:
            writes["e1.sync"] = lambda: sinks.export_binary_files(
                annotated.withColumn("filename", sinks.frame_filename()),
                cfg.sync_dir,
            )
        # the landing write has materialised the persisted decode, so the
        # frame sinks only read its cache blocks and can run at once
        done = []
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            for name, write in writes.items():
                # the wrapper copies this thread's local properties now:
                # the caller's job group and pool, described as ``name``
                with _job_description(sc, name):
                    done.append(
                        pool.submit(inheritable_thread_target(spark)(write))
                    )
        for f in done:
            f.result()
    finally:
        decoded.unpersist()
        labels.unpersist()
    return failed


def run_once(spark: SparkSession, cfg: PipelineConfig) -> dict[str, str]:
    """One incremental tick: ``streaming.pipeline.process_pending``
    discovers the pending bags on the driver and hands their paths to
    ``process_bags``. Call it on a schedule for the reference's cron +
    sensor (rosbag_processing.py:16-24); clear a key's status to re-run
    its bag, including one a killed process left ``in progress``.

    Returns {bag key: "complete" | "failure"} for this tick; {} = the O1
    ``no_work`` branch, which runs no Spark job.
    """
    return sp.process_pending(
        spark,
        cfg.bags_dir,
        cfg.manifest_dir,
        lambda batch: process_bags(spark, cfg, batch),
    )

