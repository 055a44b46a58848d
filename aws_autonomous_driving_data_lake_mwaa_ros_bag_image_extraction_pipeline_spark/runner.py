"""End-to-end pipeline runner (E1: O1/O2 composition).

The reference's DAG — sensor → tag → Fargate extract → label → aggregate →
draw → tag complete (rosbag_processing.py:131-136, processing.py:30-50,
141-173) — collapses into one incremental Spark job per tick:

    discover (manifest anti-join / stream checkpoint)
      → decode bags: messages + frames → infer (P13) → draw (P12), in
        one Python task per bag
      → topic landing (K1) · labels → frame_stats pivot (A1+A2, K4)
        · labels JSON · annotated binary sink (K7)
      → manifest transitions in progress → complete | failure (O1/O2, K8),
        committed driver-side

The empty-discovery branch (O1 ``no_work``) is a no-op tick; failures mark
``failure`` per bag instead of the reference's silent container-STOP=success
(processing.py:154-173). Every stage is a DataFrame transform — no XCom, no
polling; lineage replaces cross-task value passing (O5).
"""

from __future__ import annotations

from dataclasses import dataclass, field

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
    re-read the annotated PNGs. Appends (not overwrites) so each
    incremental tick adds its bags to the landing tables.

    Failure isolation is the quarantine pattern: a bag that fails to open
    or parse becomes one error row, the whole batch is ONE set of Spark
    jobs regardless of bag count, and the failed paths ride back on the
    landing write's ``observe()`` metrics (no extra pass, no driver-side
    per-bag loop). An exception from ``cfg.model_fn`` fails the tick.
    Returns the failed bag paths (O2: the caller records them as
    ``failure`` in the manifest).

    REPLAY-IDEMPOTENT sinks: every landing table partitions by bag_id and
    writes as a DYNAMIC partition overwrite, so a bag re-run after
    ``clear_status`` (or a tick retried after a mid-pipeline failure)
    rewrites ITS OWN partitions instead of appending duplicates — a bag
    whose telemetry landed but whose frames stage failed would otherwise
    double its topic_messages on replay.
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
        )
        .filter(is_msg)
        .select(MESSAGE_COLUMNS)
    )
    prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        msgs.write.partitionBy(
            "bag_id", "topic"
        ).mode("overwrite").option("compression", "snappy").parquet(
            f"{cfg.output_dir}/topic_messages"
        )
        cfg.extra["last_metrics"] = obs.get
        failed = list(obs.get["failed_paths"])

        stats = frame_stats.pivot_stats(labels)
        stats.write.partitionBy("bag_id").mode("overwrite").parquet(
            f"{cfg.output_dir}/frame_stats"
        )
        labels.write.partitionBy("bag_id", "camera").mode("overwrite").json(
            f"{cfg.output_dir}/labels"
        )

        annotated = frames.select(*keys, "annotated")
        annotated.write.partitionBy("bag_id", "camera").mode(
            "overwrite"
        ).parquet(f"{cfg.output_dir}/annotated")
        if cfg.sync_dir is not None:
            sinks.export_binary_files(
                annotated.withColumn("filename", sinks.frame_filename()),
                cfg.sync_dir,
            )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_mode
        )
        decoded.unpersist()
        labels.unpersist()
    return failed


def run_once(spark: SparkSession, cfg: PipelineConfig) -> dict[str, str]:
    """One incremental tick (batch form — the replay-capable path).

    Returns {bag key: "complete" | "failure"} for this tick; {} = the O1
    ``no_work`` branch.
    """
    return sp.process_pending(
        spark,
        cfg.bags_dir,
        cfg.manifest_dir,
        lambda batch: process_bags(spark, cfg, batch),
    )


def run_stream_tick(spark: SparkSession, cfg: PipelineConfig, checkpoint_dir: str) -> None:
    """One ``Trigger.AvailableNow`` streaming tick (exactly-once discovery
    via checkpoint; the O4 form of the reference's 30-minute cron).

    Known limit: the ``binaryFile`` stream rejects a schema without
    ``content``, so this tick still reads each bag through the JVM and
    fails on a bag over ``spark.sql.sources.binaryFile.maxLength``; only
    the batch tick (``run_once``) reads bags by path alone."""
    sp.run_available_now(
        spark,
        cfg.bags_dir,
        checkpoint_dir,
        cfg.manifest_dir,
        lambda batch: process_bags(spark, cfg, batch),
    )
