"""Per-frame detection statistics (operators A1, A2, K4-K6, P9).

Reference: DynamoDB wide rows keyed (timestamp, camera) with one dynamic
attribute per label name = max confidence (conditional update
``attribute_not_exists(X) OR X < :conf``, processing.py:257-267) plus
``Ped_Count/Bike_Count/Motorbike_Count`` = bounding-box instance counts of
Person/Bicycle/Motorcycle (processing.py:239-255,272-283). Names are
sanitized ``' ' -> '_'`` (processing.py:241).

Spark-first: the conditional max-upsert *is* ``max()`` under grouping — the
row-at-a-time DynamoDB protocol collapses into one shuffle:
``explode(labels) → groupBy(frame).pivot(Name).agg(max(Confidence))``.
Partial aggregation (map-side combine) makes the shuffle carry one row per
(frame, label), not one per detection — the same plan holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COUNTED = {"Person": "Ped_Count", "Bicycle": "Bike_Count", "Motorcycle": "Motorbike_Count"}


def exploded_labels(labels: DataFrame, frame_cols: list[str] | None = None) -> DataFrame:
    """One row per (frame, label). explode_OUTER + a NULL-name filter
    inside the aggregations' inputs: a frame with NULL/empty labels keeps
    one all-NULL label row, so it still gets its zero-count output row
    (the reference writes counts for every processed frame,
    processing.py:272-283) instead of silently vanishing; label entries
    with a NULL Name are dropped (they can't key a map or a pivot)."""
    frame_cols = frame_cols or ["bag_id", "camera", "frame_index"]
    return labels.select(
        *frame_cols, F.explode_outer("labels").alias("label")
    ).select(
        *frame_cols,
        F.regexp_replace(F.col("label.Name"), " ", "_").alias("name"),  # P9
        F.col("label.Confidence").alias("confidence"),
        F.size(F.coalesce(F.col("label.Instances"), F.array())).alias("n_instances"),
    )


def instance_counts(labels: DataFrame, frame_cols: list[str] | None = None) -> DataFrame:
    """A1: per-frame Person/Bicycle/Motorcycle bounding-box instance counts."""
    frame_cols = frame_cols or ["bag_id", "camera", "frame_index"]
    ex = exploded_labels(labels, frame_cols)
    aggs = [
        F.coalesce(
            F.sum(F.when(F.col("name") == cls, F.col("n_instances"))), F.lit(0)
        ).alias(out)
        for cls, out in COUNTED.items()
    ]
    return ex.groupBy(*frame_cols).agg(*aggs)


def max_confidence_map(labels: DataFrame, frame_cols: list[str] | None = None) -> DataFrame:
    """A2 scale form: per-frame ``MAP<label, max confidence>``.

    The map form avoids an unbounded pivot schema on a 100 TB label
    vocabulary; ``pivot_stats`` gives the reference-shaped wide row when the
    vocabulary is known/small.
    """
    frame_cols = frame_cols or ["bag_id", "camera", "frame_index"]
    ex = exploded_labels(labels, frame_cols)
    # NULL names can't key a map ([NULL_MAP_KEY] aborts the job) — the
    # outer-exploded placeholder rows and nameless label entries drop
    # here, but collect_list of zero entries still yields the frame's
    # row with an EMPTY map
    per_label = (
        ex.groupBy(*frame_cols, "name")
        .agg(F.max("confidence").alias("conf"))
    )
    return per_label.groupBy(*frame_cols).agg(
        F.map_from_entries(
            F.array_sort(
                F.filter(
                    F.collect_list(F.struct("name", "conf")),
                    lambda e: e["name"].isNotNull(),
                )
            )
        ).alias("label_conf")
    )


def pivot_stats(
    labels: DataFrame,
    frame_cols: list[str] | None = None,
    vocabulary: list[str] | None = None,
) -> DataFrame:
    """A1+A2 as one DataFrame: the DynamoDB wide row as a pivot, joined to
    the instance counts.

    Without ``vocabulary`` Spark runs an extra job for the distinct label
    names before the pivot's own; passing ``vocabulary`` (pre-computed
    distinct names) skips it — at scale, compute it once from a
    sample/dictionary table.
    """
    frame_cols = frame_cols or ["bag_id", "camera", "frame_index"]
    ex = exploded_labels(labels, frame_cols)
    piv = ex.groupBy(*frame_cols).pivot("name", values=vocabulary).agg(
        F.max("confidence")
    )
    return piv.join(instance_counts(labels, frame_cols), frame_cols)
