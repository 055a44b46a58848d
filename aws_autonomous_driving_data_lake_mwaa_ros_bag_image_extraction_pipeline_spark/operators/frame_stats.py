"""Per-frame detection statistics (operators A1, A2, K4-K6, P9).

Reference: DynamoDB wide rows keyed (timestamp, camera) with one dynamic
attribute per label name = max confidence (conditional update
``attribute_not_exists(X) OR X < :conf``, processing.py:257-267) plus
``Ped_Count/Bike_Count/Motorbike_Count`` = bounding-box instance counts of
Person/Bicycle/Motorcycle (processing.py:239-255,272-283). Names are
sanitized ``' ' -> '_'`` (processing.py:241).

Spark-first: the conditional max-upsert *is* ``max()`` under grouping — the
row-at-a-time DynamoDB protocol collapses into one aggregate over the
labels rows. With the label vocabulary known, every wide column and every
counter is an array expression over a frame's ``labels`` cell (filter,
then ``array_max`` or ``aggregate``) folded by ``max``/``sum`` in ONE
``groupBy(frame)``: no explode, no pivot, no join. E1 gets the vocabulary
for free from the landing write's ``observe()`` (``label_names`` per
frame, flattened by ``vocabulary_of``). Partial aggregation makes the
shuffle carry one row per frame and map task — the same plan holds at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

COUNTED = {"Person": "Ped_Count", "Bicycle": "Bike_Count", "Motorcycle": "Motorbike_Count"}


def sanitized(name: Column) -> Column:
    """P9: a label name as a column name (``' ' -> '_'``)."""
    return F.regexp_replace(name, " ", "_")


def label_names(labels: Column) -> Column:
    """One frame's sorted, distinct sanitized label names (NULL names
    included; ``vocabulary_of`` drops them). Sorted and distinct so that a
    ``collect_set`` of it stays small: frames with the same names collect
    once."""
    names = F.transform(labels, lambda l: sanitized(l["Name"]))
    return F.array_sort(F.array_distinct(names))


def vocabulary_of(collected) -> list[str]:
    """A ``collect_set(label_names(...))`` result → the ``pivot_stats``
    vocabulary: every non-NULL name, sorted."""
    return sorted({n for names in collected for n in names if n is not None})


def exploded_labels(labels: DataFrame, frame_cols: list[str] | None = None) -> DataFrame:
    """One row per (frame, label), for ``max_confidence_map``.
    explode_OUTER: a frame with NULL/empty labels keeps one all-NULL label
    row, so it still gets its output row (the reference writes stats for
    every processed frame, processing.py:272-283) instead of silently
    vanishing; the consumer drops NULL names (they can't key a map)."""
    frame_cols = frame_cols or ["bag_id", "camera", "frame_index"]
    return labels.select(
        *frame_cols, F.explode_outer("labels").alias("label")
    ).select(
        *frame_cols,
        sanitized(F.col("label.Name")).alias("name"),
        F.col("label.Confidence").alias("confidence"),
    )


def _counts() -> list[Column]:
    """The A1 counters as aggregates over a ``labels`` column: per frame
    row, the Instances of its labels named by a ``COUNTED`` key (a NULL
    Instances list counts 0), summed over the group; 0 for a frame with
    no such label."""
    return [
        F.coalesce(
            F.sum(
                F.aggregate(
                    F.filter("labels", lambda l: l["Name"] == cls),
                    F.lit(0),
                    lambda acc, l: acc + F.size(F.coalesce(l["Instances"], F.array())),
                )
            ),
            F.lit(0),
        ).alias(out)
        for cls, out in COUNTED.items()
    ]


def _max_confidence(name: str) -> Column:
    """The A2 wide column for one sanitized ``name``: the max Confidence
    of the frame's labels so named (NULL Confidences ignored), over the
    group; NULL for a frame with no such label."""
    matching = F.filter("labels", lambda l: sanitized(l["Name"]) == name)
    return F.max(F.array_max(F.transform(matching, lambda l: l["Confidence"]))).alias(name)


def instance_counts(labels: DataFrame, frame_cols: list[str] | None = None) -> DataFrame:
    """A1: per-frame Person/Bicycle/Motorcycle bounding-box instance counts."""
    frame_cols = frame_cols or ["bag_id", "camera", "frame_index"]
    return labels.groupBy(*frame_cols).agg(*_counts())


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
    """A1+A2 as one DataFrame: the DynamoDB wide row, one aggregate.

    Columns: ``frame_cols``, one ``double`` max-confidence column per
    ``vocabulary`` name (in its order; NULL where the frame has no such
    label), then the ``bigint`` counters. Every input frame key gets one
    row, label-less frames included (zero counters); frame keys that
    repeat fold into one row. ``vocabulary`` is the sorted, sanitized,
    non-NULL label names; without it one job collects it first (E1 passes
    the one its landing write observed).
    """
    frame_cols = frame_cols or ["bag_id", "camera", "frame_index"]
    if vocabulary is None:
        vocabulary = vocabulary_of(
            labels.agg(F.collect_set(label_names(F.col("labels")))).first()[0]
        )
    return labels.groupBy(*frame_cols).agg(
        *(_max_confidence(name) for name in vocabulary), *_counts()
    )
