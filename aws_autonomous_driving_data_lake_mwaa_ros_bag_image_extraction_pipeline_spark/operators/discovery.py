"""Incremental file discovery + processing-state ledger.

Reference semantics: ``S3MetadataSensor.poke`` lists ``*.bag`` keys and
excludes any whose ``processing.status`` tag is set
(s3_metadata_sensor.py:49-68,76-90 — operators S1/S2/S3); status transitions
are written as object tags (processing.py:4-27 — K8); ``determine_workload``
branches on empty results (processing.py:30-50 — O1).

Spark-first re-expression: the listing is a DataFrame, the tag store is a
``bag_manifest`` table, and "exclude already-processed" is a **left anti
join** — which Catalyst plans as a broadcast anti join while the manifest is
dim-sized, exactly what you want at 100 TB of source objects: the multi-TB
listing never shuffles.

E1's batch tick (streaming/pipeline.process_pending) applies the same rule
on the driver, where its one-directory listing and the ledger already live,
so its discovery runs no Spark job; ``discover_new`` is the rule's Spark
form over a listing DataFrame (the registered query ``discovery_anti_join``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import TERMINAL_OR_ACTIVE


# ``fnmatch('*.bag')`` (s3_metadata_sensor.py:60-63), extended to the
# ``.bag.tar.gz`` wrapping the reference unpacks at download time
# (engine.py:35-51 — our S6 decoder unwraps it at scan time instead). One
# rule for the Spark filter below and the driver-side bag listing
# (sources/listing.list_bag_keys).
BAG_SUFFIXES = (".bag", ".bag.tar.gz")


def is_bag_key(key: Column) -> Column:
    """``BAG_SUFFIXES`` as a Column predicate."""
    out = key.endswith(BAG_SUFFIXES[0])
    for suffix in BAG_SUFFIXES[1:]:
        out = out | key.endswith(suffix)
    return out


def discover_new(listing: DataFrame, manifest: DataFrame, key_col: str = "key") -> DataFrame:
    """Unprocessed ``*.bag`` objects = wildcard filter + anti join vs state.

    ``listing``: any DataFrame with a ``key`` column (one row per object).
    ``manifest``: state table with ``key`` + ``status``.
    """
    seen = manifest.filter(F.col("status").isin(TERMINAL_OR_ACTIVE)).select(key_col)
    return (
        listing.filter(is_bag_key(F.col(key_col)))
        .join(F.broadcast(seen), key_col, "left_anti")
    )


def pick_first(discovered: DataFrame, key_col: str = "key") -> DataFrame:
    """S3 list order = lexicographic; the sensor takes ``key_matches[0]``
    (s3_metadata_sensor.py:69-70). Deterministic: order + limit 1."""
    return discovered.orderBy(key_col).limit(1)
