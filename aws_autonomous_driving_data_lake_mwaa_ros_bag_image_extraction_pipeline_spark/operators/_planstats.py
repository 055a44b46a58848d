"""Driver-side plan-size estimates for scale/strategy autoswitches.

Several operators carry two physically different (result-identical) forms —
a latency-shaped one for small inputs and an exchange-shaped one for
corpus-scale inputs (broadcast vs salted band join, early vs late vector
attach). The switch needs an input-size signal that costs nothing: the sum
of Catalyst's size estimates for the analyzed plan's LEAF relations — for
parquet scans that is the file-size total the listing already knows, and
for a checkpointed intermediate Spark copies the source plan's stats onto
the LogicalRDD leaf. Leaves only, deliberately: Catalyst's propagated
estimates through Generate/Aggregate subtrees routinely read EiB-garbage
(measured: a two-row LocalRelation under a simhash aggregate estimated
5.3 EiB), while leaf estimates are grounded in storage bytes. A driver-side
tree visit — no optimization pass, no job, no data read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def input_size_bytes(df: DataFrame) -> int | None:
    """Total Catalyst size estimate (bytes) of the base relations feeding
    ``df`` — leaf nodes of the analyzed plan — or ``None`` when the JVM
    call fails."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            v = leaves.apply(i).stats().sizeInBytes()
            total += v if isinstance(v, int) else int(v.toString())
        return total
    except Exception:
        return None


def broadcast_threshold_bytes(spark) -> int:
    """The session's autoBroadcastJoinThreshold as an int (the JVM conf
    accessor parses the size suffix), 10 MB on failure."""
    try:
        return int(
            spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        )
    except Exception:
        return 10 << 20

