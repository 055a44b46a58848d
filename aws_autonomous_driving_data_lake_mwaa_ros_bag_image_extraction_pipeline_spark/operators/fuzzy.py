"""Edit-distance (Levenshtein) near-duplicate pairs via PassJoin-style
segment blocking.

The missing flavor in the dedup family: MinHash/Jaccard and SimHash treat a
document as a token set, so they miss small CHARACTER-level edits (OCR noise,
typo'd titles, trailing-byte corruption) that keep the token multiset mostly
intact but matter for training-data hygiene. The classic exact formulation is
an all-pairs ``levenshtein(a, b) <= k`` self-join — O(n²) string DPs, dead at
scale.

This module implements the lossless pigeonhole scheme from PassJoin
(Li, Deng, Jiang, Feng: "PASS-JOIN: A Partition-based Method for Similarity
Joins", VLDB 2012 — public literature): split each string into ``k+1``
contiguous segments; if ``ed(a, b) <= k`` then at least one segment of the
shorter string occurs VERBATIM in the longer one, at a position shifted by at
most ``k``. Candidate generation therefore becomes an EQUI-join on
``(segment_text, segment_index, indexed_length)`` — a hash-partitioned
shuffle whose cost is O(collisions), never O(n²) — followed by a
``levenshtein`` verify (JVM built-in, codegen) on just the candidates.

Scale shape (100 TB):
- index side emits exactly ``k+1`` rows per string; probe side at most
  ``(k+1)² · (2k+1)`` rows (k=2 → 45) — constant fan-out, linear shuffle.
- the join key includes the indexed string's LENGTH, so only length-compatible
  strings ever meet (the |len diff| <= k filter is built into key space).
- verify joins texts back by id (shuffle on ids), never broadcasting the
  corpus; the DP runs only on surviving candidates.

Strings shorter than ``k+1`` cannot be pigeonholed (a segment would be
empty); any partner within distance ``k`` of such a string has length
``<= 2k``, so the tiny-string stratum is closed under the predicate and is
candidate-joined WITHIN itself on length bands (bounded: strings of length
<= 2k; every such pair is length-compatible by construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _segment_bounds(l: Column, i: Column, k: int) -> tuple[Column, Column]:
    """(start, width) of 0-based segment ``i`` when a string of length ``l``
    is split into ``k+1`` even segments, the first ``l mod (k+1)`` of which
    take the extra character. Both sides of the join derive bounds from this
    one formula, which is what makes the equi-join lossless."""
    kp1 = k + 1
    base = (l / kp1).cast("int")
    rem = l % kp1
    start = i * base + F.least(i, rem)
    width = base + F.when(i < rem, F.lit(1)).otherwise(F.lit(0))
    return start, width


def _prepared(docs: DataFrame, id_col: str, text: Column) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("__id"), text.alias("__s")
    ).filter(F.col("__s").isNotNull()).withColumn("__l", F.length("__s"))


def edit_distance_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text: Column | str = "text",
    k: int = 2,
) -> DataFrame:
    """All pairs with ``levenshtein(text_a, text_b) <= k`` →
    ``(id_a, id_b, dist)``, ``id_a < id_b`` — without an all-pairs join.

    ``text`` may be any Column expression (e.g. a normalized prefix); the
    predicate applies to that derived string.
    """
    if k < 1:
        raise ValueError("k must be >= 1; use exact_dedup_groups for k=0")
    kp1 = k + 1
    text_c = F.col(text) if isinstance(text, str) else text
    base = _prepared(docs, id_col, text_c)

    # --- index side: k+1 segments per string of length >= k+1 -------------
    idx = (
        base.filter(F.col("__l") >= kp1)
        .select(
            "__id",
            "__s",
            "__l",
            F.explode(F.sequence(F.lit(0), F.lit(k))).alias("__i"),
        )
    )
    p, w = _segment_bounds(F.col("__l"), F.col("__i"), k)
    idx = idx.select(
        F.col("__id").alias("id_i"),
        F.col("__l").alias("l_i"),
        "__i",
        F.col("__s").substr(p + 1, w).alias("__seg"),
    )

    # --- probe side: candidate substrings for every feasible partner ------
    # length l in [max(k+1, m-k), m] and every alignment shift in [-k, k].
    probe = (
        base.withColumn(
            "__lens",
            F.when(
                F.col("__l") >= kp1,
                F.sequence(
                    F.greatest(F.lit(kp1), F.col("__l") - k), F.col("__l")
                ),
            ).otherwise(F.array().cast("array<int>")),
        )
        .select(
            "__id",
            "__s",
            F.col("__l").alias("__m"),
            F.explode("__lens").alias("__pl"),
        )
        .select(
            "__id",
            "__s",
            "__m",
            "__pl",
            F.explode(F.sequence(F.lit(0), F.lit(k))).alias("__i"),
        )
    )
    pp, pw = _segment_bounds(F.col("__pl"), F.col("__i"), k)
    probe = (
        probe.withColumn("__p", pp)
        .withColumn("__w", pw)
        .select(
            "__id",
            "__s",
            "__m",
            "__pl",
            "__i",
            "__w",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0), F.col("__p") - k),
                    F.least(F.col("__p") + k, F.col("__m") - F.col("__w")),
                )
            ).alias("__q"),
        )
        .select(
            F.col("__id").alias("id_p"),
            F.col("__pl").alias("l_i"),
            "__i",
            F.col("__s").substr(F.col("__q") + 1, F.col("__w")).alias("__seg"),
        )
    )

    # No distinct here: the union with the tiny stratum below ends in ONE
    # distinct that subsumes it — a pre-union distinct was a second full
    # exchange+aggregate of the candidate set for nothing (guide §2.4,
    # same shape as the bloom-build fix).
    cands = (
        idx.join(probe, ["l_i", "__i", "__seg"])
        .filter(F.col("id_i") != F.col("id_p"))
        .select(
            F.least("id_i", "id_p").alias("id_a"),
            F.greatest("id_i", "id_p").alias("id_b"),
        )
    )

    # --- tiny-string stratum: closed under ed<=k, length-band equi-join ---
    # (an equi-join on the shorter side's length, not a cartesian: the
    # longer side emits one probe row per feasible partner length, so the
    # planner keys the shuffle and the plan audit stays cartesian-free)
    tiny = base.filter(F.col("__l") <= 2 * k)
    tiny_idx = tiny.select(
        F.col("__l").alias("__band"), F.col("__id").alias("id_i")
    )
    tiny_probe = tiny.select(
        F.col("__id").alias("id_p"),
        F.explode(
            F.sequence(F.greatest(F.lit(0), F.col("__l") - k), F.col("__l"))
        ).alias("__band"),
    )
    tiny_pairs = (
        tiny_idx.join(tiny_probe, "__band")
        .filter(F.col("id_i") != F.col("id_p"))
        .select(
            F.least("id_i", "id_p").alias("id_a"),
            F.greatest("id_i", "id_p").alias("id_b"),
        )
    )

    all_cands = cands.union(tiny_pairs).distinct()

    # --- verify on candidates only ----------------------------------------
    sa = base.select(
        F.col("__id").alias("id_a"), F.col("__s").alias("__sa")
    )
    sb = base.select(
        F.col("__id").alias("id_b"), F.col("__s").alias("__sb")
    )
    return (
        all_cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("dist", F.levenshtein("__sa", "__sb"))
        .filter(F.col("dist") <= k)
        .select("id_a", "id_b", "dist")
    )


def edit_distance_survivors(
    docs: DataFrame,
    id_col: str = "doc_id",
    text: Column | str = "text",
    k: int = 2,
) -> DataFrame:
    """Canonical-survivor view: drop every doc that has a lower-id partner
    within edit distance ``k`` (min-id survivor per near-dup neighborhood,
    matching the exact-dedup ``keep_id`` convention)."""
    dupped = edit_distance_pairs(docs, id_col, text, k).select(
        F.col("id_b").alias(id_col)
    )
    return docs.join(dupped, id_col, "left_anti")
