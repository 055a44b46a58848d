"""Persisted MinHash-LSH index — incremental near-dup detection at corpus
scale.

``dedup.minhash_dedup_pairs`` recomputes every signature per run; a 100 TB
corpus ingesting daily batches cannot. The production shape is an *index*:
shingle → minhash → band buckets computed ONCE per document and persisted,
so deduplicating a new batch costs O(batch) compute plus one bucket join
against the store — never a corpus-wide re-shingle (the same
build/probe/append contract as similarity.build_ivf_index).

Store layout under ``index_path``:

- ``buckets/`` — (id, band, bucket, pfx) parquet, hive-partitioned by
  ``pfx`` = first 2 hex chars of the bucket (256 dirs). A probe computes
  the new batch's bucket prefixes and filters ``pfx IN (...)`` — a literal
  in-filter that prunes partitions at plan time, so a small batch touches
  a fraction of the store instead of shuffling all of it.
- ``signatures/`` — (id, mh0..mhk) parquet: lets the probe *estimate*
  Jaccard for candidates (matching-minhash fraction) without fetching
  document text; exact verification joins text back only for candidates.
- ``params/`` — one row (shingle_len, num_hashes, bands): probe and append
  refuse to run against an index built with different hashing parameters.

Citations: the reference processes each bag exactly once and records state
externally (processing.py:9-27 tag ledger); this is that incremental
contract applied to the dedup operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dedup
from ._caching import share


def _buckets_from_sig(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, band, bucket, pfx) — one row per (doc, band), derived from an
    ALREADY-COMPUTED signature frame (band md5s over the mh columns are
    cheap; the expensive shingle→md5→min pipeline runs once per
    build/append/probe and both the signature store and the bucket store
    derive from that single pass — previously each ran it twice)."""
    rows_per_band = num_hashes // bands
    per_band = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col), F.explode(per_band).alias("bb")
    ).select(
        F.col(id_col),
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
        F.col("bb.bucket").substr(1, 2).alias("pfx"),
    )


def _params_row(shingle_len: int, num_hashes: int, bands: int):
    return [(int(shingle_len), int(num_hashes), int(bands))]


def _check_params(
    spark: SparkSession, index_path: str, shingle_len: int, num_hashes: int, bands: int
) -> None:
    got = spark.read.parquet(f"{index_path}/params").collect()[0]
    want = _params_row(shingle_len, num_hashes, bands)[0]
    if (got.shingle_len, got.num_hashes, got.bands) != want:
        raise ValueError(
            f"index at {index_path} was built with "
            f"(shingle_len={got.shingle_len}, num_hashes={got.num_hashes}, "
            f"bands={got.bands}); probe/append requested {want}"
        )


def build_minhash_index(
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> None:
    """Materialize the signature + bucket store for ``docs``."""
    spark = docs.sparkSession
    sig = dedup.minhash_signatures(docs, id_col, text_col, shingle_len, num_hashes)
    sig.write.mode("overwrite").parquet(f"{index_path}/signatures")
    # buckets derive from the WRITTEN signatures — the shingle pipeline
    # above ran once, materialized by the write; this read is store-sized
    sig_stored = spark.read.parquet(f"{index_path}/signatures")
    _buckets_from_sig(sig_stored, id_col, num_hashes, bands).write.mode(
        "overwrite"
    ).partitionBy("pfx").parquet(f"{index_path}/buckets")
    spark.createDataFrame(
        _params_row(shingle_len, num_hashes, bands),
        "shingle_len int, num_hashes int, bands int",
    ).write.mode("overwrite").parquet(f"{index_path}/params")


def append_to_minhash_index(
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> None:
    """Add a batch's signatures/buckets to an existing index (ids must be
    new — the index does not dedup itself)."""
    _check_params(new_docs.sparkSession, index_path, shingle_len, num_hashes, bands)
    sig = dedup.minhash_signatures(
        new_docs, id_col, text_col, shingle_len, num_hashes
    ).cache()  # one shingle pass feeds both writes
    sig.write.mode("append").parquet(f"{index_path}/signatures")
    _buckets_from_sig(sig, id_col, num_hashes, bands).write.mode(
        "append"
    ).partitionBy("pfx").parquet(f"{index_path}/buckets")
    sig.unpersist()



def dedup_against_index(
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Near-dup candidates for a new batch: (id_new, id_match, est_jaccard).

    ``id_match`` ranges over BOTH the indexed corpus and the rest of the
    batch (so a batch's internal dups surface too); pairs wholly inside the
    index are never re-reported — they were found when their batch arrived.
    ``est_jaccard`` is the matching-minhash fraction (unbiased estimator of
    shingle Jaccard); exact verification is ``dedup.jaccard_pairs`` over
    the candidate ids, which touches only those documents' text.

    Probe cost: O(batch) hashing + one join keyed (band, bucket) against a
    prefix-pruned slice of the store. The prefix in-list is collected from
    the batch (≤256 literals) — plan-time partition pruning, no store scan.
    """
    spark = new_docs.sparkSession
    _check_params(spark, index_path, shingle_len, num_hashes, bands)

    # locally checkpointed (lazy, per call): the signature frame feeds the
    # bucket derivation AND the estimator join (one shingle pass, not
    # two); the bucket frame is read by the prefix collect, the cross
    # probe, and the within self-join. Batch-sized. localCheckpoint, not
    # cache(): a cache entry is keyed on the canonicalized plan, so
    # repeat probes of the same batch would be served from the
    # CacheManager (never recomputed, never measured) and entries evict
    # only under LRU pressure; checkpoint blocks are per-call and freed
    # on GC.
    new_sig = share(dedup.minhash_signatures(
        new_docs, id_col, text_col, shingle_len, num_hashes
    ))
    new_banded = share(_buckets_from_sig(new_sig, id_col, num_hashes, bands))
    pfxs = [r.pfx for r in new_banded.select("pfx").distinct().collect()]
    idx = spark.read.parquet(f"{index_path}/buckets").filter(
        F.col("pfx").isin(pfxs)
    )
    # batch-vs-index: new ids on the left, store ids on the right.
    cross = (
        new_banded.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_new"),
            F.col(f"b.{id_col}").alias("id_match"),
        )
    )
    # batch-internal pairs (ordered to avoid double-reporting).
    within = (
        new_banded.alias("a")
        .join(
            new_banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_new"),
            F.col(f"b.{id_col}").alias("id_match"),
        )
    )
    cands = cross.unionByName(within).distinct()

    all_sig = spark.read.parquet(f"{index_path}/signatures").unionByName(new_sig)
    eq = [
        (F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}")).cast("int")
        for i in range(num_hashes)
    ]
    est = sum(eq[1:], eq[0]).cast("double") / F.lit(num_hashes)
    return (
        cands.join(new_sig.alias("sa"), cands["id_new"] == F.col(f"sa.{id_col}"))
        .join(all_sig.alias("sb"), cands["id_match"] == F.col(f"sb.{id_col}"))
        .select("id_new", "id_match", est.alias("est_jaccard"))
    )
