"""Scale probe BEYOND the bench gate: sf0.1 × {1, 2, 5, 10} synthetic
multiples of the documents/embeddings tables, timing the heavy dedup/ANN
family, the chunk-key text/curation family (passage stats + scrub,
decontamination, BM25), and the persisted graph-ANN index (build timed per
multiple — near-linear; search timed against it — must stay flat), and
fitting per-query growth exponents.

    python tools/scale_probe.py [--multiples 1,2,5,10]

Replication is content-aware so the probe measures "more data of the same
character", not an artifact:

- documents: replica i rotates the alphabet (``translate``) so replicas
  share NO vocabulary — cross-replica near-dup pairs are impossible and
  the true pair count scales LINEARLY with the multiple (k identical
  copies of each doc would instead inflate pairs ~k² and fake a
  quadratic).
- embeddings: ids offset per replica; vectors reused as-is. Top-k probes
  keep a FIXED query set, so candidate work grows with the corpus only.
- events/geo fixes: ids offset per replica AND timestamps shifted by
  i × 10 years, so spatiotemporal pairing (|dt| ≤ 1 h) across replicas is
  impossible — colocation pair counts scale linearly. The static radius
  join keeps its FIXED 10-query probe set, so its result grows with the
  corpus only.

Prints one JSON line: {"multiples": [...], "per_query": {name:
{"sec": {k: t}, "exponent": e}}} where exponent = log(t_k_max / t_1) /
log(k_max); ~1 linear, ~2 quadratic. Fixed per-job overhead inflates t_1,
so data-bound exponents read LOW — the signal is bucketed paths staying
near-or-below linear while any all-pairs baseline bends up.
"""

from __future__ import annotations

import json
import math
import os
import string
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ID_STRIDE = 100_000_000


def replicate_docs(docs: DataFrame, k: int) -> DataFrame:
    """k replicas with rotated alphabets (disjoint vocabularies). ``source``
    rides along unchanged so the contamination probe can split each
    replica into its own training/benchmark halves (replica i's benchmark
    passages can only hit replica i's training docs — true contamination
    work scales linearly with k)."""
    parts = []
    alpha = string.ascii_lowercase
    for i in range(k):
        rot = alpha[i:] + alpha[:i]
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * ID_STRIDE)).alias("doc_id"),
                F.translate(F.col("text"), alpha, rot).alias("text"),
                "source",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replicate_embeddings(emb: DataFrame, k: int) -> DataFrame:
    parts = [
        emb.select(
            (F.col("vec_id") + F.lit(i * ID_STRIDE)).alias("vec_id"),
            F.col("embedding"),
        )
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replicate_fixes(fixes: DataFrame, k: int) -> DataFrame:
    """k replicas of GPS fixes: fresh track/fix ids, timestamps shifted a
    decade apart per replica (cross-replica colocation within 1 h is
    impossible → true pair count stays linear in k)."""
    parts = [
        fixes.select(
            (F.col("user_id") + F.lit(i * ID_STRIDE)).alias("user_id"),
            (F.col("event_id") + F.lit(i * ID_STRIDE)).alias("event_id"),
            F.timestamp_add("SECOND", F.lit(i * 315_360_000), F.col("ts")).alias("ts"),
            "lat",
            "lon",
        )
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replicate_points(pts: DataFrame, k: int) -> DataFrame:
    """k replicas of static points (fresh ids, coordinates reused): the
    radius probe keeps its fixed 10-query set, so work is corpus-bound."""
    parts = [
        pts.select(
            (F.col("point_id") + F.lit(i * ID_STRIDE)).alias("point_id"),
            "lat",
            "lon",
        )
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    multiples = [1, 2, 5, 10]
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--multiples" and i + 1 < len(argv):  # space-separated
            multiples = [int(x) for x in argv[i + 1].split(",")]
        elif a.startswith("--multiples="):
            multiples = [int(x) for x in a.split("=", 1)[1].split(",")]
    if len(multiples) < 2:
        raise SystemExit(
            "--multiples needs >= 2 points (the exponent is a fit "
            "between the lowest and highest multiple)"
        )

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.functions import (
        text as T,
    )
    from pyspark.sql import Window

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
        curation,
        dedup,
        fuzzy,
        geo,
        graph,
        search as search_op,
        similarity,
        textstats,
    )
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.plans.registry import (
        _t,
    )
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.session import (
        get_spark,
    )

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    docs0 = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    emb0 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    queries0 = emb0.filter(F.col("vec_id") < 10)
    # GPS-shaped fixes/points derived from events exactly as the registered
    # geo queries derive them (registry q_geo_radius_pairs /
    # q_colocation_pairs)
    ev0 = _t(spark, SF_DIR, "events")
    fixes0 = ev0.select(
        "user_id", "event_id", "ts",
        (F.pmod(F.col("user_id"), F.lit(1200)).cast("double") / 10 - 60).alias("lat"),
        (F.pmod(F.col("event_id"), F.lit(3400)).cast("double") / 10 - 170).alias("lon"),
    )
    pts0 = fixes0.select(
        F.col("event_id").alias("point_id"), "lat", "lon"
    )
    geo_qs0 = pts0.filter(F.col("point_id") < 10).withColumnRenamed(
        "point_id", "query_id"
    )
    par = spark.sparkContext.defaultParallelism
    import shutil
    import tempfile

    hnsw_tmp = tempfile.mkdtemp(prefix="hnsw_probe_")
    # throwaway build: NN-descent's generated code JITs on first execution
    # (~5-10s) — absorb it here so the k=1 build isn't inflated and the
    # build exponent measures data growth, not compiler warm-up
    similarity.build_hnsw_index(
        emb0.limit(512), os.path.join(hnsw_tmp, "warm")
    )

    def _cdc_ratio(docs: DataFrame) -> DataFrame:
        # mirrors registry.q_cdc_dedup_ratio's plan shape exactly
        ch = curation.cdc_chunks(docs, avg_tokens=8)
        w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_id")
        per = ch.select("n_tokens", F.row_number().over(w).alias("rn"))
        first = (F.col("rn") == 1).cast("long")
        return per.agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(first).alias("n_unique_chunks"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.col("n_tokens") * first).cast("long").alias(
                "unique_tokens"
            ),
        )

    def probes(k: int) -> dict:
        docs = replicate_docs(docs0, k)
        # the minhash probes spread the corpus like the registry's
        # documents read does (plans.registry._spread_docs)
        spread = docs.repartition(par, "doc_id")
        emb = replicate_embeddings(emb0, k)
        fixes = replicate_fixes(fixes0, k)
        pts = replicate_points(pts0, k)
        # graph-ANN contrast: build the persisted index per multiple
        # (timed, recorded as its own entry — expected near-linear), then
        # the probe times SEARCH ONLY against it, which must stay flat:
        # O(hops·beam·degree) score evals per query regardless of corpus.
        # min-of-3 like every other row: a single-shot build timing once
        # recorded a stall-inflated 74.5 s for a build that re-times at
        # 20.4 s (round 9's phantom 0.71 exponent) — the overwrite builds
        # also converge the C2 JIT of the NN-descent loop's codegen.
        idx = os.path.join(hnsw_tmp, f"idx_{k}")
        bt = float("inf")
        for _ in range(3):
            t0 = time.time()
            similarity.build_hnsw_index(emb, idx)
            bt = min(bt, time.time() - t0)
        results.setdefault("hnsw_index_build", {"sec": {}})["sec"][
            str(k)
        ] = round(bt, 3)
        return {
            "exact_dedup_groups": lambda: dedup.exact_dedup_groups(docs),
            # The pair detectors' results are materialized inside the
            # timed call (localCheckpoint(eager=True)): the protocol the
            # committed SCALE_PROBE.json figures were taken under.
            "minhash_dedup_pairs": lambda: dedup.minhash_dedup_pairs(
                spread, threshold=0.8
            ).localCheckpoint(eager=True),
            "simhash_near_pairs": lambda: dedup.simhash_near_pairs(
                docs
            ).localCheckpoint(eager=True),
            "lsh_topk": lambda: similarity.lsh_topk(
                emb, dim=64, k=5, queries=queries0
            ),
            "brute_force_topk": lambda: similarity.brute_force_topk(
                emb, queries0, k=5
            ),
            "edit_distance_pairs": lambda: fuzzy.edit_distance_pairs(
                docs,
                id_col="doc_id",
                text=T.normalized(F.col("text")).substr(1, 64),
                k=2,
            ),
            "near_dup_clusters": lambda: graph.connected_components(
                dedup.minhash_dedup_pairs(
                    spread, threshold=0.8
                ).localCheckpoint(eager=True),
                src="id_a",
                dst="id_b",
            ),
            # corpus-frequency passage scrub: rotated-alphabet replicas
            # share no vocabulary, so cross-replica passage collisions are
            # impossible and true scrub work scales linearly with k
            "passage_scrub": lambda: curation.scrub_duplicate_passages(
                docs, n=3, max_df=1
            ),
            "passage_dup_stats": lambda: curation.passage_dup_stats(
                docs, n=3
            ),
            # per-replica train/benchmark split (see replicate_docs): the
            # broadcast benchmark side and the true hit count both scale
            # linearly with k
            "benchmark_contamination": lambda: curation.contamination_overlap(
                docs.filter(F.col("source") != "src0"),
                docs.filter(F.col("source") == "src0"),
                n=3,
            ),
            # fixed 4-term query; rotated replicas add corpus (tf pass +
            # 1-row stats broadcast) but no new matches — corpus-bound
            "bm25_topk": lambda: search_op.bm25_topk(
                docs,
                ["spark", "window", "customer", "vector"],
                k=25,
            ),
            # CDC storage dedup: zero-shuffle chunk fold + one groupBy on
            # md5(chunk) (the registry's row_number-window shape); rotated
            # replicas share no chunks, so unique-chunk work is linear in k
            "cdc_dedup_ratio": lambda: _cdc_ratio(docs),
            # winnowing pair mining: array-local fingerprint selection +
            # df-ceiling-pruned inverted-index self-join; rotated replicas
            # share no 16-char substrings, so true pairs stay linear in k
            "winnow_overlap_pairs": lambda: textstats.winnow_overlap_pairs(
                docs
            ).localCheckpoint(eager=True),
            "winnow_guaranteed_pairs": lambda: textstats.winnow_overlap_pairs(
                docs, window=8
            ).localCheckpoint(eager=True),
            # ExactSubstr span mining: overlapping-gram hash window +
            # islands merge; rotated replicas share no 8-token grams, so
            # duplicated positions (and spans) stay linear in k
            "dup_spans": lambda: curation.duplicated_spans(docs, k=8),
            "hnsw_search": lambda: similarity.search_hnsw_index(
                spark, idx, queries0, k=5
            ),
            "geo_radius_pairs": lambda: geo.geo_radius_join(
                pts, geo_qs0, radius_km=50.0
            ),
            "colocation_pairs": lambda: geo.colocation_pairs(
                fixes, radius_km=50.0, max_dt_s=3600
            ),
        }

    results: dict[str, dict] = {}
    for k in multiples:
        for name, fn in probes(k).items():
            if k == multiples[0]:
                # C2 JIT of the generated whole-stage code converges over
                # SEVERAL executions of the same plan shape (measured: the
                # minhash plan runs 12.6→8.7→9.3→1.6 s on repeats) — warm
                # three times on the smallest multiple
                for _ in range(3):
                    fn().write.format("noop").mode("overwrite").save()
            dt = float("inf")
            # min-of-3: a single ambient stall (measured: a 14.7 s reading
            # for a plan that re-times at 1.9 s) can hit both of min-of-2
            for _ in range(3):
                t0 = time.time()
                fn().write.format("noop").mode("overwrite").save()
                dt = min(dt, time.time() - t0)
            dt = round(dt, 3)
            results.setdefault(name, {"sec": {}})["sec"][str(k)] = dt
            print(f"  k={k:>2} {name:24s} {dt:7.2f}s", file=sys.stderr)
        # drop anything a lazy operator parked for this multiple's inputs
        # before the next multiple is timed (bounded-memory protocol)
        spark.catalog.clearCache()

    shutil.rmtree(hnsw_tmp, ignore_errors=True)
    k_lo, k_hi = multiples[0], multiples[-1]
    for name, r in results.items():
        t_lo, t_hi = r["sec"][str(k_lo)], r["sec"][str(k_hi)]
        r["exponent"] = round(
            math.log(t_hi / t_lo) / math.log(k_hi / k_lo), 2
        )
    print(json.dumps({"sf_base": SF_DIR, "multiples": multiples,
                      "per_query": results}))


if __name__ == "__main__":
    main()
