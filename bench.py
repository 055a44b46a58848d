"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE COMPACT JSON line sized to fit the driver's bounded stdout
tail window (~2000 chars):
    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1, "full_artifact": ...}
Everything else (cold-start, scaling curves, graph/layout/HNSW
micro-benches, per-query deltas vs the previous round) goes ONLY to the
committed BENCH_full_r{N}.json — rounds 5/6 proved that printing the full
object truncates in the driver record ("parsed": null).

Each query is forced end-to-end with a noop sink (full execution, no
driver-side materialization — the 100 TB-honest way to time a plan).

Noise protocol (round-6 lesson: a contended host recorded phantom
+20-90% "regressions" on code with zero diffs): min of 5 timed runs,
rounds interleaved across queries to decorrelate CPU-contention bursts,
plus an automatic outlier pass — any query whose delta vs the previous
committed full artifact exceeds ±25% is re-run twice more and the min
kept, so a noisy burst must survive 7 samples to pollute the history.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    t0 = time.time()
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.plans import (
        registry,
    )

    registry_import_sec = time.time() - t0
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.session import (
        get_spark,
    )

    t0 = time.time()
    spark = get_spark("bench")
    session_startup_sec = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")

    heads = registry.headline_queries()
    # Warm each query once at the target SF (Janino codegen + HotSpot JIT of
    # the generated classes — a one-time ~10-20s cost for the heaviest
    # expression trees, and C2 only kicks in with enough rows), then time the
    # steady state. That's what a long-running cluster job sees; cold-start
    # compile time is not a per-query property. Verified: repeat runs re-run
    # all stages (no cross-job shuffle reuse inflating the numbers).
    # The warm-up pass IS the cold run, so time it: the cold_start block
    # records what a fresh driver pays the first time each plan executes
    # (analysis + codegen + JIT on top of the steady-state cost), plus the
    # one-time registry-import and SparkSession-bootstrap costs.
    cold: dict[str, float] = {}
    for name, fn in heads.items():
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold[name] = round(time.time() - t0, 3)

    # min of 5 timed runs per query, rounds INTERLEAVED across queries:
    # single measurements on a shared host showed 3x outliers from CPU
    # contention, and back-to-back repeats share the same burst — spreading
    # a query's samples across the whole bench decorrelates them. The min is
    # the standard noise-resistant estimator of the plan's actual cost.
    timings: dict[str, float] = {n: float("inf") for n in heads}
    for _round in range(5):
        for name, fn in heads.items():
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = min(timings[name], time.time() - t0)
    timings = {n: round(v, 3) for n, v in timings.items()}

    # Per-round history. THIS round comes from tools/roundno.py (the one
    # shared source ci.sh also uses, overridable via SPARK_GRAFT_ROUND);
    # diff against the latest artifact from an EARLIER round — preferring
    # the committed BENCH_full_r{M}.json (it always carries every per-query
    # time; the driver's own BENCH_r file keeps only a bounded output tail
    # and has truncated before), falling back to driver records when no
    # full artifact exists.
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(here, "tools"))
    from roundno import current_round

    rnd = current_round()
    prev_round, prev_queries = None, {}
    candidates = []
    for pat, is_full in (("BENCH_r*.json", False), ("BENCH_full_r*.json", True)):
        for path in glob.glob(os.path.join(here, pat)):
            m = re.search(r"r(\d+)\.json$", path)
            if m and int(m.group(1)) < rnd:
                candidates.append((int(m.group(1)), is_full, path))
    # ascending (round, is_full): the last parseable record wins, so the
    # highest earlier round is chosen and its full artifact beats the
    # driver's possibly-truncated one
    for r, _is_full, path in sorted(candidates):
        try:
            rec = json.load(open(path))
            parsed = rec.get("parsed", rec)
            if parsed and parsed.get("queries"):
                prev_round, prev_queries = r, parsed["queries"]
        except Exception:
            continue

    # Outlier pass: a query whose time moved more than ±25% vs the previous
    # round's committed record gets two extra runs, min kept. Real
    # regressions survive (the code actually changed → re-runs reproduce
    # the new time); contention bursts don't (round 6's pq_topk "+92%" was
    # 1.84 s on an idle re-time of identical code).
    outlier_reruns: list[str] = []
    for name, prev in sorted(prev_queries.items()):
        cur = timings.get(name)
        if cur is None or prev <= 0:
            continue
        if abs(cur - prev) / prev > 0.25:
            outlier_reruns.append(name)
            best = cur
            for _ in range(2):
                t0 = time.time()
                heads[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.time() - t0)
            timings[name] = round(best, 3)

    out = {
        "metric": "headline_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cold_start": {
            "registry_import_sec": round(registry_import_sec, 3),
            "session_startup_sec": round(session_startup_sec, 3),
            "first_run_total_sec": round(sum(cold.values()), 3),
            "per_query_first_run": cold,
            "note": "first execution of each plan in a fresh driver "
                    "(analysis + Janino codegen + JIT included); headline "
                    "'queries' times are steady-state (min of 5 "
                    "interleaved warm runs with a \u00b125% outlier "
                    "re-run pass)",
        },
    }

    # --- two-point scale curve for the dedup/ANN family -------------------
    # Re-time the heavy detector queries at sf0.01 (10x less data than the
    # default sf0.1) and report the per-query scaling exponent
    # log10(t_hi / t_lo): ~1 = linear in data, ~2 = quadratic. The
    # banded/bucketed paths must stay well under 2; the exact all-pairs
    # baseline (deliberately non-headline) is included as the contrast.
    lo_dir = os.environ.get("SPARK_GRAFT_SF_LO_DIR", "/root/testdata/sf0.01")
    scaling_set = [
        "minhash_dedup_pairs", "simhash_near_pairs", "ngram_jaccard_pairs",
        "embedding_dup_pairs_lsh", "embedding_dup_pairs", "near_dup_clusters",
        "lsh_topk", "semantic_dedup_survivors", "edit_distance_pairs",
        "pq_topk",
        # the ANN index contrast: IVF at the >=0.8-recall default probes a
        # fixed FRACTION of the corpus (linear in N), HNSW beam search does
        # O(hops*beam*degree) evals per query (flat in N; its time is the
        # amortizable graph build)
        "ivf_topk", "hnsw_topk",
    ]
    if os.path.isdir(lo_dir) and os.environ.get("SPARK_GRAFT_SCALING", "1") != "0":
        import math

        lo_m = re.search(r"sf([\d.]+)", lo_dir)
        lo_sf = float(lo_m.group(1)) if lo_m else None
        ratio = math.log10((sf or 0.1) / (lo_sf or 0.01))
        all_q = registry.QUERIES
        scaling = {}
        for name in scaling_set:
            fn = all_q[name].fn
            fn(spark, lo_dir).write.format("noop").mode("overwrite").save()  # warm
            lo_t = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn(spark, lo_dir).write.format("noop").mode("overwrite").save()
                lo_t = min(lo_t, time.time() - t0)
            hi_t = timings.get(name)
            if hi_t is None:  # non-headline contrast query: time it at sf hi
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                hi_t = float("inf")
                for _ in range(2):
                    t0 = time.time()
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    hi_t = min(hi_t, time.time() - t0)
                hi_t = round(hi_t, 3)
            scaling[name] = {
                "sec_lo": round(lo_t, 3),
                "sec_hi": hi_t,
                "exponent": round(math.log10(hi_t / lo_t) / ratio, 2),
            }
        out["scaling"] = {
            "sf_lo": lo_sf, "sf_hi": sf, "per_query": scaling,
            "note": "exponent=log10(t_hi/t_lo)/log10(sf_hi/sf_lo); ~1 linear,"
                    " ~2 quadratic. Fixed per-query overhead (job setup,"
                    " planning) inflates t_lo, so data-bound exponents read"
                    " LOW at these sizes; the signal is the gap between the"
                    " bucketed paths and the exact all-pairs baseline.",
        }

    # --- optional high-SF spot-check for the heaviest detectors -----------
    # At sf0.1 every headliner is sub-2 s and dominated by fixed per-query
    # cost, so per-core-count parallelism is unmeasurable (the driver's
    # 8-vs-32-core ratios all read ≈1). When a larger dataset is available
    # (SPARK_GRAFT_SF_HI_DIR, e.g. an sf1 directory), time the four
    # heaviest detector queries there too — full-artifact-only addition,
    # the stdout line and the headline timings are untouched.
    hi_dir = os.environ.get("SPARK_GRAFT_SF_HI_DIR")
    if hi_dir and os.path.isdir(hi_dir):
        hi_set = [
            "minhash_dedup_pairs", "simhash_near_pairs",
            "winnow_guaranteed_pairs", "near_dup_clusters",
        ]
        all_q = registry.QUERIES
        hi: dict[str, float] = {}
        for name in hi_set:
            fn = all_q[name].fn
            fn(spark, hi_dir).write.format("noop").mode("overwrite").save()
            t = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn(spark, hi_dir).write.format("noop").mode("overwrite").save()
                t = min(t, time.time() - t0)
            hi[name] = round(t, 3)
        m_hi = re.search(r"sf([\d.]+)", hi_dir)
        out["sf_hi_spotcheck"] = {
            "sf": float(m_hi.group(1)) if m_hi else None,
            "dir": hi_dir,
            "per_query": hi,
            "note": "warm min-of-2 at the high SF (same noop-sink "
                    "methodology); present only when SPARK_GRAFT_SF_HI_DIR "
                    "exists — parallelism wins invisible at sf0.1 show up "
                    "here",
        }

    # --- adversarial graph micro-bench (near_dup_clusters kernel) ---------
    # Worst-case topologies for the alternating-star CC: max-diameter chain
    # and heavy-skew star-of-stars. Records observed star rounds and wall
    # time. Both fit the default edge budget, so they close on the driver
    # (0 rounds); tests/test_graph.py pins the star loop's O(log n) rounds
    # under a budget of 1.
    if os.environ.get("SPARK_GRAFT_GRAPH_BENCH", "1") != "0":
        from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.graph import (
            connected_components,
        )

        graph_notes = {}
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(2047)], "src long, dst long"
        )
        st: dict = {}
        t0 = time.time()
        n_comp = (
            connected_components(chain, stats=st)
            .select("component").distinct().count()
        )
        graph_notes["chain_2048"] = {
            "rounds": st["rounds"], "sec": round(time.time() - t0, 3),
            "components": n_comp,
        }
        edges = [(0, 1 + 9 * h) for h in range(512)]
        for h in range(512):
            hub = 1 + 9 * h
            edges += [(hub, hub + j) for j in range(1, 9)]
        star = spark.createDataFrame(edges, "src long, dst long")
        st = {}
        t0 = time.time()
        n_comp = (
            connected_components(star, stats=st)
            .select("component").distinct().count()
        )
        graph_notes["star_of_stars_4609"] = {
            "rounds": st["rounds"], "sec": round(time.time() - t0, 3),
            "components": n_comp,
        }
        out["graph_adversarial"] = graph_notes
    # --- layout micro-bench: zone-map skipping over a z-ordered lake ------
    # Writes the events table z-clustered on (user_id, value), then runs the
    # same 2-D range aggregate through the zone-map pruned path and the
    # plain full-scan path. Records wall time and how many files the zone
    # map admitted — the effect that, at 100 TB, turns "scan a million
    # footers" into "open the handful of files the query can touch".
    if os.environ.get("SPARK_GRAFT_LAYOUT_BENCH", "1") != "0":
        import shutil
        import tempfile

        from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.layout import (
            write_zordered,
            zonemap_candidate_files,
            zonemap_pruned_read,
            zonemap_stats,
        )
        from pyspark.sql import functions as F

        tmp = tempfile.mkdtemp(prefix="zorder_bench_")
        lake = os.path.join(tmp, "events_z")
        try:
            ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
                "event_id", "user_id", "value", "event_type"
            )
            write_zordered(ev, lake, ["user_id", "value"], n_files=32, bits=10)
            zm = zonemap_stats(spark, lake, ["user_id", "value"]).cache()
            zm.count()
            ranges = {"user_id": (100, 160), "value": (10.0, 30.0)}
            n_files = len(zonemap_candidate_files(zm, ranges))

            def _agg(df):
                return df.groupBy("event_type").agg(
                    F.count(F.lit(1)).alias("n")
                )

            cond = F.col("user_id").between(100, 160) & F.col(
                "value"
            ).between(10.0, 30.0)
            # warm both paths, then min-of-2 each
            _agg(zonemap_pruned_read(spark, lake, ranges, zm)).write.format(
                "noop"
            ).mode("overwrite").save()
            _agg(spark.read.parquet(lake).filter(cond)).write.format(
                "noop"
            ).mode("overwrite").save()
            t_pruned = t_full = float("inf")
            for _ in range(2):
                t0 = time.time()
                _agg(
                    zonemap_pruned_read(spark, lake, ranges, zm)
                ).write.format("noop").mode("overwrite").save()
                t_pruned = min(t_pruned, time.time() - t0)
                t0 = time.time()
                _agg(spark.read.parquet(lake).filter(cond)).write.format(
                    "noop"
                ).mode("overwrite").save()
                t_full = min(t_full, time.time() - t0)
            out["layout"] = {
                "files_total": 32,
                "files_admitted": n_files,
                "sec_pruned": round(t_pruned, 3),
                "sec_full_scan": round(t_full, 3),
                "note": "signal = files_admitted (the metadata/IO a real "
                        "lake avoids opening); wall deltas on 32 tiny local "
                        "files are footer-read noise",
            }
            zm.unpersist()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # --- graph-ANN index: build vs search, measured separately ------------
    # hnsw_topk in the scaling block times the INLINE path (graph build +
    # search in one plan), which conflates the one-time NN-descent build
    # with the per-query beam search. The index's serving contract is
    # "build once (amortized across every query batch), search at
    # O(hops·beam·degree) score evals per query independent of corpus
    # size" — so time the persisted-index path on each side of that line.
    if os.environ.get("SPARK_GRAFT_HNSW_BENCH", "1") != "0":
        import shutil
        import tempfile

        from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.similarity import (
            build_hnsw_index,
            search_hnsw_index,
        )
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        qs = emb.filter(F.col("vec_id") < 10)
        n_queries = qs.count()  # not the literal 10: vec_ids may be sparse
        tmp = tempfile.mkdtemp(prefix="hnsw_bench_")
        idx = os.path.join(tmp, "idx")
        try:
            t0 = time.time()
            build_hnsw_index(emb, idx)
            build_sec = time.time() - t0
            search_hnsw_index(spark, idx, qs, k=5).write.format(
                "noop"
            ).mode("overwrite").save()  # warm (codegen + JIT)
            s = float("inf")
            for _ in range(3):
                t0 = time.time()
                search_hnsw_index(spark, idx, qs, k=5).write.format(
                    "noop"
                ).mode("overwrite").save()
                s = min(s, time.time() - t0)
            out["hnsw_index"] = {
                "build_sec": round(build_sec, 3),
                "search_sec": round(s, 3),
                "n_queries": n_queries,
                "note": "persisted-index path (similarity.build_hnsw_index"
                        " / search_hnsw_index): build is the one-time"
                        " amortized cost, search is the per-batch serving"
                        " cost; the scaling block's hnsw_topk times the"
                        " inline build+search plan instead",
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # Persisted PQ index: same build/search split as hnsw_index, for the
    # state-minimal member of the family (m small-int codes per vector —
    # the stored vectors are never read at query time).
    if os.environ.get("SPARK_GRAFT_PQ_BENCH", "1") != "0":
        import shutil
        import tempfile

        from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.similarity import (
            build_pq_index,
            search_pq_index,
        )
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        qs = emb.filter(F.col("vec_id") < 10)
        n_queries = qs.count()
        tmp = tempfile.mkdtemp(prefix="pq_bench_")
        idx = os.path.join(tmp, "idx")
        try:
            t0 = time.time()
            build_pq_index(emb, idx, dim=64)
            build_sec = time.time() - t0
            search_pq_index(spark, idx, qs, k=5, dim=64).write.format(
                "noop"
            ).mode("overwrite").save()  # warm (codegen + JIT)
            s = float("inf")
            for _ in range(3):
                t0 = time.time()
                search_pq_index(spark, idx, qs, k=5, dim=64).write.format(
                    "noop"
                ).mode("overwrite").save()
                s = min(s, time.time() - t0)
            out["pq_index"] = {
                "build_sec": round(build_sec, 3),
                "search_sec": round(s, 3),
                "n_queries": n_queries,
                "note": "persisted-index path (similarity.build_pq_index"
                        " / search_pq_index): build encodes the corpus to"
                        " m one-byte codes per vector (one-time); search"
                        " is ADC over the code table only — the"
                        " full-precision vectors are never read. The"
                        " headline pq_topk times the inline encode+search"
                        " plan instead",
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # Persisted LSH index: the bucket-partitioned serving layout — search
    # reads ONLY each query's probed (table, bucket) partitions.
    if os.environ.get("SPARK_GRAFT_LSH_INDEX_BENCH", "1") != "0":
        import shutil
        import tempfile

        from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.similarity import (
            build_lsh_index,
            search_lsh_index,
        )
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        qs = emb.filter(F.col("vec_id") < 10)
        n_queries = qs.count()
        tmp = tempfile.mkdtemp(prefix="lsh_bench_")
        idx = os.path.join(tmp, "idx")
        try:
            t0 = time.time()
            # n_bits sized to the benched corpus (~5k vectors): 64 buckets
            # per table keeps partition dirs file-sized; a bigger corpus
            # wants more bits (which also shrinks buckets)
            build_lsh_index(emb, idx, dim=64, n_bits=6)
            build_sec = time.time() - t0
            search_lsh_index(spark, idx, qs, k=5).write.format(
                "noop"
            ).mode("overwrite").save()  # warm (codegen + JIT)
            s = float("inf")
            for _ in range(3):
                t0 = time.time()
                search_lsh_index(spark, idx, qs, k=5).write.format(
                    "noop"
                ).mode("overwrite").save()
                s = min(s, time.time() - t0)
            out["lsh_index"] = {
                "build_sec": round(build_sec, 3),
                "search_sec": round(s, 3),
                "n_queries": n_queries,
                "note": "persisted-index path (similarity.build_lsh_index"
                        " / search_lsh_index): the (table, bucket)"
                        " partitioned layout makes a query batch's probe a"
                        " partition-pruned read — unprobed buckets never"
                        " leave storage. The headline lsh_topk times the"
                        " inline bucket+join plan instead",
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    if prev_queries:
        out["prev_round"] = prev_round
        out["delta_vs_prev"] = {
            n: round(timings[n] - prev_queries[n], 3)
            for n in timings
            if n in prev_queries
        }
    if outlier_reruns:
        out["outlier_reruns"] = {
            "queries": outlier_reruns,
            "note": "delta vs prev full artifact exceeded ±25% after the "
                    "min-of-5 pass; re-run twice more, min kept",
        }

    # Persist the complete output object as a committed artifact
    # (BENCH_full_r{N}.json, N from tools/roundno.py — the same round
    # ci.sh stamps on CORRECTNESS_full). The driver's BENCH_r{N}.json
    # keeps only a bounded ~2000-char tail of process output, so stdout
    # gets a COMPACT line carrying just the keys the driver parses
    # (metric/value/unit/queries/sf) — printing the full object truncated
    # the driver record in rounds 4-6 ("parsed": null).
    full_name = f"BENCH_full_r{rnd:02d}.json"
    try:
        full_path = os.path.join(here, full_name)
        with open(full_path, "w") as f:
            json.dump(out, f, indent=2, sort_keys=True)
            f.write("\n")
    except OSError:
        # read-only checkout: the compact stdout line still lands, but it
        # must not point consumers at a file that was never written
        full_name = None

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "queries": out["queries"],
        "full_artifact": full_name,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: never outgrow the tail window
        compact.pop("queries")
        compact["n_queries_timed"] = len(out["queries"])
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
