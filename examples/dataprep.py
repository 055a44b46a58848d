"""Training-data prep end-to-end: the north-star operator chain.

    python examples/dataprep.py [sf_dir]

Runs the document/embedding tables through the full curation pipeline a
large-scale training-data build needs — each stage is one of the engine's
registered, oracle-checked operators:

1. exact + token-set dedup (hash groupBy, one shuffle each)
2. MinHash-LSH near-dup pairs (banded buckets, Jaccard verify)
3. exact char-n-gram Jaccard pairs (prefix-filtered set-similarity join)
4. SimHash Hamming neighbors (integer signatures, pigeonhole bands)
5. quality scoring + language-ID + token budgeting (all JVM built-ins)
6. embedding near-dup pairs (LSH buckets → cosine verify)
7. ANN top-k over the survivors (hyperplane LSH; brute-force on a probe set)
8. the final keep-list: the BEST-QUALITY doc per duplicate CLUSTER
   (alternating-star connected components over the pair graph, then
   per-cluster argmax quality — keep_best), quality- and language-
   filtered, with its token budget
9. PII scrub of the keep-list (regexp count + redact, scan-speed)
9b. benchmark decontamination of the survivors: contiguous passages
    verify, skip-gram fingerprints screen the change-one-word paraphrase
10. data mixing: deterministic weighted sample per source
11. sequence packing: fixed-token-budget training bins per shard
12. snapshot storage: content-defined chunking (CDC) — chunk-level dedup
    savings now, minimal re-upload when the corpus versions

Every transform is lazy; the only actions are the final counts/shows.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark import (  # noqa: E402
    get_spark,
)
from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (  # noqa: E402
    curation,
    dedup,
    graph,
    similarity,
    textstats,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("dataprep")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    print(f"== corpus: {docs.count()} docs, {emb.count()} embeddings ({sf_dir})")

    # 1) exact duplicate clusters → canonical keep id per fingerprint
    exact = dedup.exact_dedup_groups(docs)
    print(f"== exact dup groups with >1 member: "
          f"{exact.filter(F.col('n_docs') > 1).count()}")

    # 2) MinHash-LSH near-dups (approximate, 100 TB path)
    near = dedup.minhash_dedup_pairs(docs, threshold=0.8)
    # 3) exact n-gram Jaccard (no recall loss; prefix+length+positional filters)
    ngram = dedup.ngram_jaccard_pairs(docs, threshold=0.8, n=8)
    # 4) SimHash neighbors within Hamming distance 3
    sim = dedup.simhash_near_pairs(docs, bits=32, max_hamming=3)
    # 4b) character-level edit-distance pairs on the normalized 64-char
    # prefix (PassJoin segment blocking) — catches typo/OCR-level dups the
    # token-set detectors miss
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.functions import (
        text as T,
    )
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
        fuzzy,
    )

    fz = fuzzy.edit_distance_pairs(
        docs, text=T.normalized(F.col("text")).substr(1, 64), k=2
    )
    print(f"== near-dup pairs: minhash={near.count()} "
          f"ngram_jaccard={ngram.count()} simhash={sim.count()} "
          f"edit_distance={fz.count()}")

    # 4c) ExactSubstr maximal duplicated spans (Lee et al. ACL'22):
    # alignment-free exact token offsets of every verbatim lift — the
    # span report a surgical dedup pass cuts with. The detect+scrub
    # pipeline shares ONE detector pass: the span table is materialized
    # once (localCheckpoint) and scrub_duplicated_spans(spans=...)
    # consumes it instead of re-running the corpus gram scan.
    spans = curation.duplicated_spans(docs, k=8).localCheckpoint(eager=True)
    scrub = curation.scrub_duplicated_spans(docs, spans=spans)
    n_cut = scrub.filter(F.col("n_dropped") > 0).count()
    print(f"== dup spans: {spans.count()} "
          f"(docs with spans scrubbed: {n_cut})")

    # 4d) bounded convergence wrapper: detect→scrub until the scrubbed
    # corpus has NO duplicated spans — the merged-island residual of
    # full-span-hash clustering (a document whose maximal span merged two
    # adjacent lifts keeps a copy through pass 1) needs a second pass.
    # Each pass shares one materialized span table between its probe and
    # its scrub (spans=) and localCheckpoints its output so lineage stays
    # flat; same schema as the single-pass scrub with cumulative n_dropped.
    clean = curation.scrub_until_clean(docs, k=8)
    n_dropped = clean.agg(F.sum("n_dropped")).first()[0]
    print(f"== scrub_until_clean: {clean.count()} docs, "
          f"{n_dropped} tokens dropped total")

    # 5) quality + language + token budget per doc
    scored = (
        textstats.quality_scores(docs)
        .join(textstats.language_id(docs), "doc_id")
        .join(textstats.token_stats(docs), "doc_id")
    )
    # 5b) one-pass keep/drop verdicts (length/lang/quality/repetition rules)
    # and corpus-trained bigram-LM fluency — the two signals a heuristic
    # pipeline adds on top of per-doc features
    verdicts = textstats.curation_decisions(docs)
    verdicts.groupBy("reason").count().orderBy("reason").show()
    worst = textstats.lm_fluency_scores(docs).orderBy("mean_logp")
    print("== least fluent docs (bigram-LM):")
    worst.show(3)

    # 6) embedding-level near-dups (LSH buckets, cosine verify) + SemDeDup
    # cluster-scoped survivors (the Σ|list|² scale path)
    edup = dedup.embedding_dup_pairs(emb, dim=64, threshold=0.95)
    sem = dedup.semantic_dedup_survivors(emb, threshold=0.95, n_lists=16)
    print(f"== embedding near-dup pairs (cos ≥ 0.95): {edup.count()}; "
          f"semantic-dedup survivors: {sem.count()}/{emb.count()}")

    # 8) keep-list: transitive duplicate clusters over the union of all
    # pair detectors, one canonical survivor (smallest id) per cluster
    pairs = (
        near.select("id_a", "id_b")
        .union(ngram.select("id_a", "id_b"))
        .union(sim.select("id_a", "id_b"))
        .union(fz.select("id_a", "id_b"))
        .distinct()
    )
    comp = graph.connected_components(pairs, src="id_a", dst="id_b")
    # quality-aware survivor policy: per cluster keep the BEST copy, not
    # the smallest id (graph.keep_best; ties break to the smaller id)
    keep = graph.keep_best(scored, pairs, "quality").filter(
        (F.col("quality") >= 0.3) & (F.col("pred_lang") != "und")
    )
    total_docs = docs.count()
    kept = keep.count()
    budget = keep.agg(F.sum("n_tokens").alias("t")).first().t
    n_clusters = comp.select("component").distinct().count()
    print(f"== dup clusters: {n_clusters}; "
          f"keep-list: {kept}/{total_docs} docs, {budget} training tokens")
    keep.orderBy(F.desc("quality")).select(
        "doc_id", "pred_lang", "quality", "n_tokens"
    ).show(5)

    # 9) PII scrub of the keep-list (counts + redacted text, scan-speed)
    survivors = docs.join(keep.select("doc_id"), "doc_id", "left_semi")
    red = curation.redact_patterns(survivors)
    hits = red.agg(
        F.sum("n_email").alias("email"), F.sum("n_url").alias("url"),
        F.sum("n_ipv4").alias("ipv4"), F.sum("n_phone").alias("phone"),
    ).first()
    print(f"== PII redacted: email={hits.email} url={hits.url} "
          f"ipv4={hits.ipv4} phone={hits.phone}")

    # 9b) benchmark decontamination of the survivors: contiguous 3-token
    # passages VERIFY leaks exactly; skip-gram fingerprints SCREEN the
    # change-one-word paraphrase a contiguous n-gram goes blind to
    bench = docs.filter(F.col("source") == "src0")
    train = survivors.filter(F.col("source") != "src0")
    leaky = curation.contamination_overlap(train, bench, n=3).filter(
        F.col("contamination") > 0.2
    ).count()
    screened = curation.skipgram_contamination(train, bench, gap=1).filter(
        F.col("contamination") > 0.2
    ).count()
    print(f"== decontamination: {leaky} docs >20% contiguous-passage leak; "
          f"{screened} flagged by the edit-robust skip-gram screen")

    # 9c) lifted-paragraph mining: CLASSIC winnowing (min hash per window
    # of 8 k-gram hashes) — any lift >= 23 chars is GUARANTEED to share a
    # fingerprint; mod-p sampling carries no such floor. Mined on the raw
    # corpus (a discovery step), then on the keep-list to confirm cluster
    # dedup removed the cross-document quotes
    pre = textstats.winnow_overlap_pairs(docs, window=8).count()
    post = textstats.winnow_overlap_pairs(survivors, window=8).count()
    print(f"== winnowing (guaranteed selector): {pre} lifted-paragraph "
          f"pairs in the raw corpus -> {post} on the keep-list")

    # 10) data mixing: weighted per-source sample of the scrubbed survivors
    mixed = curation.weighted_group_sample(
        survivors.withColumn(
            "w", F.expr("CAST(shiftleft(1, CAST(pmod(doc_id, 4) AS INT)) AS INT)")
        ),
        k=10, weight_col="w",
    )
    print(f"== mixed sample: {mixed.count()} docs "
          f"({mixed.select('source').distinct().count()} sources)")

    # 11) sequence packing: fixed-budget training bins over the mix
    bins = curation.pack_bins(mixed, capacity=256, n_shards=8)
    stats = bins.agg(
        F.count(F.lit(1)).alias("n_bins"), F.avg("fill").alias("avg_fill")
    ).first()
    print(f"== packed into {stats.n_bins} bins of 256 tokens, "
          f"avg fill {stats.avg_fill:.2f}")

    # 12) snapshot storage: content-defined chunking — boundaries are a
    # pure function of local content (rsync/LBFS scheme), so a v2 edit
    # re-uploads only the chunks it touches; FastCDC-style min/max bounds
    # (4..16 tokens) guarantee no document can degenerate into one
    # unbounded chunk
    ch = curation.cdc_chunks(
        survivors, avg_tokens=8, min_tokens=4, max_tokens=16
    ).select(
        F.md5("chunk").alias("h"), "n_tokens"
    )
    tot = ch.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("t")
    ).first()
    uniq = ch.dropDuplicates(["h"]).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("t")
    ).first()
    print(f"== CDC store: {tot.n} chunks / {tot.t} tokens -> "
          f"{uniq.n} unique / {uniq.t} tokens "
          f"({1 - uniq.t / tot.t:.1%} dedup savings)")

    # 7) similar-document retrieval over the survivors (LSH ANN)
    topk = similarity.lsh_topk(emb, dim=64, k=3, n_tables=4, n_bits=8)
    print("== ANN top-3 neighbors (hyperplane LSH), sample:")
    topk.orderBy("query_id", "rank").show(6)

    # 8) serving shape: build the persisted PQ index once (m one-byte
    # codes per vector — the full-precision vectors are never read at
    # query time), then answer query batches from the code table alone
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="dataprep_pq_")
    try:
        idx = f"{tmp}/pq"
        similarity.build_pq_index(emb, idx, dim=64)
        qs = emb.filter(F.col("vec_id") < 3)
        hits = similarity.search_pq_index(spark, idx, qs, k=3, dim=64)
        n_vec = emb.count()
        n_codes = spark.read.parquet(f"{idx}/codes").count()
        print(f"== persisted PQ index: {n_vec} vectors -> {n_codes} "
              f"(id, sub, code) rows; ADC top-3 from codes only:")
        hits.orderBy("query_id", "rank").show(9)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
