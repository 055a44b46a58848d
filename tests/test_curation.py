"""Dataset-assembly (curation) operators: packing, sampling, redaction,
passage contamination, heavy hitters."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
    curation,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_sequences_exact_capacity_invariant(spark):
    """No bin exceeds capacity unless it holds a single oversized doc, and
    in id order a doc never fits in the previous bin (true first-fit)."""
    rows = [(i, " ".join(["w"] * (3 + (i * 7) % 40))) for i in range(60)]
    rows.append((60, " ".join(["w"] * 200)))  # oversized: gets its own bin
    got = curation.pack_sequences_exact(
        _docs(spark, rows), capacity=64, n_shards=4
    ).collect()
    by_bin: dict[tuple, int] = {}
    for r in got:
        by_bin.setdefault((r.shard, r.bin_id), []).append(r)
    for (shard, bin_id), members in by_bin.items():
        total = sum(m.n_tokens for m in members)
        assert total <= 64 or len(members) == 1
    # first-fit: within each shard, consecutive docs in the same bin never
    # leave room for the first doc of the next bin
    for shard in {r.shard for r in got}:
        ordered = sorted((r for r in got if r.shard == shard), key=lambda r: r.doc_id)
        fill = 0
        for r in ordered:
            if fill > 0 and fill + r.n_tokens > 64:
                fill = 0  # reference packer opens a new bin exactly here
            fill += r.n_tokens
        # replaying the recurrence reproduces the operator's assignment
        ref_bins, fill, cur = [], 0, 0
        for r in ordered:
            if fill > 0 and fill + r.n_tokens > 64:
                cur, fill = cur + 1, 0
            ref_bins.append(cur)
            fill += r.n_tokens
        assert [r.bin_id for r in ordered] == ref_bins


def test_pack_sequences_greedy_overflow_bound(spark):
    """Greedy-with-overflow: every bin's fill is < capacity + its last doc's
    length (each doc starts in the bin its exclusive prefix points at)."""
    rows = [(i, " ".join(["w"] * (5 + (i * 11) % 50))) for i in range(80)]
    bins = curation.pack_bins(_docs(spark, rows), capacity=100, n_shards=4).collect()
    packed = curation.pack_sequences(_docs(spark, rows), capacity=100, n_shards=4)
    max_doc = packed.agg(F.max("n_tokens")).collect()[0][0]
    for b in bins:
        assert b.total_tokens < 100 + max_doc
    # bins within a shard are dense 0..max
    by_shard: dict[int, list[int]] = {}
    for b in bins:
        by_shard.setdefault(b.shard, []).append(b.bin_id)
    for ids in by_shard.values():
        assert sorted(ids) == list(range(len(ids)))


def test_hash_rate_sample_deterministic_and_monotone(spark):
    rows = [(i, "x", f"s{i % 2}") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    lo = curation.hash_rate_sample(docs, {"s0": 0.2, "s1": 0.2})
    hi = curation.hash_rate_sample(docs, {"s0": 0.6, "s1": 0.6})
    lo_ids = {r.doc_id for r in lo.collect()}
    hi_ids = {r.doc_id for r in hi.collect()}
    assert lo_ids <= hi_ids  # nested samples: raising the rate only adds rows
    assert lo_ids == {r.doc_id for r in lo.collect()}  # re-run identical
    assert 0.1 < len(lo_ids) / 2000 < 0.3 and 0.5 < len(hi_ids) / 2000 < 0.7


def test_group_topk_sample_size_and_determinism(spark):
    rows = [(i, "x", f"s{i % 3}") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = curation.group_topk_sample(docs, k=7).collect()
    per = {}
    for r in got:
        per.setdefault(r.source, set()).add(r.doc_id)
    assert all(len(v) == 7 for v in per.values()) and len(per) == 3
    again = curation.group_topk_sample(docs.repartition(13), k=7).collect()
    assert {(r.source, r.doc_id) for r in again} == {
        (r.source, r.doc_id) for r in got
    }  # partitioning-independent


def test_redact_patterns_pii_fixtures(spark):
    docs = _docs(
        spark,
        [
            (1, "mail me at jane.doe+x@example.co.uk or call +1 555 867 5309"),
            (2, "server 10.0.0.1 logs to https://logs.example.com/x?y=1 ok"),
            (3, "nothing sensitive here"),
        ],
    )
    got = {r.doc_id: r for r in curation.redact_patterns(docs).collect()}
    assert got[1].n_email == 1 and got[1].n_phone == 1
    assert got[2].n_ipv4 == 1 and got[2].n_url == 1
    assert got[3].n_email == got[3].n_url == got[3].n_ipv4 == got[3].n_phone == 0
    assert "[EMAIL]" in got[1].scrubbed and "jane" not in got[1].scrubbed
    assert "[PHONE]" in got[1].scrubbed
    assert "[IPV4]" in got[2].scrubbed and "[URL]" in got[2].scrubbed
    assert got[3].scrubbed == "nothing sensitive here"


def test_passage_dup_stats(spark):
    shared = "alpha beta gamma delta epsilon zeta"  # two shared 3-passages
    docs = _docs(
        spark,
        [
            (1, shared + " one two three"),
            (2, shared + " four five six"),
            (3, "seven eight nine ten eleven twelve"),
            (4, "xy"),  # 1 token → no passages → no output row
        ],
    )
    got = {r.doc_id: r for r in curation.passage_dup_stats(docs, n=3).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].n_passages == 3 and got[1].n_dup_passages == 2
    assert got[2].n_dup_passages == 2
    assert got[3].n_dup_passages == 0 and got[3].dup_ratio == 0.0
    assert abs(got[1].dup_ratio - round(2 / 3, 4)) < 1e-9


def test_heavy_hitters_exact(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a b b c", "s0"),
            (2, "b b a c c c", "s0"),
            (3, "z z y", "s1"),
        ],
        "doc_id long, text string, source string",
    )
    got = curation.heavy_hitters(docs, k=2).collect()
    s0 = sorted(
        [(r.token, r.cnt, r.rank) for r in got if r.source == "s0"], key=lambda t: t[2]
    )
    # a=4, b=4, c=4 in s0 → tie broken by token asc: a, b
    assert s0 == [("a", 4, 1), ("b", 4, 2)]
    s1 = sorted(
        [(r.token, r.cnt, r.rank) for r in got if r.source == "s1"], key=lambda t: t[2]
    )
    assert s1 == [("z", 2, 1), ("y", 1, 2)]


def test_weighted_group_sample_bias_and_determinism(spark):
    """Heavier weights win proportionally more slots; result is identical
    under any input partitioning (Efraimidis-Spirakis with hash keys)."""
    # weight keyed off i//25 so every source holds both weights (i%5 would
    # correlate with the i%25 source and void the comparison)
    rows = [
        (i, "x", f"s{i % 25}", 8 if (i // 25) % 5 == 0 else 1) for i in range(1000)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string, w int")
    got = curation.weighted_group_sample(docs, k=4, weight_col="w").collect()
    assert len(got) == 25 * 4
    heavy = sum(1 for r in got if r.w == 8)
    # 20% of docs carry weight 8 = 8x the odds of the other 80%: expected
    # heavy share ~2/3; demand well above the unweighted 20%
    assert heavy / len(got) > 0.4
    again = curation.weighted_group_sample(
        docs.repartition(17), k=4, weight_col="w"
    ).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in got}


def test_chunk_documents_windows(spark):
    docs = _docs(spark, [(1, " ".join(f"t{i}" for i in range(20))), (2, "a b")])
    got = sorted(
        curation.chunk_documents(docs, size=8, stride=4).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    one = [r for r in got if r.doc_id == 1]
    # 20 tokens, size 8, stride 4 -> ceil((20-8)/4)+1 = 4 chunks
    assert [r.chunk_id for r in one] == [0, 1, 2, 3]
    assert one[0].chunk.split() == [f"t{i}" for i in range(8)]
    assert one[1].chunk.split() == [f"t{i}" for i in range(4, 12)]
    assert one[3].chunk.split() == [f"t{i}" for i in range(12, 20)]
    assert [r.n_tokens for r in one] == [8, 8, 8, 8]
    # short doc -> exactly one partial chunk
    two = [r for r in got if r.doc_id == 2]
    assert len(two) == 1 and two[0].chunk == "a b" and two[0].n_tokens == 2
    # overlap reconstruction: every token index covered by stride windows
    covered = set()
    for r in one:
        covered |= set(r.chunk.split())
    assert covered == {f"t{i}" for i in range(20)}


def test_distinctive_terms_tfidf(spark):
    docs = spark.createDataFrame(
        [
            (1, "common apple apple", "s0"),
            (2, "common banana", "s1"),
            (3, "common cherry", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    got = curation.distinctive_terms(docs, k=1)
    rows = {r.source: r for r in got.collect()}
    # 'common' appears in all groups -> idf = ln(1) = 0; unique fruits win
    assert rows["s0"].token == "apple" and rows["s1"].token == "banana"
    assert rows["s2"].token == "cherry"
    import math
    assert abs(rows["s0"].tfidf - round(2 * math.log(3), 6)) < 1e-6


def test_token_budget_mix_meets_budgets(spark):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
        curation,
    )

    docs = spark.createDataFrame(
        [(i, "s1" if i < 20 else "s2", "tok " * 10) for i in range(40)]
        + [(99, "s3", "excluded words here")],
        "doc_id long, source string, text string",
    )
    out = curation.token_budget_mix(docs, {"s1": 45, "s2": 100})
    rows = out.collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    # budget reached but not overshot by more than one doc
    for src, budget in (("s1", 45), ("s2", 100)):
        total = sum(r.n_tokens for r in by_src[src])
        assert total >= budget  # met
        assert total - max(r.n_tokens for r in by_src[src]) < budget  # minimal
    assert "s3" not in by_src  # unbudgeted source excluded
    # deterministic: same call → same selection
    again = {(r.doc_id, r.cum_tokens) for r in curation.token_budget_mix(
        docs, {"s1": 45, "s2": 100}
    ).collect()}
    assert again == {(r.doc_id, r.cum_tokens) for r in rows}


def test_epoch_upsample_multiplicity(spark):
    import pytest

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
        curation,
    )

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = curation.epoch_upsample(docs, 1.5).collect()
    counts: dict = {}
    for r in out:
        counts[r.doc_id] = counts.get(r.doc_id, 0) + 1
    assert set(counts.values()) <= {1, 2}  # floor=1, some get 2
    boosted = sum(1 for v in counts.values() if v == 2)
    assert 60 <= boosted <= 140  # ~50% of 200, md5-selected
    # epoch indices are dense per doc
    epochs: dict = {}
    for r in out:
        epochs.setdefault(r.doc_id, []).append(r.epoch)
    assert all(sorted(v) == list(range(len(v))) for v in epochs.values())
    # deterministic
    again = {(r.doc_id, r.epoch) for r in curation.epoch_upsample(docs, 1.5).collect()}
    assert again == {(r.doc_id, r.epoch) for r in out}
    with pytest.raises(ValueError):
        curation.epoch_upsample(docs, 0)


def test_source_kl_divergence_identical_source_near_zero(spark):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.textstats import (
        source_kl_divergence,
    )

    # KL is against the CORPUS MIXTURE: when every source shares one
    # distribution the mixture equals it -> KL ~ 0 for all; adding a
    # vocabulary-disjoint source pushes everyone away from the blend,
    # the outlier hardest.
    same = []
    for i in range(30):
        same.append((i, "the cat sat on the mat", "a"))
        same.append((100 + i, "the cat sat on the mat", "b"))
    df = spark.createDataFrame(same, "doc_id long, text string, source string")
    got = {r.source: r for r in source_kl_divergence(df).collect()}
    assert abs(got["a"].kl) < 0.05 and abs(got["b"].kl) < 0.05
    assert got["a"].n_tokens == 30 * 6
    assert got["a"].n_distinct == 5  # 'the' repeats

    rows = same + [
        (200 + i, "zq xw vv uu tt ss", "c") for i in range(30)
    ]
    df2 = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got2 = {r.source: r for r in source_kl_divergence(df2).collect()}
    assert got2["c"].kl > got2["a"].kl > 0.05  # outlier diverges hardest
    assert got2["c"].kl > 0.5


def test_contrastive_negatives_never_self_and_uniformish(spark):
    from pyspark.sql import functions as F

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        contrastive_negatives,
    )

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    neg = contrastive_negatives(df, "doc_id", k=4)
    rows = neg.collect()
    assert len(rows) == 200 * 4
    assert all(r.negative_id != r.anchor_id for r in rows)  # never self
    assert all(0 <= r.negative_id < 200 for r in rows)
    # per anchor: exactly ranks 1..4
    per = neg.groupBy("anchor_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_sort(F.collect_list("neg_rank")).alias("rk"),
    ).collect()
    assert all(r.n == 4 and r.rk == [1, 2, 3, 4] for r in per)
    # roughly uniform coverage: most docs appear as a negative at least once
    distinct_negs = neg.select("negative_id").distinct().count()
    assert distinct_negs > 190
    # deterministic across invocations
    again = {(r.anchor_id, r.neg_rank): r.negative_id
             for r in contrastive_negatives(df, "doc_id", k=4).collect()}
    first = {(r.anchor_id, r.neg_rank): r.negative_id for r in rows}
    assert first == again


def test_span_corruption_roundtrip_and_sentinels(spark):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        span_corruption,
    )

    docs = _docs(
        spark,
        [(i, " ".join(f"w{j}" for j in range(40))) for i in range(10)],
    )
    got = {r.doc_id: r for r in span_corruption(docs, rate_pct=25).collect()}
    for r in got.values():
        inp, tgt = r.input_text.split(), r.target_text.split()
        # input sentinels are exactly <extra_id_0..n_spans-1>, in order
        in_sents = [t for t in inp if t.startswith("<extra_id_")]
        assert in_sents == [f"<extra_id_{j}>" for j in range(r.n_spans)]
        # target ends with the closing sentinel
        assert tgt[-1] == f"<extra_id_{r.n_spans}>"
        # reconstruction: substituting each target span back into the input
        # at its sentinel reproduces the original token sequence
        spans: dict[str, list[str]] = {}
        cur = None
        for t in tgt[:-1]:
            if t.startswith("<extra_id_"):
                cur = t
                spans[cur] = []
            else:
                spans[cur].append(t)
        rebuilt = []
        for t in inp:
            rebuilt.extend(spans[t] if t in spans else [t])
        assert rebuilt == [f"w{j}" for j in range(40)]
        # masking actually happened at this rate over 40 tokens
        assert r.n_spans >= 1


def test_span_corruption_no_masks_yields_identity_pair(spark):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        span_corruption,
    )

    docs = _docs(spark, [(1, "alpha beta gamma")])
    r = span_corruption(docs, rate_pct=0).collect()[0]
    assert r.n_spans == 0
    assert r.input_text == "alpha beta gamma"
    assert r.target_text == "<extra_id_0>"


def test_stratified_exact_split_proportions(spark):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        stratified_exact_split,
    )

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(100)],
        "doc_id long, lang string",
    )
    out = stratified_exact_split(docs, stratum_col="lang")
    counts = {
        (r.lang, r.split): r.n
        for r in out.groupBy("lang", "split").count().withColumnRenamed("count", "n").collect()
    }
    # each stratum has 50 docs → exactly 40/5/5
    for lang in ("en", "fr"):
        assert counts[(lang, "train")] == 40
        assert counts[(lang, "val")] == 5
        assert counts[(lang, "test")] == 5
    # deterministic: same input → same assignment
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in stratified_exact_split(docs, stratum_col="lang").collect()}
    assert a == b


def test_contrastive_negatives_single_doc_and_null_group_terms(spark):
    """A 1-document corpus yields no negatives instead of an ANSI
    pmod-by-zero abort; distinctive_terms excludes NULL groups so df can
    never exceed n_groups (regression: negative tfidf)."""
    one = spark.createDataFrame([("d1", "alpha beta")], "doc_id string, text string")
    assert curation.contrastive_negatives(one, k=3).count() == 0

    docs = spark.createDataFrame(
        [("a", "common alpha"), ("b", "common beta"), (None, "common gamma")],
        "src string, text string",
    )
    got = curation.distinctive_terms(
        docs, group_col="src", text_col="text", k=5
    ).collect()
    assert all(r.src is not None for r in got)
    common = [r for r in got if r.token == "common"]
    assert common and all(r.tfidf == 0.0 for r in common)  # log(2/2), not log(2/3)


def test_scrub_duplicate_passages_removes_shared_keeps_tail(spark):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        scrub_duplicate_passages,
    )

    docs = spark.createDataFrame(
        [
            # chunks (n=3): "nav home about" (shared), "alpha beta gamma"; tail "x y"
            (1, "nav home about alpha beta gamma x y"),
            # chunks: "nav home about" (shared), "delta eps zeta"; no tail
            (2, "NAV Home About delta eps zeta"),
            # shorter than n=3: passes through whole (normalized)
            (3, "hi there"),
            # NULL text: excluded
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in scrub_duplicate_passages(docs, n=3, max_df=1).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1].n_passages == 2 and out[1].n_dropped == 1
    assert out[1].scrubbed == "alpha beta gamma x y"
    assert out[2].n_passages == 2 and out[2].n_dropped == 1
    assert out[2].scrubbed == "delta eps zeta"
    assert out[3].n_passages == 0 and out[3].n_dropped == 0
    assert out[3].scrubbed == "hi there"


def test_scrub_duplicate_passages_df_threshold_and_order(spark):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        scrub_duplicate_passages,
    )

    # the shared chunk appears in 2 docs; max_df=2 keeps it everywhere,
    # and within-doc repetition alone never triggers the corpus filter
    docs = spark.createDataFrame(
        [
            (1, "a b c a b c"),          # same chunk twice WITHIN one doc
            (2, "a b c p q r a b c"),    # shared chunk at both ends
        ],
        "doc_id long, text string",
    )
    strict = {
        r.doc_id: r
        for r in scrub_duplicate_passages(docs, n=3, max_df=1).collect()
    }
    assert strict[1].scrubbed == "" and strict[1].n_dropped == 2
    assert strict[2].scrubbed == "p q r" and strict[2].n_dropped == 2
    loose = {
        r.doc_id: r
        for r in scrub_duplicate_passages(docs, n=3, max_df=2).collect()
    }
    assert loose[1].scrubbed == "a b c a b c" and loose[1].n_dropped == 0
    assert loose[2].scrubbed == "a b c p q r a b c"


def test_trim_repeated_passages_first_occurrence_wins(spark):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        trim_repeated_passages,
    )

    docs = spark.createDataFrame(
        [
            # chunks: "a b c", "x y z", "a b c" (repeat) + tail "q"
            (1, "a b c x y z a b c q"),
            # cross-document sharing must NOT trigger within-doc trim
            (2, "a b c p q r"),
            (3, "hi"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in trim_repeated_passages(docs, n=3).collect()}
    assert out[1].n_passages == 3 and out[1].n_dropped == 1
    assert out[1].trimmed == "a b c x y z q"
    assert out[2].n_dropped == 0 and out[2].trimmed == "a b c p q r"
    assert out[3].n_passages == 0 and out[3].trimmed == "hi"


# --- content-defined chunking (cdc_chunks) ----------------------------------

def _md5_mod(tok: str, m: int) -> int:
    import hashlib

    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % m


def test_cdc_chunks_reassemble_and_boundary_law(spark):
    """Chunks rejoin to the normalized text, and the boundary law holds:
    every token except a chunk's last hashes nonzero mod m; every
    non-final chunk's last token hashes zero."""
    rows = [
        (1, "The quick brown fox jumps over the lazy dog and runs far "
            "away into the night while seven silent owls watch"),
        (2, "alpha beta gamma delta"),
        (3, "one"),
    ]
    out = curation.cdc_chunks(_docs(spark, rows), avg_tokens=4).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_id)):
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in rows:
        chunks = by_doc[doc_id]
        assert " ".join(c.chunk for c in chunks) == " ".join(
            text.lower().split()
        )
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        for ci, c in enumerate(chunks):
            toks = c.chunk.split()
            assert c.n_tokens == len(toks)
            for t in toks[:-1]:  # interior tokens are never boundaries
                assert _md5_mod(t, 4) != 0
            if ci < len(chunks) - 1:  # non-final chunk ends at a boundary
                assert _md5_mod(toks[-1], 4) == 0


def test_cdc_chunks_survive_prefix_insertion(spark):
    """The CDC property: prepending tokens changes only chunks up to the
    first boundary — everything after is byte-identical. Fixed windows
    (chunk_documents) lose every chunk to the shift."""
    text = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the night while seven silent owls watch from tall trees "
        "near the frozen river bank tonight"
    )
    base = _docs(spark, [(1, text)])
    pre = _docs(spark, [(1, "inserted preamble " + text)])
    a = [
        r.chunk
        for r in curation.cdc_chunks(base, avg_tokens=4)
        .orderBy("chunk_id").collect()
    ]
    b = [
        r.chunk
        for r in curation.cdc_chunks(pre, avg_tokens=4)
        .orderBy("chunk_id").collect()
    ]
    # all base chunks except (possibly) the first survive verbatim
    assert set(a[1:]) <= set(b)
    fa = {
        r.chunk
        for r in curation.chunk_documents(base, size=4).collect()
    }
    fb = {
        r.chunk
        for r in curation.chunk_documents(pre, size=4).collect()
    }
    assert len(set(a[1:]) & set(b)) > len(fa & fb)


def test_cdc_chunks_degenerate_docs(spark):
    """Empty and single-token docs yield exactly one chunk; no doc
    vanishes."""
    out = curation.cdc_chunks(
        _docs(spark, [(1, ""), (2, "solo")]), avg_tokens=8
    ).collect()
    per = {r.doc_id: r for r in out}
    assert len(out) == 2 and per[1].chunk == "" and per[2].chunk == "solo"


def test_cdc_chunks_empty_doc_non_divisible_mod(spark):
    """An empty/whitespace-only doc yields exactly one empty chunk for ANY
    modulus — md5('') happens to be ≡ 0 (mod 8), which used to mask a
    divergence from the oracle's group-by formulation (one row per doc)
    whenever md5('') % avg_tokens != 0. The fold tracks the pending token
    COUNT, so the empty pending chunk is emitted either way."""
    assert _md5_mod("", 7) != 0 and _md5_mod("", 8) == 0  # the masked case
    for m in (7, 8):
        out = curation.cdc_chunks(
            _docs(spark, [(1, ""), (2, "    ")]), avg_tokens=m
        ).collect()
        per = {r.doc_id: r for r in out}
        assert len(out) == 2, f"doc dropped at avg_tokens={m}"
        assert per[1].chunk == "" and per[2].chunk == ""
        assert per[1].n_tokens == 1 and per[1].chunk_id == 0
    # tab-padded text survives trim() and tokenizes to TWO empty tokens on
    # both engines ("\t" splits on \s+): at m=8 each '' is a boundary (two
    # single-token chunks), at m=7 neither is and the fold string_agg's
    # them into one ' ' chunk of n_tokens=2 — exactly what the oracle's
    # string_agg/COUNT(*) computes for the same token stream
    tabby = _docs(spark, [(1, "   \t ")])
    r8 = sorted(
        curation.cdc_chunks(tabby, avg_tokens=8).collect(),
        key=lambda r: r.chunk_id,
    )
    assert [(r.chunk, r.n_tokens) for r in r8] == [("", 1), ("", 1)]
    r7 = curation.cdc_chunks(tabby, avg_tokens=7).collect()
    assert [(r.chunk, r.n_tokens) for r in r7] == [(" ", 2)]


def test_cdc_chunks_bounded_length_law(spark):
    """FastCDC-style bounds: with min_tokens/max_tokens every NON-FINAL
    chunk has min <= n_tokens <= max and the final chunk has
    n_tokens <= max — even for a boundary-free document (modulus so large
    no token ever hashes to 0), which plain CDC would emit as one
    unbounded chunk. Reassembly and chunk_id density still hold."""
    text = " ".join(f"tok{i}" for i in range(100))
    rows = [(1, text), (2, "alpha beta gamma delta epsilon"), (3, "one")]
    # boundary-free case: modulus 1 << 40 makes a content boundary
    # effectively impossible -> every non-final chunk is FORCED at max
    for avg in (4, 1 << 40):
        out = sorted(
            curation.cdc_chunks(
                _docs(spark, rows), avg_tokens=avg,
                min_tokens=3, max_tokens=10,
            ).collect(),
            key=lambda r: (r.doc_id, r.chunk_id),
        )
        by_doc: dict[int, list] = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        for doc_id, t in rows:
            chunks = by_doc[doc_id]
            assert " ".join(c.chunk for c in chunks) == " ".join(
                t.lower().split()
            )
            assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
            for c in chunks:
                assert c.n_tokens <= 10
            for c in chunks[:-1]:
                assert c.n_tokens >= 3
        if avg == 1 << 40:  # boundary-free: all forced chunks are exactly max
            assert [c.n_tokens for c in by_doc[1]] == [10] * 10


def test_cdc_chunks_rejects_inconsistent_bounds(spark):
    """Inconsistent FastCDC bounds must fail loudly, not silently force a
    boundary before min_tokens can be satisfied (which would violate the
    documented min <= n_tokens <= max law on non-final chunks)."""
    docs = _docs(spark, [(1, "alpha beta gamma")])
    with pytest.raises(ValueError, match="max_tokens"):
        curation.cdc_chunks(docs, avg_tokens=4, min_tokens=5, max_tokens=3)
    with pytest.raises(ValueError, match="max_tokens"):
        curation.cdc_chunks(docs, avg_tokens=4, max_tokens=0)
    with pytest.raises(ValueError, match="min_tokens"):
        curation.cdc_chunks(docs, avg_tokens=4, min_tokens=0)
    with pytest.raises(ValueError, match="avg_tokens"):
        curation.cdc_chunks(docs, avg_tokens=0)
    # boundary case max == min is legal: every non-final chunk is exactly
    # that length (fixed-size degenerate form of the bounded chunker)
    out = curation.cdc_chunks(
        docs, avg_tokens=1 << 40, min_tokens=2, max_tokens=2
    ).collect()
    assert sorted(r.n_tokens for r in out) == [1, 2]


def test_cdc_chunks_bounded_boundary_suppression(spark):
    """Bounds interact with content boundaries correctly: a token that
    hashes to 0 mod m is IGNORED as a boundary while the running chunk is
    shorter than min_tokens (every non-final chunk either ends on a
    content boundary with >= min tokens, or was forced at exactly max)."""
    text = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the night while seven silent owls watch from tall trees "
        "near the frozen river bank tonight"
    )
    out = sorted(
        curation.cdc_chunks(
            _docs(spark, [(1, text)]), avg_tokens=4,
            min_tokens=3, max_tokens=8,
        ).collect(),
        key=lambda r: r.chunk_id,
    )
    for c in out[:-1]:
        toks = c.chunk.split()
        assert 3 <= len(toks) <= 8
        # ends on a content boundary, or was forced at exactly max
        assert _md5_mod(toks[-1], 4) == 0 or len(toks) == 8
        # interior tokens past the min-suppression zone are non-boundaries
        for i, t in enumerate(toks[:-1]):
            if i + 1 >= 3:  # position where a boundary WOULD be accepted
                assert _md5_mod(t, 4) != 0


def test_cdc_chunks_bounded_still_resyncs_after_edit(spark):
    """The bounded chunker keeps CDC's edit locality: prepending tokens
    still re-syncs at a downstream accepted boundary, preserving most
    chunks — while fixed windows of the same size lose ~everything."""
    text = " ".join(f"tok{i}" for i in range(96))  # unique tokens: fixed
    # windows can't re-align by coincidence after a 2-token shift
    base = _docs(spark, [(1, text)])
    pre = _docs(spark, [(1, "inserted preamble " + text)])

    def _chunks(d):
        return [
            r.chunk
            for r in curation.cdc_chunks(
                d, avg_tokens=4, min_tokens=2, max_tokens=8
            ).orderBy("chunk_id").collect()
        ]

    a, b = _chunks(base), _chunks(pre)
    shared = len(set(a) & set(b))
    fa = {r.chunk for r in curation.chunk_documents(base, size=4).collect()}
    fb = {r.chunk for r in curation.chunk_documents(pre, size=4).collect()}
    # forced boundaries weaken (not break) re-sync: a healthy share of
    # chunks survives the edit, and strictly more than fixed windows keep
    assert shared >= 3
    assert shared > len(fa & fb)


# --- skip-gram fingerprints (edit-robust decontamination) -------------------

def test_skipgram_hashes_count_and_gap_robustness(spark):
    """gap=1 over L tokens yields L-2 pairs; editing the token INSIDE a
    gap leaves that pair's fingerprint unchanged."""
    base = _docs(spark, [(1, "alpha beta gamma delta epsilon")])
    edited = _docs(spark, [(1, "alpha XXX gamma delta epsilon")])
    a = [r.passage_md5 for r in curation.skipgram_hashes(base, 1).collect()]
    b = [r.passage_md5 for r in curation.skipgram_hashes(edited, 1).collect()]
    assert len(a) == len(b) == 3
    # pair (alpha, gamma) skips position 2 entirely -> identical
    assert a[0] == b[0]
    # pairs with 'beta'/'xxx' as an endpoint differ
    assert a[1] != b[1]


def test_skipgram_contamination_survives_word_paraphrase(spark):
    """A benchmark sentence leaked with one word changed per 3-token
    chunk: contiguous trigram contamination reads zero (every chunk
    touched), skip-gram contamination still fires (pairs whose gap
    swallows the edit survive)."""
    bench = _docs(spark, [(100, "the cat sat on the mat")])
    leaked = _docs(spark, [(1, "the dog sat on a mat")])
    tri = curation.contamination_overlap(leaked, bench, n=3).collect()[0]
    sg = curation.skipgram_contamination(leaked, bench, gap=1).collect()[0]
    assert tri.n_contaminated == 0
    assert sg.n_contaminated >= 2 and sg.contamination > 0


def test_duplicated_spans_exact_boundaries(spark):
    """ExactSubstr spans: a verbatim 12-token lift shared at DIFFERENT
    offsets surfaces as one maximal span in each document with exact
    1-based token boundaries (alignment-free — the non-overlapping
    passage chunks can straddle it); a within-doc repeat also counts;
    unique text yields no rows."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        duplicated_spans,
    )

    lift = " ".join(f"L{i}" for i in range(12))  # 12 unique lift tokens
    docs = spark.createDataFrame(
        [
            # lift at tokens 3..14 of doc 1
            (1, "a1 a2 " + lift + " a3 a4"),
            # lift at tokens 6..17 of doc 2 (different alignment)
            (2, "b1 b2 b3 b4 b5 " + lift),
            # doc 3: internal repeat of a 5-token phrase at tokens 1..5
            # and 9..13 (k=4 → both copies duplicated)
            (3, "r1 r2 r3 r4 r5 c1 c2 c3 r1 r2 r3 r4 r5"),
            (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),  # all unique
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in duplicated_spans(docs, k=4).collect()
    }
    # lift spans: k-grams fully inside the 12-token lift → 9 grams,
    # span covers exactly the lift
    assert (1, 3, 14, 9) in got
    assert (2, 6, 17, 9) in got
    # doc 3: dup positions are starts of grams inside either copy of the
    # 5-token phrase: positions 1,2 and 9,10 → two spans of 5 tokens
    assert (3, 1, 5, 2) in got and (3, 9, 13, 2) in got
    assert not any(d == 4 for d, *_ in got)
    assert len(got) == 4


def test_scrub_duplicated_spans_keeps_one_occurrence(spark):
    """ExactSubstr scrub: all but the canonical (lowest (doc, start))
    occurrence of a duplicated span is deleted; internal repeats keep
    their first copy; clean docs pass through with n_dropped=0 and
    normalized text."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        scrub_duplicated_spans,
    )

    lift = " ".join(f"L{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 " + lift + " a3 a4"),          # canonical (doc 1)
            (2, "b1 b2 b3 b4 b5 " + lift),            # lift removed
            (3, "r1 r2 r3 r4 r5 c1 c2 c3 r1 r2 r3 r4 r5"),  # 2nd copy cut
            (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),    # untouched
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_dropped, r.scrubbed)
        for r in scrub_duplicated_spans(docs, k=4).collect()
    }
    assert got[1] == (16, 0, "a1 a2 " + lift.lower() + " a3 a4")
    assert got[2] == (17, 12, "b1 b2 b3 b4 b5")
    assert got[3] == (13, 5, "r1 r2 r3 r4 r5 c1 c2 c3")
    assert got[4] == (10, 0, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")


def test_scrub_spans_distinct_lifts_sharing_first_gram(spark):
    """Spans cluster on their FULL token range, not the first gram: two
    DIFFERENT lifts that share their first k tokens ("p1 p2 p3 p4 a1 a2"
    vs "p1 p2 p3 p4 b1 b2") form separate clusters, so each keeps its own
    canonical copy — first-gram clustering would merge them and delete
    every copy of the second lift, violating the keep-one-occurrence
    contract (Lee et al. ACL'22: remove all but one)."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        scrub_duplicated_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "c11 c12 p1 p2 p3 p4 a1 a2 c13"),  # lift A at 3..8 (canon)
            (2, "c21 p1 p2 p3 p4 a1 a2 c22 c23"),  # lift A at 2..7
            (3, "c31 c32 c33 p1 p2 p3 p4 b1 b2"),  # lift B at 4..9 (canon)
            (4, "p1 p2 p3 p4 b1 b2 c41 c42 c43"),  # lift B at 1..6
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_dropped, r.scrubbed)
        for r in scrub_duplicated_spans(docs, k=4).collect()
    }
    assert got[1] == (9, 0, "c11 c12 p1 p2 p3 p4 a1 a2 c13")
    assert got[2] == (9, 6, "c21 c22 c23")
    # lift B's canonical copy SURVIVES in doc 3 — the keep-one contract
    assert got[3] == (9, 0, "c31 c32 c33 p1 p2 p3 p4 b1 b2")
    assert got[4] == (9, 6, "c41 c42 c43")


def test_span_dedup_mega_duplicated_gram(spark):
    """Planted hot-key fixture: ONE gram appears in every document (the
    10⁸-boilerplate shape that made the old count/canonical windows a
    single giant partition). The groupBy+semi-join detector finds a span
    per doc, and the min-struct scrub keeps exactly the lowest-doc copy
    corpus-wide."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        duplicated_spans,
        scrub_duplicated_spans,
    )

    n = 50
    docs = spark.createDataFrame(
        [
            (i, f"u{i}a u{i}b hot1 hot2 hot3 hot4 u{i}c u{i}d")
            for i in range(1, n + 1)
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in duplicated_spans(docs, k=4).collect()
    }
    assert spans == {(i, 3, 6, 1) for i in range(1, n + 1)}
    got = {
        r.doc_id: (r.n_tokens, r.n_dropped)
        for r in scrub_duplicated_spans(docs, k=4).collect()
    }
    assert got[1] == (8, 0)  # canonical copy kept
    assert all(got[i] == (8, 4) for i in range(2, n + 1))


def test_scrub_spans_shared_detector_parity(spark):
    """A pipeline running detect AND scrub pays the gram pass once:
    scrub_duplicated_spans(spans=<precomputed detector output>) returns
    the exact rows the self-computing form produces, with the detector
    output passed lazily or materialized (localCheckpoint) first."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        duplicated_spans,
        scrub_duplicated_spans,
    )

    lift = " ".join(f"L{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 " + lift + " a3 a4"),
            (2, "b1 b2 b3 b4 b5 " + lift),
            (3, "r1 r2 r3 r4 r5 c1 c2 c3 r1 r2 r3 r4 r5"),
            (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
        ],
        "doc_id long, text string",
    )
    want = sorted(map(tuple, scrub_duplicated_spans(docs, k=4).collect()))
    pre = duplicated_spans(docs, k=4)
    for spans in (pre, pre.localCheckpoint(eager=True)):
        got = scrub_duplicated_spans(docs, spans=spans)
        assert sorted(map(tuple, got.collect())) == want
    # k/min_count are detector-only knobs: with spans given they are
    # ignored, not silently re-applied
    pre = duplicated_spans(docs, k=4)
    alt = scrub_duplicated_spans(docs, k=999, min_count=999, spans=pre)
    assert sorted(map(tuple, alt.collect())) == want


def test_scrub_until_clean_merged_island_converges(spark):
    """The documented merged-island residual converges in TWO scrub
    passes: docs 3 and 4 both hold lift L immediately followed by run M,
    so their maximal span is the merged L+M — a different full-span hash
    than doc 1's plain L, hence its own cluster. Pass 1 keeps doc 3's
    merged copy (canonical of its cluster) alongside doc 1's L; pass 2
    sees doc 3's L as a plain duplicate of doc 1's and removes it; the
    third detect comes back empty and the loop exits. n_tokens stays the
    ORIGINAL count and n_dropped accumulates across passes."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        duplicated_spans,
        scrub_duplicated_spans,
        scrub_until_clean,
    )

    L = "l1 l2 l3 l4 l5 l6"
    M = "m1 m2 m3 m4 m5"
    # NOTE: the id numbering is load-bearing for the per-doc assertions
    # below — canonical selection is min(struct(id, span_start)), so doc
    # 1's LOWER id makes its plain L the pass-2 canonical and doc 3's L
    # the copy that gets cut. Renumbering the fixture flips which copy
    # survives (see the id-permuted variant at the end of this test for
    # the order-independent invariant: exactly one L copy survives).
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 " + L + " a3"),   # plain L at 3..8 (canonical)
            (3, L + " " + M + " c1"),    # merged island L+M at 1..11 (canon)
            (4, L + " " + M + " d1"),    # merged island L+M at 1..11 (cut)
        ],
        "doc_id long, text string",
    )
    # single-pass scrub leaves the residual: doc 3's merged copy of L
    # survives pass 1 (its full-span hash differs from doc 1's plain L)
    one_pass = {
        r.doc_id: r.scrubbed
        for r in scrub_duplicated_spans(docs, k=4).collect()
    }
    assert one_pass[3] == L + " " + M + " c1"
    got = {
        r.doc_id: (r.n_tokens, r.n_dropped, r.scrubbed)
        for r in scrub_until_clean(docs, k=4).collect()
    }
    assert got[1] == (9, 0, "a1 a2 " + L + " a3")
    assert got[3] == (12, 6, M + " c1")           # L cut in pass 2
    assert got[4] == (12, 11, "d1")               # L+M cut in pass 1
    # the returned corpus is clean
    out = spark.createDataFrame(
        [(d, s) for d, (_, _, s) in got.items()], "doc_id long, text string"
    )
    assert duplicated_spans(out, k=4).isEmpty()
    # id-order-independent invariant: whichever doc holds the LOWEST id,
    # exactly one copy of L survives the converged scrub (the canonical
    # pick is a tie-break detail; single-survivor is the semantics)
    flipped = spark.createDataFrame(
        [
            (9, "a1 a2 " + L + " a3"),   # plain L now has the HIGHEST id
            (3, L + " " + M + " c1"),
            (4, L + " " + M + " d1"),
        ],
        "doc_id long, text string",
    )
    scrubbed = [
        r.scrubbed for r in scrub_until_clean(flipped, k=4).collect()
    ]
    assert sum(s.count(L) for s in scrubbed) == 1


def test_scrub_until_clean_is_dropin_for_single_pass(spark):
    """On a corpus with no merged islands the wrapper returns EXACTLY the
    single-pass scrub rows (same schema, same values) after one scrub +
    one empty detect; an already-clean corpus gets the normalization
    pass-through; max_passes=1 is the single-pass scrub by construction;
    max_passes<1 is rejected."""
    import pytest

    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.curation import (
        scrub_duplicated_spans,
        scrub_until_clean,
    )

    lift = " ".join(f"L{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 " + lift + " a3 a4"),
            (2, "b1 b2 b3 b4 b5 " + lift),
            (3, "r1 r2 r3 r4 r5 c1 c2 c3 r1 r2 r3 r4 r5"),
            (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
        ],
        "doc_id long, text string",
    )
    want = sorted(map(tuple, scrub_duplicated_spans(docs, k=4).collect()))
    got = scrub_until_clean(docs, k=4)
    assert got.columns == ["doc_id", "n_tokens", "n_dropped", "scrubbed"]
    assert sorted(map(tuple, got.collect())) == want
    clean = spark.createDataFrame(
        [(1, "u1 U2 u3  u4 u5"), (2, "v1 v2 v3 v4 v5")],
        "doc_id long, text string",
    )
    assert sorted(
        map(tuple, scrub_until_clean(clean, k=4).collect())
    ) == [(1, 5, 0, "u1 u2 u3 u4 u5"), (2, 5, 0, "v1 v2 v3 v4 v5")]
    # max_passes=1 scrubs a dirty corpus but exits by cap, never seeing an
    # empty detect — unverified, so it must warn (the result is still the
    # single-pass scrub by construction)
    with pytest.warns(RuntimeWarning, match="max_passes=1"):
        capped = scrub_until_clean(docs, k=4, max_passes=1)
    assert sorted(map(tuple, capped.collect())) == want
    # a run that exits on an empty detect is verified — no cap warning
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        scrub_until_clean(docs, k=4).collect()
    assert not [w for w in caught if "max_passes" in str(w.message)]
    with pytest.raises(ValueError):
        scrub_until_clean(docs, k=4, max_passes=0)
