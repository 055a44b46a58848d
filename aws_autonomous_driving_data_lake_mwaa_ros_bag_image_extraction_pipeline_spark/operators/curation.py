"""Dataset-assembly (curation) operators over ``documents`` (north-star).

The steps downstream of dedup/quality in a training-data pipeline: packing
documents into fixed-token-budget training sequences, deterministic sampling
(stratified rates and per-group top-k), PII/pattern redaction, passage-level
contamination stats, and per-group heavy hitters.

Everything except the optional exact first-fit packer is built-in expressions
(whole-stage codegen, no Python in the hot path). All hash-derived decisions
use md5 (see functions.hashing) so the DuckDB oracle reproduces them
bit-exactly.

Scale notes (100 TB): sampling and redaction are narrow per-row transforms;
packing shuffles once on the shard key (shard count is a free parallelism
knob); passage stats and heavy hitters are explode → partial-agg pipelines
where the map-side combine collapses the exploded rows before the shuffle.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign each document to a fixed-token-budget training bin.

    Contiguous greedy packing with overflow: within a shard (``id % n_shards``)
    documents are taken in id order and a document lands in bin
    ``floor(exclusive_prefix_tokens / capacity)`` — i.e. the bin it *starts*
    in. A bin can overflow its budget by at most one document's tail, which
    the downstream trainer truncates (the standard pack-then-truncate
    recipe). This formulation is a single window cumulative sum — no Python,
    no iteration — so it is SQL-expressible and oracle-checkable; see
    :func:`pack_sequences_exact` for the strict no-overflow first-fit variant.

    One shuffle on the shard key; shard count is the parallelism knob (at
    100 TB raise ``n_shards`` so each shard's window sort fits an executor).
    """
    toks = T.token_count(F.col(text_col))
    w = Window.partitionBy("shard").orderBy(id_col)
    cum = F.sum("n_tokens").over(w)
    return (
        docs.select(
            F.col(id_col),
            F.pmod(F.col(id_col), F.lit(n_shards)).alias("shard"),
            toks.alias("n_tokens"),
        )
        .withColumn(
            "bin_id",
            F.floor((cum - F.col("n_tokens")) / F.lit(capacity)).cast("int"),
        )
    )


def pack_bins(
    docs: DataFrame,
    capacity: int,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-bin packing summary: document count, token fill, utilization."""
    packed = pack_sequences(docs, capacity, n_shards, id_col, text_col)
    return packed.groupBy("shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        H.quantize(F.sum("n_tokens") / F.lit(float(capacity)), 4).alias("fill"),
    )


def pack_sequences_exact(
    docs: DataFrame,
    capacity: int,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Strict first-fit packing: a new bin opens when adding the next document
    would exceed ``capacity`` (a document longer than the whole budget gets a
    bin alone). Needs the running ``if cum > cap: reset`` recurrence, which no
    window expression computes — so it runs as ``applyInPandas`` per shard
    (one shuffle, Python loop over one shard's already-small id-sorted
    arrays). Cross-checked against a reference packer in pytest.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.pmod(F.col(id_col), F.lit(n_shards)).alias("shard"),
        T.token_count(F.col(text_col)).alias("n_tokens"),
    )

    def _pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fill, cur = [], 0, 0
        for n in pdf["n_tokens"]:
            if fill > 0 and fill + n > capacity:
                cur += 1
                fill = 0
            bins.append(cur)
            fill += n
        pdf["bin_id"] = bins
        return pdf[["doc_id", "shard", "n_tokens", "bin_id"]]

    return base.groupBy("shard").applyInPandas(
        _pack, "doc_id long, shard long, n_tokens int, bin_id long"
    )


# ---------------------------------------------------------------------------
# Deterministic sampling
# ---------------------------------------------------------------------------


def hash_rate_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified Bernoulli sample: keep a row iff
    ``md5_uniform(id) < rate[stratum]``.

    This is the data-mixing primitive (sample each source/domain at its own
    rate). Hash-based, so the sample is reproducible across runs, engines,
    and cluster sizes — unlike ``DataFrame.sample`` whose output depends on
    partitioning. Narrow per-row filter, pushed to the scan.
    """
    u = H.md5_long(F.col(id_col)) / F.lit(float(1 << 60))
    rate = F.lit(float(default_rate))
    for stratum in sorted(rates):
        rate = F.when(
            F.col(strata_col) == stratum, F.lit(float(rates[stratum]))
        ).otherwise(rate)
    return docs.filter(u < rate)


def group_topk_sample(
    docs: DataFrame,
    k: int,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Uniform-without-replacement sample of ``k`` rows per group: keep the k
    rows with the smallest ``md5(id)`` — the deterministic equivalent of a
    per-group reservoir. The ``row_number <= k`` filter compiles to Spark's
    WindowGroupLimit, so each map task keeps only k candidates per group
    before the shuffle (no group's full row set ever sorts on one reducer).
    """
    w = Window.partitionBy(group_col).orderBy(
        H.md5_hex(F.col(id_col)), F.col(id_col)
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Pattern / PII redaction
# ---------------------------------------------------------------------------

# Default PII patterns — kept to syntax with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): no lookaround, no backreferences.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d[\d. -]{7,}\d",
}


def redact_patterns(
    docs: DataFrame,
    patterns: dict[str, str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Count and redact sensitive patterns (PII scrub).

    For each named pattern emits ``n_<name>`` and replaces matches with
    ``[<NAME>]`` in the returned ``scrubbed`` column. Patterns apply in
    sorted-name order to the PROGRESSIVELY scrubbed string, and each count
    is taken from the same string its replacement runs on — so ``n_<name>``
    always equals the number of ``[<NAME>]`` tags actually emitted, even
    when patterns overlap (counting everything against the original would
    claim tags an earlier pattern already consumed). Counting uses
    ``regexp_extract_all`` and replacement ``regexp_replace`` — both
    whole-stage-codegen built-ins, no shuffle; the chained form re-evaluates
    earlier replaces per count, fine for a handful of patterns.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    cols = [F.col(id_col)]
    scrubbed = F.col(text_col)
    for name in sorted(pats):
        rx = pats[name]
        cols.append(
            F.size(F.regexp_extract_all(scrubbed, F.lit(rx), F.lit(0)))
            .alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, rx, f"[{name.upper()}]")
    cols.append(scrubbed.alias("scrubbed"))
    return docs.select(*cols)


# ---------------------------------------------------------------------------
# Passage-level contamination stats
# ---------------------------------------------------------------------------


def passage_hashes(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Explode each document into md5 hashes of its non-overlapping n-token
    passages (chunk i = tokens [i·n, i·n + n)); trailing partial chunks are
    dropped. Documents shorter than ``n`` tokens yield no rows.
    """
    toks = T.tokens(F.lower(F.col(text_col)))

    def _passages(tk):
        n_chunks = F.floor(F.size(tk) / F.lit(n)).cast("int")
        idx = F.when(
            n_chunks >= 1, F.sequence(F.lit(0), n_chunks - 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: F.array_join(F.slice(tk, i * n + 1, n), " "))

    return docs.select(
        F.col(id_col),
        F.explode(T.bind(toks, _passages)).alias("passage"),
    ).select(F.col(id_col), F.md5("passage").alias("passage_md5"))


def passage_dup_stats(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-document contamination: the fraction of a doc's
    passages that also appear in at least one *other* document (boilerplate /
    benchmark-contamination signal; passage = n consecutive tokens).

    Plan shape: ONE pass over the exploded passages — distinct per
    (doc, passage), per-passage doc count as a window (no join back: Spark
    does not CSE identical subplans, so the groupBy+semi-join formulation
    would re-explode the corpus three times), then the per-doc rollup.
    Two shuffles total (passage key, then doc key); both keys are md5s —
    uniformly distributed, no skew at 100 TB.
    """
    p = passage_hashes(docs, n, id_col, text_col).distinct()
    w = Window.partitionBy("passage_md5")
    flagged = p.withColumn("n_docs", F.count(F.lit(1)).over(w))
    n_dup = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
        "n_dup_passages"
    )
    return (
        flagged.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_passages"), n_dup)
        .select(
            F.col(id_col),
            "n_passages",
            "n_dup_passages",
            H.quantize(F.col("n_dup_passages") / F.col("n_passages"), 4).alias(
                "dup_ratio"
            ),
        )
    )


def duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MAXIMAL exactly-duplicated token spans at ANY alignment — the
    ExactSubstr detector of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (ACL 2022, public literature), realized
    relationally: every token position whose OVERLAPPING ``k``-token gram
    occurs at least ``min_count`` times corpus-wide (any document,
    including elsewhere in the same one) is duplicated; runs of
    consecutive duplicated positions merge into maximal spans. A span of
    ``g`` merged grams covers ``g + k - 1`` tokens — a verbatim 50-token
    lift shared by two documents surfaces as one span in each, wherever
    it starts. This is the alignment-free exact complement of the
    ``passage_*`` family (non-overlapping chunks miss a duplicate that
    straddles chunk boundaries at a different offset) and of winnowing
    (which SAMPLES fingerprints; this keeps every position, so span
    boundaries are exact, not probabilistic).

    Returns (id, span_start, span_end, n_grams): 1-based inclusive token
    offsets of each maximal span and the number of duplicated grams it
    merged.

    Plan shape (100 TB): the gram hashes are computed INSIDE an array
    (let-bound tokens, ``transform`` over a position sequence — the same
    no-explode-before-prune discipline as the winnowing selectors), then
    ONE posexplode to (doc, pos, h) rows — n_tokens rows per doc, the
    inherent ExactSubstr cost; corpus-wide occurrence counts come from
    ``groupBy(h).count()`` — NOT a window over h: the md5 key is uniform
    across *distinct* grams, but a window must colocate every occurrence
    of the SAME gram, so one boilerplate sentence repeated 10⁸ times
    corpus-wide becomes one 10⁸-row window partition (AQE skew handling
    covers joins, not windows). The groupBy's map-side partial
    aggregation collapses such a hot key to one partial count per input
    partition before the shuffle, and the left-semi join of positions
    against the surviving-hash set is AQE-skew-splittable. Surviving
    positions (a vanishing fraction of a clean corpus) shuffle once more
    on the doc key for the islands merge (pos − row_number is constant
    within a run). Nothing pairwise, no Python.

    The groupBy+semi-join shape evaluates the tokenize/posexplode subplan
    TWICE (Spark does not CSE identical subplans) — the measured price of
    the de-skew. A pipeline that consumes the spans more than once (detect
    AND scrub) materializes the (tiny) span table once with
    ``localCheckpoint(eager=True)`` and hands it to
    ``scrub_duplicated_spans(spans=...)``, so the scrub does not recompute
    its own gram pass.
    """
    toks = T.tokens(F.lower(F.col(text_col)))

    def _grams(tk):
        n_pos = F.size(tk) - F.lit(k - 1)
        idx = F.when(n_pos >= 1, F.sequence(F.lit(1), n_pos)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx, lambda p: F.md5(F.array_join(F.slice(tk, p, k), " "))
        )

    g = docs.select(
        F.col(id_col), F.posexplode(T.bind(toks, _grams)).alias("__i", "__h")
    ).select(F.col(id_col), (F.col("__i") + 1).alias("__pos"), "__h")
    hot = (
        g.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= min_count)
        .select("__h")
    )
    dup = g.join(hot, "__h", "left_semi")
    rn = F.row_number().over(Window.partitionBy(id_col).orderBy("__pos"))
    return (
        dup.withColumn("__grp", F.col("__pos") - rn)
        .groupBy(id_col, "__grp")
        .agg(
            F.min("__pos").cast("long").alias("span_start"),
            (F.max("__pos") + F.lit(k - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_grams")
    )


def scrub_duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Remove duplicated spans keeping ONE occurrence corpus-wide — the
    scrub ExactSubstr dedup actually applies (Lee et al., ACL 2022 remove
    all but one copy of each duplicated substring; measure-only
    counterpart: :func:`duplicated_spans`).

    ``spans`` (default None → computed here) lets a pipeline that runs
    detect AND scrub pay the detector's gram pass ONCE: pass the
    :func:`duplicated_spans` output — same ``docs``/``id_col`` and, since
    the span hash slices the span's token range out of THIS function's
    normalized tokens, the same ``text_col`` normalization — and this
    function only touches the corpus for the span-text join and the
    rebuild. ``k``/``min_count`` parameterize only the internal detector
    call made when ``spans`` is None and are ignored when it is given.

    Contract: spans come from ``duplicated_spans(k, min_count)``; spans
    are clustered by the md5 of their FULL token range (so only
    byte-identical maximal spans cluster — two different lifts that
    merely share their first k tokens, or one span that a neighbouring
    duplicated run extended, stay in separate clusters and each keeps a
    canonical copy), the cluster's canonical occurrence is the
    lexicographically smallest (id, span_start), and every other span in
    the cluster has its token range deleted (an internal repeat keeps
    its first copy; a cross-doc lift survives only in the lowest-id
    document). Returns (id, n_tokens, n_dropped, scrubbed) for every
    non-NULL-text document — scrubbed is rebuilt from the surviving
    tokens over the NORMALIZED text (lowercased, whitespace-joined), the
    ``scrub_duplicate_passages`` convention.

    Plan shape (100 TB): the span table is the detector's output — tiny
    relative to the corpus (duplicated runs only); the canonical pick is
    ``groupBy(span_hash).agg(min(struct(id, span_start)))`` joined back
    on the hash — NOT a row_number window: the md5 key is uniform across
    distinct spans, but all occurrences of the SAME mega-duplicated
    boilerplate span would form one window partition, while min(struct)
    collapses the hot key map-side before the shuffle and the join back
    is AQE-skew-splittable. Dropped positions explode from span ranges
    (bounded by total duplicated tokens) and collect per doc; the
    rebuild is array-local — ``array_except(sequence(1, n), drops)``
    then ``element_at`` per kept position, O(n) per row, no per-token
    membership scan. The corpus itself is touched once more for the
    rebuild join.
    """
    toks = T.tokens(F.lower(F.col(text_col)))
    if spans is None:
        spans = duplicated_spans(docs, k, min_count, id_col, text_col)
    span_h = F.md5(
        F.array_join(
            F.slice(
                toks,
                F.col("span_start").cast("int"),
                (F.col("span_end") - F.col("span_start") + 1).cast("int"),
            ),
            " ",
        )
    )
    keyed = (
        spans.join(
            docs.filter(F.col(text_col).isNotNull()).select(
                id_col, text_col
            ),
            id_col,
        )
        .select(id_col, "span_start", "span_end", span_h.alias("__h"))
    )
    canon = keyed.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("span_start"))).alias("__c")
    )
    dropped = keyed.join(canon, "__h").filter(
        (F.col(id_col) != F.col("__c")[id_col])
        | (F.col("span_start") != F.col("__c")["span_start"])
    )
    drops = (
        dropped.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("span_start"), F.col("span_end"))
            ).alias("__p"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("__p")).alias("__drops"))
    )
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("__toks")
    )
    joined = base.join(drops, id_col, "left").select(
        F.col(id_col),
        "__toks",
        F.coalesce(F.col("__drops"), F.array().cast("array<long>")).alias(
            "__drops"
        ),
    )
    keep = F.array_except(
        F.sequence(F.lit(1).cast("long"), F.size("__toks").cast("long")),
        F.col("__drops"),
    )
    return joined.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.size("__drops").cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(keep, lambda p: F.element_at("__toks", p.cast("int"))),
            " ",
        ).alias("scrubbed"),
    )


def scrub_until_clean(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_passes: int = 4,
) -> DataFrame:
    """Iterate detect→scrub until :func:`duplicated_spans` on the scrubbed
    corpus is empty (or ``max_passes`` scrub passes have run) — the bounded
    convergence wrapper for the one documented recall residual of
    :func:`scrub_duplicated_spans`: a lift whose maximal span was EXTENDED
    by an adjacent duplicated run in one document (a "merged island")
    hashes differently there, lands in its own cluster, and survives the
    first pass alongside the canonical copy; the second pass sees it as a
    plain duplicate of the canonical and removes it. Thin composition of
    the two existing operators — no new detection semantics.

    Same output contract as :func:`scrub_duplicated_spans` — one row per
    non-NULL-text document, ``(id, n_tokens, n_dropped, scrubbed)`` — with
    ``n_tokens`` the ORIGINAL (pass-1) token count and ``n_dropped`` the
    cumulative tokens removed across all passes, so the wrapper is a
    drop-in for the single-pass scrub. A corpus that is already clean
    still gets the single-pass normalization rebuild (n_dropped=0,
    lowercased whitespace-joined text).

    Plan shape (100 TB): each pass shares ONE detect between its
    convergence probe and its scrub — the span table is materialized with
    ``localCheckpoint(eager=True)`` and passed as ``spans=`` — and each
    pass's ACCUMULATED output — the scrub joined with the running ``n_dropped``
    totals, i.e. exactly what the next pass reads — is
    ``localCheckpoint``-materialized — the lineage-truncation idiom of the
    connected-components and HNSW loops — so the per-pass plan never
    compounds: later passes read materialized blocks, not a growing join
    chain, regardless of how high the cap is raised. The convergence probe is ``isEmpty()`` on the already
    materialized (tiny) span table, not a corpus action. Passes after the
    first run over an already-scrubbed corpus whose duplicated mass is
    the merged-island residual only — in practice a vanishing fraction —
    and the loop exits the moment a detect comes back empty, so clean
    corpora pay exactly one detect+scrub plus one empty detect.
    ``max_passes`` caps the driver-side iteration (adversarial nests of
    duplicated runs can need one pass per nesting level); if the cap is
    hit the LAST pass's output is returned unverified and a
    ``RuntimeWarning`` is emitted so callers can distinguish a converged
    result (loop exited on an empty detect) from a capped one without
    re-running :func:`duplicated_spans` themselves.
    Raising the cap costs nothing on corpora that converge sooner (the
    loop exits on the first empty detect); the default of 4 covers the
    measured behaviour of the sf0.1 ``documents`` corpus, which needs
    THREE scrub passes (detect span counts 477 → 21 → 2 → 0; 5000 docs,
    12 718 tokens dropped, 6.6 s wall on local[32]) and so exits
    verified-clean one pass under the cap.
    Inherits ``localCheckpoint``'s executor-loss durability caveat (see
    ``_caching``): consume or write the result promptly on churning
    clusters.
    """
    if max_passes < 1:
        raise ValueError(f"max_passes must be >= 1, got {max_passes}")
    result: DataFrame | None = None
    converged = False
    cur, cur_text = docs, text_col
    for _ in range(max_passes):
        spans = duplicated_spans(
            cur, k, min_count, id_col, cur_text
        ).localCheckpoint(eager=True)
        dirty = not spans.isEmpty()
        if result is not None and not dirty:
            converged = True
            break
        out = scrub_duplicated_spans(
            cur, k, min_count, id_col, cur_text, spans=spans
        )
        if result is None:
            result = out
        else:
            result = (
                result.select(
                    id_col, "n_tokens", F.col("n_dropped").alias("__prev")
                )
                .join(
                    out.select(
                        id_col,
                        F.col("n_dropped").alias("__d"),
                        "scrubbed",
                    ),
                    id_col,
                )
                .select(
                    F.col(id_col),
                    "n_tokens",
                    (F.col("__prev") + F.col("__d"))
                    .cast("long")
                    .alias("n_dropped"),
                    "scrubbed",
                )
            )
        # Materialize the ACCUMULATED result (scrub + n_dropped join), not
        # just the per-pass scrub, so `cur` on pass N+1 reads checkpointed
        # blocks and the join chain never re-executes or compounds.
        result = result.localCheckpoint(eager=True)
        cur, cur_text = result.select(id_col, "scrubbed"), "scrubbed"
        if not dirty:
            converged = True
            break
    assert result is not None
    if not converged:
        warnings.warn(
            f"scrub_until_clean hit max_passes={max_passes} before a clean "
            "detect; the returned corpus is UNVERIFIED — re-run "
            "duplicated_spans on it (or raise max_passes) to confirm "
            "convergence.",
            RuntimeWarning,
            stacklevel=2,
        )
    return result


# ---------------------------------------------------------------------------
# Heavy hitters
# ---------------------------------------------------------------------------


def scrub_duplicate_passages(
    docs: DataFrame,
    n: int = 3,
    max_df: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Boilerplate REMOVAL — the scrub counterpart of the measure-only
    :func:`passage_dup_stats`: delete every n-token passage whose corpus
    document-frequency exceeds ``max_df`` (navigation chrome, license
    headers, repeated disclaimers — the CCNet/RefinedWeb "shared lines"
    filter at passage granularity) and rebuild each document's text from
    the surviving passages.

    Returns ``(id, n_passages, n_dropped, scrubbed)``. Passages are the
    same non-overlapping n-token chunks as ``passage_hashes`` over the
    NORMALIZED (lowercased, whitespace-split) text — the scrubbed output
    is normalized too, the standard shape for downstream tokenization.
    The trailing partial chunk (< n tokens) is never a passage, so it is
    always kept; documents shorter than ``n`` tokens pass through whole.
    Rows with NULL text are excluded (complete cases).

    Plan shape (100 TB): one chunk explode → distinct → per-passage
    doc-frequency aggregation (map-side combined, md5-uniform keys) →
    join back on the chunk text → per-doc ordered reassembly
    (array_sort(collect_list) over struct(pos, chunk) — each doc's chunks
    only). Two shuffles on uniform keys; no window over the corpus, no
    Python.
    """
    toks = T.tokens(F.lower(F.col(text_col)))

    def _parts(tk):
        nc = F.floor(F.size(tk) / F.lit(n)).cast("int")
        idx = F.when(nc >= 1, F.sequence(F.lit(0), nc - 1)).otherwise(
            F.array().cast("array<int>")
        )
        chunks = F.transform(
            idx, lambda i: F.array_join(F.slice(tk, i * n + 1, n), " ")
        )
        tail = F.array_join(
            F.slice(tk, nc * n + 1, F.size(tk) - nc * n), " "
        )
        return F.struct(chunks.alias("chunks"), tail.alias("tail"))

    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), T.bind(toks, _parts).alias("p")
    )
    ex = base.select(
        id_col,
        F.col("p.tail").alias("__tail"),
        F.posexplode_outer("p.chunks").alias("__pos", "__chunk"),
    )
    dfreq = (
        ex.filter(F.col("__chunk").isNotNull())
        .select(id_col, "__chunk")
        .distinct()
        .groupBy("__chunk")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    marked = ex.join(dfreq, "__chunk", "left")
    kept_piece = F.when(F.col("__df") <= max_df, F.col("__chunk"))
    agg = marked.groupBy(id_col).agg(
        F.max("__tail").alias("__t"),
        F.sum(
            F.when(F.col("__chunk").isNotNull(), 1).otherwise(0)
        ).alias("n_passages"),
        F.sum(F.when(F.col("__df") > max_df, 1).otherwise(0)).alias(
            "n_dropped"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", kept_piece.alias("c")))
                ),
                lambda x: x["c"],
            ),
            " ",
        ).alias("__kept"),
    )
    return agg.select(
        F.col(id_col),
        F.col("n_passages").cast("int").alias("n_passages"),
        F.col("n_dropped").cast("int").alias("n_dropped"),
        F.trim(F.concat_ws(" ", "__kept", "__t")).alias("scrubbed"),
    )


def trim_repeated_passages(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WITHIN-document repetition trimming — the removal counterpart of
    ``textstats.repetition_scores`` (which only measures): keep the FIRST
    occurrence of each n-token chunk inside a document and delete every
    later repeat (looping boilerplate, stuttering generation, copy-pasted
    paragraphs), then rebuild the text. Corpus-level sharing is
    :func:`scrub_duplicate_passages`'s job; this one never looks across
    documents.

    Returns ``(id, n_passages, n_dropped, trimmed)`` with the same
    normalization, chunking, tail and NULL conventions as
    ``scrub_duplicate_passages``.

    Plan shape: the chunk explode is the same; "first occurrence" is a
    min(pos) per (doc, chunk) — an aggregation whose key is confined to
    one document, so it shuffles on the doc-sized (id, chunk) key and
    reassembly reuses the id partitioning. No corpus-wide state at all —
    this one scales embarrassingly.
    """
    toks = T.tokens(F.lower(F.col(text_col)))

    def _parts(tk):
        nc = F.floor(F.size(tk) / F.lit(n)).cast("int")
        idx = F.when(nc >= 1, F.sequence(F.lit(0), nc - 1)).otherwise(
            F.array().cast("array<int>")
        )
        chunks = F.transform(
            idx, lambda i: F.array_join(F.slice(tk, i * n + 1, n), " ")
        )
        tail = F.array_join(
            F.slice(tk, nc * n + 1, F.size(tk) - nc * n), " "
        )
        return F.struct(chunks.alias("chunks"), tail.alias("tail"))

    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), T.bind(toks, _parts).alias("p")
    )
    ex = base.select(
        id_col,
        F.col("p.tail").alias("__tail"),
        F.posexplode_outer("p.chunks").alias("__pos", "__chunk"),
    )
    w = Window.partitionBy(id_col, "__chunk")
    marked = ex.withColumn("__first", F.min("__pos").over(w))
    kept_piece = F.when(F.col("__pos") == F.col("__first"), F.col("__chunk"))
    agg = marked.groupBy(id_col).agg(
        F.max("__tail").alias("__t"),
        F.sum(
            F.when(F.col("__chunk").isNotNull(), 1).otherwise(0)
        ).alias("n_passages"),
        F.sum(
            F.when(F.col("__pos") > F.col("__first"), 1).otherwise(0)
        ).alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", kept_piece.alias("c")))
                ),
                lambda x: x["c"],
            ),
            " ",
        ).alias("__kept"),
    )
    return agg.select(
        F.col(id_col),
        F.col("n_passages").cast("int").alias("n_passages"),
        F.col("n_dropped").cast("int").alias("n_dropped"),
        F.trim(F.concat_ws(" ", "__kept", "__t")).alias("trimmed"),
    )


def heavy_hitters(
    docs: DataFrame,
    k: int = 5,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Top-k most frequent tokens per group (exact, deterministic tie-break
    by token). explode → count is a map-side-combined aggregation (the
    exploded rows collapse to |vocab|·|groups| before the shuffle), and the
    ``row_number <= k`` filter compiles to WindowGroupLimit — the per-group
    sort never materializes beyond k rows per task.
    """
    tok = docs.select(
        F.col(group_col),
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    counts = tok.groupBy(group_col, "token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(group_col).orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(group_col, "token", "cnt", F.col("rank").cast("int").alias("rank"))
    )


def weighted_group_sample(
    docs: DataFrame,
    k: int,
    weight_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sample without replacement, k rows per group
    (Efraimidis–Spirakis A-ES): keep the k rows with the largest
    ``u^(1/w)`` where ``u = md5-uniform(id)`` — each row's selection odds are
    proportional to its weight, and the result is reproducible across runs,
    partitionings, and engines.

    For weights that are exact powers of two (1, 2, 4, 8) the key is
    computed by repeated ``sqrt`` — IEEE-754-exact and therefore
    bit-identical in any engine; other weights fall back to ``pow``, whose
    last-ulp behavior may differ across libm implementations (fine for
    sampling, but the cross-engine oracle check pins the sqrt path).
    row_number<=k over the key compiles to WindowGroupLimit.
    """
    u = (H.md5_long(F.col(id_col)) + 1) / F.lit(float(1 << 60))  # (0, 1]
    w = F.col(weight_col)
    key = (
        F.when(w == 1, u)
        .when(w == 2, F.sqrt(u))
        .when(w == 4, F.sqrt(F.sqrt(u)))
        .when(w == 8, F.sqrt(F.sqrt(F.sqrt(u))))
        .otherwise(F.pow(u, F.lit(1.0) / w))
    )
    win = Window.partitionBy(group_col).orderBy(
        F.desc("es_key"), F.col(id_col)
    )
    return (
        docs.withColumn("es_key", key)
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= k)
        .drop("rn", "es_key")
    )


# ---------------------------------------------------------------------------
# Chunking (RAG / context-window preparation)
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    size: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into token windows of ``size`` tokens advancing by
    ``stride`` (default = size → non-overlapping; stride < size → overlapping
    RAG-style chunks). The final partial window is kept iff it starts before
    the text ends; every document yields at least one chunk.

    Pure codegen: one let-bound tokenize + a sequence/transform per row, then
    one explode — no shuffle at all, so chunking runs at scan speed and
    composes with any downstream write/embed stage.
    """
    st = size if stride is None else stride
    toks = T.tokens(F.lower(F.col(text_col)))

    def _chunks(tk):
        # ceil((len-size)/stride)+1 windows, but never start past the end:
        # with stride > size (sampling mode) the cap is ceil(len/stride)
        n_chunks = F.greatest(
            F.lit(1),
            F.least(
                F.ceil((F.size(tk) - F.lit(size)) / F.lit(st)) + 1,
                F.ceil(F.size(tk) / F.lit(st)),
            ),
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.alias("chunk_id"),
                F.array_join(F.slice(tk, i * st + 1, size), " ").alias("chunk"),
                F.least(F.size(tk) - i * st, F.lit(size)).alias("n_tokens"),
            ),
        )

    return docs.select(
        F.col(id_col),
        F.explode(T.bind(toks, _chunks)).alias("c"),
    ).select(
        F.col(id_col),
        F.col("c.chunk_id").cast("int").alias("chunk_id"),
        F.col("c.chunk").alias("chunk"),
        F.col("c.n_tokens").cast("int").alias("n_tokens"),
    )


def cdc_chunks(
    docs: DataFrame,
    avg_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 1,
    max_tokens: int | None = None,
) -> DataFrame:
    """Content-defined chunking (CDC — the rsync/LBFS boundary scheme,
    Muthitacharoen et al. SOSP'01, at token granularity): a chunk ends
    AFTER any token whose md5-derived 60-bit hash ≡ 0 (mod
    ``avg_tokens``). Boundaries are a pure function of LOCAL content, so
    an edit re-chunks only the chunk it touches, while fixed windows
    (``chunk_documents``) shift every boundary downstream of an insertion
    — the property that makes CDC the storage-dedup chunker (measured by
    the ``cdc_boundary_stability`` registry query; versioned corpus
    snapshots share all untouched chunks). Expected chunk length is
    ``avg_tokens`` (geometric); with the defaults there is no hard cap,
    so a pathological boundary-free document yields one long chunk.
    ``min_tokens``/``max_tokens`` add FastCDC-style normalized bounds
    (Xia et al., USENIX ATC'16): content boundaries are suppressed while
    the running chunk is shorter than ``min_tokens`` and one is forced
    when it reaches ``max_tokens`` — bounding every chunk while keeping
    boundary locality (a forced boundary re-syncs at the next content
    boundary, so an edit still re-chunks O(1) chunks). Every non-final
    chunk then has ``min_tokens <= n_tokens <= max_tokens``; the final
    chunk of a document may be shorter.

    → (id, chunk_id, chunk, n_tokens). Zero shuffle: tokenize + one
    linear ``aggregate()`` fold per row (whole-stage codegen) + one
    explode — chunking runs at scan speed; dedup/storage stats follow
    with one groupBy on md5(chunk). Every md5-derived boundary decision
    replays bit-exactly in the DuckDB oracle. An empty/whitespace-only
    document tokenizes to a single empty token and always yields exactly
    one empty chunk (the fold tracks the pending token COUNT, not the
    pending text, so the empty pending chunk is emitted — the oracle's
    group-by formulation emits one row per non-empty token stream too).
    """
    if avg_tokens < 1:
        raise ValueError(f"avg_tokens must be >= 1, got {avg_tokens}")
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    if max_tokens is not None and max_tokens < max(1, min_tokens):
        # inconsistent bounds would silently force a boundary before
        # min_tokens could be satisfied, violating the documented
        # min <= n_tokens <= max law on non-final chunks
        raise ValueError(
            f"max_tokens must be >= min_tokens ({min_tokens}) and >= 1, "
            f"got {max_tokens}"
        )
    toks = T.tokens(F.lower(F.col(text_col)))

    def _fold(tk):
        # done carries (chunk text, token count) pairs: the count comes
        # from the fold itself — re-tokenizing the reassembled chunk would
        # disagree with the oracle's COUNT(*) when tokens are empty
        # strings (whitespace-only documents), and joining on cnt == 0
        # instead of cur == "" keeps the reassembly a faithful string_agg
        # for those same degenerate token streams.
        acc0 = F.struct(
            F.array().cast("array<struct<c:string,n:int>>").alias("done"),
            F.lit("").alias("cur"),
            F.lit(0).alias("cnt"),
        )

        def step(acc, t):
            cnt1 = (acc["cnt"] + F.lit(1)).cast("int")
            joined = F.when(acc["cnt"] == 0, t).otherwise(
                F.concat(acc["cur"], F.lit(" "), t)
            )
            hit = (H.md5_long(t) % F.lit(avg_tokens)) == 0
            if min_tokens > 1:
                hit = hit & (cnt1 >= F.lit(min_tokens))
            boundary = (
                hit if max_tokens is None
                else hit | (cnt1 >= F.lit(max_tokens))
            )
            return F.when(
                boundary,
                F.struct(
                    F.array_append(
                        acc["done"],
                        F.struct(joined.alias("c"), cnt1.alias("n")),
                    ).alias("done"),
                    F.lit("").alias("cur"),
                    F.lit(0).alias("cnt"),
                ),
            ).otherwise(
                F.struct(
                    acc["done"].alias("done"),
                    joined.alias("cur"),
                    cnt1.alias("cnt"),
                )
            )

        def fin(acc):
            return F.when(acc["cnt"] == 0, acc["done"]).otherwise(
                F.array_append(
                    acc["done"],
                    F.struct(
                        acc["cur"].alias("c"),
                        acc["cnt"].cast("int").alias("n"),
                    ),
                )
            )

        return F.aggregate(tk, acc0, step, fin)

    return docs.select(
        F.col(id_col),
        F.posexplode(T.bind(toks, _fold)).alias("chunk_id", "ch"),
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("ch.c").alias("chunk"),
        F.col("ch.n").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# TF-IDF distinctive terms
# ---------------------------------------------------------------------------


def distinctive_terms(
    docs: DataFrame,
    k: int = 5,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF terms per group: which tokens characterize a source
    against the rest of the corpus (domain profiling / mixture debugging).

    tf = term count within the group; idf = ln(n_groups / groups-with-term),
    both from one explode → two partial aggregations; the idf and group-count
    sides join as broadcasts (|vocab| rows and 1 row — no driver action, the
    whole thing stays one lazy plan). Scores are quantized to 6 digits so
    ranking is reproducible across engines (ln differs from other libms only
    in the last ulp); ties break on the token. WindowGroupLimit bounds the
    final per-group sort at k.
    """
    # NULL groups are excluded up front: groupBy would keep them as a
    # document-frequency group while countDistinct drops them, letting
    # df exceed n_groups (negative tfidf for corpus-wide tokens) and
    # giving the NULL group its own ranked rows.
    docs = docs.filter(F.col(group_col).isNotNull())
    tok = docs.select(
        F.col(group_col),
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    tf = tok.groupBy(group_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    ng = docs.agg(F.countDistinct(group_col).alias("n_groups"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_), "token").join(F.broadcast(ng)).select(
        group_col,
        "token",
        H.quantize(
            F.col("tf")
            * F.log(F.col("n_groups").cast("double") / F.col("df")),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(group_col, "token", "tfidf", F.col("rank").cast("int").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Cross-corpus decontamination
# ---------------------------------------------------------------------------


def contamination_overlap(
    docs: DataFrame,
    reference: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_id_col: str = "doc_id",
    ref_text_col: str = "text",
    prescreen_bloom: bool = False,
    bloom_bits: int = 1 << 23,
) -> DataFrame:
    """Benchmark decontamination: for every training document, how many of
    its n-token passages appear anywhere in the ``reference`` corpus (the
    eval/benchmark set). Returns (id, n_passages, n_contaminated,
    contamination) — filter on it to drop or audit leaky documents.

    Both sides reduce to md5 passage keys; the reference side collapses to
    its DISTINCT passage set (benchmark corpora are small next to training
    corpora, so the semi-join's build side broadcasts). One explode per
    side, one semi-join, one per-doc rollup — no full-text comparisons.

    ``prescreen_bloom=True`` bit-tests every training passage against a
    broadcast Bloom bitmap of the reference passages BEFORE the exact
    semi-join — for when the union of benchmark suites outgrows the
    broadcast threshold and the semi-join would otherwise shuffle the full
    training passage set (the dominant cost at corpus scale). The bitmap
    is ``bloom_bits/8`` bytes no matter how many passages; false positives
    just proceed to the exact semi-join, so the result is unchanged.
    """
    p = passage_hashes(docs, n, id_col, text_col).distinct()
    ref = (
        passage_hashes(reference, n, ref_id_col, ref_text_col)
        .select("passage_md5")
        .distinct()
    )
    probe = p
    if prescreen_bloom:
        from .bloom import bloom_prune

        probe = bloom_prune(p, ref, "passage_md5", m_bits=bloom_bits)
    return _overlap_rollup(p, probe, ref, id_col, "n_passages")


def _overlap_rollup(
    p: DataFrame,
    probe: DataFrame,
    ref: DataFrame,
    id_col: str,
    count_alias: str,
) -> DataFrame:
    """Shared contamination tail: semi-join ``probe``'s fingerprints
    against the distinct ``ref`` set, then the per-doc rollup over ``p``'s
    full fingerprint count (``probe`` may be a Bloom-pruned subset of
    ``p`` — the denominator must stay un-pruned)."""
    hits = probe.join(ref, "passage_md5", "left_semi")
    per_doc = p.groupBy(id_col).agg(F.count(F.lit(1)).alias(count_alias))
    per_hit = hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_contaminated"))
    return per_doc.join(per_hit, id_col, "left").select(
        F.col(id_col),
        count_alias,
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        H.quantize(
            F.coalesce("n_contaminated", F.lit(0)) / F.col(count_alias), 4
        ).alias("contamination"),
    )


def skipgram_hashes(
    docs: DataFrame,
    gap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding gapped-bigram fingerprints: md5(tok_i ‖ " _ " ‖
    tok_{i+gap+1}) for every position — the skip-gram counterpart of
    ``passage_hashes``. A contiguous n-gram dies to ANY edit inside its
    window; a gapped pair survives every edit that lands in the gap, so
    skip-gram fingerprints still catch benchmark leakage after the classic
    change-one-word paraphrase (measured by the
    ``skipgram_vs_ngram_under_edits`` registry query). Documents shorter
    than gap+2 tokens yield no rows. One let-bound tokenize + transform per
    row, then one explode — no shuffle until the consumer aggregates."""
    span = gap + 2

    toks = T.tokens(F.lower(F.col(text_col)))

    def _pairs(tk):
        k = F.size(tk) - F.lit(span - 1)
        idx = F.when(k >= 1, F.sequence(F.lit(0), k - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.md5(
                F.concat(
                    F.element_at(tk, i + 1),
                    F.lit(" _ "),
                    F.element_at(tk, i + span),
                )
            ),
        )

    return docs.select(
        F.col(id_col),
        F.explode(T.bind(toks, _pairs)).alias("passage_md5"),
    )


def skipgram_contamination(
    docs: DataFrame,
    reference: DataFrame,
    gap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_id_col: str = "doc_id",
    ref_text_col: str = "text",
) -> DataFrame:
    """``contamination_overlap`` on skip-gram fingerprints
    (``skipgram_hashes``): edit-robust decontamination →
    (id, n_pairs, n_contaminated, contamination). Same plan shape —
    distinct fingerprints both sides, broadcast semi-join against the
    small benchmark set, one per-doc rollup."""
    p = skipgram_hashes(docs, gap, id_col, text_col).distinct()
    ref = (
        skipgram_hashes(reference, gap, ref_id_col, ref_text_col)
        .select("passage_md5")
        .distinct()
    )
    return _overlap_rollup(p, p, ref, id_col, "n_pairs")


def token_budget_mix(
    docs: DataFrame,
    budgets: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assemble a training mixture by TOKEN budget per source: within each
    source, documents are taken in deterministic md5(id) order until the
    source's budget is reached (the first document crossing the line is
    included, so every budget is met, not undershot). Sources absent from
    ``budgets`` are excluded.

    Count-based sampling (``weighted_group_sample``) mixes by documents;
    real pretraining mixes are specified in TOKENS — this is that cut.
    One window cumsum per source (the hash order also randomizes which
    docs fill the budget, decoupled from ingestion order); returns
    (id, source, n_tokens, cum_tokens).
    """
    budget_map = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    sized = docs.filter(
        F.col(source_col).isin(list(budgets))
    ).select(
        F.col(id_col),
        F.col(source_col),
        T.token_count(F.col(text_col)).alias("n_tokens"),
        H.md5_long(F.col(id_col).cast("string")).alias("__h"),
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        sized.select(
            F.col(id_col),
            F.col(source_col),
            F.col("n_tokens"),
            cum.alias("cum_tokens"),
        )
        .filter(
            F.col("cum_tokens") - F.col("n_tokens")
            < budget_map[F.col(source_col)]
        )
    )


def nucleus_keep(
    docs: DataFrame,
    p: float = 0.9,
    source_col: str = "source",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Top-p ("nucleus") selection per source: rank documents by size
    descending and keep the head until ``p`` of the source's total mass is
    covered — the row crossing the line is included, so coverage is met,
    never undershot. The dual of ``token_budget_mix``: that caps by an
    ABSOLUTE budget, this by a RELATIVE share (drop the long tail of tiny
    fragments while provably keeping ≥p of the corpus mass).

    One per-source window cumsum + a broadcast join of the |sources|-row
    totals; ties broken by id so the cut is deterministic. Returns the
    kept rows with their cumulative share.
    """
    sized = docs.select(
        F.col(id_col), F.col(source_col), F.col(size_col).alias("sz")
    )
    totals = sized.groupBy(source_col).agg(F.sum("sz").alias("_tot"))
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.col("sz").desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("sz").over(w)
    return (
        sized.join(F.broadcast(totals), source_col)
        .withColumn("cum_sz", cum)
        .filter((F.col("cum_sz") - F.col("sz")) < F.lit(p) * F.col("_tot"))
        .select(
            id_col,
            source_col,
            F.col("sz").alias(size_col),
            "cum_sz",
        )
    )


def epoch_upsample(
    docs: DataFrame,
    factor: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic upsampling to ``factor`` epochs: every document
    repeats ``floor(factor)`` times, and the md5-selected ``frac(factor)``
    fraction of documents gets one more — so expected multiplicity is
    exactly ``factor``, selection is reproducible, and each copy carries
    an ``epoch`` index for shuffle/sharding downstream (pair with
    ``shuffle_assignment``-style hashing on (id, epoch) so repeats land
    in different shards).

    The under-sampled-source case of mixture assembly (the complement of
    ``token_budget_mix``): when a source's budget exceeds its data, real
    pipelines repeat it a fractional number of epochs. Pure narrow ops —
    a sequence explode against a per-row epoch count, no shuffle.
    """
    if factor <= 0:
        raise ValueError(f"factor must be > 0, got {factor}")
    full = int(factor)
    frac = factor - full
    # md5 in [0, 1): doc gets the extra epoch iff its hash < frac
    h01 = H.md5_long(F.col(id_col).cast("string")) / F.lit(float(1 << 60))
    n_epochs = F.lit(full) + (h01 < F.lit(frac)).cast("int")
    return (
        docs.withColumn("__n", n_epochs)
        .filter(F.col("__n") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n")
    )


def contrastive_negatives(
    docs: DataFrame, id_col: str = "doc_id", k: int = 4
) -> DataFrame:
    """Deterministic negative sampling for contrastive training:
    ``(anchor_id, neg_rank, negative_id)`` — k pseudo-random negatives per
    document, uniform over the OTHER documents, no RNG, reproducible
    across runs and engines (md5-derived draws).

    Shape: dense 1..n positions from ids.assign_sequential_ids (no global
    window), a broadcast one-row count, k-way explode, then ``hash mod
    (n-1)`` remapped around the anchor's own position (draws land in
    [1, n]\\{self} uniformly) and an equi-join back to ids on position.
    Work is O(n·k) narrow rows + one join — no candidate scans, no
    rejection loops. The position join is the only shuffle.
    """
    from .ids import assign_sequential_ids

    seq = assign_sequential_ids(
        docs.select(id_col), [id_col], id_name="__seq"
    )
    n_row = seq.agg(F.count(F.lit(1)).alias("__n"))
    fan = (
        seq.crossJoin(F.broadcast(n_row))
        .select(
            F.col(id_col).alias("anchor_id"),
            "__seq",
            "__n",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("neg_rank"),
        )
    )
    hv = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit("#"),
                    F.col("neg_rank").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    # a single-document corpus has no other document to draw from: emit
    # no negatives (the unguarded pmod(hv, 0) aborts the job under ANSI)
    draw = F.pmod(hv, F.col("__n") - 1) + 1
    pos = draw + F.when(draw >= F.col("__seq"), 1).otherwise(0)
    lookup = seq.select(
        F.col("__seq").alias("__pos"), F.col(id_col).alias("negative_id")
    )
    return (
        fan.filter(F.col("__n") > 1)
        .withColumn("__pos", pos)
        .join(lookup, "__pos")
        .select("anchor_id", "neg_rank", "negative_id")
    )


def span_corruption(
    docs: DataFrame,
    rate_pct: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """T5-style span corruption as a pure relational transform:
    ``(id, n_spans, input_text, target_text)`` — ~``rate_pct``% of tokens
    masked, consecutive masked tokens merged into spans, span ``j``
    replaced by ``<extra_id_j>`` in the input and emitted after
    ``<extra_id_j>`` in the target, with the closing sentinel appended
    (the denoising objective of Raffel et al., "Exploring the Limits of
    Transfer Learning with a Unified Text-to-Text Transformer", JMLR 2020
    — public literature).

    Masking is an md5 draw per (doc, position) — no RNG, identical output
    every run/engine/cluster size, which is what makes training-data
    generation auditable (and lets the DuckDB oracle replay the exact
    masks). Shape: posexplode → windowed gaps-and-islands span numbering →
    one groupBy rebuilding both strings with an ordered string_agg — no
    Python, one shuffle on the doc key.
    """
    toks = docs.select(
        F.col(id_col),
        F.posexplode(T.tokens(F.col(text_col))).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    hv = H.md5_long(
        F.concat(
            F.col(id_col).cast("string"), F.lit("#"), F.col("pos").cast("string")
        )
    )
    m = toks.withColumn("masked", F.pmod(hv, F.lit(100)) < F.lit(rate_pct))
    w = Window.partitionBy(id_col).orderBy("pos")
    m = m.withColumn(
        "start",
        F.col("masked")
        & ~F.coalesce(F.lag("masked").over(w), F.lit(False)),
    ).withColumn("span", F.sum(F.col("start").cast("int")).over(w))
    sentinel = F.concat(
        F.lit("<extra_id_"), (F.col("span") - 1).cast("string"), F.lit(">")
    )
    in_piece = F.when(~F.col("masked"), F.col("tok")).when(
        F.col("start"), sentinel
    )  # masked non-start -> NULL, dropped from the input
    tgt_piece = F.when(
        F.col("masked") & F.col("start"),
        F.concat(sentinel, F.lit(" "), F.col("tok")),
    ).when(F.col("masked"), F.col("tok"))
    agg = m.groupBy(id_col).agg(
        F.max("span").alias("n_spans"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", in_piece.alias("p")))
                ),
                lambda x: x["p"],
            ),
            " ",
            None,
        ).alias("__in"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", tgt_piece.alias("p")))
                ),
                lambda x: x["p"],
            ),
            " ",
            None,
        ).alias("__tgt"),
    )
    closing = F.concat(
        F.lit("<extra_id_"), F.col("n_spans").cast("string"), F.lit(">")
    )
    return agg.select(
        F.col(id_col),
        "n_spans",
        F.col("__in").alias("input_text"),
        F.when(F.col("__tgt") == "", closing)
        .otherwise(F.concat(F.col("__tgt"), F.lit(" "), closing))
        .alias("target_text"),
    )


def stratified_exact_split(
    docs: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    fractions: tuple[float, float] = (0.8, 0.9),
) -> DataFrame:
    """Deterministic EXACT-proportion train/val/test assignment per
    stratum: within each stratum documents are ordered by md5(id) (a
    stable shuffle decoupled from ingestion order) and split at
    ``fractions`` of the stratum count — so every stratum lands within
    one document of 80/10/10, unlike the hash-rate split
    (``shuffle_assignment``) whose per-stratum proportions only converge
    in expectation.

    One window pass partitioned BY STRATUM (rank + stratum count ride the
    same sort), so scale is per-stratum parallel; the output keeps the
    assignment per document.
    """
    h = H.md5_long(F.col(id_col).cast("string"))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(id_col))
    wn = Window.partitionBy(stratum_col)
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(wn)
    split = (
        F.when(rn <= F.lit(fractions[0]) * n, "train")
        .when(rn <= F.lit(fractions[1]) * n, "val")
        .otherwise("test")
    )
    return docs.select(
        F.col(id_col), F.col(stratum_col), split.alias("split")
    )
