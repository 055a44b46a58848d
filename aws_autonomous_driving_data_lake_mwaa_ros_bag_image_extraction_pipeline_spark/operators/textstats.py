"""Text analysis operators over ``documents`` (north-star).

Language-ID, quality scoring, token counting, fingerprinting — all built-in
expressions (no Python in the hot path); each is a narrow transform except the
corpus-level aggregates.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T
from ..functions.hashing import quantize
from ._caching import share

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
}


def _marker_hits(toks: Column, markers: list[str]) -> Column:
    # NB: the lambda must take exactly one arg — a `m=markers` default would
    # make PySpark pass the array *index* as m (HOF arity is inspected from
    # the signature, defaults included).
    return F.size(F.filter(toks, lambda t: t.isin(markers)))


def lang_scores(text: Column) -> dict[str, Column]:
    toks = T.tokens(F.lower(text))
    return {
        lang: _marker_hits(toks, markers) for lang, markers in LANG_MARKERS.items()
    }


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax over marker-token hit counts, 'und'
    (undetermined) when no marker hits. Ties break by language code order."""
    scores = lang_scores(F.col(text_col))
    best = None
    best_lang = F.lit("und")
    for lang in sorted(scores):  # deterministic tie-break: first max wins
        s = scores[lang]
        if best is None:
            best, best_lang = s, F.when(s > 0, F.lit(lang)).otherwise(F.lit("und"))
        else:
            best_lang = F.when(s > best, F.lit(lang)).otherwise(best_lang)
            best = F.greatest(best, s)
    return docs.select(F.col(id_col), best_lang.alias("pred_lang"))


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        T.token_count(t).alias("n_tokens"),
        T.distinct_token_count(t).alias("n_distinct_tokens"),
        quantize(T.avg_token_len(t), 4).alias("avg_token_len"),
    )


def quality_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]: rewards length (to a cap), lexical
    diversity and stopword presence; penalizes punctuation density."""
    t = F.col(text_col)
    n_tok = T.token_count(t)
    diversity = T.distinct_token_count(t) / n_tok
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    stop = T.stopword_ratio(t)
    punct = T.punct_ratio(t)
    score = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * diversity
        + F.lit(0.3) * F.least(stop * 5, F.lit(1.0))
    ) * (F.lit(1.0) - F.least(punct * 2, F.lit(1.0)))
    return docs.select(
        F.col(id_col),
        quantize(diversity, 4).alias("diversity"),
        quantize(stop, 4).alias("stopword_ratio"),
        quantize(punct, 4).alias("punct_ratio"),
        quantize(score, 4).alias("quality"),
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        T.fingerprint(t).alias("fp_exact"),
        T.sorted_token_fingerprint(t).alias("fp_tokenset"),
    )


# GPT-style pre-tokenizer approximation, ASCII classes only so Java regex
# (Spark) and RE2 (DuckDB) agree byte-for-byte: letter runs | digit runs |
# single non-space symbols.
SUBWORD_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
# Average BPE piece ≈ 4 chars of a letter run (the classic ~4 chars/token
# rule of thumb); digits and symbols count one piece each.
CHARS_PER_PIECE = 4


def subword_token_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Token counting beyond whitespace: regex pre-tokens and a BPE-piece
    estimate (ceil(len/4) per letter run, 1 per digit-run/symbol) — the
    number a training-data pipeline budgets context windows with. All JVM
    expressions; the pre-token array is let-bound so the regex scan runs
    once per row."""
    t = F.col(text_col)

    def _stats(pre: Column) -> Column:
        pieces = F.aggregate(
            pre,
            F.lit(0),
            lambda acc, tok: acc
            + F.when(
                tok.rlike("^[A-Za-z]+$"),
                F.ceil(F.length(tok) / F.lit(float(CHARS_PER_PIECE))).cast("int"),
            ).otherwise(F.lit(1)),
        )
        return F.struct(
            F.size(pre).alias("n_pretokens"), pieces.alias("n_bpe_est")
        )

    s = T.bind(F.regexp_extract_all(t, F.lit(SUBWORD_PATTERN), 0), _stats)
    return docs.select(
        F.col(id_col),
        T.token_count(t).alias("n_ws_tokens"),
        s["n_pretokens"].alias("n_pretokens"),
        s["n_bpe_est"].alias("n_bpe_est"),
    )


def rolling_fingerprints(
    docs: DataFrame,
    k: int = 16,
    sample_mod: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing-style document fingerprint: hash every ``k``-char window,
    keep the deterministic ``h % sample_mod == 0`` sample (mod-p sampling —
    position-independent, so shared substrings select the same fingerprints
    in both documents), digest the sorted distinct sample.

    Relational shape: per-position hashes computed and mod-p-filtered
    INSIDE the array (``transform`` + ``filter``) so the explode only
    generates the ~1/sample_mod surviving fingerprints, then groupBy(id)
    — codegen end to end, map-side combine, same explode/agg pattern
    (and the same reasons) as the MinHash pipeline."""
    sampled = docs.select(
        F.col(id_col),
        F.explode(
            _modp_fingerprints(k, sample_mod, text_col)
        ).alias("h"),
    )
    digest = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set("h")), lambda x: x.cast("string")
            ),
            "|",
        )
    )
    return sampled.groupBy(id_col).agg(
        F.count_distinct(F.col("h")).alias("n_fp"),
        digest.alias("fp_digest"),
    )


def _position_hashes(k: int, text_col: str) -> Column:
    """Array of the 31-bit rolling-window hashes h(text[p : p+k]) for every
    window position p — empty for texts shorter than ``k``. Built with
    ``transform`` over a position sequence so samplers can prune INSIDE the
    array before any explode generates rows."""
    from ..functions import hashing as H

    n_windows = F.length(F.col(text_col)) - F.lit(k - 1)
    idx = F.when(n_windows >= 1, F.sequence(F.lit(1), n_windows)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda p: H.md5_mod_p(F.col(text_col).substr(p, F.lit(k)))
    )


def _modp_fingerprints(k: int, sample_mod: int, text_col: str) -> Column:
    """Mod-p sampled fingerprint array: ~1/sample_mod of the window hashes
    survive, position-independently. No detection guarantee — a match can
    fall entirely between sampled hashes (``_winnow_fingerprints`` has
    one).

    Memoized per (k, sample_mod, text_col): the selector is a pure
    unresolved-expression tree (~10² py4j round trips to build), identical
    on every call — reusing the Column object removes that driver latency
    from every plan build after the first. Columns are immutable
    expression fragments resolved against whatever plan they are used in,
    so sharing one across queries/plans is safe."""
    return _modp_fingerprints_cached(k, sample_mod, text_col)


@functools.lru_cache(maxsize=64)
def _modp_fingerprints_cached(k: int, sample_mod: int, text_col: str) -> Column:
    return F.array_distinct(
        F.filter(_position_hashes(k, text_col), lambda h: h % sample_mod == 0)
    )


def _sliding_min(hs: Column, w: int) -> Column:
    """Sliding-window minima over an array: out[i] = min(hs[i .. i+w-1])
    for every full-window start, computed by SPARSE-TABLE DOUBLING in
    O(n log w) elementwise passes instead of the naive per-position
    ``array_min(slice(hs, i, w))`` (O(n·w) — with w=8 an 8× constant on
    the hash array, measured as the dominant cost of the winnow family).

    Doubling invariant: m_p[i] = min(hs[i .. i+p-1]) (suffix-clipped near
    the end — ``zip_with`` pads the shifted copy with nulls and ``least``
    ignores them, which is exactly the clipped-window semantics).
    m_{2p} = zip_with(m_p, shift(m_p, p), least); after reaching the
    largest power of two p <= w, one final pass with shift w-p covers the
    full window ([i..i+p-1] ∪ [i+w-p..i+w-1] = [i..i+w-1] since p >= w/2).
    The result is truncated to the n-w+1 full-window starts
    (min 1 — a shorter-than-w array yields its single clipped-window min,
    matching the naive selector). Each doubling level is let-bound
    (``T.bind``): referenced naively, level j would be inlined into level
    j+1 and the chain would re-evaluate exponentially.

    Why not the classic two-pass BLOCK prefix/suffix minima (true O(n))?
    That construction needs a running-min SCAN, and Spark's array algebra
    has none: ``transform`` is per-element (a per-position
    ``array_min(slice(...))`` re-reads O(w)), and ``aggregate`` folds to
    one value — building the prefix array by repeated ``concat`` copies
    O(n) per step. Doubling reaches O(n log w) with only elementwise
    primitives, which is the optimum expressible without a scan; at w=8
    that is 4 elementwise passes vs 8 slice-scans per position."""

    def _shift_least(m: Column, s: int) -> Column:
        shifted = F.slice(
            m, s + 1, F.greatest(F.size(m) - F.lit(s), F.lit(0))
        )
        return F.zip_with(m, shifted, lambda x, y: F.least(x, y))

    def _level(s: int):
        # single-arg closure: a 2-arg lambda would make transform() pass
        # the array INDEX as the second argument (PySpark arity-sniffs)
        return lambda mm: _shift_least(mm, s)

    def _win(hs_b: Column) -> Column:
        m = hs_b
        p = 1
        while p * 2 <= w:
            m = T.bind(m, _level(p))
            p *= 2
        if p < w:
            m = T.bind(m, _level(w - p))
        return F.slice(
            m, 1, F.greatest(F.lit(1), F.size(hs_b) - F.lit(w - 1))
        )

    return _win(hs)


def _winnow_fingerprints(k: int, w: int, text_col: str) -> Column:
    """Classic winnowing selection (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    the MIN hash of every window of ``w`` consecutive k-gram hashes,
    deduplicated. GUARANTEE: any substring of length >= w + k - 1 shared
    by two documents contains a full window of w identical k-gram hashes
    in BOTH, whose min value is selected on both sides — so the pair
    shares >= 1 fingerprint (mod-p sampling can miss any match). Texts
    with 1 <= n_hashes < w winnow as a single window (min of all); texts
    shorter than ``k`` select nothing. Density ~2/(w+1) of positions.
    All array-local — no explode until the caller asks for rows; the
    window minima come from ``_sliding_min``'s O(n log w) doubling passes,
    not a per-position O(w) slice scan. The hash array is let-bound
    (``T.bind``): referenced naively it would be re-evaluated inside every
    downstream expression — O(n²) md5 calls per document (measured 194 s
    vs 4 s at sf0.01). Memoized per (k, w, text_col) — same pure-fragment
    reuse contract as ``_modp_fingerprints``: the selector costs ~10³ py4j
    round trips to construct (~0.4 s of driver latency), and every call
    builds the identical tree."""
    return _winnow_fingerprints_cached(k, w, text_col)


@functools.lru_cache(maxsize=64)
def _winnow_fingerprints_cached(k: int, w: int, text_col: str) -> Column:
    def _sel(hs: Column) -> Column:
        sel = F.array_distinct(_sliding_min(hs, w))
        return F.when(F.size(hs) >= 1, sel).otherwise(
            F.array().cast("array<bigint>")
        )

    return T.bind(_position_hashes(k, text_col), _sel)


def winnow_overlap_pairs(
    docs: DataFrame,
    k: int = 16,
    sample_mod: int = 8,
    min_shared: int = 3,
    max_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int | None = None,
) -> DataFrame:
    """The pairing step of winnowing/MOSS-style local-fingerprint
    plagiarism detection: documents sharing >= ``min_shared`` sampled
    substring fingerprints (the same mod-p sample
    ``rolling_fingerprints`` digests) → (id_a, id_b, n_shared, overlap)
    with overlap = shared / min(|A|, |B|). Position-independent, so it
    catches a paragraph LIFTED into a different document — the
    quote-detection angle the token-set detectors blur away.

    With ``window=w`` the selector switches from mod-p sampling to CLASSIC
    winnowing (min hash per window of w consecutive k-gram hashes,
    ``_winnow_fingerprints``), which carries the SIGMOD'03 guarantee: any
    lifted passage of length >= w + k - 1 chars shares >= 1 selected
    fingerprint — mod-p sampling can miss an arbitrarily long match when
    none of its hashes lands on the residue. ``sample_mod`` is ignored in
    that mode.

    Scale shape: per-position hashes are computed and sampled INSIDE an
    array (``transform``/``filter``/``slice`` — the explode only ever
    generates surviving fingerprints, ~1/sample_mod or ~2/(w+1) of
    positions), then an inverted-index self-join on the fingerprint hash,
    with fingerprints present in more than ``max_df`` docs dropped BEFORE
    the join (df-ceiling prune, same reason as tfidf_cosine_pairs: a
    ubiquitous substring generates quadratic candidates and zero
    signal). Pruned fingerprints leave both the numerator and the
    denominator, so overlap stays internally consistent.

    The md5 selector pass runs EXACTLY ONCE per execution: the distinct
    (id, h) fingerprint table is locally checkpointed (lazy, per call)
    right after the selector, and the PRUNED table is checkpointed again
    before fanning out to its three consumers (both self-join sides and
    the per-doc size branch). The checkpoints — not exchange reuse — are
    what guarantee the single pass: AQE's stage cache fails to match a
    stage whose child is a ReusedExchange against its twin built over the
    original exchange, so the size branch was observed re-running the
    ENTIRE selector chain per execution (final adaptive plan showed two
    disjoint ShuffleQueryStage chains; measured 1.77 s vs 0.61 s with the
    checkpoint at sf0.1). The checkpointed rows are the narrow (id, h)
    pairs the shuffles carry anyway. No persist: a CacheManager entry
    would serve repeat invocations over the same input from cache and
    outlive the call (the previous persist()-based formulation
    additionally measured THREE selector re-runs per warm call —
    concurrent AQE query stages racing the cache fill).

    The df-ceiling is a groupBy(h) count over the checkpointed table plus
    a left-anti join against the (few) over-ceiling hashes: the groupBy
    partially aggregates map-side, so a boilerplate fingerprint shared by
    millions of docs shuffles one partial row per map task, and the anti
    join is AQE-skew-splittable. The round-21 formulation — a count
    window over ``h`` — computed df over ALL fingerprints BEFORE the
    ``<= max_df`` filter with no map-side combine, so that same hot
    fingerprint landed its entire group on ONE window task (AQE's skew
    split covers joins, not windows) — fine at sf0.1, serialized at
    100 TB."""
    sel = (
        _winnow_fingerprints(k, window, text_col)
        if window is not None
        else _modp_fingerprints(k, sample_mod, text_col)
    )
    fp = share(
        docs.select(F.col(id_col), F.explode(sel).alias("h")).distinct()
    )
    hot = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("h")
    )
    pruned = share(fp.join(hot, "h", "left_anti"))
    sz = pruned.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    a = pruned.select(F.col(id_col).alias("id_a"), "h").hint("shuffle_hash")
    b = pruned.select(F.col(id_col).alias("id_b"), "h").hint("shuffle_hash")
    pairs = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        pairs.join(
            sz.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na")),
            "id_a",
        )
        .join(
            sz.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb")),
            "id_b",
        )
        .select(
            "id_a", "id_b", "n_shared",
            H.quantize(
                F.col("n_shared") / F.least("__na", "__nb"), 4
            ).alias("overlap"),
        )
    )


def repetition_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Gopher-style repetition signals per document: total word-``n``-gram
    occurrences, the fraction of occurrences that are repeats
    (``1 - distinct/total``), and the share held by the single most
    frequent n-gram. High values flag boilerplate / degenerate text.

    Zero-shuffle: every signal is a narrow per-row expression over the
    n-gram array (the explode + groupBy(doc, gram) formulation computes
    the same thing with a full shuffle of gram rows — pointless when the
    grouping key is the row itself). The top-gram count is the longest
    equal-run in the sorted array, computed with one ``aggregate`` fold.
    Documents with no n-grams (< n tokens) are dropped, matching the
    relational oracle's inner-join semantics.
    """

    def _scores(g: Column) -> Column:
        total = F.size(g)
        run = F.aggregate(
            F.array_sort(g),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
        )
        # try_divide: the empty-gram rows are filtered out below, but under
        # ANSI mode the division still evaluates for them first.
        return F.struct(
            total.alias("n_grams"),
            quantize(
                F.try_divide(
                    total - F.size(F.array_distinct(g)), total.cast("double")
                ),
                6,
            ).alias("dup_gram_frac"),
            quantize(
                F.try_divide(run["best"], total.cast("double")), 6
            ).alias("top_gram_share"),
        )

    s = T.bind(T.word_ngrams(F.col(text_col), n), _scores)
    return (
        docs.select(F.col(id_col), s.alias("__s"))
        .filter(F.col("__s.n_grams") > 0)
        .select(
            id_col,
            F.col("__s.n_grams").alias("n_grams"),
            F.col("__s.dup_gram_frac").alias("dup_gram_frac"),
            F.col("__s.top_gram_share").alias("top_gram_share"),
        )
    )


def curation_decisions(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    allowed_langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    max_dup_gram_frac: float = 0.6,
) -> DataFrame:
    """The curation pipeline's end product: one keep/drop verdict per
    document with the FIRST failing rule as the reason (rules in fixed
    priority order: too_short → wrong_lang → low_quality → repetitive).

    Everything is a per-row expression — length, language-ID argmax,
    composite quality, dup-bigram fraction — so the whole decision table is
    ONE narrow pass over the corpus: no joins between signal tables, no
    shuffle, scan-speed at any corpus size. Filtering a 100 TB corpus is
    ``decisions.filter("keep")`` semi-joined (or column-pruned) back to the
    source — the signals never need materializing separately.
    """
    t = F.col(text_col)
    n_tok = T.token_count(t)
    diversity = T.distinct_token_count(t) / n_tok
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    stop = T.stopword_ratio(t)
    punct = T.punct_ratio(t)
    quality = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * diversity
        + F.lit(0.3) * F.least(stop * 5, F.lit(1.0))
    ) * (F.lit(1.0) - F.least(punct * 2, F.lit(1.0)))

    scores = lang_scores(t)
    best, best_lang = None, F.lit("und")
    for lang in sorted(scores):
        s = scores[lang]
        if best is None:
            best, best_lang = s, F.when(s > 0, F.lit(lang)).otherwise(F.lit("und"))
        else:
            best_lang = F.when(s > best, F.lit(lang)).otherwise(best_lang)
            best = F.greatest(best, s)

    grams = T.word_ngrams(t, 2)
    dup_frac = T.bind(
        grams,
        lambda g: F.try_divide(
            F.size(g) - F.size(F.array_distinct(g)), F.size(g).cast("double")
        ),
    )

    reason = (
        F.when(n_tok < min_tokens, F.lit("too_short"))
        .when(~best_lang.isin(*allowed_langs), F.lit("wrong_lang"))
        .when(quantize(quality, 4) < min_quality, F.lit("low_quality"))
        .when(quantize(dup_frac, 4) > max_dup_gram_frac, F.lit("repetitive"))
        .otherwise(F.lit("keep"))
    )
    return docs.select(
        F.col(id_col),
        (reason == "keep").alias("keep"),
        reason.alias("reason"),
    )


def lm_fluency_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.1,
) -> DataFrame:
    """CCNet-style fluency scoring: train an add-k-smoothed word-bigram
    model ON the corpus, score each document by its mean token
    log-probability ``ln((c(w1,w2)+a) / (c(w1)+a·V))``. Low scores flag
    token-salad / machine-mangled text that per-doc heuristics miss,
    because the model encodes corpus-wide co-occurrence.

    Plan: one tokenize pass feeds (a) unigram counts, (b) bigram counts
    via the same posexplode+lead shape as the MinHash shingler, (c) the
    per-doc bigram stream that joins back to the model — all shuffles key
    on grams, so the model join is a plain shuffle join that scales with
    vocabulary, and the vocab size rides a broadcast 1-row aggregate.
    Scores are summed as DECIMAL(28,12): double addition is
    order-dependent and shuffle order is not deterministic — decimal
    accumulation makes the mean bit-stable across runs AND engines.
    """
    toks = docs.select(
        F.col(id_col),
        F.posexplode(T.tokens(F.lower(F.col(text_col)))).alias("p", "w"),
    )
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    from pyspark.sql import Window as _W

    w_doc = _W.partitionBy(id_col).orderBy("p")
    bigrams = (
        toks.select(
            F.col(id_col),
            F.col("w").alias("w1"),
            F.lead("w").over(w_doc).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    big = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))

    logp = F.log(
        (F.col("c2") + F.lit(alpha))
        / (F.col("c1") + F.lit(alpha) * F.col("v"))
    )
    return (
        bigrams.join(big, ["w1", "w2"])
        .join(uni, F.col("w1") == F.col("w"))
        .join(F.broadcast(vocab))
        .select(F.col(id_col), logp.cast("decimal(28,12)").alias("lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            quantize(
                (F.sum("lp").cast("double") / F.count(F.lit(1))), 4
            ).alias("mean_logp"),
        )
    )


def bigram_pmi(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Corpus collocations: pointwise mutual information of adjacent word
    pairs — PMI = ln(p(ab) / (p(a)·p(b))) over bigram/unigram frequencies.
    High-PMI pairs are multiword expressions ("machine learning"); the
    standard phrase-mining signal for tokenizer/vocab construction.

    Plan: ONE tokenize pass feeds both the bigram and unigram counts (the
    exploded token table is reused); both aggregations map-side combine to
    vocabulary-sized tables, so the only event-scale work is the explode.
    The unigram side joins the bigram table twice — both broadcast
    (|vocab| rows), as are the two 1-row totals. PMI is computed as a sum
    of logs of exact integer counts (not a ratio of products), so it can't
    overflow at corpus scale and both engines evaluate the identical fp
    expression; rounded to 6 digits.
    """
    toks = docs.select(T.tokens(F.lower(F.col(text_col))).alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("nw"))
    )
    n_uni = uni.agg(F.sum("nw").alias("nu"))

    def _pairs(t):
        k = F.size(t) - F.lit(1)
        idx = F.when(k >= 1, F.sequence(F.lit(0), k - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(t, i + 1).alias("w1"),
                F.element_at(t, i + 2).alias("w2"),
            ),
        )

    bi = (
        toks.select(F.explode(T.bind(F.col("t"), _pairs)).alias("p"))
        .select("p.w1", "p.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    total_bi = (
        toks.select((F.greatest(F.size("t") - 1, F.lit(0))).alias("k"))
        .agg(F.sum("k").alias("nb"))
    )
    pmi = (
        F.log("n_ab")
        + F.lit(2.0) * F.log("nu")
        - F.log("nb")
        - F.log("na")
        - F.log("nb2")
    )
    return (
        bi.join(F.broadcast(uni.withColumnRenamed("nw", "na")), F.col("w1") == F.col("w"))
        .drop("w")
        .join(
            F.broadcast(uni.withColumnRenamed("nw", "nb2")),
            F.col("w2") == F.col("w"),
        )
        .drop("w")
        .join(F.broadcast(n_uni))
        .join(F.broadcast(total_bi))
        .select("w1", "w2", "n_ab", F.round(pmi, 6).alias("pmi"))
    )


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """The inner loop of BPE tokenizer training, relationally: adjacent
    SYMBOL-pair frequencies weighted by word frequency — the table whose
    argmax is the next merge. (One iteration; a full trainer reruns this
    over the re-segmented vocab, each round a job over the
    vocabulary-sized table, never the corpus.)

    Corpus-scale shape: the corpus is touched ONCE (tokenize + word
    count); everything after runs on the |vocab|-row word-frequency
    table — char-pair explosion is |vocab|·avg_len rows, and the final
    rank window sorts the ≤|alphabet|² pair table.
    """
    words = (
        docs.select(F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )

    def _char_pairs(w):
        k = F.length(w) - F.lit(1)
        idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.struct(
                F.substring(w, i, 1).alias("c1"),
                F.substring(w, i + 1, 1).alias("c2"),
            ),
        )

    pairs = (
        words.select("freq", F.explode(_char_pairs(F.col("w"))).alias("p"))
        .select("freq", "p.c1", "p.c2")
        .groupBy("c1", "c2")
        .agg(F.sum("freq").alias("n"))
    )
    from pyspark.sql import Window

    wr = Window.orderBy(F.desc("n"), "c1", "c2")
    return (
        pairs.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= top_k)
    )


def source_kl_divergence(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """Distribution drift per source: add-k-smoothed KL(source token dist ‖
    corpus token dist) → (source, n_tokens, n_distinct, kl) — the mixture
    audit that flags a source whose language has shifted away from the
    blend it was weighted for (or an ingest gone wrong: spam, boilerplate,
    wrong language).

    KL needs EVERY vocab token per source — absent tokens (count 0) still
    contribute p₀·ln(p₀/q_t). Materializing |vocab|×|sources| rows to say
    mostly "absent" is the scale trap; instead the absent mass has the
    CLOSED FORM p₀·(|absent|·ln p₀ − Σ_absent ln q_t), and Σ_absent ln q_t
    = (Σ_vocab ln q_t) − (Σ_present ln q_t) — so one groupBy over PRESENT
    (source, token) pairs plus two broadcast one-row corpus aggregates
    covers the whole vocabulary exactly. Work is O(present pairs), the
    same shuffle the token counts already need.
    """
    toks = docs.select(
        F.col(source_col).alias("source"),
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("token"),
    ).filter(F.col("token") != "")
    c_st = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cst"))
    c_t = c_st.groupBy("token").agg(F.sum("cst").alias("ct"))
    n_s = c_st.groupBy("source").agg(F.sum("cst").alias("ns"))
    corpus = c_t.agg(
        F.count(F.lit(1)).cast("double").alias("v"),
        F.sum("ct").cast("double").alias("n"),
    )
    q = c_t.crossJoin(F.broadcast(corpus)).select(
        "token",
        F.log((F.col("ct") + F.lit(k)) / (F.col("n") + F.lit(k) * F.col("v"))).alias("lnq"),
    )
    slnq_all = q.agg(F.sum("lnq").alias("slnq_vocab"))

    present = (
        c_st.join(q, "token")
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(corpus))
        .select(
            "source",
            "ns",
            "v",
            "lnq",
            (
                (F.col("cst") + F.lit(k))
                / (F.col("ns") + F.lit(k) * F.col("v"))
            ).alias("p"),
        )
        .groupBy("source", "ns", "v")
        .agg(
            F.sum(F.col("p") * (F.log("p") - F.col("lnq"))).alias("kl_present"),
            F.sum("lnq").alias("slnq_present"),
            F.count(F.lit(1)).cast("double").alias("n_present"),
        )
    )
    p0 = F.lit(k) / (F.col("ns") + F.lit(k) * F.col("v"))
    return (
        present.crossJoin(F.broadcast(slnq_all))
        .select(
            "source",
            F.col("ns").cast("bigint").alias("n_tokens"),
            F.col("n_present").cast("bigint").alias("n_distinct"),
            F.round(
                F.col("kl_present")
                + p0
                * (
                    (F.col("v") - F.col("n_present")) * F.log(p0)
                    - (F.col("slnq_vocab") - F.col("slnq_present"))
                ),
                6,
            ).alias("kl"),
        )
    )
