"""Deduplication operators over the ``documents`` table (north-star).

Five strategies, all shuffle-aware:

- exact:      md5(normalized text) groupBy — one shuffle on a 32-byte key.
- token-set:  md5(sorted distinct tokens) — order-insensitive exact dup.
- minhash+LSH: shingles → k seeded min-hashes → b bands → bucket self-join.
  The self-join is on band keys, so candidate generation is O(collisions),
  never O(n²) — the 100 TB path. Hashes are md5-based so the DuckDB oracle
  can reproduce them bit-for-bit (see plans/registry.py).
- simhash:    per-bit majority vote over token hashes; equal-signature
  grouping for near-dup buckets.
- embedding:  cosine > threshold pairs (exact for small n; LSH-bucketed in
  operators/similarity.py for scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T
from ..functions import vectors as V
from ._caching import share
from ._planstats import broadcast_threshold_bytes, input_size_bytes

def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents: fingerprint, member
    count, canonical (min) id. Map-side partial agg → tiny shuffle."""
    return (
        docs.select(F.col(id_col), T.fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative per fingerprint (lowest id — deterministic)."""
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        docs.withColumn("fp", T.fingerprint(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("fp", "__rn")
    )


def token_set_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Order-insensitive duplicate groups (sorted-token fingerprint)."""
    return (
        docs.select(F.col(id_col), T.sorted_token_fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


# --- MinHash + LSH -----------------------------------------------------------

def _shingle_long(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int,
) -> DataFrame:
    """(id, sh) long-format word-shingle table — fully relational.

    posexplode tokens → window ``lead`` chain → concat: every step is
    whole-stage codegen. The HOF formulation (``transform`` over an index
    sequence with ``slice``+``array_join``) evaluates interpreted at
    ~13 ms/doc — 100× this plan. The window's sort piggybacks on an
    upstream id hash-partitioning, so a spread input pays no extra
    exchange. Output may contain duplicate shingles (min-hash doesn't
    care; set consumers dedup with collect_set).
    """
    tok = docs.select(
        F.col(id_col),
        F.posexplode(T.tokens(F.lower(F.col(text_col)))).alias("p", "t"),
    )
    if shingle_len == 1:
        return tok.select(F.col(id_col), F.col("t").alias("sh"))
    w = Window.partitionBy(id_col).orderBy("p")
    leads = [F.lead("t", i).over(w) for i in range(1, shingle_len)]
    gram = F.concat_ws(" ", F.col("t"), *leads)
    return (
        tok.select(F.col(id_col), gram.alias("sh"), leads[-1].alias("__last"))
        .filter(F.col("__last").isNotNull())
        .drop("__last")
    )


def _shingle_table(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_len: int,
) -> DataFrame:
    """(id, sh: array<string>) distinct word-shingle table (from the long
    form — collect_set dedups)."""
    return (
        _shingle_long(docs, id_col, text_col, shingle_len)
        .groupBy(id_col)
        .agg(F.collect_set("sh").alias("sh"))
    )


def _signatures_from(sh_long: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """k min-hashes per doc from the LONG shingle table:

    ONE md5 per shingle (31-bit ``h``) → k cheap integer mixes
    ``(a_i·h + b_i) mod (2^31-1)`` → ``groupBy(id).agg(min…)``.

    Whole-stage codegen end to end; the md5 runs once per shingle instead of
    once per seed, the min-agg combines map-side, and duplicate shingles in
    the long form are harmless (min over a multiset == min over its set).
    The mix family is pairwise independent over Z_p → the min under each mix
    is a uniform permutation minimum (standard MinHash).
    """
    hashed = sh_long.select(F.col(id_col), H.md5_mod_p(F.col("sh")).alias("h"))
    # SQL-text min-aggregates (one parser round trip per seed instead of
    # ~8 Column-API py4j calls each); the parsed trees — int literals,
    # bigint h, same operator order — are identical to the Column form.
    aggs = [
        F.expr(f"min(({a} * h + {b}) % {H.MERSENNE_31}) AS mh{i}")
        for i, (a, b) in enumerate(H.mix_constants(num_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = 12,
) -> DataFrame:
    """k independent min-hashes per document (see ``_signatures_from``).

    Documents with fewer than ``shingle_len`` tokens have no shingles and are
    absent from the output (they can't near-dup-match anything).
    """
    sh_long = _shingle_long(docs, id_col, text_col, shingle_len)
    return _signatures_from(sh_long, id_col, num_hashes)


def _candidates_from(
    sh_long: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    rows_per_band = num_hashes // bands
    sig = _signatures_from(sh_long, id_col, num_hashes)
    band_cols = [
        F.expr(
            "md5(concat_ws('|', "
            + ", ".join(
                f"CAST(mh{b * rows_per_band + r} AS STRING)"
                for r in range(rows_per_band)
            )
            + f")) AS band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select(id_col, *band_cols)
    long = banded.select(
        F.col(id_col),
        F.explode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias("bucket"),
    )
    a = long.alias("a")
    b = long.alias("b")
    # SHUFFLE_HASH self-join: both sides are the same banded table, so the
    # shuffle join's two exchanges canonicalize equal and ReuseExchange
    # computes the corpus-wide shingle→signature→band pass ONCE; the
    # default broadcast plan materialized the subtree once per side (racing
    # concurrent jobs), and a corpus-sized band table can't broadcast at
    # 100 TB anyway.
    return (
        a.hint("shuffle_hash")
        .join(
            b.hint("shuffle_hash"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Band-bucket candidates from raw documents (see ``_candidates_from``)."""
    sh_long = _shingle_long(docs, id_col, text_col, shingle_len)
    return _candidates_from(sh_long, id_col, num_hashes, bands)


def _jaccard_from(sh_tbl: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    j = (
        pairs.join(
            sh_tbl.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        ).join(
            sh_tbl.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return j.select(
        "id_a",
        "id_b",
        (inter.cast("double") / union).alias("jaccard"),
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (verification step).

    Joins the (small — broadcast by AQE) candidate set back to shingle
    arrays; intersection and union computed JVM-side with array intrinsics.
    """
    sh_tbl = _shingle_table(docs, id_col, text_col, shingle_len)
    return _jaccard_from(sh_tbl, pairs, id_col)


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates → exact Jaccard ≥ t.

    The Jaccard verify re-shingles ONLY the docs that appear in a candidate
    pair (semi-join first): at scale candidates are a vanishing fraction of
    the corpus, so the n-gram work never runs corpus-wide a second time.

    ``cands`` is locally checkpointed (lazy): it feeds TWO consumers
    (the semi-join filter's id list, one explode of both id columns, and
    the final verify join), and a re-evaluation would re-run the
    corpus-wide shingle → signature → band self-join — the whole
    candidate-generation cost. ``localCheckpoint`` rather than
    ``persist``: a fresh RDD per CALL, shared by every consumer within
    the call and freed by the ContextCleaner on GC — where a persist()
    entry is keyed on the canonicalized plan in the session CacheManager
    and silently serves REPEAT invocations over the same input from
    cache (a benchmark of the warm path then no longer measures the
    detector at all). The pair set is the small end of the pipeline by
    construction.
    """
    sh_long = _shingle_long(docs, id_col, text_col, shingle_len)
    cands = share(_candidates_from(sh_long, id_col, num_hashes, bands))
    cand_ids = cands.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    cand_docs = docs.join(cand_ids, id_col, "left_semi")
    sh_small = _shingle_table(cand_docs, id_col, text_col, shingle_len)
    return _jaccard_from(sh_small, cands, id_col).filter(
        F.col("jaccard") >= threshold
    )


# --- Character-n-gram Jaccard (prefix-filtered set-similarity join) ---------


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT character-n-gram Jaccard pairs ≥ threshold via the prefix
    filter (AllPairs/PPJoin family) — no hashing, no recall loss.

    Candidate generation is an inverted-index self-join restricted to each
    document's PREFIX: its ``|A| - ⌈t·|A|⌉ + 1`` globally-rarest grams
    (ordered by document frequency, then gram). Any pair with J ≥ t must
    share a gram inside both prefixes (the smallest common gram under the
    global order lands in both), so the join over prefix postings finds
    every qualifying pair while hot/common grams — the posting lists that
    explode at scale — are excluded from candidate generation entirely.
    Verification counts shared grams only for candidate pairs.

    Complements MinHash-LSH: exact answer, same O(collisions) join shape,
    and the df-ascending global order keeps posting lists short. Fully
    relational (codegen end to end); the per-doc window sort piggybacks on
    the id hash partitioning.
    """
    from ..functions.text import char_ngrams

    grams = docs.select(
        F.col(id_col), F.explode(F.array_distinct(char_ngrams(F.col(text_col), n))).alias("g")
    )
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("sz"))
    gdf = grams.groupBy("g").agg(F.count("*").alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "g")
    prefix = (
        grams.join(gdf, "g")
        .withColumn("__rn", F.row_number().over(w))
        .join(sizes, id_col)
        .filter(
            F.col("__rn")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select(id_col, "g", "sz", F.col("__rn").alias("pos"))
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "g",
        F.col("sz").alias("sza"), F.col("pos").alias("posa"),
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "g",
        F.col("sz").alias("szb"), F.col("pos").alias("posb"),
    )
    # Length filter (J ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t) + PPJoin positional
    # filter: for the SMALLEST shared gram, overlap ≤ min remaining grams
    # after it + 1, which must reach ⌈t/(1+t)·(|A|+|B|)⌉ — both prune
    # candidates only; the exact verify below fixes the answer.
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold)) * (F.col("sza") + F.col("szb")))
    cand = (
        a.join(b, "g")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("szb") >= F.lit(threshold) * F.col("sza"))
            & (F.col("sza") >= F.lit(threshold) * F.col("szb"))
            & (
                F.least(
                    F.col("sza") - F.col("posa"), F.col("szb") - F.col("posb")
                )
                + 1
                >= alpha
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # Verify with per-doc gram ARRAYS + array_intersect (hash-based, one
    # row per candidate pair) — an exploded gram-level join here would
    # shuffle |cand| × grams rows, which detonates when the corpus
    # vocabulary is small and the prefix filter can't prune (every gram
    # common → near-all-pairs candidates).
    gram_tbl = grams.groupBy(id_col).agg(F.collect_set("g").alias("sh"))
    return _jaccard_from(gram_tbl, cand, id_col).filter(
        F.col("jaccard") >= threshold
    )


# --- SimHash -----------------------------------------------------------------

def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """``bits``-bit SimHash as a BIGINT: bit b = majority vote of bit b of
    md5(token) over the document's distinct tokens.

    Relational shape (same reasons as the MinHash rewrite): explode distinct
    tokens → ONE md5 → per-bit integer extraction ``(h >> b) & 1`` under a
    groupBy with ``bits`` sums — all whole-stage codegen, map-side combined.
    The integer signature makes downstream Hamming distance one
    ``bit_count(xor)`` instead of per-character string compares, and both
    expressions are bit-identical in the DuckDB oracle.
    """
    # plain explode: token-less docs get no signature either way (the
    # previous explode_outer + isNotNull filter was exactly equivalent
    # but read as if empty docs were meant to survive)
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(T.tokens(F.lower(F.col(text_col))))
        ).alias("t"),
    )
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("bigint")
    hashed = toks.select(F.col(id_col), h.alias("h"))
    # SQL-text expressions, one parser call each: the Column-API loop built
    # ~500 py4j round trips (~1 s of driver latency per plan build); the
    # parsed trees are identical, so plans and values don't move.
    aggs = [
        F.expr(f"sum(shiftright(h, {b}) & 1) AS s{b}") for b in range(bits)
    ] + [F.count(F.lit(1)).alias("n")]
    bitsums = hashed.groupBy(id_col).agg(*aggs)
    sig = " + ".join(
        f"(CASE WHEN s{b} * 2 >= n THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return bitsums.select(
        F.col(id_col), F.expr(f"CAST(({sig}) AS BIGINT) AS simhash")
    )


def simhash_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32) -> DataFrame:
    """Documents sharing an identical simhash signature (near-dup buckets)."""
    return (
        simhash(docs, id_col, text_col, bits)
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash **Hamming distance**, found at scale.

    Pigeonhole banding: the signature splits into ``bands`` equal slices; any
    pair within Hamming distance ``bands - 1`` (default: ≤3 for 4 bands)
    matches exactly on ≥1 slice, so candidates come from a band-bucket
    self-join — O(collisions), never all-pairs. The exact distance
    (``bit_count(xor)``) is then computed on candidates only. Band width =
    bits/bands is the skew knob: 8-bit bands (256 values) keep buckets small
    where 4-bit bands collapse a 5000-doc corpus into ~300-doc buckets.
    (The exact-signature grouping in ``simhash_dup_groups`` is the distance-0
    special case; this is the real near-dup pass.)
    """
    sig = simhash(docs, id_col, text_col, bits)
    return hash_near_pairs(
        sig, "simhash", id_col=id_col, bits=bits, bands=bands,
        max_hamming=max_hamming,
    )


# --- Embedding near-dup ------------------------------------------------------

def embedding_dup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_bits: int = 6,
) -> DataFrame:
    """Cosine-similar pairs above threshold — LSH-bucketed (the scale path).

    Candidates come from hyperplane-LSH bucket collisions
    (similarity.lsh_buckets): the self-join key is (table, bucket), so the
    work is O(collisions), never O(n²). The candidate shuffle carries only id
    pairs; vectors are joined back afterwards for the exact cosine verify.
    Recall is tunable via (n_tables, n_bits) — more tables → higher recall,
    fewer bits → bigger buckets. For an exact (oracle-checkable) answer use
    ``embedding_dup_pairs_exact``."""
    from . import similarity

    bk = similarity.lsh_buckets(
        emb, dim, n_tables, n_bits, id_col, vec_col, include_vec=False
    )
    a = bk.select(F.col(id_col).alias("id_a"), "table", "bucket")
    b = bk.select(F.col(id_col).alias("id_b"), "table", "bucket")
    # SHUFFLE_HASH on the self-join: the two sides are the same bucket
    # table, so a shuffle join lets ReuseExchange compute the (Python-
    # boundary) bucket assignment ONCE and read it from one exchange —
    # the default plan broadcast-built one side, which re-ran the
    # mapInPandas pass per side AND shipped the whole bucketed corpus to
    # every executor (impossible at 100 TB, where the bucket table is
    # corpus-sized; the per-partition hash build is the scale-safe form).
    cand = (
        a.hint("shuffle_hash")
        .join(b.hint("shuffle_hash"), ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # The exact-cosine verify below is CPU-bound PER ROW (a dim-wide fold
    # per candidate), but AQE coalesces the dedup exchange by BYTES —
    # measured at sf0.1: 252k id-pairs ≈ 2 MB → 2 post-AQE partitions, so
    # the verify ran on 2 of 32 cores (0.86 s of a 1.6 s query). A numbered
    # repartition on the SAME keys BEFORE the distinct becomes the
    # aggregation's own exchange (same single shuffle — the distinct reuses
    # the partitioning) but is exempt from AQE coalescing, so the verify
    # keeps the parallelism without adding a shuffle at any scale. (Placed
    # after distinct it is elided entirely: the planner sees the
    # partitioning already satisfied, and AQE re-coalesces.)
    par = emb.sparkSession.sparkContext.defaultParallelism
    cand = cand.repartition(par, "id_a", "id_b").distinct()
    # Norms are computed ONCE PER VECTOR on the join-back tables, not per
    # candidate pair — cosine folds are the verify stage's whole cost, and
    # each pair was paying 2 norm folds it shares with every other pair of
    # the same vector. dot/(na·nb) is the IDENTICAL double arithmetic
    # (norm per vector is deterministic), so oracle hashes don't move.
    va = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        V.norm(vec_col).alias("__na"),
    )
    vb = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        V.norm(vec_col).alias("__nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                V.dot("va", "vb")
                / (F.col("__na") * F.col("__nb"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_dup_pairs_exact(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact O(n²) cosine pairs — the correctness baseline / oracle target.

    Fine for dim-sized inputs only; at scale use ``embedding_dup_pairs``.

    The probe side is spread across the cluster first: the broadcast
    nested-loop streams the LEFT side, and a compact embeddings file
    otherwise arrives as ONE scan split — turning the all-pairs loop
    single-threaded (observed 72 s → ~3 s at sf0.1 on local[32]).
    """
    par = emb.sparkSession.sparkContext.defaultParallelism
    a = emb.repartition(par).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        V.norm(vec_col).alias("__na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        V.norm(vec_col).alias("__nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        (
            V.dot("va", "vb") / (F.col("__na") * F.col("__nb"))
        ).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def semantic_dedup_survivors(
    emb: DataFrame,
    threshold: float = 0.4,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-shaped semantic dedup: cluster the embedding space with the
    IVF coarse quantizer, then drop every vector that has a lower-id
    neighbor with cosine ≥ ``threshold`` INSIDE its own cluster. Returns
    the survivors as (id, list_id).

    This is the scale answer to exact embedding dedup: the all-pairs
    comparison runs per cluster, so cost is Σ|list|² instead of n² — at
    corpus scale ``n_lists`` grows with n (SemDeDup uses ~10⁵ clusters for
    web-scale corpora) keeping each list bounded, and the self-join
    shuffles on list_id, never broadcasting the corpus. Misses only
    cross-cluster near-dups (pairs straddling a quantizer boundary) — the
    accepted recall trade of the published method.

    Deterministic end to end (md5-seeded centroids, rounded cid-tie-broken
    assignment — same contract as similarity.ivf_topk) → SQL-replayable.
    """
    from ..functions import vectors as V
    from . import similarity as S

    cents = S._ivf_centroids(emb, n_lists, id_col, vec_col).withColumn(
        "__ncv", V.norm("cv")
    )
    # vector/centroid norms fold once per ROW, not once per (vector,
    # centroid) or per within-cluster pair — same double arithmetic as the
    # per-pair form, so assignments, survivors, and oracle hashes are
    # unchanged while the quadratic stages shed the repeated norm folds
    embn = emb.select(
        F.col(id_col), F.col(vec_col), V.norm(vec_col).alias("__nv")
    )
    scored = embn.join(F.broadcast(cents))
    assign = (
        scored.select(
            F.col(id_col),
            F.col("cid"),
            F.round(
                -(V.dot(vec_col, "cv")
                  / (F.col("__nv") * F.col("__ncv"))), 6
            ).alias("d"),
        )
        .groupBy(id_col)
        .agg(F.min(F.struct("d", "cid"))["cid"].alias("list_id"))
        .join(embn, id_col)
    )
    a = assign.select(
        F.col(id_col).alias("id_a"), F.col("list_id"),
        F.col(vec_col).alias("va"), F.col("__nv").alias("__na"),
    )
    b = assign.select(
        F.col(id_col).alias("id_b"), F.col("list_id"),
        F.col(vec_col).alias("vb"), F.col("__nv").alias("__nb"),
    )
    dropped = (
        a.join(b, "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            V.dot("va", "vb")
            / (F.col("__na") * F.col("__nb")) >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assign.join(dropped, id_col, "left_anti").select(id_col, "list_id")


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT directed containment pairs: ``|A∩B| / |A| >= threshold`` over
    distinct character n-grams → (id_contained, id_container, containment).

    Jaccard misses the quote/subset case — a paragraph lifted into a much
    longer document scores low symmetric similarity but ~1.0 containment;
    this is the dedup flavor that catches embedded copies and boilerplate
    wrappers. Asymmetric prefix filter: only the CONTAINED side restricts
    to its ``|A| − ⌈t·|A|⌉ + 1`` globally-rarest grams (if containment ≥ t
    then B covers all but < that many of A's grams, so at least one prefix
    gram is shared); the container side keeps full postings — no length
    upper bound exists for containers, but the df-ascending prefix order
    steers the join toward the SHORT posting lists. The only length prune
    is ``|B| ≥ t·|A|``. Verify is one ``array_intersect`` per candidate
    pair, exactly like ngram_jaccard_pairs.
    """
    from ..functions.text import char_ngrams

    grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(char_ngrams(F.col(text_col), n))).alias("g"),
    )
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("sz"))
    gdf = grams.groupBy("g").agg(F.count("*").alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "g")
    prefix = (
        grams.join(gdf, "g")
        .withColumn("__rn", F.row_number().over(w))
        .join(sizes, id_col)
        .filter(
            F.col("__rn")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select(F.col(id_col).alias("id_a"), "g", F.col("sz").alias("sza"))
    )
    full_b = grams.join(sizes, id_col).select(
        F.col(id_col).alias("id_b"), "g", F.col("sz").alias("szb")
    )
    cand = (
        prefix.join(full_b, "g")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("szb") >= F.lit(threshold) * F.col("sza"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    gram_tbl = grams.groupBy(id_col).agg(F.collect_set("g").alias("__gs"))
    ga = gram_tbl.select(F.col(id_col).alias("id_a"), F.col("__gs").alias("__ga"))
    gb = gram_tbl.select(F.col(id_col).alias("id_b"), F.col("__gs").alias("__gb"))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            F.col("id_a").alias("id_contained"),
            F.col("id_b").alias("id_container"),
            H.quantize(
                F.size(F.array_intersect("__ga", "__gb")) / F.size("__ga"), 4
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def hash_near_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int | None = None,
) -> DataFrame:
    """Generic integer-signature Hamming near-dup pairs — the banding core
    of ``simhash_near_pairs`` exposed for ANY precomputed ``bits``-wide
    hash column (SimHash, image dHash/pHash, audio fingerprints):
    pigeonhole on ``bands`` slices (any pair within Hamming ``bands-1``
    matches ≥1 slice exactly), candidates from the band-bucket equi-join,
    ``bit_count(xor)`` verify. O(collisions), never all-pairs.

    The banded table is locally checkpointed (lazy) before the self-join:
    ``df`` is typically an expensive signature plan (the corpus-wide
    SimHash tokenize + 32-sum groupBy, a per-image dHash decode), and
    without sharing, each join side re-runs it (measured 1.24 s → 0.99 s
    at sf0.1 for simhash_near_pairs; the banded rows are just bands×n
    (id, sig, bucket) longs — the same bytes the join shuffle
    materializes). ``localCheckpoint`` rather than ``persist``: a fresh
    RDD per CALL, freed by the ContextCleaner on GC — a persist() entry
    is keyed on the canonicalized plan in the session CacheManager and
    silently serves REPEAT invocations over the same input from cache (a
    warm benchmark then stops measuring the signature pass entirely) and
    leaks one entry per distinct input until session end.

    The self-join takes one of two forms; both emit the identical pair
    set, only the exchanges differ. The form is salted when ``bands ×``
    Catalyst's size estimate of the base relations feeding the signature
    plan (``_planstats.input_size_bytes`` — storage-grounded, unlike the
    EiB-garbage propagated estimates of aggregate subtrees) exceeds the
    session's autoBroadcastJoinThreshold — the same line past which the
    planner itself would stop broadcasting — else broadcast. The input
    bytes overestimate the banded table (text ≫ signature rows), so the
    switch errs toward the scale-safe form, and an unknown size (the
    estimate failed) picks salted too.

    - broadcast (the small-scale form): unhinted join; the planner
      broadcasts one banded side. Right while the banded table fits in a
      broadcast, because simhash-style band buckets are HEAVILY skewed —
      the majority-vote bits cluster, so one hot bucket can hold a large
      corpus fraction, and a plain shuffle join puts every row of a hot
      bucket on ONE task (a single key AQE's skew-join split cannot break
      apart; measured 1.8 s → 6.0 s at sf0.1) while the broadcast build
      streams the hot bucket's probe side across ALL partitions.
    - salted (the 100 TB form — a corpus-sized banded table cannot
      broadcast): SHUFFLE_HASH join on ``(bucket, salt)`` where the
      probe side's salt is ``pmod(xxhash64(id), n)`` for ``n =
      defaultParallelism`` (deterministic — guide §2.5's retry-safety
      rule) and the build side is exploded ``n`` ways, so a hot bucket's
      pair generation spreads over ``n`` tasks instead of one. Cost:
      build-side shuffle bytes × ``n`` (rows are three longs).
    """
    if max_hamming is None:
        max_hamming = bands - 1
    width = bits // bands
    mask = (1 << width) - 1
    est = input_size_bytes(df)
    thr = broadcast_threshold_bytes(df.sparkSession)
    salted = est is None or est * bands > thr
    buckets = F.array(
        *[
            F.lit(b * (1 << width))
            + F.shiftright(F.col(hash_col), b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    long = share(df.select(
        F.col(id_col), F.col(hash_col).alias("__sig"), F.explode(buckets).alias("__bkt")
    ))
    a = long.select(
        F.col(id_col).alias("id_a"), F.col("__sig").alias("sig_a"), "__bkt"
    )
    b = long.select(
        F.col(id_col).alias("id_b"), F.col("__sig").alias("sig_b"), "__bkt"
    )
    if salted:
        k = df.sparkSession.sparkContext.defaultParallelism
        a = a.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col("id_a")), F.lit(k)).cast("int")
        )
        b = b.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
        )
        joined = a.hint("shuffle_hash").join(
            b.hint("shuffle_hash"), ["__bkt", "__salt"]
        )
    else:
        joined = a.join(b, ["__bkt"])
    cands = (
        joined
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return cands.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def ngram_novelty_scores(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document NOVELTY: the fraction of the doc's distinct word
    n-grams that appear in NO other document — the corpus-diversity
    signal (a distribution collapsing toward 0 means the corpus is
    recombining the same phrases; the self-BLEU-style audit run before
    accepting synthetic data into a mix).

    One explode to distinct (doc, shingle) pairs, one count-by-shingle
    with map-side combine, one join back on the shingle key, one
    per-doc aggregate — all shuffles keyed and partitionable; nothing
    is pairwise. Docs with < n tokens have no shingles → novelty NULL.
    """
    from ..functions import text as T

    sh = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(T.word_ngrams(F.col(text_col), n))
        ).alias("sh"),
    )
    counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("ndocs"))
    per = (
        sh.join(counts, "sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("ndocs") == 1).cast("long")).alias("n_unique"),
        )
    )
    return docs.select(id_col).join(per, id_col, "left").select(
        id_col,
        F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
        F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
        F.round(F.col("n_unique") / F.col("n_shingles"), 6).alias("novelty"),
    )


def exact_shingle_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
) -> DataFrame:
    """GROUND-TRUTH word-shingle Jaccard pairs — no banding, no prefix
    filter: every pair SHARING at least one shingle is scored exactly.
    This is the reference the probabilistic detectors are measured
    against (see the `minhash_recall_audit` query); a pair with
    Jaccard ≥ threshold > 0 must share a shingle, so the shingle-join
    candidate set is complete.

    Cost is O(Σ per-shingle pair collisions) — quadratic in the hottest
    shingle's document frequency, NOT in the corpus (the standard
    inverted-index set-similarity join). For corpora with very hot
    boilerplate shingles, prefer the df-capped n-gram or banded MinHash
    paths; this exists to be exhaustive, not cheap.
    """
    long = _shingle_long(docs, id_col, text_col, shingle_len)
    dist = long.distinct()
    sizes = dist.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = dist.select(F.col(id_col).alias("id_a"), "sh")
    b = dist.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, ["sh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    jac = (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)
