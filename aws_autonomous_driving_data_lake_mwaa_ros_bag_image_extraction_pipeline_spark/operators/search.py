"""Full-text relevance scoring (BM25) — corpus search without an index.

A training-data pipeline needs "find the documents about X" both for
curation (topical subsets) and for evaluation (retrieval baselines). For a
small literal query, BM25 needs no inverted index and no shuffle of term
rows:

1. narrow pass: per-doc length and one term-frequency per query term,
   computed as array expressions over the token array (the token split is
   let-bound, so the text is tokenized once per row no matter how many
   query terms);
2. one scalar aggregate: corpus size N, total token count, per-term
   document frequencies — a single row;
3. broadcast that row back and evaluate the BM25 polynomial per doc;
   top-k compiles to TakeOrderedAndProject (per-partition local top-k,
   k·partitions rows to the driver-side merge — no global sort).

The classic inverted-index formulation (explode → tf per (doc, term) →
join query) only wins when the query vocabulary is itself a table; for
literal queries the narrow pass reads less and shuffles nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import text as T
from ..functions.hashing import quantize
from ._caching import share


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    digits: int = 4,
) -> DataFrame:
    """Top-``k`` documents by BM25 against ``query_terms``
    (Robertson/Sparck-Jones idf with Lucene's +1 floor:
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``).

    Scores are quantized to ``digits`` decimals BEFORE ranking so the
    (score, id) order — and therefore the top-k set — is reproducible
    across engines that may differ in the last ulp of ``ln``.
    Returns (id_col, bm25) with bm25 descending, ties broken by id.
    """
    # SQL-text fast path (guide §7.3 — plan-construction latency): the
    # per-term tf/df/score expressions cost ~770 py4j round trips through
    # the Column API; as SQL strings each column is ONE parser round trip,
    # and the parsed trees mirror the Column forms (double literals
    # spelled ``0.5D``, same operator nesting), so values are unchanged
    # (oracle-gated). Terms outside a conservative literal alphabet fall
    # back to the Column path rather than risk an escaping bug.
    import re as _re

    sql_safe = all(
        isinstance(t, str) and _re.fullmatch(r"[A-Za-z0-9_\- .]+", t)
        for t in query_terms
    ) and all(
        _re.fullmatch(r"-?\d+(\.\d+)?", repr(float(v)))
        for v in (k1, b, 1 - b)
    )

    if sql_safe:
        tf_cols = [
            F.expr(f"size(filter(__toks, x -> x = '{t}')) AS __tf{i}")
            for i, t in enumerate(query_terms)
        ]
    else:
        def _tf(term: str):
            # closure, not a lambda default: a 2-arg lambda signature
            # would make PySpark pass the array *index* as the second arg
            # (HOF arity is inspected from the signature, defaults
            # included).
            return F.size(
                F.filter(F.col("__toks"), lambda x: x == F.lit(term))
            )

        tf_cols = [_tf(t).alias(f"__tf{i}") for i, t in enumerate(query_terms)]
    # NULL-text docs are excluded: they can't match any query term, but
    # left in they'd count toward N while contributing NULL to __sumdl,
    # deflating avgdl and shifting every real document's score.
    per_doc = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        T.tokens(F.lower(F.col(text_col))).alias("__toks"),
    ).select(
        F.col(id_col),
        F.size(F.col("__toks")).alias("__dl"),
        *tf_cols,
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__sumdl"),
        *[
            F.expr(f"SUM(CAST((__tf{i} > 0) AS BIGINT)) AS __df{i}")
            if sql_safe
            else F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(query_terms))
        ],
    )
    # sum/count (not avg) so both engines derive avgdl from the same exact
    # integer operands.
    if sql_safe:
        norm_s = (
            f"({k1!r}D * ({(1 - b)!r}D + (({b!r}D * __dl)"
            " / (CAST(__sumdl AS DOUBLE) / __n))))"
        )
        parts = [
            f"((ln(1.0D + (((__n - __df{i}) + 0.5D) / (__df{i} + 0.5D)))"
            f" * __tf{i}) / (__tf{i} + {norm_s}))"
            for i in range(len(query_terms))
        ]
        score = F.expr("(" + " + ".join(parts) + ")")
    else:
        avgdl = F.col("__sumdl").cast("double") / F.col("__n")
        norm = F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("__dl") / avgdl)
        score = None
        for i in range(len(query_terms)):
            idf = F.log(
                F.lit(1.0)
                + (F.col("__n") - F.col(f"__df{i}") + F.lit(0.5))
                / (F.col(f"__df{i}") + F.lit(0.5))
            )
            part = idf * F.col(f"__tf{i}") / (F.col(f"__tf{i}") + norm)
            score = part if score is None else score + part
    return (
        per_doc.join(F.broadcast(stats))
        .select(F.col(id_col), quantize(score, digits).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_df_frac: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    digits: int = 4,
) -> DataFrame:
    """Sparse lexical similarity: document pairs with TF-IDF cosine ≥
    ``threshold`` via an inverted-index self-join — the term-space
    complement of the dense-embedding near-dup paths.

    Scale levers, in order: terms with document frequency above
    ``max_df_frac·N`` are DROPPED before the join (a stopword-grade term
    contributes ~zero idf weight but quadratic posting-list pairs — this
    is the pruning that keeps the self-join O(collisions)); the join keys
    on the term so co-occurring docs meet on one shuffle; dot products
    accumulate as DECIMAL so the sum is shuffle-order independent and the
    quantized cosine is bit-stable across engines.

    The pruned weight table is locally checkpointed (lazy): it feeds
    THREE consumers (the norm agg and both self-join sides), and without
    sharing each would re-run the corpus tokenize + two groupBys
    (measured 1.33 s → 0.99 s at sf0.1 — the same multi-consumer
    contract as minhash_dedup_pairs's candidate set).
    ``localCheckpoint`` rather than ``persist``: one fresh RDD per CALL,
    freed on GC — a persist() entry lives in the session CacheManager
    keyed on the canonicalized plan, silently serving repeat invocations
    over the same input from cache and stacking one entry per distinct
    input until session end.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    tf = toks.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n"))
    weights = (
        tf.join(df_t, "w")
        .join(F.broadcast(n_docs))
        .filter(F.col("df") <= F.lit(max_df_frac) * F.col("n"))
        .select(
            F.col(id_col),
            F.col("w"),
            (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("wt"),
        )
    )
    weights = share(weights)
    norms = weights.groupBy(id_col).agg(
        F.sqrt(
            F.sum((F.col("wt") * F.col("wt")).cast("decimal(28,10)")).cast(
                "double"
            )
        ).alias("nrm")
    )
    a = weights.select(
        F.col(id_col).alias("id_a"), "w", F.col("wt").alias("wa")
    )
    b = weights.select(
        F.col(id_col).alias("id_b"), "w", F.col("wt").alias("wb")
    )
    dots = (
        a.join(b, "w")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(28,10)"))
            .cast("double")
            .alias("dot")
        )
    )
    cos = quantize(
        F.col("dot")
        / (F.col("na.nrm") * F.col("nb.nrm")),
        digits,
    )
    return (
        dots.join(norms.alias("na"), dots["id_a"] == F.col(f"na.{id_col}"))
        .join(norms.alias("nb"), dots["id_b"] == F.col(f"nb.{id_col}"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
