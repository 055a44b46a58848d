"""Data-quality constraint checking (expectations over landed tables).

A data lake needs gatekeeping between landing and consumption: declare
constraints (non-null, value range, membership, uniqueness, referential
integrity) and get back per-constraint violation counts plus the offending
rows. All checks for one table fuse into a single scan — each rule is a
boolean column, the summary is one aggregation over them — so validating a
100 TB table costs one pass regardless of how many rules it carries; only
the FK check adds a (left-anti, broadcast-eligible) join per referenced
table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Rule:
    """One named expectation: ``predicate`` must hold for every row."""

    name: str
    predicate: Column


def not_null(col: str) -> Rule:
    return Rule(f"{col}_not_null", F.col(col).isNotNull())


def in_range(col: str, lo, hi) -> Rule:
    return Rule(f"{col}_in_range", F.col(col).between(F.lit(lo), F.lit(hi)))


def in_set(col: str, values: list) -> Rule:
    return Rule(f"{col}_in_set", F.col(col).isin(values))


def check_rules(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Per-rule violation counts in ONE scan: every rule evaluates as a
    0/1 expression and a single aggregate sums them all (plus the row
    total) — no per-rule jobs. Returns (rule, n_violations, n_rows).

    NULL predicate results PASS (SQL CHECK-constraint semantics, and the
    same convention ``check_foreign_key`` documents): a NULL ``temp`` is
    not "out of range 0..100" — declare ``not_null`` explicitly to flag
    missing values, otherwise every NULL would double-count as a
    violation of each range/set/pattern rule on the column."""
    aggs = [
        F.sum(F.when(~r.predicate, 1).otherwise(0)).alias(r.name)
        for r in rules
    ]
    row = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    pairs = []
    for r in rules:
        pairs.extend([F.lit(r.name), F.col(r.name)])
    return row.select(
        F.explode(F.create_map(*pairs)).alias("rule", "n_violations"),
        F.col("__n").alias("n_rows"),
    )


def violating_rows(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """The offending rows, tagged with the sorted array of failed rule
    names — quarantine-table input. Narrow per-row expressions only.
    NULL predicate results pass, as in ``check_rules``."""
    failed = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(~r.predicate, F.lit(r.name))
                    for r in rules
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    return df.withColumn("failed_rules", failed).filter(
        F.size("failed_rules") > 0
    )


def check_foreign_key(
    df: DataFrame, col: str, ref: DataFrame, ref_col: str
) -> DataFrame:
    """Orphaned foreign-key rows: a left-anti join against the referenced
    key set (broadcast when the key projection fits, AQE decides). NULL
    keys are not orphans — SQL FK semantics, and what the NOT IN oracle
    computes; add a ``not_null`` rule separately if NULLs are violations."""
    keys = ref.select(F.col(ref_col).alias(col)).distinct()
    return df.filter(F.col(col).isNotNull()).join(keys, col, "left_anti")


NUMERIC_TYPES = frozenset(
    {"int", "bigint", "smallint", "tinyint", "double", "float"}
)


def _is_numeric(dtype: str) -> bool:
    """Exact base-type match. A prefix test would also catch ANSI interval
    dtypes (``interval day to second`` reports a dtype starting with "int"
    under some renderings) — those must not be cast to double."""
    return dtype in NUMERIC_TYPES or dtype.startswith("decimal(")


def profile_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-scan data profile: (column, n_rows, n_nulls, n_distinct, min_val,
    max_val) per column — the observability table every ingestion step
    should emit. ``min_val``/``max_val`` are doubles for numeric columns,
    NULL otherwise (cross-type min/max as strings would hash differently
    per engine's float formatting).

    ALL metrics for ALL columns ride ONE aggregate over ONE scan — the
    output pivot from the single stats row to per-column rows is an
    ``explode`` of a literal-sized array, not a second pass. n_distinct is
    exact (count_distinct expands to per-column partial dedup inside the
    same stage); at 100 TB swap ``approx_count_distinct`` into the same
    slot — the operator shape doesn't change.
    """
    if cols is None:
        cols = df.columns
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
        if _is_numeric(dtypes[c]):
            aggs.append(F.min(F.col(c)).cast("double").alias(f"__mn_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"__mx_{c}"))
    stats = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__nn_{c}")).alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                (
                    F.col(f"__mn_{c}")
                    if _is_numeric(dtypes[c])
                    else F.lit(None).cast("double")
                ).alias("min_val"),
                (
                    F.col(f"__mx_{c}")
                    if _is_numeric(dtypes[c])
                    else F.lit(None).cast("double")
                ).alias("max_val"),
            )
            for c in cols
        ]
    )
    return stats.select(F.explode(per_col).alias("p")).select("p.*")


def rolling_zscore_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tie_col: str,
    lookback: int = 20,
    min_history: int = 5,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-key rolling z-score outlier flags: each value scored against the
    mean/std of its OWN trailing ``lookback`` observations (current row
    excluded — the score tests the value against history, not against
    itself). Rows with fewer than ``min_history`` prior points or zero
    variance get a NULL score and no flag.

    Determinism across engines: the window sums accumulate as DECIMAL (fp
    addition is order-sensitive; decimals aren't), and variance comes from
    the sum/sum-of-squares identity on those exact sums — so Spark and a
    SQL replica produce bit-identical z-scores. One keyed sort-shuffle,
    same shape as every other window op here.
    """
    from pyspark.sql import Window

    from ..functions.hashing import quantize

    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col), F.col(tie_col))
        .rowsBetween(-lookback, -1)
    )
    v = F.col(value_col)
    n = F.count(v).over(w)
    s = F.sum(v.cast("decimal(28,10)")).over(w).cast("double")
    sq = F.sum((v * v).cast("decimal(28,10)")).over(w).cast("double")
    mean = s / n
    # n >= 2 guard inside var, not delegated to min_history: with
    # min_history <= 1 the (n-1) denominator would hit an ANSI
    # divide-by-zero abort on every key's second row
    var = F.when(
        n >= 2,
        F.greatest((sq - s * s / n) / (n - F.lit(1)), F.lit(0.0)),
    )
    z = F.when(
        (n >= min_history) & (var > 0), (v - mean) / F.sqrt(var)
    )
    zq = quantize(z, 4)
    return df.select(
        F.col(key_col),
        F.col(tie_col),
        F.col(value_col),
        zq.alias("zscore"),
        F.coalesce(F.abs(zq) > z_threshold, F.lit(False)).alias("is_anomaly"),
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier summary via median absolute deviation:
    for each group, the exact median, the MAD (median of |v − median|),
    and how many rows fall outside ``median ± k·MAD``. Unlike the z-score
    variant above, MAD is insensitive to the outliers it is hunting —
    the standard robust alternative when a fat tail would drag the mean.

    Three aggregation passes over the fact table (medians are holistic —
    no single-pass identity exists, and the outlier test needs the MAD
    before it can count), but ALL are per-group shuffles on the same key,
    and each pass joins the previous |groups|-row result by broadcast —
    the fact table never joins the fact table. Exact linear-interpolated
    percentiles (``percentile``, not the t-digest approx) keep the result
    engine-portable.
    """
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "__adev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = dev.groupBy(group_col).agg(
        F.first("med").alias("med"),
        F.expr("percentile(__adev, 0.5)").alias("mad"),
    )
    return (
        dev.drop("med")
        .join(F.broadcast(mad), group_col)
        .groupBy(group_col)
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum((F.col("__adev") > F.lit(k) * F.col("mad")).cast("int")).alias(
                "n_outliers"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def group_linear_trend(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    unit_ms: int = 3_600_000,
) -> DataFrame:
    """Per-group OLS line fit of ``value`` against time: (group, n, slope,
    intercept, r2) with time in ``unit_ms`` units since the group's first
    event — drift/trend detection as one aggregation (is this sensor
    drifting? is error rate climbing?), the regression twin of
    rolling_zscore_anomalies' level alarms.

    Everything reduces to the five classic sums (n, Σx, Σy, Σxy, Σx²), so
    the whole fit is ONE map-side-combined groupBy (plus a broadcast join
    of per-group epoch minimums that keeps x small and the x² sums inside
    double's 53-bit mantissa). No window, no per-row state; scales as a
    plain aggregation. Degenerate groups (n<2 or zero time variance)
    return NULL slope/intercept/r2 rather than dividing by zero.
    """
    x0 = df.groupBy(group_col).agg(F.min(F.unix_millis(F.col(ts_col))).alias("__x0"))
    base = df.join(F.broadcast(x0), group_col).select(
        F.col(group_col),
        (
            (F.unix_millis(F.col(ts_col)) - F.col("__x0"))
            / F.lit(float(unit_ms))
        ).alias("__x"),
        F.col(value_col).cast("double").alias("__y"),
    )
    s = base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    den = s["n"] * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.when(
        (s["n"] >= 2) & (den != 0),
        (s["n"] * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / den,
    )
    intercept = (F.col("__sy") - slope * F.col("__sx")) / s["n"]
    sst = s["n"] * F.col("__syy") - F.col("__sy") * F.col("__sy")
    ssr = s["n"] * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    r2 = F.when(
        (s["n"] >= 2) & (den != 0) & (sst != 0),
        (ssr * ssr) / (den * sst),
    )
    return s.select(
        group_col,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: list[str],
) -> DataFrame:
    """Keyed snapshot diff: one row per key present in either version,
    classified ``added`` / ``removed`` / ``changed`` / ``unchanged`` - the
    audit between two versions of a dataset (yesterday's lake vs today's,
    a manifest generation vs the next) that answers "what did this
    pipeline run actually do?".

    One full-outer join on the key; change detection compares md5 over an
    UNAMBIGUOUS row encoding computed per side BEFORE the join, so wide
    rows never cross the shuffle - only key + 32-byte digest do. Each
    column is length-prefixed (separator injection can't collide: 'a|b'
    in one column vs 'a','b' split across two encode differently) and
    NULL gets its own token distinct from any value — a bare concat_ws
    would SKIP NULLs and report ('x', NULL) -> (NULL, 'x') as unchanged.
    Aggregate with ``groupBy("status").count()`` for the one-line summary.
    """

    def _fp(df: DataFrame, out: str) -> DataFrame:
        enc = [
            F.coalesce(
                F.concat(
                    F.length(F.col(c).cast("string")),
                    F.lit(":"),
                    F.col(c).cast("string"),
                ),
                F.lit("␀"),
            )
            for c in compare_cols
        ]
        return df.select(
            F.col(key_col),
            F.md5(F.concat(*enc)).alias(out),
        )

    o = _fp(old, "__old_fp")
    n = _fp(new, "__new_fp")
    joined = o.join(n, key_col, "full_outer")
    status = (
        F.when(F.col("__old_fp").isNull(), F.lit("added"))
        .when(F.col("__new_fp").isNull(), F.lit("removed"))
        .when(F.col("__old_fp") != F.col("__new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(F.col(key_col), status.alias("status"))


def schema_diff(before: DataFrame, after: DataFrame) -> DataFrame:
    """Schema-drift report between two table versions: one row per column
    that was ADDED, REMOVED, or TYPE_CHANGED — the structural companion of
    the row-level ``table_diff`` (an upstream producer silently widening a
    column or dropping a field is the most common ingestion break).

    Pure metadata — nothing is scanned; the result is a small DataFrame so
    drift checks compose with the rest of a data-quality job (union with
    rule violations, alert on count > 0).
    """
    b, a = dict(before.dtypes), dict(after.dtypes)
    rows = []
    for c in sorted(set(b) | set(a)):
        if c not in a:
            rows.append((c, "REMOVED", b[c], None))
        elif c not in b:
            rows.append((c, "ADDED", None, a[c]))
        elif b[c] != a[c]:
            rows.append((c, "TYPE_CHANGED", b[c], a[c]))
    spark = before.sparkSession
    return spark.createDataFrame(
        rows, "column string, change string, before_type string, after_type string"
    )
