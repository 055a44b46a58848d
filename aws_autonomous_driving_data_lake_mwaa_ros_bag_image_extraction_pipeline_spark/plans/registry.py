"""Query registry: every supported query as (spark_fn, oracle_sql).

Each entry is one operator/capability from SURVEY §2 (or a north-star
extension) expressed twice: as an idiomatic PySpark plan and as ANSI SQL the
DuckDB oracle can run on the same parquet tables. Column names and value
semantics are aligned so the driver's order-insensitive value-hash matches.

Numeric-determinism rules used throughout (both sides identically):
- sums/avgs of money-ish doubles go through DECIMAL(18,6) so accumulation is
  exact and engine-order-independent, then cast back to DOUBLE;
- min/max/stored values are compared raw (bit-identical in both engines);
- genuinely real-valued outputs (cosines, ratios) are rounded to 4-6 digits,
  far above both engines' accumulated fp error.
"""

from __future__ import annotations

import functools

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T
from ..functions import vectors as V
from ..operators import asof as asof_op
from ..operators import curation, dedup, frames, sessionize, similarity, textstats


# Per-session memo of table-scan PLANS (never data): (session id, dir,
# table, file fingerprint) → DataFrame. A DataFrame here is only a logical
# plan handle — every action still reads the parquet bytes — but building
# it costs a file listing + footer schema read + ~10 py4j round trips
# (~120 ms per table per query on the bench driver; a multi-minute listing
# on a heavily partitioned lake, which is why the guide caches listings).
# The fingerprint (name, mtime_ns, size per file — `_footer_fingerprint`)
# invalidates the entry whenever the table is rewritten or appended, so a
# long-lived session never serves a stale schema or file set; keying on
# the session object keeps entries from crossing sessions.
_TABLE_PLANS: dict[tuple, DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table; normalize timestamp physical types.

    The driver's parquet has stored timestamps two ways across rounds:

    - TIMESTAMP(NANOS): Spark 4 reads it only as a ns-epoch LONG
      (``spark.sql.legacy.parquet.nanosAsLong``, set both here — the conf is
      runtime-settable — and in session.get_spark); we truncate ns→µs exactly
      like DuckDB's native TIMESTAMP_NS→TIMESTAMP read. Integer `div` keeps
      full precision (ns epochs overflow double's 53-bit mantissa).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers TIMESTAMP_NTZ,
      which ``unix_millis``/``unix_timestamp`` reject. Cast NTZ → session-tz
      TIMESTAMP; under the UTC session zone pinned below the instant values
      equal DuckDB's naive read, so oracles still hash-match.
    """
    # Both confs are runtime-settable; pin them here so the queries behave
    # identically under the driver's own (vanilla) SparkSession, not just
    # under session.get_spark: UTC keeps collected timestamps aligned with
    # DuckDB's naive reads on any host.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    key = (spark, sf_dir, name, _footer_fingerprint(path))
    cached = _TABLE_PLANS.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _TABLE_PLANS[key] = df
    return df


# Multi-consumer share: lazy localCheckpoint, upgraded to a reliable
# checkpoint automatically when the session has a checkpoint dir.
from ..operators._caching import share as _share_ckpt  # noqa: E402

# Per-session memo of a table's SCAN SPLIT COUNT (see _spread_docs): keyed
# like _TABLE_PLANS so a rewritten/appended table re-measures.
_SCAN_SPLITS: dict[tuple, int] = {}


def _spread_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``documents`` scan for the CPU-bound text detectors: hash-
    repartitioned on ``doc_id`` to ``defaultParallelism`` when the table's
    MEASURED scan layout underfills the cluster (fewer scan splits than
    cores — a compact single-file table arrives as ONE split, and every
    tokenize/hash pass would run single-threaded), else the plain scan (a
    lake-scale table already has thousands of splits, where the exchange
    would be a pure full-corpus shuffle).

    This is the engine's one fan-out decision for the text queries:
    operators never repartition their input for parallelism. The split
    count comes from the planned scan's own partitioning
    (``rdd().getNumPartitions()`` — driver-side file-split arithmetic, no
    job, no data read) and is memoized per file fingerprint like the table
    plan itself."""
    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    path = f"{sf_dir}/documents.parquet"
    key = (spark, sf_dir, "documents", _footer_fingerprint(path))
    n = _SCAN_SPLITS.get(key)
    if n is None:
        n = docs._jdf.rdd().getNumPartitions()
        _SCAN_SPLITS[key] = n
    return docs.repartition(par, F.col("doc_id")) if n < par else docs


def dsum(col, alias):
    """Exact (decimal-accumulated) sum of a double column, output DOUBLE.

    ``col`` may be a Column or a SQL-text fragment (see ``fsum`` — one
    parser round trip instead of per-operator py4j calls; identical parsed
    tree, identical values)."""
    if isinstance(col, str):
        return _dsum_expr(col).alias(alias)
    return F.sum(col.cast("decimal(18,6)")).cast("double").alias(alias)


def davg(col, alias):
    if isinstance(col, str):
        return _davg_expr(col).alias(alias)
    return (
        F.sum(col.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))
    ).alias(alias)


@functools.lru_cache(maxsize=256)
def _dsum_expr(x: str):
    return F.expr(f"CAST(SUM(CAST(({x}) AS DECIMAL(18,6))) AS DOUBLE)")


@functools.lru_cache(maxsize=256)
def _davg_expr(x: str):
    return F.expr(
        f"CAST(SUM(CAST(({x}) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(1)"
    )


def _fx_long(col):
    """Per-row fixed-point scaling: round(x·10⁶) as LONG, exactly equal to
    the unscaled long of ``CAST(x AS DECIMAL(18,6))`` on EVERY input.

    Plain ``round(x·1e6)`` is NOT that: the double 4.0000005 prints as
    "4.0000005" and HALF_UPs to 4000001 under the decimal cast, but
    4.0000005·10⁶ in double arithmetic lands just below .5 and rounds
    DOWN — a silent 1e-6 divergence on 7th-decimal half-way values.
    Routing every row through the decimal cast fixes that but costs ~1.5×
    on the flagship agg, so: take the fast double path everywhere EXCEPT
    the narrow band around .5 where the two can disagree, and evaluate
    the decimal cast only there. The band is |frac−.5| <
    max(1e-6, |y|·1e-13): the multiply + shortest-repr error is bounded
    by |y|·2.3e-16 (≤0.5 ulp each), so the relative term covers it with
    ~400× margin at any magnitude (above |x|≈5·10⁶ every row takes the
    decimal branch — far past where the long carrier budget ends anyway),
    while at money-like magnitudes the band admits ~0.001% of rows, so
    the hot loop stays double-multiply + long addition."""
    y = col * 1000000
    frac = y - F.floor(y)
    danger = F.abs(frac - 0.5) < F.greatest(F.lit(1e-6), F.abs(y) * 1e-13)
    # fast path: sign-aware floor(|y|+.5) — pure double ops + a long
    # negate, no BigDecimal (F.round on doubles goes through
    # BigDecimal.valueOf per ROW — as expensive as the decimal cast
    # itself). Outside the band it provably equals decimal HALF_UP.
    fast = F.when(y >= 0, F.floor(y + 0.5)).otherwise(-F.floor(0.5 - y))
    return F.when(
        danger, (col.cast("decimal(18,6)") * 1000000).cast("long")
    ).otherwise(fast)


def _fx_out(s):
    """Exact long partial-sum S → the same DOUBLE the decimal path emits:
    route through DECIMAL so the double conversion is correctly rounded
    from the exact rational S/10⁶ (a bare long→double cast loses bits past
    2⁵³ and can double-round one ulp off the oracle)."""
    return (s.cast("decimal(24,0)") / 1000000).cast("double")


def fsum(col, alias):
    """dsum's fast twin: order-independent EXACT sum on a fixed-point LONG
    carrier instead of a DECIMAL accumulator. Same value bit-for-bit (the
    per-row 6-decimal rounding is identical — see ``_fx_long`` — and the
    final double is correctly rounded from the exact sum), but the hot
    aggregation loop is plain long addition in whole-stage codegen instead
    of Decimal object arithmetic (~4-5× on the flagship). Valid while
    Σ|x|·10⁶ < 2⁶³ (~9.2·10¹² in column units here — raise to dsum when a
    column's magnitude × row count approaches that; overflow is loud under
    ANSI mode, silent wraparound otherwise, so budget it deliberately).

    ``col`` as a SQL-text fragment takes the memoized one-parse fast path:
    the Column form of the carrier is ~15 operator constructions (≈10² py4j
    round trips) PER AGGREGATE, measured as the dominant plan-build cost of
    the relational headliners. The SQL string mirrors the Column tree
    token-for-token (double literals spelled ``0.5D``/``1E-6``, int
    literals bare, same operator order), so parsed trees — and values —
    are identical; the oracle hash gate pins that."""
    if isinstance(col, str):
        return _fx_sum_expr(col).alias(alias)
    return _fx_out(F.sum(_fx_long(col))).alias(alias)


def favg(col, alias):
    if isinstance(col, str):
        return _fx_avg_expr(col).alias(alias)
    return (_fx_out(F.sum(_fx_long(col))) / F.count(F.lit(1))).alias(alias)


def _fx_long_sql(x: str) -> str:
    """SQL-text twin of ``_fx_long`` — see ``fsum``. Each sub-expression is
    spelled exactly as the Column API builds it (same literal types, same
    nesting), so the parser returns the identical tree."""
    y = f"({x}) * 1000000"
    frac = f"({y}) - floor({y})"
    danger = f"abs(({frac}) - 0.5D) < greatest(1E-6, abs({y}) * 1E-13)"
    dec = f"CAST(CAST(({x}) AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
    fast = (
        f"CASE WHEN ({y}) >= 0 THEN floor(({y}) + 0.5D) "
        f"ELSE -floor(0.5D - ({y})) END"
    )
    return f"CASE WHEN {danger} THEN {dec} ELSE {fast} END"


@functools.lru_cache(maxsize=256)
def _fx_sum_expr(x: str):
    return F.expr(
        f"CAST(CAST(SUM({_fx_long_sql(x)}) AS DECIMAL(24,0)) / 1000000"
        " AS DOUBLE)"
    )


@functools.lru_cache(maxsize=256)
def _fx_avg_expr(x: str):
    return F.expr(
        f"CAST(CAST(SUM({_fx_long_sql(x)}) AS DECIMAL(24,0)) / 1000000"
        " AS DOUBLE) / COUNT(1)"
    )


# Margin required before trusting the long carrier: the bound below is
# already worst-case (every row at the column max), so 8x absorbs only
# what the bound can't see — appended data between the footer read and the
# job, and derived-column bound slack.
FSUM_HEADROOM = 8.0


def _footer_fingerprint(path: str) -> tuple | None:
    """(name, mtime_ns, size) per parquet file — the lru_cache key
    component that invalidates ``_footer_stats`` when a file is rewritten
    or appended in a long-lived session (a stale cached row count would
    otherwise erode ``gsum``'s 8x headroom silently). Metadata-only: one
    stat() per file, no data IO. None when the path can't be statted (the
    cached body degrades to (None, {}) for those anyway)."""
    import os as _os

    try:
        if _os.path.isdir(path):
            files = sorted(
                _os.path.join(path, f)
                for f in _os.listdir(path)
                if f.endswith(".parquet")
            )
        else:
            files = [path]
        return tuple(
            (f, st.st_mtime_ns, st.st_size)
            for f in files
            for st in (_os.stat(f),)
        )
    except OSError:
        return None


def _footer_stats(path: str) -> tuple[int | None, dict]:
    """Row count and per-column max |value| from parquet FOOTER statistics
    only — zero data IO (a file's footer is a few KB; at lake scale the
    same numbers come from the table's zone maps / manifest, so the guard
    stays metadata-priced no matter the data volume). Accepts a single
    file or a directory of part files. Returns ``(None, {})`` when the
    footer is unreadable; a column missing min/max in ANY row group is
    dropped from the dict (no provable bound → no long carrier). Cached
    per (path, file mtimes+sizes): a rewritten/appended table re-reads
    its footers instead of serving stale bounds."""
    return _footer_stats_cached(path, _footer_fingerprint(path))


@functools.lru_cache(maxsize=128)
def _footer_stats_cached(
    path: str, _fingerprint: tuple | None
) -> tuple[int | None, dict]:
    import os as _os

    try:
        import pyarrow.parquet as pq

        if _os.path.isdir(path):
            files = sorted(
                _os.path.join(path, f)
                for f in _os.listdir(path)
                if f.endswith(".parquet")
            )
        else:
            files = [path]
        n = 0
        max_abs: dict[str, float] = {}
        unusable: set[str] = set()
        for f in files:
            md = pq.ParquetFile(f).metadata
            n += md.num_rows
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for i in range(row.num_columns):
                    c = row.column(i)
                    name = c.path_in_schema
                    st = c.statistics
                    if st is None or not st.has_min_max:
                        unusable.add(name)
                        continue
                    try:
                        m = max(abs(float(st.min)), abs(float(st.max)))
                    except (TypeError, ValueError):  # non-numeric column
                        unusable.add(name)
                        continue
                    max_abs[name] = max(max_abs.get(name, 0.0), m)
        for name in unusable:
            max_abs.pop(name, None)
        return n, max_abs
    except Exception:  # noqa: BLE001 — guard must degrade, never abort
        return None, {}


def long_carrier_ok(n_rows: int | None, max_abs: float | None) -> bool:
    """True when ``n_rows`` rows of magnitude <= ``max_abs`` provably fit
    fsum's fixed-point long carrier with ``FSUM_HEADROOM``x margin:
    Σ|x|·10⁶ <= n·(max_abs·10⁶ + 1) — the +1 covers each row's
    round-to-nearest — must clear 2⁶³ by the headroom factor. Unknown
    stats → False (the guard only ever downgrades to the decimal path)."""
    if n_rows is None or max_abs is None:
        return False
    return n_rows * (max_abs * 1e6 + 1.0) * FSUM_HEADROOM < float(2**63)


def gsum(col, alias, *, n_rows, max_abs):
    """Guarded exact sum — the auto-carrier pick fsum's docstring budgets
    by hand: the fixed-point LONG carrier (fsum, ~4-5x faster per row)
    when footer stats PROVE Σ|x|·10⁶ can't overflow 2⁶³, the DECIMAL
    accumulator (dsum) otherwise. Same value either way. The guard can
    never produce a WRONG VALUE: stats are read when the plan is built
    (``_footer_stats`` re-reads on any file mtime/size change), and if
    the data still outgrows the proven bound plus its 8x headroom between
    plan build and execution, the failure mode is a loud ANSI overflow
    abort — never a silent wraparound. Pass ``max_abs`` as a bound on the
    SUMMED expression (for a derived column, compose bounds from the
    inputs' footer stats)."""
    if long_carrier_ok(n_rows, max_abs):
        return fsum(col, alias)
    return dsum(col, alias)


def gavg(col, alias, *, n_rows, max_abs):
    """favg/davg with gsum's carrier guard."""
    if long_carrier_ok(n_rows, max_abs):
        return favg(col, alias)
    return davg(col, alias)


SQL_DSUM = "CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS DOUBLE)"
SQL_DAVG = "CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)"


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible, rows-only check
    headline: bool = False  # included in bench.py


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, headline: bool = False):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Relational core (SURVEY §2 S/P/A/K operators mapped onto the driver tables)
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           {dsum_qty} AS sum_qty,
           {dsum_price} AS sum_base_price,
           {dsum_disc} AS sum_disc_price,
           {davg_qty} AS avg_qty,
           {davg_disc} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-01'
    GROUP BY l_returnflag, l_linestatus
    """.format(
        dsum_qty=SQL_DSUM.format(x="l_quantity"),
        dsum_price=SQL_DSUM.format(x="l_extendedprice"),
        dsum_disc=SQL_DSUM.format(x="CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"),
        davg_qty=SQL_DAVG.format(x="l_quantity"),
        davg_disc=SQL_DAVG.format(x="l_discount"),
    ),
    headline=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary (scan→filter→agg; the shape
    of the reference's per-frame aggregation A1/A2 on relational data).
    Partial aggregation makes the shuffle 4 rows wide — scale-invariant.
    Sums ride the fixed-point LONG carrier (``fsum``) whenever the parquet
    footer stats PROVE the carrier can't overflow (``gsum`` — metadata-only
    check, see ``_footer_stats``/``long_carrier_ok``), falling back to the
    decimal accumulator past the budget: identical values either way (the
    per-row rounding parity is verified column-by-column in tests), but on
    any realistic magnitude the per-row aggregation is codegen long
    addition — the flagship's cost is the scan + 4 exact sums, nothing
    else."""
    li = _t(spark, sf_dir, "lineitem")
    n, mx = _footer_stats(f"{sf_dir}/lineitem.parquet")
    qty_mx = mx.get("l_quantity")
    ep_mx = mx.get("l_extendedprice")
    disc_mx = mx.get("l_discount")
    # bound for the derived column ep*(1-disc): |ep|·(1+|disc|) covers any
    # discount sign convention
    dp_mx = (
        None if ep_mx is None or disc_mx is None else ep_mx * (1 + disc_mx)
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            gsum("l_quantity", "sum_qty", n_rows=n, max_abs=qty_mx),
            gsum("l_extendedprice", "sum_base_price", n_rows=n, max_abs=ep_mx),
            gsum("l_extendedprice * (1 - l_discount)", "sum_disc_price", n_rows=n, max_abs=dp_mx),
            gavg("l_quantity", "avg_qty", n_rows=n, max_abs=qty_mx),
            gavg("l_discount", "avg_disc", n_rows=n, max_abs=disc_mx),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "discovery_anti_join",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def discovery_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: tag-based anti-semi filter re-expressed — entities with no
    matching state row. No broadcast hint: here the exclusion side is a fact
    table, so the strategy is AQE's call (a real manifest is dim-sized and
    discovery.discover_new hints it explicitly)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
        "left_anti",
    ).select("c_custkey", "c_name")


@register(
    "first_match_pick",
    "SELECT o_orderkey, o_custkey, o_orderdate FROM orders ORDER BY o_orderkey LIMIT 1",
)
def first_match_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: deterministic first-match (sensor takes key_matches[0])."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(1)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )


@register("distinct_types", "SELECT DISTINCT event_type FROM events")
def distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: distinct-topic discovery."""
    return _t(spark, sf_dir, "events").select("event_type").distinct()


@register(
    "json_flatten",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/S9: dynamic payload flatten — JSON path extraction + agg."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k_val")
        )
        .groupBy("k_val")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "regex_parse",
    """
    SELECT CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INTEGER) AS brand_num,
           COUNT(*) AS n, {s} AS total_price
    FROM part GROUP BY 1
    """.format(s=SQL_DSUM.format(x="p_retailprice")),
)
def regex_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P7: regex identity extraction (camera/index parse analog)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select(
            F.regexp_extract("p_brand", r"#(\d+)", 1).cast("int").alias("brand_num"),
            "p_retailprice",
        )
        .groupBy("brand_num")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("p_retailprice"), "total_price"),
        )
    )


@register(
    "time_derivation",
    """
    SELECT event_id,
           make_timestamp((epoch_ms(ts) + event_id * 67) * 1000) AS derived_ts
    FROM events WHERE event_id < 1000
    """,
)
def time_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: frame-time derivation — base time + index × 67 ms
    (processing.py:218-221), as pure column arithmetic."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return ev.select(
        "event_id",
        frames.frame_time(F.col("ts"), F.col("event_id")).alias("derived_ts"),
    )


@register(
    "agg_counts_by_type",
    """
    SELECT event_type, COUNT(*) AS n_events,
           {s} AS total_value,
           MAX(value) AS max_value, MIN(value) AS min_value
    FROM events GROUP BY event_type
    """.format(s=SQL_DSUM.format(x="value")),
)
def agg_counts_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3: grouped counters."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "total_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_max_value",
    """
    SELECT user_id,
           MAX(value) FILTER (event_type = 'click') AS click,
           MAX(value) FILTER (event_type = 'error') AS error,
           MAX(value) FILTER (event_type = 'purchase') AS purchase,
           MAX(value) FILTER (event_type = 'signup') AS signup,
           MAX(value) FILTER (event_type = 'view') AS view
    FROM events GROUP BY user_id
    """,
    headline=True,
)
def pivot_max_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/K5: the DynamoDB conditional-max wide row as a pivot
    (frame_stats.pivot_stats shape on the driver's events table). Explicit
    value list skips the extra distinct scan."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", values=_EVENT_TYPES)
        .agg(F.max("value"))
    )


@register(
    "gap_audit",
    """
    SELECT user_id, prev_idx, event_id, event_id - prev_idx - 1 AS missed
    FROM (
      SELECT user_id, event_id,
             lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_idx
      FROM events
    ) WHERE prev_idx IS NOT NULL AND event_id != prev_idx + 1
    """,
)
def gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: sequence-gap audit (check_pngs.py:1970-1997) on the events table."""
    ev = _t(spark, sf_dir, "events")
    return frames.gap_audit(ev, part_cols=["user_id"], idx_col="event_id").select(
        "user_id", "prev_idx", "event_id", "missed"
    )


@register(
    "except_runs",
    """
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def except_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: run-diff set difference (check_pngs.py:1983-2002)."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return clickers.exceptAll(buyers)


@register(
    "region_revenue",
    """
    SELECT r_name, {s} AS revenue, COUNT(*) AS n_items
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY r_name
    """.format(
        s=SQL_DSUM.format(x="CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))")
    ),
    headline=True,
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join (TPC-H Q5 shape): tiny dims get explicit broadcast
    hints (region/nation are 5/25 rows at ANY scale factor); customer does
    NOT — it stops being broadcastable around sf100, so its join strategy is
    left to AQE's runtime size estimate (broadcast under the 64 MB
    threshold, shuffle join beyond). lineitem never repartitions twice."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            fsum("l_extendedprice * (1 - l_discount)", "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "topn_per_group",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-N per group — Spark pushes the rank filter into the window
    (WindowGroupLimit) so executors keep only 3 rows per key."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@register(
    "rollup_priority",
    """
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS INTEGER) AS lvl,
           COUNT(*) AS n, {s} AS total
    FROM orders
    GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    """.format(s=SQL_DSUM.format(x="o_totalprice")),
)
def rollup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup/grouping-sets (capability the reference lacks; SURVEY §2 note)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice"), "total"),
            (
                F.grouping("o_orderpriority") * 2 + F.grouping("o_orderstatus")
            ).cast("int").alias("lvl"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "lvl",
            "n",
            "total",
        )
    )


@register(
    "cube_status_priority",
    """
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS INTEGER) AS lvl,
           COUNT(*) AS n, {s} AS total
    FROM orders
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """.format(s=SQL_DSUM.format(x="o_totalprice")),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping sets in one pass — Spark expands to a single
    shuffle with a grouping-id column, not one job per set."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice"), "total"),
            (
                F.grouping("o_orderpriority") * 2 + F.grouping("o_orderstatus")
            ).cast("int").alias("lvl"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "lvl",
            "n",
            "total",
        )
    )


@register(
    "customer_order_counts",
    """
    SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders,
           coalesce({s}, 0.0) AS total_spend
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_mktsegment
    """.format(s=SQL_DSUM.format(x="o_totalprice")),
)
def customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving zero-order customers."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"),
                F.lit(0.0),
            ).alias("total_spend"),
        )
    )


@register(
    "asof_purchase_click",
    """
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND c.ts <= p.ts) AS click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
    headline=True,
)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (sensor-alignment primitive): latest prior click per
    purchase. Union+window plan — one sort-shuffle, no range probe."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return asof_op.asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_vals=["click_ts"],
    )


@register(
    "sessionize_stats",
    """
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM (
      SELECT user_id, ts,
             SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
                    THEN 1 ELSE 0 END AS is_break
        FROM events
      )
    )
    GROUP BY user_id, session_id
    """,
    headline=True,
)
def sessionize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (drive segmentation) — gap-and-island, one window pass."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize.session_stats(ev, key_col="user_id", ts_col="ts", gap_minutes=30)
    return s.select(
        "user_id",
        F.col("session_id").cast("bigint").alias("session_id"),
        "n_events",
        "session_start",
        "session_end",
    )


@register(
    "window_tumbling",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time window agg (batch twin of the streaming path)."""
    return sessionize.tumbling_window_agg(_t(spark, sf_dir, "events"))


@register(
    "incremental_rollup",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events GROUP BY 1, 2, 4
    """,
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental continuous aggregate vs full-recompute oracle: the
    events table folds in as TWO separate update_rollup ticks (split on
    user_id parity) and the merged table must equal one global GROUP BY —
    the driver gate now proves the partial-merge + dynamic-partition-
    overwrite logic, not just pytest."""
    import shutil
    import tempfile

    from ..operators import rollup as ru

    ev = _t(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="rollup_gate_")
    shutil.rmtree(path)  # update_rollup expects to create it
    ru.update_rollup(spark, ev.filter(F.col("user_id") % 2 == 0), path)
    ru.update_rollup(spark, ev.filter(F.col("user_id") % 2 == 1), path)
    return ru.read_rollup(spark, path).select(
        "window_start", "event_type", "n_events", "day"
    )


@register(
    "window_lag_delta",
    """
    SELECT event_id, user_id,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key ordered delta (velocity-from-pose style derivation)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions: dedup / similarity / text analysis
# (north-star operators over documents + embeddings; md5-based hashing was
# chosen throughout precisely so DuckDB can reproduce results bit-for-bit)
# ---------------------------------------------------------------------------

# Shared DuckDB fragments, kept textually aligned with functions/text.py:
# tokens = split(trim(lower(text)), '\s+'); normalized = collapse whitespace.
_D_TOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_D_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
# word 3-gram shingles of the token list t (empty when < 3 tokens), matching
# text.word_ngrams(n=3)
_D_SHINGLES = (
    "list_distinct(CASE WHEN len(t) - 2 >= 1 "
    "THEN list_transform(range(0, len(t) - 2), "
    "i -> array_to_string(t[i+1:i+3], ' ')) "
    "ELSE [] END)"
)


@register(
    "exact_dedup_groups",
    f"""
    SELECT md5({_D_NORM}) AS fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM documents GROUP BY 1
    """,
    headline=True,
)
def q_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on a 32-byte fingerprint, map-side combine."""
    return dedup.exact_dedup_groups(_t(spark, sf_dir, "documents"))


@register(
    "token_set_dedup_groups",
    f"""
    SELECT md5(array_to_string(list_sort(list_distinct({_D_TOKS})), ' ')) AS fp,
           COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM documents GROUP BY 1
    """,
)
def q_token_set_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive dedup (bag-of-words fingerprint)."""
    return dedup.token_set_dedup_groups(_t(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_pairs",
    """
    WITH t AS (SELECT doc_id, lower(text) AS tx FROM documents),
    grams AS (
      SELECT DISTINCT doc_id,
             unnest([substring(tx, i, 8)
                     for i in range(1, greatest(length(tx) - 6, 1))]) AS g
      FROM t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
    gdf AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g),
    prefix AS (
      SELECT doc_id, g, sz FROM (
        SELECT gr.doc_id, gr.g, s.sz,
               row_number() OVER (PARTITION BY gr.doc_id
                                  ORDER BY d.df, gr.g) AS rn
        FROM grams gr JOIN gdf d USING(g) JOIN sizes s USING(doc_id)
      ) WHERE rn <= sz - CAST(ceil(0.8 * sz) AS BIGINT) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b ON a.g = b.g AND a.doc_id < b.doc_id
       AND b.sz >= 0.8 * a.sz AND a.sz >= 0.8 * b.sz
    ),
    gt AS (SELECT doc_id, list(g) AS gs, COUNT(*) AS sz
           FROM grams GROUP BY doc_id)
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
             / (a.sz + b.sz - len(list_intersect(a.gs, b.gs))) AS jaccard
    FROM cand c JOIN gt a ON a.doc_id = c.id_a
                JOIN gt b ON b.doc_id = c.id_b
    WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            / (a.sz + b.sz - len(list_intersect(a.gs, b.gs))) >= 0.8
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT char-8-gram Jaccard ≥ 0.8 pairs via the prefix-filtered
    set-similarity join (AllPairs-style): candidates come only from each
    doc's globally-rarest grams + the length filter, verification is one
    array_intersect per candidate pair. The oracle replays the identical
    algorithm; exactness (vs brute-force all-pairs) is pinned separately
    in tests/test_dedup.py."""
    return dedup.ngram_jaccard_pairs(
        _spread_docs(spark, sf_dir), threshold=0.8, n=8
    )


@register(
    "doc_fingerprints",
    f"""
    SELECT doc_id, md5({_D_NORM}) AS fp_exact,
           md5(array_to_string(list_sort(list_distinct({_D_TOKS})), ' ')) AS fp_tokenset
    FROM documents
    """,
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprints(_t(spark, sf_dir, "documents"))


def _d_minhash_sql() -> str:
    """DuckDB replica of the banded-MinHash pipeline (12 hashes, 4 bands of 3,
    3-word shingles, Jaccard ≥ 0.8) in operators/dedup.py: unnest shingles,
    one md5 → 31-bit h, then min over the (a·h+b) mod p mix family — the same
    relational shape (and bit-identical constants) as the Spark plan."""
    p = H.MERSENNE_31
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(H.mix_constants(12))
    )
    bands = []
    for b in range(4):
        cols = ", ".join(f"mh{b * 3 + r}" for r in range(3))
        bands.append(f"md5(concat_ws('|', {cols})) AS band{b}")
    return f"""
    WITH sh AS (
      SELECT doc_id, {_D_SHINGLES} AS sh
      FROM (SELECT doc_id, {_D_TOKS} AS t FROM documents)
    ),
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {p} AS h
      FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
    ),
    sig AS (
      SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, {', '.join(bands)} FROM sig
    ),
    long AS (
      SELECT doc_id, unnest([band0, band1, band2, band3]) AS bucket FROM banded
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM long a JOIN long b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
    FROM cand
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b
    WHERE jaccard >= 0.8
    """


@register("minhash_dedup_pairs", _d_minhash_sql(), headline=True)
def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: band-bucket self-join (O(collisions), not
    O(n²)) → exact shingle-Jaccard verify on the candidate set."""
    return dedup.minhash_dedup_pairs(_spread_docs(spark, sf_dir), threshold=0.8)


def _d_cc_prefix() -> str:
    """Recursive transitive closure over the minhash near-dup pairs: the
    oracle twin of graph.connected_components (a driver-side union-find or
    the iterative alternating-star algorithm — same closure, different
    engine shape)."""
    return f"""
    WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_d_minhash_sql()}) mh),
    e AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
    )
    """


def _minhash_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_dedup_pairs(_spread_docs(spark, sf_dir), threshold=0.8)


@register(
    "near_dup_clusters",
    _d_cc_prefix()
    + """
    SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
    """,
    headline=True,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS from minhash pairs via
    ``graph.connected_components`` — the step that turns pair detection
    into droppable duplicate groups. The pair set fits one partition's
    edge budget, so it is counted, collected and closed on the driver by
    ``graph.union_find`` (two Spark jobs, no star round); a corpus-scale
    pair set runs alternating large-star/small-star rounds (Kiveris et
    al. 2014) until it fits or reaches its fixpoint. The oracle computes
    the same closure as a DuckDB recursive CTE."""
    from ..operators import graph

    comp = graph.connected_components(
        _minhash_pairs_df(spark, sf_dir), src="id_a", dst="id_b"
    )
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@register(
    "near_dup_survivors",
    _d_cc_prefix()
    + """
    , losers AS (
      SELECT u AS doc_id FROM reach GROUP BY u HAVING least(u, MIN(v)) <> u
    )
    SELECT source, COUNT(*) AS n_docs FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    GROUP BY source
    """,
)
def near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: per-source doc counts after keeping one
    canonical doc (smallest id) per near-dup cluster — detection → closure →
    anti-join end to end. The anti-join's right side is only the non-canonical
    ids (tiny; broadcast when it fits)."""
    from ..operators import graph

    docs = _t(spark, sf_dir, "documents")
    kept = graph.keep_canonical(docs, _minhash_pairs_df(spark, sf_dir))
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


def _d_simhash_cte(bits: int = 32) -> str:
    """Shared CTE text computing (doc_id, simhash BIGINT) in DuckDB —
    explode distinct tokens → one md5 → per-bit shift/mask sums, mirroring
    the relational Spark plan bit-for-bit."""
    sums = ", ".join(f"SUM((h >> {b}) & 1) AS s{b}" for b in range(bits))
    sig = " + ".join(
        f"CASE WHEN 2 * s{b} >= n THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({_D_TOKS})) AS t FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    bitsums AS (
      SELECT doc_id, COUNT(*) AS n, {sums} FROM h GROUP BY doc_id
    ),
    s AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bitsums)"""


def _d_simhash_sql(bits: int = 32) -> str:
    return f"""
    {_d_simhash_cte(bits)}
    SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM s GROUP BY simhash HAVING COUNT(*) > 1
    """


def _d_simhash_near_sql(bits: int = 32, bands: int = 4) -> str:
    """Banded Hamming-neighbor search replica: same pigeonhole candidates,
    same bit_count(xor) verify as dedup.simhash_near_pairs."""
    width = bits // bands
    mask = (1 << width) - 1
    buckets = ", ".join(
        f"{b * (1 << width)} + ((simhash >> {b * width}) & {mask})"
        for b in range(bands)
    )
    return f"""
    {_d_simhash_cte(bits)},
    long AS (
      SELECT doc_id, simhash, unnest([{buckets}]) AS bucket FROM s
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sig_a, b.simhash AS sig_b
      FROM long a JOIN long b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
    FROM cands
    WHERE bit_count(xor(sig_a, sig_b)) <= {bands - 1}
    """


@register("simhash_groups", _d_simhash_sql())
def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup buckets (32-bit majority-vote integer signature)."""
    return dedup.simhash_dup_groups(_t(spark, sf_dir, "documents"))


@register("simhash_near_pairs", _d_simhash_near_sql(bits=32), headline=True)
def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs within Hamming distance 3: pigeonhole band buckets →
    self-join on bucket (O(collisions)) → exact distance on candidates.

    32-bit signatures (8-bit bands → 256 bucket values): 16-bit bands were
    measured to collapse into ~300-doc buckets at sf0.1, exploding the
    candidate set ~100×. Band width is the knob that keeps the self-join
    O(collisions) as the corpus grows."""
    return dedup.simhash_near_pairs(_spread_docs(spark, sf_dir), bits=32)


@register(
    "token_stats",
    f"""
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
           floor(length(regexp_replace(text, '\\s+', '', 'g')) / len(toks)
                 * 10000 + 0.5) / 10000.0 AS avg_token_len
    FROM (SELECT doc_id, text, {_D_TOKS} AS toks FROM documents)
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_stats(_t(spark, sf_dir, "documents"))


@register(
    "subword_token_stats",
    f"""
    SELECT doc_id,
           CAST(len({_D_TOKS.replace("lower(text)", "text")}) AS INTEGER)
             AS n_ws_tokens,
           CAST(len(pre) AS INTEGER) AS n_pretokens,
           CAST(coalesce(list_sum(list_transform(pre, t ->
                CASE WHEN regexp_matches(t, '^[A-Za-z]+$')
                     THEN CAST(ceil(len(t) / 4.0) AS INTEGER)
                     ELSE 1 END)), 0) AS INTEGER) AS n_bpe_est
    FROM (SELECT doc_id, text,
                 regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS pre
          FROM documents)
    """,
)
def q_subword_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting beyond whitespace: GPT-style pre-token regex + a
    BPE-piece estimate (context-window budgeting at corpus scale)."""
    return textstats.subword_token_stats(_t(spark, sf_dir, "documents"))


@register(
    "rolling_fingerprints",
    f"""
    WITH pos AS (
      SELECT doc_id, text, unnest(range(1, greatest(len(text) - 15, 0) + 1)) AS p
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(substr(text, p, 16)), 1, 15)) AS BIGINT)
               % {H.MERSENNE_31} AS h
      FROM pos
    )
    SELECT doc_id,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_fp,
           md5(array_to_string(list_sort(list_distinct(list(h))), '|')) AS fp_digest
    FROM h WHERE h % 8 = 0 GROUP BY doc_id
    """,
)
def q_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprints (16-char windows, mod-8
    sample): position-independent shared-substring detection."""
    return textstats.rolling_fingerprints(_t(spark, sf_dir, "documents"))


@register(
    "winnow_overlap_pairs",
    f"""
    WITH pos AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(len(text) - 15, 0) + 1)) AS p
      FROM documents
    ),
    hh AS (
      SELECT DISTINCT doc_id, h FROM (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(substr(text, p, 16)), 1, 15))
                    AS BIGINT) % {H.MERSENNE_31} AS h
        FROM pos
      ) WHERE h % 8 = 0
    ),
    dfq AS (SELECT h FROM hh GROUP BY h HAVING COUNT(*) <= 50),
    pr AS (SELECT hh.doc_id, hh.h FROM hh SEMI JOIN dfq USING (h)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM pr GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM pr a JOIN pr b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT id_a, id_b, n_shared,
           floor(n_shared / least(sa.n, sb.n) * 10000 + 0.5) / 10000.0
             AS overlap
    FROM pairs
    JOIN sz sa ON id_a = sa.doc_id
    JOIN sz sb ON id_b = sb.doc_id
    """,
)
def q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-fingerprint overlap mining (textstats.winnow_overlap_pairs,
    the winnowing/MOSS pairing step): pairs sharing >= 3 sampled 16-char
    substring fingerprints, with overlap = shared / min(|A|, |B|) —
    position-independent lifted-paragraph detection. Inverted-index
    self-join with a df<=50 fingerprint ceiling pruning ubiquitous
    substrings before the join."""
    return textstats.winnow_overlap_pairs(_spread_docs(spark, sf_dir))


@register(
    "winnow_guaranteed_pairs",
    f"""
    WITH pos AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(len(text) - 15, 0) + 1)) AS p
      FROM documents
    ),
    h AS (
      SELECT doc_id, p,
             CAST(concat('0x', substr(md5(substr(text, p, 16)), 1, 15))
                  AS BIGINT) % {H.MERSENNE_31} AS h,
             count(*) OVER (PARTITION BY doc_id) AS nw
      FROM pos
    ),
    mw AS (
      SELECT doc_id, p, nw,
             min(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mh
      FROM h
    ),
    hh AS (SELECT DISTINCT doc_id, mh AS h FROM mw
           WHERE p <= greatest(1, nw - 7)),
    dfq AS (SELECT h FROM hh GROUP BY h HAVING COUNT(*) <= 50),
    pr AS (SELECT hh.doc_id, hh.h FROM hh SEMI JOIN dfq USING (h)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM pr GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM pr a JOIN pr b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    )
    SELECT id_a, id_b, n_shared,
           floor(n_shared / least(sa.n, sb.n) * 10000 + 0.5) / 10000.0
             AS overlap
    FROM pairs
    JOIN sz sa ON id_a = sa.doc_id
    JOIN sz sb ON id_b = sb.doc_id
    """,
    headline=True,
)
def q_winnow_guaranteed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIC winnowing pairing (textstats.winnow_overlap_pairs with
    window=8): the selected fingerprint is the MIN hash of every window of
    8 consecutive 16-char k-gram hashes, which carries the SIGMOD'03
    detection guarantee — any lifted passage of >= window + k - 1 = 23
    chars shares at least one fingerprint (the mod-p sampled twin
    `winnow_overlap_pairs` can miss a match of any length; the planted
    64-char-lift test in tests/test_text_and_similarity.py shows the
    contrast). Selection is all array-local — window minima via
    O(n log w) zip_with doubling passes (textstats._sliding_min), rows
    only generated for the ~2/(w+1) surviving fingerprints — then the
    same df-ceiling-pruned inverted-index self-join. Headline: the
    flagship detector of the winnow family, tracked so regressions in
    the array-local selection path hit the ±25% outlier pass."""
    return textstats.winnow_overlap_pairs(_spread_docs(spark, sf_dir), window=8)


@register(
    "winnow_guarantee_recall",
    f"""
    WITH base AS (
      SELECT doc_id,
             'aa' || doc_id || ' ' || substr(text, 1, 23) AS ta,
             substr(text, 1, 23) || ' zz' || doc_id AS tb
      FROM documents WHERE len(text) >= 23
    ),
    sides AS (
      SELECT doc_id, 'a' AS side, ta AS t FROM base
      UNION ALL
      SELECT doc_id, 'b' AS side, tb AS t FROM base
    ),
    pos AS (
      SELECT doc_id, side, t,
             unnest(range(1, greatest(len(t) - 15, 0) + 1)) AS p
      FROM sides
    ),
    h AS (
      SELECT doc_id, side, p,
             CAST(concat('0x', substr(md5(substr(t, p, 16)), 1, 15))
                  AS BIGINT) % {H.MERSENNE_31} AS h,
             count(*) OVER (PARTITION BY doc_id, side) AS nw
      FROM pos
    ),
    mw AS (
      SELECT doc_id, side, p, nw,
             min(h) OVER (PARTITION BY doc_id, side ORDER BY p
                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mh
      FROM h
    ),
    wsel AS (SELECT DISTINCT doc_id, side, mh AS h FROM mw
             WHERE p <= greatest(1, nw - 7)),
    msel AS (SELECT DISTINCT doc_id, side, h FROM h WHERE h % 8 = 0),
    wdet AS (SELECT DISTINCT a.doc_id FROM wsel a JOIN wsel b
             ON a.doc_id = b.doc_id AND a.h = b.h
             WHERE a.side = 'a' AND b.side = 'b'),
    mdet AS (SELECT DISTINCT a.doc_id FROM msel a JOIN msel b
             ON a.doc_id = b.doc_id AND a.h = b.h
             WHERE a.side = 'a' AND b.side = 'b')
    SELECT CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_docs,
           floor((SELECT COUNT(*) FROM wdet) * 1.0
                 / (SELECT COUNT(*) FROM base) * 10000 + 0.5) / 10000.0
             AS guaranteed_detect_share,
           floor((SELECT COUNT(*) FROM mdet) * 1.0
                 / (SELECT COUNT(*) FROM base) * 10000 + 0.5) / 10000.0
             AS modp_detect_share
    """,
)
def q_winnow_guarantee_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing GUARANTEE, measured corpus-wide: every document's
    first 23 chars (exactly w + k - 1) are planted as a lift into two
    per-doc fresh contexts, and each selector's detection share is
    recorded. Min-per-window winnowing detects 100% (the SIGMOD'03
    theorem — a full window of 8 identical k-gram hashes exists on both
    sides, whose min is selected on both); mod-p sampling detects ~0.64
    (measured; theory 1 - (7/8)^8 = 0.656) because a 23-char lift whose 8
    hashes all miss the residue selects nothing. Fingerprint selection is
    array-local per row (`arrays_overlap` per doc, no join); one 1-row
    aggregate."""
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") >= 23)
    lift = F.substring("text", 1, 23)
    two = docs.select(
        F.concat(
            F.lit("aa"), F.col("doc_id").cast("string"), F.lit(" "), lift
        ).alias("ta"),
        F.concat(
            lift, F.lit(" zz"), F.col("doc_id").cast("string")
        ).alias("tb"),
    )
    hit = two.select(
        F.arrays_overlap(
            textstats._winnow_fingerprints(16, 8, "ta"),
            textstats._winnow_fingerprints(16, 8, "tb"),
        ).cast("int").alias("w_hit"),
        F.arrays_overlap(
            textstats._modp_fingerprints(16, 8, "ta"),
            textstats._modp_fingerprints(16, 8, "tb"),
        ).cast("int").alias("m_hit"),
    )
    return hit.agg(
        F.count(F.lit(1)).alias("n_docs"),
        H.quantize(F.avg("w_hit"), 4).alias("guaranteed_detect_share"),
        H.quantize(F.avg("m_hit"), 4).alias("modp_detect_share"),
    )


@register(
    "winnow_density",
    f"""
    WITH pos AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(len(text) - 15, 0) + 1)) AS p
      FROM documents
    ),
    h AS (
      SELECT doc_id, p,
             CAST(concat('0x', substr(md5(substr(text, p, 16)), 1, 15))
                  AS BIGINT) % {H.MERSENNE_31} AS h,
             count(*) OVER (PARTITION BY doc_id) AS nw
      FROM pos
    ),
    mw AS (
      SELECT doc_id, p, nw,
             min(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mh
      FROM h
    ),
    sel AS (
      SELECT doc_id, COUNT(DISTINCT mh) AS ns
      FROM mw WHERE p <= greatest(1, nw - 7) GROUP BY 1
    ),
    per AS (
      SELECT d.doc_id, greatest(len(d.text) - 15, 0) AS nw,
             coalesce(s.ns, 0) AS ns
      FROM documents d LEFT JOIN sel s USING (doc_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nw) AS BIGINT) AS n_window_positions,
           CAST(SUM(ns) AS BIGINT) AS n_selected,
           floor(SUM(ns) * 1.0 / SUM(nw) * 10000 + 0.5) / 10000.0 AS density
    FROM per
    """,
)
def q_winnow_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing's storage bill as a MEASURED CLAIM: classic min-per-window
    selection stores an expected ~2/(w+1) of window positions (SIGMOD'03
    §3; 0.2222 at w=8), and distinct-value dedup within a document pulls
    the realized share slightly below that — this query records the
    corpus-wide density the guarantee is bought for (vs mod-p sampling's
    1/sample_mod with NO guarantee). Per-document arithmetic is all
    array-local; two longs shuffle per doc."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.select(
        F.greatest(F.length("text") - F.lit(15), F.lit(0)).alias("nw"),
        F.size(
            textstats._winnow_fingerprints(16, 8, "text")
        ).alias("ns"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nw").cast("bigint").alias("n_window_positions"),
        F.sum("ns").cast("bigint").alias("n_selected"),
        H.quantize(F.sum("ns") / F.sum("nw"), 4).alias("density"),
    )


@register(
    "zipf_fit",
    f"""
    WITH tok AS (SELECT unnest({_D_TOKS}) AS t FROM documents),
    cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    rk AS (SELECT t, c, row_number() OVER (ORDER BY c DESC, t) AS rank
           FROM cnt),
    xy AS (
      SELECT CAST(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(18,6))
                  AS DOUBLE) AS x,
             CAST(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,6))
                  AS DOUBLE) AS y
      FROM rk),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             {SQL_DSUM.format(x="x")} AS sx,
             {SQL_DSUM.format(x="y")} AS sy,
             {SQL_DSUM.format(x="x*x")} AS sxx,
             {SQL_DSUM.format(x="y*y")} AS syy,
             {SQL_DSUM.format(x="x*y")} AS sxy
      FROM xy)
    SELECT CAST(n AS BIGINT) AS n_vocab,
           floor((n*sxy - sx*sy) / (n*sxx - sx*sx) * 10000 + 0.5) / 10000.0
             AS slope,
           floor((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n
                 * 10000 + 0.5) / 10000.0 AS intercept,
           floor((n*sxy - sx*sy) * (n*sxy - sx*sy)
                 / ((n*sxx - sx*sx) * (n*syy - sy*sy))
                 * 10000 + 0.5) / 10000.0 AS r2
    FROM s
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus token-frequency distribution: OLS of
    ln(count) on ln(rank) over the full vocabulary — slope ≈ −1 is the
    signature of natural text, and a corpus whose slope drifts (template
    spam flattens the head, boilerplate fattens specific ranks) fails the
    health check before training ever sees it. The global rank uses the
    range-partition + broadcast-offset sequential-id operator (no
    single-reducer window); ln values round to 6 decimals and accumulate
    through the decimal carrier, so the five OLS sums are
    order-independent and the closed form replays bit-for-bit. On the
    synthetic test corpus the fit measures slope −0.18 / r² 0.06 over a
    31-token vocabulary — i.e. the health check correctly FLAGS the
    uniform generator as non-natural text."""
    from ..operators.ids import assign_sequential_ids

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(T.tokens(F.lower(F.col("text")))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = assign_sequential_ids(
        counts.withColumn("__negc", -F.col("c")), ["__negc", "t"],
        id_name="rank",
    )

    def d6(col):
        return col.cast("decimal(18,6)").cast("double")

    xy = ranked.select(
        d6(F.log(F.col("rank").cast("double"))).alias("x"),
        d6(F.log(F.col("c").cast("double"))).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(F.col("x"), "sx"),
        dsum(F.col("y"), "sy"),
        dsum(F.col("x") * F.col("x"), "sxx"),
        dsum(F.col("y") * F.col("y"), "syy"),
        dsum(F.col("x") * F.col("y"), "sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("long").alias("n_vocab"),
        H.quantize(slope, 4).alias("slope"),
        H.quantize((sy - slope * sx) / n, 4).alias("intercept"),
        H.quantize(
            (n * sxy - sx * sy) * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            4,
        ).alias("r2"),
    )


@register(
    "quality_scores",
    f"""
    -- floor(x*1e4+0.5)/1e4 matches functions.hashing.quantize (plain F.round
    -- and DuckDB round() disagree on doubles one ulp under a decimal boundary)
    SELECT doc_id,
           floor(len(list_distinct(rt)) / len(rt) * 10000 + 0.5) / 10000.0 AS diversity,
           floor(stop * 10000 + 0.5) / 10000.0 AS stopword_ratio,
           floor(punct * 10000 + 0.5) / 10000.0 AS punct_ratio,
           floor(((0.4 * least(len(rt) / 100.0, 1.0)
                  + 0.3 * (len(list_distinct(rt)) / len(rt))
                  + 0.3 * least(stop * 5, 1.0))
                 * (1.0 - least(punct * 2, 1.0))) * 10000 + 0.5) / 10000.0 AS quality
    FROM (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS rt,
             len(list_filter({_D_TOKS},
                 t -> list_contains(['the','a','of','and','to','in','is','it'], t)))
               / len({_D_TOKS}) AS stop,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
               / length(text) AS punct
      FROM documents
    )
    """,
)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-quality features — all JVM built-ins."""
    return textstats.quality_scores(_t(spark, sf_dir, "documents"))


def _best_quality_survivors_sql() -> str:
    """Composed oracle: minhash closure + the quality_scores replay, then
    per-cluster argmax(quality, then smallest id) instead of smallest-id
    canonical."""
    quality = QUERIES["quality_scores"].oracle
    return (
        _d_cc_prefix()
        + f"""
    , comp AS (
      SELECT u AS doc_id, least(u, MIN(v)) AS cluster FROM reach GROUP BY u
    ),
    q AS ({quality}),
    ranked AS (
      SELECT comp.doc_id, cluster, q.quality,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY q.quality DESC, comp.doc_id) AS rn
      FROM comp JOIN q USING (doc_id)
    ),
    losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
    SELECT d.source, COUNT(*) AS n_docs,
           floor(CAST(SUM(CAST(q.quality AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) * 10000 + 0.5) / 10000.0 AS mean_quality
    FROM documents d JOIN q USING (doc_id)
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
    GROUP BY d.source
    """
    )


@register("best_quality_survivors", _best_quality_survivors_sql())
def q_best_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor policy (graph.keep_best): per near-dup
    cluster keep the HIGHEST-quality copy (ties → smallest id), not the
    smallest id — detection → closure → ranked selection → anti-join end
    to end, reporting per-source survivor counts and their decimal-exact
    mean quality. The ranking window touches only clustered docs, so its
    cost tracks the dup set, not the corpus."""
    from ..operators import graph, textstats

    docs = _t(spark, sf_dir, "documents")
    q = textstats.quality_scores(docs).select("doc_id", "quality")
    scored = docs.select("doc_id", "source").join(q, "doc_id")
    kept = graph.keep_best(scored, _minhash_pairs_df(spark, sf_dir), "quality")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        H.quantize(
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_quality"),
    )



@register(
    "language_id",
    f"""
    SELECT doc_id,
           CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
                WHEN de >= greatest(en, es, fr) THEN 'de'
                WHEN en >= greatest(es, fr) THEN 'en'
                WHEN es >= fr THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM (
      SELECT doc_id,
        len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS de,
        len(list_filter(toks, t -> list_contains(['the','a','of','and','is'], t))) AS en,
        len(list_filter(toks, t -> list_contains(['el','la','los','y','es'], t))) AS es,
        len(list_filter(toks, t -> list_contains(['le','la','les','et','est'], t))) AS fr
      FROM (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
    )
    """,
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID; first-in-alpha-order wins ties, 'und'
    when no marker hits."""
    return textstats.language_id(_t(spark, sf_dir, "documents"))


_D_COS = (
    "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
    "CAST(c.embedding AS DOUBLE[])), 6)"
)


@register(
    "brute_force_topk",
    f"""
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_D_COS} AS cosine,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {_D_COS} DESC, c.vec_id) AS rnk
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 10
    ) WHERE rnk <= 5
    """,
    headline=True,
)
def q_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for a 10-query probe set: broadcast(queries) ×
    corpus, JVM-side higher-order-function dot product, window rank."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _planes_values(dim: int, n_tables: int, n_bits: int) -> str:
    """The deterministic md5-derived hyperplanes (similarity._hyperplane) as
    a DuckDB VALUES list — the oracle replays the exact bucket assignment.
    Full-precision ``repr`` floats round-trip bit-exactly through the SQL
    parser, so ``list_inner_product`` sees the same float64 planes numpy
    matmuls against."""
    rows = []
    for t in range(n_tables):
        for b in range(n_bits):
            plane = similarity._hyperplane(dim, t, b)
            lit = "[" + ", ".join(repr(x) for x in plane) + "]"
            rows.append(f"({t}, {b}, CAST({lit} AS DOUBLE[]))")
    return "(VALUES " + ",\n ".join(rows) + ")"


def _lsh_bucket_cte(dim: int, n_tables: int, n_bits: int) -> str:
    """Shared CTE: (vec_id, tbl, bucket) — sign pattern of the hyperplane
    projections packed MSB-first into an integer, identical to
    similarity.lsh_buckets."""
    return f"""
    bk AS (
      SELECT e.vec_id, p.tbl,
             SUM(CASE WHEN list_inner_product(
                        CAST(e.embedding AS DOUBLE[]), p.plane) >= 0
                 THEN 1 << ({n_bits} - 1 - p.bit) ELSE 0 END) AS bucket
      FROM embeddings e
      CROSS JOIN {_planes_values(dim, n_tables, n_bits)} AS p(tbl, bit, plane)
      GROUP BY e.vec_id, p.tbl
    )"""


@register(
    "lsh_topk",
    f"""
    WITH {_lsh_bucket_cte(64, 4, 8)},
    cand AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
                         AND a.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(n.embedding AS DOUBLE[])), 6) AS cosine
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored) s
    WHERE rnk <= 5
    """,
    headline=True,
)
def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH buckets — the 100 TB path
    (compare only within buckets, O(n·bucket) not O(n²)). The hyperplanes
    are deterministic (md5-seeded), so the oracle replays them as literals."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb, dim=64, k=5, n_tables=4, n_bits=8,
    )


@register(
    "ivf_topk",
    """
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    assign AS (
      SELECT vec_id AS neighbor_id, embedding AS nv, cid AS list_id FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 round(-list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               CAST(c.cv AS DOUBLE[])), 6),
                 c.cid) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, list_id FROM (
        SELECT q.vec_id AS query_id, c.cid AS list_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round(-list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.cv AS DOUBLE[])), 6),
                 c.cid) AS pr
        FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 10
      ) WHERE pr <= 12
    ),
    scored AS (
      SELECT p.query_id, a.neighbor_id,
             round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                          CAST(a.nv AS DOUBLE[])), 6) AS cosine
      FROM probes p
      JOIN assign a ON a.list_id = p.list_id AND a.neighbor_id <> p.query_id
      JOIN embeddings qe ON qe.vec_id = p.query_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored) s
    WHERE rnk <= 5
    """,
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF inverted lists (data-adaptive coarse
    quantizer; each query probes n_probe of n_lists centroid lists). The
    centroid sample (smallest md5(id)) and the rounded, cid-tie-broken
    nearest-list assignment are deterministic → SQL-replayable.

    Registered at the ≥0.8-recall default (n_probe=12 of 16 — measured
    recall@5 0.88 at sf0.01, 0.96 at sf0.1, gated by `ivf_recall_at5`);
    the 0.56-recall fast config stays registered as `ivf_topk_fast`."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries, k=5, n_lists=16, n_probe=12)


@register(
    "ivf_topk_fast",
    QUERIES["ivf_topk"].oracle.replace("pr <= 12", "pr <= 4"),
)
def q_ivf_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The low-latency IVF operating point (n_probe=4 of 16 — ~1/3 the
    probed corpus of the default): measured recall@5 0.56 on this
    near-uniform corpus, the deliberate speed-for-recall end of the probe
    curve documented on `ivf_recall_at5`. Same deterministic centroid
    sample and tie-breaks as `ivf_topk`, so the same oracle replays it
    with only the probe ceiling changed."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries, k=5, n_lists=16, n_probe=4)


def _hnsw_sql(
    degree: int = 16,
    n_lists: int = 16,
    n_blockings: int = 2,
    nn_rounds: int = 3,
    entry_pool: int = 16,
    n_entry: int = 8,
    beam: int = 32,
    n_hops: int = 4,
    k: int = 5,
) -> str:
    """Generate the DuckDB replay of hnsw_topk: every md5-derived choice
    (salted blocking samples, entry pool, tie-breaks) is deterministic, so
    graph construction AND layered beam search unroll into a WITH chain —
    one CTE pair per NN-descent round and per search hop."""
    cos = "round(list_cosine_similarity(e1.v, e2.v), 6)"
    parts = [
        "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)"
    ]
    seeds = []
    for r in range(n_blockings):
        parts.append(
            f"cents{r} AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM emb"
            f" ORDER BY md5('{r}:' || CAST(vec_id AS VARCHAR)), vec_id"
            f" LIMIT {n_lists})"
        )
        parts.append(
            f"asg{r} AS MATERIALIZED (SELECT vec_id AS id, list_id FROM ("
            f" SELECT e.vec_id, c.cid AS list_id, row_number() OVER ("
            f" PARTITION BY e.vec_id ORDER BY"
            f" round(-list_cosine_similarity(e.v, c.cv), 6), c.cid) AS rn"
            f" FROM emb e CROSS JOIN cents{r} c) WHERE rn = 1)"
        )
        seeds.append(
            f"SELECT a.id AS src, b.id AS dst FROM asg{r} a JOIN asg{r} b"
            f" ON a.list_id = b.list_id AND a.id <> b.id"
        )
    parts.append("seed AS MATERIALIZED (" + " UNION ".join(seeds) + ")")
    parts.append(
        f"g0 AS MATERIALIZED (SELECT src, dst, cosine FROM ("
        f" SELECT s.src, s.dst, {cos} AS cosine, row_number() OVER ("
        f" PARTITION BY s.src ORDER BY {cos} DESC, s.dst) AS rn"
        f" FROM seed s JOIN emb e1 ON e1.vec_id = s.src"
        f" JOIN emb e2 ON e2.vec_id = s.dst) WHERE rn <= {degree})"
    )
    g = "g0"
    for r in range(1, nn_rounds + 1):
        parts.append(
            f"cand{r} AS MATERIALIZED (SELECT src, dst FROM {g}"
            f" UNION SELECT dst AS src, src AS dst FROM {g}"
            f" UNION SELECT a.src, b.dst FROM {g} a JOIN {g} b"
            f" ON a.dst = b.src AND a.src <> b.dst)"
        )
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT src, dst, cosine FROM ("
            f" SELECT c.src, c.dst, {cos} AS cosine, row_number() OVER ("
            f" PARTITION BY c.src ORDER BY {cos} DESC, c.dst) AS rn"
            f" FROM cand{r} c JOIN emb e1 ON e1.vec_id = c.src"
            f" JOIN emb e2 ON e2.vec_id = c.dst) WHERE rn <= {degree})"
        )
        g = f"g{r}"
    parts.append(
        f"pool AS MATERIALIZED (SELECT vec_id AS node, v AS pv FROM emb"
        f" ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {entry_pool})"
    )
    parts.append(
        "qs AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM emb"
        " WHERE vec_id < 10)"
    )
    pcos = "round(list_cosine_similarity(q.qv, p.pv), 6)"
    parts.append(
        f"beam0 AS MATERIALIZED (SELECT query_id, node, cosine FROM ("
        f" SELECT q.query_id, p.node, {pcos} AS cosine, row_number() OVER ("
        f" PARTITION BY q.query_id ORDER BY {pcos} DESC, p.node) AS rn"
        f" FROM qs q CROSS JOIN pool p) WHERE rn <= {n_entry})"
    )
    qcos = "round(list_cosine_similarity(q.qv, e2.v), 6)"
    b = "beam0"
    for h in range(1, n_hops + 1):
        parts.append(
            f"exp{h} AS MATERIALIZED (SELECT DISTINCT bm.query_id, gg.dst AS node"
            f" FROM {b} bm JOIN {g} gg ON gg.src = bm.node)"
        )
        parts.append(
            f"sc{h} AS MATERIALIZED (SELECT x.query_id, x.node, {qcos} AS cosine"
            f" FROM exp{h} x JOIN emb e2 ON e2.vec_id = x.node"
            f" JOIN qs q ON q.query_id = x.query_id)"
        )
        parts.append(
            f"beam{h} AS MATERIALIZED (SELECT query_id, node, cosine FROM ("
            f" SELECT *, row_number() OVER (PARTITION BY query_id"
            f" ORDER BY cosine DESC, node) AS rn FROM"
            f" (SELECT * FROM {b} UNION SELECT * FROM sc{h}))"
            f" WHERE rn <= {beam})"
        )
        b = f"beam{h}"
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER)"
        f" AS rank FROM (SELECT query_id, node AS neighbor_id, cosine,"
        f" row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC,"
        f" node) AS rnk FROM {b} WHERE node <> query_id) WHERE rnk <= {k}"
    )


@register("hnsw_topk", _hnsw_sql())
def q_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-index ANN (HNSW family — Malkov & Yashunin, TPAMI 2018):
    NN-descent kNN-graph construction over two md5-salted IVF blockings,
    then layered beam search (deterministic entry pool = the collapsed
    upper layer, 4 synchronized expand-rescore-prune hops). Completes the
    ANN stack: brute (exact) / LSH / multi-probe / IVF / PQ / graph.
    Every choice is md5-derived and tie-broken on ids, so the DuckDB
    oracle replays construction AND search bit-for-bit (one CTE pair per
    NN-descent round and per hop). Search does O(n_hops·beam·degree) ≈
    2·10³ score evals per query independent of corpus size — the
    amortized-index contract that beats list-scan ANN at 100 TB."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.hnsw_topk(emb, queries, k=5)


def _hnsw_recall_sql() -> str:
    """Composed oracle: exact top-5 vs the registered HNSW top-5 — the
    same recall-join shape as ann_recall_at5 / ivf_recall_at5."""
    brute = QUERIES["brute_force_topk"].oracle
    hnsw = QUERIES["hnsw_topk"].oracle
    return f"""
    WITH brute AS ({brute}), hn AS ({hnsw})
    SELECT COUNT(DISTINCT b.query_id) AS n_queries,
           CAST(SUM(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS recall_at_5,
           (CAST(SUM(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*)) >= 0.9 AS recall_ok
    FROM brute b LEFT JOIN hn h
      ON b.query_id = h.query_id AND b.neighbor_id = h.neighbor_id
    """


@register("hnsw_recall_at5", _hnsw_recall_sql())
def q_hnsw_recall_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the graph-ANN path at its registered defaults against
    the exact top-5. Measured: 1.00 at sf0.01, 0.96 at sf0.1 — above the
    IVF default's 0.88/0.96 at the same k — on the near-uniform corpus
    that is the adversarial case for every ANN family (no cluster
    structure to exploit; similarity is barely transitive in 64-d uniform
    space, which is why the kNN graph needs TWO independent blockings —
    see knn_graph). Gate at 0.9 catches construction/search regressions."""
    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") < 10)
    brute = similarity.brute_force_topk(emb, probe, k=5).select(
        "query_id", "neighbor_id"
    )
    hn = similarity.hnsw_topk(emb, probe, k=5).select(
        F.col("query_id").alias("qi"), F.col("neighbor_id").alias("ni")
    )
    j = brute.join(
        hn,
        (F.col("query_id") == F.col("qi"))
        & (F.col("neighbor_id") == F.col("ni")),
        "left",
    )
    hit = F.sum(F.col("ni").isNotNull().cast("int")).cast("double")
    return j.agg(
        F.countDistinct("query_id").alias("n_queries"),
        (hit / F.count(F.lit(1))).alias("recall_at_5"),
        ((hit / F.count(F.lit(1))) >= 0.9).alias("recall_ok"),
    )


@register(
    "embedding_dup_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
)
def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup pairs: the O(n^2) oracle baseline, kept
    NON-headline by design — the bench headline is the LSH-bucketed scale
    path ``embedding_dup_pairs_lsh`` below, which is the plan that survives
    100x."""
    pairs = dedup.embedding_dup_pairs_exact(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )
    return pairs.withColumn("cosine", F.round("cosine", 6))


@register(
    "embedding_dup_pairs_lsh",
    f"""
    WITH {_lsh_bucket_cte(64, 8, 6)},
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
                         AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(CAST(va.embedding AS DOUBLE[]),
                                        CAST(vb.embedding AS DOUBLE[])), 6) AS cosine
    FROM cand c
    JOIN embeddings va ON va.vec_id = c.id_a
    JOIN embeddings vb ON vb.vec_id = c.id_b
    WHERE list_cosine_similarity(CAST(va.embedding AS DOUBLE[]),
                                 CAST(vb.embedding AS DOUBLE[])) >= 0.4
    """,
    headline=True,
)
def q_embedding_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline scale path for embedding dedup: LSH bucket candidates
    (id-only shuffle) → join vectors back → exact cosine verify.
    Deterministic hyperplanes make the banded candidate set
    oracle-replayable. Headline because it is the 100x-safe plan: cost is
    O(sum of bucket sizes squared), not O(n^2)."""
    pairs = dedup.embedding_dup_pairs(
        _t(spark, sf_dir, "embeddings"), dim=64, threshold=0.4,
    )
    return pairs.withColumn("cosine", F.round("cosine", 6))


# ---------------------------------------------------------------------------
# SQL-surface breadth: percentiles, statistical aggs, set ops, subqueries,
# date bucketing, fuzzy string matching
# ---------------------------------------------------------------------------


@register(
    "percentile_prices",
    """
    SELECT o_orderpriority,
           floor(quantile_cont(o_totalprice, 0.25) * 1000000 + 0.5) / 1000000.0 AS p25,
           floor(quantile_cont(o_totalprice, 0.5)  * 1000000 + 0.5) / 1000000.0 AS p50,
           floor(quantile_cont(o_totalprice, 0.9)  * 1000000 + 0.5) / 1000000.0 AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``; quantized to kill the fp interpolation tail).
    At 100 TB swap for ``approx_percentile`` — same call shape, sketch-based
    and mergeable instead of a full sort per group."""
    orders = _t(spark, sf_dir, "orders")
    qs = [0.25, 0.5, 0.9]
    names = ["p25", "p50", "p90"]
    return orders.groupBy("o_orderpriority").agg(
        *[
            H.quantize(F.percentile("o_totalprice", F.lit(q)), 6).alias(n)
            for q, n in zip(qs, names)
        ]
    )


@register(
    "stats_by_returnflag",
    """
    SELECT l_returnflag,
           floor(corr(l_extendedprice, l_quantity) * 10000 + 0.5) / 10000.0 AS price_qty_corr,
           floor(stddev_samp(l_discount) * 10000 + 0.5) / 10000.0 AS discount_sd,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr, stddev) — single-pass, map-side
    combinable moments."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        H.quantize(F.corr("l_extendedprice", "l_quantity"), 4).alias("price_qty_corr"),
        H.quantize(F.stddev_samp("l_discount"), 4).alias("discount_sd"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "intersect_custkeys",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (customers with both URGENT and LOW orders)."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@register(
    "exists_high_value",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)
def exists_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS subquery as a left-semi join — the big side never duplicates
    rows, and Catalyst pushes the price filter below the join."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    hits = orders.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return cust.join(hits, "c_custkey", "left_semi").select("c_custkey", "c_name")


@register(
    "monthly_order_counts",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS n_orders, {s} AS total
    FROM orders GROUP BY 1
    """.format(s=SQL_DSUM.format(x="o_totalprice")),
)
def monthly_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing (date_trunc) — DuckDB months come back as DATE, so
    both sides cast to date for the hash compare."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum(F.col("o_totalprice"), "total"))
    )


@register(
    "similar_nation_names",
    """
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS INTEGER) AS dist
    FROM nation a JOIN nation b ON a.n_name < b.n_name
    WHERE levenshtein(a.n_name, b.n_name) <= 4
    """,
)
def similar_nation_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching (edit distance) over a dim-sized self-join —
    the entity-resolution primitive; at fact scale, pre-block by a cheap key
    (first letter / length band) before the distance."""
    nation = _t(spark, sf_dir, "nation")
    a = nation.select(F.col("n_name").alias("name_a"))
    b = nation.select(F.col("n_name").alias("name_b"))
    return (
        a.join(b, F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("dist") <= 4)
    )


@register(
    "range_join_events",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           CAST(epoch_ms(p.pts) - epoch_ms(c.cts) AS BIGINT) AS delta_ms
    FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS pts
          FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT event_id, user_id AS cu, CAST(ts AS TIMESTAMP) AS cts
          FROM events WHERE event_type = 'click') c
      ON p.user_id = c.cu
     AND abs(epoch_ms(p.pts) - epoch_ms(c.cts)) <= 120000
    """,
    headline=True,
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: every (purchase, click) pair per user within ±2 minutes.
    Bucketed formulation (operators/range_join.py): equi-join on
    (key, time-bucket) with a 3× candidate set, never a per-key nested loop.
    """
    from ..operators.range_join import range_join as _rj

    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("user_id"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id"), F.col("user_id"), F.col("ts").alias("cts")
    )
    joined = _rj(p, c, "user_id", "pts", "cts", tolerance_ms=120000)
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        F.col("event_id_r").alias("click_id"),
        "user_id",
        (F.unix_millis("pts") - F.unix_millis("cts")).alias("delta_ms"),
    )


@register(
    "salted_join_revenue",
    """
    SELECT n.n_name, CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6)))
                          AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join whose ORACLE is the plain join — the driver gate
    itself proves salted == unsalted. orders (big, salted on a row hash) ×
    customer⋈nation (small side, replicated per salt): the pattern for a
    broadcast-ineligible dimension with one dominating key."""
    from ..operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    joined = salted_join(
        orders.select(F.col("o_custkey").alias("c_custkey"), "o_totalprice"),
        dim.select("c_custkey", "n_name"),
        on=["c_custkey"],
        n_salts=8,
    )
    return joined.groupBy("n_name").agg(
        dsum(F.col("o_totalprice"), "revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "salted_distinct_parts",
    """
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_distinct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def salted_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage skew-safe EXACT distinct count; oracle is the plain
    COUNT(DISTINCT). The value-hash salt makes per-shard counts disjoint,
    so the merge is a SUM of n_salts tiny rows per group — no single
    reducer ever sees a hot group's full value set."""
    from ..operators.skew import salted_count_distinct

    li = _t(spark, sf_dir, "lineitem")
    return salted_count_distinct(
        li, "l_returnflag", "l_partkey", n_salts=16
    ).withColumnRenamed("n_distinct", "n_distinct")


@register(
    "kmv_distinct_users",
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) / {float(1 << 60)} AS h
      FROM events
    ),
    kept AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM h QUALIFY rn <= 64
    )
    SELECT event_type, COUNT(*) AS n_kept,
           floor(CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                      ELSE 63.0 / MAX(h) END * 10000 + 0.5) / 10000.0
             AS est_distinct
    FROM kept GROUP BY event_type
    """,
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per event type — a mergeable sketch built
    from plain relational ops (distinct → windowed top-k → agg), bit-exact
    in both engines; WindowGroupLimit pushes the top-k map-side."""
    from ..operators.sketches import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    return kmv_distinct(ev, "event_type", "user_id", k=64)


@register(
    "running_revenue",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders WHERE o_custkey < 100
    """,
)
def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window sum per customer (decimal-accumulated so the
    running prefix sums are order-exact in both engines). The customer
    filter is pushed to the scan; the window sorts only within each
    customer's partition."""
    orders = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        orders.filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .over(w)
            .cast("double")
            .alias("running_total"),
        )
    )


@register(
    "price_quartiles",
    """
    WITH b AS (
      SELECT floor(quantile_cont(o_totalprice, 0.25) * 1000000 + 0.5) / 1000000.0 AS q1,
             floor(quantile_cont(o_totalprice, 0.50) * 1000000 + 0.5) / 1000000.0 AS q2,
             floor(quantile_cont(o_totalprice, 0.75) * 1000000 + 0.5) / 1000000.0 AS q3
      FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT o_orderkey,
           CAST(CASE WHEN o_totalprice <= q1 THEN 1
                     WHEN o_totalprice <= q2 THEN 2
                     WHEN o_totalprice <= q3 THEN 3
                     ELSE 4 END AS INTEGER) AS quartile
    FROM orders, b WHERE o_orderpriority = '1-URGENT'
    """,
)
def price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value quartiles without a global-order window: a 1-row percentile
    aggregate supplies the three boundaries (quantized so Spark
    ``percentile`` == DuckDB ``quantile_cont`` bit-for-bit), broadcast
    back over the slice, and a narrow CASE assigns buckets. Replaces the
    former single-partition ``ntile(4)`` sort — this shape is a scan +
    tiny agg + broadcast join, so it survives 100× (to go sketch-based
    at 100 TB, swap ``percentile`` for ``approx_percentile``)."""
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    bounds = urgent.agg(
        *[
            H.quantize(F.percentile("o_totalprice", F.lit(q)), 6).alias(n)
            for q, n in [(0.25, "q1"), (0.50, "q2"), (0.75, "q3")]
        ]
    )
    return (
        urgent.join(F.broadcast(bounds))
        .select(
            "o_orderkey",
            F.when(F.col("o_totalprice") <= F.col("q1"), 1)
            .when(F.col("o_totalprice") <= F.col("q2"), 2)
            .when(F.col("o_totalprice") <= F.col("q3"), 3)
            .otherwise(4)
            .cast("int")
            .alias("quartile"),
        )
    )


# ---------------------------------------------------------------------------
# Dataset-assembly / curation (north-star: operators/curation.py)
# ---------------------------------------------------------------------------

# DuckDB twin of functions.text.token_count (whitespace tokens incl. the
# ['']-for-empty convention both engines share).
_D_NTOK = "len(regexp_split_to_array(trim(text), '\\s+'))"


@register(
    "sequence_packing",
    f"""
    WITH t AS (
      SELECT doc_id, doc_id % 16 AS shard, {_D_NTOK} AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT shard, CAST(floor((cum - n_tokens) / 256) AS INTEGER) AS bin_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           floor(SUM(n_tokens) / 256.0 * 10000 + 0.5) / 10000.0 AS fill
    FROM c GROUP BY shard, bin_id
    """,
    headline=True,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-with-overflow sequence packing (curation.pack_bins): bin =
    floor(exclusive-prefix-tokens / capacity) inside each id-hash shard.
    One window cumsum per shard + one partial-agg rollup — both shuffles key
    on the shard, whose count is the free parallelism knob at 100 TB."""
    return curation.pack_bins(
        _t(spark, sf_dir, "documents"), capacity=256, n_shards=16
    )


@register(
    "sequence_packing_exact",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, doc_id % 16 AS shard, n_tokens,
             row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS rn
      FROM (SELECT doc_id, {_D_NTOK} AS n_tokens FROM documents)
    ),
    packed AS (
      SELECT shard, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN p.fill + t.n_tokens > 256
                  THEN p.bin_id + 1 ELSE p.bin_id END,
             CASE WHEN p.fill + t.n_tokens > 256
                  THEN t.n_tokens ELSE p.fill + t.n_tokens END
      FROM packed p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
    )
    SELECT doc_id, shard, CAST(n_tokens AS INTEGER) AS n_tokens, bin_id
    FROM packed
    """,
)
def sequence_packing_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict first-fit packing (curation.pack_sequences_exact): the
    fill-reset recurrence runs as applyInPandas per shard. The oracle
    replays the same recurrence as a DuckDB recursive CTE stepping one
    row per shard per iteration — bit-identical bin assignments."""
    return curation.pack_sequences_exact(
        _t(spark, sf_dir, "documents"), capacity=256, n_shards=16
    )


# Shared md5-uniform spelling (DuckDB side of functions.hashing.md5_long).
_D_MD5U = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    f" / {float(1 << 60)}"
)


@register(
    "stratified_sample",
    f"""
    SELECT doc_id, source FROM documents
    WHERE {_D_MD5U} < CASE source
      WHEN 'src0' THEN 0.8 WHEN 'src1' THEN 0.5
      WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.1 ELSE 0.05 END
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified Bernoulli sample (data mixing): keep iff
    md5-uniform(id) < rate[source]. Reproducible across engines, runs and
    cluster sizes — unlike DataFrame.sample. Narrow scan-side filter."""
    return curation.hash_rate_sample(
        _t(spark, sf_dir, "documents"),
        {"src0": 0.8, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        default_rate=0.05,
    ).select("doc_id", "source")


@register(
    "group_sample_topk",
    """
    SELECT doc_id, source, n_chars FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 3
    """,
)
def group_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group uniform k-sample = k smallest md5(id) per group — the
    deterministic reservoir. row_number<=k compiles to WindowGroupLimit so
    map tasks pre-prune to k rows per group before the shuffle."""
    return curation.group_topk_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars"), k=3
    )


@register(
    "pattern_redaction",
    r"""
    -- counts come from the progressively scrubbed string (n_<name> ==
    -- tags emitted), mirroring curation.redact_patterns
    WITH s1 AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(
               text, '\b(?:customer|part|order)\b')) AS INTEGER) AS n_acct,
             regexp_replace(text, '\b(?:customer|part|order)\b',
                            '[ACCT]', 'g') AS t1
      FROM documents)
    SELECT doc_id, n_acct,
           CAST(len(regexp_extract_all(
             t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             AS INTEGER) AS n_email,
           md5(regexp_replace(
             t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '[EMAIL]', 'g')) AS scrub_md5
    FROM s1
    """,
)
def pattern_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style pattern scrub (curation.redact_patterns): per-pattern
    occurrence counts + redacted text (hashed here to keep the result
    narrow). The 'acct' demo pattern exercises alternation/word-boundary
    parity on this corpus; the email pattern is the real PII regex (zero
    matches here, full fixture coverage in tests). Patterns apply in
    sorted-name order on both engines."""
    red = curation.redact_patterns(
        _t(spark, sf_dir, "documents"),
        {
            "acct": r"\b(?:customer|part|order)\b",
            "email": curation.PII_PATTERNS["email"],
        },
    )
    return red.select(
        "doc_id", "n_acct", "n_email", F.md5("scrubbed").alias("scrub_md5")
    )


@register(
    "weighted_group_sample",
    f"""
    WITH t AS (
      SELECT doc_id, source, CAST(1 << CAST(doc_id % 4 AS INTEGER) AS INTEGER) AS w,
             (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) + 1) / {float(1 << 60)} AS u
      FROM documents
    )
    SELECT doc_id, source, w FROM (
      SELECT doc_id, source, w,
             CASE WHEN w = 1 THEN u WHEN w = 2 THEN sqrt(u)
                  WHEN w = 4 THEN sqrt(sqrt(u))
                  WHEN w = 8 THEN sqrt(sqrt(sqrt(u)))
                  ELSE pow(u, 1.0 / w) END AS es_key
      FROM t)
    QUALIFY row_number() OVER (PARTITION BY source
                               ORDER BY es_key DESC, doc_id) <= 4
    """,
)
def q_weighted_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted reservoir (4 docs per source, weight
    2^(id mod 4)): selection key u^(1/w) with md5-uniform u. The demo
    weights are powers of two so the key is repeated sqrt — IEEE-exact,
    hence bit-identical across engines (pow's last ulp is libm-dependent
    and would not oracle-check)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", F.expr("CAST(shiftleft(1, CAST(pmod(doc_id, 4) AS INT)) AS INT)")
    )
    return curation.weighted_group_sample(
        docs.select("doc_id", "source", "w"), k=4, weight_col="w"
    )


@register(
    "passage_dup_stats",
    f"""
    WITH tk AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents),
    p AS (
      SELECT DISTINCT doc_id, passage_md5 FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(0, CAST(floor(len(toks) / 3) AS INTEGER)),
                 i -> md5(array_to_string(
                        list_slice(toks, i * 3 + 1, i * 3 + 3), ' '))))
                 AS passage_md5
        FROM tk)
    ),
    shared AS (SELECT passage_md5 FROM p GROUP BY 1 HAVING COUNT(*) > 1),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_passages FROM p GROUP BY 1),
    dup AS (
      SELECT doc_id, COUNT(*) AS n_dup FROM p
      WHERE passage_md5 IN (SELECT passage_md5 FROM shared) GROUP BY 1
    )
    SELECT per_doc.doc_id, n_passages,
           coalesce(n_dup, 0) AS n_dup_passages,
           floor(coalesce(n_dup, 0) / n_passages * 10000 + 0.5) / 10000.0
             AS dup_ratio
    FROM per_doc LEFT JOIN dup USING (doc_id)
    """,
    headline=True,
)
def q_passage_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage contamination (curation.passage_dup_stats):
    share of each doc's 3-token chunks that appear in another doc. All
    shuffle keys are md5 hashes — uniform, skew-free at 100 TB."""
    return curation.passage_dup_stats(_spread_docs(spark, sf_dir), n=3)


@register(
    "dup_spans",
    f"""
    WITH tk AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id, i + 1 AS pos,
             md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS h
      FROM (SELECT doc_id, toks,
                   unnest(range(0, len(toks) - 7)) AS i
            FROM tk)
    ),
    c AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
    d AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      FROM g WHERE h IN (SELECT h FROM c)
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
           COUNT(*) AS n_grams
    FROM d GROUP BY doc_id, pos - rn
    """,
    headline=True,
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exactly-duplicated token spans at any alignment
    (curation.duplicated_spans — the Lee et al. ACL'22 ExactSubstr
    detector): overlapping 8-token gram hashes built inside the token
    array, corpus-wide occurrence count via groupBy(h) (map-side combine
    collapses mega-duplicated boilerplate grams before the shuffle) +
    left-semi join, islands merge (pos − row_number) per doc. The
    alignment-free exact complement of passage_dup_stats's
    non-overlapping chunks."""
    return curation.duplicated_spans(_spread_docs(spark, sf_dir), k=8)


@register(
    "dup_span_scrub",
    f"""
    WITH tk AS (
      SELECT doc_id, {_D_TOKS} AS toks FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, i + 1 AS pos,
             md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS h
      FROM (SELECT doc_id, toks,
                   unnest(range(0, len(toks) - 7)) AS i
            FROM tk)
    ),
    c AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
    d AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      FROM g WHERE h IN (SELECT h FROM c)
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
      FROM d GROUP BY doc_id, pos - rn
    ),
    keyed AS (
      SELECT spans.doc_id, s, e,
             md5(array_to_string(list_slice(toks, s, e), ' ')) AS h
      FROM spans JOIN tk USING (doc_id)
    ),
    victim AS (
      SELECT doc_id, s, e FROM (
        SELECT doc_id, s, e,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
        FROM keyed) WHERE rn > 1
    ),
    drops AS (
      SELECT doc_id, list(p ORDER BY p) AS drops FROM (
        SELECT DISTINCT doc_id, p FROM (
          SELECT doc_id, unnest(range(s, e + 1)) AS p FROM victim))
      GROUP BY doc_id
    )
    SELECT tk.doc_id, len(toks) AS n_tokens,
           coalesce(len(drops), 0) AS n_dropped,
           -- array_to_string([]) is NULL in DuckDB, '' in Spark: a doc
           -- whose every token sat in a removed span scrubs to ''
           coalesce(array_to_string(
             list_transform(
               list_filter(range(1, len(toks) + 1),
                           p -> NOT list_contains(coalesce(drops, []), p)),
               p -> toks[p]),
             ' '), '') AS scrubbed
    FROM tk LEFT JOIN drops USING (doc_id)
    """,
)
def q_dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr REMOVAL (curation.scrub_duplicated_spans): spans
    cluster by the md5 of their FULL token range (only byte-identical
    lifts cluster); all but the canonical (lowest (doc, start))
    occurrence is deleted and the text rebuilt from surviving tokens —
    array-local array_except/element_at rebuild, O(n) per row. The
    canonical pick is a min(struct) aggregate on the span hash (map-side
    combine, no hot-key window) joined back AQE-skew-splittably."""
    return curation.scrub_duplicated_spans(_spread_docs(spark, sf_dir), k=8)


@register(
    "doc_chunks",
    f"""
    WITH tk AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
    SELECT doc_id, CAST(c.chunk_id AS INTEGER) AS chunk_id,
           c.chunk AS chunk, CAST(c.n_tokens AS INTEGER) AS n_tokens
    FROM (
      SELECT doc_id,
             unnest(list_transform(
               range(0, CAST(greatest(1, least(
                 ceil((len(toks) - 16) / 8.0) + 1,
                 ceil(len(toks) / 8.0))) AS INTEGER)),
               i -> struct_pack(
                 chunk_id := i,
                 chunk := array_to_string(
                   list_slice(toks, i * 8 + 1, i * 8 + 16), ' '),
                 n_tokens := least(len(toks) - i * 8, 16)))) AS c
      FROM tk)
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (curation.chunk_documents, 16-token windows,
    stride 8 → 50% overlap): the RAG / context-window preparation step. One
    let-bound tokenize + sequence/transform + explode — zero shuffles,
    chunking runs at scan speed."""
    return curation.chunk_documents(
        _t(spark, sf_dir, "documents"), size=16, stride=8
    )


@register(
    "passage_scrub",
    f"""
    WITH tk AS (
      SELECT doc_id, {_D_TOKS} AS toks FROM documents WHERE text IS NOT NULL
    ),
    base AS (
      SELECT doc_id, toks,
             CAST(floor(len(toks) / 3) AS INTEGER) AS nc
      FROM tk
    ),
    chunks AS (
      SELECT doc_id, c.pos AS pos, c.chunk AS chunk
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(0, nc),
                 i -> struct_pack(
                   pos := i,
                   chunk := array_to_string(
                     list_slice(toks, i * 3 + 1, i * 3 + 3), ' ')))) AS c
        FROM base)
    ),
    dfreq AS (
      SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY 1
    ),
    kept AS (
      SELECT c.doc_id,
             COUNT(*) AS n_passages,
             COUNT(*) FILTER (WHERE d.df > 1) AS n_dropped,
             string_agg(c.chunk, ' ' ORDER BY c.pos)
               FILTER (WHERE d.df <= 1) AS kept_txt
      FROM chunks c JOIN dfreq d USING (chunk)
      GROUP BY 1
    ),
    tails AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, nc * 3 + 1, len(toks)), ' ')
               AS tail
      FROM base
    )
    SELECT t.doc_id,
           CAST(coalesce(k.n_passages, 0) AS INTEGER) AS n_passages,
           CAST(coalesce(k.n_dropped, 0) AS INTEGER) AS n_dropped,
           trim(concat_ws(' ', coalesce(k.kept_txt, ''), t.tail)) AS scrubbed
    FROM tails t LEFT JOIN kept k USING (doc_id)
    """,
    headline=True,
)
def q_passage_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate passage REMOVAL (curation.scrub_duplicate_passages):
    delete every 3-token chunk shared by ≥2 documents and rebuild the
    scrubbed text — the CCNet/RefinedWeb shared-lines filter at passage
    granularity, and the removal counterpart of `passage_dup_stats`. The
    value hash covers the full reconstructed strings, so chunking, the
    df threshold, ordered reassembly, and tail handling are all pinned."""
    return curation.scrub_duplicate_passages(
        _spread_docs(spark, sf_dir), n=3, max_df=1
    )


@register(
    "passage_trim_within_doc",
    f"""
    WITH tk AS (
      SELECT doc_id, {_D_TOKS} AS toks FROM documents WHERE text IS NOT NULL
    ),
    base AS (
      SELECT doc_id, toks,
             CAST(floor(len(toks) / 3) AS INTEGER) AS nc
      FROM tk
    ),
    chunks AS (
      SELECT doc_id, c.pos AS pos, c.chunk AS chunk
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(0, nc),
                 i -> struct_pack(
                   pos := i,
                   chunk := array_to_string(
                     list_slice(toks, i * 3 + 1, i * 3 + 3), ' ')))) AS c
        FROM base)
    ),
    marked AS (
      SELECT doc_id, pos, chunk,
             min(pos) OVER (PARTITION BY doc_id, chunk) AS first_pos
      FROM chunks
    ),
    kept AS (
      SELECT doc_id,
             COUNT(*) AS n_passages,
             COUNT(*) FILTER (WHERE pos > first_pos) AS n_dropped,
             string_agg(chunk, ' ' ORDER BY pos)
               FILTER (WHERE pos = first_pos) AS kept_txt
      FROM marked
      GROUP BY 1
    ),
    tails AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, nc * 3 + 1, len(toks)), ' ')
               AS tail
      FROM base
    )
    SELECT t.doc_id,
           CAST(coalesce(k.n_passages, 0) AS INTEGER) AS n_passages,
           CAST(coalesce(k.n_dropped, 0) AS INTEGER) AS n_dropped,
           trim(concat_ws(' ', coalesce(k.kept_txt, ''), t.tail)) AS trimmed
    FROM tails t LEFT JOIN kept k USING (doc_id)
    """,
)
def q_passage_trim_within_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition trimming (curation.trim_repeated_passages):
    keep the first occurrence of each 3-token chunk inside a doc, delete
    later repeats, rebuild the text — the removal counterpart of the
    Gopher repetition signals. Shuffles only on doc-confined keys, so it
    scales with zero corpus-wide state."""
    return curation.trim_repeated_passages(_spread_docs(spark, sf_dir), n=3)


@register(
    "distinctive_terms",
    f"""
    WITH tok AS (SELECT source, unnest({_D_TOKS}) AS token FROM documents),
    tf AS (SELECT source, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    d AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    ng AS (SELECT COUNT(DISTINCT source) AS n_groups FROM documents),
    s AS (
      SELECT source, token,
             floor(tf * ln(CAST(n_groups AS DOUBLE) / df) * 1000000 + 0.5)
               / 1000000.0 AS tfidf
      FROM tf JOIN d USING (token) CROSS JOIN ng
    )
    SELECT source, token, tfidf, CAST(rank AS INTEGER) AS rank FROM (
      SELECT source, token, tfidf,
             row_number() OVER (PARTITION BY source
                                ORDER BY tfidf DESC, token) AS rank
      FROM s)
    WHERE rank <= 5
    """,
)
def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF top terms (curation.distinctive_terms): one explode
    → tf and df partial aggs, idf + group count joined as broadcasts, fully
    lazy. Scores quantized to 6 digits so the ln-based ranking is
    engine-reproducible; ties break on the token."""
    return curation.distinctive_terms(_t(spark, sf_dir, "documents"), k=5)


@register(
    "lang_source_rollup",
    f"""
    SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
           COUNT(*) AS n_docs, CAST(SUM({_D_NTOK}) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY ROLLUP(lang, source)
    """,
)
def lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical corpus inventory via GROUPING SETS: per (lang, source),
    per lang, and grand total in ONE pass — rollup computes all three
    granularities from a single shuffle with partial aggregation, instead
    of three scans. 'ALL' stands in for the rollup's NULL markers (the
    synthetic corpus has no NULL lang/source, so coalesce is unambiguous;
    with nullable keys use grouping() to disambiguate)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(T.token_count(F.col("text"))).alias("total_tokens"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "total_tokens",
        )
    )


# CDC chunk table as a reusable SQL fragment: token stream → md5-derived
# boundary flags → prefix-sum chunk ids → one row per (doc, chunk) with the
# reassembled chunk text. Exactly replays curation.cdc_chunks (same 60-bit
# md5 prefix, same mod, boundary AFTER the matching token). ``p`` prefixes
# every CTE name so two corpus versions can be chunked in one statement.
_CDC_CHUNKS = """
    {p}tk AS (SELECT doc_id, {toks} AS toks FROM {src}),
    {p}pos AS (
      SELECT doc_id, i, toks[i + 1] AS tok,
             CASE WHEN CAST(concat('0x', substr(md5(toks[i + 1]), 1, 15))
                       AS BIGINT) % {m} = 0 THEN 1 ELSE 0 END AS b
      FROM {p}tk, unnest(range(0, CAST(len(toks) AS INTEGER))) AS u(i)
    ),
    {p}cid AS (
      SELECT doc_id, i, tok,
             COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS chunk_id
      FROM {p}pos
    ),
    {p}chunks AS (
      SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
             string_agg(tok, ' ' ORDER BY i) AS chunk,
             CAST(COUNT(*) AS INTEGER) AS n_tokens
      FROM {p}cid GROUP BY doc_id, chunk_id
    )
"""


@register(
    "cdc_chunks",
    "WITH"
    + _CDC_CHUNKS.format(toks=_D_TOKS, src="documents", m=8, p="")
    + """
    SELECT doc_id, chunk_id, md5(chunk) AS chunk_md5, n_tokens
    FROM chunks
    """,
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (curation.cdc_chunks, avg 8 tokens): the
    rsync/LBFS boundary scheme at token granularity — chunk ends after any
    token whose md5-derived hash ≡ 0 mod 8, so boundaries depend only on
    local content. Zero-shuffle fold per row; the hash pins every boundary
    decision and every reassembled chunk byte-for-byte."""
    docs = _t(spark, sf_dir, "documents")
    return curation.cdc_chunks(docs, avg_tokens=8).select(
        "doc_id", "chunk_id", F.md5("chunk").alias("chunk_md5"), "n_tokens"
    )


@register(
    "cdc_chunks_bounded",
    """
    WITH RECURSIVE
    tk AS (SELECT doc_id, {toks} AS toks FROM documents),
    pos AS (
      SELECT doc_id, i,
             CASE WHEN CAST(concat('0x', substr(md5(toks[i + 1]), 1, 15))
                       AS BIGINT) % {m} = 0 THEN 1 ELSE 0 END AS b,
             CAST(len(toks) AS INTEGER) AS n
      FROM tk, unnest(range(0, CAST(len(toks) AS INTEGER))) AS u(i)
    ),
    nb AS (
      SELECT doc_id, i, n,
             min(CASE WHEN b = 1 THEN i END) OVER (
               PARTITION BY doc_id ORDER BY i DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nxt
      FROM pos
    ),
    rec AS (
      SELECT nb.doc_id, 0 AS chunk_id, 0 AS s,
             CASE WHEN nxt IS NOT NULL AND nxt <= least({maxt}, n) - 1
                  THEN nxt ELSE least({maxt}, n) - 1 END AS e,
             n
      FROM nb WHERE nb.i = least({mint} - 1, nb.n - 1)
      UNION ALL
      SELECT r.doc_id, r.chunk_id + 1, r.e + 1 AS s,
             CASE WHEN nb.nxt IS NOT NULL
                       AND nb.nxt <= least(r.e + 1 + {maxt}, r.n) - 1
                  THEN nb.nxt ELSE least(r.e + 1 + {maxt}, r.n) - 1 END AS e,
             r.n
      FROM rec r JOIN nb
        ON nb.doc_id = r.doc_id
       AND nb.i = least(r.e + 1 + {mint} - 1, r.n - 1)
      WHERE r.e + 1 <= r.n - 1
    ),
    bchunks AS (
      SELECT rec.doc_id, chunk_id,
             array_to_string(toks[s + 1 : e + 1], ' ') AS chunk,
             e - s + 1 AS n_tokens
      FROM rec JOIN tk ON rec.doc_id = tk.doc_id
    )
    SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
           md5(chunk) AS chunk_md5, CAST(n_tokens AS INTEGER) AS n_tokens
    FROM bchunks
    """.format(toks=_D_TOKS, m=8, mint=4, maxt=16),
)
def q_cdc_chunks_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastCDC-style normalized chunking (curation.cdc_chunks with
    min_tokens=4 / max_tokens=16, avg 8): content boundaries suppressed
    below the min and forced at the max, so the one degenerate input of
    plain CDC — a boundary-free document producing an unbounded chunk —
    cannot occur (every non-final chunk provably has 4 <= n_tokens <= 16;
    tests/test_curation.py asserts the bound). The Spark side is the same
    zero-shuffle codegen fold with a pending-token counter; the oracle
    replays the sequential bound logic as a recursive CTE over a
    next-flagged-position index (one step per CHUNK, not per token)."""
    docs = _t(spark, sf_dir, "documents")
    return curation.cdc_chunks(
        docs, avg_tokens=8, min_tokens=4, max_tokens=16
    ).select(
        "doc_id", "chunk_id", F.md5("chunk").alias("chunk_md5"), "n_tokens"
    )


@register(
    "cdc_bounded_length_stats",
    """
    WITH RECURSIVE
    tk AS (SELECT doc_id, {toks} AS toks FROM documents),
    pos AS (
      SELECT doc_id, i,
             CASE WHEN CAST(concat('0x', substr(md5(toks[i + 1]), 1, 15))
                       AS BIGINT) % {m} = 0 THEN 1 ELSE 0 END AS b,
             CAST(len(toks) AS INTEGER) AS n
      FROM tk, unnest(range(0, CAST(len(toks) AS INTEGER))) AS u(i)
    ),
    nb AS (
      SELECT doc_id, i, n,
             min(CASE WHEN b = 1 THEN i END) OVER (
               PARTITION BY doc_id ORDER BY i DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nxt
      FROM pos
    ),
    rec AS (
      SELECT nb.doc_id, 0 AS chunk_id, 0 AS s,
             CASE WHEN nxt IS NOT NULL AND nxt <= least({maxt}, n) - 1
                  THEN nxt ELSE least({maxt}, n) - 1 END AS e,
             n
      FROM nb WHERE nb.i = least({mint} - 1, nb.n - 1)
      UNION ALL
      SELECT r.doc_id, r.chunk_id + 1, r.e + 1 AS s,
             CASE WHEN nb.nxt IS NOT NULL
                       AND nb.nxt <= least(r.e + 1 + {maxt}, r.n) - 1
                  THEN nb.nxt ELSE least(r.e + 1 + {maxt}, r.n) - 1 END AS e,
             r.n
      FROM rec r JOIN nb
        ON nb.doc_id = r.doc_id
       AND nb.i = least(r.e + 1 + {mint} - 1, r.n - 1)
      WHERE r.e + 1 <= r.n - 1
    ),
    ub AS (
      SELECT doc_id,
             COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS chunk_id
      FROM pos
    ),
    umax AS (
      SELECT CAST(MAX(cnt) AS INTEGER) AS unbounded_max_tokens
      FROM (SELECT COUNT(*) AS cnt FROM ub GROUP BY doc_id, chunk_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS bounded_n_chunks,
           CAST(MAX(e - s + 1) AS INTEGER) AS bounded_max_tokens,
           CAST(MIN(e - s + 1) FILTER (WHERE chunk_id < mx) AS INTEGER)
             AS bounded_nonfinal_min_tokens,
           (SELECT unbounded_max_tokens FROM umax) AS unbounded_max_tokens
    FROM (SELECT s, e, chunk_id,
                 max(chunk_id) OVER (PARTITION BY doc_id) AS mx
          FROM rec)
    """.format(toks=_D_TOKS, m=8, mint=4, maxt=16),
)
def q_cdc_bounded_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FastCDC bound as a MEASURED CLAIM (not just a pytest): over the
    whole corpus, every bounded chunk has n_tokens <= 16 and every
    NON-FINAL chunk has n_tokens >= 4, while the UNBOUNDED chunker's
    longest chunk (same corpus, same content boundaries) exceeds the cap
    — the degenerate case the bounds exist to kill, shown in the same
    row. One window (per-doc max chunk_id) + one conditional aggregate
    per chunker; the two 1-row aggregates assemble via broadcast
    crossJoin."""
    docs = _t(spark, sf_dir, "documents")
    b = curation.cdc_chunks(docs, avg_tokens=8, min_tokens=4, max_tokens=16)
    wb = Window.partitionBy("doc_id")
    bb = b.select(
        "chunk_id", "n_tokens", F.max("chunk_id").over(wb).alias("__mx")
    )
    agg_b = bb.agg(
        F.count(F.lit(1)).alias("bounded_n_chunks"),
        F.max("n_tokens").cast("int").alias("bounded_max_tokens"),
        F.min(
            F.when(F.col("chunk_id") < F.col("__mx"), F.col("n_tokens"))
        ).cast("int").alias("bounded_nonfinal_min_tokens"),
    )
    agg_u = curation.cdc_chunks(docs, avg_tokens=8).agg(
        F.max("n_tokens").cast("int").alias("unbounded_max_tokens")
    )
    return agg_b.crossJoin(agg_u)


@register(
    "cdc_dedup_ratio",
    "WITH"
    + _CDC_CHUNKS.format(toks=_D_TOKS, src="documents", m=8, p="")
    + """
    , per AS (
      SELECT md5(chunk) AS h, n_tokens,
             row_number() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, chunk_id) AS rn
      FROM chunks
    )
    SELECT COUNT(*) AS n_chunks,
           COUNT(*) FILTER (WHERE rn = 1) AS n_unique_chunks,
           SUM(n_tokens) AS total_tokens,
           SUM(n_tokens) FILTER (WHERE rn = 1) AS unique_tokens,
           floor((1 - SUM(n_tokens) FILTER (WHERE rn = 1) * 1.0
                      / SUM(n_tokens)) * 10000 + 0.5) / 10000.0
             AS token_savings
    FROM per
    """,
)
def q_cdc_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-dedup ratio over CDC chunks: how many token-weighted chunks
    a content-addressed store would keep exactly once. One groupBy on the
    chunk hash (map-side combine collapses repeats before the shuffle),
    then a 1-row rollup — the dedup-savings report for a versioned corpus
    snapshot store."""
    docs = _t(spark, sf_dir, "documents")
    ch = curation.cdc_chunks(docs, avg_tokens=8)
    w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_id")
    per = ch.select(
        "n_tokens", F.row_number().over(w).alias("rn")
    )
    first = (F.col("rn") == 1).cast("long")
    return per.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(first).alias("n_unique_chunks"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.col("n_tokens") * first).cast("long").alias("unique_tokens"),
        H.quantize(
            1
            - F.sum(F.col("n_tokens") * first)
            / F.sum("n_tokens"),
            4,
        ).alias("token_savings"),
    )


@register(
    "cdc_boundary_stability",
    "WITH"
    + _CDC_CHUNKS.format(toks=_D_TOKS, src="documents", m=8, p="")
    + ","
    + _CDC_CHUNKS.format(
        toks="regexp_split_to_array(trim(lower("
             "'inserted preamble tokens ' || text)), '\\s+')",
        src="documents", m=8, p="b_",
    )
    + """
    , fixed AS (
      SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY i)) AS h
      FROM cid GROUP BY doc_id, CAST(floor(i / 8) AS INTEGER)
    ),
    fixed2 AS (
      SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY i)) AS h
      FROM b_cid GROUP BY doc_id, CAST(floor(i / 8) AS INTEGER)
    ),
    ca AS (SELECT DISTINCT doc_id, md5(chunk) AS h FROM chunks),
    cb AS (SELECT DISTINCT doc_id, md5(chunk) AS h FROM b_chunks),
    fa AS (SELECT DISTINCT doc_id, h FROM fixed),
    fb AS (SELECT DISTINCT doc_id, h FROM fixed2)
    SELECT (SELECT COUNT(*) FROM ca) AS n_cdc_chunks,
           floor((SELECT COUNT(*) FROM ca SEMI JOIN cb USING (doc_id, h))
                 * 1.0 / (SELECT COUNT(*) FROM ca) * 10000 + 0.5) / 10000.0
             AS cdc_preserved_share,
           floor((SELECT COUNT(*) FROM fa SEMI JOIN fb USING (doc_id, h))
                 * 1.0 / (SELECT COUNT(*) FROM fa) * 10000 + 0.5) / 10000.0
             AS fixed_preserved_share
    """,
)
def q_cdc_boundary_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured CLAIM behind CDC: prepend a 3-token preamble to every
    document (the versioned-snapshot edit) and count distinct per-doc
    chunk hashes that survive. Content-defined boundaries re-sync right
    after the edit, so almost every chunk survives; fixed 8-token windows
    shift wholesale and survive only by accident. Four distinct-chunk
    sets, three left-semi counts, one broadcast scalar assembly — the
    same measured-proof shape as rendezvous_reshard_moves."""
    docs = _t(spark, sf_dir, "documents")
    pre = docs.withColumn(
        "text", F.concat(F.lit("inserted preamble tokens "), F.col("text"))
    )

    def _cdc_set(d):
        return (
            curation.cdc_chunks(d, avg_tokens=8)
            .select("doc_id", F.md5("chunk").alias("h"))
            .distinct()
        )

    def _fixed_set(d):
        return (
            curation.chunk_documents(d, size=8)
            .select("doc_id", F.md5("chunk").alias("h"))
            .distinct()
        )

    ca, cb = _cdc_set(docs), _cdc_set(pre)
    fa, fb = _fixed_set(docs), _fixed_set(pre)
    n_ca = ca.agg(F.count(F.lit(1)).alias("n_cdc_chunks"))
    n_ca_kept = ca.join(cb, ["doc_id", "h"], "left_semi").agg(
        F.count(F.lit(1)).alias("__ck")
    )
    n_fa = fa.agg(F.count(F.lit(1)).alias("__fn"))
    n_fa_kept = fa.join(fb, ["doc_id", "h"], "left_semi").agg(
        F.count(F.lit(1)).alias("__fk")
    )
    return (
        n_ca.crossJoin(n_ca_kept).crossJoin(n_fa).crossJoin(n_fa_kept)
        .select(
            "n_cdc_chunks",
            H.quantize(F.col("__ck") / F.col("n_cdc_chunks"), 4).alias(
                "cdc_preserved_share"
            ),
            H.quantize(F.col("__fk") / F.col("__fn"), 4).alias(
                "fixed_preserved_share"
            ),
        )
    )


@register(
    "cdc_delta_sync",
    "WITH"
    + _CDC_CHUNKS.format(toks=_D_TOKS, src="documents", m=8, p="")
    + ","
    + _CDC_CHUNKS.format(
        toks="regexp_split_to_array(trim(lower("
             "'inserted preamble tokens ' || text)), '\\s+')",
        src="documents", m=8, p="v2_",
    )
    + """
    , ca AS (SELECT DISTINCT doc_id, md5(chunk) AS h, n_tokens
             FROM chunks),
    cb AS (SELECT DISTINCT doc_id, md5(chunk) AS h, n_tokens
           FROM v2_chunks),
    nw AS (
      SELECT cb.doc_id, cb.n_tokens FROM cb
      ANTI JOIN ca USING (doc_id, h)
    ),
    per AS (
      SELECT doc_id, COUNT(*) AS n_chunks, SUM(n_tokens) AS total_tokens
      FROM cb GROUP BY 1
    ),
    dl AS (
      SELECT doc_id, COUNT(*) AS n_new_chunks,
             SUM(n_tokens) AS upload_tokens
      FROM nw GROUP BY 1
    )
    SELECT per.doc_id, n_chunks,
           coalesce(n_new_chunks, 0) AS n_new_chunks,
           coalesce(upload_tokens, 0) AS upload_tokens,
           floor((1 - coalesce(upload_tokens, 0) / total_tokens)
                 * 10000 + 0.5) / 10000.0 AS reuse_share
    FROM per LEFT JOIN dl USING (doc_id)
    """,
)
def q_cdc_delta_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC use case end-to-end: v2 of every document prepends a
    3-token header (the localized edit of a versioned snapshot — same
    perturbation the boundary-stability proof uses), and a
    content-addressed store only uploads the chunks v2 introduces — per
    doc: chunk count, new chunks, tokens to upload, and the reuse share
    the content-defined boundaries preserve. Fixed windows shift
    wholesale under the same edit and would re-upload ~everything
    (cdc_boundary_stability measures that contrast directly). Two
    zero-shuffle chunkings, one anti-join on (doc, chunk-hash), two
    per-doc rollups."""
    docs = _t(spark, sf_dir, "documents")
    v2 = docs.withColumn(
        "text", F.concat(F.lit("inserted preamble tokens "), F.col("text"))
    )
    ca = (
        curation.cdc_chunks(docs, avg_tokens=8)
        .select("doc_id", F.md5("chunk").alias("h"), "n_tokens")
        .distinct()
    )
    cb = (
        curation.cdc_chunks(v2, avg_tokens=8)
        .select("doc_id", F.md5("chunk").alias("h"), "n_tokens")
        .distinct()
    )
    new = cb.join(ca, ["doc_id", "h"], "left_anti")
    per = cb.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("__tt"),
    )
    dl = new.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_new_chunks"),
        F.sum("n_tokens").alias("upload_tokens"),
    )
    return per.join(dl, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_new_chunks", F.lit(0)).alias("n_new_chunks"),
        F.coalesce("upload_tokens", F.lit(0)).alias("upload_tokens"),
        H.quantize(
            1 - F.coalesce("upload_tokens", F.lit(0)) / F.col("__tt"), 4
        ).alias("reuse_share"),
    )


@register(
    "cross_source_dup_matrix",
    f"""
    WITH mh AS (SELECT id_a, id_b FROM ({_d_minhash_sql()}) m),
    lab AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM mh
      JOIN documents da ON mh.id_a = da.doc_id
      JOIN documents db ON mh.id_b = db.doc_id
    )
    SELECT source_a, source_b, COUNT(*) AS n_pairs
    FROM lab GROUP BY 1, 2
    """,
)
def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance rollup of near-duplication: the MinHash pair set labeled
    with each side's source, pair-symmetric (least/greatest), counted per
    source pair — the "which feeds copy from which" audit that decides
    whose documents the survivor policy keeps. Two doc_id equi-joins onto
    the tiny (doc_id, source) projection and a |sources|²-bounded agg on
    top of the banded-LSH pair plan."""
    pairs = dedup.minhash_dedup_pairs(
        _spread_docs(spark, sf_dir), threshold=0.8
    ).select("id_a", "id_b")
    dim = _t(spark, sf_dir, "documents").select("doc_id", "source")
    lab = (
        pairs.join(
            dim.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("__sa")
            ),
            "id_a",
        )
        .join(
            dim.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("__sb")
            ),
            "id_b",
        )
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
    )
    return lab.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


_RDV_W = (
    "CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '#', "
    "CAST(i AS VARCHAR))), 1, 15)) AS BIGINT)"
)


@register(
    "rendezvous_shards",
    f"""
    WITH w AS (
      SELECT doc_id, i, {_RDV_W} AS w
      FROM documents, unnest(range(0, 8)) AS u(i)
    )
    SELECT doc_id, CAST(i AS INTEGER) AS shard FROM w
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY w DESC, i DESC) = 1
    """,
    headline=True,
)
def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous/HRW shard assignment (layout.rendezvous_shard, n=8):
    shard = argmax_i md5(key#i). Narrow codegen expression, no shuffle;
    the oracle replays the argmax as a window rank over the same md5
    weights. See `rendezvous_reshard_moves` for the property that makes
    HRW worth its O(n) per-row cost."""
    from ..operators import layout

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return layout.rendezvous_shard(docs, "doc_id", 8)


@register(
    "rendezvous_reshard_moves",
    f"""
    WITH w AS (
      SELECT doc_id, i, {_RDV_W} AS w
      FROM documents, unnest(range(0, 9)) AS u(i)
    ),
    s8 AS (
      SELECT doc_id, i AS shard FROM w WHERE i < 8
      QUALIFY row_number() OVER (PARTITION BY doc_id
                                 ORDER BY w DESC, i DESC) = 1
    ),
    s9 AS (
      SELECT doc_id, i AS shard FROM w
      QUALIFY row_number() OVER (PARTITION BY doc_id
                                 ORDER BY w DESC, i DESC) = 1
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE s8.shard <> s9.shard) AS n_moved,
           COUNT(*) FILTER (WHERE s8.shard <> s9.shard
                            AND s9.shard <> 8) AS n_moved_wrong,
           floor(COUNT(*) FILTER (WHERE s8.shard <> s9.shard) * 1.0
                 / COUNT(*) * 10000 + 0.5) / 10000.0 AS moved_share
    FROM s8 JOIN s9 USING (doc_id)
    """,
)
def q_rendezvous_reshard_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reason rendezvous sharding exists: growing 8 → 9 shards moves
    only the keys whose NEW shard's weight beats their old maximum — an
    expected 1/9 ≈ 11% of the corpus, every one of them moving TO the new
    shard (n_moved_wrong is structurally 0; mod-hash would remap ~89%).
    One narrow pass computes both assignments; the single-row aggregate
    is the whole shuffle."""
    from ..operators import layout

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    both = layout.rendezvous_shard(
        layout.rendezvous_shard(docs, "doc_id", 8, "s8"), "doc_id", 9, "s9"
    )
    moved = F.col("s8") != F.col("s9")
    return both.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(moved.cast("int")).alias("n_moved"),
        F.sum((moved & (F.col("s9") != 8)).cast("int")).alias(
            "n_moved_wrong"
        ),
        H.quantize(
            F.sum(moved.cast("int")) / F.count(F.lit(1)), 4
        ).alias("moved_share"),
    )


_WRDV_WEIGHTS = [1, 2, 3]
_WRDV_VALUES = ", ".join(
    f"('#{i}~{j}', {i})"
    for i, wt in enumerate(_WRDV_WEIGHTS)
    for j in range(wt)
)


@register(
    "weighted_shard_shares",
    f"""
    WITH v(salt, i) AS (VALUES {_WRDV_VALUES}),
    w AS (
      SELECT doc_id, i,
             CAST(concat('0x', substr(md5(concat(
               CAST(doc_id AS VARCHAR), salt)), 1, 15)) AS BIGINT) AS w
      FROM documents CROSS JOIN v
    ),
    pick AS (
      SELECT doc_id, i FROM w
      QUALIFY row_number() OVER (PARTITION BY doc_id
                                 ORDER BY w DESC, i DESC) = 1
    )
    SELECT CAST(i AS INTEGER) AS shard, COUNT(*) AS n_docs
    FROM pick GROUP BY 1
    """,
)
def q_weighted_shard_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-proportional placement (layout.weighted_rendezvous_shard,
    weights 1:2:3): per-shard key counts land on the weight ratios in
    expectation. Virtual-node HRW keeps the comparison integer/md5-exact,
    so the oracle replays placement bit-for-bit — no float-ranking
    (straw2) last-ulp risk."""
    from ..operators import layout

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (
        layout.weighted_rendezvous_shard(docs, "doc_id", _WRDV_WEIGHTS)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "shuffle_assignment",
    f"""
    SELECT doc_id,
           CAST(h % 64 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY h % 64 ORDER BY h, doc_id)
                AS BIGINT) AS pos
    FROM (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM documents)
    """,
)
def shuffle_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc gets a
    (shard, position) from its md5 — reproducible on any cluster size,
    unlike orderBy(rand()). Writing shard-partitioned output in pos order
    yields a stable shuffled epoch; the per-shard window sorts only
    1/64th of the corpus (shard count scales with data)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    h = H.md5_long(F.col("doc_id"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select(
            "doc_id",
            h.alias("h"),
            F.pmod(h, F.lit(64)).cast("int").alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .drop("h")
    )


@register(
    "benchmark_contamination",
    f"""
    WITH tk AS (SELECT doc_id, source, {_D_TOKS} AS toks FROM documents),
    p0 AS (
      SELECT doc_id, source,
             unnest(list_transform(
               range(0, CAST(floor(len(toks) / 3) AS INTEGER)),
               i -> md5(array_to_string(
                      list_slice(toks, i * 3 + 1, i * 3 + 3), ' '))))
               AS passage_md5
      FROM tk),
    corpus AS (SELECT DISTINCT doc_id, passage_md5 FROM p0
               WHERE source <> 'src0'),
    ref AS (SELECT DISTINCT passage_md5 FROM p0 WHERE source = 'src0'),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_cont FROM corpus
      WHERE passage_md5 IN (SELECT passage_md5 FROM ref) GROUP BY 1),
    per AS (SELECT doc_id, COUNT(*) AS n_passages FROM corpus GROUP BY 1)
    SELECT per.doc_id, n_passages,
           coalesce(n_cont, 0) AS n_contaminated,
           floor(coalesce(n_cont, 0) / n_passages * 10000 + 0.5) / 10000.0
             AS contamination
    FROM per LEFT JOIN hits USING (doc_id)
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus decontamination (curation.contamination_overlap): the
    share of each training doc's 3-token passages that appear anywhere in a
    held-out benchmark set (src0 stands in as the benchmark here). The
    reference collapses to its distinct passage-hash set before the
    semi-join — benchmark corpora are tiny next to training corpora, so the
    probe side broadcasts and the training corpus is touched once."""
    docs = _t(spark, sf_dir, "documents")
    return curation.contamination_overlap(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=3,
    )


@register("benchmark_contamination_bloom", QUERIES["benchmark_contamination"].oracle)
def benchmark_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with the Bloom prescreen: training passages bit-test
    against a broadcast bitmap of the benchmark passages before the exact
    semi-join — the plan for when the union of benchmark suites outgrows
    the broadcast threshold and the semi-join would shuffle the full
    training passage set. Same oracle as benchmark_contamination: the
    bloom is a superset prune, so the answer is identical by construction
    (and hash-checked here)."""
    docs = _t(spark, sf_dir, "documents")
    return curation.contamination_overlap(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=3,
        prescreen_bloom=True,
        bloom_bits=1 << 20,
    )


def _curation_funnel_sql() -> str:
    """Composed oracle: fingerprint dedup → K1-restricted minhash closure →
    quality replay → contamination replay, reported as the 5-stage
    sequential funnel (each stage's keep-set derives from the previous)."""
    quality = QUERIES["quality_scores"].oracle
    cont = QUERIES["benchmark_contamination"].oracle
    return f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, source, len({_D_TOKS}) AS n_toks FROM documents
    ),
    k1 AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY md5({_D_NORM})
                                  ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    mh AS (
      SELECT id_a, id_b FROM ({_d_minhash_sql()}) m
      WHERE id_a IN (SELECT doc_id FROM k1)
        AND id_b IN (SELECT doc_id FROM k1)
    ),
    e AS (SELECT id_a AS u, id_b AS v FROM mh
          UNION SELECT id_b, id_a FROM mh),
    reach AS (
      SELECT u, v FROM e
      UNION
      SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
    ),
    losers2 AS (
      SELECT u AS doc_id FROM reach GROUP BY u HAVING least(u, MIN(v)) <> u
    ),
    k2 AS (SELECT doc_id FROM k1
           WHERE doc_id NOT IN (SELECT doc_id FROM losers2)),
    q AS ({quality}),
    k3 AS (SELECT k2.doc_id FROM k2 JOIN q USING (doc_id)
           WHERE q.quality >= 0.3),
    cont AS ({cont}),
    k4 AS (
      SELECT k3.doc_id FROM k3 JOIN documents d USING (doc_id)
      WHERE d.source <> 'src0'
        AND k3.doc_id NOT IN
            (SELECT doc_id FROM cont WHERE contamination > 0.2)
    )
    SELECT 1 AS stage, 'raw' AS label,
           COUNT(*) AS n_docs, SUM(n_toks) AS n_tokens FROM base
    UNION ALL
    SELECT 2, 'exact_dedup', COUNT(*), SUM(n_toks)
    FROM base WHERE doc_id IN (SELECT doc_id FROM k1)
    UNION ALL
    SELECT 3, 'near_dedup', COUNT(*), SUM(n_toks)
    FROM base WHERE doc_id IN (SELECT doc_id FROM k2)
    UNION ALL
    SELECT 4, 'quality', COUNT(*), SUM(n_toks)
    FROM base WHERE doc_id IN (SELECT doc_id FROM k3)
    UNION ALL
    SELECT 5, 'decontaminated', COUNT(*), SUM(n_toks)
    FROM base WHERE doc_id IN (SELECT doc_id FROM k4)
    """


@register("curation_funnel", _curation_funnel_sql())
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus build as one auditable number series: docs and tokens
    surviving each SEQUENTIAL stage — raw → exact dedup (lowest id per
    normalized-text fingerprint) → near-dedup (minhash pairs restricted to
    the exact-dedup keep-set, smallest-id canonical per component) →
    quality >= 0.3 → decontaminated (benchmark source dropped, docs over
    20% passage contamination dropped). Every stage reuses a registered
    operator; the oracle composes their replays, so the funnel's every
    cliff is hash-checked. The report a data lead reads before a training
    run ships."""
    from ..operators import graph

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source",
        F.size(T.tokens(F.lower(F.col("text")))).alias("n_toks"),
    )
    k1 = dedup.exact_dedup(docs).select("doc_id")
    pairs = (
        _minhash_pairs_df(spark, sf_dir)
        .join(k1.select(F.col("doc_id").alias("id_a")), "id_a", "left_semi")
        .join(k1.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi")
    )
    k2 = graph.keep_canonical(k1, pairs)
    q = textstats.quality_scores(docs).select("doc_id", "quality")
    k3 = k2.join(q, "doc_id").filter(F.col("quality") >= 0.3).select("doc_id")
    cont = curation.contamination_overlap(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=3,
    )
    leaky = cont.filter(F.col("contamination") > 0.2).select("doc_id")
    k4 = (
        k3.join(
            docs.filter(F.col("source") != "src0").select("doc_id"),
            "doc_id",
            "left_semi",
        ).join(leaky, "doc_id", "left_anti")
    )

    def stage(n, label, keep=None):
        kept = base if keep is None else base.join(keep, "doc_id", "left_semi")
        return kept.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        ).select(
            F.lit(n).alias("stage"),
            F.lit(label).alias("label"),
            "n_docs",
            "n_tokens",
        )

    return (
        stage(1, "raw")
        .unionByName(stage(2, "exact_dedup", k1))
        .unionByName(stage(3, "near_dedup", k2))
        .unionByName(stage(4, "quality", k3))
        .unionByName(stage(5, "decontaminated", k4))
    )


@register(
    "skipgram_contamination",
    f"""
    WITH tk AS (SELECT doc_id, source, {_D_TOKS} AS toks FROM documents),
    sg AS (
      SELECT doc_id, source,
             unnest(CASE WHEN len(toks) - 2 >= 1 THEN list_transform(
               range(0, CAST(len(toks) - 2 AS INTEGER)),
               i -> md5(toks[i + 1] || ' _ ' || toks[i + 3]))
               ELSE [] END) AS passage_md5
      FROM tk),
    corpus AS (SELECT DISTINCT doc_id, passage_md5 FROM sg
               WHERE source <> 'src0'),
    ref AS (SELECT DISTINCT passage_md5 FROM sg WHERE source = 'src0'),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_cont FROM corpus
      WHERE passage_md5 IN (SELECT passage_md5 FROM ref) GROUP BY 1),
    per AS (SELECT doc_id, COUNT(*) AS n_pairs FROM corpus GROUP BY 1)
    SELECT per.doc_id, n_pairs,
           coalesce(n_cont, 0) AS n_contaminated,
           floor(coalesce(n_cont, 0) / n_pairs * 10000 + 0.5) / 10000.0
             AS contamination
    FROM per LEFT JOIN hits USING (doc_id)
    """,
)
def q_skipgram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-robust decontamination (curation.skipgram_contamination):
    sliding gap-1 skip-gram fingerprints md5(tok_i ‖ ' _ ' ‖ tok_{i+2})
    instead of contiguous passages — a pair survives any edit landing in
    its gap, so the classic change-one-word paraphrase of benchmark
    leakage still registers. Same broadcast-semi-join plan shape as
    benchmark_contamination."""
    docs = _t(spark, sf_dir, "documents")
    return curation.skipgram_contamination(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        gap=1,
    )


@register(
    "skipgram_vs_ngram_under_edits",
    f"""
    WITH tk AS (SELECT doc_id, source, {_D_TOKS} AS toks FROM documents),
    pt AS (
      SELECT doc_id, source, toks,
             list_transform(toks, t -> CASE WHEN
               CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 7 = 0
               THEN 'xx' ELSE t END) AS ptk
      FROM tk),
    train_ng AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id, unnest(CASE WHEN len(ptk) - 2 >= 1
          THEN list_transform(range(0, CAST(len(ptk) - 2 AS INTEGER)),
                              i -> array_to_string(ptk[i + 1:i + 3], ' '))
          ELSE [] END) AS sh
        FROM pt WHERE source <> 'src0')),
    ref_ng AS (
      SELECT DISTINCT sh FROM (
        SELECT unnest(CASE WHEN len(toks) - 2 >= 1
          THEN list_transform(range(0, CAST(len(toks) - 2 AS INTEGER)),
                              i -> array_to_string(toks[i + 1:i + 3], ' '))
          ELSE [] END) AS sh
        FROM tk WHERE source = 'src0')),
    train_sg AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id, unnest(CASE WHEN len(ptk) - 2 >= 1
          THEN list_transform(range(0, CAST(len(ptk) - 2 AS INTEGER)),
                              i -> md5(ptk[i + 1] || ' _ ' || ptk[i + 3]))
          ELSE [] END) AS fp
        FROM pt WHERE source <> 'src0')),
    ref_sg AS (
      SELECT DISTINCT fp FROM (
        SELECT unnest(CASE WHEN len(toks) - 2 >= 1
          THEN list_transform(range(0, CAST(len(toks) - 2 AS INTEGER)),
                              i -> md5(toks[i + 1] || ' _ ' || toks[i + 3]))
          ELSE [] END) AS fp
        FROM tk WHERE source = 'src0'))
    SELECT
      (SELECT COUNT(*) FROM train_ng) AS n_ngram_fps,
      floor((SELECT COUNT(*) FROM train_ng
             WHERE sh IN (SELECT sh FROM ref_ng))
            / (SELECT COUNT(*) FROM train_ng) * 10000 + 0.5) / 10000.0
        AS ngram_hit_share,
      (SELECT COUNT(*) FROM train_sg) AS n_skipgram_fps,
      floor((SELECT COUNT(*) FROM train_sg
             WHERE fp IN (SELECT fp FROM ref_sg))
            / (SELECT COUNT(*) FROM train_sg) * 10000 + 0.5) / 10000.0
        AS skipgram_hit_share
    """,
)
def q_skipgram_vs_ngram_under_edits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured CLAIM behind skip-gram fingerprints: substitute every
    token whose md5 ≡ 0 mod 7 with 'xx' in the TRAINING corpus (a
    content-derived ~14% word-substitution paraphrase, engine-exactly
    replayable), keep the benchmark side intact, and compare how many
    fingerprints still hit. A sliding trigram needs all 3 of its tokens
    unedited; a gap-1 skip-gram needs only its 2 endpoints — the edit in
    the gap is free. Measured at sf0.01: 0.59 vs 0.03 hit share. The
    flip side is specificity: a pair is 2-token evidence, so part of its
    share is generic-pair coincidence — skip-grams SCREEN candidates,
    contiguous passages verify them. Four distinct-fingerprint sets, two
    semi-join hit counts, one broadcast scalar assembly (the
    rendezvous_reshard_moves proof shape)."""
    from ..operators.dedup import _shingle_long

    docs = _t(spark, sf_dir, "documents")

    def sub(t):
        return F.when((H.md5_long(t) % 7) == 0, F.lit("xx")).otherwise(t)

    ptext = F.array_join(
        F.transform(T.tokens(F.lower(F.col("text"))), sub), " "
    )
    train = docs.filter(F.col("source") != "src0").select(
        "doc_id", ptext.alias("text")
    )
    ref = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    train_ng = _shingle_long(train, "doc_id", "text", 3).distinct()
    ref_ng = _shingle_long(ref, "doc_id", "text", 3).select(
        "sh"
    ).distinct()
    train_sg = curation.skipgram_hashes(train, 1).distinct()
    ref_sg = curation.skipgram_hashes(ref, 1).select("passage_md5").distinct()
    n_ng = train_ng.agg(F.count(F.lit(1)).alias("n_ngram_fps"))
    h_ng = train_ng.join(ref_ng, "sh", "left_semi").agg(
        F.count(F.lit(1)).alias("__ngh")
    )
    n_sg = train_sg.agg(F.count(F.lit(1)).alias("n_skipgram_fps"))
    h_sg = train_sg.join(ref_sg, "passage_md5", "left_semi").agg(
        F.count(F.lit(1)).alias("__sgh")
    )
    return (
        n_ng.crossJoin(h_ng).crossJoin(n_sg).crossJoin(h_sg).select(
            "n_ngram_fps",
            H.quantize(F.col("__ngh") / F.col("n_ngram_fps"), 4).alias(
                "ngram_hit_share"
            ),
            "n_skipgram_fps",
            H.quantize(F.col("__sgh") / F.col("n_skipgram_fps"), 4).alias(
                "skipgram_hit_share"
            ),
        )
    )


@register(
    "token_heavy_hitters",
    f"""
    SELECT source, token, cnt, CAST(rank AS INTEGER) AS rank FROM (
      SELECT source, token, COUNT(*) AS cnt,
             row_number() OVER (PARTITION BY source
                                ORDER BY COUNT(*) DESC, token) AS rank
      FROM (SELECT source, unnest({_D_TOKS}) AS token FROM documents)
      GROUP BY source, token)
    WHERE rank <= 5
    """,
)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group heavy hitters (curation.heavy_hitters): explode →
    map-side-combined count → WindowGroupLimit top-k, deterministic
    tie-break on the token."""
    return curation.heavy_hitters(_t(spark, sf_dir, "documents"), k=5)


@register(
    "unpivot_measures",
    """
    WITH long AS (
      SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS value
      FROM lineitem
      UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
      UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
    )
    SELECT l_returnflag, measure,
           {avg} AS avg_value, COUNT(*) AS n
    FROM long GROUP BY l_returnflag, measure
    """.format(avg=SQL_DAVG.format(x="value")),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via DataFrame.unpivot (melt) + per-measure stats.
    Unpivot is a narrow generate (no shuffle); the one aggregation groups on
    (flag, measure) with map-side partial combine. The oracle spells the
    same reshape as a UNION ALL for dialect safety."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_discount", "l_tax"
    )
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        davg(F.col("value"), "avg_value"), F.count(F.lit(1)).alias("n")
    )


@register(
    "dq_violation_counts",
    """
    WITH s AS (
      SELECT COUNT(*) AS n_rows,
        SUM(CASE WHEN l_quantity BETWEEN 1 AND 25 THEN 0 ELSE 1 END) AS q,
        SUM(CASE WHEN l_returnflag IN ('A', 'N') THEN 0 ELSE 1 END) AS rf,
        SUM(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS sd
      FROM lineitem)
    SELECT 'l_quantity_in_range' AS rule,
           CAST(q AS BIGINT) AS n_violations, n_rows FROM s
    UNION ALL SELECT 'l_returnflag_in_set', CAST(rf AS BIGINT), n_rows FROM s
    UNION ALL SELECT 'l_shipdate_not_null', CAST(sd AS BIGINT), n_rows FROM s
    """,
)
def dq_violation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (operators/quality.py): three declared expectations
    validated in ONE scan — each rule is a 0/1 expression inside a single
    aggregate, so rule count never multiplies table passes. The range and
    set rules are deliberately violated by the data (the gate has something
    to report); the not-null rule passes."""
    from ..operators import quality as Q

    li = _t(spark, sf_dir, "lineitem")
    return Q.check_rules(
        li,
        [
            Q.in_range("l_quantity", 1, 25),
            Q.in_set("l_returnflag", ["A", "N"]),
            Q.not_null("l_shipdate"),
        ],
    )


@register(
    "dq_orphan_lineitems",
    """
    SELECT COUNT(*) AS n_orphans FROM lineitem
    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    """,
)
def dq_orphan_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity expectation: lineitem rows whose order key has
    no parent order (left-anti join against the distinct key projection,
    broadcast-eligible). Zero on consistent data — the point is the check
    itself runs as one join, not a row-by-row probe."""
    from ..operators import quality as Q

    orphans = Q.check_foreign_key(
        _t(spark, sf_dir, "lineitem"),
        "l_orderkey",
        _t(spark, sf_dir, "orders"),
        "o_orderkey",
    )
    return orphans.agg(F.count(F.lit(1)).alias("n_orphans"))


@register(
    "zscore_anomalies",
    """
    WITH st AS (
      SELECT user_id, event_id, value,
             count(value) OVER w AS n,
             CAST(sum(CAST(value AS DECIMAL(28,10))) OVER w AS DOUBLE) AS s,
             CAST(sum(CAST(value * value AS DECIMAL(28,10))) OVER w AS DOUBLE) AS sq
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT user_id, event_id, value,
             CASE WHEN n >= 5 AND greatest((sq - s * s / n) / (n - 1), 0.0) > 0
                  THEN floor((value - s / n)
                             / sqrt(greatest((sq - s * s / n) / (n - 1), 0.0))
                             * 10000 + 0.5) / 10000.0
             END AS zscore
      FROM st
    )
    SELECT user_id, event_id, value, zscore,
           COALESCE(abs(zscore) > 3.0, false) AS is_anomaly
    FROM z
    """,
)
def zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score outlier detection per sensor stream (the
    quantitative form of the reference's frame-gap QA): decimal-accumulated
    window sums make the score engine-exact. See
    quality.rolling_zscore_anomalies."""
    from ..operators import quality as Q

    return Q.rolling_zscore_anomalies(
        _t(spark, sf_dir, "events"), "user_id", "ts", "value", "event_id"
    )


@register(
    "rolling_1h_counts",
    """
    SELECT event_id, user_id,
           CAST(count(*) OVER (
             PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_last_hour
    FROM events
    """,
)
def rolling_1h_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per event, how many of the same user's events
    fall in the trailing hour — a true time-interval frame (value-based
    bounds over epoch seconds), not a row count. Same one sort-shuffle as
    any keyed window; integer output, no fp parity concerns. The frame
    value is WHOLE seconds on both engines (Spark unix_seconds truncates;
    the oracle floors DuckDB's fractional epoch() to match) — found at
    sf0.1, where one event pair lands inside the fractional-second
    boundary band the two readings disagree on."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_seconds(F.col("ts")))
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
    )


@register(
    "event_pattern_users",
    """
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id, seq FROM seqs WHERE regexp_matches(seq, 'cp')
    """,
)
def event_pattern_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style sequence matching: users whose ordered event string
    contains a click immediately followed by a purchase. See
    sessionize.event_pattern_match."""
    return sessionize.event_pattern_match(_t(spark, sf_dir, "events"), "cp")


@register(
    "epoch_upsample",
    f"""
    WITH n AS (
      SELECT doc_id, source,
             2 + CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                           AS BIGINT) / {float(1 << 60)} < 0.3
                      THEN 1 ELSE 0 END AS ne
      FROM documents WHERE source = 'src0'
    )
    SELECT doc_id, source, CAST(unnest(range(0, ne)) AS INTEGER) AS epoch
    FROM n
    """,
)
def q_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.3-epoch deterministic upsample of one source (every doc twice, the
    md5-selected 30%% a third time) — the over-budget side of mixture
    assembly. See curation.epoch_upsample."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("source") == "src0")
    return curation.epoch_upsample(
        docs.select("doc_id", "source"), 2.3
    ).select("doc_id", "source", F.col("epoch").cast("int").alias("epoch"))


@register(
    "token_budget_mix",
    f"""
    WITH sized AS (
      SELECT doc_id, source,
             {_D_NTOK} AS n_tokens,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM documents
      WHERE source IN ('src0', 'src1', 'src2')
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM sized
    )
    SELECT doc_id, source, n_tokens, cum_tokens FROM c
    WHERE cum_tokens - n_tokens <
          CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 1000 ELSE 500 END
    """,
)
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-mix assembly by per-source TOKEN budget (md5-ordered
    cumulative fill; budgets met, not undershot). See
    curation.token_budget_mix."""
    return curation.token_budget_mix(
        _t(spark, sf_dir, "documents"),
        {"src0": 2000, "src1": 1000, "src2": 500},
    )


@register(
    "tfidf_cosine_pairs",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
    dft AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    n AS (SELECT count(*) AS n FROM documents),
    wts AS (
      SELECT doc_id, w, tf * ln(CAST(n AS DOUBLE) / df) AS wt
      FROM tf JOIN dft USING (w) CROSS JOIN n
      WHERE df <= 0.5 * n
    ),
    nrm AS (
      SELECT doc_id,
             sqrt(CAST(sum(CAST(wt * wt AS DECIMAL(28,10))) AS DOUBLE)) AS nrm
      FROM wts GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(sum(CAST(a.wt * b.wt AS DECIMAL(28,10))) AS DOUBLE) AS dot
      FROM wts a JOIN wts b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           floor(dot / (na.nrm * nb.nrm) * 10000 + 0.5) / 10000.0 AS cosine
    FROM dots
    JOIN nrm na ON dots.id_a = na.doc_id
    JOIN nrm nb ON dots.id_b = nb.doc_id
    WHERE floor(dot / (na.nrm * nb.nrm) * 10000 + 0.5) / 10000.0 >= 0.5
    """,
)
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine pairs via the inverted-index self-join with
    df-ceiling pruning — the lexical complement of the dense embedding
    near-dup paths. See search.tfidf_cosine_pairs."""
    from ..operators import search as SE

    return SE.tfidf_cosine_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5, max_df_frac=0.5
    )


@register(
    "cms_token_counts",
    """
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents
    ),
    depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
    h AS (
      SELECT d, CAST(concat('0x', substr(md5('cms' || d || '|' || w), 1, 15))
                 AS BIGINT) % 256 AS bucket
      FROM toks, depths
    ),
    sketch AS (SELECT d, bucket, count(*) AS c FROM h GROUP BY d, bucket),
    probes AS (SELECT unnest(['spark', 'table', 'window', 'the', 'zzzz']) AS w),
    pb AS (
      SELECT w, d, CAST(concat('0x', substr(md5('cms' || d || '|' || w), 1, 15))
                    AS BIGINT) % 256 AS bucket
      FROM probes, depths
    )
    SELECT pb.w AS token, CAST(min(COALESCE(s.c, 0)) AS BIGINT) AS est_count
    FROM pb LEFT JOIN sketch s USING (d, bucket)
    GROUP BY pb.w
    """,
)
def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates: the sketch is a depth×width
    TABLE (bounded memory at any cardinality, mergeable by summing), the
    probe joins it on (d, bucket). Deterministic md5 rows → the oracle
    replays the identical sketch. See sketches.cms_build/cms_estimate."""
    from ..operators import sketches as SK

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(T.tokens(F.lower(F.col("text")))).alias("w")
    )
    sketch = SK.cms_build(toks, "w", depth=4, width=256)
    probes = spark.createDataFrame(
        [("spark",), ("table",), ("window",), ("the",), ("zzzz",)],
        "token string",
    )
    return SK.cms_estimate(sketch, probes, "token", width=256)


@register(
    "profile_orders",
    """
    SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_val,
           CAST(max(o_orderkey) AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority), NULL, NULL
    FROM orders
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profile of the orders table (null counts, exact
    distinct, numeric min/max) — see quality.profile_columns."""
    from ..operators import quality as Q

    return Q.profile_columns(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"],
    )


@register(
    "value_ranks",
    """
    SELECT o_orderkey,
           floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000.0 AS pct_rank,
           floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000.0 AS cume,
           CAST(dense_rank() OVER w AS BIGINT) AS drank
    FROM orders
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 45000
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family window breadth (percent_rank / cume_dist / dense_rank),
    expressed through the SQL-string surface (spark.sql over a temp view) —
    the engine's two front doors compile to the same Catalyst plan. The
    window partitions by status so no global single-partition sort; the
    selective filter runs before the exchange."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        -- CAST, not a `1000000.0` literal: Spark SQL parses decimal-point
        -- literals as DECIMAL (→ decimal division); DuckDB as DOUBLE.
        SELECT o_orderkey,
               floor(percent_rank() OVER w * 1000000 + 0.5)
                 / CAST(1000000 AS DOUBLE) AS pct_rank,
               floor(cume_dist() OVER w * 1000000 + 0.5)
                 / CAST(1000000 AS DOUBLE) AS cume,
               CAST(dense_rank() OVER w AS BIGINT) AS drank
        FROM orders_v
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 45000
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        """
    )


@register(
    "funnel_stages",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_view_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_view_click_purchase
    """,
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: users who viewed, then clicked AFTER the
    first view, then purchased AFTER that click. Each stage is a per-user
    min-aggregate semi-joined to the previous stage — aggregates shrink to
    one row per user BEFORE each join, so the joins move user-count rows,
    not event-count rows, and every shuffle shares the user_id key."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .join(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_view_click"))))
        .join(
            F.broadcast(
                p.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
            )
        )
    )


@register(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events
      GROUP BY user_id
    )
    SELECT f.cohort,
           CAST(date_diff('day', f.cohort, date_trunc('day', e.ts)) // 7 AS INTEGER)
             AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week,
    counted distinct per week offset. The firsts aggregate is one row per
    user — a fact-sized side at scale, so the join strategy stays AQE's
    call (both sides shuffle on user_id, the key events already grouped
    on); count_distinct shuffles (cohort, offset, user) partials with
    map-side combine."""
    ev = _t(spark, sf_dir, "events")
    # to_date: DuckDB's date_trunc('week') yields DATE, Spark's a TIMESTAMP
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort")
    )
    offset = F.floor(
        F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort")) / 7
    ).cast("int")
    return (
        ev.join(firsts, "user_id")
        .groupBy("cohort", offset.alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@register(
    "lm_fluency_scores",
    """
    WITH td AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS lt
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(lt)), i -> lt[i])) AS w1,
             unnest(list_transform(range(1, len(lt)), i -> lt[i+1])) AS w2
      FROM td
    ),
    uni AS (
      SELECT w, count(*) AS c1
      FROM (SELECT unnest(lt) AS w FROM td) GROUP BY w
    ),
    big AS (
      SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
    ),
    vocab AS (SELECT count(*) AS v FROM uni)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           floor((CAST(sum(CAST(ln((c2 + 0.1) / (c1 + 0.1 * v)) AS DECIMAL(28,12)))
                       AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000.0 AS mean_logp
    FROM bg
    JOIN big USING (w1, w2)
    JOIN uni ON bg.w1 = uni.w
    CROSS JOIN vocab
    GROUP BY doc_id
    """,
)
def q_lm_fluency_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM fluency score per document (CCNet-style
    quality signal). Decimal-accumulated log-prob sums are shuffle-order
    independent, so Spark and DuckDB agree bit-for-bit. See
    textstats.lm_fluency_scores."""
    return textstats.lm_fluency_scores(_t(spark, sf_dir, "documents"))


@register(
    "sampled_quantiles_priority",
    f"""
    WITH s AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                  AS BIGINT) / {float(1 << 60)} AS h
      FROM orders
    ),
    kept AS (
      SELECT o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY h, o_orderkey) AS rn
      FROM s QUALIFY rn <= 256
    )
    SELECT o_orderpriority, COUNT(*) AS n_sample,
           floor(quantile_cont(o_totalprice, 0.5) * 1000000 + 0.5) / 1000000.0 AS p50_est,
           floor(quantile_cont(o_totalprice, 0.9) * 1000000 + 0.5) / 1000000.0 AS p90_est
    FROM kept GROUP BY o_orderpriority
    """,
)
def sampled_quantiles_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a MERGEABLE bottom-k uniform sample (md5
    row ranks — deterministic, oracle-replayable; union+re-rank folds
    shard samples). The relational cousin of approx_percentile: same
    O(1/√k) error, but the sketch itself is a plain table. See
    sketches.bottomk_sample."""
    from ..operators import sketches as SK

    return SK.sampled_quantiles(
        _t(spark, sf_dir, "orders"),
        group_col="o_orderpriority",
        id_col="o_orderkey",
        value_col="o_totalprice",
        quantiles=[0.5, 0.9],
        names=["p50_est", "p90_est"],
        k=256,
    )


@register(
    "props_json_stats",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(count(json_extract(props, '$.k')) AS BIGINT) AS n_with_k,
           CAST(max(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction (S9's JSON path applied to an
    attribute column): ``from_json`` with a declared schema pushes the parse
    into codegen once per row; aggregation is integer-exact so both engines
    hash-match without quantization."""
    ev = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k int")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_with_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "semantic_dedup_survivors",
    """
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cv
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    assign AS (
      SELECT vec_id, embedding, cid AS list_id FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 round(-list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               CAST(c.cv AS DOUBLE[])), 6),
                 c.cid) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.4
    )
    SELECT vec_id, list_id FROM assign
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def q_semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: IVF-cluster the embedding space,
    drop vectors with a lower-id cosine-neighbor inside their cluster.
    Σ|list|² work instead of n² — see dedup.semantic_dedup_survivors."""
    return dedup.semantic_dedup_survivors(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_lists=16
    )


@register(
    "curation_decisions",
    """
    WITH base AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS lt,
             regexp_split_to_array(trim(text), '\\s+') AS rt,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
               / length(text) AS punct
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
        len(rt) AS n_tok,
        len(list_filter(lt, t -> list_contains(['der','die','das','und','ist'], t))) AS de,
        len(list_filter(lt, t -> list_contains(['the','a','of','and','is'], t))) AS en,
        len(list_filter(lt, t -> list_contains(['el','la','los','y','es'], t))) AS es,
        len(list_filter(lt, t -> list_contains(['le','la','les','et','est'], t))) AS fr,
        len(list_distinct(rt)) / len(rt) AS diversity,
        least(len(rt) / 100.0, 1.0) AS len_score,
        len(list_filter(lt, t -> list_contains(['the','a','of','and','to','in','is','it'], t)))
          / len(lt) AS stop,
        punct,
        list_transform(range(1, len(lt)), i -> lt[i] || ' ' || lt[i+1]) AS g2
      FROM base
    ),
    scored AS (
      SELECT doc_id, n_tok,
        CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
             WHEN de >= greatest(en, es, fr) THEN 'de'
             WHEN en >= greatest(es, fr) THEN 'en'
             WHEN es >= fr THEN 'es'
             ELSE 'fr' END AS pred_lang,
        floor(((0.4 * len_score + 0.3 * diversity + 0.3 * least(stop * 5, 1.0))
               * (1.0 - least(punct * 2, 1.0))) * 10000 + 0.5) / 10000.0 AS q,
        floor((CASE WHEN len(g2) > 0
                    THEN (len(g2) - len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE)
               END) * 10000 + 0.5) / 10000.0 AS dupf
      FROM sig
    ),
    sel AS (
      SELECT doc_id,
        CASE WHEN n_tok < 20 THEN 'too_short'
             WHEN pred_lang NOT IN ('en') THEN 'wrong_lang'
             WHEN q < 0.3 THEN 'low_quality'
             WHEN dupf > 0.6 THEN 'repetitive'
             ELSE 'keep' END AS reason
      FROM scored
    )
    SELECT doc_id, reason = 'keep' AS keep, reason FROM sel
    """,
)
def q_curation_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation verdict table: keep/drop + first-failing-rule reason per
    document, computed in ONE narrow pass (no joins between signal tables).
    See textstats.curation_decisions."""
    return textstats.curation_decisions(_t(spark, sf_dir, "documents"))


@register(
    "bm25_topk",
    """
    WITH td AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS l
      FROM documents
    ),
    per AS (
      SELECT doc_id, len(l) AS dl,
             len(list_filter(l, x -> x = 'spark'))    AS tf0,
             len(list_filter(l, x -> x = 'window'))   AS tf1,
             len(list_filter(l, x -> x = 'customer')) AS tf2,
             len(list_filter(l, x -> x = 'vector'))   AS tf3
      FROM td
    ),
    st AS (
      SELECT count(*) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
             sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
      FROM per
    )
    SELECT doc_id,
           floor((
             ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5)) * tf3 / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           ) * 10000 + 0.5) / 10000.0 AS bm25
    FROM per, st
    ORDER BY bm25 DESC, doc_id
    LIMIT 25
    """,
    headline=True,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval for a literal query — zero-shuffle narrow tf pass +
    one scalar stats row broadcast back; top-k via TakeOrderedAndProject.
    See operators/search.py."""
    from ..operators import search as SE

    return SE.bm25_topk(
        _t(spark, sf_dir, "documents"),
        ["spark", "window", "customer", "vector"],
        k=25,
    )


@register(
    "repetition_scores",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS l
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS g
      FROM toks
    ),
    counts AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(sum(c) AS INTEGER) AS n_grams,
           floor((1.0 - count(*) / CAST(sum(c) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0
             AS dup_gram_frac,
           floor((max(c) / CAST(sum(c) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0
             AS top_gram_share
    FROM counts GROUP BY doc_id
    """,
)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (dup-2gram fraction, top-2gram
    share) — the boilerplate/degenerate-text filter of an LLM curation
    pipeline. Zero-shuffle narrow expressions; see
    textstats.repetition_scores."""
    return textstats.repetition_scores(_t(spark, sf_dir, "documents"), n=2)


@register(
    "align_series_6h",
    """
    WITH bounds AS (
      SELECT user_id,
             make_timestamp(CAST(floor(epoch(min(ts)) / 21600) * 21600 AS BIGINT) * 1000000) AS g0,
             max(ts) AS g1
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(g0, g1, INTERVAL 21600 SECOND)) AS t
      FROM bounds
    ),
    u AS (
      SELECT user_id, t, 1 AS is_grid, CAST(NULL AS VARCHAR) AS s,
             CAST(NULL AS DOUBLE) AS v, CAST(NULL AS BIGINT) AS tie
      FROM grid
      UNION ALL
      SELECT user_id, ts, 0, event_type, value, event_id FROM events
    ),
    f AS (
      SELECT user_id, t, is_grid,
        last_value(CASE WHEN s = 'click' THEN v END IGNORE NULLS) OVER win AS v_click,
        last_value(CASE WHEN s = 'view' THEN v END IGNORE NULLS) OVER win AS v_view,
        last_value(CASE WHEN s = 'purchase' THEN v END IGNORE NULLS) OVER win AS v_purchase
      FROM u
      WINDOW win AS (
        PARTITION BY user_id
        ORDER BY t, is_grid, tie NULLS FIRST
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      )
    )
    SELECT user_id, t AS grid_ts, v_click, v_view, v_purchase
    FROM f WHERE is_grid = 1
    """,
    headline=True,
)
def align_series_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-series sensor-fusion alignment: three event series projected
    onto one per-user 6-hour clock in a single sort-shuffle (the wide
    per-tick row the reference's /gps+/imu+/pose topics imply). See
    operators/resample.align_series."""
    from ..operators import resample as RS

    out = RS.align_series(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        series_col="event_type",
        value_col="value",
        step_seconds=21600,
        series=["click", "view", "purchase"],
        tie_col="event_id",
    )
    return out.select(
        "user_id",
        "grid_ts",
        F.col("click").alias("v_click"),
        F.col("view").alias("v_view"),
        F.col("purchase").alias("v_purchase"),
    )


@register(
    "resample_ffill_6h",
    """
    WITH bounds AS (
      SELECT user_id,
             make_timestamp(CAST(floor(epoch(min(ts)) / 21600) * 21600 AS BIGINT) * 1000000) AS g0,
             max(ts) AS g1
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(g0, g1, INTERVAL 21600 SECOND)) AS t
      FROM bounds
    ),
    u AS (
      SELECT user_id, t, 1 AS is_grid,
             CAST(NULL AS DOUBLE) AS v, CAST(NULL AS BIGINT) AS tie
      FROM grid
      UNION ALL
      SELECT user_id, ts, 0, value, event_id FROM events
    ),
    f AS (
      SELECT user_id, t, is_grid,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY t, is_grid, tie NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS value
      FROM u
    )
    SELECT user_id, t AS grid_ts, value FROM f WHERE is_grid = 1
    """,
)
def resample_ffill_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill: each user's event stream projected onto a 6-hour grid with
    the last observation carried forward (the general form of the
    reference's fixed-rate frame clock, processing.py:192,218-221, and the
    lossy-sensor gap repair its gap audit implies). One sort-shuffle on the
    key — see operators/resample.py."""
    from ..operators import resample as RS

    return RS.resample_ffill(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        step_seconds=21600,
        tie_col="event_id",
    )


@register(
    "edit_distance_pairs",
    f"""
    WITH s AS (
      SELECT doc_id, substr({_D_NORM}, 1, 64) AS s FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.s, b.s) AS dist
    FROM s a JOIN s b
      ON a.doc_id < b.doc_id
     AND abs(length(a.s) - length(b.s)) <= 2
    WHERE levenshtein(a.s, b.s) <= 2
    """,
    headline=True,
)
def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs (Levenshtein <= 2 on the 64-char
    normalized prefix) via PassJoin segment blocking — candidate generation
    is an equi-join on (segment, index, length), O(collisions) not O(n²);
    the oracle is the brute-force all-pairs formulation. The character-edit
    flavor MinHash/SimHash can't see (typo'd titles, OCR noise)."""
    from ..operators.fuzzy import edit_distance_pairs

    return edit_distance_pairs(
        _spread_docs(spark, sf_dir), id_col="doc_id",
        text=T.normalized(F.col("text")).substr(1, 64), k=2,
    )


@register(
    "bloom_prune_join",
    f"""
    SELECT l_returnflag,
           {SQL_DSUM.format(x="CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))")} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
    headline=True,
)
def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact⋈dim join with the fact side Bloom-pruned BEFORE its
    shuffle: urgent orders' keys → broadcast bitmap → codegen bit-test at
    the lineitem scan → exact join on survivors only. Result is identical
    to the plain join (false positives die in the exact join) — the oracle
    is the plain join — but at 100 TB the fact shuffle carries only the
    ~matching fraction instead of every row. The reference's shape:
    deploy.py's filtered S3 sync (copy only keys present in the manifest)."""
    from ..operators.bloom import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    # m sized ~32 bits/key for the urgent-order key count at bench scale
    # (fp ≈ 5e-5); the build fold is m/64 words, so oversizing m costs
    # build time for no leak reduction (measured: 2^20 beats 2^23 by 2×).
    joined = bloom_semi_join(
        li, urgent.select("o_orderkey"), "l_orderkey", "o_orderkey",
        m_bits=1 << 20,
    )
    return joined.groupBy("l_returnflag").agg(
        fsum("l_extendedprice * (1 - l_discount)", "revenue"), F.count(F.lit(1)).alias("n_items")
    )


@register(
    "zonemap_pruned_scan",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE value BETWEEN 10.0 AND 50.0
    GROUP BY event_type
    """,
)
def q_zonemap_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan through the zone-map file-skipping path: per-file min/max
    stats table → candidate-file pruning → exact filter on survivors. The
    result is identical to a plain filtered read (zones are a superset
    guarantee); at 100 TB the win is planning against ONE metadata table
    instead of a million parquet footers, with write_zordered keeping the
    per-file ranges tight. Oracle: the plain filtered aggregate."""
    from ..operators.layout import zonemap_pruned_read

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = zonemap_pruned_read(
        spark, f"{sf_dir}/events.parquet", {"value": (10.0, 50.0)}
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), "sum_value"),
    )


def _zorder_sql(x: str, y: str, bits: int) -> str:
    """Unrolled Morton-interleave SQL replica of layout.zorder_value for the
    oracle (DuckDB and Spark share >>, <<, & semantics on BIGINT)."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


@register(
    "zorder_cluster_keys",
    f"""
    WITH z AS (
      SELECT event_type,
             {_zorder_sql("(user_id % 4096)", "(event_id % 4096)", 12)} AS zkey
      FROM events
    )
    SELECT event_type, COUNT(*) AS n, MIN(zkey) AS min_z, MAX(zkey) AS max_z,
           SUM(zkey) AS sum_z
    FROM z GROUP BY event_type
    """,
)
def q_zorder_cluster_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-curve) key computation — the clustering key behind
    write_zordered (multi-dimensional file locality for zone-map skipping).
    Pure shifts/masks in whole-stage codegen; the oracle replays the exact
    bit interleave unrolled in SQL, verifying every row's key via the
    per-group min/max/sum digest."""
    from ..operators.layout import zorder_value

    ev = _t(spark, sf_dir, "events")
    z = ev.select(
        "event_type",
        zorder_value(
            [F.pmod(F.col("user_id"), F.lit(4096)), F.pmod(F.col("event_id"), F.lit(4096))],
            bits=12,
        ).alias("zkey"),
    )
    return z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("zkey").alias("min_z"),
        F.max("zkey").alias("max_z"),
        F.sum("zkey").alias("sum_z"),
    )


def _pagerank_sql(iterations: int, damping: float = 0.85) -> str:
    """Unrolled power-iteration replica of graph.pagerank for the oracle
    (fixed iterations → expressible as chained CTEs; all arithmetic forced
    to DOUBLE so DuckDB's decimal literals don't diverge from Spark)."""
    d = damping
    ctes = [
        """seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    )""",
        """edges AS (
      SELECT prev AS src, event_type AS dst, COUNT(*) AS w
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    )""",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nodes)",
        """enorm AS (
      SELECT src, dst, CAST(w AS DOUBLE) / CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE) AS p
      FROM edges
    )""",
        "srcs AS (SELECT DISTINCT src AS node FROM edges)",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT c FROM nn) AS pr FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        prev = f"r{i - 1}"
        ctes.append(
            f"""r{i} AS (
      SELECT n.node,
             CAST({1 - d} AS DOUBLE) / (SELECT c FROM nn)
             + CAST({d} AS DOUBLE) * (
                 COALESCE(ct.contrib, CAST(0 AS DOUBLE))
                 + (SELECT COALESCE(SUM(pr), CAST(0 AS DOUBLE)) FROM {prev}
                    WHERE node NOT IN (SELECT node FROM srcs)) / (SELECT c FROM nn)
               ) AS pr
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r.pr * e.p) AS contrib
        FROM {prev} r JOIN enorm e ON r.node = e.src GROUP BY e.dst
      ) ct ON n.node = ct.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node AS event_type, pr FROM r{iterations}"
    )


@register("event_type_pagerank", _pagerank_sql(3))
def q_event_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph (edges = consecutive
    event types per user, weighted by transition count): which states a
    user's random walk concentrates on. Fixed 3 power iterations with
    dangling-mass redistribution; the oracle unrolls the same iterations
    as chained CTEs. Each iteration: one shuffle on the destination key +
    broadcast one-row node-count/dangling aggregates — see
    operators/graph.pagerank."""
    from ..operators import graph

    ev = _t(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(win).alias("prev")
    )
    edges = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return graph.pagerank(edges, weight="w", iterations=3).select(
        F.col("node").alias("event_type"), "pr"
    )


@register(
    "hll_distinct_users",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
           TRUE AS within_3pct
    FROM events GROUP BY event_type
    """,
)
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches HLL distinct users per event type, accuracy-gated
    through the oracle: the query emits the exact count alongside a
    ``within_3pct`` verdict on the sketch estimate, and the oracle asserts
    the verdict is TRUE — so a broken sketch path fails the hash gate even
    though DuckDB can't replay the sketch itself. At 100 TB only the
    few-KB mergeable sketches shuffle (see operators/sketches.hll_merge);
    the exact count here is the small-scale audit column."""
    from ..operators import sketches as SK

    ev = _t(spark, sf_dir, "events")
    est = SK.hll_estimate(
        SK.hll_sketches(ev, "event_type", "user_id", lg_k=14), "event_type"
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_exact"))
            <= F.lit(0.03) * F.col("n_exact")
        ).alias("within_3pct"),
    )


def _ann_recall_sql() -> str:
    """Composed oracle: exact top-5 (brute oracle) vs LSH top-5 at the
    recall-tuned parameters (8 tables × 3 bits), recall@5 over the probe
    set. Reuses the registered brute oracle verbatim and the shared
    deterministic-hyperplane CTE builder."""
    brute = QUERIES["brute_force_topk"].oracle
    lsh = f"""
    WITH {_lsh_bucket_cte(64, 8, 3)},
    cand AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
                         AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 10
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(n.embedding AS DOUBLE[])), 6) AS cosine
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored) s
    WHERE rnk <= 5
    """
    return f"""
    WITH brute AS ({brute}), lshr AS ({lsh})
    SELECT COUNT(DISTINCT b.query_id) AS n_queries,
           CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS recall_at_5,
           (CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*)) >= 0.7 AS recall_ok
    FROM brute b LEFT JOIN lshr l
      ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
    """


@register("ann_recall_at5", _ann_recall_sql())
def q_ann_recall_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a QUERY: recall@5 of the hyperplane-LSH path against
    the exact top-5 on the 10-query probe set, with a >=0.7 gate — the
    measurement a production ANN rollout runs before trusting the
    approximate index (recall is the accuracy axis the speed win trades
    against). Both sides and the recall arithmetic replay in the oracle,
    so the gate is hash-checked. Params (8 tables × 3 bits) are the
    recall-tuned point: wider buckets than the throughput-tuned lsh_topk
    headline; at larger corpus sizes raise n_bits to hold bucket size."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    brute = similarity.brute_force_topk(emb, probes, k=5).select(
        "query_id", F.col("neighbor_id").alias("exact_nb")
    )
    lsh = similarity.lsh_topk(
        emb, dim=64, k=5, n_tables=8, n_bits=3,
        queries=probes.select("vec_id"),
    ).select("query_id", F.col("neighbor_id").alias("lsh_nb"))
    joined = brute.join(
        lsh,
        (brute["query_id"] == lsh["query_id"])
        & (brute["exact_nb"] == lsh["lsh_nb"]),
        "left",
    )
    hit = F.sum(
        F.when(F.col("lsh_nb").isNotNull(), 1).otherwise(0)
    ).cast("double")
    return joined.agg(
        F.count_distinct(brute["query_id"]).alias("n_queries"),
        (hit / F.count(F.lit(1))).alias("recall_at_5"),
        ((hit / F.count(F.lit(1))) >= F.lit(0.7)).alias("recall_ok"),
    )


@register(
    "user_key_skew",
    """
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
    SELECT COUNT(*) AS n_keys, SUM(n) AS total_rows, MAX(n) AS max_key_rows,
           quantile_cont(n, 0.5) AS p50_key_rows,
           quantile_cont(n, 0.99) AS p99_key_rows,
           CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_key_share,
           CAST(MAX(n) AS DOUBLE) / quantile_cont(n, 0.5) AS skew_ratio
    FROM c
    """,
)
def q_user_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic on events.user_id — the pre-flight check
    that decides between a plain shuffle join, AQE skew splitting, and
    operators/skew.salted_join (skew_ratio = hottest/median key). Two
    map-side-combined aggregations, one summary row."""
    from ..operators.skew import key_skew_report

    return key_skew_report(_t(spark, sf_dir, "events"), "user_id")


def _pq_sql(dim: int = 64, m: int = 8, n_codes: int = 16, k: int = 5) -> str:
    """PQ/ADC oracle: deterministic md5-ranked codebooks, L2² via the
    polarization identity (three list_inner_products — the same arithmetic
    functions/vectors.l2sq runs), rounded+code-tie-broken assignment."""
    d = dim // m
    l2 = (
        "round(list_inner_product({a}, {a}) + list_inner_product({b}, {b})"
        " - 2 * list_inner_product({a}, {b}), 6)"
    )
    return f"""
    WITH cents AS (
      SELECT CAST(embedding AS DOUBLE[]) AS fv,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               - 1 AS code
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_codes}
    ),
    subsidx AS (SELECT unnest(range(0, {m})) AS sub),
    cb AS (
      SELECT s.sub, c.code,
             list_slice(c.fv, s.sub * {d} + 1, s.sub * {d} + {d}) AS cv
      FROM cents c CROSS JOIN subsidx s
    ),
    corpus_subs AS (
      SELECT e.vec_id, s.sub,
             list_slice(CAST(e.embedding AS DOUBLE[]),
                        s.sub * {d} + 1, s.sub * {d} + {d}) AS sv
      FROM embeddings e CROSS JOIN subsidx s
    ),
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT cs.vec_id, cs.sub, cb.code,
               row_number() OVER (PARTITION BY cs.vec_id, cs.sub
                 ORDER BY {l2.format(a="cs.sv", b="cb.cv")}, cb.code) AS rn
        FROM corpus_subs cs JOIN cb ON cs.sub = cb.sub
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT qs.vec_id AS query_id, cb.sub, cb.code,
             {l2.format(a="qs.sv", b="cb.cv")} AS dd
      FROM corpus_subs qs JOIN cb ON qs.sub = cb.sub
      WHERE qs.vec_id < 10
    ),
    adc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, round(SUM(l.dd), 4) AS adist
      FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
      WHERE c.vec_id <> l.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adist, CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adist, neighbor_id) AS rnk
          FROM adc)
    WHERE rnk <= {k}
    """


@register("pq_topk", _pq_sql(), headline=True)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (asymmetric distance): the corpus is m
    one-byte codes per vector, a query is m×n_codes exact subvector
    distances, and candidate distances are sums of table LOOKUPS (an
    equi-join on (sub, code)) — the memory-bound member of the ANN family
    (brute/LSH/IVF/PQ), for when vectors can't be co-resident with the
    serving cluster. Deterministic md5-ranked codebooks and polarization-
    identity L2² make every step SQL-replayable."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, dim=64, m=8, n_codes=16,
    )


@register(
    "small_quantity_revenue",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l
    JOIN (SELECT l_partkey AS pk,
                 0.2 * AVG(l_quantity) AS qty_floor
          FROM lineitem GROUP BY l_partkey) t
      ON l.l_partkey = t.pk
    WHERE l.l_quantity < t.qty_floor
    """,
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate shape (TPC-H Q17): lineitems below 20% of their
    part's average quantity — the 'each row compared to its own group's
    aggregate' pattern. Decorrelated explicitly into groupBy + equi-join
    (what Catalyst does to the correlated subquery form); the per-part agg
    is 2 columns and shuffles once, map-side combined. The oracle keeps
    the same decorrelated join so both engines aggregate identically."""
    li = _t(spark, sf_dir, "lineitem")
    floors = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_floor")
    )
    return (
        li.join(floors, li["l_partkey"] == floors["pk"])
        .filter(F.col("l_quantity") < F.col("qty_floor"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.lit(7.0)
            ).alias("avg_yearly"),
        )
    )


@register(
    "value_trend_by_type",
    """
    WITH x0 AS (SELECT event_type, MIN(epoch_ms(ts)) AS mn
                FROM events GROUP BY event_type),
    b AS (
      SELECT e.event_type,
             (epoch_ms(e.ts) - x0.mn) / 3600000.0 AS x,
             CAST(e.value AS DOUBLE) AS y
      FROM events e JOIN x0 USING (event_type)
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM b GROUP BY event_type
    )
    SELECT event_type, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def q_value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend (slope/intercept/R² of value vs hours since the
    group's first event): drift detection as ONE map-side-combined
    aggregation over the five classic sums — no window, no iteration; the
    regression twin of the rolling z-score level alarms. Oracle replays
    the identical closed form (quality.group_linear_trend)."""
    from ..operators.quality import group_linear_trend

    return group_linear_trend(
        _t(spark, sf_dir, "events"), "event_type", "ts", "value"
    )


@register(
    "source_kl_divergence",
    f"""
    WITH toks AS (
      SELECT source, unnest({_D_TOKS}) AS token FROM documents
    ),
    tk AS (SELECT source, token FROM toks WHERE token <> ''),
    cst AS (SELECT source, token, COUNT(*) AS cst FROM tk GROUP BY 1, 2),
    ct AS (SELECT token, SUM(cst) AS ct FROM cst GROUP BY 1),
    ns AS (SELECT source, SUM(cst) AS ns FROM cst GROUP BY 1),
    corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v,
                      CAST(SUM(ct) AS DOUBLE) AS n FROM ct),
    q AS (SELECT token, ln((ct + 0.5) / (n + 0.5 * v)) AS lnq
          FROM ct, corpus),
    sq AS (SELECT SUM(lnq) AS slnq_vocab FROM q),
    pres AS (
      SELECT c.source, ns.ns, corpus.v,
             SUM(((c.cst + 0.5) / (ns.ns + 0.5 * corpus.v))
                 * (ln((c.cst + 0.5) / (ns.ns + 0.5 * corpus.v)) - q.lnq))
               AS kl_present,
             SUM(q.lnq) AS slnq_present,
             CAST(COUNT(*) AS DOUBLE) AS n_present
      FROM cst c JOIN q USING (token) JOIN ns ON c.source = ns.source, corpus
      GROUP BY 1, 2, 3
    )
    SELECT source, CAST(ns AS BIGINT) AS n_tokens,
           CAST(n_present AS BIGINT) AS n_distinct,
           round(kl_present + (0.5 / (ns + 0.5 * v))
                 * ((v - n_present) * ln(0.5 / (ns + 0.5 * v))
                    - (slnq_vocab - slnq_present)), 6) AS kl
    FROM pres, sq
    """,
)
def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-drift audit: add-k KL(source token distribution ‖ corpus
    distribution) per source. Absent-vocab mass is folded in CLOSED FORM
    (p₀·(|absent|·ln p₀ − Σ_absent ln q)) from two broadcast one-row
    aggregates, so work stays O(present (source,token) pairs) instead of
    |vocab|×|sources| — see textstats.source_kl_divergence."""
    from ..operators.textstats import source_kl_divergence

    return source_kl_divergence(_t(spark, sf_dir, "documents"))


@register(
    "ngram_containment_pairs",
    """
    WITH t AS (SELECT doc_id, lower(text) AS tx FROM documents),
    grams AS (
      SELECT DISTINCT doc_id,
             unnest([substring(tx, i, 8)
                     for i in range(1, greatest(length(tx) - 6, 1))]) AS g
      FROM t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
             COUNT(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_contained, id_container,
           floor(CAST(i AS DOUBLE) / sa.sz * 10000 + 0.5) / 10000.0
             AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = id_contained
    WHERE floor(CAST(i AS DOUBLE) / sa.sz * 10000 + 0.5) / 10000.0 >= 0.8
    """,
)
def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment |A∩B|/|A| ≥ 0.8 over char 8-grams — the
    quote/subset detector symmetric Jaccard misses (a paragraph embedded
    in a longer doc scores ~1.0 here, low there). Asymmetric prefix
    filter: contained side probes with its rarest grams, container side
    keeps full postings; brute-force oracle independently validates that
    the pruning is lossless."""
    return dedup.ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8, n=8
    )


@register(
    "lsh_multiprobe_topk",
    f"""
    WITH {_lsh_bucket_cte(64, 4, 8)},
    probes AS (
      SELECT vec_id AS query_id, tbl,
             unnest([bucket,
                     {", ".join(f"xor(bucket, {1 << b})" for b in range(8))}])
               AS pbucket
      FROM bk WHERE vec_id < 10
    ),
    cand AS (
      SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id
      FROM probes p JOIN bk b
        ON p.tbl = b.tbl AND p.pbucket = b.bucket
       AND p.query_id <> b.vec_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(n.embedding AS DOUBLE[])), 6) AS cosine
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored) s
    WHERE rnk <= 5
    """,
)
def q_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: each query also probes the n_bits buckets one sign
    flip away — recall that would otherwise need n_bits+1× more hash
    tables, at 1/(n_bits+1) of the corpus bucket state. Query side fans
    out, corpus stays one row per table; flip = XOR, candidates remain an
    equi-join. Same (4×8) params as lsh_topk for direct comparison."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_multiprobe_topk(
        emb, dim=64, k=5, n_tables=4, n_bits=8,
        queries=emb.filter(F.col("vec_id") < 10),
    )


@register(
    "nation_market_share",
    f"""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE r.r_name = 'ASIA' AND o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table star join (TPC-H Q8/Q5 family): region→nation→supplier→
    lineitem→orders→customer with selective dim filters. Written in an
    arbitrary join order ON PURPOSE — Catalyst's cost-based reordering +
    AQE pick the physical order, broadcast every dim under the 64 MB
    threshold, and leave only the lineitem⋈orders shuffle; the point is
    trusting the optimizer with the multi-join plan rather than
    hand-scheduling it."""
    t = lambda n: _t(spark, sf_dir, n)  # noqa: E731
    df = (
        t("lineitem")
        .join(t("orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t("customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(t("supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t("nation"), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(t("region"), F.col("r_regionkey") == F.col("n_regionkey"))
        .filter((F.col("r_name") == "ASIA") & (F.col("o_orderstatus") == "F"))
    )
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return df.groupBy(F.col("n_name").alias("nation")).agg(
        dsum(disc, "revenue"), F.count(F.lit(1)).alias("n_items")
    )


@register(
    "sequential_doc_ids",
    """
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             AS seq_id
    FROM documents
    """,
)
def q_sequential_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global sequential ids in (n_chars, doc_id) order WITHOUT the
    single-reducer global window: range-partition on the order keys,
    parallel per-partition row_numbers, broadcast partition offsets — see
    operators/ids.assign_sequential_ids. The oracle is the naive global
    row_number (fine at oracle scale; the whole point is that the Spark
    plan never concentrates the window state)."""
    from ..operators.ids import assign_sequential_ids

    docs = _t(spark, sf_dir, "documents")
    return assign_sequential_ids(
        docs.select("doc_id", "n_chars"), ["n_chars", "doc_id"]
    ).select("doc_id", F.col("seq_id").cast("bigint"))


@register(
    "contrastive_negatives",
    """
    WITH seq AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS s FROM documents
    ),
    nn AS (SELECT COUNT(*) AS n FROM seq),
    fan AS (
      SELECT seq.doc_id AS anchor_id, seq.s, nn.n,
             unnest(range(1, 5)) AS neg_rank
      FROM seq, nn
    ),
    h AS (
      SELECT anchor_id, s, n, neg_rank,
             CAST('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '#'
                                      || CAST(neg_rank AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hv
      FROM fan
    ),
    p AS (
      SELECT anchor_id, neg_rank,
             ((hv % (n - 1)) + 1)
             + CASE WHEN ((hv % (n - 1)) + 1) >= s THEN 1 ELSE 0 END AS pos
      FROM h
    )
    SELECT p.anchor_id, CAST(p.neg_rank AS INTEGER) AS neg_rank,
           seq.doc_id AS negative_id
    FROM p JOIN seq ON seq.s = p.pos
    """,
)
def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: 4
    md5-drawn negatives per anchor, uniform over the other documents with
    the anchor's own position remapped away — no RNG, reproducible across
    runs/engines/cluster sizes. Dense positions come from the scale-safe
    sequential-id operator; draws resolve through one position equi-join
    (curation.contrastive_negatives)."""
    return curation.contrastive_negatives(
        _t(spark, sf_dir, "documents"), id_col="doc_id", k=4
    ).select("anchor_id", F.col("neg_rank").cast("int"), "negative_id")


@register(
    "span_corruption_pairs",
    """
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
      FROM documents
    ),
    flat AS (
      SELECT doc_id, u.pos AS pos, u.tok AS tok
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk) + 1),
                      i -> {'pos': i - 1, 'tok': tk[i]})) AS u
        FROM base
      ) WHERE u.tok <> ''
    ),
    m AS (
      SELECT doc_id, pos, tok,
             (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
                                      || CAST(pos AS VARCHAR)), 1, 15)
                   AS BIGINT) % 100) < 15 AS masked
      FROM flat
    ),
    sp AS (
      SELECT doc_id, pos, tok, masked,
             masked AND NOT coalesce(
               lag(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
               AS start
      FROM m
    ),
    sp2 AS (
      SELECT *, SUM(CASE WHEN start THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos) AS span
      FROM sp
    ),
    pieces AS (
      SELECT doc_id, pos, span, masked,
             CASE WHEN NOT masked THEN tok
                  WHEN start THEN '<extra_id_' || CAST(span - 1 AS VARCHAR) || '>'
             END AS in_piece,
             CASE WHEN masked AND start THEN
                    '<extra_id_' || CAST(span - 1 AS VARCHAR) || '> ' || tok
                  WHEN masked THEN tok
             END AS tgt_piece
      FROM sp2
    )
    SELECT doc_id, MAX(span) AS n_spans,
           coalesce(string_agg(in_piece, ' ' ORDER BY pos), '') AS input_text,
           CASE WHEN coalesce(string_agg(tgt_piece, ' ' ORDER BY pos), '') = ''
                THEN '<extra_id_' || CAST(MAX(span) AS VARCHAR) || '>'
                ELSE string_agg(tgt_piece, ' ' ORDER BY pos)
                     || ' <extra_id_' || CAST(MAX(span) AS VARCHAR) || '>'
           END AS target_text
    FROM pieces GROUP BY doc_id
    """,
)
def q_span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 denoising pairs as a query: deterministic md5 masks (~15% of
    tokens), gaps-and-islands span numbering, sentinel rewrite of input
    and target with the closing sentinel — training-example generation
    that is auditable and replayable because there is no RNG anywhere
    (curation.span_corruption). One shuffle on the doc key."""
    return curation.span_corruption(_t(spark, sf_dir, "documents"))


@register(
    "variant_props_stats",
    """
    SELECT event_type,
           COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
           SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS sum_k,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads through Spark 4's VARIANT type:
    ``parse_json`` once at the scan, ``variant_get`` path extraction in
    the aggregate — the open-schema form of the S9/P4 JSON flatten (no
    declared schema, binary-encoded variant instead of per-query string
    re-parsing; at scale parse once, persist the variant column, and
    every downstream path read skips the JSON text entirely)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "snapshot_diff_documents",
    """
    WITH old AS (
      SELECT doc_id, md5(CAST(text AS VARCHAR)) AS fp
      FROM documents WHERE doc_id % 10 <> 0
    ),
    new_v AS (
      SELECT doc_id,
             md5(CAST(CASE WHEN doc_id % 7 = 0
                           THEN text || ' (edited)' ELSE text END AS VARCHAR))
               AS fp
      FROM documents WHERE doc_id % 10 <> 1
    ),
    d AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.fp IS NULL THEN 'added'
                  WHEN n.fp IS NULL THEN 'removed'
                  WHEN o.fp <> n.fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM old o FULL OUTER JOIN new_v n ON o.doc_id = n.doc_id
    )
    SELECT status, COUNT(*) AS n FROM d GROUP BY status
    """,
)
def q_snapshot_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version audit (quality.table_diff): classify every key
    across two snapshots as added/removed/changed/unchanged via one
    full-outer join of per-side md5 digests — wide rows never cross the
    shuffle, only key + 32-byte fingerprint. The two versions here are
    deterministic derivations of the documents table (drop doc_id%10==0
    from 'old', drop %10==1 from 'new', edit %7==0), so the oracle
    replays the same diff."""
    from ..operators.quality import table_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new_v = docs.filter(F.col("doc_id") % 10 != 1).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" (edited)"))
        ).otherwise(F.col("text")),
    )
    diff = table_diff(old, new_v, "doc_id", ["text"])
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


_GEO_PTS = """
      SELECT event_id AS pid,
             CAST(user_id % 1200 AS DOUBLE) / 10 - 60 AS lat,
             CAST(event_id % 3400 AS DOUBLE) / 10 - 170 AS lon
      FROM events
"""


@register(
    "geo_radius_pairs",
    f"""
    WITH pts AS ({_GEO_PTS}),
    q AS (SELECT * FROM pts WHERE pid < 10),
    d AS (
      SELECT q.pid AS qid, p.pid AS pid2,
             2 * 6371.0088 * asin(sqrt(
               sin(radians(p.lat - q.lat) / 2) * sin(radians(p.lat - q.lat) / 2)
               + cos(radians(q.lat)) * cos(radians(p.lat))
                 * sin(radians(p.lon - q.lon) / 2)
                 * sin(radians(p.lon - q.lon) / 2)
             )) AS dist
      FROM q, pts p
    )
    SELECT qid AS query_id, pid2 AS point_id,
           floor(dist * 10000 + 0.5) / 10000.0 AS dist_km
    FROM d WHERE dist <= 50
    """,
)
def q_geo_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join over GPS-shaped coordinates (the fleet query
    "frames within 50 km of these sites"): grid-cell blocking + 9-cell
    probe ring + haversine verify on candidates only — never all-pairs
    (operators/geo.geo_radius_join). Coordinates derive deterministically
    from event ids (the GPS topic stand-in); the oracle is the BRUTE-FORCE
    haversine join, independently proving the cell blocking lossless."""
    from ..operators import geo

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_id").alias("point_id"),
        (F.pmod(F.col("user_id"), F.lit(1200)).cast("double") / 10 - 60).alias("lat"),
        (F.pmod(F.col("event_id"), F.lit(3400)).cast("double") / 10 - 170).alias("lon"),
    )
    qs = pts.filter(F.col("point_id") < 10).withColumnRenamed(
        "point_id", "query_id"
    )
    out = geo.geo_radius_join(pts, qs, radius_km=50.0)
    return out.select(
        "query_id", "point_id", H.quantize(F.col("dist_km"), 4).alias("dist_km")
    )


@register(
    "geo_radius_pairs_antimeridian",
    """
    WITH pts AS (
      SELECT event_id AS pid,
             CAST(user_id % 1200 AS DOUBLE) / 10 - 60 AS lat,
             CASE WHEN CAST(event_id % 3400 AS DOUBLE) / 10 + 10 >= 180
                  THEN CAST(event_id % 3400 AS DOUBLE) / 10 + 10 - 360
                  ELSE CAST(event_id % 3400 AS DOUBLE) / 10 + 10 END AS lon
      FROM events
    ),
    q AS (SELECT * FROM pts WHERE abs(lon) >= 179.5),
    d AS (
      SELECT q.pid AS qid, p.pid AS pid2,
             2 * 6371.0088 * asin(sqrt(
               sin(radians(p.lat - q.lat) / 2) * sin(radians(p.lat - q.lat) / 2)
               + cos(radians(q.lat)) * cos(radians(p.lat))
                 * sin(radians(p.lon - q.lon) / 2)
                 * sin(radians(p.lon - q.lon) / 2)
             )) AS dist
      FROM q, pts p
    )
    SELECT qid AS query_id, pid2 AS point_id,
           floor(dist * 10000 + 0.5) / 10000.0 AS dist_km
    FROM d WHERE dist <= 50
    """,
)
def q_geo_radius_pairs_antimeridian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_radius_pairs with the longitude field rotated +180° (wrapped into
    [-180, 180)), so the fixture clusters AROUND lon ±180 and the query set
    is exactly the fixes within half a degree of the line: the losslessness
    proof for the wrap-aware blocking grid (operators/geo._cell_yx /
    _ring_cells — equal-width lon columns taken mod the column count). The
    brute-force haversine oracle needs no wrap handling at all: sin²(Δlon/2)
    is periodic, so a Δlon of 359.9° scores identically to 0.1° — which is
    what makes it the independent referee here."""
    from ..operators import geo

    ev = _t(spark, sf_dir, "events")
    shifted = F.pmod(F.col("event_id"), F.lit(3400)).cast("double") / 10 + 10
    pts = ev.select(
        F.col("event_id").alias("point_id"),
        (F.pmod(F.col("user_id"), F.lit(1200)).cast("double") / 10 - 60).alias("lat"),
        F.when(shifted >= 180, shifted - 360).otherwise(shifted).alias("lon"),
    )
    qs = pts.filter(F.abs(F.col("lon")) >= 179.5).withColumnRenamed(
        "point_id", "query_id"
    )
    out = geo.geo_radius_join(pts, qs, radius_km=50.0)
    return out.select(
        "query_id", "point_id", H.quantize(F.col("dist_km"), 4).alias("dist_km")
    )


@register(
    "track_path_lengths",
    f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             CAST(user_id % 1200 AS DOUBLE) / 10 - 60 AS lat,
             CAST(event_id % 3400 AS DOUBLE) / 10 - 170 AS lon
      FROM events
    ),
    legs AS (
      SELECT user_id, lat, lon,
             lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat,
             lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon
      FROM pts
    ),
    d AS (
      SELECT user_id,
             2 * 6371.0088 * asin(sqrt(
               sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
               + cos(radians(plat)) * cos(radians(lat))
                 * sin(radians(lon - plon) / 2) * sin(radians(lon - plon) / 2)
             )) AS leg
      FROM legs WHERE plat IS NOT NULL
    )
    SELECT user_id, COUNT(*) AS n_legs,
           floor(SUM(leg) * 10000 + 0.5) / 10000.0 AS path_km,
           floor(MAX(leg) * 10000 + 0.5) / 10000.0 AS max_leg_km
    FROM d GROUP BY user_id
    ORDER BY path_km DESC, user_id LIMIT 20
    """,
)
def q_track_path_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-drive trajectory summary (GPS-topic shape): total path length
    and longest leg from consecutive fixes — one lag window per track +
    haversine per leg, the odometry audit that flags GPS jumps (max leg
    way above the sensor's plausible speed). Top-20 heaviest tracks via
    TakeOrderedAndProject; coordinates derive from event ids as in
    geo_radius_pairs."""
    from ..operators.geo import haversine_km

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", "ts", "event_id",
        (F.pmod(F.col("user_id"), F.lit(1200)).cast("double") / 10 - 60).alias("lat"),
        (F.pmod(F.col("event_id"), F.lit(3400)).cast("double") / 10 - 170).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    legs = pts.select(
        "user_id", "lat", "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).filter(F.col("plat").isNotNull())
    leg = haversine_km(
        F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")
    )
    agg = legs.select("user_id", leg.alias("leg")).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_legs"),
        H.quantize(F.sum("leg"), 4).alias("path_km"),
        H.quantize(F.max("leg"), 4).alias("max_leg_km"),
    )
    return agg.orderBy(F.desc("path_km"), "user_id").limit(20)


@register(
    "colocation_pairs",
    """
    WITH pts AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms,
             user_id % 1200 AS latk,
             CAST(user_id % 1200 AS DOUBLE) / 10 - 60 AS lat,
             CAST(event_id % 3400 AS DOUBLE) / 10 - 170 AS lon
      FROM events
    ),
    cand AS (
      SELECT a.user_id AS ua, b.user_id AS ub, a.ms AS ma, b.ms AS mb,
             a.lat AS la, a.lon AS loa, b.lat AS lb, b.lon AS lob
      FROM pts a JOIN pts b
        ON a.user_id < b.user_id
       AND abs(a.latk - b.latk) <= 5
       AND abs(a.ms - b.ms) <= 3600000
    ),
    v AS (
      SELECT ua, ub, ma, mb FROM cand
      WHERE 2 * 6371.0088 * asin(sqrt(
              sin(radians(lb - la) / 2) * sin(radians(lb - la) / 2)
              + cos(radians(la)) * cos(radians(lb))
                * sin(radians(lob - loa) / 2) * sin(radians(lob - loa) / 2)
            )) <= 50
    )
    SELECT ua AS user_id_a, ub AS user_id_b, COUNT(*) AS n_encounters,
           MIN(least(ma, mb)) AS first_ms
    FROM v GROUP BY 1, 2
    """,
)
def q_colocation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatiotemporal encounter mining: pairs of tracks within 50 km of
    each other within an hour (operators/geo.colocation_pairs) — blocking
    on (grid cell, time bucket) with a 27-key probe ring so candidates
    equi-join; haversine + |dt| verify on candidates only. The oracle is
    the brute-force formulation (with a provably lossless integer
    lat-band prefilter to keep it tractable), independently confirming
    the spatiotemporal blocking drops no pairs."""
    from ..operators import geo

    ev = _t(spark, sf_dir, "events")
    fixes = ev.select(
        "user_id", "event_id", "ts",
        (F.pmod(F.col("user_id"), F.lit(1200)).cast("double") / 10 - 60).alias("lat"),
        (F.pmod(F.col("event_id"), F.lit(3400)).cast("double") / 10 - 170).alias("lon"),
    )
    return geo.colocation_pairs(fixes, radius_km=50.0, max_dt_s=3600)


@register(
    "od_matrix_daily",
    """
    WITH pts AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms, CAST(ts AS DATE) AS d,
             CAST(floor((CAST(user_id % 1200 AS DOUBLE) / 10 - 60 + 90) / 1.0)
                  * 360 +
                  floor((CAST(event_id % 3400 AS DOUBLE) / 10 - 170 + 180) / 1.0)
               AS BIGINT) AS cell
      FROM events
    ),
    r AS (
      SELECT user_id, d, cell,
             row_number() OVER (PARTITION BY user_id, d
                                ORDER BY ms, event_id) AS rn_first,
             row_number() OVER (PARTITION BY user_id, d
                                ORDER BY ms DESC, event_id DESC) AS rn_last
      FROM pts
    )
    SELECT o.cell AS origin_cell, t.cell AS dest_cell, COUNT(*) AS n_trips
    FROM (SELECT user_id, d, cell FROM r WHERE rn_first = 1) o
    JOIN (SELECT user_id, d, cell FROM r WHERE rn_last = 1) t
      USING (user_id, d)
    GROUP BY 1, 2
    """,
)
def q_od_matrix_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin→destination matrix: each track-day's first and last fix
    snapped to a 1° grid cell (operators/geo.geo_cell), counted per
    (origin, destination) — the fleet-utilization rollup. Two windows
    over one partitioning + a per-day self-join on the tiny
    (user, day) key; the cell snap is pure floor arithmetic, so the
    oracle replays it exactly."""
    from ..operators.geo import geo_cell

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", "event_id",
        F.unix_millis("ts").alias("ms"),
        F.to_date("ts").alias("d"),
        geo_cell(
            F.pmod(F.col("user_id"), F.lit(1200)).cast("double") / 10 - 60,
            F.pmod(F.col("event_id"), F.lit(3400)).cast("double") / 10 - 170,
            1.0,
        ).alias("cell"),
    )
    w_first = Window.partitionBy("user_id", "d").orderBy("ms", "event_id")
    w_last = Window.partitionBy("user_id", "d").orderBy(
        F.desc("ms"), F.desc("event_id")
    )
    r = pts.select(
        "user_id", "d", "cell",
        F.row_number().over(w_first).alias("rn_first"),
        F.row_number().over(w_last).alias("rn_last"),
    )
    o = r.filter(F.col("rn_first") == 1).select("user_id", "d", F.col("cell").alias("origin_cell"))
    t = r.filter(F.col("rn_last") == 1).select("user_id", "d", F.col("cell").alias("dest_cell"))
    return (
        o.join(t, ["user_id", "d"])
        .groupBy("origin_cell", "dest_cell")
        .agg(F.count(F.lit(1)).alias("n_trips"))
    )


@register(
    "frequent_event_trigrams",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    , c AS (
      SELECT event_type AS e1, e2, e3, COUNT(*) AS n
      FROM s WHERE e3 IS NOT NULL
      GROUP BY 1, 2, 3
    )
    SELECT e1, e2, e3, n, CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY n DESC, e1, e2, e3) AS rnk
          FROM c)
    WHERE rnk <= 15
    """,
)
def q_frequent_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining, the frequency counterpart of the CEP
    regex matcher (`event_pattern_users`): the corpus's most common
    3-step behavior sequences, from per-user lead-window trigrams +
    one count aggregation + a top-15 rank over the count table. The
    trigram window rides the per-user partitioning; the shuffle after
    the map-side combine carries one row per DISTINCT trigram (bounded
    by |types|³, here ≤125), so the final single-partition rank window
    sorts a dimension-sized table, never the events."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    counts = s.groupBy("e1", "e2", "e3").agg(F.count(F.lit(1)).alias("n"))
    wr = Window.orderBy(F.desc("n"), "e1", "e2", "e3")
    return (
        counts.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 15)
    )


# ---------------------------------------------------------------------------
# Classic warehouse query shapes, round-4 batch 2 (TPC-H Q7/Q11/Q18/Q21/Q22
# forms adapted to the driver tables — each exercises a distinct join/agg
# pattern a reference user would run on frame/run metadata at fleet scale)
# ---------------------------------------------------------------------------

@register(
    "volume_shipping",
    """
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           {rev} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """.format(
        rev=SQL_DSUM.format(
            x="CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"
        )
    ),
    headline=True,
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two nations): a five-way
    join where every dimension side — orders→customer→nation and
    supplier→nation — is broadcast-sized relative to lineitem, so the
    only shuffle Catalyst needs is the lineitem↔orders equi-join (AQE
    broadcasts orders at small SF; at 100 TB both fact sides shuffle on
    orderkey while nation/supplier stay broadcast). The nation-pair
    predicate prunes at the dimension BEFORE the fact join: Catalyst
    pushes the filter through the join so only matching suppliers /
    customers reach the probe side."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    cn = na.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = na.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(pair_ok)
        .withColumn("yr", F.year("o_orderdate"))
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(fsum("l_extendedprice * (1 - l_discount)", "revenue"))
    )


@register(
    "important_parts",
    """
    WITH pv AS (
      SELECT l_partkey, {val} AS value
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, value
    FROM pv
    WHERE value > 0.0008 * (
      SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) FROM pv
    )
    """.format(
        val=SQL_DSUM.format(
            x="CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"
        )
    ),
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (parts above a global value-share threshold): the
    per-part value aggregate is computed ONCE — `pv` is a single shuffle
    on partkey, PERSISTED (|parts| rows, megabytes at any scale) because
    both the global total and the output rows consume it and Catalyst's
    ReuseExchange does not fire across the broadcast boundary under AQE
    (verified: the unpersisted form scans + shuffles lineitem twice).
    The total is a 1-row re-aggregate of the cached pv joined back by
    broadcast cross join (scalar-subquery pattern, same as bm25's corpus
    stats); the shared aggregate is locally checkpointed PER CALL (lazy)
    rather than persist()ed — a CacheManager entry would silently serve
    repeat invocations over the same input from cache and live until
    session end."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    pv = (
        li.groupBy("l_partkey")
        .agg(F.sum(rev).cast("double").alias("value"))
    )
    pv = _share_ckpt(pv)
    total = pv.agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("_total")
    )
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("value") > 0.0008 * F.col("_total"))
        .select("l_partkey", "value")
    )


@register(
    "large_orders",
    """
    WITH oq AS (
      SELECT l_orderkey, {sq} AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING {sq} > 300.0
    )
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM oq
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    """.format(sq=SQL_DSUM.format(x="l_quantity")),
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate-then-join — the
    HAVING filter runs on the aggregated per-order table BEFORE the
    joins, so only the few surviving orderkeys (46 at sf0.01) reach the
    orders/customer joins; AQE sees the tiny post-agg side and broadcasts
    it against orders, turning a fact↔fact join into a broadcast probe.
    The anti-pattern (join first, filter later) would shuffle all of
    lineitem×orders — ordering the plan this way is the whole point."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    oq = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), "sum_qty"))
        .filter(F.col("sum_qty") > 300.0)
    )
    return (
        oq.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


@register(
    "sole_supplier_orders",
    """
    WITH ol AS (
      SELECT l_orderkey,
             COUNT(*) AS n_lines,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             MIN(l_suppkey) AS the_supp
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT s_suppkey, s_name, COUNT(*) AS n_sole_orders
    FROM ol JOIN supplier ON the_supp = s_suppkey
    WHERE n_lines >= 2 AND n_supp = 1
    GROUP BY 1, 2
    """,
)
def q_sole_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's correlated EXISTS/NOT-EXISTS semantics re-expressed as
    one aggregation: "orders where supplier X participated and no other
    supplier did" is exactly `count(distinct l_suppkey) = 1` per order —
    a single shuffle on orderkey replaces two correlated self-joins of
    lineitem (the literal Q21 plan shuffles lineitem three times). MIN
    over the single distinct supplier IS that supplier; the supplier
    dimension joins by broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    ol = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("l_suppkey").alias("the_supp"),
        F.max("l_suppkey").alias("max_supp"),
    )
    # exactly-one-distinct ⟺ min == max: avoids count(distinct)'s Expand
    # (which doubles the pre-shuffle rows) — one plain hash aggregate
    return (
        ol.filter(
            (F.col("n_lines") >= 2) & (F.col("the_supp") == F.col("max_supp"))
        )
        .join(F.broadcast(su), F.col("the_supp") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_sole_orders"))
    )


@register(
    "idle_rich_customers",
    """
    SELECT c_nationkey, COUNT(*) AS n_cust, {bal} AS total_bal
    FROM customer
    WHERE c_acctbal > (
      SELECT {avg_bal} FROM customer WHERE c_acctbal > 0.0
    )
    AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    GROUP BY c_nationkey
    """.format(
        bal=SQL_DSUM.format(x="c_acctbal"),
        avg_bal=SQL_DAVG.format(x="c_acctbal"),
    ),
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (above-average-balance customers with no urgent
    orders): the scalar-average threshold is a 1-row broadcast, the
    NOT EXISTS is a left-anti join against the urgent-order custkeys —
    Spark's native anti join needs only the DISTINCT custkey projection
    of the filtered orders (priority filter pushed to the scan), so the
    anti side is |customers-with-urgent-orders| keys, not all orders."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    thresh = cu.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_avg_bal")
    )
    urgent = od.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey")
    )
    return (
        cu.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum(F.col("c_acctbal"), "total_bal"),
        )
    )


@register(
    "grouping_sets_revenue",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
              + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END
              AS INTEGER) AS gid,
           {rev} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """.format(
        rev=SQL_DSUM.format(
            x="CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"
        )
    ),
    headline=True,
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with an explicit grouping id — the generalization of
    the rollup/cube queries: three aggregation grains in ONE pass (Spark
    expands the sets map-side, so lineitem is scanned once and partial
    aggs combine before the single shuffle). The grain id is derived
    from NULL-ness rather than grouping_id() so both engines compute it
    identically regardless of their internal bit ordering; the driver
    tables have no real NULLs in these columns, making NULL an
    unambiguous 'aggregated-away' marker."""
    li = _t(spark, sf_dir, "lineitem")
    grouped = li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        fsum("l_extendedprice * (1 - l_discount)", "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    gid = (
        F.when(F.col("l_returnflag").isNull(), 2).otherwise(0)
        + F.when(F.col("l_linestatus").isNull(), 1).otherwise(0)
    ).cast("int")
    return grouped.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        gid.alias("gid"),
        "revenue",
        "n_lines",
    )


# ---------------------------------------------------------------------------
# Behavioral / time-series batch (round-4 batch 3): native session windows,
# Markov transitions, robust outliers, SCD2 history, collocations, interval
# overlap join
# ---------------------------------------------------------------------------

@register(
    "session_window_stats",
    """
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), g AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_ts,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id, sid
    """,
    headline=True,
)
def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window (6-hour gap) vs the islands replica:
    the same merge rule as `sessionize_stats` (break iff gap STRICTLY
    exceeds the threshold, verified at exact-gap spacing) but expressed as
    the built-in windowing that also runs under Structured Streaming.
    One shuffle; Spark merges session candidates inside the agg."""
    return sessionize.session_window_stats(
        _t(spark, sf_dir, "events"), gap="6 hours"
    )


@register(
    "markov_transitions",
    """
    WITH s AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS to_type
      FROM events
    ), c AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6)
             AS p
    FROM c
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior — the
    probabilistic counterpart of `frequent_event_trigrams`. The lead
    window rides the per-user partition; normalization is a window over
    the ≤|types|² count table, never the events."""
    return sessionize.transition_matrix(_t(spark, sf_dir, "events"))


@register(
    "mad_anomalies",
    """
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ), dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           ROUND(ANY_VALUE(d.med), 6) AS med,
           ROUND(ANY_VALUE(ma.mad), 6) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3.0 * ma.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           COUNT(*) AS n_rows
    FROM dev d JOIN mad ma USING (event_type)
    GROUP BY d.event_type
    """,
)
def q_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier summary per event type — the
    fat-tail-safe twin of `zscore_anomalies` (quality.mad_outliers).
    Exact interpolated medians keep both engines bit-aligned; the value
    distribution is continuous, so the >3·MAD cut is ulp-stable."""
    from ..operators import quality as Q

    out = Q.mad_outliers(_t(spark, sf_dir, "events"), "event_type", "value", k=3.0)
    return out.select(
        "event_type",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        "n_outliers",
        "n_rows",
    )


@register(
    "scd2_intervals",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR event_type <> lag(event_type) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), r AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM s
    ), iv AS (
      SELECT user_id, run, ANY_VALUE(event_type) AS event_type,
             MIN(ts) AS valid_from
      FROM r GROUP BY 1, 2
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER wv AS valid_to,
           CAST(run AS INTEGER) AS version,
           (lead(valid_from) OVER wv IS NULL) AS is_current
    FROM iv
    WINDOW wv AS (PARTITION BY user_id ORDER BY run)
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals of each user's event_type runs
    (operators/scd.change_intervals): the full-history counterpart of the
    manifest's last-writer-wins state — "what was the state at T" becomes
    an interval lookup. Gaps-and-islands + one run-level lead window."""
    from ..operators import scd

    return scd.change_intervals(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        attr_col="event_type",
        tie_col="event_id",
    )


@register(
    "bigram_pmi",
    f"""
    WITH tok AS (SELECT {_D_TOKS} AS t FROM documents),
    uni AS (
      SELECT w, COUNT(*) AS nw
      FROM (SELECT unnest(t) AS w FROM tok) WHERE w <> '' GROUP BY 1
    ),
    nu AS (SELECT SUM(nw) AS nu FROM uni),
    bi AS (
      SELECT t[i+1] AS w1, t[i+2] AS w2
      FROM (SELECT t, unnest(range(0, len(t) - 1)) AS i FROM tok)
    ),
    bc AS (
      SELECT w1, w2, COUNT(*) AS n_ab
      FROM bi WHERE w1 <> '' AND w2 <> ''
      GROUP BY 1, 2 HAVING COUNT(*) >= 5
    ),
    nb AS (SELECT SUM(greatest(len(t) - 1, 0)) AS nb FROM tok)
    SELECT w1, w2, n_ab,
           ROUND(ln(n_ab) + 2.0 * ln(nu) - ln(nb) - ln(na) - ln(nb2), 6)
             AS pmi
    FROM bc
    JOIN (SELECT w AS w1u, nw AS na FROM uni) u1 ON w1 = w1u
    JOIN (SELECT w AS w2u, nw AS nb2 FROM uni) u2 ON w2 = w2u, nu, nb
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (textstats.bigram_pmi): PMI of adjacent word
    pairs — the phrase signal for tokenizer/vocab construction. One
    tokenize pass; vocabulary-sized joins, all broadcast."""
    return textstats.bigram_pmi(_t(spark, sf_dir, "documents"), min_count=5)


@register(
    "co_active_user_pairs",
    """
    WITH s AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             MIN(ts) AS s_ts, MAX(ts) AS e_ts
      FROM events GROUP BY 1, 2
    )
    SELECT a.day, COUNT(*) AS n_pairs
    FROM s a JOIN s b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.s_ts <= b.e_ts AND b.s_ts <= a.e_ts
    GROUP BY 1
    """,
    headline=True,
)
def q_co_active_user_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval OVERLAP join (range_join.interval_overlap_join): pairs of
    users whose daily activity spans [first event, last event] overlap,
    counted per day. The bucketed formulation turns DuckDB's inequality
    join into an equi-join on 6-hour time buckets with an anchor-bucket
    rule that admits each overlapping pair exactly once — no distinct,
    no nested loop; candidates are bucket-local."""
    from ..operators.range_join import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    # SHUFFLE_HASH hints on both self-join sides: the bucketed interval
    # join then shuffles two canonically-equal subtrees on the bucket key
    # (the band-join pattern of minhash/lsh/winnow) instead of
    # broadcast-materializing the spans aggregate per side. Measured at
    # sf0.1: 0.95 s vs 2.1 s for either persist- or checkpoint-shared
    # broadcast forms — and no cache/checkpoint state, so every run
    # recomputes from the events scan (a persist() here served repeat
    # invocations from the CacheManager and made the warm bench skip the
    # aggregation entirely). Bucket keys are 6 h windows — few and hot —
    # which AQE's skew-join split handles for shuffle joins.
    spans = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.min("ts").alias("s_ts"), F.max("ts").alias("e_ts"))
    )
    pairs = interval_overlap_join(
        spans.hint("shuffle_hash"),
        spans.hint("shuffle_hash"),
        "s_ts",
        "e_ts",
        "s_ts",
        "e_ts",
        bucket_ms=6 * 3600 * 1000,
        extra_cond=(F.col("day") == F.col("day_r"))
        & (F.col("user_id") < F.col("user_id_r")),
    )
    return pairs.groupBy("day").agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# Distribution-statistics batch (round-4 batch 4): histograms, correlation,
# independence, entropy, RFM segmentation, nucleus selection, gap analysis
# ---------------------------------------------------------------------------

@register(
    "value_histogram",
    """
    WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
    SELECT event_type,
           CAST(LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / 20)) AS INTEGER),
                      19) AS INTEGER) AS bin,
           COUNT(*) AS n
    FROM events, b
    GROUP BY 1, 2
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram on the GLOBAL [min,max] per event type
    (stats.fixed_width_histogram): a 1-row bounds broadcast + one count
    aggregation whose shuffle carries n_bins×|types| rows. The max value
    is clamped into the last bin (half-open bins, closed top)."""
    from ..operators import stats

    return stats.fixed_width_histogram(
        _t(spark, sf_dir, "events"), "value", n_bins=20, group_col="event_type"
    )


@register(
    "quantity_price_correlation",
    """
    WITH a AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy)
                 / NULLIF(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0),
                 6) AS r
    FROM a
    """,
)
def q_quantity_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from the sum/sum-of-squares identity
    (stats.pearson_correlation) — ONE aggregation pass, decimal-
    accumulated so partition order can't perturb the moments. (Spark's
    built-in corr() is a float accumulator — portable only to ~1e-7;
    the identity form is exact.)"""
    from ..operators import stats

    return stats.pearson_correlation(
        _t(spark, sf_dir, "lineitem"),
        "l_quantity",
        "l_extendedprice",
        group_col="l_returnflag",
    )


@register(
    "chi2_lang_source",
    """
    WITH cells AS (
      SELECT lang AS a, source AS b, COUNT(*) AS observed
      FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT a, SUM(observed) AS ra FROM cells GROUP BY a),
    ct AS (SELECT b, SUM(observed) AS cb FROM cells GROUP BY b),
    g  AS (SELECT CAST(SUM(observed) AS DOUBLE) AS gt FROM cells)
    SELECT a, b, observed,
           ROUND(ra * cb / gt, 6) AS expected,
           ROUND((observed - ra * cb / gt) * (observed - ra * cb / gt)
                 / (ra * cb / gt), 6) AS chi2_term
    FROM cells JOIN rt USING (a) JOIN ct USING (b), g
    """,
)
def q_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for lang × source
    (stats.chi2_independence): is the language mix uniform across
    sources? One count aggregation; marginals derive from the
    |lang|×|source| cell table, never re-touching the corpus."""
    from ..operators import stats

    return stats.chi2_independence(_t(spark, sf_dir, "documents"), "lang", "source")


@register(
    "source_token_entropy",
    f"""
    WITH toks AS (
      SELECT source AS grp, unnest({_D_TOKS}) AS token FROM documents
    ),
    counts AS (
      SELECT grp, token, COUNT(*) AS c
      FROM toks WHERE token <> '' GROUP BY 1, 2
    )
    SELECT grp, SUM(c) AS n_tokens, COUNT(*) AS n_distinct,
           ROUND(ln(SUM(c))
                 - CAST(SUM(CAST(c * ln(c) AS DECIMAL(28,12))) AS DOUBLE)
                   / SUM(c), 6) AS entropy_nats
    FROM counts GROUP BY grp
    """,
)
def q_source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution
    (stats.token_entropy_by_group) — the degenerate-source detector
    (boilerplate/spam loops score low). H = ln N − (Σ c·ln c)/N; each
    term is a pure function of an exact count and the sum accumulates as
    DECIMAL, so the statistic is engine- and partition-order-exact."""
    from ..operators import stats

    return stats.token_entropy_by_group(_t(spark, sf_dir, "documents"), "source")


@register(
    "rfm_scores",
    """
    WITH mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
    per AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate), ANY_VALUE(maxd)) AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS monetary
      FROM orders, mx GROUP BY o_custkey
    ),
    b AS (
      SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rq,
             quantile_cont(frequency,    [0.2, 0.4, 0.6, 0.8]) AS fq,
             quantile_cont(monetary,     [0.2, 0.4, 0.6, 0.8]) AS mq
      FROM per
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           CAST(6 - (1 + len(list_filter(rq, q -> recency_days > q)))
                AS INTEGER) AS r_score,
           CAST(1 + len(list_filter(fq, q -> frequency > q)) AS INTEGER) AS f_score,
           CAST(1 + len(list_filter(mq, q -> monetary  > q)) AS INTEGER) AS m_score
    FROM per, b
    """,
)
def q_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation (stats.rfm_scores): scores assigned by
    comparison against exact quantile boundaries (1-row broadcast), NOT
    an unpartitioned ntile — every customer through one sort task is the
    anti-pattern; the threshold form is a per-customer aggregation plus a
    broadcast probe, and ties share a score (the meaningful behavior)."""
    from ..operators import stats

    return stats.rfm_scores(_t(spark, sf_dir, "orders"))


@register(
    "nucleus_docs",
    """
    WITH sized AS (
      SELECT doc_id, source, n_chars AS sz FROM documents
    ),
    tot AS (SELECT source, SUM(sz) AS t FROM sized GROUP BY source),
    c AS (
      SELECT doc_id, sized.source, sz,
             SUM(sz) OVER (PARTITION BY sized.source
                           ORDER BY sz DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum_sz,
             t
      FROM sized JOIN tot ON sized.source = tot.source
    )
    SELECT doc_id, source, sz AS n_chars, cum_sz
    FROM c WHERE cum_sz - sz < 0.9 * t
    """,
)
def q_nucleus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) selection per source (curation.nucleus_keep): keep
    the largest documents until 90% of each source's character mass is
    covered — drop the fragment tail with a provable coverage bound. One
    per-source window cumsum; the boundary row is included so coverage
    is met, never undershot."""
    return curation.nucleus_keep(_t(spark, sf_dir, "documents"), p=0.9)


@register(
    "inter_purchase_gaps",
    """
    WITH p AS (
      SELECT user_id, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(FLOOR((epoch_us(nxt) - epoch_us(ts)) / 3600000000.0) AS BIGINT)
             AS gap_hours,
           COUNT(*) AS n
    FROM p WHERE nxt IS NOT NULL
    GROUP BY 1
    """,
)
def q_inter_purchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of time between consecutive purchases per user — the
    repeat-behavior profile (hour-bucketed histogram). The type filter
    pushes to the scan; the lead window rides the per-user partition;
    the count shuffle carries one row per distinct gap bucket."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            F.col("ts"), F.lead("ts").over(w).alias("nxt")
        )
        .filter(F.col("nxt").isNotNull())
        .select(
            F.floor(
                (F.unix_micros("nxt") - F.unix_micros("ts")) / 3600000000.0
            )
            .cast("bigint")
            .alias("gap_hours")
        )
    )
    return gaps.groupBy("gap_hours").agg(F.count(F.lit(1)).alias("n"))


@register(
    "purchase_next_error",
    """
    SELECT p.user_id, p.event_id, p.ts, MIN(e.ts) AS next_error_ts
    FROM (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT user_id, ts FROM events
               WHERE event_type = 'error') e
      ON e.user_id = p.user_id AND e.ts >= p.ts
     AND epoch_ms(e.ts) - epoch_ms(p.ts) <= 259200000
    GROUP BY 1, 2, 3
    """,
)
def q_purchase_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (asof.asof_join direction='forward'): for each
    purchase, the user's next error within 72 h — the
    "failure-after-action" attribution. Same single sort-shuffle union
    plan as the backward as-of, with the same-ts tiebreak and window
    frame flipped; the oracle's inequality join + MIN is the semantic
    spec, not the plan."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts")
    )
    return asof_op.asof_join(
        purchases,
        errors,
        on="user_id",
        left_ts="ts",
        right_ts="err_ts",
        right_vals=["err_ts"],
        tolerance_ms=72 * 3600 * 1000,
        direction="forward",
    ).select(
        "user_id", "event_id", "ts", F.col("err_ts").alias("next_error_ts")
    )


@register(
    "sliding_window_counts",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
             - k * INTERVAL '1 hour' AS window_start,
           event_type, COUNT(*) AS n_events
    FROM events, (SELECT unnest(range(0, 6)) AS k)
    GROUP BY 1, 2
    """,
)
def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING windows (6-hour window, 1-hour slide) per event type — the
    overlapping-window sibling of `window_tumbling`: every event lands in
    exactly window/slide = 6 epoch-aligned windows, which Spark's
    F.window expands map-side before ONE count aggregation (shuffle width
    = |windows|×|types|, a dimension table). The oracle replays the
    expansion as an explicit 0..5 hour-offset unnest."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "6 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )


@register(
    "approx_quantile_check",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.95), 6) AS p95_exact,
           TRUE AS within_1pct
    FROM events GROUP BY event_type
    """,
)
def q_approx_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile accuracy gate (same oracle pattern as
    `hll_distinct_users`): the query computes BOTH Spark's mergeable
    Greenwald-Khanna sketch percentile (approx_percentile, the 100 TB
    path — sketches shuffle, not values) and the exact interpolated p95,
    and emits a within-1% verdict the oracle asserts TRUE — a broken
    sketch path fails the hash gate even though DuckDB can't replay the
    sketch itself."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.95)").alias("_exact"),
            F.expr("approx_percentile(value, 0.95, 10000)").alias("_approx"),
        )
        .select(
            "event_type",
            F.round("_exact", 6).alias("p95_exact"),
            (
                F.abs(F.col("_approx") - F.col("_exact"))
                <= F.lit(0.01) * F.abs(F.col("_exact"))
            ).alias("within_1pct"),
        )
    )


@register(
    "resample_interp_6h",
    """
    WITH bounds AS (
      SELECT user_id,
             make_timestamp(CAST(floor(epoch(min(ts)) / 21600) * 21600 AS BIGINT) * 1000000) AS g0,
             max(ts) AS g1
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(g0, g1, INTERVAL 21600 SECOND)) AS t
      FROM bounds
    ),
    u AS (
      SELECT user_id, t, 1 AS is_grid,
             CAST(NULL AS DOUBLE) AS v, CAST(NULL AS BIGINT) AS tus,
             CAST(NULL AS BIGINT) AS tie
      FROM grid
      UNION ALL
      SELECT user_id, ts, 0, value, epoch_us(ts), event_id FROM events
    ),
    f AS (
      SELECT user_id, t, is_grid,
             last_value(v IGNORE NULLS) OVER wp AS v0,
             last_value(tus IGNORE NULLS) OVER wp AS t0,
             first_value(v IGNORE NULLS) OVER wn AS v1,
             first_value(tus IGNORE NULLS) OVER wn AS t1
      FROM u
      WINDOW wp AS (PARTITION BY user_id ORDER BY t, is_grid, tie NULLS FIRST
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY t, is_grid, tie NULLS FIRST
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, t AS grid_ts,
           ROUND(CASE WHEN t0 IS NULL THEN NULL
                      WHEN t0 = epoch_us(t) THEN v0
                      WHEN t1 IS NULL THEN NULL
                      ELSE v0 + (v1 - v0) * (epoch_us(t) - t0) / (t1 - t0)
                 END, 6) AS value
    FROM f WHERE is_grid = 1
    """,
)
def q_resample_interp_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling onto the 6-hour grid
    (resample.resample_interpolate) — the first-order hold beside
    `resample_ffill_6h`'s zero-order hold (pose/velocity channels between
    frame timestamps, reference frame clock processing.py:192). BOTH
    neighbors come from the one sorted union pass (no per-grid-point
    join); same single sort-shuffle as ffill."""
    from ..operators import resample as RS

    out = RS.resample_interpolate(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        step_seconds=21600,
        tie_col="event_id",
    )
    return out.select("user_id", "grid_ts", F.round("value", 6).alias("value"))


@register(
    "equi_depth_price_histogram",
    """
    WITH b AS (
      SELECT quantile_cont(o_totalprice,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM orders
    )
    SELECT CAST(len(list_filter(qs, q -> o_totalprice > q)) AS INTEGER) AS bin,
           COUNT(*) AS n
    FROM orders, b
    GROUP BY 1
    """,
)
def q_equi_depth_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order prices (stats.equi_depth_histogram):
    bin edges at the exact global deciles (1-row broadcast), one count
    aggregation — the optimizer-statistics form of the histogram family,
    no sort or ntile over the fact table."""
    from ..operators import stats

    return stats.equi_depth_histogram(
        _t(spark, sf_dir, "orders"), "o_totalprice", n_bins=10
    )


def _source_overlap_sql() -> str:
    """Composed oracle: the registered MinHash pair oracle joined back to
    each side's source — the cross-source contamination matrix."""
    return f"""
    WITH pairs AS ({_d_minhash_sql()})
    SELECT da.source AS source_a, db.source AS source_b, COUNT(*) AS n_pairs
    FROM pairs
    JOIN documents da ON pairs.id_a = da.doc_id
    JOIN documents db ON pairs.id_b = db.doc_id
    GROUP BY 1, 2
    """


@register("source_overlap_matrix", _source_overlap_sql())
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate matrix: which SOURCES copy from each
    other — the provenance rollup of `minhash_dedup_pairs` (operator
    composition: the pair table is id-only, so the join back to the
    |docs|-row source map is two key joins, and the matrix is
    |sources|²-bounded). The contamination audit run before mixing a new
    source into a training blend."""
    pairs = dedup.minhash_dedup_pairs(_spread_docs(spark, sf_dir), threshold=0.8)
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        pairs.select("id_a", "id_b")
        .join(src.withColumnRenamed("source", "source_a"),
              F.col("id_a") == F.col("doc_id"))
        .drop("doc_id")
        .join(src.withColumnRenamed("source", "source_b"),
              F.col("id_b") == F.col("doc_id"))
        .drop("doc_id")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "weekly_growth",
    """
    WITH wk AS (
      SELECT event_type,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, week_start, n,
           ROUND(CAST(n AS DOUBLE) / lag(n) OVER
                   (PARTITION BY event_type ORDER BY week_start) - 1.0, 6)
             AS wow_growth
    FROM wk
    """,
)
def q_weekly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type: one count aggregation to the
    |types|×|weeks| table, then a lag window over THAT (dimension-sized,
    never the events). NULL growth on each type's first week."""
    ev = _t(spark, sf_dir, "events")
    wk = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").alias("week_start")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("week_start")
    return wk.withColumn(
        "wow_growth",
        F.round(F.col("n") / F.lag("n").over(w) - 1.0, 6),
    )


@register(
    "cumulative_adoption",
    """
    WITH first_day AS (
      SELECT user_id,
             CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT day, COUNT(*) AS new_users FROM first_day GROUP BY day
    )
    SELECT day, new_users,
           SUM(new_users) OVER (ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS total_users
    FROM daily
    """,
)
def q_cumulative_adoption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative adoption curve: each user's first-seen day (one groupBy
    on user), daily new-user counts, and the running total — computed as
    a window over the |days|-row table, so the only unpartitioned window
    in the plan sorts ~30 rows, not users or events."""
    ev = _t(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day")
    )
    daily = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.withColumn("total_users", F.sum("new_users").over(w))


@register(
    "view_to_purchase_latency",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy
      FROM events GROUP BY user_id
    )
    SELECT CAST(FLOOR((epoch_us(first_buy) - epoch_us(first_view))
                      / 3600000000.0) AS BIGINT) AS latency_hours,
           COUNT(*) AS n_users
    FROM firsts
    WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
      AND first_buy >= first_view
    GROUP BY 1
    """,
)
def q_view_to_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency histogram: hours from first view to first
    purchase per user — ONE conditional aggregation (no self-join of
    events with events; the CASE-inside-MIN trick collapses both firsts
    into the same per-user pass), then an hour-bucket count."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_buy"
        ),
    )
    return (
        firsts.filter(
            F.col("first_view").isNotNull()
            & F.col("first_buy").isNotNull()
            & (F.col("first_buy") >= F.col("first_view"))
        )
        .select(
            F.floor(
                (F.unix_micros("first_buy") - F.unix_micros("first_view"))
                / 3600000000.0
            )
            .cast("bigint")
            .alias("latency_hours")
        )
        .groupBy("latency_hours")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "customer_spend_gini",
    """
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT spend,
             row_number() OVER (ORDER BY spend, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM per
    )
    SELECT CAST(ANY_VALUE(n) AS BIGINT) AS n_customers,
           ROUND(2.0 * SUM(CAST(i * spend AS DECIMAL(28,8)))
                   / (ANY_VALUE(n) * SUM(CAST(spend AS DECIMAL(28,8))))
                 - (ANY_VALUE(n) + 1.0) / ANY_VALUE(n), 6) AS gini
    FROM ranked
    """,
)
def q_customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend concentration —
    G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over rank-ordered spend. The rank is
    inherently a total order, so the window runs over the PER-CUSTOMER
    aggregate (dimension-sized, like value_ranks), never the orders; both
    Σ terms accumulate as DECIMAL for engine-exactness."""
    od = _t(spark, sf_dir, "orders")
    per = od.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("spend")
    )
    w = Window.orderBy("spend", "o_custkey")
    ranked = per.select(
        "spend",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    return ranked.agg(
        F.first("n").alias("n_customers"),
        F.round(
            2.0
            * F.sum((F.col("i") * F.col("spend")).cast("decimal(28,8)"))
            .cast("double")
            / (
                F.first("n")
                * F.sum(F.col("spend").cast("decimal(28,8)")).cast("double")
            )
            - (F.first("n") + 1.0) / F.first("n"),
            6,
        ).alias("gini"),
    )


@register(
    "part_basket_lift",
    """
    WITH norders AS (SELECT CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) AS n
                     FROM orders),
    items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pcnt AS (SELECT l_partkey, COUNT(*) AS np FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT part_a, part_b, n_ab,
           ROUND(n_ab * n / (pa.np * pb.np), 6) AS lift
    FROM pairs
    JOIN pcnt pa ON part_a = pa.l_partkey
    JOIN pcnt pb ON part_b = pb.l_partkey, norders
    """,
)
def q_part_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: lift of part co-occurrence within
    orders — lift = P(a,b)/(P(a)·P(b)) = n_ab·N/(n_a·n_b). The pair
    generation is a SELF-JOIN ON THE ORDER KEY, which is bounded (≤7
    lines/order → ≤21 pairs), so candidates grow linearly with orders,
    never |parts|²; the part-frequency joins are broadcast
    (|parts| rows) and the order count a 1-row broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    n_orders = od.agg(
        F.countDistinct("o_orderkey").cast("double").alias("n")
    )
    items = li.select("l_orderkey", "l_partkey").distinct()
    pcnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("np"))
    a = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok_b"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("l_orderkey") == F.col("ok_b"))
            & (F.col("part_a") < F.col("part_b")),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    pa = pcnt.select(F.col("l_partkey").alias("ka"), F.col("np").alias("na"))
    pb = pcnt.select(F.col("l_partkey").alias("kb"), F.col("np").alias("nb"))
    return (
        pairs.join(F.broadcast(pa), F.col("part_a") == F.col("ka"))
        .join(F.broadcast(pb), F.col("part_b") == F.col("kb"))
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                F.col("n_ab") * F.col("n") / (F.col("na") * F.col("nb")), 6
            ).alias("lift"),
        )
    )


@register(
    "session_length_quantiles",
    """
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), g AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ), sess AS (
      SELECT user_id, sid,
             (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 60000000.0 AS dur_min,
             COUNT(*) AS n_events
      FROM g GROUP BY 1, 2
    )
    SELECT COUNT(*) AS n_sessions,
           ROUND(quantile_cont(dur_min, 0.50), 6) AS p50_minutes,
           ROUND(quantile_cont(dur_min, 0.90), 6) AS p90_minutes,
           ROUND(AVG(CAST(n_events AS DOUBLE)), 6) AS avg_events
    FROM sess WHERE n_events > 1
    """,
)
def q_session_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution: exact p50/p90 of multi-event session
    lengths — the dwell-time summary over `session_window_stats`' output
    (sessions computed by the native session_window, durations in
    minutes, quantiles over the |sessions|-row aggregate)."""
    sess = sessionize.session_window_stats(
        _t(spark, sf_dir, "events"), gap="6 hours"
    )
    dur = (
        (F.unix_micros("last_ts") - F.unix_micros("session_start"))
        / 60000000.0
    ).alias("dur_min")
    multi = sess.filter(F.col("n_events") > 1).select(
        dur, F.col("n_events")
    )
    return multi.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.expr("percentile(dur_min, 0.50)"), 6).alias("p50_minutes"),
        F.round(F.expr("percentile(dur_min, 0.90)"), 6).alias("p90_minutes"),
        F.round(
            F.sum(F.col("n_events").cast("double")) / F.count(F.lit(1)), 6
        ).alias("avg_events"),
    )


@register(
    "dow_hour_heatmap",
    """
    SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
           CAST(hour(ts) AS INTEGER) AS hod,
           COUNT(*) AS n,
           {val} AS total_value
    FROM events GROUP BY 1, 2
    """.format(val=SQL_DSUM.format(x="value")),
)
def q_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the operational load
    profile (when do drives/uploads happen?). One aggregation to a
    7×24-row table; Spark's dayofweek is 1=Sunday while DuckDB's is
    0=Sunday — the oracle shifts by one."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value"), "total_value"),
    )


@register(
    "bpe_pair_counts",
    f"""
    WITH words AS (
      SELECT w, COUNT(*) AS freq
      FROM (SELECT unnest({_D_TOKS}) AS w FROM documents)
      WHERE w <> '' GROUP BY 1
    ),
    pairs AS (
      SELECT substr(w, i, 1) AS c1, substr(w, i + 1, 1) AS c2,
             SUM(freq) AS n
      FROM (SELECT w, freq, unnest(range(1, len(w))) AS i FROM words)
      GROUP BY 1, 2
    )
    SELECT c1, c2, n, CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY n DESC, c1, c2) AS rnk
          FROM pairs)
    WHERE rnk <= 20
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer training
    (textstats.bpe_pair_counts): adjacent symbol-pair frequencies
    weighted by word frequency — the table whose argmax is the next
    merge. The corpus is touched once (word count); the pair explosion
    runs over the |vocab|-row table and the rank window sorts
    ≤|alphabet|² rows."""
    return textstats.bpe_pair_counts(_t(spark, sf_dir, "documents"), top_k=20)


@register(
    "ngram_novelty_scores",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest({_D_SHINGLES}) AS sh
      FROM (SELECT doc_id, {_D_TOKS} AS t FROM documents)
    ),
    counts AS (SELECT sh, COUNT(*) AS ndocs FROM sh GROUP BY 1),
    per AS (
      SELECT doc_id, COUNT(*) AS n_shingles,
             SUM(CASE WHEN ndocs = 1 THEN 1 ELSE 0 END) AS n_unique
      FROM sh JOIN counts USING (sh) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(n_shingles, 0) AS n_shingles,
           CAST(COALESCE(n_unique, 0) AS BIGINT) AS n_unique,
           ROUND(CAST(n_unique AS DOUBLE) / n_shingles, 6) AS novelty
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """,
)
def q_ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity audit (dedup.ngram_novelty_scores): per-doc share
    of word 3-grams appearing in no other document — the self-BLEU-style
    signal run before accepting synthetic data. Explode → shingle count →
    key-join back; nothing pairwise."""
    return dedup.ngram_novelty_scores(_t(spark, sf_dir, "documents"), n=3)


@register(
    "stratified_split_assignment",
    """
    WITH h AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS hv
      FROM documents
    ), r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM h
    )
    SELECT doc_id, lang,
           CASE WHEN rn <= 0.8 * n THEN 'train'
                WHEN rn <= 0.9 * n THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
)
def q_stratified_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-proportion train/val/test split per language stratum
    (curation.stratified_exact_split): hash-ordered rank within stratum →
    every stratum is within one document of 80/10/10, the guarantee the
    Bernoulli `shuffle_assignment` only reaches in expectation. One
    stratum-partitioned window pass."""
    return curation.stratified_exact_split(
        _t(spark, sf_dir, "documents"), stratum_col="lang"
    )


@register(
    "user_presence_reconciliation",
    """
    WITH ec AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1),
    oc AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1)
    SELECT CASE WHEN user_id IS NOT NULL AND o_custkey IS NOT NULL THEN 'both'
                WHEN user_id IS NOT NULL THEN 'events_only'
                ELSE 'orders_only' END AS presence,
           COUNT(*) AS n_keys,
           CAST(SUM(COALESCE(n_events, 0)) AS BIGINT) AS total_events,
           CAST(SUM(COALESCE(n_orders, 0)) AS BIGINT) AS total_orders
    FROM ec FULL OUTER JOIN oc ON ec.user_id = oc.o_custkey
    GROUP BY 1
    """,
)
def q_user_presence_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation of two key domains (event users vs order
    customers) — the dataset-merge audit: which keys exist on each side,
    with per-side volumes. Both inputs pre-aggregate to key-level tables
    BEFORE the full join, so the outer join is dimension×dimension, and
    the presence classification is a post-join projection."""
    ev = _t(spark, sf_dir, "events")
    od = _t(spark, sf_dir, "orders")
    ec = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    oc = od.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    j = ec.join(oc, F.col("user_id") == F.col("o_custkey"), "full_outer")
    presence = (
        F.when(
            F.col("user_id").isNotNull() & F.col("o_custkey").isNotNull(),
            "both",
        )
        .when(F.col("user_id").isNotNull(), "events_only")
        .otherwise("orders_only")
    )
    return j.groupBy(presence.alias("presence")).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.coalesce("n_events", F.lit(0))).alias("total_events"),
        F.sum(F.coalesce("n_orders", F.lit(0))).alias("total_orders"),
    )


@register(
    "order_window_profile",
    """
    WITH r AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             COUNT(*) OVER wc AS n_orders,
             first_value(o_totalprice) OVER wo AS first_price,
             last_value(o_totalprice) OVER wof AS last_price,
             nth_value(o_totalprice, 2) OVER wof AS second_price,
             ROUND(percent_rank() OVER wp, 6) AS price_pct_rank,
             ROUND(cume_dist() OVER wp, 6) AS price_cume_dist
      FROM orders
      WINDOW wc AS (PARTITION BY o_custkey),
             wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             wof AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING),
             wp AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    )
    SELECT * FROM r WHERE n_orders >= 12
    """,
)
def q_order_window_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window completeness query: first_value / last_value /
    nth_value / percent_rank / cume_dist in one per-customer pass —
    Catalyst evaluates all five frames over ONE sort of each customer
    partition (same partitioning key → no extra shuffles). Filtered to
    customers with ≥12 orders to keep the gated output focused."""
    od = _t(spark, sf_dir, "orders")
    wc = Window.partitionBy("o_custkey")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wof = wo.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wp = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    r = od.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.count(F.lit(1)).over(wc).alias("n_orders"),
        F.first("o_totalprice").over(wo).alias("first_price"),
        F.last("o_totalprice").over(wof).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(wof).alias("second_price"),
        F.round(F.percent_rank().over(wp), 6).alias("price_pct_rank"),
        F.round(F.cume_dist().over(wp), 6).alias("price_cume_dist"),
    )
    return r.filter(F.col("n_orders") >= 12)


@register(
    "cosine_similarity_histogram",
    """
    WITH s AS (
      SELECT vec_id, embedding
      FROM embeddings
      ORDER BY CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                    AS BIGINT), vec_id
      LIMIT 128
    )
    SELECT LEAST(CAST(FLOOR(
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6)
             / 0.05) AS INTEGER), 19) AS bin,
           COUNT(*) AS n_pairs
    FROM s a JOIN s b ON a.vec_id < b.vec_id
    GROUP BY 1
    """,
)
def q_cosine_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled pairwise-cosine distribution: the corpus-geometry diagnostic
    (a healthy embedding space is spread; a spike near 1.0 signals
    collapse/duplication). ALL-PAIRS IS THE POINT here, so it runs on a
    deterministic md5-ordered sample of 128 vectors — 8128 pairs,
    bounded regardless of corpus size; the sample is tiny enough to
    broadcast, making the pair join a broadcast nested loop over 128
    rows, not a shuffle. Histogram over 0.05-wide cosine bins."""
    emb = _t(spark, sf_dir, "embeddings")
    sample = (
        emb.select(
            "vec_id",
            "embedding",
            H.md5_long(F.col("vec_id").cast("string")).alias("__h"),
        )
        .orderBy("__h", "vec_id")
        .limit(128)
    )
    a = sample.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    )
    b = sample.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    cos = F.round(V.cosine("ea", "eb"), 6)
    return (
        pairs.select(
            F.least(F.floor(cos / F.lit(0.05)).cast("int"), F.lit(19)).alias(
                "bin"
            )
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "session_conversion_rate",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, substr(event_type, 1, 1) AS c,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 21600
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT user_id, ts, event_id, c,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ), seqs AS (
      SELECT user_id, sid,
             string_agg(c, '' ORDER BY ts, event_id) AS seq
      FROM g GROUP BY 1, 2
    )
    SELECT COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN regexp_matches(seq, 'v.*p') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converting,
           ROUND(CAST(SUM(CASE WHEN regexp_matches(seq, 'v.*p')
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS conversion_rate
    FROM seqs
    """,
)
def q_session_conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-session funnel: share of sessions containing a view followed
    (later in the same session) by a purchase — sessionization composed
    with the CEP regex matcher, per (user, session) keys. One window pass
    to assign sessions, one groupBy to build each session's ordered
    type-character string (array_sort inside the agg — no second sort
    shuffle), one 1-row aggregate. The session id bounds the per-key
    string, so the CEP hot-key guard is never the semantics here."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize.sessionize(ev, gap_minutes=360)
    ch = F.substring(F.col("event_type"), 1, 1)
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), ch.alias("c")))
    )
    seqs = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws("", F.transform(ordered, lambda x: x["c"])).alias("seq")
        )
    )
    conv = F.col("seq").rlike("v.*p").cast("long")
    return seqs.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(conv).alias("n_converting"),
        F.round(F.sum(conv) / F.count(F.lit(1)), 6).alias("conversion_rate"),
    )


@register(
    "event_debounce_stats",
    """
    WITH s AS (
      SELECT event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000
                  THEN 1 ELSE 0 END AS is_first
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(is_first) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(is_first) AS BIGINT) AS n_dropped
    FROM s GROUP BY event_type
    """,
)
def q_event_debounce_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce audit: per (user, type), repeats within 24 h of the
    previous same-type event collapse into the burst's first occurrence —
    the sensor-burst / double-click suppression rule, reported as
    kept/dropped per type. One lag window on the (user, type) partition;
    the keep rule is the gaps-and-islands break test."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_first = (
        prev.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev)) > 86400000000)
    ).cast("int")
    return (
        ev.select("event_type", is_first.alias("is_first"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_first").cast("bigint").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("is_first"))
            .cast("bigint")
            .alias("n_dropped"),
        )
    )


@register(
    "invalid_transition_audit",
    """
    WITH pairs AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    )
    SELECT from_type, to_type, COUNT(*) AS n
    FROM pairs
    WHERE to_type IS NOT NULL
      AND (from_type, to_type) NOT IN (
        ('signup', 'view'), ('view', 'click'), ('click', 'purchase'),
        ('view', 'view'), ('click', 'view'), ('purchase', 'view'),
        ('error', 'view')
      )
    GROUP BY 1, 2
    """,
)
def q_invalid_transition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-machine validation: consecutive event pairs NOT in the allowed
    transition spec, with counts — the behavioral data-quality gate (an
    instrumentation bug shows up as a forbidden edge). The allowed spec is
    a broadcast literal anti-joined against the |types|²-bounded pair
    counts, so validation cost is the transition count pass."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    allowed = spark.createDataFrame(
        [
            ("signup", "view"),
            ("view", "click"),
            ("click", "purchase"),
            ("view", "view"),
            ("click", "view"),
            ("purchase", "view"),
            ("error", "view"),
        ],
        "from_type string, to_type string",
    )
    return pairs.join(
        F.broadcast(allowed), ["from_type", "to_type"], "left_anti"
    )


@register(
    "status_priority_matrix",
    """
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F_n,
           {f_rev} AS F_revenue,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O_n,
           {o_rev} AS O_revenue,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P_n,
           {p_rev} AS P_revenue
    FROM orders GROUP BY o_orderpriority
    """.format(
        f_rev="CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE)",
        o_rev="CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE)",
        p_rev="CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE)",
    ),
)
def q_status_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-aggregate pivot: priority × status matrix with a count AND a
    decimal-exact revenue sum per cell — `pivot(values=[...])` with an
    explicit value list, so Catalyst skips the extra distinct-scan and the
    output schema is deterministic; each (agg, value) pair compiles to a
    conditional aggregate in ONE pass (the same plan as the oracle's
    CASE-inside-agg)."""
    od = _t(spark, sf_dir, "orders")
    piv = (
        od.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    return piv.select(
        "o_orderpriority",
        *[
            F.col(f"{s}_{m}").alias(f"{s}_{m}")
            for s in ("F", "O", "P")
            for m in ("n", "revenue")
        ],
    )


@register(
    "shipping_priority",
    """
    SELECT l_orderkey, {rev} AS revenue, o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """.format(
        rev=SQL_DSUM.format(
            x="CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"
        )
    ),
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customers
    (broadcast) gate orders, date predicates push to both fact scans, and
    the top-10 is TakeOrderedAndProject over the per-order aggregate —
    no global sort materializes. The classic sales-ops triage query."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    cut = F.lit("1998-06-01").cast("timestamp")
    return (
        cu.filter(F.col("c_mktsegment") == "BUILDING")
        .join(od.filter(F.col("o_orderdate") < cut),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(li.filter(F.col("l_shipdate") > cut),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "product_type_profit",
    """
    SELECT sn.n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           {profit} AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_type LIKE 'PROMO%'
    GROUP BY 1, 2
    """.format(
        profit=SQL_DSUM.format(
            x="CAST(l_extendedprice * (1 - l_discount)"
            " - p_retailprice * 0.6 * l_quantity AS DECIMAL(18,6))"
        )
    ),
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by supplier nation and year;
    supply cost adapted to 0.6·retailprice — the driver tables carry no
    partsupp). The part-type filter prunes AT THE PART DIMENSION before
    the fact join; part/supplier/nation all broadcast; lineitem↔orders is
    the only fact-fact join."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    od = _t(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.6 * F.col("l_quantity")
    ).cast("decimal(18,6)")
    return (
        li.join(
            F.broadcast(pa.filter(F.col("p_type").like("PROMO%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(na.select(F.col("n_nationkey"), F.col("n_name"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


@register(
    "returned_item_report",
    """
    SELECT c_custkey, c_name, {rev} AS revenue, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """.format(
        rev=SQL_DSUM.format(
            x="CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"
        )
    ),
)
def q_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (top customers by returned-item revenue): the
    returnflag filter pushes to the lineitem scan, customer/nation
    broadcast, and the top-20 is TakeOrderedAndProject over the
    per-customer aggregate — the lost-revenue triage report."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    na = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "knn_graph_clustering",
    """
    WITH s AS (
      SELECT vec_id, embedding
      FROM embeddings
      ORDER BY CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                    AS BIGINT), vec_id
      LIMIT 128
    ),
    knn AS (
      SELECT id_a, id_b FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(
                            CAST(a.embedding AS DOUBLE[]),
                            CAST(b.embedding AS DOUBLE[])), 6) DESC,
                          b.vec_id) AS rnk
        FROM s a JOIN s b ON a.vec_id != b.vec_id
      ) WHERE rnk <= 5
    ),
    und AS (
      SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
      FROM knn
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und
      ) GROUP BY node
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM und e1
      JOIN und e2 ON e1.v = e2.u AND e2.v > e1.v
      JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM und) AS n_edges,
           (SELECT t FROM tri) AS n_triangles,
           (SELECT CAST(SUM(d * (d - 1)) / 2 AS BIGINT) FROM deg) AS n_wedges,
           ROUND(3.0 * (SELECT t FROM tri)
                 / (SELECT SUM(d * (d - 1)) / 2.0 FROM deg), 6)
             AS clustering_coeff
    """,
)
def q_knn_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of the k-NN graph (k=5) over the same
    bounded 128-vector hash sample as `cosine_similarity_histogram` — the
    second corpus-geometry diagnostic: a high coefficient means neighbors
    of neighbors are neighbors (tight duplicate-ish clusters), a low one a
    spread space. Triangles via the ordered edge-join (u<v<w, each
    triangle counted once); wedges from the degree table — all on a
    128-node graph regardless of corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    sample = (
        emb.select(
            "vec_id",
            "embedding",
            H.md5_long(F.col("vec_id").cast("string")).alias("__h"),
        )
        .orderBy("__h", "vec_id")
        .limit(128)
    )
    a = sample.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = sample.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    cos = F.round(V.cosine("ea", "eb"), 6)
    wr = Window.partitionBy("id_a").orderBy(F.desc("cos"), "id_b")
    knn = (
        a.join(F.broadcast(b), F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 5)
    )
    und = knn.select(
        F.least("id_a", "id_b").alias("u"), F.greatest("id_a", "id_b").alias("v")
    ).distinct()
    und = _share_ckpt(und)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, (F.col("b") == F.col("b2")) & (F.col("c") > F.col("b")))
        .join(e3, (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")))
        .agg(F.count(F.lit(1)).alias("t"))
    )
    nodes_edges = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("bigint").alias("n_wedges"),
        (F.sum("d") / 2).cast("bigint").alias("n_edges"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2.0).alias("_w"),
    )
    return (
        nodes_edges.join(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            "n_wedges",
            F.round(3.0 * F.col("t") / F.col("_w"), 6).alias("clustering_coeff"),
        )
    )


@register(
    "rolling_7d_active_users",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events
    ),
    win AS (
      SELECT user_id, day + CAST(k AS INTEGER) * INTERVAL '1 day' AS report_day
      FROM ud, (SELECT unnest(range(0, 7)) AS k)
    )
    SELECT report_day, COUNT(DISTINCT user_id) AS active_users
    FROM win GROUP BY report_day
    """,
)
def q_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users per day (the WAU curve): the sliding
    distinct-count that a naive per-day self-join makes quadratic is ONE
    explode of the already-deduplicated (user, day) pairs into the ≤7
    report days each contributes to, then a distinct count per day —
    cost 7×|user-days|, shuffled on the report day. (Report days extend
    6 days past the data's tail; the window is trailing by construction.)"""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    win = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("k"),
        "day",
    ).select(
        "user_id",
        F.timestamp_seconds(
            F.unix_seconds(F.col("day")) + F.col("k") * 86400
        ).alias("report_day"),
    )
    return win.groupBy("report_day").agg(
        F.countDistinct("user_id").alias("active_users")
    )


@register(
    "order_to_ship_latency",
    """
    WITH firsts AS (
      SELECT l_orderkey, MIN(l_shipdate) AS first_ship
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(date_diff('day', o_orderdate, first_ship) AS BIGINT)
             AS latency_days,
           COUNT(*) AS n_orders
    FROM orders JOIN firsts ON o_orderkey = l_orderkey
    GROUP BY 1
    """,
)
def q_order_to_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-latency histogram: days from order placement to the
    FIRST line shipment — pre-aggregate lineitem to per-order min first
    (so the join is order-grain on both sides), then one day-bucket
    count. The ops-SLA distribution every fulfillment dashboard carries."""
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    firsts = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("first_ship"))
    return (
        od.join(firsts, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.datediff("first_ship", "o_orderdate")
            .cast("bigint")
            .alias("latency_days")
        )
        .groupBy("latency_days")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "label_centroid_distances",
    """
    WITH long AS (
      SELECT label, pos, embedding[pos] AS val
      FROM (SELECT label, embedding,
                   unnest(range(1, len(embedding) + 1)) AS pos
            FROM embeddings)
    ),
    cent AS (
      SELECT label, pos,
             CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
      FROM long GROUP BY 1, 2
    )
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(sqrt(CAST(SUM(CAST((a.c - b.c) * (a.c - b.c)
                                    AS DECIMAL(28,12))) AS DOUBLE)), 6)
             AS dist
    FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
    GROUP BY 1, 2
    """,
)
def q_label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class centroid distance matrix over the labeled embeddings —
    the class-separability audit (labels whose centroids nearly coincide
    are candidates for merging; a training mix whose classes collapse is
    mislabeled). Fully relational vector math: posexplode to
    (label, pos, val), decimal-exact mean per (label, dim), then the
    pairwise distance as ONE equi-join on the dimension index over the
    |labels|×dim centroid table — the corpus is touched once."""
    emb = _t(spark, sf_dir, "embeddings")
    long = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    cent = long.groupBy("label", "pos").agg(
        (
            F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    a = cent.select(
        F.col("label").alias("label_a"), F.col("pos").alias("pa"), F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("pos").alias("pb"), F.col("c").alias("cb")
    )
    diff2 = ((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))).cast(
        "decimal(28,12)"
    )
    return (
        a.join(
            b,
            (F.col("pa") == F.col("pb")) & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(F.round(F.sqrt(F.sum(diff2).cast("double")), 6).alias("dist"))
    )


@register(
    "session_path_topk",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, substr(event_type, 1, 1) AS c,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 21600
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT user_id, ts, event_id, c,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ), seqs AS (
      SELECT string_agg(c, '' ORDER BY ts, event_id) AS path
      FROM g GROUP BY user_id, sid
    ), pc AS (
      SELECT path, COUNT(*) AS n FROM seqs GROUP BY path
    )
    SELECT path, n, CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY n DESC, path) AS rnk FROM pc)
    WHERE rnk <= 15
    """,
)
def q_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most common COMPLETE session paths (type-character strings) —
    the behavioral-archetype table beside the trigram and conversion
    views: same sessionize + in-agg sort machinery, one count on the path
    string, top-15 rank over the |distinct paths| table."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize.sessionize(ev, gap_minutes=360)
    ch = F.substring(F.col("event_type"), 1, 1)
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), ch.alias("c")))
    )
    seqs = s.groupBy("user_id", "session_id").agg(
        F.concat_ws("", F.transform(ordered, lambda x: x["c"])).alias("path")
    )
    pc = seqs.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    wr = Window.orderBy(F.desc("n"), "path")
    return (
        pc.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= 15)
    )


@register(
    "order_total_consistency",
    """
    WITH derived AS (
      SELECT l_orderkey,
             {sum_line} AS line_total
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN abs(o_totalprice - line_total) <= 0.01
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
           ROUND(MAX(abs(o_totalprice - line_total)), 2) AS max_abs_diff
    FROM orders JOIN derived ON o_orderkey = l_orderkey
    """.format(
        sum_line=SQL_DSUM.format(
            x="CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)"
            " AS DECIMAL(18,6))"
        )
    ),
)
def q_order_total_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: does the stored order total equal the
    total derived from its lines (price·(1−disc)·(1+tax))? The audit
    every warehouse runs after ingestion — both sides aggregate to order
    grain before ONE equi-join; the derived side is decimal-exact so the
    tolerance measures data disagreement, not float noise. (On this
    synthetic data the columns are independent — the query's value is
    reporting that honestly.)"""
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    line_total = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    ).cast("decimal(18,6)")
    derived = li.groupBy("l_orderkey").agg(
        F.sum(line_total).cast("double").alias("line_total")
    )
    j = od.join(derived, F.col("o_orderkey") == F.col("l_orderkey"))
    diff = F.abs(F.col("o_totalprice") - F.col("line_total"))
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum((diff <= 0.01).cast("int")).cast("bigint").alias("n_consistent"),
        F.round(F.max(diff), 2).alias("max_abs_diff"),
    )


@register(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1.0
    )
    SELECT digit, COUNT(*) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / (SELECT COUNT(*) FROM d), 6) AS observed_p,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_p
    FROM d GROUP BY digit
    """,
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order totals — the
    data-forensics audit (fabricated or truncated monetary data departs
    from log10(1+1/d); so does honestly-uniform synthetic data, which is
    exactly what this reports here). One narrow digit extraction + one
    9-row aggregate; the total is a 1-row broadcast."""
    od = _t(spark, sf_dir, "orders")
    d = od.filter(F.col("o_totalprice") >= 1.0).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    total = d.agg(F.count(F.lit(1)).alias("_t"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("_t"), 6).alias("observed_p"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_p"),
        )
    )


@register(
    "value_time_integral",
    """
    WITH s AS (
      SELECT user_id, value, ts,
             lag(value) OVER w AS pv,
             lag(ts) OVER w AS pt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           ROUND(CAST(SUM(CAST(
             (pv + value) / 2.0
             * (epoch_us(ts) - epoch_us(pt)) / 3600000000.0
             AS DECIMAL(28,8))) AS DOUBLE), 4) AS integral_value_hours,
           CAST(COUNT(*) AS BIGINT) AS n_segments
    FROM s WHERE pt IS NOT NULL
    GROUP BY user_id
    """,
)
def q_value_time_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trapezoidal time-integral of each user's value signal (value·hours)
    — the odometry form: integrate speed over time and you have distance,
    exactly the accumulation a drive log needs from a velocity topic. One
    lag window per user; each trapezoid term is a pure per-row expression
    accumulated as DECIMAL, so the integral is partition-order-exact."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "value",
        "ts",
        F.lag("value").over(w).alias("pv"),
        F.lag("ts").over(w).alias("pt"),
    ).filter(F.col("pt").isNotNull())
    term = (
        (F.col("pv") + F.col("value"))
        / 2.0
        * (F.unix_micros("ts") - F.unix_micros("pt"))
        / 3600000000.0
    ).cast("decimal(28,8)")
    return s.groupBy("user_id").agg(
        F.round(F.sum(term).cast("double"), 4).alias("integral_value_hours"),
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
    )


@register(
    "error_burst_spans",
    """
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR (event_type = 'error') <> (lag(event_type) OVER w = 'error')
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), r AS (
      SELECT user_id, ts, is_err,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM s
    ), runs AS (
      SELECT user_id, run, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
             COUNT(*) AS run_len
      FROM r WHERE is_err = 1
      GROUP BY user_id, run
      HAVING COUNT(*) >= 2
    )
    SELECT user_id, start_ts, end_ts, run_len
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY start_ts) AS rn
          FROM runs)
    WHERE rn = 1
    """,
)
def q_error_burst_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP match-SPAN extraction: each user's first burst of ≥2
    CONSECUTIVE errors (no intervening event of another type), with the
    burst's start/end timestamps and length — what `event_pattern_users`
    answers as a boolean, extracted as a concrete time window for
    incident triage. Runs are gaps-and-islands on the error flag (pure
    relational — no regex-engine match-semantics in the hash gate), one
    window pass + one run-level aggregate."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_err = (F.col("event_type") == "error").cast("int")
    chg = (
        F.lag("event_type").over(w).isNull()
        | (
            (F.col("event_type") == "error")
            != (F.lag("event_type").over(w) == "error")
        )
    ).cast("int")
    r = ev.select(
        "user_id",
        "ts",
        "event_id",
        is_err.alias("is_err"),
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "run"
        ),
    )
    runs = (
        r.filter(F.col("is_err") == 1)
        .groupBy("user_id", "run")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .filter(F.col("run_len") >= 2)
    )
    wr = Window.partitionBy("user_id").orderBy("start_ts")
    return (
        runs.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("user_id", "start_ts", "end_ts", "run_len")
    )


@register(
    "daily_p95_trend",
    """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             ROUND(quantile_cont(value, 0.95), 6) AS p95
      FROM events GROUP BY 1
    )
    SELECT day, p95,
           ROUND(p95 - lag(p95) OVER (ORDER BY day), 6) AS delta_vs_prev_day
    FROM d
    """,
)
def q_daily_p95_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p95 of the value signal with day-over-day delta — the ops
    latency-trend chart. Exact interpolated percentile per day (one
    aggregation), then a lag window over the |days|-row table."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95")
    )
    w = Window.orderBy("day")
    return d.withColumn(
        "delta_vs_prev_day", F.round(F.col("p95") - F.lag("p95").over(w), 6)
    )


@register(
    "audience_overlap_matrix",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sz AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_both,
           ROUND(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both), 6)
             AS jaccard
    FROM inter
    JOIN sz sa ON type_a = sa.event_type
    JOIN sz sb ON type_b = sb.event_type
    """,
)
def q_audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: Jaccard of user SETS per type
    pair — do the same people who error also purchase? The pair counts
    come from a self-join of the deduplicated (user, type) table ON THE
    USER KEY (each user contributes ≤ |types|² pairs, so candidates grow
    linearly with users); set sizes broadcast back."""
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select(
        F.col("user_id").alias("uid_b"), F.col("event_type").alias("type_b")
    )
    inter = (
        a.join(
            b,
            (F.col("user_id") == F.col("uid_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sz = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    sa = sz.select(F.col("event_type").alias("ka"), F.col("n").alias("na"))
    sb = sz.select(F.col("event_type").alias("kb"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), F.col("type_a") == F.col("ka"))
        .join(F.broadcast(sb), F.col("type_b") == F.col("kb"))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both") / (F.col("na") + F.col("nb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


def _minhash_recall_sql() -> str:
    """Composed oracle: exact shingle-join ground truth vs the registered
    banded-MinHash pipeline, as one recall number."""
    return f"""
    WITH toks AS (SELECT doc_id, {_D_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s AS sh
      FROM (SELECT doc_id,
                   unnest(CASE WHEN len(t) - 2 >= 1
                          THEN list_transform(range(0, len(t) - 2),
                               i -> array_to_string(t[i+1:i+3], ' '))
                          ELSE [] END) AS s
            FROM toks)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
    ),
    mh AS (SELECT id_a, id_b FROM ({_d_minhash_sql()}))
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM mh) AS n_detected,
           ROUND(CAST((SELECT COUNT(*) FROM mh) AS DOUBLE)
                 / NULLIF((SELECT COUNT(*) FROM exact), 0), 6) AS recall
    """


@register("minhash_recall_audit", _minhash_recall_sql())
def q_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-quality as a QUERY: banding recall of the MinHash pipeline
    against the exhaustive shingle-join ground truth
    (dedup.exact_shingle_jaccard_pairs) at the same threshold — the
    verified version of the "4 bands × 3 rows catches ≥0.8-Jaccard pairs"
    S-curve claim. The MinHash verify step already computes exact Jaccard
    on its candidates, so detected ⊆ exact and the ratio IS banding
    recall (1.0 here; the S-curve gives ~0.985 at exactly 0.8)."""
    docs = _spread_docs(spark, sf_dir)
    exact = dedup.exact_shingle_jaccard_pairs(docs, threshold=0.8)
    mh = dedup.minhash_dedup_pairs(docs, threshold=0.8)
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_mh = mh.agg(F.count(F.lit(1)).alias("n_detected"))
    return (
        n_exact.join(F.broadcast(n_mh))
        .select(
            "n_exact",
            "n_detected",
            # NULL recall when there is no ground-truth pair at all
            # (vacuous audit) — an ANSI divide-by-zero would abort it
            F.round(
                F.col("n_detected")
                / F.nullif(F.col("n_exact").cast("double"), F.lit(0.0)),
                6,
            ).alias("recall"),
        )
    )


def _simhash_recall_sql() -> str:
    """Composed oracle: exhaustive all-pairs Hamming ≤ 3 vs the pigeonhole-
    banded detector — equality proves banding completeness."""
    return f"""
    {_d_simhash_cte(32)},
    exact AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    banded AS (SELECT id_a, id_b FROM ({_d_simhash_near_sql(32)}))
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM banded) AS n_detected,
           (SELECT COUNT(*) FROM exact) = (SELECT COUNT(*) FROM banded)
             AS complete
    """


@register("simhash_recall_audit", _simhash_recall_sql())
def q_simhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-banding COMPLETENESS proof as a query: 4 bands over a
    32-bit signature must catch EVERY pair within Hamming distance 3 (a
    pair differing in ≤3 bits matches exactly on ≥1 of 4 slices) — unlike
    MinHash banding, this recall is 1.0 by theorem, and the query verifies
    it against the deliberate all-pairs baseline. The exact side is the
    one bounded all-pairs here: |docs|² signature comparisons of 8-byte
    ints at the gate SF — the contrast baseline, not the scale path."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.simhash(docs)
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    exact = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 3)
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    banded = dedup.simhash_near_pairs(docs).agg(
        F.count(F.lit(1)).alias("n_detected")
    )
    return (
        exact.join(F.broadcast(banded))
        .select(
            "n_exact",
            "n_detected",
            (F.col("n_exact") == F.col("n_detected")).alias("complete"),
        )
    )


@register(
    "session_impl_consistency",
    """
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT CAST(SUM(brk) AS BIGINT) AS n_sessions_native,
           CAST(SUM(brk) AS BIGINT) AS n_sessions_islands,
           TRUE AS implementations_agree
    FROM s
    """,
)
def q_session_impl_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-implementation consistency as a QUERY: the native
    session_window form and the lag/cumsum islands form must produce the
    SAME session count at the same gap — run BOTH in Spark, emit both
    counts plus an equality verdict the oracle asserts TRUE (the oracle
    computes the count once; a drift between the two Spark
    implementations fails the hash gate). Note the native form is µs-
    precise, so the islands twin here compares unix_micros, not the
    second-truncated `sessionize` helper."""
    ev = _t(spark, sf_dir, "events")
    native = sessionize.session_window_stats(ev, gap="6 hours").agg(
        F.count(F.lit(1)).alias("n_sessions_native")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    brk = (
        prev.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev)) > 21600000000)
    ).cast("int")
    islands = (
        ev.select(brk.alias("brk"))
        .agg(F.sum("brk").cast("bigint").alias("n_sessions_islands"))
    )
    return (
        native.join(F.broadcast(islands))
        .select(
            "n_sessions_native",
            "n_sessions_islands",
            (
                F.col("n_sessions_native") == F.col("n_sessions_islands")
            ).alias("implementations_agree"),
        )
    )


def _ivf_recall_sql() -> str:
    """Composed oracle: exact top-5 vs the registered IVF top-5 — same
    recall-join shape as `ann_recall_at5` (LSH), reusing both registered
    oracles verbatim."""
    brute = QUERIES["brute_force_topk"].oracle
    ivf = QUERIES["ivf_topk"].oracle
    return f"""
    WITH brute AS ({brute}), ivfr AS ({ivf})
    SELECT COUNT(DISTINCT b.query_id) AS n_queries,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS recall_at_5,
           (CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*)) >= 0.8 AS recall_ok
    FROM brute b LEFT JOIN ivfr i
      ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
    """


@register("ivf_recall_at5", _ivf_recall_sql())
def q_ivf_recall_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF path at its REGISTERED config (16 lists,
    12 probes) against the exact top-5 — the coarse-quantizer counterpart
    of `ann_recall_at5`. The default was raised to the ≥0.8 operating
    point (measured 0.88 at sf0.01, 0.96 at sf0.1); the gate at 0.8
    catches a quantizer regression. The probe curve under the default:
    n_probe 4→0.56 (kept as `ivf_topk_fast`), 6→0.66, 8→0.72, 12→0.88 —
    exactly the recall/cost tradeoff IVF exists to expose."""
    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") < 10)
    brute = similarity.brute_force_topk(emb, probe, k=5).select(
        "query_id", "neighbor_id"
    )
    ivf = similarity.ivf_topk(emb, probe, k=5, n_lists=16, n_probe=12).select(
        F.col("query_id").alias("qi"), F.col("neighbor_id").alias("ni")
    )
    j = brute.join(
        ivf,
        (F.col("query_id") == F.col("qi"))
        & (F.col("neighbor_id") == F.col("ni")),
        "left",
    )
    hit = F.sum(F.col("ni").isNotNull().cast("int")).cast("double")
    return j.agg(
        F.countDistinct("query_id").alias("n_queries"),
        (hit / F.count(F.lit(1))).alias("recall_at_5"),
        ((hit / F.count(F.lit(1))) >= 0.8).alias("recall_ok"),
    )


def _pq_recall_sql() -> str:
    """Composed oracle: exact-L2 top-5 ground truth (PQ approximates L2,
    so the cosine brute is NOT its reference) vs the registered PQ oracle."""
    l2 = (
        "round(list_inner_product(CAST(q.embedding AS DOUBLE[]),"
        " CAST(q.embedding AS DOUBLE[]))"
        " + list_inner_product(CAST(c.embedding AS DOUBLE[]),"
        " CAST(c.embedding AS DOUBLE[]))"
        " - 2 * list_inner_product(CAST(q.embedding AS DOUBLE[]),"
        " CAST(c.embedding AS DOUBLE[])), 6)"
    )
    pq = QUERIES["pq_topk"].oracle
    return f"""
    WITH exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {l2} ASC, c.vec_id) AS rnk
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 10
      ) WHERE rnk <= 5
    ),
    pqr AS (SELECT query_id, neighbor_id FROM ({pq}))
    SELECT COUNT(DISTINCT e.query_id) AS n_queries,
           ROUND(CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS recall_at_5
    FROM exact e LEFT JOIN pqr p
      ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
    """


@register("pq_recall_at5", _pq_recall_sql())
def q_pq_recall_at5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ/ADC path against the exact-L2 top-5 (NOT the
    cosine brute — PQ approximates Euclidean distance, so its ground
    truth is the L2 ranking; using the wrong metric would report metric
    disagreement as quantization loss). Completes the measured-recall
    family: LSH (`ann_recall_at5`), IVF (`ivf_recall_at5`), PQ. No gate
    verdict: these embeddings are near-uniform random — PQ's adversarial
    case (no inter-subspace correlation for the codebooks to exploit),
    measuring 0.08 at the registered m=8/n_codes=16 and 0.40 at
    m=16/n_codes=64; clustered real-world embeddings sit far higher. The
    measured number IS the deliverable (tune m/n_codes against it)."""
    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") < 10)
    q = probe.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    l2 = F.round(V.l2sq("qe", "ce"), 6)
    wr = Window.partitionBy("query_id").orderBy(F.asc("l2"), "neighbor_id")
    exact = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", l2.alias("l2"))
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id")
    )
    pq = similarity.pq_topk(emb, probe, k=5, dim=64, m=8, n_codes=16).select(
        F.col("query_id").alias("qi"), F.col("neighbor_id").alias("ni")
    )
    j = exact.join(
        pq,
        (F.col("query_id") == F.col("qi"))
        & (F.col("neighbor_id") == F.col("ni")),
        "left",
    )
    hit = F.sum(F.col("ni").isNotNull().cast("int")).cast("double")
    return j.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.round(hit / F.count(F.lit(1)), 6).alias("recall_at_5"),
    )


@register(
    "psi_value_drift",
    """
    WITH ref AS (
      SELECT value FROM events WHERE ts < TIMESTAMP '2024-01-16'
    ),
    cur AS (
      SELECT value FROM events WHERE ts >= TIMESTAMP '2024-01-16'
    ),
    b AS (
      SELECT quantile_cont(value,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM ref
    ),
    rb AS (
      SELECT CAST(len(list_filter(qs, q -> value > q)) AS INTEGER) AS bin,
             COUNT(*) AS n
      FROM ref, b GROUP BY 1
    ),
    cb AS (
      SELECT CAST(len(list_filter(qs, q -> value > q)) AS INTEGER) AS bin,
             COUNT(*) AS n
      FROM cur, b GROUP BY 1
    ),
    j AS (
      SELECT COALESCE(rb.bin, cb.bin) AS bin,
             GREATEST(CAST(COALESCE(rb.n, 0) AS DOUBLE)
                      / (SELECT SUM(n) FROM rb), 0.000001) AS p,
             GREATEST(CAST(COALESCE(cb.n, 0) AS DOUBLE)
                      / (SELECT SUM(n) FROM cb), 0.000001) AS q
      FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           ROUND(CAST(SUM(CAST((p - q) * ln(p / q) AS DECIMAL(28,12)))
                      AS DOUBLE), 6) AS psi
    FROM j
    """,
)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the value distribution, first half of
    the month vs the rest — the standard ML-ops drift gate (<0.1 stable,
    0.1–0.25 drifting, >0.25 shifted). Bins are the REFERENCE period's
    exact deciles (1-row broadcast — the same no-sort banding as the
    equi-depth histogram); each period then takes one count aggregation,
    and the PSI fold is a 10-row decimal-exact sum. Two scans total, both
    with the period predicate pushed down.

    Zero-bin handling per the published definition: bins are FULL-OUTER
    joined and empty proportions floored at ε=1e-6 before the log — an
    inner join silently dropped any decile the current period emptied,
    which understates drift exactly when drift is extreme (the dominant
    (p−q)·ln(p/q) term is the one a vanished bin contributes)."""
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    ref = ev.filter(F.col("ts") < cut).select("value")
    cur = ev.filter(F.col("ts") >= cut).select("value")
    qarr = "array(" + ", ".join(str(i / 10) for i in range(1, 10)) + ")"
    bounds = ref.agg(F.expr(f"percentile(value, {qarr})").alias("qs"))
    bin_id = F.size(
        F.filter(F.col("qs"), lambda q: F.col("value") > q)
    ).cast("int")

    def binned(df):
        return (
            df.join(F.broadcast(bounds))
            .select(bin_id.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    rb, cb = binned(ref), binned(cur)
    rt = rb.agg(F.sum("n").alias("_rt"))
    ct = cb.agg(F.sum("n").alias("_ct"))
    j = (
        rb.withColumnRenamed("n", "rn")
        .join(cb.withColumnRenamed("n", "cn"), "bin", "full_outer")
        .fillna(0, subset=["rn", "cn"])
        .join(F.broadcast(rt))
        .join(F.broadcast(ct))
        .select(
            "bin",
            F.greatest(
                F.col("rn") / F.col("_rt"), F.lit(0.000001)
            ).alias("p"),
            F.greatest(
                F.col("cn") / F.col("_ct"), F.lit(0.000001)
            ).alias("q"),
        )
    )
    term = ((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).cast(
        "decimal(28,12)"
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.round(F.sum(term).cast("double"), 6).alias("psi"),
    )


@register(
    "seasonal_naive_mase",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    f AS (
      SELECT a.event_type, a.day, a.y, b7.y AS y_hat, b1.y AS y_prev
      FROM d a
      LEFT JOIN d b7 ON b7.event_type = a.event_type
                    AND b7.day = a.day - INTERVAL '7 days'
      LEFT JOIN d b1 ON b1.event_type = a.event_type
                    AND b1.day = a.day - INTERVAL '1 day'
    )
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE y_hat IS NOT NULL) AS BIGINT)
             AS n_days,
           ROUND(AVG(CAST(abs(y - y_hat) AS DOUBLE))
                   FILTER (WHERE y_hat IS NOT NULL), 6) AS mae_seasonal,
           ROUND(AVG(CAST(abs(y - y_hat) AS DOUBLE))
                   FILTER (WHERE y_hat IS NOT NULL)
                 / NULLIF(AVG(CAST(abs(y - y_prev) AS DOUBLE))
                            FILTER (WHERE y_prev IS NOT NULL), 0),
                 6) AS mase
    FROM f
    GROUP BY event_type
    """,
)
def q_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecastability audit: the seasonal-naive baseline (same weekday
    last week) scored as MASE against the one-step naive — the number any
    capacity-planning forecast must beat (<1 means weekly seasonality is
    real signal). Daily counts are one aggregation; both lags ride one
    window over the |types|×|days| table.

    Per Hyndman & Koehler, the scaling denominator is the in-sample
    one-step naive MAE over t=2..n (ALL lag-1 pairs) — restricting it to
    the days where the lag-7 forecast also exists (the earlier form,
    mirrored in the oracle so the gate couldn't see it) dropped the
    first week's ramp errors and inflated the reported MASE.

    Alignment is by CALENDAR day (a self-join on day−7/day−1), not row
    offset: lag(7) over only the PRESENT rows silently forecast from an
    arbitrary earlier day whenever a series has a gap. A constant series
    (one-step MAE exactly 0) gets mase NULL, not an ANSI abort."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    day_s = F.unix_seconds(F.col("day"))
    b7 = d.select(
        F.col("event_type").alias("_t7"),
        day_s.alias("_d7"),
        F.col("y").alias("y_hat"),
    )
    b1 = d.select(
        F.col("event_type").alias("_t1"),
        day_s.alias("_d1"),
        F.col("y").alias("y_prev"),
    )
    f = (
        d.join(
            b7,
            (F.col("event_type") == F.col("_t7"))
            & (F.col("_d7") == day_s - 7 * 86400),
            "left",
        )
        .join(
            b1,
            (F.col("event_type") == F.col("_t1"))
            & (F.col("_d1") == day_s - 86400),
            "left",
        )
        .select("event_type", "day", "y", "y_hat", "y_prev")
    )
    # avg() skips NULLs, so each estimator covers exactly its own
    # defined support: seasonal errors over t=8..n, naive over t=2..n
    mae_s = F.avg(F.abs(F.col("y") - F.col("y_hat")).cast("double"))
    mae_1 = F.avg(F.abs(F.col("y") - F.col("y_prev")).cast("double"))
    return f.groupBy("event_type").agg(
        F.count("y_hat").cast("bigint").alias("n_days"),
        F.round(mae_s, 6).alias("mae_seasonal"),
        F.round(mae_s / F.nullif(mae_1, F.lit(0.0)), 6).alias("mase"),
    )


@register(
    "session_type_lift",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 21600
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT user_id, event_type,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    items AS (SELECT DISTINCT user_id, sid, event_type FROM g),
    ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n
           FROM (SELECT DISTINCT user_id, sid FROM items)),
    tc AS (SELECT event_type, COUNT(*) AS nt FROM items GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_ab
      FROM items a JOIN items b
        ON a.user_id = b.user_id AND a.sid = b.sid
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab,
           ROUND(n_ab * n / (ta.nt * tb.nt), 6) AS lift
    FROM pairs
    JOIN tc ta ON type_a = ta.event_type
    JOIN tc tb ON type_b = tb.event_type, ns
    """,
)
def q_session_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift at SESSION grain (the behavioral twin of
    `part_basket_lift`): which event types co-occur in the same session
    beyond what their individual frequencies predict. Items are distinct
    (session, type) pairs; the pair join is ON THE SESSION KEY (≤|types|²
    pairs per session), counts and totals are dimension-sized."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize.sessionize(ev, gap_minutes=360)
    items = s.select("user_id", "session_id", "event_type").distinct()
    n_sessions = items.select("user_id", "session_id").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    tc = items.groupBy("event_type").agg(F.count(F.lit(1)).alias("nt"))
    a = items.select("user_id", "session_id", F.col("event_type").alias("type_a"))
    b = items.select(
        F.col("user_id").alias("ub"),
        F.col("session_id").alias("sb"),
        F.col("event_type").alias("type_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("user_id") == F.col("ub"))
            & (F.col("session_id") == F.col("sb"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ta = tc.select(F.col("event_type").alias("ka"), F.col("nt").alias("na"))
    tb = tc.select(F.col("event_type").alias("kb"), F.col("nt").alias("nb"))
    return (
        pairs.join(F.broadcast(ta), F.col("type_a") == F.col("ka"))
        .join(F.broadcast(tb), F.col("type_b") == F.col("kb"))
        .join(F.broadcast(n_sessions))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                F.col("n_ab") * F.col("n") / (F.col("na") * F.col("nb")), 6
            ).alias("lift"),
        )
    )


@register(
    "winsorized_value_stats",
    """
    WITH b AS (
      SELECT quantile_cont(value, 0.01) AS p01,
             quantile_cont(value, 0.99) AS p99
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_raw,
           ROUND(CAST(SUM(CAST(
                   CASE WHEN value < p01 THEN p01
                        WHEN value > p99 THEN p99
                        ELSE value END AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_winsorized,
           CAST(SUM(CASE WHEN value < p01 OR value > p99
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM events, b
    GROUP BY event_type
    """,
)
def q_winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized means per event type: values clipped at the global
    p1/p99 (exact quantiles, 1-row broadcast — the same no-sort banding
    family) before a decimal-exact mean — the robust aggregate that keeps
    a single corrupt sensor reading from moving a fleet metric, with the
    clip count as the side signal."""
    ev = _t(spark, sf_dir, "events")
    b = ev.agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    clipped = (
        F.when(F.col("value") < F.col("p01"), F.col("p01"))
        .when(F.col("value") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("value"))
    )
    return (
        ev.join(F.broadcast(b))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_raw"),
            F.round(
                F.sum(clipped.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_winsorized"),
            F.sum(
                (
                    (F.col("value") < F.col("p01"))
                    | (F.col("value") > F.col("p99"))
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_clipped"),
        )
    )


@register(
    "pareto_frontier_by_priority",
    """
    WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice, o_orderdate,
             MAX(o_orderdate) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderdate DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS best_prior_date
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey, o_totalprice, o_orderdate
    FROM r
    WHERE best_prior_date IS NULL OR o_orderdate > best_prior_date
    """,
)
def q_pareto_frontier_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) per priority class: orders not strictly
    dominated on (price, recency) — the multi-criteria shortlist query.
    The window formulation is the O(n log n) skyline: sort each partition
    by price descending and keep rows whose date beats the running max of
    everything pricier — one partitioned sort instead of the naive
    dominance self-join. The (price desc, date desc, key) tiebreak makes
    the computation identical under price ties in both engines."""
    od = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(
            F.desc("o_totalprice"), F.desc("o_orderdate"), F.col("o_orderkey")
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = od.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.max("o_orderdate").over(w).alias("best_prior_date"),
    )
    return r.filter(
        F.col("best_prior_date").isNull()
        | (F.col("o_orderdate") > F.col("best_prior_date"))
    ).select("o_orderpriority", "o_orderkey", "o_totalprice", "o_orderdate")


@register(
    "type_cross_correlation",
    """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-3, 4)) AS lag_days),
    j AS (
      SELECT l.lag_days, a.x, b.y
      FROM lags l
      JOIN d a ON TRUE
      JOIN d b ON b.day = a.day + CAST(l.lag_days AS INTEGER) * INTERVAL '1 day'
    ),
    m AS (
      SELECT lag_days, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(28,10))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy
      FROM j GROUP BY lag_days
    )
    SELECT CAST(lag_days AS INTEGER) AS lag_days, CAST(n AS BIGINT) AS n_days,
           ROUND((n * sxy - sx * sy)
                 / NULLIF(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0),
                 6) AS r
    FROM m
    """,
)
def q_type_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag cross-correlation of two event-type daily series (errors
    vs purchases at lags −3..+3 days): does one series LEAD the other?
    The root-cause direction finder. One conditional aggregation builds
    both series in a single pass over events; the lag join and the
    Pearson identity then run over the |days|-row table (the 7-lag
    explode is 7×|days| rows). Decimal moments, engine-exact."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("double")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("double")
        .alias("y"),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag_days"))
    b = d.select(F.col("day").alias("day_b"), F.col("y").alias("yb"))
    j = (
        d.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("day_b")
            == F.timestamp_seconds(
                F.unix_seconds(F.col("day")) + F.col("lag_days") * 86400
            ),
        )
        .select("lag_days", "x", F.col("yb").alias("y"))
    )
    dec = lambda c: F.sum(c.cast("decimal(28,10)")).cast("double")  # noqa: E731
    m = j.groupBy("lag_days").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("y") * F.col("y")).alias("syy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "lag_days",
        F.col("n").cast("bigint").alias("n_days"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("r"),
    )


@register(
    "count_burstiness",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_daily,
           ROUND((CAST(SUM(CAST(y * y AS DECIMAL(28,10))) AS DOUBLE)
                  - CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE)
                    * CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE)
                    / COUNT(*))
                 / NULLIF(COUNT(*) - 1, 0)
                 / (CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE)
                    / COUNT(*)), 6) AS fano_factor
    FROM d GROUP BY event_type
    """,
)
def q_count_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor = daily-count variance / mean) per event
    type: ≈1 is Poisson-like arrivals, ≫1 is bursty (incident storms),
    ≪1 is rate-limited — the arrival-process fingerprint that picks the
    right capacity model. Sum/sum-of-squares identity over the
    |types|×|days| table, decimal-exact. A type seen on a single day
    gets fano_factor NULL (variance undefined at n=1) — the unguarded
    (n−1) denominator was an ANSI divide-by-zero job abort."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    dec = lambda c: F.sum(c.cast("decimal(28,10)")).cast("double")  # noqa: E731
    n = F.count(F.lit(1))
    sy = dec(F.col("y"))
    syy = dec(F.col("y") * F.col("y"))
    mean = sy / n
    var = (syy - sy * sy / n) / F.nullif((n - 1).cast("double"), F.lit(0.0))
    return d.groupBy("event_type").agg(
        n.cast("bigint").alias("n_days"),
        F.round(mean, 6).alias("mean_daily"),
        F.round(var / mean, 6).alias("fano_factor"),
    )


@register(
    "pca_top_component",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(CAST(list_inner_product(
                   CAST(embedding AS DOUBLE[]),
                   CAST(embedding AS DOUBLE[])) AS DECIMAL(28,9)))
                 AS DOUBLE), 2) AS gram_trace,
           TRUE AS eigenpair_ok,
           TRUE AS eig_within_bounds
    FROM embeddings
    """,
)
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, MLlib architecture (operators/linalg.py): the
    corpus-scale work is ONE mapInPandas pass accumulating the d×d Gram
    matrix (numpy XᵀX per Arrow batch, decimal-exact cell sum); the power
    iteration runs on the collected d(d+1)/2-cell table (driver-side —
    the small-metadata contract, same as the IVF centroid collect). The
    oracle can't replay an eigensolve, so the gate verifies CERTIFICATES
    instead: the Gram trace (replayed exactly as Σ‖v‖² through the same
    decimal path), the eigenpair residual ‖Gv−λv‖/λ < 1e-6 (which PROVES
    (λ,v) is an eigenpair of the matrix whose trace just matched), and
    0 < λ ≤ trace. A wrong Gram, a broken iteration, or a fake λ each
    fail a different column."""
    from ..operators import linalg

    emb = _t(spark, sf_dir, "embeddings")
    _, lam, info = linalg.pca_top_component(emb, dim=64)
    return spark.createDataFrame(
        [
            (
                info["n_vectors"],
                round(info["trace"], 2),
                info["residual"] < 1e-6,
                0.0 < lam <= info["trace"] + 1e-9,
            )
        ],
        "n_vectors bigint, gram_trace double, eigenpair_ok boolean, "
        "eig_within_bounds boolean",
    )


@register(
    "pca_explained_profile",
    """
    WITH mu AS (
      SELECT pos,
             CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
      FROM (SELECT pos, embedding[pos] AS val
            FROM (SELECT embedding,
                         unnest(range(1, len(embedding) + 1)) AS pos
                  FROM embeddings))
      GROUP BY pos
    ),
    t AS (
      SELECT CAST(SUM(CAST(list_inner_product(
               CAST(embedding AS DOUBLE[]),
               CAST(embedding AS DOUBLE[])) AS DECIMAL(28,9))) AS DOUBLE)
             AS raw_trace,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings
    )
    SELECT n AS n_vectors,
           ROUND(raw_trace - n * (SELECT SUM(m * m) FROM mu), 2)
             AS centered_trace,
           TRUE AS components_orthonormal,
           TRUE AS eigenvalues_monotone,
           TRUE AS explained_in_unit_range
    FROM t
    """,
)
def q_pca_explained_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CENTERED (true-covariance) PCA profile with k=4 components
    (linalg.pca_components): the centering is a rank-1 driver-side update
    of the Gram — no second data pass. Gate certificates: the centered
    trace replayed exactly (raw trace − n·‖μ‖², both decimal paths),
    pairwise component orthonormality, eigenvalue monotonicity, and the
    explained ratio in (0, 1] — the properties an eigensolver can't fake
    while the oracle can't replay the solve itself."""
    import numpy as np

    from ..operators import linalg

    emb = _t(spark, sf_dir, "embeddings")
    comps, lams, info = linalg.pca_components(emb, k=4, dim=64, center=True)
    gram_ortho = comps @ comps.T
    orthonormal = bool(np.allclose(gram_ortho, np.eye(4), atol=1e-8))
    monotone = bool(np.all(np.diff(lams) <= 1e-9))
    explained = info["explained_ratio"]
    return spark.createDataFrame(
        [
            (
                info["n_vectors"],
                round(info["trace"], 2),
                orthonormal,
                monotone,
                bool(0.0 < explained <= 1.0 + 1e-12),
            )
        ],
        "n_vectors bigint, centered_trace double, "
        "components_orthonormal boolean, eigenvalues_monotone boolean, "
        "explained_in_unit_range boolean",
    )


@register(
    "forecast_revenue_change",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
                AS DOUBLE) AS potential_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): the pure filter-and-sum —
    every predicate pushes to the parquet scan (year range, discount
    band, quantity cap), the aggregate is one row, and the whole plan is
    a single codegen stage with no shuffle beyond the final 1-row
    combine. The what-if query: revenue given up to these discounts."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("potential_revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@register(
    "priority_shipment_counts",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_priority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_linestatus
    """,
)
def q_priority_shipment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (priority split per shipment class): one fact-fact
    equi-join, then the CASE-inside-SUM split — both priority columns
    come from the same pass (no per-priority jobs), and the shuffle after
    the map-side combine is |linestatus| rows wide."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high.cast("int")).cast("bigint").alias("high_priority"),
            F.sum((~high).cast("int")).cast("bigint").alias("low_priority"),
        )
    )


@register(
    "promo_revenue_share",
    """
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                   THEN CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion revenue share): broadcast part
    dimension, one pass computing BOTH the conditional and total decimal
    sums — the numerator is a CASE inside the same aggregate, not a
    second scan or self-join."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    promo = F.when(F.col("p_type").like("PROMO%"), rev)
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_pct"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@register(
    "bracket_revenue",
    """
    SELECT {rev} AS revenue, CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """.format(
        rev=SQL_DSUM.format(
            x="CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"
        )
    ),
)
def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue over OR-of-AND brackets): the
    disjunctive predicate spans BOTH tables, so Catalyst can push only
    the per-table residuals (the p_brand/p_size disjunction prunes at the
    broadcast part side; the quantity bands filter post-join) — the query
    that tests predicate decomposition rather than simple pushdown."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .filter(bracket)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@register(
    "cheapest_supplier_per_part",
    """
    WITH top_parts AS (
      SELECT p_partkey, p_name, p_retailprice
      FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 10
    ),
    ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM top_parts)
    ),
    mn AS (
      SELECT l_partkey, MIN(s_acctbal) AS min_bal
      FROM ps JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY l_partkey
    )
    SELECT p_name, p_retailprice, s_name, s_acctbal
    FROM top_parts
    JOIN ps ON p_partkey = ps.l_partkey
    JOIN supplier ON ps.l_suppkey = s_suppkey
    JOIN mn ON ps.l_partkey = mn.l_partkey AND s_acctbal = mn.min_bal
    """,
)
def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated-min supplier lookup): for the 10
    priciest parts, the supplier(s) with the minimum account balance
    among those who actually supplied the part — the argmin-JOIN pattern
    (aggregate the min per group, equi-join back on (group, min) to
    retrieve the detail row; ties all qualify, as in Q2). The top-parts
    gate is a 10-row broadcast semi-filter, so every later join is
    candidate-bounded."""
    pa = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    top_parts = (
        pa.orderBy(F.desc("p_retailprice"), "p_partkey")
        .limit(10)
        .select("p_partkey", "p_name", "p_retailprice")
    )
    ps = (
        li.join(
            F.broadcast(top_parts.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    with_bal = ps.join(
        F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey")
    )
    mn = with_bal.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        with_bal.join(
            F.broadcast(mn),
            (F.col("l_partkey") == F.col("mk"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .join(F.broadcast(top_parts), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_name", "p_retailprice", "s_name", "s_acctbal")
    )


@register(
    "top_supplier_revenue",
    """
    WITH rev AS (
      SELECT l_suppkey, {r} AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate < TIMESTAMP '1998-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """.format(
        r=SQL_DSUM.format(
            x="CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"
        )
    ),
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier of the quarter): the quarterly
    per-supplier revenue view, then a scalar-MAX subquery keeping every
    supplier that achieves it (ties all qualify — the semantics LIMIT 1
    gets wrong). The revenue view is PERSISTED because both the max and
    the final rows consume it (same ReuseExchange-under-AQE rationale as
    important_parts); the max is a 1-row broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    view = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev).cast("double").alias("total_rev"))
    )
    view = _share_ckpt(view)
    mx = view.agg(F.max("total_rev").alias("_mx"))
    return (
        view.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("_mx"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "promo_heavy_suppliers",
    """
    WITH per AS (
      SELECT l_suppkey,
             CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                           THEN CAST(l_quantity AS DECIMAL(18,6)) END)
                  AS DOUBLE) AS promo_qty,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS total_qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           ROUND(promo_qty / total_qty, 6) AS promo_share
    FROM per JOIN supplier ON l_suppkey = s_suppkey
    WHERE promo_qty > 0.18 * total_qty
    """,
)
def q_promo_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 flavor (suppliers concentrated in a part class): per
    supplier, the promo share of shipped quantity, keeping those above
    18% (the corpus promo baseline is ~1/6) — conditional and total sums from ONE pass (no semi-join chain
    re-scanning lineitem), supplier names by broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    su = _t(spark, sf_dir, "supplier")
    qty = F.col("l_quantity").cast("decimal(18,6)")
    promo = F.when(F.col("p_type").like("PROMO%"), qty)
    per = (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(
            F.sum(promo).cast("double").alias("promo_qty"),
            F.sum(qty).cast("double").alias("total_qty"),
        )
    )
    return (
        per.filter(F.col("promo_qty") > 0.18 * F.col("total_qty"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("promo_qty") / F.col("total_qty"), 6).alias(
                "promo_share"
            ),
        )
    )


@register(
    "weighted_sample_topk",
    """
    SELECT doc_id, n_chars
    FROM (
      SELECT doc_id, n_chars,
             pow(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) / 1152921504606846976.0,
                 1.0 / n_chars) AS k
      FROM documents WHERE n_chars > 0
    )
    ORDER BY k DESC, doc_id
    LIMIT 50
    """,
)
def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    each row draws key u^(1/w) from its deterministic md5 uniform and the
    k largest keys ARE a weighted sample without replacement — the
    exponential-clocks argument, done with one TakeOrderedAndProject
    (no per-group state, no rejection loop). The weighted counterpart of
    `group_topk_sample`'s uniform reservoir; weight = document length, so
    long documents are proportionally favored but never guaranteed.
    Zero-weight (empty) documents are A-ES key 0 — never sampled — so
    they filter out up front rather than ANSI-aborting on 1/0."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = H.md5_long(F.col("doc_id").cast("string")) / F.lit(float(1 << 60))
    key = F.pow(u, 1.0 / F.col("n_chars"))
    return (
        docs.select("doc_id", "n_chars", key.alias("k"))
        .orderBy(F.desc("k"), "doc_id")
        .limit(50)
        .select("doc_id", "n_chars")
    )


@register(
    "user_behavior_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS INTEGER) AS n_types,
           ROUND(ln(SUM(n))
                 - CAST(SUM(CAST(n * ln(n) AS DECIMAL(28,12))) AS DOUBLE)
                   / SUM(n), 6) AS entropy_nats
    FROM c GROUP BY user_id
    """,
)
def q_user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: Shannon entropy of each user's
    event-type distribution (0 = single-habit, ln 5 = uniform over the
    five types) — the habituality score segmentations key on. Same
    H = ln N − (Σ n·ln n)/N identity and decimal accumulation as
    `source_token_entropy`, over the |users|×|types| count table."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        c.groupBy("user_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("int").alias("n_types"),
            F.sum((F.col("n") * F.log("n")).cast("decimal(28,12)"))
            .cast("double")
            .alias("_nlnn"),
        )
        .select(
            "user_id",
            "n_events",
            "n_types",
            F.round(
                F.log("n_events") - F.col("_nlnn") / F.col("n_events"), 6
            ).alias("entropy_nats"),
        )
    )


@register(
    "weekend_spend_ttest",
    """
    WITH g AS (
      SELECT CASE WHEN dayofweek(o_orderdate) IN (0, 6)
                  THEN 'weekend' ELSE 'weekday' END AS grp,
             o_totalprice AS v
      FROM orders
    ),
    m AS (
      SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(v AS DECIMAL(28,10))) AS DOUBLE) AS s,
             CAST(SUM(CAST(v * v AS DECIMAL(28,10))) AS DOUBLE) AS sq
      FROM g GROUP BY grp
    ),
    w AS (
      SELECT
        (SELECT n FROM m WHERE grp = 'weekend') AS n1,
        (SELECT s FROM m WHERE grp = 'weekend') AS s1,
        (SELECT sq FROM m WHERE grp = 'weekend') AS sq1,
        (SELECT n FROM m WHERE grp = 'weekday') AS n2,
        (SELECT s FROM m WHERE grp = 'weekday') AS s2,
        (SELECT sq FROM m WHERE grp = 'weekday') AS sq2
    )
    SELECT CAST(n1 AS BIGINT) AS n_weekend, CAST(n2 AS BIGINT) AS n_weekday,
           ROUND(s1 / n1 - s2 / n2, 6) AS mean_diff,
           ROUND((s1 / n1 - s2 / n2)
                 / NULLIF(sqrt(((sq1 - s1 * s1 / n1) / NULLIF(n1 - 1, 0))
                                 / n1
                               + ((sq2 - s2 * s2 / n2) / NULLIF(n2 - 1, 0))
                                 / n2), 0), 6)
             AS welch_t
    FROM w
    """,
)
def q_weekend_spend_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-statistic for weekend vs weekday order values — the
    two-sample hypothesis test as a query (|t| ≲ 2 means the apparent
    difference is noise; the A/B-readout every ops dashboard needs). Both
    groups' moments come from ONE conditional aggregation pass with
    decimal sums; the statistic assembles from the 2-row table."""
    od = _t(spark, sf_dir, "orders")
    is_we = F.dayofweek("o_orderdate").isin(1, 7)  # Spark: 1=Sun, 7=Sat
    v = F.col("o_totalprice")
    dec = lambda c: F.sum(c.cast("decimal(28,10)")).cast("double")  # noqa: E731
    m = od.agg(
        F.sum(is_we.cast("int")).cast("double").alias("n1"),
        dec(F.when(is_we, v)).alias("s1"),
        dec(F.when(is_we, v * v)).alias("sq1"),
        F.sum((~is_we).cast("int")).cast("double").alias("n2"),
        dec(F.when(~is_we, v)).alias("s2"),
        dec(F.when(~is_we, v * v)).alias("sq2"),
    )
    mean_diff = F.col("s1") / F.col("n1") - F.col("s2") / F.col("n2")
    # NULLIF guards (ANSI mode): a single-row group makes (n-1) zero and
    # a constant series makes the pooled standard error zero — both get
    # welch_t NULL instead of aborting the job
    var1 = (F.col("sq1") - F.col("s1") * F.col("s1") / F.col("n1")) / F.nullif(
        F.col("n1") - 1, F.lit(0.0)
    )
    var2 = (F.col("sq2") - F.col("s2") * F.col("s2") / F.col("n2")) / F.nullif(
        F.col("n2") - 1, F.lit(0.0)
    )
    t = mean_diff / F.nullif(
        F.sqrt(var1 / F.col("n1") + var2 / F.col("n2")), F.lit(0.0)
    )
    return m.select(
        F.col("n1").cast("bigint").alias("n_weekend"),
        F.col("n2").cast("bigint").alias("n_weekday"),
        F.round(mean_diff, 6).alias("mean_diff"),
        F.round(t, 6).alias("welch_t"),
    )


# Inverse-CDF ladder for Poisson(1): cumulative probabilities to k=6
# (1 - cum ≈ 1e-4 beyond; the tail clamps to 7). Shared text between the
# Spark expression and the DuckDB oracle so both build the identical CASE.
_POIS_CUM = [
    0.36787944117144233,   # P(X<=0)
    0.7357588823428847,    # P(X<=1)
    0.9196986029286058,    # P(X<=2)
    0.9810118431238462,    # P(X<=3)
    0.9963401531726563,    # P(X<=4)
    0.9994058151824183,    # P(X<=5)
    0.9999167588507119,    # P(X<=6)
]


def _pois_case_sql(u: str) -> str:
    branches = "\n".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CUM)
    )
    return f"CASE {branches} ELSE 7 END"


@register(
    "bootstrap_mean_ci",
    f"""
    WITH reps AS (
      SELECT o_totalprice AS v, r,
             CAST(concat('0x', substr(md5(concat(CAST(o_orderkey AS VARCHAR),
                  '#', CAST(r AS VARCHAR))), 1, 15)) AS BIGINT)
               / 1152921504606846976.0 AS u
      FROM orders, (SELECT unnest(range(0, 50)) AS r)
    ),
    w AS (SELECT v, r, {_pois_case_sql('u')} AS w FROM reps),
    means AS (
      SELECT r,
             CAST(SUM(CAST(w * v AS DECIMAL(28,8))) AS DOUBLE)
               / SUM(w) AS m
      FROM w GROUP BY r HAVING SUM(w) > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_replicas,
           ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
           ROUND(quantile_cont(m, 0.5), 6) AS ci_mid,
           ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
    FROM means
    """,
)
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed POISSON bootstrap (the streaming-friendly bootstrap:
    per-row independent Poisson(1) weights replace resampling, so 50
    replicas are ONE pass with a 50-way explode and no per-replica scan):
    a 95% CI for the mean order value from the replica-mean quantiles.
    The Poisson draw is an inverse-CDF ladder over the deterministic
    md5(row, replica) uniform — identical constants in both engines —
    and replica means accumulate as DECIMAL. The uncertainty quantifier
    every point estimate in this registry could wear."""
    od = _t(spark, sf_dir, "orders")
    reps = od.select(
        "o_orderkey",
        F.col("o_totalprice").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(49))).alias("r"),
    )
    u = (
        H.md5_long(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit("#"),
                F.col("r").cast("string"),
            )
        )
        / F.lit(float(1 << 60))
    )
    w = F.lit(7)
    for k in range(len(_POIS_CUM) - 1, -1, -1):
        w = F.when(u < _POIS_CUM[k], k).otherwise(w)
    weighted = reps.select("v", "r", w.alias("w"))
    means = (
        weighted.groupBy("r")
        .agg(
            F.sum((F.col("w") * F.col("v")).cast("decimal(28,8)"))
            .cast("double")
            .alias("_s"),
            F.sum("w").alias("_w"),
        )
        .filter(F.col("_w") > 0)
        .select((F.col("_s") / F.col("_w")).alias("m"))
    )
    return means.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicas"),
        F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.5)"), 6).alias("ci_mid"),
        F.round(F.expr("percentile(m, 0.975)"), 6).alias("ci_hi"),
    )


@register(
    "cusum_changepoint",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS mu
      FROM d GROUP BY event_type
    ),
    c AS (
      SELECT d.event_type, day,
             CAST(SUM(CAST(y - mu AS DECIMAL(28,10))) OVER (
               PARTITION BY d.event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cusum
      FROM d JOIN m ON d.event_type = m.event_type
    )
    SELECT event_type, day AS changepoint_day,
           ROUND(abs_cusum, 6) AS max_abs_cusum
    FROM (SELECT event_type, day, abs(cusum) AS abs_cusum,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY abs(cusum) DESC, day) AS rn
          FROM c)
    WHERE rn = 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type: the day where the cumulative
    deviation from the type's mean daily rate peaks — the classic "when
    did the level shift" estimator (argmax |CUSUM| is the MLE of a single
    mean-shift point). One daily aggregation; the mean join-back, running
    decimal CUSUM, and the argmax all run over the |types|×|days|
    dimension table."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    m = d.groupBy(F.col("event_type").alias("et")).agg(
        (
            F.sum(F.col("y").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = (
        d.join(F.broadcast(m), F.col("event_type") == F.col("et"))
        .withColumn(
            "cusum",
            F.sum((F.col("y") - F.col("mu")).cast("decimal(28,10)"))
            .over(wc)
            .cast("double"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("cusum"))), "day"
    )
    return (
        c.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            F.round(F.abs(F.col("cusum")), 6).alias("max_abs_cusum"),
        )
    )


@register(
    "isotonic_daily_trend",
    """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s
      FROM events GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(CAST(s AS DECIMAL(28,10))) AS DOUBLE)
                 / SUM(n), 6) AS weighted_mean,
           TRUE AS fit_monotone,
           TRUE AS mass_preserved
    FROM d
    """,
)
def q_isotonic_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of the daily mean-value series by
    pool-adjacent-violators — the calibration-curve fitter (reliability
    diagrams, monotone score→rate maps). The data pass is ONE daily
    aggregation; PAVA runs on the |days|-row collected series (same
    driver-side small-table contract as the eigensolve). Gate
    certificates: the weighted mean is replayed exactly (PAVA pools
    preserve total mass — a violated invariant means a broken merge),
    and the fitted sequence is asserted monotone."""
    import numpy as np

    ev = _t(spark, sf_dir, "events")
    d = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("value").cast("decimal(28,10)"))
            .cast("double")
            .alias("s"),
        )
        .orderBy("day")
        .collect()
    )
    w = np.array([r.n for r in d])
    y = np.array([r.s / r.n for r in d])
    # PAVA: merge adjacent violators into weighted pools
    vals, wts = [], []
    for yi, wi in zip(y, w):
        vals.append(yi)
        wts.append(wi)
        while len(vals) > 1 and vals[-2] > vals[-1]:
            v2, w2 = vals.pop(), wts.pop()
            v1, w1 = vals.pop(), wts.pop()
            vals.append((v1 * w1 + v2 * w2) / (w1 + w2))
            wts.append(w1 + w2)
    fit_monotone = all(a <= b + 1e-12 for a, b in zip(vals, vals[1:]))
    total_w = float(w.sum())
    mass_in = float((w * y).sum())
    mass_fit = float(sum(v * ww for v, ww in zip(vals, wts)))
    mass_preserved = abs(mass_in - mass_fit) <= 1e-6 * abs(mass_in)
    # empty series: still emit the 1-row certificate (n_days=0, mean
    # NULL) instead of a driver-side ZeroDivisionError
    mean = round(mass_in / total_w, 6) if total_w else None
    return spark.createDataFrame(
        [
            (
                len(d),
                mean,
                bool(fit_monotone),
                bool(mass_preserved),
            )
        ],
        "n_days bigint, weighted_mean double, fit_monotone boolean, "
        "mass_preserved boolean",
    )


@register(
    "daily_autocorrelation",
    """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, 8)) AS lag_days),
    j AS (
      SELECT l.lag_days, a.y AS x, b.y AS y
      FROM lags l
      JOIN d a ON TRUE
      JOIN d b ON b.day = a.day + CAST(l.lag_days AS INTEGER)
                                  * INTERVAL '1 day'
    ),
    g AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS gsy,
             CAST(SUM(CAST(y * y AS DECIMAL(28,10))) AS DOUBLE) AS gsyy
      FROM d
    ),
    m AS (
      SELECT lag_days, CAST(COUNT(*) AS DOUBLE) AS c,
             CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS syp,
             CAST(SUM(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy
      FROM j GROUP BY lag_days
    )
    SELECT CAST(lag_days AS INTEGER) AS lag_days, CAST(c AS BIGINT) AS n_pairs,
           ROUND((sxy - (gsy / n) * sx - (gsy / n) * syp
                  + c * (gsy / n) * (gsy / n))
                 / NULLIF(gsyy - gsy * gsy / n, 0), 6) AS acf
    FROM m, g
    """,
)
def q_daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the total daily event count at lags 1–7 — the
    seasonality detector (a weekly cycle surfaces as an ACF peak at 7)
    feeding the seasonal-naive forecaster's lag choice. Same |days|-table
    lag join as `type_cross_correlation`, but the statistic is the
    STANDARD ACF (Box–Jenkins): deviations from the SINGLE series mean,
    denominator = the full-series sum of squares — not a per-lag Pearson
    of the pair sets, which re-centers each segment and reports 1.0 at
    every lag for a plain trend (useless as a seasonality detector).
    Constant series → NULL (zero variance), not an ANSI abort."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag_days"))
    b = d.select(F.col("day").alias("day_b"), F.col("y").alias("yb"))
    j = (
        d.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("day_b")
            == F.timestamp_seconds(
                F.unix_seconds(F.col("day")) + F.col("lag_days") * 86400
            ),
        )
        .select("lag_days", F.col("y").alias("x"), F.col("yb").alias("y"))
    )
    dec = lambda c: F.sum(c.cast("decimal(28,10)")).cast("double")  # noqa: E731
    g = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("y")).alias("gsy"),
        dec(F.col("y") * F.col("y")).alias("gsyy"),
    )
    m = j.groupBy("lag_days").agg(
        F.count(F.lit(1)).cast("double").alias("c"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("syp"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
    )
    mean = F.col("gsy") / F.col("n")
    num = (
        F.col("sxy")
        - mean * F.col("sx")
        - mean * F.col("syp")
        + F.col("c") * mean * mean
    )
    ss = F.col("gsyy") - F.col("gsy") * F.col("gsy") / F.col("n")
    return m.join(F.broadcast(g)).select(
        "lag_days",
        F.col("c").cast("bigint").alias("n_pairs"),
        F.round(num / F.nullif(ss, F.lit(0.0)), 6).alias("acf"),
    )


@register(
    "zipf_slope",
    f"""
    WITH freq AS (
      SELECT w, CAST(COUNT(*) AS DOUBLE) AS f
      FROM (SELECT unnest({_D_TOKS}) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    ranked AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, w) AS DOUBLE)) AS x,
             ln(f) AS y
      FROM freq
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS vocab_size,
           ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6)
             AS zipf_slope
    FROM m
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: OLS slope of ln(frequency) against
    ln(rank) — natural language sits near −1; a synthetic or deduplicated
    corpus drifts flat (this near-uniform vocabulary measures ~−0.4, and
    the query reports that honestly). The rank window sorts the
    VOCABULARY table (dimension-sized), the corpus is touched once for
    the counts, and the OLS moments are one decimal aggregate."""
    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(T.tokens(F.lower(F.col("text")))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("double").alias("f"))
    )
    wr = Window.orderBy(F.desc("f"), "w")
    ranked = freq.select(
        F.log(F.row_number().over(wr).cast("double")).alias("x"),
        F.log("f").alias("y"),
    )
    dec = lambda c: F.sum(c.cast("decimal(28,12)")).cast("double")  # noqa: E731
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("vocab_size"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.nullif(
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
                F.lit(0.0),
            ),
            6,
        ).alias("zipf_slope"),
    )


@register(
    "fleet_health_daily",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS active_users,
           ROUND(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS error_rate,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS purchases,
           ROUND(quantile_cont(value, 0.95), 6) AS p95_value
    FROM events GROUP BY 1
    """,
)
def q_fleet_health_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily fleet-health dashboard in ONE aggregation pass: volume,
    distinct actives, error rate, conversions, and the exact p95 of the
    value signal per day — every column a conditional or holistic
    aggregate over the same groupBy, no joins, no second scan. The
    summary every operator page opens with; the rest of this registry is
    what you run when one of these numbers moves."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("active_users"),
        F.round(
            F.sum((F.col("event_type") == "error").cast("int"))
            / F.count(F.lit(1)),
            6,
        ).alias("error_rate"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("purchases"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95_value"),
    )


@register(
    "time_hierarchy_rollup",
    """
    SELECT COALESCE(CAST(yr AS VARCHAR), 'ALL') AS year,
           COALESCE(CAST(mo AS VARCHAR), 'ALL') AS month,
           COUNT(*) AS n_orders,
           {rev} AS revenue
    FROM (SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
                 o_totalprice
          FROM orders)
    GROUP BY ROLLUP (yr, mo)
    """.format(rev=SQL_DSUM.format(x="o_totalprice")),
)
def q_time_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hierarchy ROLLUP (year → month → grand total): the time
    twin of `rollup_priority` — three report grains from ONE scan, with
    the grouped-away levels COALESCEd to 'ALL' so both engines render the
    subtotal rows identically. Partial aggregation collapses each grain
    map-side."""
    od = _t(spark, sf_dir, "orders")
    base = od.select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        "o_totalprice",
    )
    return (
        base.rollup("yr", "mo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .select(
            F.coalesce(F.col("yr").cast("string"), F.lit("ALL")).alias("year"),
            F.coalesce(F.col("mo").cast("string"), F.lit("ALL")).alias("month"),
            "n_orders",
            "revenue",
        )
    )


@register(
    "purchase_event_order_correlation",
    """
    WITH pe AS (
      SELECT user_id AS k, CAST(COUNT(*) AS DOUBLE) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    oc AS (
      SELECT o_custkey AS k, CAST(COUNT(*) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    j AS (SELECT x, y FROM pe JOIN oc USING (k)),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(28,10))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n_shared_keys,
           ROUND((n * sxy - sx * sy)
                 / NULLIF(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0),
                 6) AS r
    FROM m
    """,
)
def q_purchase_event_order_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-DOMAIN consistency audit: do users who fire more purchase
    EVENTS also place more ORDERS? Both fact tables pre-aggregate to
    key-level counts, join on the shared key space, and the decimal
    Pearson identity scores the relationship — near zero here (the
    synthetic domains are independent), which is exactly what the audit
    should report before anyone joins these tables as if causally
    linked."""
    ev = _t(spark, sf_dir, "events")
    od = _t(spark, sf_dir, "orders")
    pe = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    oc = od.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    j = pe.join(oc, "k")
    dec = lambda c: F.sum(c.cast("decimal(28,10)")).cast("double")  # noqa: E731
    m = j.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("y") * F.col("y")).alias("syy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_shared_keys"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("r"),
    )


@register(
    "revenue_bridge_monthly",
    """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(COUNT(*) AS DOUBLE) AS vol,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    l AS (
      SELECT month, vol, rev,
             lag(vol) OVER w AS pvol, lag(rev) OVER w AS prev
      FROM m WINDOW w AS (ORDER BY month)
    )
    SELECT month,
           ROUND(rev - prev, 6) AS delta_revenue,
           ROUND((vol - pvol) * (prev / pvol), 6) AS volume_effect,
           ROUND(vol * (rev / vol - prev / pvol), 6) AS price_effect
    FROM l WHERE pvol IS NOT NULL
    """,
)
def q_revenue_bridge_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue BRIDGE: Δrevenue decomposed exactly into a
    volume effect ((v−v₀)·p₀) and a price/mix effect (v·(p−p₀)) — the
    identity sums to the delta, so finance can attribute a move without a
    residual. One monthly aggregation, lag windows over the |months|
    table, decimal revenue sums."""
    od = _t(spark, sf_dir, "orders")
    m = od.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count(F.lit(1)).cast("double").alias("vol"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("rev"),
    )
    w = Window.orderBy("month")
    l = m.select(
        "month",
        "vol",
        "rev",
        F.lag("vol").over(w).alias("pvol"),
        F.lag("rev").over(w).alias("prev"),
    ).filter(F.col("pvol").isNotNull())
    return l.select(
        "month",
        F.round(F.col("rev") - F.col("prev"), 6).alias("delta_revenue"),
        F.round(
            (F.col("vol") - F.col("pvol")) * (F.col("prev") / F.col("pvol")),
            6,
        ).alias("volume_effect"),
        F.round(
            F.col("vol")
            * (F.col("rev") / F.col("vol") - F.col("prev") / F.col("pvol")),
            6,
        ).alias("price_effect"),
    )


@register(
    "new_vs_returning_daily",
    """
    WITH first_day AS (
      SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS fday
      FROM events GROUP BY user_id
    ),
    tagged AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CASE WHEN CAST(date_trunc('day', ts) AS TIMESTAMP) = fday
                  THEN 1 ELSE 0 END AS is_new
      FROM events e JOIN first_day f ON e.user_id = f.user_id
    )
    SELECT day,
           CAST(SUM(is_new) AS BIGINT) AS new_user_events,
           CAST(SUM(1 - is_new) AS BIGINT) AS returning_events
    FROM tagged GROUP BY day
    """,
)
def q_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning traffic split per day: each event tagged by
    whether it falls on its user's FIRST day — the growth-quality metric
    behind `cumulative_adoption`. The first-day table is |users| rows
    (broadcast); the tag is a join + CASE, one count aggregation."""
    ev = _t(spark, sf_dir, "events")
    first_day = ev.groupBy(F.col("user_id").alias("fu")).agg(
        F.date_trunc("day", F.min("ts")).alias("fday")
    )
    tagged = ev.join(
        F.broadcast(first_day), F.col("user_id") == F.col("fu")
    ).select(
        F.date_trunc("day", "ts").alias("day"),
        (F.date_trunc("day", "ts") == F.col("fday")).cast("int").alias("is_new"),
    )
    return tagged.groupBy("day").agg(
        F.sum("is_new").cast("bigint").alias("new_user_events"),
        F.sum(1 - F.col("is_new")).cast("bigint").alias("returning_events"),
    )


@register(
    "lines_per_order_poisson_gof",
    """
    WITH lp AS (
      SELECT l_orderkey, COUNT(*) AS k FROM lineitem GROUP BY 1
    ),
    lam AS (
      SELECT CAST(SUM(k) AS DOUBLE) / COUNT(*) AS l,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM lp
    ),
    obs AS (SELECT k, COUNT(*) AS o FROM lp GROUP BY k)
    SELECT CAST(obs.k AS INTEGER) AS k, o AS observed,
           ROUND(n * exp(-l) * pow(l, obs.k)
                 / CAST(factorial(CAST(obs.k AS INTEGER)) AS DOUBLE),
                 6) AS expected_poisson
    FROM obs, lam
    """,
)
def q_lines_per_order_poisson_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodness-of-fit table: observed lines-per-order counts vs the
    Poisson(λ̂) expectation (λ̂ = the corpus mean, a 1-row broadcast;
    factorials as a literal CASE over the bounded 1–7 support) — the
    distributional-assumption audit behind every capacity model that
    treats order size as Poisson. The deviation pattern (uniform data
    here, so expected ≠ observed) is the finding. k! via the engines'
    exact factorial builtin over the FULL observed support — the earlier
    literal CASE stopped at 7! and silently emitted values off by k! for
    every k ≥ 8 (both engines encoded the same wrong ELSE, so the hash
    gate couldn't see it)."""
    li = _t(spark, sf_dir, "lineitem")
    lp = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("k"))
    lam = lp.agg(
        (F.sum("k").cast("double") / F.count(F.lit(1))).alias("l"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    obs = lp.groupBy("k").agg(F.count(F.lit(1)).alias("observed"))
    fact = F.factorial(F.col("k").cast("int")).cast("double")
    return (
        obs.join(F.broadcast(lam))
        .select(
            F.col("k").cast("int").alias("k"),
            "observed",
            F.round(
                F.col("n")
                * F.exp(-F.col("l"))
                * F.pow(F.col("l"), F.col("k"))
                / fact,
                6,
            ).alias("expected_poisson"),
        )
    )


@register(
    "km_time_to_purchase",
    """
    WITH per AS (
      SELECT user_id,
             date_diff('day',
                       CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP),
                       CAST(date_trunc('day',
                         MIN(CASE WHEN event_type = 'purchase' THEN ts END))
                         AS TIMESTAMP)) AS t_event,
             date_diff('day',
                       CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP),
                       (SELECT CAST(date_trunc('day', MAX(ts)) AS TIMESTAMP)
                        FROM events)) AS t_censor
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CASE WHEN t_event IS NOT NULL THEN t_event ELSE t_censor END AS t,
             CASE WHEN t_event IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per
    ),
    at_t AS (
      SELECT t, SUM(ev) AS d, SUM(1 - ev) AS c FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             (SELECT COUNT(*) FROM obs)
               - COALESCE(SUM(d + c) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS n_risk
      FROM at_t
    )
    SELECT CAST(t AS INTEGER) AS day, CAST(d AS BIGINT) AS n_converted,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1
                THEN 0.0
                ELSE ROUND(exp(CAST(SUM(CASE WHEN d < n_risk
                     THEN CAST(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                          AS DECIMAL(28,12))
                     ELSE CAST(0 AS DECIMAL(28,12)) END) OVER (ORDER BY t
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6) END AS survival
    FROM risk WHERE d > 0
    """,
)
def q_km_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for days-to-first-purchase, with
    CENSORING done right: users who never purchase aren't dropped (that
    biases conversion fast) — they stay in the risk set until the
    observation window closes. The product-limit estimator is
    exp(Σ ln(1−dᵢ/nᵢ)) — a running DECIMAL sum of logs over the
    |distinct days| table, so the cumulative product is engine- and
    order-exact. Per-user reduction is one conditional aggregation; the
    corpus end-date is a 1-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    max_day = ev.agg(F.date_trunc("day", F.max("ts")).alias("_maxd"))
    per = (
        ev.join(F.broadcast(max_day))
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.date_trunc(
                    "day",
                    F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                ),
                F.date_trunc("day", F.min("ts")),
            ).alias("t_event"),
            F.datediff(
                F.first("_maxd"), F.date_trunc("day", F.min("ts"))
            ).alias("t_censor"),
        )
    )
    obs = per.select(
        F.coalesce("t_event", "t_censor").alias("t"),
        F.col("t_event").isNotNull().cast("int").alias("ev"),
    )
    total = obs.count()  # small scalar; alternatively a broadcast 1-row agg
    at_t = obs.groupBy("t").agg(
        F.sum("ev").alias("d"), F.sum(1 - F.col("ev")).alias("c")
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = at_t.select(
        "t",
        "d",
        (
            F.lit(total)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")).cast(
            "decimal(28,12)"
        ),
    ).otherwise(F.lit(0).cast("decimal(28,12)"))
    hit_zero = F.max(
        (F.col("d") >= F.col("n_risk")).cast("int")
    ).over(w_cum)
    surv = F.when(hit_zero == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.sum(term).over(w_cum).cast("double")), 6)
    )
    return (
        risk.filter(F.col("d") > 0)
        .select(
            F.col("t").cast("int").alias("day"),
            F.col("d").cast("bigint").alias("n_converted"),
            F.col("n_risk").cast("bigint").alias("n_at_risk"),
            surv.alias("survival"),
        )
    )


@register(
    "type_precedence_matrix",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 21600
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT user_id, ts, event_type,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    firsts AS (
      SELECT user_id, sid, event_type, MIN(ts) AS fts
      FROM g GROUP BY 1, 2, 3
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(SUM(CASE WHEN a.fts < b.fts THEN 1 ELSE 0 END) AS BIGINT)
             AS a_first,
           CAST(SUM(CASE WHEN b.fts < a.fts THEN 1 ELSE 0 END) AS BIGINT)
             AS b_first,
           CAST(SUM(CASE WHEN a.fts = b.fts THEN 1 ELSE 0 END) AS BIGINT)
             AS ties
    FROM firsts a JOIN firsts b
      ON a.user_id = b.user_id AND a.sid = b.sid
     AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
)
def q_type_precedence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level PRECEDENCE matrix: for each type pair co-occurring in
    a session, how often does each come first (by first occurrence)? The
    causal-ordering evidence the adjacent-pair Markov matrix can't see
    (a→…→b with steps between still counts). First-occurrence reduction
    per (session, type), then the session-key self-join — ≤|types|² pairs
    per session, counts bounded by |types|²."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize.sessionize(ev, gap_minutes=360)
    firsts = s.groupBy("user_id", "session_id", "event_type").agg(
        F.min("ts").alias("fts")
    )
    a = firsts.select(
        "user_id",
        "session_id",
        F.col("event_type").alias("type_a"),
        F.col("fts").alias("fa"),
    )
    b = firsts.select(
        F.col("user_id").alias("ub"),
        F.col("session_id").alias("sb"),
        F.col("event_type").alias("type_b"),
        F.col("fts").alias("fb"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("ub"))
            & (F.col("session_id") == F.col("sb"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.sum((F.col("fa") < F.col("fb")).cast("int"))
            .cast("bigint")
            .alias("a_first"),
            F.sum((F.col("fb") < F.col("fa")).cast("int"))
            .cast("bigint")
            .alias("b_first"),
            F.sum((F.col("fa") == F.col("fb")).cast("int"))
            .cast("bigint")
            .alias("ties"),
        )
    )


@register(
    "mahalanobis_identity_check",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(64.0 * (COUNT(*) - 1) / COUNT(*), 4) AS mean_m2,
           TRUE AS identity_ok
    FROM embeddings
    """,
)
def q_mahalanobis_identity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Mahalanobis pipeline gated through an EXACT identity: with the
    sample covariance (n−1 divisor), in-sample squared Mahalanobis
    distances sum to d·(n−1) — so their mean is d·(n−1)/n, a pure
    function of (d, n) the oracle computes without touching a vector.
    The query runs the full distributed pipeline (Gram → rank-1
    centering → Cov^(-1/2) → whitening-literal fold,
    linalg.mahalanobis_scores) and emits the measured mean — a wrong
    Gram, mean, inverse, or projection each break the identity at the
    fourth decimal."""
    from ..operators import linalg

    emb = _t(spark, sf_dir, "embeddings")
    scores = linalg.mahalanobis_scores(emb, dim=64)
    row = scores.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("m2").cast("decimal(28,9)")).cast("double").alias("s"),
    ).collect()[0]
    if not row.n:  # empty corpus: certificate row, not ZeroDivisionError
        return spark.createDataFrame(
            [(0, None, False)],
            "n_vectors bigint, mean_m2 double, identity_holds boolean",
        )
    n, mean_m2 = row.n, row.s / row.n
    expected = 64.0 * (n - 1) / n
    return spark.createDataFrame(
        [(n, round(mean_m2, 4), abs(mean_m2 - expected) < 5e-5)],
        "n_vectors bigint, mean_m2 double, identity_ok boolean",
    )


@register(
    "ols_price_model",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(l_extendedprice * l_extendedprice
                 AS DECIMAL(38,6))) AS DOUBLE), 2) AS syy,
           TRUE AS normal_equations_ok,
           TRUE AS r2_in_unit_range
    FROM lineitem
    """,
)
def q_ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed multivariate OLS (price ~ quantity + discount + tax)
    by the normal equations: ALL 15 moments of the design matrix
    (XᵀX, Xᵀy, yᵀy with intercept) accumulate as DECIMAL in ONE
    aggregation pass — the d²-moments-in-one-scan architecture that
    scales to any row count — and the 4×4 solve runs on the driver.
    Gate: yᵀy replayed exactly by the oracle (same decimal path), the
    normal-equation residual ‖XᵀXβ−Xᵀy‖/‖Xᵀy‖ < 1e-8, and R² ∈ [0,1] —
    wrong moments, a broken solve, or a bogus fit each fail a column."""
    import numpy as np

    li = _t(spark, sf_dir, "lineitem")
    x1, x2, x3, y = (
        F.col("l_quantity"),
        F.col("l_discount"),
        F.col("l_tax"),
        F.col("l_extendedprice"),
    )
    dec = lambda c: F.sum(c.cast("decimal(38,6)")).cast("double")  # noqa: E731
    feats = {"1": F.lit(1.0), "q": x1, "d": x2, "t": x3}
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    names = list(feats)
    for i, a in enumerate(names):
        for b in names[i:]:
            if a == "1" and b == "1":
                continue
            aggs.append(dec(feats[a] * feats[b]).alias(f"m_{a}{b}"))
        aggs.append(dec(feats[a] * y).alias(f"v_{a}"))
    aggs.append(dec(y * y).alias("syy"))
    row = li.agg(*aggs).collect()[0].asDict()
    n = row["n"]
    get = lambda a, b: (  # noqa: E731
        n if (a, b) == ("1", "1")
        else row.get(f"m_{a}{b}", row.get(f"m_{b}{a}"))
    )
    xtx = np.array([[get(a, b) for b in names] for a in names])
    xty = np.array([row[f"v_{a}"] for a in names])
    beta = np.linalg.solve(xtx, xty)
    resid = float(
        np.linalg.norm(xtx @ beta - xty) / np.linalg.norm(xty)
    )
    sse = float(row["syy"] - 2 * beta @ xty + beta @ xtx @ beta)
    sst = float(row["syy"] - row["v_1"] ** 2 / n)
    r2 = 1.0 - sse / sst
    return spark.createDataFrame(
        [
            (
                int(n),
                round(row["syy"], 2),
                bool(resid < 1e-8),
                bool(-1e-9 <= r2 <= 1.0 + 1e-9),
            )
        ],
        "n_rows bigint, syy double, normal_equations_ok boolean, "
        "r2_in_unit_range boolean",
    )


@register(
    "discount_elasticity",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_discount AS DECIMAL(28,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(28,10)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_discount * l_quantity AS DECIMAL(28,10)))
                  AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_lines,
           ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6)
             AS slope,
           ROUND(sy / n, 6) AS mean_qty
    FROM m
    """,
)
def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does discounting move volume? OLS slope of quantity on discount per
    return class — the pricing-elasticity readout, in CLOSED FORM from
    five decimal-exact moments (1-D regression needs no solver, so unlike
    the multivariate model the oracle replays the whole fit, coefficient
    included). Near zero here: the synthetic columns are independent,
    which is precisely what an elasticity audit must be able to say."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.sum(c.cast("decimal(28,10)")).cast("double")  # noqa: E731
    x, y = F.col("l_discount"), F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(x).alias("sx"),
        dec(y).alias("sy"),
        dec(x * x).alias("sxx"),
        dec(x * y).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_lines"),
        F.round(slope, 6).alias("slope"),
        F.round(F.col("sy") / F.col("n"), 6).alias("mean_qty"),
    )


@register(
    "dow_effect_size",
    """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    g AS (SELECT CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE)
                   / COUNT(*) AS gm,
                 CAST(COUNT(*) AS DOUBLE) AS n
          FROM d),
    b AS (
      SELECT dow, COUNT(*) AS nk,
             CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS mk
      FROM d GROUP BY dow
    )
    SELECT CAST((SELECT n FROM g) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(CAST(nk * (mk - (SELECT gm FROM g))
                                  * (mk - (SELECT gm FROM g))
                               AS DECIMAL(28,10))) AS DOUBLE)
                 / NULLIF((SELECT CAST(SUM(CAST((y - gm) * (y - gm)
                               AS DECIMAL(28,10))) AS DOUBLE)
                    FROM d, g), 0), 6) AS eta_squared
    FROM b
    """,
)
def q_dow_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA effect size (η² = SS_between/SS_total) for
    day-of-week on daily event counts — "how much of the daily variance
    IS the weekly cycle", the magnitude companion to the ACF's
    existence test. Daily means, 7 group means, and both sums of squares
    all ride the |days|-row table with decimal accumulation."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.dayofweek("ts").alias("dow"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    g = d.agg(
        (
            F.sum(F.col("y").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("gm"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    b = d.groupBy("dow").agg(
        F.count(F.lit(1)).alias("nk"),
        (
            F.sum(F.col("y").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mk"),
    )
    ss_between = (
        b.join(F.broadcast(g))
        .agg(
            F.sum(
                (
                    F.col("nk")
                    * (F.col("mk") - F.col("gm"))
                    * (F.col("mk") - F.col("gm"))
                ).cast("decimal(28,10)")
            )
            .cast("double")
            .alias("ssb"),
            F.first("n").alias("n"),
        )
    )
    ss_total = (
        d.join(F.broadcast(g))
        .agg(
            F.sum(
                ((F.col("y") - F.col("gm")) * (F.col("y") - F.col("gm"))).cast(
                    "decimal(28,10)"
                )
            )
            .cast("double")
            .alias("sst")
        )
    )
    return (
        ss_between.join(F.broadcast(ss_total))
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            # constant series: SS_total = 0, eta^2 undefined -> NULL
            F.round(
                F.col("ssb") / F.nullif(F.col("sst"), F.lit(0.0)), 6
            ).alias("eta_squared"),
        )
    )


# ---------------------------------------------------------------------------
# Driver-contract accessors (__spark_entry__ delegates here)
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """name → (spark, sf_dir) -> DataFrame, one per registered query."""
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """name → DuckDB-runnable ANSI SQL; queries without an oracle (non-SQL-
    expressible) are omitted → the driver records a rows-only check."""
    return {
        name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None
    }


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The bench.py subset."""
    return {n: s.fn for n, s in QUERIES.items() if s.headline}
