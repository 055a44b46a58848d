"""The fixed-point fast-sum carrier must match the decimal path exactly.

Regression: ``_fx_long`` was ``round(x*1e6)`` — double arithmetic lands
half-way values like 4.0000005 just below .5 and rounds DOWN, while
``CAST(x AS DECIMAL(18,6))`` (the dsum path and the DuckDB oracle) sees
the shortest decimal repr "4.0000005" and HALF_UPs — a silent 1e-6
divergence on any corpus containing such values. The fix routes the
scaling through the decimal cast itself.
"""

from __future__ import annotations

import re

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.plans import (
    registry,
)

# doubles whose shortest repr is a 7th-decimal half-way value (the class
# round(x*1e6) got wrong), plus ordinary and negative money-like values
ADVERSARIAL = [
    4.0000005,
    16.0000005,
    1048576.0000005,
    8388608.0000005,
    -4.0000005,
    0.1,
    2.675,  # classic double-vs-decimal rounding trap at 2 decimals
    123456.789012,
    -0.0000005,
    0.0,
]


def test_fsum_matches_dsum_on_halfway_values(spark):
    df = spark.createDataFrame([(x,) for x in ADVERSARIAL], "x double")
    from pyspark.sql import functions as F

    row = df.agg(
        registry.fsum(F.col("x"), "fast"),
        registry.dsum(F.col("x"), "exact"),
        registry.favg(F.col("x"), "fast_avg"),
        registry.davg(F.col("x"), "exact_avg"),
    ).collect()[0]
    assert row.fast == row.exact  # bit-for-bit, not approx
    assert row.fast_avg == row.exact_avg


def test_fx_long_matches_decimal_cast_rowwise(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(x,) for x in ADVERSARIAL], "x double")
    rows = df.select(
        registry._fx_long(F.col("x")).alias("fx"),
        (F.col("x").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("dec"),
    ).collect()
    for r in rows:
        assert r.fx == r.dec


# --- gsum: the auto-carrier guard (footer-stats budget) ---------------------

def test_long_carrier_budget_decision():
    # unknown stats never earn the long carrier
    assert not registry.long_carrier_ok(None, 100.0)
    assert not registry.long_carrier_ok(1000, None)
    # money-like magnitudes at bench row counts: comfortably inside
    assert registry.long_carrier_ok(600_000, 1e5)
    # 200 rows of 1e11 need 2e19 carrier units — past 2^63
    assert not registry.long_carrier_ok(200, 1e11)
    # the headroom factor bites BEFORE the hard 2^63 edge: a magnitude
    # that fits the raw long but not the 8x margin is rejected, one
    # safely inside the margin is accepted
    hard_edge = float(2**63) / 1e6
    assert not registry.long_carrier_ok(1, hard_edge * 0.99)
    assert registry.long_carrier_ok(
        1, hard_edge / registry.FSUM_HEADROOM * 0.9
    )


def test_footer_stats_pick_long_carrier_on_real_lineitem():
    """The guard's metadata-only read on the actual bench table must both
    return usable stats and land on the fast carrier (else the flagship
    would silently regress to decimal accumulation)."""
    n, mx = registry._footer_stats("/root/testdata/sf0.001/lineitem.parquet")
    assert n and n > 1000
    for col in ("l_quantity", "l_extendedprice", "l_discount"):
        assert col in mx and mx[col] > 0
    assert registry.long_carrier_ok(n, mx["l_extendedprice"])
    # and the derived-column bound used by pricing_summary
    dp = mx["l_extendedprice"] * (1 + mx["l_discount"])
    assert registry.long_carrier_ok(n, dp)


def test_footer_stats_cache_invalidates_on_rewrite(tmp_path, spark):
    """A rewritten/appended parquet must be re-read, not served from the
    process-lifetime cache: in a long-lived session a stale row count
    would erode gsum's headroom check without anyone noticing. The cache
    keys on (path, per-file mtime+size)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": [1.0, 2.0]}), p)
    n1, mx1 = registry._footer_stats(p)
    assert n1 == 2 and mx1["x"] == 2.0
    # rewrite with more rows and a larger max; force a distinct mtime
    import os

    pq.write_table(pa.table({"x": [1.0, 2.0, 50.0, -7.0]}), p)
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    n2, mx2 = registry._footer_stats(p)
    assert n2 == 4 and mx2["x"] == 50.0


def test_gsum_picks_by_budget():
    """gsum/gavg return the fsum/favg expression inside budget and the
    dsum/davg expression outside it — compared on the expression tree."""
    from pyspark.sql import functions as F

    c = F.col("x")
    assert str(registry.gsum(c, "s", n_rows=1000, max_abs=100.0)) == str(
        registry.fsum(c, "s")
    )
    assert str(registry.gsum(c, "s", n_rows=200, max_abs=1e11)) == str(
        registry.dsum(c, "s")
    )
    assert str(registry.gavg(c, "a", n_rows=200, max_abs=1e11)) == str(
        registry.davg(c, "a")
    )
    assert str(registry.gavg(c, "a", n_rows=None, max_abs=None)) == str(
        registry.davg(c, "a")
    )


def test_fsum_overflow_aborts_loudly_and_gsum_survives(spark):
    """At adversarial magnitude the UNGUARDED long carrier must fail the
    job (ANSI long-sum overflow), never wrap silently — and gsum at the
    same magnitude must downgrade to the decimal path and return the
    exact sum."""
    import pytest
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1.0e11,)] * 200, "x double")
    with pytest.raises(Exception, match="(?i)overflow|arithmetic"):
        df.agg(registry.fsum(F.col("x"), "s")).collect()
    row = df.agg(
        registry.gsum(F.col("x"), "s", n_rows=200, max_abs=1e11),
        registry.dsum(F.col("x"), "exact"),
    ).collect()[0]
    assert row.s == row.exact == 2.0e13


def test_spread_docs_gates_on_measured_scan_layout(tmp_path, spark):
    """The registry's documents read is hash-spread on doc_id to
    defaultParallelism only when the table's measured scan layout
    underfills the cluster: a single-file table spreads, a many-file table
    is the plain scan — so the declared queries stop paying a guaranteed
    full-corpus exchange on inputs that already carry enough splits (the
    100 TB case)."""
    par = spark.sparkContext.defaultParallelism
    docs = spark.range(10_000).selectExpr("id AS doc_id", "'x' AS text")
    one, many = str(tmp_path / "one"), str(tmp_path / "many")
    docs.coalesce(1).write.parquet(f"{one}/documents.parquet")
    docs.repartition(par + 4).write.parquet(f"{many}/documents.parquet")

    def plan(sf_dir):
        df = registry._spread_docs(spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    assert re.search(
        rf"hashpartitioning\(doc_id#\d+L?, {par}\), REPARTITION_BY_NUM",
        plan(one),
    )
    assert "REPARTITION_BY_NUM" not in plan(many)
