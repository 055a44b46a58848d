"""The ``headline_queries`` workload: the registry's ``headline=True``
queries on seeded tables.

An operation is one query execution: ``QUERIES[name].fn(spark, dir)``
(plan build, including any checkpoint jobs it runs) then ``collect()``.
The first pass runs every query once, in registry order, in a fresh
session, so each execution pays its own plan's analysis and code
generation: this is the cold pass the end-to-end metrics describe. The
order is fixed because cold times depend on it (a query that runs after
a similar one reuses its generated code); the seed changes the tables.
If ``--seconds`` have not elapsed after the cold pass, further (warm)
passes run and are reported apart from it.

Every execution's rows are checked, outside its timed section, against the
query's DuckDB oracle on the same tables, which runs once per run before
the timed section: equal row count and order-insensitive digest
(``tools/check_correctness.table_digest``), or, failing the digest, equal
non-float values with every float within 1e-6 relative or 1.01e-4
absolute, one unit in the last place of the 4-decimal rounding some
queries apply to sums whose order differs between the engines. Such
float-only matches are counted and reported as ``tolerated``.
"""

from __future__ import annotations

import math
import os
import sys
import time

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.plans import (
    registry,
)

import gen
from measure import median

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_correctness import TABLES, canon, table_digest  # noqa: E402

SCALE = 1.0  # gen.tables scale: 60k lineitem rows, 500 documents
PROBE_BAGS = 2  # kernel probes need bags; this workload has none of its own


def _split(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows as (non-float values, floats), columns in name order, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = [r[i] for i in order]
        out.append((
            tuple("~" if isinstance(v, float) else canon(v) for v in vals),
            tuple(v for v in vals if isinstance(v, float)),
        ))
    return sorted(out, key=lambda kv: (kv[0], [canon(v) for v in kv[1]]))


def _close(a: float, b: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=1e-6, abs_tol=1.01e-4)


def floats_close(cols: list[str], rows: list[tuple], o_cols: list[str], o_rows: list[tuple]) -> bool:
    """Same rows up to float rounding (see the module docstring)."""
    if sorted(cols) != sorted(o_cols) or len(rows) != len(o_rows):
        return False
    return all(
        ka == kb and all(_close(x, y) for x, y in zip(fa, fb))
        for (ka, fa), (kb, fb) in zip(_split(cols, rows), _split(o_cols, o_rows))
    )


class Headline:
    def __init__(self, ctx, only: list[str] | None = None, perturb_first: bool = False):
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.work, "tables")
        names = [n for n, s in registry.QUERIES.items() if s.headline]
        if only:
            names = [n for n in names if n in only]
        self.order = names
        self.perturb_first = perturb_first
        self.pos = 0
        self.passes: list[list[float]] = []
        self.detail: dict[str, float] = {}
        self.oracle: dict[str, tuple] = {}  # name -> (digest, columns, rows)
        self.tolerated: list[str] = []

    def prepare(self) -> dict:
        table_bytes = gen.write_tables(self.data_dir, self.ctx.seed, SCALE)
        return {"queries": len(self.order), "table_bytes": table_bytes}

    def compute_oracle(self) -> None:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        for name in self.order:
            rel = con.sql(registry.QUERIES[name].oracle)
            rows = rel.fetchall()
            self.oracle[name] = (table_digest(rel.columns, rows), rel.columns, rows)
        con.close()

    def warmup(self) -> None:
        """Session warm-up that runs no registry query: one scan of every
        table, so the first query does not also pay the first job."""
        spark = self.ctx.spark
        t = time.perf_counter()
        for table in TABLES:
            spark.read.parquet(os.path.join(self.data_dir, f"{table}.parquet")).count()
        self.ctx.warmup_s = time.perf_counter() - t

    def can_stop(self) -> bool:
        return self.pos % len(self.order) == 0

    def op(self) -> None:
        ctx = self.ctx
        name = self.order[self.pos % len(self.order)]
        cold = self.pos < len(self.order)
        if self.pos % len(self.order) == 0:
            self.passes.append([])
        spec = registry.QUERIES[name]
        acct = ctx.acct
        mark = acct.mark() if acct else None
        mid = None
        error = None
        with ctx.tracer.span(f"q.{name}", f"{name}#{self.pos}") as counts:
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("plans.registry.build"):
                    df = spec.fn(ctx.spark, self.data_dir)
                t1 = time.perf_counter()
                mid = acct.mark() if acct else None
                with ctx.tracer.span("collect"):
                    rows = df.collect()
                cols = df.columns
            except Exception as exc:  # noqa: BLE001 — counted as a failed execution
                error = repr(exc)[:300]
                t1 = time.perf_counter()
            t2 = time.perf_counter()
        wall = t2 - t0
        if acct:
            h = time.perf_counter()
            total = acct.since(mark, plans=False)
            counts.update(jobs=total["jobs"], stages=total["stages"], tasks=total["tasks"])
            ctx.harvest_s += time.perf_counter() - h
        if error is None:
            rows = [tuple(r) for r in rows]
            if self.perturb_first and self.pos == 0:
                rows = rows[:-1] if rows else [tuple(range(len(cols)))]
            digest, o_cols, o_rows = self.oracle[name]
            if table_digest(cols, rows) != digest:
                if floats_close(cols, rows, o_cols, o_rows):
                    self.tolerated.append(name)
                else:
                    error = f"{len(rows)} rows differ from the oracle's {len(o_rows)}"
        self.pos += 1
        self.passes[-1].append(wall)
        if not cold:
            return
        ctx.record_op(wall, attempted=1, failed=int(error is not None),
                      errors=[f"{name}: {error}"] if error else [])
        if acct:
            ctx.record_spark(total)
            self.detail[f"q.{name}.build_s"] = t1 - t0
            self.detail[f"q.{name}.exec_s"] = t2 - t1
            self.detail[f"q.{name}.jobs"] = total["jobs"]
            for key, src in (("stages", "stages"), ("shuffle_bytes", "shuffle_write_bytes"),
                             ("spill_bytes", "spill_bytes")):
                self.detail[f"queries.{key}"] = self.detail.get(f"queries.{key}", 0) + total[src]
            # job ids are sequential: the ids issued before ``mid`` ran in the build
            self.detail[f"q.{name}.build_jobs"] = (mid or mark)[0] - mark[0]

    def summary(self) -> dict:
        """Cold-pass and warm-pass figures for the human-readable report."""
        cold = self.passes[0]
        out = {
            "pass_s": (sum(cold), "s", 1),
            "query_p50_s": (median(cold), "s", len(cold)),
            "tolerated": (len(self.tolerated), "count", len(cold)),
        }
        warm = [t for p in self.passes[1:] for t in p]
        full = [sum(p) for p in self.passes[1:] if len(p) == len(self.order)]
        if warm:
            out["warm.query_p50_s"] = (median(warm), "s", len(warm))
        if full:
            out["warm.pass_s"] = (median(full), "s", len(full))
        return out

    def layer_metrics(self) -> dict:
        return dict(self.detail)

    def probes(self) -> dict:
        from e1 import BACKLOG_SIZE, kernel_probes

        probe_dir = os.path.join(self.ctx.work, "probe_bags")
        paths = [
            gen.write_bag(probe_dir, self.ctx.seed, i, **BACKLOG_SIZE)["path"]
            for i in range(PROBE_BAGS)
        ]
        return kernel_probes(paths, self.ctx.tracer)
