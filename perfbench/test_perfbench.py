"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The two fault-injection tests start a Spark session each (about a minute
apiece); the rest are quick.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from measure import NAME_RE, Tracer, median, percentile  # noqa: E402

SMALL = dict(frames_per_camera=2, width=32, height=24)


def test_bags_are_deterministic_and_seed_sensitive(tmp_path):
    a, counts = gen.bag_bytes(7, 0, **SMALL)
    b, _ = gen.bag_bytes(7, 0, **SMALL)
    c, _ = gen.bag_bytes(8, 0, **SMALL)
    assert a == b
    assert a != c
    assert counts == {"messages": 1000, "frames": 8}
    assert gen.bag_stem(7, 0) != gen.bag_stem(8, 0)
    # the .tar.gz wrapping is byte-identical too (fixed mtimes)
    p1 = gen.write_bag(str(tmp_path / "x"), 7, 3, **SMALL)
    p2 = gen.write_bag(str(tmp_path / "y"), 7, 3, **SMALL)
    assert p1["path"].endswith(".bag.tar.gz")
    with open(p1["path"], "rb") as f1, open(p2["path"], "rb") as f2:
        assert f1.read() == f2.read()


def test_tables_are_deterministic_and_seed_sensitive():
    a, b, c = gen.tables(3, 0.1), gen.tables(3, 0.1), gen.tables(4, 0.1)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    assert not a["lineitem"].equals(c["lineitem"])


def test_metric_names_and_counts_follow_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert len(run.END_TO_END) <= 16 and len(run.PER_LAYER) <= 128
    for name, unit, better in run.END_TO_END + run.PER_LAYER:
        assert NAME_RE.fullmatch(name) and len(name) <= 64
        assert better in ("higher", "lower")
    names = [n for n, _, _ in run.END_TO_END + run.PER_LAYER]
    assert len(names) == len(set(names))
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def test_percentile_needs_ten_samples_beyond_it():
    assert percentile(list(range(100)), 0.9) == 89  # 10 samples above
    assert percentile(list(range(99)), 0.9) is None  # only 9 above
    assert percentile(list(range(30)), 0.5) == median(list(range(30)))
    assert percentile([4.0], 0.5) == 4.0


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.add("parent", 0.0, 10.0, None, "t")
    tr.add("child", 2.0, 5.0, 0, "t")
    tr.add("child", 4.0, 6.0, 0, "t")
    assert tr.self_times() == pytest.approx({"parent": 6.0, "child": 5.0})
    assert Tracer(False).spans == []


def _run(*args: str) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_corrupt_bag_counts_as_failed():
    r = _run("--workload", "bag_trickle", "--seed", "5", "--seconds", "1",
             "--trace", "0", "--inject", "corrupt-bag")
    assert r["failed"] >= 1 and r["correct"] is False
    assert r["failed"] / r["attempted"] > 0


def test_perturbed_query_result_counts_as_failed():
    r = _run("--workload", "headline_queries", "--seed", "5", "--seconds", "1",
             "--trace", "0", "--queries", "region_revenue,volume_shipping",
             "--inject", "perturb-result")
    assert r["attempted"] == 2 and r["failed"] == 1 and r["correct"] is False


def test_sql_executions_are_attributed_to_e1_stages():
    from types import SimpleNamespace

    from e1 import attribute

    cfg = SimpleNamespace(output_dir="/w/out0", manifest_dir="/w/manifest0")

    def write(path):
        return {"plan": "== Physical Plan ==\n(3) Execute InsertIntoHadoopFsRelationCommand\n"
                        f"Input [2]: [a, b]\nArguments: file:{path}, false, Parquet\n"}

    collect = {"plan": "== Physical Plan ==\n(1) Scan binaryFile\n"}
    execs = [collect, write("/w/manifest0/data/c-1"), write("/w/out0/topic_messages"),
             collect, write("/w/out0/frame_stats"), write("/w/out0/labels"),
             write("/w/out0/annotated"), write("/w/manifest0/data/c-2")]
    assert attribute(execs, cfg) == [
        "discover", "ledger", "landing", "frame_stats", "frame_stats",
        "labels", "annotated", "ledger",
    ]
