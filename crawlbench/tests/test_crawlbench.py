"""Tests of the benchmark's own code.

    python -m pytest crawlbench/tests -q

The two smoke runs start Spark (about a minute each).
"""

import ast
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import spans  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(200) == 95
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    assert tail_percentile(20) == 50
    assert tail_percentile(19) is None
    for n in range(20, 500):
        p = tail_percentile(n)
        assert n * (100 - p) / 100 >= 10 - 1e-9          # >= 10 beyond
        assert n * (100 - (p + 1)) / 100 < 10            # p+1 would not


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4, 5], 50) == 3
    assert percentile([0, 10], 90) == 9


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_span_self_time_with_nested_spans():
    clk = FakeClock()
    tr = spans.Tracer(clock=clk)
    with tr.span("bench", "root") as root:
        clk.t = 1
        with tr.span("a", "child1") as c1:
            clk.t = 3
        clk.t = 4
        with tr.span("b", "child2") as c2:
            clk.t = 5
            with tr.span("c", "grandchild") as g:
                clk.t = 6
            clk.t = 8
        clk.t = 10
    assert root.dur == 10 and c1.dur == 2 and c2.dur == 4 and g.dur == 1
    assert root.self_time == 10 - 2 - 4          # grandchild is inside c2
    assert c2.self_time == 3
    assert g.self_time == 1
    assert [s.name for s in tr.subtree(c2)] == ["child2", "grandchild"]
    assert g.parent is c2 and c2.parent is root and root.parent is None


def test_call_site_namer_names_the_enclosing_statement():
    src = ("def f(df):\n"
           "    sched = (df.filter(x)\n"
           "             .localCheckpoint(eager=True))\n"
           "    df.first()\n"
           "    return sched\n")
    n = spans.CallSiteNamer(src)
    assert n.name(2) == n.name(3) == "sched"
    assert n.name(4) == "df.first()"
    assert n.name(99) == "line99"


def _epoch_calls(attr):
    """(lineno of the call) for every `<x>.<attr>(...)` in run_epoch."""
    from web_crawler_spark.plans import epoch
    with open(epoch.__file__) as f:
        tree = ast.parse(f.read())
    fn = next(n for n in ast.walk(tree)
              if isinstance(n, ast.FunctionDef) and n.name == "run_epoch")
    # the wrapper sees the frame line of the call, i.e. the attribute line
    return [n.func.end_lineno for n in ast.walk(fn)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr]


def test_run_epoch_actions_are_named_from_their_call_line():
    from web_crawler_spark.plans import epoch
    with open(epoch.__file__) as f:
        namer = spans.CallSiteNamer(f.read())
    ckpt = {namer.name(ln) for ln in _epoch_calls("localCheckpoint")}
    assert ckpt == {"sched", "fetched", "cube", "host_budgets"}
    assert ckpt <= set(spans.ACTION_LAYERS)
    assert {namer.name(ln) for ln in _epoch_calls("first")} == {"sc", "at"}


def test_instrumentation_restores_every_original():
    from pyspark.sql.classic.dataframe import DataFrame

    from web_crawler_spark.plans.epoch import CrawlEngine
    from web_crawler_spark.sources.tables import DeltaFrontier, LakeTable
    before = (LakeTable.append, DeltaFrontier.read, CrawlEngine.run_epoch,
              DataFrame.localCheckpoint)
    inst = spans.Instrumentation(spans.Tracer()).install()
    assert LakeTable.append is not before[0]
    assert DataFrame.localCheckpoint.__wrapped__ is before[3]
    inst.uninstall()
    assert (LakeTable.append, DeltaFrontier.read, CrawlEngine.run_epoch,
            DataFrame.localCheckpoint) == before


def _bench_names(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


def _run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join("crawlbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [("crawl_wide", 0),
                                            ("crawl_deep", 1)])
def test_smoke_run(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0
    assert res["attempted"] >= 1 + 5          # the crawl + one query round
    kind = "per_layer" if trace else "end_to_end"
    assert set(res["metrics"]) == _bench_names(kind)
    if trace:
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert m["plans.epoch.epochs"] >= 3
        assert m["operators.pagerank.rank_s"] > 0
        assert m["operators.dedup.seen_shards_write_s"] > 0
        assert m["plans.epoch.span_coverage"] > 0.8
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "crawlbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("crawl_wide", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
