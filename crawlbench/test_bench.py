"""The benchmark's own tests.

    python3 -m pytest crawlbench -q -p no:cacheprovider

The command tests run ``crawlbench/run.py`` in a subprocess from the
repository root and take one to two minutes each; they run first, before
this module starts a Spark session of its own.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from dataclasses import replace

import pytest

from crawlbench import run

ROOT = run.ROOT
TESTS = os.path.join(run.WORK, "tests")


def _bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "crawlbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload,trace", [("merge_cycle", "1"),
                                            ("crawldb_read", "0"),
                                            ("crawldb_read", "1")])
def test_command_reports_every_metric(workload, trace):
    """The last stdout line carries exactly the BENCHMARK.json metrics of
    the mode, with their units, and every output check passed."""
    rc, out = _bench("--workload", workload, "--seed", "5",
                     "--seconds", "1", "--trace", trace)
    result = json.loads(out[-1])
    assert rc == 0 and result["correct"] and result["failed"] == 0, out
    key = "per_layer" if trace == "1" else "end_to_end"
    want = {m["name"]: m["unit"] for m in _spec()[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if trace == "0":
        assert all(v > 0 for v in m.values()), m
        return
    # the layers' self times account for the traced operation
    assert 0 <= m["trace.unattributed_s"] < 0.05 * m["trace.op_s"]
    if workload == "merge_cycle":
        assert m["cycle.jobs"] > 0 and m["cycle.tasks"] > 0
        assert m["fetch.rows"] == m["generate.rows_out"]
        assert m["readdb.stats_s"] == 0           # no reads in a cycle run
    else:
        assert m["snapshot.chain_len"] == 4       # seed + three MERGE commits
        assert m["readdb.lookup_ms"] > 0 and m["generate.dry_s"] > 0
        assert m["cycle.jobs"] == 0               # no cycle in a read run


def test_command_fails_without_the_program():
    """In a directory holding only the benchmark, the command exits non-zero
    without printing a result."""
    bare = os.path.join(TESTS, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "crawlbench"),
                    os.path.join(bare, "crawlbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, out = _bench("--workload", "merge_cycle", "--seed", "1",
                     "--seconds", "1", "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0
    assert not any(line.startswith("{") for line in out)


@pytest.fixture(scope="module")
def spark():
    run._environment()
    s = run.session("crawlbench-tests")
    yield s
    s.stop()


def _rows(spark, path: str) -> list[tuple]:
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_generator_is_seeded(spark):
    from crawlbench.inputs import SHAPES, absent_urls, frontier_df

    shape = SHAPES["full_cycle"].scaled(0.05)
    got = {}
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        path = os.path.join(TESTS, f"gen-{name}")
        frontier_df(spark, shape, seed).write.mode("overwrite").parquet(path)
        got[name] = _rows(spark, path)
        shutil.rmtree(path)
    assert got["a"] == got["b"]
    assert got["a"] != got["c"]
    assert len(got["a"]) == shape.frontier_rows
    assert absent_urls(shape, 1) == absent_urls(shape, 1) != absent_urls(shape, 2)


def _frontier(spark, d) -> list[tuple]:
    rows = d.frontier.read(spark).drop("bucket").collect()
    return sorted(
        tuple(sorted(v.items()) if isinstance(v, dict) else
              bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in rows)


@pytest.mark.parametrize("workload", ["merge_cycle", "full_cycle"])
def test_merge_cycle_equals_full_rewrite(spark, workload):
    """From the same seeded state, a bucketed MERGE cycle and a full-rewrite
    cycle commit identical frontier rows (the claim CrawlDriver's docstring
    makes for ``bucketed=True``)."""
    from coherencebot_spark.schemas import FRONTIER
    from crawlbench.inputs import SHAPES
    from crawlbench.workloads import Workload

    shape = SHAPES[workload].scaled(0.1)
    root = os.path.join(TESTS, f"equal-{workload}")
    shutil.rmtree(root, ignore_errors=True)
    w = Workload(spark, shape, 3, root)
    got, sizes = {}, {}
    for bucketed in (True, False):
        w.shape = replace(shape, bucketed=bucketed)
        d = w.setup(os.path.join(root, f"crawl-{bucketed}"))
        m = w.cycle(d)
        assert (d.frontier.history()[-1].get("merge") is not None) == bucketed
        w.check_frontier(d, m)
        got[bucketed] = _frontier(spark, d)
        sizes[bucketed] = (m.generated, m.fetched, m.new_links, m.frontier_size)
    shutil.rmtree(root, ignore_errors=True)
    assert sizes[True] == sizes[False]
    assert [r[0] for r in got[True]] == [r[0] for r in got[False]]
    diff = [(a, b) for a, b in zip(got[True], got[False]) if a != b]
    cols = sorted({FRONTIER.names[i] for a, b in diff
                   for i in range(len(a)) if a[i] != b[i]})
    assert not diff, (f"{len(diff)} of {len(got[True])} rows differ in "
                      f"{cols}; first (merge, full): {diff[0]}")
