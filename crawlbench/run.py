"""Crawl-cycle benchmark of ``coherencebot_spark``.

Usage, from the repository root::

    python3 crawlbench/run.py --workload merge_cycle --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics of the workload with no
tracing; ``--trace 1`` makes the separate traced run that attributes the
workload's operation to its layers.  Human-readable lines go to stdout first; the last
line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  The exit code is 0 only when
every output check passed.  See ``crawlbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# everything the run writes stays under the checkout
WORK = os.path.join(ROOT, ".crawlbench_work")

CORES = 4
HEAP = "3g"                 # + the Python workers fits a 15 GB box
SETUPS = 2                  # set-ups per run; setup_s is their median
MAX_REPS = 3                # cycles per run, at most


def _environment() -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    sys.path.insert(0, ROOT)


def session(app: str, event_log_dir: str | None = None):
    from coherencebot_spark.session import build_session

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # one shuffle partition per core: at these input sizes every stage is
    # latency-bound, and a second partition per core only adds task overhead
    return build_session(app_name=app, master=f"local[{CORES}]",
                         shuffle_partitions=CORES, extra_conf=conf)


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _quantile(values: list[float], q: int) -> float:
    """The ``q``-th percentile of ``values`` (``statistics.quantiles``)."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def untraced(workload: str, seed: int, seconds: float, root: str):
    from crawlbench.inputs import SHAPES
    from crawlbench.workloads import Tally, Workload, measure, measure_reads

    shape = SHAPES[workload]
    tally = Tally()
    spark = session(f"crawlbench-{workload}")
    try:
        w = Workload(spark, shape, seed, root)
        if shape.reads_only:
            s = measure_reads(w, seconds, SETUPS, tally)
        else:
            s = measure(w, seconds, SETUPS, MAX_REPS, tally)
            s["op_s"] = s["cycle_s"]
        peak = w.tree.peak_rss_mb()
    finally:
        spark.stop()
    med = {k: statistics.median(v) for k, v in s.items() if v}
    # figures of the run that are not bounded metrics of every workload
    if shape.reads_only:
        extra = {}
        if len(s["op_s"]) > 1:
            extra["lookup_ms_p50"] = _quantile(s["op_s"], 50) * 1e3
            extra["lookup_ms_p90"] = _quantile(s["op_s"], 90) * 1e3
    else:
        extra = {k: med.get(k) for k in ("cycle_s", "urls_per_s",
                                         "bytes_written_mb")}
    extra["failed_ratio"] = tally.failed / max(tally.attempted, 1)
    print(f"ops: {len(s['op_s'])}; set-ups: "
          f"{[round(v, 3) for v in s['setup_s']]}; failed: "
          f"{tally.failed}/{tally.attempted}; peak RSS: JVM {peak['jvm']:.0f} MB"
          f", {peak['workers']} Python processes {peak['python']:.0f} MB; "
          + ", ".join(f"{k} {v:.4f}" for k, v in extra.items()
                      if v is not None), flush=True)
    units = {"setup_s": "s", "op_s": "s", "cpu_s": "s"}
    metrics = {k: {"value": med[k], "unit": u}
               for k, u in units.items() if k in med}
    metrics["peak_rss_mb"] = {"value": peak["total"], "unit": "MB"}
    return tally, metrics


def main(argv: list[str] | None = None) -> int:
    from crawlbench.inputs import SHAPES

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    from crawlbench.workloads import Tally

    root = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        if a.trace:
            from crawlbench.layers import traced
            tally, metrics = traced(a.workload, a.seed, root)
        else:
            tally, metrics = untraced(a.workload, a.seed, a.seconds, root)
    except Exception:  # noqa: BLE001 - the run failed: report it as such
        traceback.print_exc()
        tally, metrics = Tally(attempted=1, failed=1), {}
    finally:
        stop_jvm()
        shutil.rmtree(root, ignore_errors=True)
    correct = tally.failed == 0
    for k, v in metrics.items():
        print(f"{k:28s} {v['value']:14.4f} {v['unit']}", flush=True)
    print(json.dumps({"correct": correct, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    _environment()
    # the program under test must be importable before anything runs: in a
    # directory without it, fail here, before any result is printed
    import coherencebot_spark.plans.cycle  # noqa: F401

    sys.exit(main())
