"""Set-up, the timed operations and the output checks.

A cycle workload starts every cycle from a freshly seeded crawl workdir,
because a cycle's new links are due in the next cycle: chaining cycles
would change the input from one cycle to the next.  The read workload
(``Shape.chain``) seeds the frontier, stacks MERGE commits on it and then
repeats a read round (``readdb.stats``, ``readdb.topn``, a dry
``generate`` and ``readdb.url_lookup`` point lookups, most for present URLs
and some for absent ones) on a fresh read of the committed crawldb.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coherencebot_spark.operators.generate import generate
from coherencebot_spark.operators.readdb import stats, topn, url_lookup
from coherencebot_spark.plans.cycle import CrawlDriver, CycleMetrics

from . import inputs
from .inputs import CHAIN_SHIFT_MS, CYCLE_TIME, HOST_BUCKETS, Shape
from .procfs import ProcessTree, dir_bytes, steal_seconds

CYCLE_ID = 0
# the dry generate of a read round: one cycle after the measured one
SCAN_TIME = CYCLE_TIME + 3_600_000
# untimed lookups before the timed ones, and the fewest timed lookups
WARM_LOOKUPS = 5
MIN_LOOKUPS = 5


class CheckFailed(Exception):
    """An output of the program is wrong."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Workload:
    """One workload's inputs and operations on one Spark session."""

    def __init__(self, spark: SparkSession, shape: Shape, seed: int,
                 root: str):
        self.spark = spark
        self.shape = shape
        self.seed = seed
        self.root = root
        self.tree = ProcessTree()

    def seed_rows(self) -> DataFrame:
        return inputs.frontier_df(self.spark, self.shape, self.seed)

    # -- set-up -----------------------------------------------------------
    def setup(self, workdir: str) -> CrawlDriver:
        """Bring a fresh workdir to the seeded crawl state: the seed
        frontier snapshot, then the URL-seen shards or the MERGE chain."""
        shutil.rmtree(workdir, ignore_errors=True)
        d = CrawlDriver(self.spark, workdir, self.shape.cfg,
                        bucketed=self.shape.bucketed,
                        **inputs.fetch_kwargs(self.shape))
        d._write_frontier(self.seed_rows(), cycle_id="seed",
                          metrics={"frontier_size": self.shape.frontier_rows})
        if self.shape.cfg.use_url_seen:
            d._load_or_build_blooms()
        self.build_chain(d)
        return d

    def build_chain(self, d: CrawlDriver) -> None:
        """``shape.chain`` MERGE commits, each rewriting two host buckets
        with their rows due one hour later; after 16 commits every bucket
        has been rewritten once.  The row set never changes."""
        src = d._with_bucket(self.seed_rows())
        for k in range(1, self.shape.chain + 1):
            touched = [(2 * k - 2) % HOST_BUCKETS, (2 * k - 1) % HOST_BUCKETS]
            rows = src.filter(F.col("bucket").isin(touched)).withColumn(
                "fetch_time", F.col("fetch_time") + F.lit(CHAIN_SHIFT_MS))
            d.frontier.merge_write(
                rows, touched, cycle_id=f"chain-{k}",
                metrics={"frontier_size": self.shape.frontier_rows},
                sort_within=["bucket", "fetch_time"], distribute_by=["bucket"])

    def cycle(self, d: CrawlDriver) -> CycleMetrics:
        return d.run_cycle(CYCLE_ID, CYCLE_TIME)

    # -- checks on the committed crawldb ----------------------------------
    def check_frontier(self, d: CrawlDriver, m: CycleMetrics) -> int:
        """Unique URLs; row count == CycleMetrics.frontier_size == parent +
        new_links.  Returns the row count."""
        row = d.frontier.read(self.spark).agg(
            F.count("*").alias("n"),
            F.countDistinct("url").alias("urls")).first()
        check(row["n"] == row["urls"],
              f"frontier has duplicate urls: {row['n']} rows, "
              f"{row['urls']} distinct")
        check(row["n"] == m.frontier_size,
              f"frontier rows {row['n']} != frontier_size {m.frontier_size}")
        parent = self.shape.frontier_rows
        check(m.frontier_size == parent + m.new_links,
              f"frontier_size {m.frontier_size} != parent {parent} "
              f"+ new_links {m.new_links}")
        check(m.generated > 0, "empty fetchlist")
        return row["n"]

    # -- operator reads ---------------------------------------------------
    def read_round(self, d: CrawlDriver, targets: list[tuple[str, bool]],
                   tally: "Tally", span) -> None:
        """One read round on a fresh read of the committed crawldb, each
        operation inside ``span(name)``; runs the output checks."""
        with span("snapshot.read"):
            frontier = d.frontier.read(self.spark)
            n_rows = frontier.count()
        with span("readdb.stats"):
            s = stats(frontier)
            st = {"urls": s["global"].first()["urls"],
                  "by_status": s["by_status"].collect()}
        with span("readdb.topn"):
            top = topn(frontier, self.shape.topn_read).collect()
        with span("generate.dry"):
            n_gen = generate(frontier.drop("bucket"), SCAN_TIME, self.shape.cfg,
                             broadcast_select=self.shape.cfg.broadcast_small_sides
                             ).count()
        for url, present in targets:
            with span("readdb.lookup"):
                ok, rows = tally.run("lookup", self.lookup, frontier, url)
            if ok:
                tally.run("lookup check", self.check_lookup, rows, url, present)
        tally.run("scan check", self.check_scan, (st, top, n_gen), n_rows)

    def check_scan(self, result: tuple[dict, list, int], n_rows: int) -> None:
        """``result``: (stats totals, topn rows, dry-generate row count)."""
        st, top, n_gen = result
        if self.shape.reads_only:
            check(n_rows == self.shape.frontier_rows,
                  f"frontier rows {n_rows} != seeded rows "
                  f"{self.shape.frontier_rows}")
        check(st["urls"] == n_rows,
              f"stats total {st['urls']} != frontier rows {n_rows}")
        check(sum(r["count"] for r in st["by_status"]) == n_rows,
              "per-status counts do not sum to the frontier rows")
        check(len(top) == min(self.shape.topn_read, n_rows),
              f"topn returned {len(top)} rows")
        scores = [r["score"] for r in top]
        check(all(a >= b for a, b in zip(scores, scores[1:])),
              "topn is not ordered by score")
        check(0 < n_gen <= self.shape.cfg.topn,
              f"dry generate selected {n_gen} rows")

    def lookup_targets(self, frontier: DataFrame) -> list[tuple[str, bool]]:
        """(url, present) pairs: a seeded sample of frontier URLs and
        absent URLs on frontier hosts, in a seeded order."""
        present = [r["url"] for r in frontier.select("url")
                   .orderBy(F.xxhash64("url", F.lit(self.seed)))
                   .limit(self.shape.lookups).collect()]
        targets = [(u, True) for u in present] + \
            [(u, False) for u in inputs.absent_urls(self.shape, self.seed)]
        random.Random(self.seed).shuffle(targets)
        return targets

    @staticmethod
    def lookup(frontier: DataFrame, url: str) -> list:
        return url_lookup(frontier, url, HOST_BUCKETS).collect()

    @staticmethod
    def check_lookup(rows: list, url: str, present: bool) -> None:
        if present:
            check(len(rows) == 1 and rows[0]["url"] == url,
                  f"lookup of {url} returned {len(rows)} rows")
        else:
            check(not rows, f"lookup of absent {url} returned {len(rows)} rows")


@dataclass
class Tally:
    """Operations attempted and failed; a failure is an exception or a
    failed output check."""

    attempted: int = 0
    failed: int = 0

    def run(self, what: str, fn, *args):
        """Run one operation; returns (ok, result)."""
        self.attempted += 1
        try:
            return True, fn(*args)
        except CheckFailed as e:
            self.failed += 1
            print(f"CHECK FAILED [{what}]: {e}", flush=True)
        except Exception as e:  # noqa: BLE001 - counted and reported
            self.failed += 1
            print(f"ERROR [{what}]: {type(e).__name__}: {e}", flush=True)
        return False, None


def timed_setups(w: Workload, n: int, tally: Tally) -> tuple[CrawlDriver | None, list]:
    """Set up ``n`` times, each in a fresh workdir; keeps the last."""
    d, secs = None, []
    for i in range(n):
        if d is not None:
            shutil.rmtree(d.workdir, ignore_errors=True)
        t0 = time.perf_counter()
        ok, d = tally.run("setup", w.setup, os.path.join(w.root, f"crawl-s{i}"))
        if ok:
            secs.append(time.perf_counter() - t0)
    return d, secs


def measure(w: Workload, seconds: float, setups: int, max_reps: int,
            tally: Tally) -> dict[str, list]:
    """Set up ``setups`` times, then run the cycle, each time from a fresh
    set-up, while another cycle as long as the last fits in ``seconds``
    (at least one, at most ``max_reps``).  Returns the samples."""
    s: dict[str, list] = {k: [] for k in (
        "cycle_s", "urls_per_s", "cpu_s", "bytes_written_mb")}
    d, s["setup_s"] = timed_setups(w, setups, tally)
    counts: set[tuple] = set()
    measured = 0.0
    for rep in range(1, max_reps + 1):
        if d is None:
            break
        b0 = dir_bytes(d.workdir)
        c0 = w.tree.cpu()["total"]
        st0 = steal_seconds()
        t0 = time.perf_counter()
        ok, m = tally.run("cycle", w.cycle, d)
        cycle_s = time.perf_counter() - t0
        steal = steal_seconds() - st0
        measured += cycle_s
        if ok:
            cpu = w.tree.cpu()["total"] - c0
            written = dir_bytes(d.workdir) - b0
            ok, _ = tally.run("frontier check", w.check_frontier, d, m)
        if ok:
            counts.add((m.generated, m.fetched, m.new_links))
            s["cycle_s"].append(cycle_s)
            s["urls_per_s"].append(m.generated / cycle_s)
            s["cpu_s"].append(cpu)
            s["bytes_written_mb"].append(written / 1e6)
            print(f"cycle {rep}: {cycle_s:.2f} s, generated {m.generated}, "
                  f"fetched {m.fetched}, new_links {m.new_links}, "
                  f"frontier_size {m.frontier_size}; steal {steal:.1f} "
                  f"CPU-s; phases {m.timings}",
                  flush=True)
        shutil.rmtree(d.workdir, ignore_errors=True)
        d = None
        if rep < max_reps and measured + cycle_s <= seconds:
            ok, d = tally.run("setup", w.setup,
                              os.path.join(w.root, f"crawl-r{rep}"))
    # the same seeded state must give the same cycle every time
    tally.run("determinism", check, len(counts) <= 1,
              f"generated/fetched/new_links differ across repetitions: "
              f"{sorted(counts)}")
    return s


def measure_reads(w: Workload, seconds: float, setups: int,
                  tally: Tally) -> dict[str, list]:
    """Set up ``setups`` times, then look the targets up in turn, each
    lookup on a fresh read of the committed crawldb as a ``readdb -url``
    process makes it.  The first ``WARM_LOOKUPS`` are untimed (they pay code
    generation); timed lookups follow until ``seconds`` have been measured
    (at least ``MIN_LOOKUPS``).  Returns the samples; ``cpu_s`` is the
    process tree's CPU time per timed lookup."""
    s: dict[str, list] = {k: [] for k in ("op_s", "cpu_s")}
    d, s["setup_s"] = timed_setups(w, setups, tally)
    if d is None:
        return s
    targets = w.lookup_targets(d.frontier.read(w.spark))

    def one(i: int) -> float:
        url, present = targets[i % len(targets)]
        t0 = time.perf_counter()
        ok, rows = tally.run("lookup", w.lookup, d.frontier.read(w.spark), url)
        dt = time.perf_counter() - t0
        if ok:
            ok, _ = tally.run("lookup check", w.check_lookup, rows, url,
                              present)
        if ok and i >= WARM_LOOKUPS:
            s["op_s"].append(dt)
        return dt

    for i in range(WARM_LOOKUPS):
        one(i)
    i, measured = WARM_LOOKUPS, 0.0
    c0 = w.tree.cpu()["total"]
    while measured < seconds or i - WARM_LOOKUPS < MIN_LOOKUPS:
        measured += one(i)
        i += 1
    s["cpu_s"].append((w.tree.cpu()["total"] - c0) / (i - WARM_LOOKUPS))
    print(f"{i - WARM_LOOKUPS} timed lookups in {measured:.2f} s", flush=True)
    return s
