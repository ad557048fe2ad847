"""The traced run: the workload attributed to its layers.

One Spark session, with the event log on.  A cycle workload runs steps 1
and 2, the read workload step 3:

1. From a seeded state, ``CrawlDriver.run_cycle`` runs as in the untraced
   run, under the job group ``cycle``.  This gives the ``cycle.*`` metrics:
   ``CycleMetrics.timings``, the jobs/stages/tasks counted by
   ``statusTracker`` and the JVM/Python CPU split read from ``/proc``.
2. From a second seeded state, the same cycle is replayed one layer at a
   time, in the driver's order, with a span around each layer call.  Each
   layer's output is persisted and counted inside its span, so Spark's
   lazy evaluation cannot move a layer's work into a later span.  The
   replay must commit the same crawl as step 1 (checked).
3. The committed crawldb (the seed snapshot and its MERGE chain) is read
   as an operator reads it, one span per read.

Counts that the metrics need but the cycle does not (false-positive rate,
duplicates marked, table sizes) are taken after the cycle span closes.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from coherencebot_spark.operators.dedup import dedup_by_phash
from coherencebot_spark.operators.fetch import fetch
from coherencebot_spark.operators.generate import generate
from coherencebot_spark.operators.parse import parse, redirect_link_rows
from coherencebot_spark.operators.updatedb import updatedb
from coherencebot_spark.schemas import FETCH_LOG, FRONTIER, empty_df
from coherencebot_spark.status import Db, Fetch, Msg

from . import inputs
from .inputs import CYCLE_TIME, SHAPES
from .procfs import count_files, dir_bytes
from .trace import Tracer, job_counts, shuffle_bytes_by_group
from .workloads import CYCLE_ID, Tally, Workload, check

# CycleMetrics.timings phases reported as cycle.<phase>_s.  A phase the
# cycle does not run (touched_buckets in a full rewrite) reports 0.
PHASES = ("segment", "touched_buckets", "metrics", "url_seen_refresh",
          "frontier_commit", "linkdb", "hostdb")


def chain(table) -> list[dict]:
    """The snapshots a read of ``table``'s current snapshot resolves, newest
    first, each with the buckets it contributes (None: all remaining)."""
    hist = {s["id"]: s for s in table.history()}
    out, seen = [], set()
    sid = table.current_id()
    while sid is not None:
        s = hist[sid]
        merge = s.get("merge")
        own = None if merge is None else set(merge["touched"]) - seen
        out.append({"dir": s["dir"], "buckets": own, "exclude": set(seen)})
        if merge is None:
            break
        seen |= set(merge["touched"])
        sid = s["parent"]
    return out


def chain_files(table) -> int:
    """Parquet files a full read of the current snapshot scans."""
    n = 0
    for link in chain(table):
        root = os.path.join(table.path, "snapshots", link["dir"])
        for b in os.listdir(root):
            if not b.startswith("bucket="):
                continue
            k = int(b.split("=", 1)[1])
            wanted = (k in link["buckets"] if link["buckets"] is not None
                      else k not in link["exclude"])
            if wanted:
                n += count_files(os.path.join(root, b))
    return n


class Replay:
    """One cycle, layer by layer, mirroring ``CrawlDriver.run_cycle``."""

    def __init__(self, w: Workload, d, tr: Tracer):
        self.w, self.d, self.tr = w, d, tr
        self.spark = w.spark
        self.cfg = w.shape.cfg
        self.held: list = []
        self.out: dict = {}

    def hold(self, df):
        df = df.persist()
        self.held.append(df)
        return df

    def _write(self, table_path: str, fn) -> None:
        """A snapshot write, with the bytes and files it adds."""
        b0, f0 = dir_bytes(table_path), count_files(table_path)
        fn()
        self.out["snapshot_bytes"] = self.out.get("snapshot_bytes", 0) + \
            dir_bytes(table_path) - b0
        self.out["snapshot_files"] = self.out.get("snapshot_files", 0) + \
            count_files(table_path) - f0

    def cycle(self) -> None:
        d, cfg, tr, spark = self.d, self.cfg, self.tr, self.spark
        t = CYCLE_TIME
        check(not cfg.use_url_seen or cfg.additions_allowed,
              "the replay covers URL-seen with additions allowed only")
        check(not cfg.dedup_phash_meta and not cfg.generate_update_crawldb
              and cfg.redirect_max == 0,
              "the replay does not cover this configuration")
        use_merge = d.bucketed and d.frontier.exists()
        parent = d.frontier.history()[-1]["metrics"]["frontier_size"]
        frontier_all = d.frontier.read(spark)
        frontier = frontier_all.drop("bucket")

        with tr.span("generate"):
            fl = self.hold(generate(frontier, t, cfg,
                                    broadcast_select=cfg.broadcast_small_sides))
            self.out["generate_rows_out"] = fl.count()
        seg_cache: list = []
        with tr.span("fetch.log"):
            log, content = fetch(fl, t, cfg, cache=seg_cache,
                                 **inputs.fetch_kwargs(self.w.shape))
            log = self.hold(log)
            log.count()
        with tr.span("fetch.content"):
            content = self.hold(content)
            content.count()
        with tr.span("snapshot.write"):
            self._write(d.fetch_log.path,
                        lambda: d.fetch_log.write(log, cycle_id=CYCLE_ID))
            self._write(d.content.path,
                        lambda: d.content.write(content, cycle_id=CYCLE_ID))
        self.seg_log = log
        log = d.fetch_log.read(spark)
        content = d.content.read(spark)

        with tr.span("parse"):
            parse_cache: list = []
            po_raw = self.hold(parse(log, content, cfg, cache=parse_cache)
                               .unionByName(redirect_link_rows(log)))
            self.out["parse_rows_out"] = po_raw.count()
        self.held += parse_cache

        parse_out, seen_new, probed = po_raw, None, None
        if cfg.use_url_seen:
            with tr.span("seen.probe"):
                rest, probed = d._probe_seen(po_raw)
                probed = self.hold(probed)
                probed.count()
                parse_out = rest.unionByName(
                    probed.filter(F.col("maybe_seen")).drop("maybe_seen"))
                seen_new = self.hold(
                    probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
                    .join(log.select("url"), "url", "left_anti"))
                seen_new.count()
        po_updatedb = (parse_out if seen_new is None
                       else parse_out.unionByName(seen_new))

        touched: list[int] = []
        if use_merge:
            with tr.span("touched_buckets"):
                hosts = (log.select("host")
                         .unionByName(po_updatedb.select("host"))
                         .filter(F.col("host").isNotNull()).distinct()
                         .select(inputs.host_bucket(F.col("host")).alias("b"))
                         .distinct())
                touched = [r["b"] for r in hosts.collect()]
            frontier = frontier_all.filter(
                F.col("bucket").isin(touched)).drop("bucket")

        with tr.span("updatedb"):
            upd_cache: list = []
            nf = updatedb(frontier, log, parse_out, t, cfg,
                          broadcast_delta=cfg.broadcast_small_sides,
                          cache=upd_cache)
            if seen_new is not None:
                nf = nf.unionByName(updatedb(
                    empty_df(spark, FRONTIER), empty_df(spark, FETCH_LOG),
                    seen_new, t, cfg))
            nf = self.hold(nf)
            self.out["updatedb_rows_out"] = nf.count()
        self.held += upd_cache

        with tr.span("dedup"):
            nf2 = self.hold(dedup_by_phash(
                nf, content, cfg, broadcast_content=cfg.broadcast_small_sides))
            nf2.count()

        with tr.span("metrics"):
            log.withColumn("p", F.spark_partition_id()) \
                .groupBy("p", "status").count().collect()
            linked = (po_raw.filter(F.col("status") == int(Msg.LINKED))
                      .select("url").distinct().persist())
            n_linked = linked.count()
            n_present = (frontier.select("url")
                         .join(F.broadcast(linked), "url", "left_semi").count())
            linked.unpersist()
            self.out["new_links"] = n_linked - n_present

        if cfg.use_url_seen:
            with tr.span("seen.build"):
                d._refresh_seen_blooms(touched if use_merge else None,
                                       frontier_df=d._with_bucket(nf2))

        with tr.span("snapshot.write"):
            if use_merge:
                size = parent - frontier.count() + nf2.count()
                self._write(d.frontier.path, lambda: d.frontier.merge_write(
                    d._with_bucket(nf2), touched, cycle_id=CYCLE_ID,
                    metrics={"frontier_size": size},
                    sort_within=["bucket", "fetch_time"],
                    distribute_by=["bucket"]))
            else:
                size = nf2.count()
                self._write(d.frontier.path, lambda: d._write_frontier(
                    nf2, cycle_id=CYCLE_ID, metrics={"frontier_size": size}))
            self.out["frontier_size"] = size

        with tr.span("linkdb"):
            d._update_linkdb(po_raw, CYCLE_ID, use_merge)
        with tr.span("hostdb"):
            d._update_hostdb(CYCLE_ID)

        self.frames = {"log": self.seg_log, "probed": probed, "nf": nf,
                       "nf2": nf2, "frontier": frontier, "parse_out": po_updatedb}

    def counts(self) -> dict:
        """Counts taken after the cycle span: rows in and out, the URL-seen
        false-positive rate against an exact join, duplicates marked."""
        f, d, spark = self.frames, self.d, self.spark
        log = f["log"]
        by = {r["status"]: r["count"]
              for r in log.groupBy("status").count().collect()}
        rows = sum(by.values())
        c = {"fetch_rows": rows,
             "fetch_success": by.get(int(Fetch.SUCCESS), 0),
             "updatedb_rows_in": f["frontier"].count() + rows
             + f["parse_out"].count()}
        if f["probed"] is not None:
            truth = (f["probed"].join(
                self.w.seed_rows().select(
                    "url", F.lit(True).alias("present")), "url", "left")
                .groupBy("maybe_seen", F.col("present").isNotNull()
                         .alias("present")).count().collect())
            t = {(r["maybe_seen"], r["present"]): r["count"] for r in truth}
            absent = t.get((True, False), 0) + t.get((False, False), 0)
            c["seen_false_negatives"] = t.get((False, True), 0)
            c["seen_fp_rate"] = t.get((True, False), 0) / max(absent, 1)
            c["seen_definitely_new_ratio"] = \
                t.get((False, False), 0) / max(sum(t.values()), 1)
        dup = int(Db.DUPLICATE)
        c["dedup_dups"] = (f["nf2"].filter(F.col("status") == dup).count()
                           - f["nf"].filter(F.col("status") == dup).count())
        c["linkdb_rows_out"] = _rows(d.linkdb, spark)
        c["hostdb_rows_out"] = _rows(d.hostdb, spark)
        return c

    def release(self) -> None:
        for df in self.held:
            df.unpersist()


# every per-layer metric and its unit; a layer the workload does not run
# reports 0 (the read workload runs no cycle, a cycle workload no reads)
METRICS = {
    **{f"cycle.{p}_s": "s" for p in PHASES},
    "cycle.jobs": "count", "cycle.stages": "count", "cycle.tasks": "count",
    "cycle.failed_tasks": "count", "cycle.jvm_cpu_s": "s",
    "cycle.python_cpu_s": "s",
    "generate.s": "s", "generate.rows_in": "count",
    "generate.rows_out": "count", "generate.tasks": "count",
    "generate.shuffle_mb": "MB", "generate.dry_s": "s",
    "fetch.log_s": "s", "fetch.content_s": "s", "fetch.rows": "count",
    "fetch.success_ratio": "ratio", "fetch.tasks": "count",
    "fetch.shuffle_mb": "MB",
    "parse.s": "s", "parse.rows_out": "count", "parse.tasks": "count",
    "seen.build_s": "s", "seen.probe_s": "s", "seen.fp_rate": "ratio",
    "seen.definitely_new_ratio": "ratio",
    "updatedb.s": "s", "updatedb.rows_in": "count",
    "updatedb.rows_out": "count", "updatedb.tasks": "count",
    "updatedb.shuffle_mb": "MB",
    "dedup.s": "s", "dedup.dups": "count", "dedup.tasks": "count",
    "dedup.shuffle_mb": "MB",
    "linkdb.s": "s", "linkdb.rows_out": "count",
    "hostdb.s": "s", "hostdb.rows_out": "count",
    "snapshot.write_s": "s", "snapshot.bytes_written_mb": "MB",
    "snapshot.files_written": "count", "snapshot.read_s": "s",
    "snapshot.files_read": "count", "snapshot.chain_len": "count",
    "readdb.stats_s": "s", "readdb.topn_s": "s", "readdb.lookup_ms": "ms",
    "trace.op_s": "s", "trace.unattributed_s": "s", "trace.overhead_s": "s",
}
MB = 1e6
# job groups whose tasks and shuffle bytes the cycle metrics report
GROUPS = ("generate", "fetch.log", "fetch.content", "parse", "updatedb",
          "dedup")


def trace_cycle(w: Workload, tr: Tracer, tally: Tally, stamp) -> dict:
    """Steps 1 and 2: the driver's cycle, then its layer-by-layer replay
    under the root span ``cycle``.  Returns the values of the metrics,
    the untraced cycle's wall time and the replay's job counts."""
    spark, root = w.spark, w.root
    # 1. the driver's cycle, under one job group
    ok, d = tally.run("setup", w.setup, os.path.join(root, "crawl-a"))
    check(ok, "set-up failed")
    spark.sparkContext.setJobGroup("cycle", "cycle", False)
    c0 = w.tree.cpu()
    t0 = time.perf_counter()
    ok, m = tally.run("cycle", w.cycle, d)
    cycle_wall = time.perf_counter() - t0
    c1 = w.tree.cpu()
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    check(ok, "cycle failed")
    tally.run("frontier check", w.check_frontier, d, m)
    cyc = job_counts(spark, "cycle")
    stamp(f"driver cycle done ({cycle_wall:.1f} s)")

    # 2. the same cycle, layer by layer
    ok, d2 = tally.run("setup", w.setup, os.path.join(root, "crawl-b"))
    check(ok, "set-up failed")
    rp = Replay(w, d2, tr)
    with tr.span("cycle"):
        ok, _ = tally.run("traced cycle", rp.cycle)
    check(ok, "traced cycle failed")
    cnt = rp.counts()
    tally.run("replay equals cycle", check,
              (rp.out["generate_rows_out"], cnt["fetch_success"],
               rp.out["new_links"], rp.out["frontier_size"])
              == (m.generated, m.fetched, m.new_links, m.frontier_size),
              f"replay {rp.out} differs from cycle {m.as_dict()}")
    tally.run("url-seen has no false negatives", check,
              cnt.get("seen_false_negatives", 0) == 0,
              f"{cnt.get('seen_false_negatives')} false negatives")
    rp.release()
    stamp("traced cycle done")

    v = {f"cycle.{p}_s": m.timings.get(p, 0.0) for p in PHASES}
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        v[f"cycle.{k}"] = cyc[k]
    v["cycle.jvm_cpu_s"] = c1["jvm"] - c0["jvm"]
    v["cycle.python_cpu_s"] = c1["python"] - c0["python"]
    v.update({
        "generate.s": tr.seconds("generate"),
        "generate.rows_in": w.shape.frontier_rows,
        "generate.rows_out": rp.out["generate_rows_out"],
        "fetch.log_s": tr.seconds("fetch.log"),
        "fetch.content_s": tr.seconds("fetch.content"),
        "fetch.rows": cnt["fetch_rows"],
        "fetch.success_ratio": cnt["fetch_success"] / max(cnt["fetch_rows"], 1),
        "parse.s": tr.seconds("parse"),
        "parse.rows_out": rp.out["parse_rows_out"],
        "seen.build_s": tr.seconds("seen.build"),
        "seen.probe_s": tr.seconds("seen.probe"),
        "seen.fp_rate": cnt.get("seen_fp_rate", 0.0),
        "seen.definitely_new_ratio": cnt.get("seen_definitely_new_ratio", 0.0),
        "updatedb.s": tr.seconds("updatedb"),
        "updatedb.rows_in": cnt["updatedb_rows_in"],
        "updatedb.rows_out": rp.out["updatedb_rows_out"],
        "dedup.s": tr.seconds("dedup"),
        "dedup.dups": cnt["dedup_dups"],
        "linkdb.s": tr.seconds("linkdb"),
        "linkdb.rows_out": cnt["linkdb_rows_out"],
        "hostdb.s": tr.seconds("hostdb"),
        "hostdb.rows_out": cnt["hostdb_rows_out"],
        "snapshot.write_s": tr.seconds("snapshot.write"),
        "snapshot.bytes_written_mb": rp.out["snapshot_bytes"] / MB,
        "snapshot.files_written": rp.out["snapshot_files"],
    })
    return {"values": v, "root": "cycle", "untraced_s": cycle_wall,
            "groups": {g: job_counts(spark, g) for g in GROUPS}}


def untimed(name: str):
    """The span of an untraced read round."""
    return nullcontext()


def trace_reads(w: Workload, tr: Tracer, tally: Tally, stamp) -> dict:
    """Step 3: the read rounds of the committed crawldb.  A first round
    warms the session up, a second one is timed untraced and a third one
    runs under the root span ``reads``, one span per read."""
    ok, d = tally.run("setup", w.setup, os.path.join(w.root, "crawl-r"))
    check(ok, "set-up failed")
    targets = w.lookup_targets(d.frontier.read(w.spark))
    tally.run("read round", w.read_round, d, targets, tally, untimed)
    t0 = time.perf_counter()
    tally.run("read round", w.read_round, d, targets, tally, untimed)
    untraced_s = time.perf_counter() - t0
    stamp(f"untraced read rounds done ({untraced_s:.1f} s)")
    with tr.span("reads"):
        tally.run("traced read round", w.read_round, d, targets, tally,
                  tr.span)
    stamp("traced read round done")
    v = {
        "generate.dry_s": tr.seconds("generate.dry"),
        "snapshot.read_s": tr.seconds("snapshot.read"),
        "snapshot.files_read": chain_files(d.frontier),
        "snapshot.chain_len": len(chain(d.frontier)),
        "readdb.stats_s": tr.seconds("readdb.stats"),
        "readdb.topn_s": tr.seconds("readdb.topn"),
        "readdb.lookup_ms": statistics.median(
            s.seconds for s in tr.named("readdb.lookup")) * 1e3,
    }
    return {"values": v, "root": "reads", "untraced_s": untraced_s,
            "groups": {}}


def traced(workload: str, seed: int, root: str) -> tuple[Tally, dict]:
    from crawlbench.run import WORK, session

    shape = SHAPES[workload]
    tally = Tally()
    t_run = time.perf_counter()

    def stamp(what: str) -> None:
        print(f"[{time.perf_counter() - t_run:7.1f} s] {what}", flush=True)

    events = os.path.join(root, "events")
    spark = session(f"crawlbench-trace-{workload}", event_log_dir=events)
    try:
        w = Workload(spark, shape, seed, root)
        tr = Tracer(spark, w.tree)
        out = (trace_reads if shape.reads_only else trace_cycle)(
            w, tr, tally, stamp)
    finally:
        spark.stop()
    shuffle = shuffle_bytes_by_group(events)
    os.makedirs(WORK, exist_ok=True)
    tr.dump(os.path.join(WORK, f"spans-{workload}-{seed}.jsonl"))
    for line in tr.tree_lines():
        print(line, flush=True)

    v = out["values"]
    g = out["groups"]
    if g:
        for name in ("generate", "parse", "updatedb", "dedup"):
            v[f"{name}.tasks"] = g[name]["tasks"]
        v["fetch.tasks"] = g["fetch.log"]["tasks"] + g["fetch.content"]["tasks"]
        for name in ("generate", "updatedb", "dedup"):
            v[f"{name}.shuffle_mb"] = shuffle.get(name, 0) / MB
        v["fetch.shuffle_mb"] = (shuffle.get("fetch.log", 0)
                                 + shuffle.get("fetch.content", 0)) / MB
    root_span = tr.named(out["root"])[0]
    layer_self = sum(tr.self_seconds(s) for s in tr.spans
                     if s.parent == root_span.id)
    v["trace.op_s"] = root_span.seconds
    v["trace.unattributed_s"] = tr.self_seconds(root_span)
    v["trace.overhead_s"] = root_span.seconds - out["untraced_s"]
    print(f"untraced {out['root']} {out['untraced_s']:.3f} s; traced "
          f"{root_span.seconds:.3f} s = layer self times {layer_self:.3f} s "
          f"(unattributed {tr.self_seconds(root_span):.3f} s)", flush=True)
    met = {k: {"value": float(v.get(k, 0.0)), "unit": u}
           for k, u in METRICS.items()}
    return tally, met


def _rows(table, spark) -> int:
    """Rows of a table's current snapshot (0 when its write had no rows:
    an empty parquet directory has no schema to read)."""
    try:
        return table.read(spark).count()
    except AnalysisException:
        return 0
