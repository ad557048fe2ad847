"""Seeded inputs and workload shapes.

Every input is a pure function of the workload seed.  The frontier is
synthesized JVM-side (``spark.range`` plus hash arithmetic, no Python
worker) and handed to the seed snapshot write of each set-up; the cycle
and the reads only ever see the parquet that write commits.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coherencebot_spark.config import DEFAULT, CrawlConfig
from coherencebot_spark.status import Db

T0 = 1_700_000_000_000          # epoch-ms origin of every synthetic clock
CYCLE_TIME = T0 + 1000          # cur_time of the measured cycle
HOST_BUCKETS = 32
DAY_MS = 86_400_000


@dataclass(frozen=True)
class Shape:
    """One workload's input shape and crawl posture."""

    name: str
    frontier_rows: int
    hosts: int
    # due rows confined to the first N of HOST_BUCKETS host buckets
    # (None: ``due_pct`` percent of rows due, spread over every bucket)
    due_buckets: int | None
    due_pct: int
    cfg: CrawlConfig
    bucketed: bool
    # "all_success": every fetch succeeds, no redirects (touched buckets ==
    # due buckets); "world": the synthetic world's outcome mix
    protocol: str
    # MERGE commits stacked on the seed snapshot at set-up (0: none)
    chain: int = 0
    lookups: int = 20
    absent_lookups: int = 5
    topn_read: int = 100

    @property
    def reads_only(self) -> bool:
        """The workload reads the crawldb instead of running a cycle."""
        return self.chain > 0

    def scaled(self, factor: float) -> "Shape":
        """Same posture at ``factor`` times the rows (the benchmark's own
        tests run a small copy of each workload)."""
        return replace(
            self,
            frontier_rows=max(int(self.frontier_rows * factor), 2000),
            hosts=max(int(self.hosts * factor), 100),
            cfg=self.cfg.with_(topn=max(int(self.cfg.topn * factor), 200)),
            lookups=max(int(self.lookups * factor), 10),
            absent_lookups=max(int(self.absent_lookups * factor), 2),
        )


_BASE = DEFAULT.with_(
    num_partitions=4,             # one fetch list per core at local[4]
    server_delay_ms=100,          # politeness scaled so the virtual clock
    time_limit_ms=3_600_000_000,  # never starves the cycle
    host_buckets=HOST_BUCKETS,
    broadcast_small_sides=True,   # the documented production posture
    use_url_seen=True,
    additions_allowed=True,
)

SHAPES: dict[str, Shape] = {
    s.name: s for s in (
        # production posture: a bucketed MERGE cycle touching 2 of 32
        # host buckets, every fetch succeeds, links stay in their host
        Shape(
            name="merge_cycle", frontier_rows=15_000, hosts=750,
            due_buckets=2, due_pct=100,
            cfg=_BASE.with_(topn=15_000, max_count=200,
                            ignore_external_links=True),
            bucketed=True, protocol="all_success"),
        # the full rewrite every compaction pays: 80% of rows due over
        # every bucket, a small fetchlist, the world's outcome mix and
        # external links
        Shape(
            name="full_cycle", frontier_rows=45_000, hosts=1_200,
            due_buckets=None, due_pct=80,
            cfg=_BASE.with_(topn=800, max_count=50),
            bucketed=False, protocol="world"),
        # operator reads of a frontier carrying 3 MERGE snapshots on its
        # seed snapshot; no crawl runs
        Shape(
            name="crawldb_read", frontier_rows=15_000, hosts=750,
            due_buckets=None, due_pct=80,
            cfg=_BASE.with_(topn=800, max_count=50, use_url_seen=False),
            bucketed=True, protocol="world", chain=3, lookups=10,
            absent_lookups=2),
    )
}

# how far each MERGE commit of the read chain moves its rows' fetch_time
CHAIN_SHIFT_MS = 3_600_000


def _h(col: str, seed: int, k: int):
    """Non-negative 63-bit hash of ``col`` under stream ``k`` of ``seed``."""
    return F.abs(F.xxhash64(F.col(col), F.lit(int(seed) * 16 + k)))


def host_bucket(host):
    """The frontier's storage bucket of a host (``CrawlDriver._with_bucket``)."""
    return F.pmod(F.xxhash64(host), F.lit(HOST_BUCKETS))


def frontier_df(spark: SparkSession, shape: Shape, seed: int) -> DataFrame:
    """A FRONTIER-schema frame of ``shape.frontier_rows`` rows.

    Host names follow the synthetic world (``hostNNNN.example.org``) so that
    parse's in-host links land on frontier hosts.  With ``due_buckets`` set,
    rows outside the due buckets sit strictly more than an hour in the
    future: a stray due row would pull its whole bucket into the merge."""
    df = spark.range(shape.frontier_rows).select(
        F.col("id"),
        (_h("id", seed, 1) % shape.hosts).alias("h"),
        _h("id", seed, 2).alias("r1"),
        _h("id", seed, 3).alias("r2"),
    )
    host = F.concat(F.lit("host"), F.lpad(F.col("h").cast("string"), 4, "0"),
                    F.lit(".example.org"))
    url = F.concat(F.lit("https://"), host, F.lit("/page/"),
                   F.col("id").cast("string"))
    status = F.when(F.col("r1") % 100 < 70, F.lit(int(Db.UNFETCHED))) \
        .otherwise(F.lit(int(Db.FETCHED)))
    if shape.due_buckets is not None:
        due = host_bucket(host) < shape.due_buckets
        not_due = F.lit(T0 + 3_600_000) + F.col("r2") % DAY_MS
    else:
        due = F.col("r2") % 100 < shape.due_pct
        not_due = F.lit(CYCLE_TIME + 1) + F.col("r2") % DAY_MS
    fetch_time = F.when(due, F.lit(T0) - F.col("r2") % DAY_MS) \
        .otherwise(not_due)
    return df.select(
        url.alias("url"),
        host.alias("host"),
        status.cast("int").alias("status"),
        fetch_time.cast("long").alias("fetch_time"),
        F.lit(0).alias("retries"),
        F.lit(2_592_000).cast("long").alias("fetch_interval"),
        ((F.col("r1") % 10_000) / 100.0).cast("float").alias("score"),
        F.when(status == int(Db.FETCHED), F.unhex(F.md5(url))).alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )


def absent_urls(shape: Shape, seed: int) -> list[str]:
    """URLs on frontier hosts under a path no synthesized row uses."""
    import random

    rng = random.Random(seed)
    return [f"https://host{rng.randrange(shape.hosts):04d}.example.org"
            f"/absent/{i}" for i in range(shape.absent_lookups)]


def all_success_backend(urls):
    """Protocol backend of the merge workload: every URL succeeds and no
    redirect leaves its host, so the touched buckets are the due buckets."""
    import numpy as np
    import pandas as pd

    from coherencebot_spark.status import Proto
    from coherencebot_spark.synth.world import fnv1a64

    h = fnv1a64(urls)
    return pd.DataFrame({
        "proto_status": np.full(len(urls), Proto.SUCCESS, dtype=np.int32),
        "redirect_to": [None] * len(urls),
        "image_idx": (h % np.uint64(1_000_000)).astype(np.int64),
    }, index=urls.index)


def fetch_kwargs(shape: Shape) -> dict:
    """Keyword arguments for ``operators.fetch.fetch`` / ``CrawlDriver``."""
    kw = {"n_hosts": shape.hosts, "payload_partitions": 4}
    if shape.protocol == "all_success":
        kw["backend"] = all_success_backend
    return kw
