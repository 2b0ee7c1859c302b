"""Seeded inputs for the crawl-epoch benchmark.

Every input the engine sees is generated here from ``(workload, seed)``:

- the calendar (``sources.synthetic.session_days_df``) and its simulated-web
  rows (``sources.synthetic.simulated_web``, the real codec mix), so the
  europarl.europa.eu session-day probe and doc lanes run in every epoch;
- a multi-host simulated web: ``hosts`` politeness domains, one content-store
  row per pre-seeded URL, payloads drawn from a pool of images encoded once
  per (fmt, size) with the repo's own encoders;
- the pre-seeded frontier, written with ``EpochStore.overwrite`` at epoch 0.
  Its rows carry doc-lane rule ids (never ``session_day``) and dates before
  the calendar, so the engine neither treats them as probes nor lets them
  shadow calendar doc combos;
- robots.txt rules for every ``ROBOTS_EVERY``-th host: ``/private/`` is
  disallowed, ``/private/open/`` allowed again (longest match wins).

Flaky (408/429/460/503) URLs sit on every ``FLAKY_EVERY``-th host only, so
most hosts keep their token bucket at the 100-per-epoch cap and the number
of URLs drained per epoch stays steady across seeds.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, timedelta

import numpy as np

CAL_START = date(2019, 7, 2)
PRE_START = date(2017, 1, 2)  # pre-seeded frontier dates: before any calendar
POOL = 12  # distinct encoded images per (fmt, size)
CALENDAR_DAYS = 5
ROBOTS_EVERY = 4  # hosts j with j % ROBOTS_EVERY == 1 serve ROBOTS_TXT
FLAKY_EVERY = 8  # hosts j with j % FLAKY_EVERY == 0 have flaky URLs
ROBOTS_TXT = "User-agent: *\nDisallow: /private/\nAllow: /private/open/\n"


@dataclass(frozen=True)
class Workload:
    name: str
    hosts: int
    urls: int  # pre-seeded frontier rows (one web row each)
    skewed: bool  # triangular host sizes instead of uniform
    fmts: tuple[str, ...]
    sizes: tuple[int, ...]


# Sizes: one epoch costs 20-30 s of mostly fixed Spark work on a 4-vCPU host,
# and a run must fit set-up x3, one epoch and the checks in about a minute.
# Each host holds 300+ URLs so the 100-per-epoch cap binds for 3 epochs.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="wide_drain",
            hosts=64,
            urls=64 * 300,
            skewed=False,
            fmts=("raw", "ppm", "qraw"),
            sizes=(8, 16, 32),
        ),
        Workload(
            name="deep_frontier",
            hosts=12,
            urls=16_000,
            skewed=True,
            # full codec mix, the raw family drawn twice as often
            fmts=("png", "jpeg", "webp", "gif", "raw", "ppm", "qraw", "raw", "ppm", "qraw"),
            sizes=(8,),
        ),
    )
}


def calendar(spark, wl: Workload, seed: int):
    from europarl_crawler_spark.sources.synthetic import session_days_df

    return session_days_df(
        spark, start=CAL_START + timedelta(days=seed % 97), n_days=CALENDAR_DAYS
    )


def robots_hosts(wl: Workload, seed: int) -> list[str]:
    return [f"s{seed}-h{j}.example.org" for j in range(wl.hosts) if j % ROBOTS_EVERY == 1]


def robots_frame(spark, wl: Workload, seed: int):
    """The robots dimension (columns of ``plans.robots.ROBOTS_SCHEMA``). Host
    hashes are one column expression over all hosts, not a job per host."""
    from pyspark.sql import functions as F

    from europarl_crawler_spark.plans.robots import parse_robots, pattern_regex

    rows = [
        (host, pat, pattern_regex(pat), allow)
        for host in robots_hosts(wl, seed)
        for pat, allow in parse_robots(ROBOTS_TXT)
    ]
    df = spark.createDataFrame(rows, "host string, pattern string, regex string, allow boolean")
    return df.select(
        F.xxhash64("host").alias("host_hash"), "host", "pattern", "regex", "allow"
    )


def _pool_rows(wl: Workload, seed: int) -> list[tuple]:
    """(fmt_i, size_i, pool_i, bytes, w, h, fmt) for every pool image."""
    from europarl_crawler_spark.functions import imaging

    rng = np.random.Generator(np.random.Philox(key=seed))
    rows = []
    for fi, fmt in enumerate(wl.fmts):
        for si, px_n in enumerate(wl.sizes):
            for k in range(POOL):
                px = rng.integers(0, 256, size=(px_n, px_n, 3), dtype=np.uint8)
                rows.append((fi, si, k, imaging.encode(px, fmt), px_n, px_n, fmt))
    return rows


def url_rows(spark, wl: Workload, seed: int):
    """One row per pre-seeded URL: host index, path, url + engine hashes."""
    from pyspark.sql import functions as F

    from europarl_crawler_spark.functions.urlkit import (
        host_hash_expr,
        salt_expr,
        url_hash_expr,
    )

    ids = spark.range(wl.urls, numPartitions=8)
    if wl.skewed:
        # triangular sizes: host j owns ~ (j + 1) / T of the rows
        tri = wl.hosts * (wl.hosts + 1) // 2
        r = F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(tri))
        host = F.floor((F.sqrt(r * 8 + 1) - 1) / 2).cast("int")
    else:
        host = (F.col("id") % wl.hosts).cast("int")
    slot = F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(8))
    path = (
        F.when(slot == 3, F.concat(F.lit("/private/"), F.col("id").cast("string"), F.lit(".bin")))
        .when(slot == 5, F.concat(F.lit("/private/open/"), F.col("id").cast("string"), F.lit(".bin")))
        .otherwise(F.concat(F.lit("/img/"), F.col("id").cast("string"), F.lit(".bin")))
    )
    url = F.concat(
        F.lit(f"https://s{seed}-h"), F.col("host").cast("string"), F.lit(".example.org"), F.col("path")
    )
    return (
        ids.select("id", host.alias("host"), path.alias("path"))
        .withColumn("url", url)
        .select(
            "id",
            "host",
            "url",
            url_hash_expr("url").alias("url_hash"),
            host_hash_expr("url").alias("host_hash"),
            salt_expr("url").cast("int").alias("salt"),
        )
    )


def host_web(spark, wl: Workload, seed: int, u):
    """Content-store rows (columns of ``sources.schema.WEB``) of the
    pre-seeded URLs ``u`` (``url_rows``)."""
    from pyspark.sql import functions as F

    pool = spark.createDataFrame(
        _pool_rows(wl, seed),
        "fi int, si int, pk int, bytes binary, w int, h int, fmt string",
    )
    uh = F.col("url_hash")
    kind = (
        F.when(F.pmod(uh, F.lit(11)) == 0, F.lit("missing"))
        .when(
            (F.col("host") % FLAKY_EVERY == 0) & (F.pmod(uh, F.lit(13)) == 0),
            F.lit("flaky"),
        )
        .when(F.pmod(uh, F.lit(17)) == 0, F.lit("redirect"))
        .otherwise(F.lit("ok"))
    )
    keyed = u.select(
        "id",
        "url",
        "url_hash",
        kind.alias("kind"),
        F.pmod(F.xxhash64(uh, F.lit(7)), F.lit(len(wl.fmts))).cast("int").alias("fi"),
        F.pmod(F.xxhash64(uh, F.lit(11)), F.lit(len(wl.sizes))).cast("int").alias("si"),
        F.pmod(F.xxhash64(uh, F.lit(13)), F.lit(POOL)).cast("int").alias("pk"),
    )
    j = keyed.join(F.broadcast(pool), ["fi", "si", "pk"])
    has = F.col("kind") != "missing"
    return j.select(
        "url_hash",
        "url",
        "kind",
        F.when(has, F.col("bytes")).alias("bytes"),
        F.when(has, F.col("w")).alias("w"),
        F.when(has, F.col("h")).alias("h"),
        F.when(has, F.col("fmt")).alias("fmt"),
        F.when(has, F.concat(F.lit(f"s{seed} doc "), F.col("id").cast("string"))).alias("caption"),
        F.when(F.col("kind") == "redirect", F.concat("url", F.lit("?location=archive")))
        .otherwise(F.col("url"))
        .alias("final_url"),
    )


def seed_frontier(u):
    """``sources.schema.FRONTIER`` columns for the pre-seeded URLs ``u``: doc-lane
    rule ids 2..19, dates before the calendar, created at epoch 0."""
    from pyspark.sql import functions as F

    from europarl_crawler_spark.plans.frontier import doc_priority_expr

    dates = F.date_add(F.lit(PRE_START), F.pmod(F.col("id"), F.lit(300)).cast("int"))
    return (
        u.withColumn("rule_id", (F.pmod(F.col("id"), F.lit(18)) + 2).cast("int"))
        .withColumn("dates", dates)
        .select(
            F.xxhash64("rule_id", "url").alias("url_id"),
            F.xxhash64("dates").alias("date_id"),
            "rule_id",
            "dates",
            "url",
            "url_hash",
            "host_hash",
            "salt",
            doc_priority_expr("dates", "rule_id").cast("long").alias("priority"),
            F.lit(0).alias("created_epoch"),
        )
    )


def disallowed_expr(seed: int, wl: Workload):
    """Independent robots oracle over a ``url`` column: a robots host and a
    ``/private/`` path outside ``/private/open/``."""
    from pyspark.sql import functions as F

    hosts = [f"https://{h}/" for h in robots_hosts(wl, seed)]
    on_host = F.lit(False)
    for h in hosts:
        on_host = on_host | F.col("url").startswith(h + "private/")
    open_ = F.lit(False)
    for h in hosts:
        open_ = open_ | F.col("url").startswith(h + "private/open/")
    return on_host & ~open_
