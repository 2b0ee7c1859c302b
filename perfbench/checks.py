"""Output checks, the output digest and the two probes of a benchmark run.

Each check returns the crawl epochs it implicates, so a failed check fails
exactly the epochs whose output is wrong.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import sys
import time
from functools import reduce

SAMPLE = 48  # documents re-decoded by the phash/caption check
KERNEL_SAMPLE = 32  # payloads per fmt timed by the kernel probe
KERNEL_FMTS = ("raw", "ppm", "qraw", "png", "jpeg", "gif", "webp")


def output_checks(spark, store, web, wl, seed, epoch_secs, last_epoch) -> dict:
    """name -> set of failing epochs (empty set = check passed)."""
    from pyspark.sql import functions as F

    from europarl_crawler_spark.functions import imaging
    from europarl_crawler_spark.plans.politeness import budget_audit

    from workloads import disallowed_expr

    requests = store.read("requests", spark).drop("_epoch", "_deleted")
    docs = store.read("documents", spark).drop("_epoch", "_deleted")
    bad = []

    def failing(name, df):
        bad.append(df.select(F.lit(name).alias("check"), F.col("epoch").cast("int")))

    # 1. no (epoch, host) group exceeds the budget in force for that epoch
    snaps = [
        store.read("politeness", spark, as_of=e)
        .select("host_hash", "interval_secs")
        .withColumn("epoch", F.lit(e).cast("long"))
        for e in range(1, last_epoch + 1)
    ]
    hist = reduce(lambda a, b: a.unionByName(b), snaps)
    failing("budget_audit", budget_audit(requests, hist, epoch_secs=epoch_secs))

    # 2. no robots-disallowed URL was requested
    frontier = store.read("frontier", spark).select("url_id", "url")
    failing("robots", requests.join(frontier, "url_id").filter(disallowed_expr(seed, wl)))

    # 3. (url_id, epoch) is the request log's key
    failing(
        "request_key_unique",
        requests.groupBy("url_id", "epoch").count().filter(F.col("count") > 1),
    )

    # 4. every 200 whose URL has a payload has exactly one document
    payload = web.filter(F.col("bytes").isNotNull()).select(
        "url_hash", F.lower(F.hex(F.xxhash64("url"))).alias("image_id")
    )
    ok = (
        requests.filter(F.col("status_code") == 200)
        .groupBy("url_hash")
        .agg(F.min("epoch").alias("epoch"))
        .join(payload, "url_hash")
    )
    per_doc = docs.groupBy("image_id").count()
    failing(
        "one_doc_per_ok",
        ok.join(per_doc, "image_id", "left").filter(F.coalesce(F.col("count"), F.lit(0)) != 1),
    )

    out: dict[str, set[int]] = {
        name: set()
        for name in ("budget_audit", "robots", "request_key_unique", "one_doc_per_ok")
    }
    for r in reduce(lambda a, b: a.unionByName(b), bad).distinct().limit(1000).collect():
        out[r["check"]].add(int(r["epoch"]))

    # 5. a fixed sample re-decoded: phash and caption match the web
    sample = (
        docs.select("image_id", "bytes", "w", "h", "fmt", "phash", "caption", "epoch")
        .orderBy("image_id")
        .limit(SAMPLE)
        .join(
            web.select(
                F.lower(F.hex(F.xxhash64("url"))).alias("image_id"),
                F.col("caption").alias("web_caption"),
                F.col("bytes").alias("web_bytes"),
            ),
            "image_id",
            "left",
        )
        .collect()
    )
    out["phash_caption_sample"] = {
        int(r["epoch"])
        for r in sample
        if r["phash"] != imaging.phash64(imaging.decode(bytes(r["bytes"]), r["w"], r["h"], r["fmt"]))
        or r["caption"] != r["web_caption"]
        or r["bytes"] != r["web_bytes"]
    }
    if not sample:
        out["phash_caption_sample"].add(last_epoch)
    return out


def digest(spark, store, upto_epoch: int) -> str:
    """Order-free digest of requests (url_id, epoch, drain_seq, status_code)
    and documents (image_id, phash) as of crawl epoch ``upto_epoch`` — the
    same for every run of one seed, whatever the number of timed epochs."""
    from pyspark.sql import functions as F

    def fold(df, cols, tag):
        h = F.xxhash64(*cols).cast("decimal(38,0)")
        return df.agg(F.count("*").alias(f"{tag}_n"), F.sum(h).alias(f"{tag}_h"))

    req = store.read("requests", spark).filter(F.col("epoch") <= upto_epoch)
    doc = store.read("documents", spark, as_of=upto_epoch)
    r = (
        fold(req, ["url_id", "epoch", "drain_seq", "status_code"], "r")
        .crossJoin(fold(doc, ["image_id", "phash"], "d"))
        .first()
    )
    text = "|".join(str(v) for v in r)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def kernel_probe(spark, store, web) -> dict:
    """Single-thread decode+phash µs per image, per fmt, on up to
    ``KERNEL_SAMPLE`` payloads the run extracted (the web's payloads of that
    fmt when the run extracted none)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from europarl_crawler_spark.functions import imaging

    def pick(df, key):
        w = Window.partitionBy("fmt").orderBy(key)
        return (
            df.filter(F.col("fmt").isin(*KERNEL_FMTS))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= KERNEL_SAMPLE)
            .select("fmt", "bytes", "w", "h")
            .collect()
        )

    items: dict[str, list] = {}
    for r in pick(store.read("documents", spark), "image_id"):
        items.setdefault(r["fmt"], []).append(r)
    if set(KERNEL_FMTS) - set(items):
        for r in pick(web.filter(~F.col("fmt").isin(*items)), "url_hash"):
            items.setdefault(r["fmt"], []).append(r)
    out = {}
    for fmt, rows in items.items():
        payloads = [(bytes(r["bytes"]), r["w"], r["h"]) for r in rows]
        per = []
        for _ in range(3):
            t = time.perf_counter()
            for b, w, h in payloads:
                imaging.phash64(imaging.decode(b, w, h, fmt))
            per.append((time.perf_counter() - t) / len(payloads) * 1e6)
        out[fmt] = statistics.median(per)
    return out


_CPU_PROBE = """
import time, numpy as np
a = np.random.default_rng(0).random((256, 256))
t0 = time.perf_counter()
for _ in range(40):
    a = (a @ a) % 1.0 + 0.1
print(time.perf_counter() - t0)
"""


def cpu_probe() -> float:
    """Fixed single-thread matmul (BLAS pinned to one thread) in a child
    interpreter: seconds, a fingerprint of the host's condition."""
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    out = subprocess.run(
        [sys.executable, "-c", _CPU_PROBE],
        capture_output=True, text=True, env=env, timeout=120, check=True,
    )
    return float(out.stdout.strip())
