"""Crawl-epoch benchmark: ``CrawlEngine.run_epoch`` on generated workloads.

    python3 perfbench/run.py --workload wide_drain --seed 1 --seconds 1 --trace 0

Run from the repository root. One untraced run (``--trace 0``):

1. a fixed single-thread CPU probe (the host's condition, printed);
2. set-up, ``SETUP_REPEATS`` times into fresh directories: generate the
   inputs from the seed (perfbench/workloads.py), ``CrawlEngine.bootstrap``
   and frontier seeding with ``EpochStore.overwrite``; the last store is
   crawled. The repeats also warm the JVM and the Python workers;
3. timed epochs in a closed loop (each starts after the previous one
   committed) until ``--seconds`` have passed — at least one;
4. output checks over the request log and documents (perfbench/checks.py)
   and an order-free digest of epoch 1's output, equal for equal seeds.

A traced run (``--trace 1``) sets up once, runs epoch 1 untraced and epoch 2
traced (perfbench/layers.py). It reports the per-layer metrics of epoch 2,
the tracing overhead (epoch 2 minus epoch 1; epoch 1 also carries the first
epoch's warm-up, so this understates it) and the single-thread decode+phash
rate per format.

Spark runs ``local[4]`` with 4 shuffle partitions from the repo's own
``get_spark``; the engine keeps ``EngineConfig`` defaults. Everything a run
writes stays under ``.perfbench/`` in the working directory; its scratch
directory is removed at exit, a traced run's spans stay in
``.perfbench/out``. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from datetime import datetime, timedelta, timezone
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
START = datetime(2021, 1, 1, tzinfo=timezone.utc)
MASTER, PARTITIONS = "local[4]", 4
DRIVER_MEM = "2g"
SETUP_REPEATS = 3

sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import checks  # noqa: E402
import workloads as W  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep Spark's and Python's scratch files inside the run directory and
    let the Python workers import the engine."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM (launcher and driver): temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), os.environ.get("PYTHONPATH", "")]
    ).rstrip(os.pathsep)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def new_session(work: Path, event_log: Path | None):
    from europarl_crawler_spark import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": str(work / "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", master=MASTER, shuffle_partitions=PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM to
    exit (its Python workers go with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def setup(spark, wl, seed: int, root: Path):
    """Inputs, bootstrap and frontier seeding; returns (engine, web, robots)."""
    from europarl_crawler_spark.plans.epoch import CrawlEngine
    from europarl_crawler_spark.sources.epochstore import EpochStore
    from europarl_crawler_spark.sources.synthetic import simulated_web

    days = W.calendar(spark, wl, seed)
    urls = W.url_rows(spark, wl, seed).persist()
    web_dir = str(root / "web")
    simulated_web(spark, days).unionByName(W.host_web(spark, wl, seed, urls)).write.parquet(web_dir)
    web = spark.read.parquet(web_dir)
    robots = W.robots_frame(spark, wl, seed)
    store = EpochStore(root / "store")
    engine = CrawlEngine(spark, store, web, robots=robots)
    engine.bootstrap(days)
    store.overwrite("frontier", W.seed_frontier(urls), 0, keys=["url_id"])
    urls.unpersist()
    return engine, web, robots


def clock(engine) -> datetime:
    """The deterministic crawl clock ``CrawlEngine.run`` uses."""
    return START + timedelta(seconds=engine.epoch_secs * engine.current_epoch())


def tree_hwm_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its live descendants."""
    parent: dict[int, int] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            parent[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb = 0
    for pid in tree:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


class Run:
    """Epoch bookkeeping of one run: epochs attempted, URLs drained, peak
    RSS; each epoch runs in its own job group so its jobs can be counted."""

    def __init__(self, spark):
        self.spark = spark
        self.tracker = spark.sparkContext.statusTracker()
        self.attempted = 0
        self.drained_total = 0
        self.rss_mb = 0.0

    @staticmethod
    def group(epoch: int) -> str:
        return f"perfbench-epoch-{epoch}"

    def epoch(self, engine) -> tuple[dict, float, int]:
        e = engine.current_epoch() + 1
        group = self.group(e)
        sc = self.spark.sparkContext
        sc.setJobGroup(group, f"epoch {e}")
        self.attempted += 1
        t = time.perf_counter()
        stats = engine.run_epoch(clock(engine))
        wall = time.perf_counter() - t
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.drained_total += stats["drained"]
        self.rss_mb = max(self.rss_mb, tree_hwm_mb())
        return stats, wall, len(self.tracker.getJobIdsForGroup(group))


class Phases:
    """Wall time of each phase of a run, printed as it ends."""

    def __init__(self):
        self.t = time.perf_counter()

    def done(self, name: str) -> None:
        now = time.perf_counter()
        print(f"phase {name}: {now - self.t:.2f} s", flush=True)
        self.t = now


def metric(name, value, unit, n, out):
    print(f"metric {name} = {value:.6g} {unit} (samples={n})")
    out[name] = {"value": value, "unit": unit}


def run_checks(spark, engine, web, wl, seed) -> set[int]:
    """Run the output checks; returns the failed epochs. Prints the digest."""
    found = checks.output_checks(
        spark, engine.store, web, wl, seed, engine.epoch_secs, engine.current_epoch()
    )
    for name, bad in found.items():
        print(f"check {name}: {'ok' if not bad else 'FAILED in epochs ' + str(sorted(bad))}")
    print(f"digest {checks.digest(spark, engine.store, 1)} (requests+documents of epoch 1)")
    return set().union(*found.values())


def untraced(spark, wl, seed, seconds, work, ph: Phases) -> dict:
    setups = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        engine, web, _ = setup(spark, wl, seed, work / f"setup{i}")
        setups.append(time.perf_counter() - t)
        ph.done(f"setup {i}")
    run = Run(spark)
    walls, jobs = [], []
    t0 = time.perf_counter()
    while True:
        stats, wall, n_jobs = run.epoch(engine)
        walls.append(wall)
        jobs.append(n_jobs)
        ph.done(f"epoch {stats['epoch']} (drained {stats['drained']}, {n_jobs} jobs)")
        if time.perf_counter() - t0 >= seconds:
            break
    print(f"plans.epoch.jobs_per_epoch {statistics.median(jobs)}")
    failed = run_checks(spark, engine, web, wl, seed)
    ph.done("checks")
    by_table = {
        d.name: sum(p.stat().st_size for p in d.rglob("*") if p.is_file())
        for d in engine.store.root.iterdir()
    }
    store_bytes = sum(by_table.values())
    print("store bytes by table: " + ", ".join(f"{k} {v}" for k, v in sorted(by_table.items())))
    m: dict = {}
    metric("urls_per_s", run.drained_total / sum(walls), "1/s", len(walls), m)
    metric("epoch_s_p50", statistics.median(walls), "s", len(walls), m)
    metric("setup_s", statistics.median(setups), "s", len(setups), m)
    metric("store_bytes_per_url", store_bytes / max(run.drained_total, 1), "B", 1, m)
    metric("peak_rss_mb", run.rss_mb, "MB", len(walls), m)
    return {"failed": failed, "attempted": run.attempted, "metrics": m}


def traced(spark, wl, seed, work, event_log, probe, ph: Phases) -> dict:
    from layers import Tracer

    engine, web, robots = setup(spark, wl, seed, work / "setup0")
    ph.done("setup")
    run = Run(spark)
    _, plain_wall, _ = run.epoch(engine)
    ph.done("untraced epoch 1")
    tracer = Tracer(spark, exclude=(web, robots, engine.rules))
    run.attempted += 1
    _, traced_wall = tracer.run_epoch(engine, clock(engine))
    ph.done("traced epoch 2")
    failed = run_checks(spark, engine, web, wl, seed)
    kernel = checks.kernel_probe(spark, engine.store, web)
    ph.done("checks and kernel probe")
    spark.stop()  # flushes the event log
    lm = tracer.layer_metrics(event_log, reference_group=Run.group(1))
    self_total = sum(v for k, v in lm.items() if k.endswith(".self_s"))
    lm["trace.epoch_s"] = traced_wall
    lm["trace.untraced_epoch_s"] = plain_wall
    lm["trace.overhead_s"] = traced_wall - plain_wall
    lm["trace.residual_s"] = traced_wall - self_total
    lm["host.cpu_probe_s"] = probe
    for fmt, us in kernel.items():
        lm[f"imaging.decode_phash_us.{fmt}"] = us
    out_path = ROOT / ".perfbench" / "out" / f"trace-{wl.name}-seed{seed}.json"
    tracer.write(out_path, {"metrics": lm, "workload": wl.name, "seed": seed})
    print(f"trace: {len(tracer.spans)} spans written to {out_path.relative_to(ROOT)}")
    print(f"trace: traced epoch {traced_wall:.3f} s, untraced epoch {plain_wall:.3f} s, "
          f"layer self times {self_total:.3f} s, residual {traced_wall - self_total:.3f} s")
    m: dict = {}
    for name, unit in per_layer_metrics():
        metric(name, float(lm.get(name, 0.0)), unit, 1, m)
    return {"failed": failed, "attempted": run.attempted, "metrics": m}


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of the per-layer metrics a traced run reports."""
    from layers import BASE_METRICS, COMMIT, EPOCH, EXTRACT, LAYERS, READ, SEEN, STATUS

    units = {
        "self_s": "s", "rows_out": "rows", "jobs": "count", "tasks": "count",
        "executor_run_s": "s", "shuffle_bytes": "B", "spill_bytes": "B",
        "slot_util": "ratio",
    }
    commit_kept = ("self_s", "jobs", "bytes_written", "files_written")
    commit_units = {**units, "bytes_written": "B", "files_written": "count"}
    out = []
    for layer in LAYERS:
        if layer.startswith(COMMIT):
            out += [(f"{layer}.{k}", commit_units[k]) for k in commit_kept]
        else:
            out += [(f"{layer}.{k}", units[k]) for k in BASE_METRICS]
    out += [
        (f"{READ}.manifest_loads", "count"),
        (f"{READ}.files_kept", "count"),
        (f"{READ}.files_total", "count"),
        (f"{SEEN}.sketch_build_rows", "rows"),
        (f"{SEEN}.maybe_fraction", "ratio"),
        (f"{SEEN}.recheck_rows", "rows"),
        ("plans.robots.disallowed_rows", "rows"),
        ("plans.politeness.hosts_budgeted", "count"),
        ("plans.politeness.hosts_below_cap", "count"),
        ("plans.frontier.drain.rows_in", "rows"),
        (f"{STATUS}.n_200", "count"),
        (f"{STATUS}.n_404", "count"),
        (f"{STATUS}.n_dead_letter", "count"),
        (f"{EXTRACT}.docs_per_ok", "ratio"),
        (f"{EXTRACT}.web_rows_scanned", "rows"),
        (f"{EPOCH}.jobs_per_epoch", "count"),
        (f"{EPOCH}.stages_per_epoch", "count"),
        ("trace.epoch_s", "s"),
        ("trace.overhead_s", "s"),
        ("trace.residual_s", "s"),
        ("host.cpu_probe_s", "s"),
    ]
    out += [(f"imaging.decode_phash_us.{f}", "us") for f in checks.KERNEL_FMTS]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "europarl_crawler_spark").is_dir():
        print("perfbench: run from the repository root (no europarl_crawler_spark/ here)",
              file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    work = ROOT / ".perfbench" / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    prepare_env(work)
    try:
        ph = Phases()
        probe = checks.cpu_probe()
        print(f"host cpu probe: {probe:.4f} s (host.cpu_probe_s, 256x256 matmul x40, one thread)")
        event_log = work / "eventlog" if args.trace else None
        spark = new_session(work, event_log)
        ph.done("spark session")
        try:
            if args.trace:
                res = traced(spark, wl, args.seed, work, event_log, probe, ph)
            else:
                res = untraced(spark, wl, args.seed, args.seconds, work, ph)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = len(res["failed"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
