"""Per-layer tracing of one crawl epoch, from outside the engine.

The layers are this repo's modules. ``Tracer.install`` swaps the public
functions ``plans.epoch`` calls — and the store's read/commit methods — for
wrappers that

- open a span (name, start, end, parent, epoch) and a Spark job group of
  their own around the call;
- materialize a lazy DataFrame result inside the span (persist, then count),
  so the layer's Spark work is charged to the layer and not to its first
  consumer;
- materialize, in a ``plans.epoch`` span, any DataFrame argument of a layer
  function that is still lazy — such a frame was built by ``run_epoch``'s
  own inline code. A commit's lazy input (e.g. the url_state delta) is
  written, and so computed, inside the commit's span.

Executor metrics per job group come from the Spark event log, parsed after
the session stops. Spans stay in memory until the run writes them.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

CANDIDATES = "plans.frontier.candidates"
SEEN = "functions.seen"
ROBOTS = "plans.robots"
POLITENESS = "plans.politeness"
DRAIN = "plans.frontier.drain"
STATUS = "plans.fetch.status"
EXTRACT = "plans.fetch.extract"
EPOCH = "plans.epoch"
READ = "sources.epochstore.read"
COMMIT = "sources.epochstore.commit"
TABLES = ("frontier", "requests", "url_state", "documents", "politeness", "metrics", "epochs")

# plans.epoch module attribute -> layer
WRAPPED = {
    "session_day_probes": CANDIDATES,
    "todo_combos": CANDIDATES,
    "recrawl_candidates": CANDIDATES,
    "anti_join_seen": SEEN,
    "apply_robots_gate": ROBOTS,
    "host_budgets": POLITENESS,
    "status_flags_agg": POLITENESS,
    "politeness_update": POLITENESS,
    "priority_drain": DRAIN,
    "simulate_requests": STATUS,
    "extract_documents": EXTRACT,
}

LAYERS = (
    READ,
    *(f"{COMMIT}.{t}" for t in TABLES),
    CANDIDATES,
    SEEN,
    ROBOTS,
    POLITENESS,
    DRAIN,
    STATUS,
    EXTRACT,
    EPOCH,
)
BASE_METRICS = (
    "self_s", "rows_out", "jobs", "tasks", "executor_run_s",
    "shuffle_bytes", "spill_bytes", "slot_util",
)


def _dir_bytes(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]
    return sum(p.stat().st_size for p in files), len(files)


class Tracer:
    def __init__(self, spark, exclude=()):
        self.sc = spark.sparkContext
        self.slots = self.sc.defaultParallelism  # 4 under local[4]
        self.exclude = {id(d) for d in exclude}
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.cached = []
        self.rows: dict[int, int] = {}  # id(frame) -> count at materialization
        self.counters: dict[str, float] = defaultdict(float)
        self.epoch = None
        self._next = 0
        self._restore = []

    # -- spans -----------------------------------------------------------------

    @contextmanager
    def span(self, layer: str, op: str):
        self._next += 1
        rec = {
            "id": self._next,
            "layer": layer,
            "op": op,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "epoch": self.epoch,
            "group": f"{layer}#{self._next}",
            "start": time.perf_counter(),
        }
        self.stack.append(rec)
        self.sc.setJobGroup(rec["group"], op)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self.spans.append(rec)
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["group"], self.stack[-1]["op"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def materialize(self, df):
        """persist + count: the frame's work runs now, in the open span."""
        df = df.persist()
        n = df.count()
        self.cached.append(df)
        self.rows[id(df)] = n
        return df, n

    def rows_of(self, df) -> int:
        n = self.rows.get(id(df))
        return df.count() if n is None else n

    def count(self, key: str, n: float) -> None:
        self.counters[key] += n

    def _inputs(self, args, kwargs, op):
        from pyspark.sql import DataFrame

        def fix(a):
            if isinstance(a, DataFrame) and id(a) not in self.exclude and not a.is_cached:
                with self.span(EPOCH, f"inline:{op}"):
                    a, _ = self.materialize(a)
            return a

        return [fix(a) for a in args], {k: fix(v) for k, v in kwargs.items()}

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []
        self.rows = {}

    # -- wrappers --------------------------------------------------------------

    def _wrap(self, layer, name, fn, after=None):
        from pyspark.sql import DataFrame

        def wrapped(*args, **kwargs):
            args, kwargs = self._inputs(args, kwargs, name)
            with self.span(layer, name):
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out, n = self.materialize(out)
                    self.count(f"{layer}.rows_out", n)
                if after is not None:
                    after(args, out)
            return out

        return wrapped

    def install(self, engine) -> None:
        """Wrap the layers of ``engine`` (a CrawlEngine) until ``uninstall``."""
        from pyspark.sql import functions as F

        import europarl_crawler_spark.plans.epoch as ep

        cap = engine.config.bucket_capacity
        tr = self

        def robots_after(args, out):
            tr.count(f"{ROBOTS}.disallowed_rows", tr.rows_of(args[0]) - tr.rows_of(out))

        def budgets_after(args, out):
            tr.count(f"{POLITENESS}.hosts_budgeted", tr.rows_of(out))
            tr.count(f"{POLITENESS}.hosts_below_cap", out.filter(F.col("budget") < cap).count())

        def drain_after(args, out):
            tr.count(f"{DRAIN}.rows_in", tr.rows_of(args[0]))

        def status_after(args, out):
            r = out.agg(
                F.sum((F.col("status_code") == 200).cast("long")),
                F.sum((F.col("status_code") == 404).cast("long")),
                F.sum((~F.col("status_code").isin(200, 404)).cast("long")),
            ).first()
            tr.count(f"{STATUS}.n_200", r[0] or 0)
            tr.count(f"{STATUS}.n_404", r[1] or 0)
            tr.count(f"{STATUS}.n_dead_letter", r[2] or 0)

        after = {
            "apply_robots_gate": robots_after,
            "host_budgets": budgets_after,
            "priority_drain": drain_after,
            "simulate_requests": status_after,
        }
        for name, layer in WRAPPED.items():
            orig = getattr(ep, name)
            self._restore.append((ep, name, orig))
            setattr(ep, name, self._wrap(layer, name, orig, after.get(name)))

        base = ep.BloomShardStore

        class TracedBloom(base):
            @classmethod
            def build(cls, seen, *a, **kw):
                (seen,), kw = tr._inputs((seen,), kw, "bloom.build")
                with tr.span(SEEN, "bloom.build"):
                    tr.count(f"{SEEN}.sketch_build_rows", tr.rows_of(seen))
                    return super().build(seen, *a, **kw)

            def tag_maybe(self, candidates, hash_col):
                with tr.span(SEEN, "bloom.tag_maybe"):
                    out, n = tr.materialize(super().tag_maybe(candidates, hash_col))
                    tr.count(f"{SEEN}.tagged_rows", n)
                    tr.count(f"{SEEN}.recheck_rows", out.filter(F.col("_maybe")).count())
                return out

        self._restore.append((ep, "BloomShardStore", base))
        ep.BloomShardStore = TracedBloom

        store = engine.store
        cls = type(store)
        nested = []

        def read(table, spark, *a, **kw):
            if nested:  # inside engine._read: materialized there, after its drop
                return cls.read(store, table, spark, *a, **kw)
            with tr.span(READ, f"read:{table}"):
                out, n = tr.materialize(cls.read(store, table, spark, *a, **kw))
                tr.count(f"{READ}.rows_out", n)
                prune = getattr(store, "last_prune", None)
                if kw.get("predicates") and prune and prune.get("total") is not None:
                    tr.count(f"{READ}.files_kept", prune["kept"])
                    tr.count(f"{READ}.files_total", prune["total"])
            return out

        engine_read = engine._read

        def _read(table, schema):
            with tr.span(READ, f"read:{table}"):
                nested.append(table)
                try:
                    df = engine_read(table, schema)
                finally:
                    nested.pop()
                out, n = tr.materialize(df)
                tr.count(f"{READ}.rows_out", n)
            return out

        def manifests(table):
            ms = cls.manifests(store, table)
            tr.count(f"{READ}.manifest_loads", len(ms))
            return ms

        def commit(kind):
            def run(table, df, epoch, *a, **kw):
                layer = f"{COMMIT}.{table}"
                with tr.span(layer, f"{kind}:{table}"):
                    m = getattr(cls, kind)(store, table, df, epoch, *a, **kw)
                    b, f = _dir_bytes(store.root / table / f"epoch={int(epoch)}")
                    tr.count(f"{layer}.bytes_written", b)
                    tr.count(f"{layer}.files_written", f)
                    tr.count(f"{layer}.rows_out", m["rows"])
                return m

            return run

        store.read = read
        store.manifests = manifests
        engine._read = _read
        for kind in ("merge", "append", "overwrite"):
            setattr(store, kind, commit(kind))
        self._patched = (engine, store)

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._restore):
            setattr(mod, name, orig)
        self._restore = []
        engine, store = self._patched
        engine.__dict__.pop("_read", None)
        for attr in ("read", "manifests", "merge", "append", "overwrite"):
            store.__dict__.pop(attr, None)

    def run_epoch(self, engine, now) -> tuple[dict, float]:
        """One traced epoch; returns (stats, wall seconds)."""
        self.epoch = engine.current_epoch() + 1
        self.install(engine)
        t = time.perf_counter()
        try:
            with self.span(EPOCH, "run_epoch"):
                stats = engine.run_epoch(now)
        finally:
            wall = time.perf_counter() - t
            self.uninstall()
            self.release()
        return stats, wall

    # -- metrics -----------------------------------------------------------------

    def layer_metrics(self, event_log: Path, reference_group: str) -> dict:
        """Per-layer metrics of the traced epoch: self time from the spans,
        executor metrics from the event log's job groups. Jobs and stages
        per epoch come from the untraced epoch whose job group is
        ``reference_group``: tracing adds count jobs and its caches remove
        engine jobs."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {f"{layer}.{k}": 0.0 for layer in LAYERS for k in BASE_METRICS}
        out.update(self.counters)
        for s in self.spans:
            out[f"{s['layer']}.self_s"] += (s["end"] - s["start"]) - child[s["id"]]
        group_layer = {s["group"]: s["layer"] for s in self.spans}
        ev = parse_event_log(event_log)
        for group, n in ev["jobs"].items():
            if group in group_layer:
                out[f"{group_layer[group]}.jobs"] += n
        ref_stages = 0
        for st in ev["stages"].values():
            ref_stages += st["group"] == reference_group
            layer = group_layer.get(st["group"])
            if layer is None:
                continue
            out[f"{layer}.tasks"] += st["tasks"]
            out[f"{layer}.executor_run_s"] += st["run_ms"] / 1000
            out[f"{layer}.shuffle_bytes"] += st["shuffle_write"]
            out[f"{layer}.spill_bytes"] += st["spill"]
            if layer == EXTRACT and st["scan"]:
                out[f"{EXTRACT}.web_rows_scanned"] = (
                    out.get(f"{EXTRACT}.web_rows_scanned", 0) + st["records_in"]
                )
        for layer in LAYERS:
            busy = out[f"{layer}.self_s"] * self.slots
            out[f"{layer}.slot_util"] = out[f"{layer}.executor_run_s"] / busy if busy else 0.0
        ok = out.get(f"{STATUS}.n_200", 0)
        out[f"{EXTRACT}.docs_per_ok"] = out[f"{EXTRACT}.rows_out"] / ok if ok else 0.0
        tagged = out.get(f"{SEEN}.tagged_rows", 0)
        out[f"{SEEN}.maybe_fraction"] = out.get(f"{SEEN}.recheck_rows", 0) / tagged if tagged else 0.0
        out[f"{EPOCH}.jobs_per_epoch"] = float(ev["jobs"].get(reference_group, 0))
        out[f"{EPOCH}.stages_per_epoch"] = float(ref_stages)
        return out

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        path.write_text(json.dumps({"spans": spans, **extra}, indent=1, sort_keys=True))


def parse_event_log(path: Path) -> dict:
    """Jobs per job group, and per completed stage its job group (from the
    stage's submit properties) and task totals."""
    jobs: dict[str, int] = defaultdict(int)
    stages: dict[int, dict] = {}
    for f in sorted(Path(path).rglob("*")):
        if not f.is_file() or f.name.startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[(ev.get("Properties") or {}).get("spark.jobGroup.id")] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "scan": any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])),
                        "tasks": 0, "run_ms": 0, "shuffle_write": 0, "spill": 0, "records_in": 0,
                    }
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                    tm = ev.get("Task Metrics") or {}
                    t = stages[ev["Stage ID"]]
                    t["tasks"] += 1
                    t["run_ms"] += tm.get("Executor Run Time", 0)
                    t["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    t["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    t["records_in"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
    return {"jobs": jobs, "stages": stages}
