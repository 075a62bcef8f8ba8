"""Per-layer tracing from outside the program.

``Tracer.install`` replaces the public function of each layer with a
wrapper. While tracing is on, the wrapper

* runs the call under a Spark job group of its own, so every job,
  stage and task it launches can be told apart in the event log;
* forces a returned DataFrame inside that group (one aggregate over
  every column), so the layer's work is timed there and not only
  later inside whichever layer reads the result first. The result is
  not cached: downstream layers compute it again, which is part of
  the tracing overhead;
* records a span: name, start, end, parent, run id, the process-tree
  CPU time it used and the rows it saw.

Modules that import a layer function by name (``plans/pipeline.py``
imports its operators that way) hold their own reference, so every
loaded ``acxspark`` module that holds the original is patched too.

``read_event_log`` reads the Spark event log written during the runs
and ``fold_spans`` folds its jobs and task metrics into each span,
through the job groups.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import statistics
import sys
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from procstat import tree_cpu_s

_GROUP = "spark.jobGroup.id"


def digest(df: DataFrame) -> tuple[int, int]:
    """(rows, order-free hash over every column) in one job. Unlike
    ``count()``, this cannot prune any column away."""
    cols = [F.col(f"`{c}`") for c in df.columns]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


class Tracer:
    def __init__(self, spark, root_pid: int):
        self.sc = spark.sparkContext
        self.root_pid = root_pid
        self.enabled = False
        self.run_id = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    # ---------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        parent = self._stack[-1]["id"] if self._stack else None
        group = f"{self.run_id}/{name}#{sid}"
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, group)
        rec = {"id": sid, "run": self.run_id, "name": name, "parent": parent,
               "group": group, "attrs": dict(attrs)}
        self._stack.append(rec)
        cpu0 = tree_cpu_s(self.root_pid)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec["cpu_s"] = tree_cpu_s(self.root_pid) - cpu0
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            self.spans.append(rec)

    # ------------------------------------------------------- wrappers
    def _wrap(self, name: str, fn, force: bool, rows_in=None, after=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            attrs = {}
            if rows_in is not None:
                # counted in a span of its own, outside the layer's
                with self.span(name + ".input"):
                    attrs["rows_in"] = rows_in(*args, **kwargs).count()
            with self.span(name, **attrs) as rec:
                out = fn(*args, **kwargs)
                if force:
                    rec["attrs"]["rows_out"] = digest(out)[0]
                if after is not None:
                    after(out, rec)
            return out

        return wrapper

    def _patch(self, module: str, attr: str, wrapper_of) -> None:
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        new = wrapper_of(orig)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("acxspark") and \
                    getattr(m, attr, None) is orig:
                setattr(m, attr, new)

    def install(self) -> None:
        w = self._wrap
        self._patch("acxspark.plans.pipeline", "run_pipeline",
                    lambda f: w("pipeline", f, force=False))
        self._patch("acxspark.operators.signatures", "with_signatures",
                    lambda f: w("signatures", f, force=True))
        self._patch("acxspark.operators.lsh", "candidate_pairs",
                    lambda f: w("lsh", f, force=True))
        self._patch("acxspark.operators.verify", "exact_jaccard_edges",
                    lambda f: w("verify_jaccard", f, force=True,
                                rows_in=lambda pairs, *a, **k: pairs))
        self._patch("acxspark.operators.simhash", "simhash_candidate_pairs",
                    lambda f: w("simhash", f, force=True))
        self._patch("acxspark.operators.verify", "containment_edges",
                    lambda f: w("verify_contain", f, force=True,
                                rows_in=lambda pairs, *a, **k: pairs))
        self._patch("acxspark.operators.cc", "cluster_assignments",
                    lambda f: w("cc", f, force=True,
                                rows_in=lambda ids, col, edges, *a, **k: edges))
        self._patch("acxspark.operators.bloom", "build_bloom",
                    lambda f: w("bloom.build", f, force=True))

        def maybe_rows(out, rec):
            rec["attrs"]["maybe_rows"] = out.filter(F.col("might_contain")).count()

        self._patch("acxspark.operators.bloom", "might_contain",
                    lambda f: w("bloom.probe", f, force=True, after=maybe_rows))
        self._patch("acxspark.plans.incremental", "run_incremental",
                    lambda f: w("incremental", f, force=False))
        from acxspark.catalog import ParquetSnapshotCatalog as C

        C.write = w("catalog.write", C.write, force=False)
        C.read = w("catalog.read", C.read, force=False)

    def write_jsonl(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# ------------------------------------------------------------ event log
def read_event_log(log_dir: Path) -> dict:
    """Jobs and task metrics from the event log, keyed by job group."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP)
                    jobs[ev["Job ID"]] = {"group": group,
                                          "start": ev["Submission Time"] / 1e3,
                                          "end": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get(_GROUP)
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    for t in tasks:
        t["group"] = stage_group.get(t["stage"])
    return {"jobs": list(jobs.values()), "tasks": tasks}


def fold_spans(spans: list[dict], log: dict, cores: int) -> None:
    """Attach Spark numbers to each span, counting its descendants."""
    by_id = {s["id"]: s for s in spans}
    owner = {s["group"]: s["id"] for s in spans}

    def ancestors(sid):
        while sid is not None:
            yield sid
            sid = by_id[sid]["parent"]

    for s in spans:
        s["spark"] = {"jobs": 0, "stages": set(), "tasks": 0, "run_s": 0.0,
                      "cpu_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0,
                      "spill_mb": 0.0, "task_run_ms": [], "job_iv": []}
    for j in log["jobs"]:
        sid = owner.get(j["group"])
        for a in ancestors(sid):
            by_id[a]["spark"]["jobs"] += 1
            by_id[a]["spark"]["job_iv"].append((j["start"], j["end"] or j["start"]))
    for t in log["tasks"]:
        sid = owner.get(t["group"])
        for a in ancestors(sid):
            sp = by_id[a]["spark"]
            sp["stages"].add(t["stage"])
            sp["tasks"] += 1
            sp["run_s"] += t["run_ms"] / 1e3
            sp["cpu_s"] += t["cpu_ns"] / 1e9
            sp["gc_s"] += t["gc_ms"] / 1e3
            sp["shuffle_mb"] += t["shuffle_write"] / 2**20
            sp["spill_mb"] += t["spill"] / 2**20
            sp["task_run_ms"].append(t["run_ms"])
    for s in spans:
        sp = s["spark"]
        sp["stages"] = len(sp["stages"])
        runs = sp.pop("task_run_ms")
        med = statistics.median(runs) if runs else 0
        sp["task_skew"] = max(runs) / med if med else 0.0
        busy = _union(sp.pop("job_iv"), s["start"], s["end"])
        sp["driver_gap_s"] = max(0.0, (s["end"] - s["start"]) - busy)
        sp["busy_frac"] = sp["run_s"] / (max(s["dur_s"], 1e-9) * cores)
        kids = [(c["start"], c["end"]) for c in spans if c["parent"] == s["id"]]
        s["self_s"] = max(0.0, s["dur_s"] - _union(kids, s["start"], s["end"]))


def _union(ivs: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in ivs):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
