"""One benchmark process: set up a workload, measure it, print the result.

Started by run.py in a run directory inside the checkout. The loop is
closed with one client: each run starts when the previous one has
finished and been checked. With ``--trace 0`` every run is untraced
and the result holds the end-to-end metrics. With ``--trace 1``
untraced and traced runs alternate, the Spark event log is on, and the
result holds the per-layer metrics, folded from the traced runs, plus
the tracing overhead (traced minus untraced wall).

The last stdout line is the result JSON; the line before it starts
with ``perfbench-report`` and holds the context: per-run walls, output
checksums, Spark job/stage/task counts and whether they repeat,
``host_speed`` and ``contended_jvms`` (both from bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path[:0] = [str(HERE), str(REPO)]

import bench  # noqa: E402
from procstat import RssPeak, tree_cpu_s  # noqa: E402
from tracing import Tracer, fold_spans, read_event_log  # noqa: E402
from workloads import WORKLOADS, no_span  # noqa: E402

from acxspark import session  # noqa: E402

PREPARE_REPEATS = 3
MIN_RUNS = 2


def _job_counts(sc, group: str) -> dict:
    """Jobs, stages run and tasks run under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages, tasks = set(), 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks > 0 and sid not in stages:
                stages.add(sid)
                tasks += s.numCompletedTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.pid = os.getpid()
        self.work = Path.cwd()
        self.cores = len(os.sched_getaffinity(0))
        self.rss = RssPeak(self.pid)
        self.runs: list[dict] = []
        self.warm: list[dict] = []
        self.ref: dict | None = None

    # ------------------------------------------------------------ setup
    def setup(self) -> None:
        a = self.args
        self.log_dir = self.work / "eventlog"
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        } if a.trace else {}
        if a.trace:
            self.log_dir.mkdir()
        self.rss.start()
        t0 = time.perf_counter()
        self.spark = session.get_spark(f"perfbench-{a.workload}",
                                       parallelism=self.cores, extra_conf=extra)
        self.session_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.tracer = Tracer(self.spark, self.pid)
        if a.trace:
            self.tracer.install()
        self.wl = WORKLOADS[a.workload](self.spark, a.seed, self.work, a.smoke)
        prep = []
        for _ in range(PREPARE_REPEATS):
            t0 = time.perf_counter()
            self.wl.prepare()
            prep.append(time.perf_counter() - t0)
        self.prepare_s = _median(prep)
        t0 = time.perf_counter()
        self.wl.load()
        self.load_s = time.perf_counter() - t0
        self.warm = [self.execute(f"warmup{i}", traced=False)
                     for i in range(self.wl.warm_ups)]
        bad = [r["failures"] for r in self.warm if r["failures"]]
        if bad:
            raise RuntimeError(f"warm-up run failed: {bad}")
        self.warm_s = sum(r["wall_s"] for r in self.warm)
        self.setup_s = self.session_s + self.prepare_s + self.load_s + self.warm_s

    # -------------------------------------------------------------- runs
    def execute(self, run_id: str, traced: bool) -> dict:
        """One run: restore, timed run, untimed output check. The
        first warm-up run's outputs are the reference later runs must
        match."""
        tr = self.tracer
        self.wl.restore()
        tr.run_id, tr.enabled = run_id, traced
        span = tr.span if traced else no_span
        rec = {"run": run_id, "traced": traced}
        self.rss.reset()
        cpu0 = tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        try:
            if traced:
                with tr.span("run"):
                    out = self.wl.run(span)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", run_id)
                try:
                    out = self.wl.run(span)
                finally:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s(self.pid) - cpu0
            rec["peak_rss_mb"] = self.rss.read()
            tr.enabled = False
            t1 = time.perf_counter()
            if not traced:
                rec["counts"] = _job_counts(self.sc, run_id)
            rec["outputs"] = self.wl.outputs(out)
            self.ref = self.ref or rec["outputs"]
            rec["failures"] = self.wl.failures(rec["outputs"], self.ref)
            rec["check_s"] = time.perf_counter() - t1
        except Exception:  # a failed run is counted, not fatal
            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec["failures"] = ["raised: " + traceback.format_exc(limit=3)]
            print(rec["failures"][0], file=sys.stderr)
        finally:
            tr.enabled = False
        return rec

    def measure(self) -> None:
        """Runs until ``--seconds`` have passed and at least
        ``MIN_RUNS`` runs are done, so a fast host and a slow one take
        the median over the same runs after the warm-ups. Trace mode
        alternates untraced and traced runs and stops after a traced
        one."""
        a = self.args
        deadline = time.perf_counter() + a.seconds
        idx = 0
        while True:
            self.runs.append(self.execute(f"r{idx}", traced=bool(a.trace) and idx % 2 == 1))
            idx += 1
            if (time.perf_counter() >= deadline and idx >= MIN_RUNS
                    and (not a.trace or idx % 2 == 0)):
                break

    # ----------------------------------------------------------- metrics
    def end_to_end(self) -> dict:
        runs = [r for r in self.runs if not r["traced"]]
        wall = _median([r["wall_s"] for r in runs])
        return {
            "setup_s": (self.setup_s, "s"),
            "wall_s": (wall, "s"),
            "docs_per_s": (self.wl.docs_in / wall, "docs/s"),
            "cpu_s": (_median([r.get("cpu_s", 0.0) for r in runs]), "s"),
            "peak_rss_mb": (_median([r.get("peak_rss_mb", 0.0) for r in runs]), "MB"),
        }

    def per_layer(self) -> dict:
        spans = self.tracer.spans
        fold_spans(spans, read_event_log(self.log_dir), self.cores)
        traced = [r for r in self.runs if r["traced"]]
        per_run = [layer_metrics(r, [s for s in spans if s["run"] == r["run"]],
                                 self.cores) for r in traced]
        out = {k: (_median([m[k][0] for m in per_run]), per_run[0][k][1])
               for k in per_run[0]}
        out["session.start_s"] = (self.session_s, "s")
        plain = _median([r["wall_s"] for r in self.runs if not r["traced"]])
        out["trace.overhead_s"] = (out["run.wall_s"][0] - plain, "s")
        out["trace.overhead_frac"] = ((out["run.wall_s"][0] - plain) / plain, "ratio")
        return out

    def report(self) -> dict:
        untraced = [r for r in self.runs if not r["traced"]]
        counts = [r["counts"] for r in self.warm + untraced if "counts" in r]
        # a count that differs between runs of one input is no
        # evidence for a gain or a loss
        repeat = {k: {"values": [c[k] for c in counts],
                      "claimable": len(counts) > 1 and len({c[k] for c in counts}) == 1}
                  for k in ("jobs", "stages", "tasks")}
        traced = [r for r in self.runs if r["traced"] and "outputs" in r]
        failed = sum(bool(r["failures"]) for r in self.runs)
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "smoke": self.args.smoke, "trace": self.args.trace,
            "cores": self.cores, "docs_in": self.wl.docs_in,
            "setup": {"session_s": self.session_s, "prepare_s": self.prepare_s,
                      "load_s": self.load_s, "warm_up_s": self.warm_s},
            "reference": self.ref,
            "runs": self.runs,
            "failed_frac": failed / len(self.runs),
            "counts_repeat": repeat,
            "traced_matches_untraced": all(
                not self.wl.failures(r["outputs"], self.ref) for r in traced
            ) if traced else None,
            "host_speed": self.host_speed, "contended_jvms": self.contended,
        }


def layer_metrics(run: dict, spans: list[dict], cores: int) -> dict:
    """One traced run's per-layer numbers, from its spans."""

    def of(name):
        return [s for s in spans if s["name"] == name]

    def total(name, key):
        return sum(_get(s, key) for s in of(name))

    def ratio(a, b):
        return a / b if b else 0.0

    root = of("run")[0]
    m = {
        "run.wall_s": (root["dur_s"], "s"),
        "run.jobs": (root["spark"]["jobs"], "count"),
        "run.stages": (root["spark"]["stages"], "count"),
        "run.tasks": (root["spark"]["tasks"], "count"),
        "run.driver_gap_s": (root["spark"]["driver_gap_s"], "s"),
        "run.busy_frac": (root["spark"]["busy_frac"], "ratio"),
        "pipeline.wall_s": (total("pipeline", "dur_s"), "s"),
        "pipeline.self_s": (total("pipeline", "self_s"), "s"),
        "pipeline.jobs": (total("pipeline", "spark.jobs"), "count"),
        "pipeline.tasks": (total("pipeline", "spark.tasks"), "count"),
        "pipeline.driver_gap_s": (total("pipeline", "spark.driver_gap_s"), "s"),
        "pipeline.busy_frac": (ratio(total("pipeline", "spark.run_s"),
                                     total("pipeline", "dur_s") * cores), "ratio"),
        "signatures.wall_s": (total("signatures", "dur_s"), "s"),
        "signatures.cpu_s": (total("signatures", "cpu_s"), "s"),
        "signatures.rows": (total("signatures", "attrs.rows_out"), "count"),
        "lsh.wall_s": (total("lsh", "dur_s"), "s"),
        "lsh.shuffle_mb": (total("lsh", "spark.shuffle_mb"), "MB"),
        "lsh.pairs_out": (total("lsh", "attrs.rows_out"), "count"),
        "lsh.task_skew": (max([_get(s, "spark.task_skew") for s in of("lsh")],
                              default=0.0), "ratio"),
    }
    for layer, cpu in (("verify_jaccard", False), ("verify_contain", True)):
        m[f"{layer}.wall_s"] = (total(layer, "dur_s"), "s")
        if cpu:
            m[f"{layer}.cpu_s"] = (total(layer, "cpu_s"), "s")
        else:
            m[f"{layer}.shuffle_mb"] = (total(layer, "spark.shuffle_mb"), "MB")
        m[f"{layer}.pairs_in"] = (total(layer, "attrs.rows_in"), "count")
        m[f"{layer}.yield"] = (ratio(total(layer, "attrs.rows_out"),
                                     total(layer, "attrs.rows_in")), "ratio")
    m.update({
        "simhash.wall_s": (total("simhash", "dur_s"), "s"),
        "simhash.shuffle_mb": (total("simhash", "spark.shuffle_mb"), "MB"),
        "simhash.pairs_out": (total("simhash", "attrs.rows_out"), "count"),
        "cc.wall_s": (total("cc", "dur_s"), "s"),
        "cc.jobs": (total("cc", "spark.jobs"), "count"),
        "cc.edges_in": (total("cc", "attrs.rows_in"), "count"),
        "survivors.wall_s": (total("survivors", "dur_s"), "s"),
        "catalog.write_s": (total("catalog.write", "dur_s"), "s"),
        "catalog.writes": (len(of("catalog.write")), "count"),
        "catalog.write_mb": (run.get("outputs", {}).get("catalog_write_mb", 0.0), "MB"),
        "catalog.read_s": (total("catalog.read", "dur_s"), "s"),
        "bloom.wall_s": (total("bloom.build", "dur_s") + total("bloom.probe", "dur_s"), "s"),
        "bloom.maybe_rows": (total("bloom.probe", "attrs.maybe_rows"), "count"),
        "incremental.wall_s": (total("incremental", "dur_s"), "s"),
        "incremental.self_s": (total("incremental", "self_s"), "s"),
        "incremental.jobs": (total("incremental", "spark.jobs"), "count"),
        "incremental.signed_rows": (sum(_get(s, "attrs.rows_out") for s in of("signatures")
                                        if _under(s, "incremental", spans)), "count"),
        "ingest.refetch50_s": (total("ingest.refetch50", "dur_s"), "s"),
        "spark.executor_cpu_s": (root["spark"]["cpu_s"], "s"),
        "spark.executor_run_s": (root["spark"]["run_s"], "s"),
        "spark.gc_s": (root["spark"]["gc_s"], "s"),
        "spark.shuffle_write_mb": (root["spark"]["shuffle_mb"], "MB"),
        "spark.spill_mb": (root["spark"]["spill_mb"], "MB"),
    })
    return m


def _get(span: dict, key: str) -> float:
    v = span
    for part in key.split("."):
        v = v.get(part, 0) if isinstance(v, dict) else 0
    return float(v or 0)


def _under(span: dict, name: str, spans: list[dict]) -> bool:
    by_id = {s["id"]: s for s in spans}
    p = span["parent"]
    while p is not None and p in by_id:
        if by_id[p]["name"] == name:
            return True
        p = by_id[p]["parent"]
    return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--spans-out", type=Path, required=True)
    args = ap.parse_args()

    b = Bench(args)
    b.contended = len(bench._resident_spark_jvms())
    b.host_speed = {"before": bench._host_speed(0.25)}
    b.setup()
    b.measure()
    b.spark.stop()  # closes the event log
    metrics = b.per_layer() if args.trace else b.end_to_end()
    if args.trace:
        b.tracer.write_jsonl(args.spans_out)
    b.rss.close()
    b.host_speed["after"] = bench._host_speed(0.25)
    b.host_speed["unit"] = "iters_0.25s_35MB_stream"
    rep = b.report()
    failed = sum(bool(r["failures"]) for r in b.runs)
    print("perfbench-report " + json.dumps(rep, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(b.runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
