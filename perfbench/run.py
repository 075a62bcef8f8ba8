"""acxspark benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the repository root. Workloads: dedup_small,
incremental_fold, query_suite (see perfbench/README.md). The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``.

This file only supervises. It starts harness.py in a fresh process
group inside ``.perfbench/run-<pid>/`` with every temporary, Spark
local and JVM temp directory pointed there, relays the result if the
child succeeded, then stops the whole group, waits for every process
in it to end and deletes the run directory.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

from procstat import all_pids, stat_fields

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
TIMEOUT_S = 170
DRIVER_MEM = "2g"


def _group_alive(pgid: int) -> bool:
    """Any process of the group still running (zombies do not count)."""
    for pid in all_pids():
        st = stat_fields(pid)
        if st is not None and int(st[2]) == pgid and st[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="toy-scale inputs (used by the benchmark's own test)")
    args = ap.parse_args()
    if not (REPO / "acxspark" / "__init__.py").is_file():
        print("perfbench: no acxspark package next to perfbench/", file=sys.stderr)
        return 2

    state = REPO / ".perfbench"
    work = state / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "local").mkdir()
    # drop the program's own tuning hooks so every capture runs the
    # same configuration
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "ACX_"))}
    env.update({
        "TMPDIR": str(work / "tmp"),
        # every JVM, the spark-submit launcher's too, keeps its temp
        # files inside the run directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "ACX_DRIVER_MEM": DRIVER_MEM,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    spans = state / "spans" / f"{args.workload}-seed{args.seed}.jsonl"
    cmd = [sys.executable, str(HERE / "harness.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--spans-out", str(spans)]
    if args.smoke:
        cmd.append("--smoke")
    child = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                             start_new_session=True, text=True)

    def on_signal(signum, frame):
        raise KeyboardInterrupt  # unwinds into the cleanup below

    signal.signal(signal.SIGTERM, on_signal)
    try:
        out, _ = child.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: timed out after {TIMEOUT_S}s", file=sys.stderr)
        out = None
    finally:
        _stop_group(child.pid)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
    if out is None or child.returncode != 0:
        sys.stderr.write(out or "")
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
