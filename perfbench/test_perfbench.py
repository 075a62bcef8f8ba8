"""The benchmark's own tests: every workload at toy scale (``--smoke``),
traced, so one run exercises the untraced and traced paths, every
output check and the event-log fold.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


def _bench(cwd: Path, workload: str, trace: int, smoke: bool = True):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace)]
    if smoke:
        cmd.append("--smoke")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_traced_run(workload):
    p = _bench(REPO, workload, trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    *head, last = p.stdout.strip().splitlines()
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, head[-1][:3000]
    assert result["attempted"] == 2  # one untraced, one traced
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    report = json.loads(head[-1].removeprefix("perfbench-report "))
    assert report["traced_matches_untraced"]
    assert (REPO / ".perfbench" / "spans" / f"{workload}-seed5.jsonl").stat().st_size > 0


def test_refuses_without_the_program(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(tmp_path, SPEC["workloads"][0]["name"], trace=0, smoke=False)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
