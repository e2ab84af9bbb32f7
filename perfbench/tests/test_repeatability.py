"""Counter repeatability of the traced run, and the output contract.

Two traced runs of each workload at sf0.001 with the same seed and
``--seconds 0`` (one cycle per timed phase) must give identical per-op
job, task, commit and file counts; every metric BENCHMARK.json names
must be printed with its unit.

    python3 -m pytest perfbench/tests -q      # from the repository root

Each run starts its own Spark session (about a minute per run).
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
RUN = ROOT / "perfbench" / "run.py"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
COUNTERS = ("kind", "total_jobs", "total_tasks", "commits", "files")
LINE = re.compile(r"^(e2e|layer) (\S+) = (\S+) (\S+)")


def _traced(workload: str):
    # --seconds 0 runs exactly one cycle in each of the two timed phases
    p = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--sf", "0.001",
         "--seed", "5", "--seconds", "0", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stdout[-2000:]
    dump = ROOT / ".bench_work" / "traces" / f"{workload}-seed5.json"
    return p.stdout.strip().splitlines(), json.loads(dump.read_text())


def _per_op(record: dict) -> list[tuple]:
    return [
        (r["phase"],) + tuple(r.get(k) for k in COUNTERS)
        for r in record["records"]
        if r["phase"] in ("traced", "probe", "epilogue")
    ]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_counters_repeat(workload):
    out1, rec1 = _traced(workload)
    out2, rec2 = _traced(workload)
    ops1, ops2 = _per_op(rec1), _per_op(rec2)
    assert ops1, "the traced phase ran no ops"
    assert ops1 == ops2

    # every line parses; every declared metric is printed with its unit
    last = json.loads(out1[-1])
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    printed = {}
    for line in out1[:-1]:
        m = LINE.match(line)
        if m:
            float(m.group(3))
            printed[m.group(2)] = m.group(4)
    for metric in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert printed.get(metric["name"]) == metric["unit"], metric["name"]
    for metric in SPEC["per_layer"]:
        got = last["metrics"][metric["name"]]
        assert got["unit"] == metric["unit"] and isinstance(got["value"], (int, float))
