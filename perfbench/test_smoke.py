"""Smoke test of the benchmark itself: every workload on the sf0.001
fixture, untraced and traced. Run from the checkout root:

    python3 -m pytest perfbench/test_smoke.py -q

It checks the output contract (every metric of BENCHMARK.json by name
and unit), that the payload computes ``failed_ratio``, and that a traced
run writes spans with op ids and parents. Timings are not checked.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["llm-corpus", "lake", "olap"])
def test_workload_emits_the_contract(workload, trace):
    payload, last = _run(workload, trace)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["attempted"] >= 1 and isinstance(last["failed"], int)
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(last["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert 0.0 <= payload["failed_ratio"] <= 1.0
    for key in ("nproc", "seed", "spark_conf", "tables", "git_commit", "host"):
        assert payload[key] is not None, key
    if workload == "lake":
        assert payload["known_defect"]["attempted"] >= 1
    if trace:
        with open(payload["spans"], encoding="utf-8") as fh:
            spans = json.load(fh)
        assert spans and all(
            set(s) == {"id", "name", "start", "end", "parent", "op"} for s in spans)
        ops = [s for s in spans if s["op"] is not None]
        assert ops and all(s["parent"] is not None and s["end"] >= s["start"] for s in ops)
