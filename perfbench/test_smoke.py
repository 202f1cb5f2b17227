"""Smoke test of the benchmark: every workload and the traced run, end to
end at tiny sizes, in one Spark process.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that each workload passes its correctness checks and reports every
metric BENCHMARK.json names, with its unit and a sample count.
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_smoke_reports_every_metric():
    out = subprocess.run([sys.executable, "perfbench/run.py", "--smoke"], cwd=ROOT,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    lines = [json.loads(line) for line in out.stdout.splitlines() if line.startswith("{")]
    assert lines[-1]["smoke"] == "ok"
    reports = {r["report"]["workload"]: r["report"] for r in lines if "report" in r}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert sorted(reports) == sorted(w["name"] for w in spec["workloads"])
    for name, report in reports.items():
        assert report["problems"] == [] and report["failed"] == 0, name
        for group in ("end_to_end", "per_layer"):
            for m in spec[group]:
                got = report[group][m["name"]]
                assert got["unit"] == m["unit"], (name, m["name"])
                assert got["samples"] >= 1, (name, m["name"])
                assert isinstance(got["value"], float), (name, m["name"])
