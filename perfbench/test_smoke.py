"""Tiny-size smoke test of the benchmark itself.

    python -m pytest perfbench/test_smoke.py -q

Runs ``run.py`` on every workload at a tiny input scale, untraced and
traced, and checks the result line against ``BENCHMARK.json``; then
checks that a directory holding only the benchmark (no package under
test) makes it fail without printing a result.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd, workload, trace, seed=3):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--scale", "0.01"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


# per-layer metrics that must be non-zero on the workload that runs the layer
LAYERS_RUN = {
    "full_suite": ("profile.s", "violations.rows",
                   "uniqueness.duplicate_stats_s", "integrity.ri_violations",
                   "report.report_s", "report.rows_collected",
                   "readers.read_spreadsheet_s", "readers.rows",
                   "tableio.metadata_s", "rules.from_xlsx_s", "scaling_eff"),
    "partition_resume": ("partition_verdicts.batches", "fingerprints.s",
                         "manifest.rows_written", "manifest.files",
                         "resume.recomputed_per_changed"),
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_result_line(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0
    if trace:
        for name in LAYERS_RUN[workload]:
            assert out["metrics"][name]["value"] > 0, name
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_fails_without_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "full_suite", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
