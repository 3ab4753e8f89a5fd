"""Self-test of the benchmark's contract at a tiny input size.

    python3 perfbench/selftest.py

Checks that ``BENCHMARK.json`` is well formed, that the benchmark
refuses to run, printing no result, in a directory holding only
``BENCHMARK.json`` and the benchmark's own files, and that every
workload, ``recrawl`` too, prints exactly ``{correct, attempted,
failed, metrics}`` with every end-to-end metric (``--trace 0``, all
three through ``--workload all``) or every per-layer metric
(``--trace 1``) and its unit. Takes several minutes: every run starts
its own JVMs.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # the checkout, not perfbench/
from perfbench.run import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(spec: dict) -> None:
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}, sorted(spec)
    assert 1 <= len(spec["paths"]) <= 16
    for p in spec["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and \
            not p.startswith("/") and ".." not in p.split("/"), p
        assert os.path.isdir(os.path.join(ROOT, p)), p
    assert isinstance(spec["run_seconds"], int) and \
        1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= len(spec["end_to_end"]) <= 16
    assert 1 <= len(spec["per_layer"]) <= 128
    names = []
    for w in spec["workloads"]:
        assert w["name"] in WORKLOADS, w
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200, w
        assert "\n" not in w["why"]
        names.append(w["name"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert {"name", "unit", "better"} <= set(m), m
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        names.append(m["name"])
    assert all(NAME.match(n) for n in names), names
    assert len(names) == len(set(names)), "names must be unique"
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(json.dumps(spec)) <= 64 * 1024


def check_result(res: dict, wanted: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] is True and res["failed"] == 0, res
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    got = res["metrics"]
    assert set(got) == {m["name"] for m in wanted}, \
        sorted(set(got) ^ {m["name"] for m in wanted})
    for m in wanted:
        v = got[m["name"]]
        assert set(v) == {"value", "unit"} and v["unit"] == m["unit"], (m, v)
        assert isinstance(v["value"], (int, float)) and \
            math.isfinite(v["value"]), (m, v)


def results(stdout: str) -> list[dict]:
    """The result lines of one or more runs, in order."""
    lines = [json.loads(x) for x in stdout.splitlines() if x.startswith("{")]
    return [x for x in lines if "metrics" in x]


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "0.02"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600, check=False)


def check_bare_dir(spec: dict) -> None:
    """Without the program next to it the benchmark must fail fast."""
    parent = os.path.join(ROOT, ".perfbench")
    os.makedirs(parent, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=parent, prefix="bare-") as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run(d, spec["workloads"][0]["name"], 0)
        assert p.returncode != 0, p.stdout
        assert not p.stdout.strip(), p.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_spec(spec)
    check_bare_dir(spec)
    # every workload at --trace 0 through one "all" command, recrawl
    # included, which BENCHMARK.json leaves out; then each at --trace 1
    p = run(ROOT, "all", 0)
    assert p.returncode == 0, p.stderr[-3000:]
    got = results(p.stdout)
    assert len(got) == len(WORKLOADS), p.stdout[-3000:]
    for name, res in zip(WORKLOADS, got):
        check_result(res, spec["end_to_end"])
        print(f"ok {name} --trace 0")
    for name in WORKLOADS:
        p = run(ROOT, name, 1)
        assert p.returncode == 0, p.stderr[-3000:]
        check_result(results(p.stdout)[-1], spec["per_layer"])
        print(f"ok {name} --trace 1")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
