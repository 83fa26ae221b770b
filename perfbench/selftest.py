#!/usr/bin/env python3
"""Tiny end-to-end self-test of the benchmark (about three minutes).

    python3 perfbench/selftest.py

Checks ``BENCHMARK.json`` against the limits the benchmark promises,
runs both workloads at tiny size in one process untraced and traced,
checks the printed result objects, and checks that a copy of the
benchmark without the package exits non-zero without a result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_definition(spec: dict) -> None:
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }, sorted(spec)
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    bounds = {}
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
        bounds[m["name"]] = m["bound"]
    assert bounds["setup_s"] == max(bounds.values())
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower"), m
        names.append(m["name"])
    assert len(names) == len(set(names)), "a name is used twice"
    assert 1 <= spec["run_seconds"] <= 60


def run(args: list[str], cwd: str) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        stdout=subprocess.PIPE,
        timeout=900,
        text=True,
    )
    return proc.returncode, proc.stdout


def check_result(stdout: str, section: list[dict], workloads: list[str]) -> None:
    result = json.loads(stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] is True and result["failed"] == 0, result
    assert result["attempted"] >= 1
    want = {f"{w}.{m['name']}" for w in workloads for m in section}
    assert set(result["metrics"]) == want, set(result["metrics"]) ^ want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), (name, m)


def main() -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_definition(spec)
    workloads = [w["name"] for w in spec["workloads"]]
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        args = ["--workload", "all", "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--size", "tiny"]
        code, out = run(args, CHECKOUT)
        assert code == 0, f"--trace {trace} exited {code}"
        check_result(out, spec[section], workloads)
        print(f"selftest: --trace {trace} ok")

    bare = os.path.join(CHECKOUT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), bare)
    try:
        code, out = run(["--workload", workloads[0], "--seed", "1", "--seconds", "1",
                         "--trace", "0"], bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and '"correct"' not in out, (code, out)
    print("selftest: bare copy exits non-zero without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
