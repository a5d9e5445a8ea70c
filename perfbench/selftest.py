"""Self-test of the benchmark on the sf0.001 tables.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced with ``--scale small``
and checks that the output gate passed, that the result line carries
exactly the metrics BENCHMARK.json names, each with its unit, that the
detail lines carry all six end-to-end figures and every layer figure,
and that the span file was written. Finally checks that the command
fails, without a result line, in a directory that holds only
BENCHMARK.json and the benchmark's files. Takes about seven minutes on
four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import DETAIL_LAYER_UNITS, DETAIL_UNITS  # noqa: E402
from workloads import CURATION_OPS, WORKLOADS  # noqa: E402


def _run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--scale", "small"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def _detail(lines: list[str], tag: str) -> dict:
    for ln in lines:
        if ln.startswith(f"perfbench {tag} "):
            return json.loads(ln[len(f"perfbench {tag} "):])
    raise AssertionError(f"no 'perfbench {tag}' line")


def check(workload: str, trace: int, spec: dict) -> list[str]:
    problems = []
    rc, lines = _run(ROOT, workload, trace)
    if rc != 0 or not lines:
        return [f"exit code {rc}"]
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        problems.append(f"gate: correct={result.get('correct')} failed={result.get('failed')}")
    names = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in names}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"metrics {got} != {want}")
    for k, v in result["metrics"].items():
        if not isinstance(v.get("value"), (int, float)):
            problems.append(f"{k} value {v.get('value')!r}")
    e2e = _detail(lines, "e2e")["metrics"]
    if {k: v["unit"] for k, v in e2e.items()} != DETAIL_UNITS:
        problems.append(f"e2e detail {sorted(e2e)}")
    if trace:
        layers = _detail(lines, "layers")
        have = {k: v["unit"] for k, v in layers["metrics"].items()}
        need = dict(DETAIL_LAYER_UNITS)
        if workload == "curation_pass":
            need.update({f"datapipe.{q}.build_s": "s" for q in CURATION_OPS})
        missing = {k: u for k, u in need.items() if have.get(k) != u}
        if missing:
            problems.append(f"layer metrics missing {missing}")
        if layers["metrics"]["datapipe.checkpoints_live"]["value"] != 0:
            problems.append("checkpoints left live")
        if not os.path.isfile(os.path.join(ROOT, layers["span_file"])) or layers["spans"] < 1:
            problems.append("no span file")
    return problems


def check_bare_directory(spec: dict) -> list[str]:
    """The command must fail without printing a result where the program
    is absent."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    try:
        rc, lines = _run(bare, next(iter(WORKLOADS)), 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or (lines and lines[-1].startswith("{")):
        return [f"bare directory: exit {rc}, last line {lines[-1:]}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    failed = False
    for workload in WORKLOADS:
        for trace in (0, 1):
            problems = check(workload, trace, spec)
            failed |= bool(problems)
            print(f"{'FAIL' if problems else 'ok  '} {workload} trace={trace} {'; '.join(problems)}",
                  flush=True)
    problems = check_bare_directory(spec)
    failed |= bool(problems)
    print(f"{'FAIL' if problems else 'ok  '} bare directory {'; '.join(problems)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
