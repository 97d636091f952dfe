"""Smoke test of the benchmark itself: every workload at a tiny size, in
both modes, must print a well-formed result that names every metric of
BENCHMARK.json with its unit, and a tree holding only the benchmark must
fail without printing one.

    python3 perfbench/smoke.py        # from the repository root, ~4 min
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
TINY_DOCS = 200


def run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def check_result(spec: dict, workload: str, trace: int) -> list[str]:
    p = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--docs", str(TINY_DOCS))
    where = f"{workload} --trace {trace}"
    if p.returncode != 0 or not p.stdout.strip():
        return [f"{where}: exit {p.returncode}\n{p.stderr[-3000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errors.append(f"{where}: correct={res.get('correct')} failed={res.get('failed')}")
    declared = spec["per_layer" if trace else "end_to_end"]
    metrics = res.get("metrics", {})
    for name, m in metrics.items():
        if not NAME.fullmatch(name):
            errors.append(f"{where}: bad metric name {name!r}")
        if not isinstance(m.get("value"), (int, float)) or not m.get("unit"):
            errors.append(f"{where}: {name} lacks a numeric value or a unit")
    for d in declared:
        got = metrics.get(d["name"])
        if got is None:
            errors.append(f"{where}: {d['name']} not emitted")
        elif got.get("unit") != d["unit"]:
            errors.append(f"{where}: {d['name']} unit {got.get('unit')!r} != {d['unit']!r}")
    extra = set(metrics) - {d["name"] for d in declared}
    if extra:
        errors.append(f"{where}: undeclared metrics {sorted(extra)}")
    return errors


def check_bare_tree(spec: dict) -> list[str]:
    """Only BENCHMARK.json and the benchmark's paths: must fail, quietly."""
    bare = ROOT / ".perfbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for rel in spec["paths"]:
            shutil.copytree(ROOT / rel, bare / rel, ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, "--workload", spec["workloads"][0]["name"], "--seed", "1",
                "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        return [f"bare tree: exit {p.returncode}, stdout {p.stdout[-200:]!r}"]
    return []


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors = check_bare_tree(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors += check_result(spec, w["name"], trace)
    for e in errors:
        print("FAIL", e)
    print("smoke:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
