"""Smoke test of the benchmark itself, at the smallest input size.

    python3 perfbench/smoke_test.py

For every workload in BENCHMARK.json it runs run.py once untraced and once
traced, and asserts that every end-to-end (untraced) or per-layer (traced)
metric of BENCHMARK.json prints with its unit and that every output check
passes. The traced run also alters one output row of its first operation
(PERFBENCH_CORRUPT=1): that operation must be reported failed. Last, the
benchmark must refuse to run, with a non-zero exit and no result line, in a
directory that holds only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run(cwd: str, workload: str, trace: int, corrupt: bool = False):
    env = dict(os.environ, PERFBENCH_CORRUPT="1" if corrupt else "0")
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "smoke"]
    p = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None), p


def check_metrics(result: dict, specs: list, where: str) -> None:
    got = result["metrics"]
    for m in specs:
        assert m["name"] in got, f"{where}: {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{where}: {m['name']} unit"
        assert isinstance(got[m["name"]]["value"], (int, float)), f"{where}: {m['name']}"
    assert set(got) == {m["name"] for m in specs}, f"{where}: extra metrics"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (x["name"] for x in bench["workloads"]):
        code, res, p = run(ROOT, w, 0)
        assert code == 0 and res, f"{w}: exit {code}\n{p.stderr[-3000:]}"
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (w, res)
        check_metrics(res, bench["end_to_end"], f"{w} untraced")
        assert all(v["value"] > 0 for v in res["metrics"].values()), (w, res)

        code, res, p = run(ROOT, w, 1, corrupt=True)
        assert code == 0 and res, f"{w} traced: exit {code}\n{p.stderr[-3000:]}"
        assert not res["correct"] and res["failed"] == 1, (w, "corrupted output passed")
        check_metrics(res, bench["per_layer"], f"{w} traced")
        print(f"ok {w}")

    bare = os.path.join(BENCH_DIR, ".runs", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns(".cache", ".runs", "__pycache__"))
    code, res, _ = run(bare, bench["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and res is None, "ran without the package"
    print("ok bare directory refused")
    return 0


if __name__ == "__main__":
    sys.exit(main())
