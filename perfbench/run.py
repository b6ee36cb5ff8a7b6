"""deepkg_spark benchmark: one workload, one seed, one line of metrics.

    python3 perfbench/run.py --workload kg_curate --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed (cached under
perfbench/.cache), then starts one worker process on local[N], N = min(2,
nproc), that sets up a SparkSession, runs the workload's warm-up operations
(link_batches: the cold first batch and three more) and then passes of the
workload in a closed loop with one caller until `--seconds` of pass time are
measured, checking every operation's outputs against the DuckDB twins. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it repeat the metrics for a reader, with the error rate,
the latency of every operation of a workload with warm-up (the cold first
batch of link_batches among them), and the CPU time the hypervisor took from
this machine during the run.

Every run gets its own Spark local dir, temp dir and output dir under
perfbench/.runs, removed when the run ends, and a pinned driver heap; the
settings are listed in perfbench/benchmark_notes.json. PERFBENCH_CORRUPT=1
alters one output row of the first operation before its check (the check
must then fail; used by smoke_test.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench.common import END_TO_END, RUNS_DIR, WORKLOADS, per_layer_units  # noqa: E402

DRIVER_MEM = "768m"       # fits beside the shuffle on a 16 GB host
# Task slots. The inputs are small enough that a pass is bound by scheduling,
# not by parallel work: two slots run it as fast as four and leave the other
# CPUs to the JVM's GC and JIT threads, the Python driver and Python workers.
SLOTS = min(2, os.cpu_count() or 1)
RUN_LIMIT_S = 170        # the whole run, set-ups and checks included


def _env(run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    env = dict(os.environ)
    submit = [
        "--driver-java-options",
        f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'events')}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(SLOTS),
        "DEEPKG_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        "PERFBENCH_EVENT_DIR": os.path.join(run_dir, "events"),
    })
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _reap(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (python, the JVM, Python
    workers) and wait until every member has ended."""
    pgid = proc.pid
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            break
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        end = time.monotonic() + wait_s
        while _group_alive(pgid) and time.monotonic() < end:
            try:
                proc.wait(timeout=0.1)
            except subprocess.TimeoutExpired:
                pass
    if proc.returncode is None:
        proc.wait()


def _worker(args: list, env: dict, cwd: str, timeout: float) -> tuple[float, dict | None, str]:
    """Run worker.py; (start time, its result or None, error text)."""
    result_path = os.path.join(cwd, f"result-{time.monotonic_ns()}.json")
    cmd = [sys.executable, os.path.join(BENCH_DIR, "worker.py"), *args, "--result", result_path]
    start = time.monotonic()
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, start_new_session=True,
                            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    err = ""
    try:
        _, stderr = proc.communicate(timeout=max(1.0, timeout))
        if proc.returncode != 0:
            err = f"worker exited {proc.returncode}: {stderr.strip()[-2000:]}"
    except subprocess.TimeoutExpired:
        err = f"worker killed after {timeout:.0f} s"
    finally:
        _reap(proc)
    if err or not os.path.exists(result_path):
        return start, None, err or "worker wrote no result"
    with open(result_path) as f:
        return start, json.load(f), ""


def _steal_jiffies() -> int:
    """CPU time stolen by the hypervisor so far, all CPUs (0 where unknown)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return 0


def main() -> int:
    ap = argparse.ArgumentParser(description="deepkg_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="full", choices=["full", "smoke"])
    a = ap.parse_args()
    # a terminated run still stops its worker group and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isfile(os.path.join(ROOT, "deepkg_spark", "__init__.py")):
        print(f"perfbench: no deepkg_spark package beside {BENCH_DIR}", file=sys.stderr)
        return 2
    t_begin = time.monotonic()
    from perfbench.gen import ensure_inputs

    inputs, _ = ensure_inputs(a.workload, a.seed, a.scale)
    run_dir = os.path.join(RUNS_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "work", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    args = ["--workload", a.workload, "--inputs", inputs, "--seconds", str(a.seconds),
            "--work", os.path.join(run_dir, "work"), "--trace", str(a.trace)]
    if os.environ.get("PERFBENCH_CORRUPT") == "1":
        args.append("--corrupt")
    steal0 = _steal_jiffies()
    try:
        start, res, err = _worker(args, _env(run_dir, bool(a.trace)), run_dir,
                                  RUN_LIMIT_S - (time.monotonic() - t_begin))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    stolen = (_steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK")
    if res is None:
        print(f"perfbench: {err}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    passes = res["passes"]
    ops = res["warmup"] + [o for p in passes for o in p["ops"]]
    failed = [o for o in ops if o["error"]]
    for o in failed[:5]:
        print(f"failed operation: {o['error']}", file=sys.stderr)
    print(f"workload {a.workload} seed {a.seed}: {len(passes)} passes, {len(ops)} operations, "
          f"{len(failed)} failed, error_rate {len(failed) / len(ops):.4f}; "
          f"{stolen:.1f} CPU-s stolen by the hypervisor during the run")
    if res["warmup"]:
        def lat(part):
            return " ".join(f"{o['latency_s']:.3f}" for o in part)
        print(f"operation latency (s): warm-up {lat(res['warmup'])}; "
              f"timed {lat(ops[len(res['warmup']):])}")
    if a.trace:
        units = per_layer_units()
        metrics = {k: res["per_layer"].get(k, 0.0) for k in units}
    else:
        wall = statistics.median(p["wall_s"] for p in passes)
        units = dict(END_TO_END)
        metrics = {
            "setup_s": res["ready"] - start,
            "wall_s": wall,
            "rows_per_s": res["rows"] / wall,
            "jvm_peak_rss_mb": res["jvm_peak_rss_mb"],
            "local_dir_peak_mb": res["local_dir_peak_mb"],
        }
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
