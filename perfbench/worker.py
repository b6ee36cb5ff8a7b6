"""One benchmark process: set up a SparkSession and one workload, then run
the workload's warm-up operations (if any), then passes of the workload
(its fixed amount of work) in a closed loop with one caller until
`--seconds` of pass time have been measured. Started by
``run.py``, which owns the environment (local dir, driver memory, event
log) and turns the result file into metrics.

With ``--trace 1`` the passes run inside spans and job groups; the
per-layer metrics describe the set-up, the warm-up and the first pass.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import dir_bytes  # noqa: E402


class PeakSampler:
    """Peak bytes under a directory, polled every 0.1 s while running."""

    def __init__(self, root: str):
        self.root, self.peak = root, 0
        self.stop = threading.Event()
        self.thread = threading.Thread(target=self._poll, daemon=True)
        self.thread.start()

    def _poll(self):
        while not self.stop.wait(0.1):
            self.peak = max(self.peak, dir_bytes(self.root))

    def close(self) -> float:
        self.stop.set()
        self.thread.join()
        return max(self.peak, dir_bytes(self.root)) / 1e6


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run_op(wl, tracer, i: int, traced: bool, corrupt: bool) -> dict:
    """Operation i, timed; then (untimed) its output check."""
    tracer.enabled = traced
    first_span = len(tracer.spans)
    root = tracer.open(None, "op")
    err, res = None, None
    t0 = time.perf_counter()
    try:
        res = wl.op(i)
    except Exception as e:  # noqa: BLE001 — a failed operation is a result
        err = f"{type(e).__name__}: {e}"[:500]
    lat = time.perf_counter() - t0
    tracer.close(root)
    if traced:
        tracer.spark_counts(tracer.spans[first_span:])
    tracer.enabled = False
    ratios = {}
    if err is None:
        try:
            outs = wl.outputs(res)
            bad = wl.check(i, outs, corrupt=corrupt)
            if bad:
                err = f"output check failed: {', '.join(bad)}"
            elif traced:
                ratios = wl.ratios(i, outs)
        except Exception as e:  # noqa: BLE001
            err = f"check raised {type(e).__name__}: {e}"[:500]
    return {"latency_s": lat, "error": err, "ratios": ratios}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one output row of the first operation before its check")
    a = ap.parse_args()

    from deepkg_spark.session import get_spark
    from perfbench.trace import Tracer, layer_metrics, read_event_log
    from perfbench.workloads import WORKLOADS

    n = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(app_name=f"perfbench-{a.workload}", master=f"local[{n}]",
                      shuffle_partitions=n)
    sc = spark.sparkContext
    with open(os.path.join(a.inputs, "truth.json")) as f:
        truth = json.load(f)
    tracer = Tracer(sc, run_id=f"pb{os.getpid()}")
    tracer.enabled = bool(a.trace)
    wl = WORKLOADS[a.workload](spark, a.inputs, truth, a.work, tracer)
    result = {"ready": time.monotonic(), "rows": wl.rows}
    tracer.spark_counts(tracer.spans)
    tracer.enabled = False

    sampler = PeakSampler(os.environ["SPARK_LOCAL_DIRS"])
    warmup = [run_op(wl, tracer, i, bool(a.trace), a.corrupt and i == 0)
              for i in range(wl.warmup)]
    passes, measured, i = [], 0.0, wl.warmup
    while not passes or measured < a.seconds:
        cost0, ops = tracer.cost_s, []
        for _ in range(wl.units):
            ops.append(run_op(wl, tracer, i, bool(a.trace), a.corrupt and i == 0))
            i += 1
        wall = sum(o["latency_s"] for o in ops)
        passes.append({"wall_s": wall, "ops": ops, "trace_cost_s": tracer.cost_s - cost0,
                       "spans_end": len(tracer.spans)})
        measured += wall
        if len(passes) == 1:
            # memory peaks over a fixed amount of work (warm-up and first
            # pass), not over however many passes fit into --seconds
            result["local_dir_peak_mb"] = sampler.close()
            proc = getattr(sc._gateway, "proc", None)
            result["jvm_peak_rss_mb"] = vm_hwm_mb(proc.pid) if proc is not None else 0.0
    result["warmup"], result["passes"] = warmup, passes
    spark.stop()
    if a.trace:
        # set-up, warm-up and first pass spans: the timed run plus tracing
        layers = layer_metrics(tracer.spans[:passes[0]["spans_end"]],
                               read_event_log(os.environ["PERFBENCH_EVENT_DIR"]))
        layers["trace.wall_s"] = passes[0]["wall_s"]
        layers["trace.overhead_s"] = passes[0]["trace_cost_s"]
        ratios: dict = {}
        for o in passes[0]["ops"]:
            for k, v in o["ratios"].items():
                ratios.setdefault(k, []).append(v)
        layers.update({k: sum(v) / len(v) for k, v in ratios.items()})
        result["per_layer"] = layers
    with open(a.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
