"""Spans around the calls into each layer, and the event-log parser that
turns them into ``<layer>.<metric>`` values.

A span records name, layer, start, end, parent and run id; spans live in
memory until the run ends. Every span carries its own Spark job group, so
the jobs (``statusTracker``) and the stage and SQL metrics (Spark's event
log) it caused can be attributed to it. A layer's self time is the length
of its spans minus the part covered by their child spans.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

from perfbench.common import LAYER_METRICS, LAYERS

_STAGE_METRICS = {
    # event-log accumulable name -> (metric, scale to the reported unit)
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.shuffle.read.fetchWaitTime": ("fetch_wait_s", 1e-3),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.resultSize": ("driver_result_mb", 1e-6),
    "time to run Python workers": ("python_s", 1e-3),
    "data sent to Python workers": ("arrow_mb", 1e-6),
    "data returned from Python workers": ("arrow_mb", 1e-6),
}


class Tracer:
    """Span recorder. Disabled, every method is a no-op and no job group is
    set, so untraced operations run exactly as the timed run does."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cost_s = 0.0  # time spent in open/close: the spans' own overhead

    def open(self, layer: str | None, name: str | None = None) -> int | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name or layer, "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id, "start": time.perf_counter(), "end": None,
            "group": f"{self.run_id}-{sid}",
        })
        self._stack.append(sid)
        self.sc.setJobGroup(self.spans[sid]["group"], self.spans[sid]["name"])
        self.cost_s += time.perf_counter() - t0
        return sid

    def close(self, sid: int | None) -> None:
        if sid is None or self.spans[sid]["end"] is not None:
            return
        t0 = self.spans[sid]["end"] = time.perf_counter()
        while self._stack and self._stack[-1] != sid:
            self._stack.pop()  # a child left open by an exception
        if self._stack:
            self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self.spans[self._stack[-1]]["group"], "")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.cost_s += time.perf_counter() - t0

    @contextmanager
    def span(self, layer: str | None, name: str | None = None):
        sid = self.open(layer, name)
        try:
            yield
        finally:
            self.close(sid)

    def wrap(self, layer: str, fn):
        """`fn` with a span around each call."""
        def traced(*args, **kwargs):
            with self.span(layer, getattr(fn, "__name__", layer)):
                return fn(*args, **kwargs)
        return traced

    def wrap_stage(self, layer: str, name: str, fn):
        """A checkpoint.run_staged stage whose span covers the stage function
        and the write of its output; the checksum and manifest jobs that
        run_staged triggers next fall back to the enclosing (checkpoint)
        span's job group."""
        tracer = self

        class _Writer:
            def __init__(self, writer, sid):
                self._w, self._sid = writer, sid

            def mode(self, m):
                self._w = self._w.mode(m)
                return self

            def parquet(self, path):
                try:
                    self._w.parquet(path)
                finally:
                    tracer.close(self._sid)

        class _Output:
            def __init__(self, df, sid):
                self._df, self._sid = df, sid

            @property
            def write(self):
                return _Writer(self._df.write, self._sid)

            def __getattr__(self, attr):
                return getattr(self._df, attr)

        def stage(prev):
            sid = tracer.open(layer, name)
            try:
                df = fn(prev)
            except BaseException:
                tracer.close(sid)
                raise
            return _Output(df, sid) if sid is not None else df

        return stage

    def spark_counts(self, spans: list[dict]) -> None:
        """Jobs and stages of each span, from statusTracker (call before the
        tracker evicts them: once per operation)."""
        st = self.sc.statusTracker()
        for s in spans:
            jobs = list(st.getJobIdsForGroup(s["group"]))
            s["jobs"] = len(jobs)
            s["stages"] = 0
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    s["stages"] += len(info.stageIds)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(event_dir: str) -> dict:
    """{job group: {metric: value}} summed over the completed stages of the
    group's jobs, read from an uncompressed (possibly rolled) event log."""
    stage_group: dict[int, str] = {}
    per_stage: dict[int, dict] = {}
    files = sorted(
        f for f in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for sid in e["Stage IDs"]:
                            stage_group.setdefault(sid, g)
                elif '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    vals: dict = {}
                    for a in info.get("Accumulables", []):
                        m = _STAGE_METRICS.get(a.get("Name"))
                        if m:
                            vals[m[0]] = vals.get(m[0], 0.0) + float(a["Value"]) * m[1]
                    per_stage[info["Stage ID"]] = vals
    out: dict[str, dict] = {}
    for sid, vals in per_stage.items():
        g = stage_group.get(sid)
        if g is None:
            continue
        acc = out.setdefault(g, {})
        for k, v in vals.items():
            acc[k] = acc.get(k, 0.0) + v
    return out


def layer_metrics(spans: list[dict], group_metrics: dict) -> dict:
    """Every ``<layer>.<metric>`` summed over `spans`, plus the share of
    operation time (root spans, layer None) that no layer span covers."""
    out = {f"{l}.{m}": 0.0 for l in LAYERS for m, _ in LAYER_METRICS}
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    op_s = uncovered_s = 0.0
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        self_s = (s["end"] - s["start"]) - _covered(kids)
        if s["layer"] is None:  # an operation's root span
            op_s += s["end"] - s["start"]
            uncovered_s += self_s
            continue
        vals = {"self_s": self_s, "jobs": s.get("jobs", 0), "stages": s.get("stages", 0)}
        vals.update(group_metrics.get(s["group"], {}))
        for k, v in vals.items():
            out[f"{s['layer']}.{k}"] += v
    out["trace.unspanned_share"] = uncovered_s / op_s if op_s > 0 else 0.0
    return out
