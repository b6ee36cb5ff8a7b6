"""Names, sizes and the order-independent row digest shared by the
benchmark's processes (generator, worker, parent, smoke test)."""

from __future__ import annotations

import hashlib
import math
import os

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
RUNS_DIR = os.path.join(BENCH_DIR, ".runs")

WORKLOADS = ("kg_curate", "link_batches")

# The package's modules, measured from outside as layers.
LAYERS = (
    "sources", "relations", "mentions", "canonicalize", "linking",
    "similarity", "graph", "dedup", "textstats", "curation", "checkpoint",
)
LAYER_METRICS = (
    ("self_s", "s"), ("jobs", "count"), ("stages", "count"), ("cpu_s", "s"),
    ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("fetch_wait_s", "s"),
    ("spill_mb", "MB"), ("python_s", "s"), ("arrow_mb", "MB"),
    ("driver_result_mb", "MB"),
)
RATIOS = ("linking.recall_at_n", "similarity.recall_at_k", "dedup.pair_recall")
TRACE_EXTRAS = (
    ("trace.wall_s", "s"), ("trace.overhead_s", "s"), ("trace.unspanned_share", "fraction"),
)

END_TO_END = (
    ("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "rows/s"),
    ("jvm_peak_rss_mb", "MB"), ("local_dir_peak_mb", "MB"),
)


def per_layer_units() -> dict:
    units = {f"{l}.{m}": u for l in LAYERS for m, u in LAYER_METRICS}
    units.update({r: "fraction" for r in RATIOS})
    units.update(dict(TRACE_EXTRAS))
    return units


# Input sizes per scale. "full" is what the benchmark measures; "smoke" is
# the smallest size that still reaches every code path.
SIZES = {
    "full": {
        "kg_files": 400, "kg_mods": 40,
        "lk_dict": 2000, "lk_cands": 2000, "lk_batch": 32, "lk_batches": 16,
        "cu_docs": 400, "cu_eval": 40,
    },
    "smoke": {
        "kg_files": 300, "kg_mods": 20,
        "lk_dict": 200, "lk_cands": 200, "lk_batch": 16, "lk_batches": 5,
        "cu_docs": 200, "cu_eval": 20,
    },
}
DIM = 32          # embedding width (multiple of similarity.PQ_M)
TOPN = 5          # bm25 / ANN / dense top-k


def _cell(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        return repr(r + 0.0)  # -0.0 -> 0.0
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def digest(cols, rows) -> str:
    """Order-independent digest of a result: columns sorted by name,
    floats rounded to 6 places, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1e".join(sorted(c.lower() for c in cols)).encode())
    for line in lines:
        h.update(b"\x1e")
        h.update(line.encode())
    return f"{len(lines)}:{h.hexdigest()[:32]}"


def parquet_rows(path: str):
    """(columns, rows) of a parquet file or directory (hive partitions are
    read back as string columns)."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    return t.column_names, list(zip(*(c.to_pylist() for c in t.columns)))


def dir_bytes(root: str) -> int:
    """Bytes of the regular files under `root`."""
    total = 0
    stack = [root]
    while stack:
        d = stack.pop()
        try:
            it = os.scandir(d)
        except OSError:
            continue
        with it:
            for e in it:
                try:
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                    elif e.is_file(follow_symlinks=False):
                        total += e.stat(follow_symlinks=False).st_size
                except OSError:
                    pass
    return total
