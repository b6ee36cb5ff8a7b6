"""The checkpoint commit path: driver-written manifest files, their
counters against the data on disk, crash remnants, and the Spark-job budget
of a stage boundary and of a connected-components round."""

import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from deepkg_spark.checkpoint import (
    _CHECK_MOD,
    MANIFEST_SCHEMA,
    SPLIT_COL,
    _row_digest,
    read_manifest,
    run_incremental,
    run_staged,
)
from deepkg_spark.operators.graph import connected_components


def _disk_stats(df):
    """(row_count, checksum) recomputed from a frame read off disk."""
    r = df.agg(
        F.count(F.lit(1)).alias("c"),
        (F.sum(F.expr(_row_digest(df.columns))) % _CHECK_MOD).alias("k"),
    ).collect()[0]
    return int(r["c"]), int(r["k"] or 0)


def _jobs(spark, group, fn):
    """Number of Spark jobs `fn()` runs, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _manifest_files(manifest_dir):
    return sorted(f for f in os.listdir(manifest_dir) if not f.startswith("."))


def _docs(spark):
    return spark.range(60).selectExpr(
        "id AS doc_id", "concat('doc ', CAST(id AS STRING)) AS text",
        "IF(id % 7 = 0, NULL, id % 5) AS bucket",
    )


def test_staged_manifest_rows_match_stage_outputs_on_disk(spark, tmp_path):
    out = str(tmp_path)
    docs = _docs(spark)
    stages = [
        ("all", lambda _: docs),
        ("odd", lambda prev: prev.filter(F.col("doc_id") % 2 == 1)),
        ("none", lambda prev: prev.filter(F.col("doc_id") < 0)),
    ]
    counts, last = run_staged(spark, stages, out, "j")
    assert counts == {"all": 60, "odd": 30, "none": 0}
    assert last.count() == 0

    rows = spark.read.parquet(f"{out}/_manifest").collect()
    assert sorted(r[SPLIT_COL] for r in rows) == [0, 1, 2]
    for r in rows:
        name = stages[r[SPLIT_COL]][0]
        on_disk = spark.read.parquet(f"{out}/stage_{r[SPLIT_COL]:02d}_{name}")
        assert (r["row_count"], r["checksum"]) == _disk_stats(on_disk), name
        assert (r["job_id"], r["status"], r["attempt"]) == ("j", "ok", 1)
    empty = [r for r in rows if r[SPLIT_COL] == 2][0]
    assert (empty["row_count"], empty["checksum"]) == (0, 0)
    # one committed file per boundary, no temporary left behind
    files = _manifest_files(f"{out}/_manifest")
    assert len(files) == 3 and all(
        f.startswith("part-") and f.endswith(".parquet") for f in files
    ), files


def test_incremental_manifest_rows_match_split_outputs_on_disk(spark, tmp_path):
    out = str(tmp_path)
    corpus = spark.range(40).selectExpr(
        "concat('r', CAST(id % 3 AS STRING)) AS repo",
        "concat('p', CAST(id AS STRING)) AS path",
        "concat('body ', CAST(id AS STRING)) AS content",
    )

    def keep_some(df):  # leaves some splits with no output rows
        return df.filter(F.length("path") % 2 == 0)

    r = run_incremental(spark, corpus, keep_some, out, "ij", n_splits=8)
    assert r["processed"] == 8

    data = spark.read.parquet(f"{out}/data")
    man = spark.read.parquet(f"{out}/_manifest").collect()
    assert sorted(m[SPLIT_COL] for m in man) == list(range(8))
    for m in man:
        split = data.filter(F.col(SPLIT_COL) == m[SPLIT_COL]).drop(SPLIT_COL)
        assert (m["row_count"], m["checksum"]) == _disk_stats(split), m
    assert any(m["row_count"] == 0 and m["checksum"] == 0 for m in man)
    assert sum(m["row_count"] for m in man) == data.count() == r["rows"]


def test_manifest_file_infers_manifest_schema(spark, tmp_path):
    out = str(tmp_path)
    run_staged(spark, [("all", lambda _: _docs(spark))], out, "j")
    inferred = spark.read.parquet(f"{out}/_manifest").schema
    declared = spark.createDataFrame([], MANIFEST_SCHEMA).schema
    assert [(f.name, f.dataType) for f in inferred] == [
        (f.name, f.dataType) for f in declared
    ]


def test_stray_tmp_manifest_file_is_ignored_and_stage_reruns(spark, tmp_path):
    """A crash between writing a manifest file and renaming it leaves a
    `_tmp-*` file: read_manifest must not see it, and resume re-runs that
    stage."""
    out = str(tmp_path)
    docs = _docs(spark)
    calls = []

    def stage(name, fn):
        def run(prev):
            calls.append(name)
            return fn(prev)
        return name, run

    stages = [
        stage("all", lambda _: docs),
        stage("odd", lambda prev: prev.filter(F.col("doc_id") % 2 == 1)),
    ]
    first, _ = run_staged(spark, stages, out, "j")
    mdir = f"{out}/_manifest"
    ref = {tuple(r) for r in spark.read.parquet(mdir).collect()}

    # turn stage 1's committed file back into its pre-rename temporary
    (last,) = [
        f for f in _manifest_files(mdir)
        if pq.read_table(os.path.join(mdir, f)).column(SPLIT_COL).to_pylist() == [1]
    ]
    os.rename(os.path.join(mdir, last), os.path.join(mdir, "_tmp-" + last[5:]))
    assert [r[SPLIT_COL] for r in read_manifest(spark, mdir, "j").collect()] == [0]

    calls.clear()
    again, prev = run_staged(spark, stages, out, "j")
    assert calls == ["odd"]
    assert again == first and prev.count() == first["odd"]
    assert {tuple(r) for r in spark.read.parquet(mdir).collect()} == ref


def test_tmp_only_manifest_reruns_from_first_stage(spark, tmp_path):
    """A crash at the very first manifest commit: the manifest directory
    holds only a temporary file, which counts as no commit at all."""
    out = str(tmp_path)
    run_staged(spark, [("all", lambda _: _docs(spark))], out, "j")
    mdir = f"{out}/_manifest"
    (only,) = _manifest_files(mdir)
    os.rename(os.path.join(mdir, only), os.path.join(mdir, "_tmp-" + only[5:]))
    assert read_manifest(spark, mdir, "j").count() == 0

    calls = []
    counts, _ = run_staged(
        spark, [("all", lambda _: calls.append(1) or _docs(spark))], out, "j"
    )
    assert calls == [1] and counts == {"all": 60}


def test_run_staged_boundary_job_budget(spark, tmp_path):
    """Each stage boundary runs the stage's own write plus at most two jobs
    (the read-back checksum aggregate). Another bookkeeping pass — a
    manifest write through Spark, a schema-inference read — fails this."""
    src = _docs(spark)
    own = _jobs(spark, "ckpt-own-write",
                lambda: src.write.mode("overwrite").parquet(str(tmp_path / "w")))
    n = 3
    stages = [(f"s{i}", lambda _: src) for i in range(n)]
    staged = _jobs(spark, "ckpt-staged",
                   lambda: run_staged(spark, stages, str(tmp_path / "s"), "j"))
    assert staged <= n * (own + 2), (staged, own)


def test_connected_components_round_job_budget(spark):
    """A hash-min round is one materialization (its convergence probe is an
    Observation on that job), so a chain needing 4 more rounds costs at most
    3 more jobs per round; a separate count per round would exceed that."""

    def chain(length):
        v = spark.range(length + 1).selectExpr("id AS v")
        e = spark.range(length).selectExpr("id AS a", "id + 1 AS b")
        return lambda: connected_components(v, e, max_iter=length + 5).collect()

    n_short = _jobs(spark, "cc-chain-4", chain(4))
    n_long = _jobs(spark, "cc-chain-8", chain(8))
    assert n_long - n_short <= 4 * 3, (n_short, n_long)
