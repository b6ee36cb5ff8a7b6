"""Triple extraction vs the independent gold derivation, scored with the
reference's multiset P/R semantics — the binding P/R >= 0.95 check."""

from collections import Counter

from deepkg_spark.metrics import PRF1, multiset_counts, score_frames, score_python
from deepkg_spark.operators.relations import (
    TRIPLE_COLS,
    gold_triples_sql,
    triples_frame,
    triples_udf,
)
from deepkg_spark.sources.corpus import load_corpus
from tests.compare import duck_connect


def test_count_instance_multiset_semantics():
    """One-gold-one-match removal (scorer.py:101-107 semantics)."""
    m = PRF1()
    m.count_instance(["a", "a", "b"], ["a", "a", "a", "c"])
    assert (m.tp, m.gold_num, m.pred_num) == (2, 3, 4)
    assert abs(m.precision - 0.5) < 1e-12 and abs(m.recall - 2 / 3) < 1e-12
    m2 = multiset_counts(["a", "a", "b"], ["a", "a", "a", "c"])
    assert (m2.tp, m2.gold_num, m2.pred_num) == (m.tp, m.gold_num, m.pred_num)


def test_count_instance_modes():
    """set / normal / multimatch semantics (scorer.py:79-111)."""
    gold, pred = ["a", "a", "b"], ["a", "a", "a", "c"]
    m_set = PRF1()
    m_set.count_instance(gold, pred, mode="set")
    assert (m_set.tp, m_set.gold_num, m_set.pred_num) == (1, 2, 2)
    m_multi = PRF1()
    m_multi.count_instance(gold, pred, mode="multimatch")
    assert (m_multi.tp, m_multi.gold_num, m_multi.pred_num) == (3, 3, 4)


def test_strict_vs_boundary_variant():
    """boundary ignores entity types (scorer.py:380-435)."""
    gold = [("d1", "x", "T1", "rel", "y", "T2")]
    pred = [("d1", "x", "WRONG", "rel", "y", "T2")]
    strict = score_python(gold, pred, doc_key_len=1, variant="strict")
    boundary = score_python(gold, pred, doc_key_len=1, variant="boundary")
    assert strict.tp == 0 and boundary.tp == 1


def test_udf_equals_frame_triples(spark, sf_dir):
    corpus = load_corpus(spark, sf_dir)
    f = Counter(tuple(r) for r in triples_frame(corpus).select(*TRIPLE_COLS).collect())
    u = Counter(tuple(r) for r in triples_udf(corpus).select(*TRIPLE_COLS).collect())
    assert f == u and sum(f.values()) > 0


def test_extraction_pr_vs_gold(spark, sf_dir):
    """Extraction (both physical paths) scores P/R = 1.0 vs the arithmetic
    gold fixture — far above the binding 0.95 target."""
    corpus = load_corpus(spark, sf_dir)
    con = duck_connect(sf_dir)
    gold = [tuple(r) for r in con.sql(gold_triples_sql()).fetchall()]
    pred = [tuple(r) for r in triples_frame(corpus).select(*TRIPLE_COLS).collect()]

    # python scorer (per-document grouping on repo,path = first 2 fields)
    m = score_python(gold, pred, doc_key_len=2)
    assert m.precision >= 0.95 and m.recall >= 0.95
    assert m.precision == 1.0 and m.recall == 1.0 and m.f1 == 1.0

    # distributed scorer agrees
    gold_df = spark.sql(gold_triples_sql())
    d = score_frames(gold_df, triples_frame(corpus).select(*TRIPLE_COLS), TRIPLE_COLS)
    assert d["P"] == 1.0 and d["R"] == 1.0 and d["tp"] == m.tp


def test_offsets_point_at_surfaces(spark, sf_dir):
    corpus = load_corpus(spark, sf_dir)
    content = {(r["repo"], r["path"]): r["content"] for r in corpus.collect()}
    for r in triples_udf(corpus).collect():
        c = content[(r["repo"], r["path"])]
        if r["obj_start"] >= 0 and r["pred"] in ("imports", "defines"):
            assert c[r["obj_start"] : r["obj_start"] + len(r["obj"])] == r["obj"]
        if r["subj_start"] >= 0 and r["pred"] == "extends":
            assert c[r["subj_start"] : r["subj_start"] + len(r["subj"])] == r["subj"]


def test_asof_join_rejects_same_left_and_right_type(spark):
    """One event type on both sides cannot be tagged apart; the call fails
    while the plan is built instead of returning an empty frame."""
    import pytest

    from deepkg_spark.operators.events import asof_join

    ev = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:00:00", "click", 1.0)],
        "event_id long, user_id long, ts string, event_type string, value double",
    )
    with pytest.raises(ValueError, match="left_type and right_type"):
        asof_join(ev, left_type="click", right_type="click")


def test_asof_join_oracle(spark, sf_dir):
    """As-of join vs the identical-ordering DuckDB window plan, plus spot
    semantics: every matched prior event is a click at-or-before the
    purchase for the same user."""
    from deepkg_spark.operators.events import asof_join, asof_join_duck_sql
    from tests.compare import compare_spark_duck, duck_connect

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    con = duck_connect(sf_dir)
    compare_spark_duck(asof_join(ev), con, asof_join_duck_sql())
    rows = asof_join(ev).collect()
    assert rows and any(r["prior_event_id"] is not None for r in rows)
    clicks = {
        r["event_id"]: r
        for r in ev.filter("event_type = 'click'").collect()
    }
    for r in rows:
        if r["prior_event_id"] is not None:
            c = clicks[r["prior_event_id"]]
            assert c["user_id"] == r["user_id"]
            assert r["lag_seconds"] >= 0
