"""The workloads, each driven through the package's public functions.

A workload registers its generated inputs once (the set-up), then runs one
*operation* per call to ``op``: the staged KG chain followed by the staged
curation chain (kg_curate), or one link batch (link_batches). The first
``warmup`` operations are checked but not timed as passes (link_batches: the
cold first batch and the next three). A *pass* is the workload's fixed
amount of work: ``units`` operations (one batch job, or one warm link
batch). ``check`` compares an operation's outputs with the expected digests
from ``gen.py``; ``ratios`` scores them against the generator's truth.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from deepkg_spark.checkpoint import run_staged
from deepkg_spark.operators import curation, dedup, graph
from deepkg_spark.operators.canonicalize import canonical_entities
from deepkg_spark.operators.linking import bm25_topn, dense_topk_udf, link_exact
from deepkg_spark.operators.mentions import mentions_frame
from deepkg_spark.operators.relations import triples_frame
from deepkg_spark.operators.similarity import ivf_pq_topk
from deepkg_spark.sources.io import read_corpus_parquet
from perfbench.common import DIM, TOPN, digest, parquet_rows


def _stage_dir(out: str, i: int, name: str) -> str:
    # run_staged materializes stage i at out_dir/stage_<i>_<name>
    return os.path.join(out, f"stage_{i:02d}_{name}")


def _rows(df):
    return df.columns, [tuple(r) for r in df.collect()]


def _corrupt(cols, rows):
    """The first row with its first column changed (fault injection)."""
    if not rows:
        return cols, [("corrupt",) * len(cols)]
    r = list(rows[0])
    r[0] = f"{r[0]}~"
    return cols, [tuple(r)] + list(rows[1:])


class Workload:
    def __init__(self, spark, inputs: str, truth: dict, work: str, tracer):
        self.spark, self.inputs, self.truth = spark, inputs, truth
        self.work, self.tracer = work, tracer
        self.units, self.rows = 1, truth["rows"]  # operations and input rows per pass
        self.warmup = 0  # operations before the first pass
        with tracer.span("sources", "register_inputs"):
            self.register()
            self.first_job()

    def path(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def outputs(self, result) -> dict:
        """{output name: (columns, rows)} of an operation's result."""
        return result

    def check(self, i: int, outputs: dict, corrupt: bool = False) -> list:
        """Names of operation i's outputs whose digest differs from the
        expectation; `corrupt` alters one row first (fault injection)."""
        expect = self.expected(i)
        bad = []
        for k, (cols, rows) in sorted(outputs.items()):
            if corrupt and not bad:
                cols, rows = _corrupt(cols, rows)
            if digest(cols, rows) != expect[k]:
                bad.append(k)
        return bad

    def expected(self, i: int) -> dict:
        return self.truth["expect"]

    def ratios(self, i: int, outputs: dict) -> dict:
        return {}


class KgCurate(Workload):
    """The engine's two staged batch pipelines run back to back as one cold
    job: the KG chain (one run_staged job), then the curation chain (a
    second one)."""

    KG_STAGES = ("triples", "graph", "mentions", "canonical", "link_exact", "link_bm25")
    CURATE_LAYER = {"gate": "textstats", "dedup": "dedup", "decontaminate": "curation",
                    "sample": "curation", "pack": "curation"}

    def register(self):
        self.corpus = read_corpus_parquet(self.spark, self.path("corpus.parquet"))
        self.alias = self.spark.read.parquet(self.path("alias.parquet"))
        self.docs = self.spark.read.parquet(self.path("docs.parquet"))
        self.eval_docs = self.spark.read.parquet(self.path("eval.parquet"))

    def first_job(self):
        self.corpus.limit(1).collect()

    def staged(self, out: str, stages: list, job_id: str) -> None:
        """run_staged over (name, layer, fn) stages; traced, each stage
        function and its write form one span of the stage's layer."""
        t = self.tracer
        wrapped = [(n, t.wrap_stage(layer, n, fn)) for n, layer, fn in stages]
        with t.span("checkpoint", "run_staged"):
            run_staged(self.spark, wrapped, out, job_id=job_id)

    def op(self, i: int) -> str:
        out = os.path.join(self.work, f"op{i}")
        shutil.rmtree(out, ignore_errors=True)
        self.kg_chain(os.path.join(out, "kg"), f"kg-{i}")
        self.curate_chain(os.path.join(out, "curate"), f"curate-{i}")
        return out

    def kg_chain(self, out: str, job_id: str) -> None:
        gdir = os.path.join(out, "graph")

        def build_graph(triples):
            graph.write_graph(graph.node_table(triples), graph.edge_table(triples), gdir)
            return self.spark.read.parquet(os.path.join(gdir, "nodes"))

        def exact(canon):
            return link_exact(
                canon.withColumn("surface", F.col("norm_surface")), self.alias
            ).drop("surface")

        def fuzzy(linked):
            queries = linked.filter(F.col("term_id").isNull()).select(
                F.col("canonical_id").alias("qid"), F.col("norm_surface").alias("qtext")
            )
            return bm25_topn(queries, self.alias, topn=TOPN)

        self.staged(out, [
            ("triples", "relations", lambda _: triples_frame(self.corpus)),
            ("graph", "graph", build_graph),
            ("mentions", "mentions", lambda _: mentions_frame(self.corpus)),
            ("canonical", "canonicalize", canonical_entities),
            ("link_exact", "linking", exact),
            ("link_bm25", "linking", fuzzy),
        ], job_id)

    def curate_chain(self, out: str, job_id: str) -> None:
        t = self.tracer
        if t.enabled:
            # curate_stages binds these at call time: trace their calls too
            saved = dedup.minhash_lsh_pairs, graph.connected_components
            dedup.minhash_lsh_pairs = t.wrap("dedup", saved[0])
            graph.connected_components = t.wrap("graph", saved[1])
        try:
            stages = curation.curate_stages(self.docs, self.eval_docs)
        finally:
            if t.enabled:
                dedup.minhash_lsh_pairs, graph.connected_components = saved
        self.staged(out, [(n, self.CURATE_LAYER[n], fn) for n, fn in stages], job_id)

    def outputs(self, out):
        res = {}
        for sub, names in (("kg", self.KG_STAGES), ("curate", tuple(self.CURATE_LAYER))):
            for i, n in enumerate(names):
                res[n] = parquet_rows(_stage_dir(os.path.join(out, sub), i, n))
        del res["graph"]  # the node table again; checked from write_graph's output
        for t in ("nodes", "edges"):
            res[t] = parquet_rows(os.path.join(out, "kg", "graph", t))
        return res

    def ratios(self, i, outputs):
        cols, rows = outputs["link_bm25"]
        qi, ti = cols.index("qid"), cols.index("term_id")
        found = {(r[qi], r[ti]) for r in rows}
        gold = self.truth["gold_links"]
        linked = sum((q, t) in found for q, t in gold.items())
        gated, kept = (
            {r[cols.index("doc_id")] for r in rows}
            for cols, rows in (outputs["gate"], outputs["dedup"])
        )
        pairs = [(a, b) for a, b in self.truth["planted_pairs"] if a in gated and b in gated]
        collapsed = sum(not (a in kept and b in kept) for a, b in pairs)
        return {
            "linking.recall_at_n": linked / len(gold) if gold else 0.0,
            "dedup.pair_recall": collapsed / len(pairs) if pairs else 0.0,
        }


class LinkBatches(Workload):
    def register(self):
        self.dictionary = self.spark.read.parquet(self.path("dictionary.parquet"))
        self.cands = self.spark.read.parquet(self.path("candidates.parquet"))
        # the cold first batch (bm25 index build, JIT, Python worker start)
        # and three more: the next batches still run 20-40% slower than later ones
        self.warmup = 4

    def first_job(self):
        self.cands.limit(1).collect()

    def batch(self, i: int) -> dict:
        return self.truth["batches"][i % len(self.truth["batches"])]

    def op(self, i: int) -> dict:
        t = self.tracer
        with t.span("sources", "read_batch"):
            q = self.spark.read.parquet(self.path(self.batch(i)["path"]))
        with t.span("linking", "bm25_topn"):
            bm = _rows(bm25_topn(q.select("qid", "qtext"), self.dictionary, topn=TOPN))
        with t.span("similarity", "ivf_pq_topk"):
            iv = _rows(ivf_pq_topk(q.select("qid", "qvec"), self.cands, k=TOPN, dim=DIM))
        with t.span("linking", "dense_topk_udf"):
            de = _rows(dense_topk_udf(q.select("qid", "qvec"), self.cands, k=TOPN))
        return {"bm25": bm, "ivf_pq": iv, "dense": de}

    def expected(self, i):
        return self.batch(i)["expect"]

    def ratios(self, i, outputs):
        b = self.batch(i)
        cols, rows = outputs["bm25"]
        qi, ti = cols.index("qid"), cols.index("term_id")
        found = {(str(r[qi]), r[ti]) for r in rows}
        gold = b["gold_terms"]
        link = sum((q, t) in found for q, t in gold.items()) / len(gold)
        cols, rows = outputs["ivf_pq"]
        qi, ci = cols.index("qid"), cols.index("cid")
        approx: dict = {}
        for r in rows:
            approx.setdefault(str(r[qi]), set()).add(r[ci])
        nn = b["exact_nn"]
        hits = sum(len(approx.get(q, set()) & set(v)) for q, v in nn.items())
        return {
            "linking.recall_at_n": link,
            "similarity.recall_at_k": hits / (TOPN * len(nn)),
        }


WORKLOADS = {
    "kg_curate": KgCurate,
    "link_batches": LinkBatches,
}
