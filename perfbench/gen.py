"""Seeded inputs, truth tables and expected outputs for every workload.

Inputs are written as parquet with pyarrow (no Spark), so generation stays
outside every timed region. Expected outputs come from the package's DuckDB
twins and are stored as digests in ``truth.json``, next to the generator's
truth (true links, planted duplicate pairs, exact nearest neighbours) that
the recall ratios are scored against. Results are cached per (workload,
scale, seed): a second run with the same seed reuses them.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import CACHE_DIR, DIM, SIZES, TOPN, digest

WORDS = (
    "alpha beta gamma delta omega sigma kappa lambda theta zeta orbit river "
    "stone cloud ember frost grove harbor island jungle meadow prairie quartz "
    "summit tundra valley willow canyon desert forest glacier lagoon marsh "
    "ocean plateau reef savanna tide volcano breeze cedar dune fjord geyser"
).split()
STOP = ("the", "a", "of", "and", "to")
QID_STRIDE = 100_000  # link_batches: qid // QID_STRIDE is the batch


def _write(path: str, table: dict) -> None:
    pq.write_table(pa.table(table), path)


def _duck(**files):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name, path in files.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _duck_digest(con, sql: str) -> str:
    rel = con.sql(sql)
    return digest(list(rel.columns), rel.fetchall())


# ------------------------------------------------------- kg_curate: KG chain

def gen_kg_build(rng, sz, d: str) -> dict:
    from deepkg_spark.operators.canonicalize import canonical_entities_duck_sql
    from deepkg_spark.operators.graph import edge_table_duck_sql, node_table_duck_sql
    from deepkg_spark.operators.linking import bm25_duck_sql
    from deepkg_spark.operators.mentions import mentions_duck_sql
    from deepkg_spark.operators.relations import triples_duck_sql

    n, n_mod = sz["kg_files"], sz["kg_mods"]
    n_base = max(8, n_mod // 4)
    # hot modules: Zipf weights over a seeded permutation of module ids
    w = 1.0 / np.arange(1, n_mod + 1) ** 1.2
    w /= w.sum()
    perm = rng.permutation(n_mod)
    n_imp = rng.integers(1, 4, size=n)
    imps = perm[rng.choice(n_mod, size=(n, 3), p=w)]
    cls = rng.integers(0, n, size=n)          # class ids repeat across files
    base = rng.integers(0, n_base, size=n)
    repo = rng.integers(0, 40, size=n)
    word = rng.integers(0, len(WORDS), size=n)
    langs = np.array(["en", "fr", "es", "de", "zh"])[rng.integers(0, 5, size=n)]
    contents, repos, paths, commits = [], [], [], []
    for i in range(n):
        mods = imps[i, : n_imp[i]]
        lines = [f"import mod{m}" for m in mods]
        lines += [
            f"def fn{i}(x):",
            f'    return mod{mods[0]}.call(x) + "{WORDS[word[i]]}"',
            f"class Cls{cls[i]}(Base{base[i]}):",
            "    pass",
        ]
        contents.append("\n".join(lines) + "\n")
        repos.append(f"org/repo{repo[i]}")
        paths.append(f"src/pkg{i % 37}/file_{i}.py")
        commits.append(f"{rng.integers(0, 2**62):016x}")
    corpus = os.path.join(d, "corpus.parquet")
    _write(corpus, {"repo": repos, "path": paths, "commit": commits,
                    "lang": list(langs), "content": contents})

    # alias dictionary: one true term per entity; 60% are exact aliases,
    # the rest carry the surface among other words (bm25-only), and 30% of
    # entities get a longer distractor that shares the surface token
    surfaces = sorted(
        {f"mod{m}" for m in np.unique(imps)}
        | {f"fn{i}" for i in range(n)}
        | {f"cls{c}" for c in np.unique(cls)}
        | {f"base{b}" for b in np.unique(base)}
    )
    names, truth = [], {}
    for s in surfaces:
        truth[s] = len(names)
        if rng.random() < 0.6:
            names.append(s)
        else:
            extra = rng.choice(WORDS, size=rng.integers(1, 3))
            names.append(" ".join([s, *extra]))
        if rng.random() < 0.3:
            extra = rng.choice(WORDS, size=rng.integers(3, 6))
            names.append(" ".join([*extra[:2], s, *extra[2:]]))
    ids = rng.permutation(len(names)) + 1
    alias = os.path.join(d, "alias.parquet")
    _write(alias, {"term_id": pa.array(ids, pa.int64()), "name": names})
    truth_ids = {s: int(ids[t]) for s, t in truth.items()}

    con = _duck(corpus=corpus, alias=alias)
    con.execute(f"CREATE TABLE triples AS {triples_duck_sql('corpus')}")
    con.execute(f"CREATE TABLE mentions AS {mentions_duck_sql('corpus')}")
    con.execute(f"CREATE TABLE canon AS {canonical_entities_duck_sql('mentions')}")
    con.execute(
        "CREATE TABLE linked AS SELECT c.*, a.term_id FROM canon c LEFT JOIN "
        "alias a ON lower(trim(a.name)) = lower(trim(c.norm_surface))"
    )
    con.execute(
        "CREATE TABLE bq AS SELECT canonical_id AS qid, norm_surface AS qtext "
        "FROM linked WHERE term_id IS NULL"
    )
    expect = {
        "triples": _duck_digest(con, "SELECT * FROM triples"),
        "nodes": _duck_digest(con, node_table_duck_sql("triples")),
        "edges": _duck_digest(con, edge_table_duck_sql("triples")),
        "mentions": _duck_digest(con, "SELECT * FROM mentions"),
        "canonical": _duck_digest(con, "SELECT * FROM canon"),
        "link_exact": _duck_digest(con, "SELECT * FROM linked"),
        "link_bm25": _duck_digest(con, bm25_duck_sql("bq", "alias", topn=TOPN)),
    }
    gold = dict(con.sql("SELECT qid, qtext FROM bq").fetchall())
    con.close()
    return {
        "rows": n,
        "expect": expect,
        "gold_links": {q: truth_ids[s] for q, s in gold.items() if s in truth_ids},
    }


# -------------------------------------------------------------- link_batches

def gen_link_batches(rng, sz, d: str) -> dict:
    from deepkg_spark.operators.linking import bm25_duck_sql, dense_topk_duck_sql
    from deepkg_spark.operators.similarity import ivf_pq_topk_duck_sql

    nd, nc, nq, nb = sz["lk_dict"], sz["lk_cands"], sz["lk_batch"], sz["lk_batches"]
    vocab = [f"{w}{i}" for i in range(max(50, nd // 8)) for w in ("t",)]
    vw = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    vw /= vw.sum()
    toks = [list(rng.choice(vocab, size=rng.integers(2, 6), p=vw)) for _ in range(nd)]
    # names are token SETS with a unique key token, so every term is findable
    names = [" ".join(sorted(set(t)) + [f"k{i}"]) for i, t in enumerate(toks)]
    term_ids = np.arange(1, nd + 1, dtype=np.int64)
    _write(os.path.join(d, "dictionary.parquet"),
           {"term_id": term_ids, "name": names})

    # candidate embeddings around a few dozen centres (IVF cells see skew)
    centres = rng.normal(size=(32, DIM))
    cv = centres[rng.integers(0, 32, size=nc)] + 0.35 * rng.normal(size=(nc, DIM))
    cv = cv.astype(np.float32)
    cids = np.arange(nc, dtype=np.int64) * 7 + 3
    cand = os.path.join(d, "candidates.parquet")
    _write(cand, {"cid": cids, "cvec": pa.array(list(cv), pa.list_(pa.float32()))})

    batches = []
    for b in range(nb):
        true_t = rng.integers(0, nd, size=nq)
        qtext = []
        for t in true_t:
            tt = names[t].split()
            keep = rng.random(len(tt)) < 0.7
            keep[-1] = True  # the key token
            qtext.append(" ".join(np.array(tt)[keep]))
        true_c = rng.integers(0, nc, size=nq)
        qv = (cv[true_c].astype(np.float64)
              + 0.05 * rng.normal(size=(nq, DIM))).astype(np.float32)
        qids = np.arange(nq, dtype=np.int64) + b * QID_STRIDE
        path = os.path.join(d, f"batch_{b:02d}.parquet")
        _write(path, {"qid": qids, "qtext": qtext,
                      "qvec": pa.array(list(qv), pa.list_(pa.float32()))})
        # exact L2 neighbours (float64 over the stored float32 values)
        q64, c64 = qv.astype(np.float64), cv.astype(np.float64)
        d2 = (q64 * q64).sum(1)[:, None] - 2 * q64 @ c64.T + (c64 * c64).sum(1)[None, :]
        nn = np.argsort(d2, axis=1, kind="stable")[:, :TOPN]
        batches.append({
            "path": os.path.basename(path),
            "expect": {},
            "gold_terms": {str(q): int(term_ids[t]) for q, t in zip(qids, true_t)},
            "exact_nn": {str(q): [int(cids[j]) for j in row] for q, row in zip(qids, nn)},
        })
    # one DuckDB query per operator over all batches, split by qid range
    con = _duck(q=os.path.join(d, "batch_*.parquet"),
                dictionary=os.path.join(d, "dictionary.parquet"), c=cand)
    for op, sql in (
        ("bm25", bm25_duck_sql("q", "dictionary", topn=TOPN)),
        ("ivf_pq", ivf_pq_topk_duck_sql("q", "c", DIM, k=TOPN)),
        ("dense", dense_topk_duck_sql("q", "c", k=TOPN)),
    ):
        rel = con.sql(sql)
        cols, rows = list(rel.columns), rel.fetchall()
        qi = cols.index("qid")
        for b, batch in enumerate(batches):
            batch["expect"][op] = digest(cols, [r for r in rows if r[qi] // QID_STRIDE == b])
    con.close()
    return {"rows": nq, "batches": batches}


# ------------------------------------------------ kg_curate: curation chain

def _doc(rng, n_tok: int) -> list:
    body = list(rng.choice(WORDS, size=n_tok))
    stops = rng.random(n_tok) < 0.25
    for i in np.nonzero(stops)[0]:
        body[i] = STOP[rng.integers(0, len(STOP))]
    return body


def gen_curate(rng, sz, d: str) -> dict:
    from deepkg_spark.operators.curation import (
        decontaminate_duck_sql, pack_sequences_duck_sql,
        repetition_stats_duck_sql, sample_stratified_duck_sql,
    )
    from deepkg_spark.operators.dedup import minhash_lsh_pairs_duck_sql
    from deepkg_spark.operators.graph import connected_components_duck_sql
    from deepkg_spark.operators.textstats import lang_id_duck_sql, quality_score_duck_sql

    n, ne = sz["cu_docs"], sz["cu_eval"]
    texts: list = []
    planted: list = []  # (a, b) near-duplicate pairs
    while len(texts) < n:
        r = rng.random()
        if r < 0.05:    # low quality: short
            texts.append(list(rng.choice(WORDS, size=rng.integers(3, 8))))
        elif r < 0.10:  # repetitive
            w = list(rng.choice(WORDS, size=3))
            texts.append(w * int(rng.integers(8, 15)))
        elif r < 0.30:  # near-duplicate group of 2-3
            base = _doc(rng, int(rng.integers(30, 60)))
            first = len(texts)
            for j in range(int(rng.integers(2, 4))):
                t = list(base)
                t[-1] = f"tail{first}x{j}"
                texts.append(t)
                planted += [(first + k, len(texts) - 1) for k in range(j)]
        else:
            texts.append(_doc(rng, int(rng.integers(25, 70))))
    texts = texts[:n]
    planted = [(a, b) for a, b in planted if b < n]
    # held-out eval split: half copy a 12-token span out of a train doc
    evals = []
    for i in range(ne):
        if i % 2 == 0:
            src = texts[int(rng.integers(0, n))]
            s = int(rng.integers(0, max(1, len(src) - 12)))
            evals.append(_doc(rng, 10) + src[s:s + 12] + _doc(rng, 10))
        else:
            evals.append(_doc(rng, 40))
    docs = os.path.join(d, "docs.parquet")
    evp = os.path.join(d, "eval.parquet")
    _write(docs, {"doc_id": np.arange(n, dtype=np.int64),
                  "text": [" ".join(t) for t in texts]})
    _write(evp, {"doc_id": np.arange(ne, dtype=np.int64) + 10_000_000,
                 "text": [" ".join(t) for t in evals]})

    # the twins of curate_stages(docs, eval_docs) with its default parameters
    con = _duck(docs=docs, eval_docs=evp)
    q, r = quality_score_duck_sql("docs"), repetition_stats_duck_sql("docs")
    con.execute(
        f"CREATE TABLE gate AS SELECT d.doc_id, d.text FROM docs d "
        f"JOIN ({q}) q USING (doc_id) JOIN ({r}) r USING (doc_id) "
        f"WHERE q.quality >= 0.3 AND r.dup_3gram_frac <= 0.5"
    )
    con.execute(f"CREATE TABLE lsh_pairs AS {minhash_lsh_pairs_duck_sql('gate', tau=0.5)}")
    cc = connected_components_duck_sql(
        "SELECT doc_id AS v FROM gate", "SELECT doc_a AS a, doc_b AS b FROM lsh_pairs")
    con.execute(
        f"CREATE TABLE dedup AS SELECT * FROM gate WHERE doc_id IN "
        f"(SELECT min(v) FROM ({cc}) GROUP BY component)"
    )
    flags = decontaminate_duck_sql("dedup", "eval_docs", 5)
    con.execute(
        f"CREATE TABLE decon AS SELECT * FROM dedup WHERE doc_id IN "
        f"(SELECT doc_id FROM ({flags}) WHERE NOT contaminated)"
    )
    con.execute(
        f"CREATE TABLE withlang AS SELECT c.*, l.pred_lang FROM decon c "
        f"JOIN ({lang_id_duck_sql('decon')}) l USING (doc_id)"
    )
    samp = sample_stratified_duck_sql("withlang", {"en": 900}, 500, "pred_lang")
    con.execute(f"CREATE TABLE samp AS SELECT doc_id, text FROM ({samp})")
    expect = {
        "gate": _duck_digest(con, "SELECT * FROM gate"),
        "dedup": _duck_digest(con, "SELECT * FROM dedup"),
        "decontaminate": _duck_digest(con, "SELECT * FROM decon"),
        "sample": _duck_digest(con, "SELECT * FROM samp"),
        "pack": _duck_digest(con, pack_sequences_duck_sql("samp", 512, 1000)),
    }
    con.close()
    return {"rows": n, "expect": expect, "planted_pairs": planted}


def gen_kg_curate(rng, sz, d: str) -> dict:
    kg, cu = gen_kg_build(rng, sz, d), gen_curate(rng, sz, d)
    return {
        "rows": kg["rows"] + cu["rows"],
        "expect": {**kg["expect"], **cu["expect"]},
        "gold_links": kg["gold_links"],
        "planted_pairs": cu["planted_pairs"],
    }


GENERATORS = {
    "kg_curate": gen_kg_curate,
    "link_batches": gen_link_batches,
}


def ensure_inputs(workload: str, seed: int, scale: str = "full") -> tuple[str, dict]:
    """Directory holding the workload's inputs for `seed`, plus its truth."""
    d = os.path.join(CACHE_DIR, workload, f"{scale}-seed{seed}")
    tpath = os.path.join(d, "truth.json")
    if os.path.exists(tpath):
        with open(tpath) as f:
            return d, json.load(f)
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    wl_index = sorted(GENERATORS).index(workload)
    rng = np.random.default_rng([seed, wl_index])
    truth = GENERATORS[workload](rng, SIZES[scale], tmp)
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, truth
