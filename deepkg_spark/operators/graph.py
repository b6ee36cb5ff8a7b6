"""Graph materialization: node & edge tables from the triple stream.

The reference stops at JSON prediction files (UIE_torch submission sinks,
process_data.py:160-228); this stage is the engine's addition for the KG
use-case: canonical, content-addressed node ids and partitioned columnar
node/edge tables.

Scale design:
- node_id = md5(normalized_name | type): content-derived, stable across runs
  and cluster sizes (never monotonically_increasing_id).
- nodes: union of subject/object endpoints -> salt-tolerant two-level agg
  (groupBy on the full (name, type) key; in/out degree via conditional sums
  in ONE aggregation — no self-join).
- edges keep (repo, path) provenance; writes partition by pred so predicate-
  filtered scans prune files (write_graph uses parquet; Iceberg catalog jars
  are not in this image — the writer is format-parameterized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _nid(name_col: str, type_col: str):
    return F.md5(
        F.concat_ws("|", F.lower(F.trim(F.col(name_col))), F.col(type_col))
    )


def edge_table(triples: DataFrame) -> DataFrame:
    """(src_id, dst_id, pred, subj, obj, repo, path)."""
    return triples.select(
        _nid("subj", "subj_type").alias("src_id"),
        _nid("obj", "obj_type").alias("dst_id"),
        "pred",
        "subj",
        "obj",
        "repo",
        "path",
    )


def node_table(triples: DataFrame) -> DataFrame:
    """(node_id, norm_name, node_type, n_out, n_in) — one shuffle total."""
    endpoints = triples.select(
        F.lower(F.trim(F.col("subj"))).alias("norm_name"),
        F.col("subj_type").alias("node_type"),
        F.lit(1).alias("is_out"),
    ).unionByName(
        triples.select(
            F.lower(F.trim(F.col("obj"))).alias("norm_name"),
            F.col("obj_type").alias("node_type"),
            F.lit(0).alias("is_out"),
        )
    )
    return endpoints.groupBy("norm_name", "node_type").agg(
        F.sum("is_out").cast("bigint").alias("n_out"),
        F.sum(1 - F.col("is_out")).cast("bigint").alias("n_in"),
    ).select(
        F.md5(F.concat_ws("|", "norm_name", "node_type")).alias("node_id"),
        "norm_name",
        "node_type",
        "n_out",
        "n_in",
    )


def node_table_duck_sql(triples_rel: str) -> str:
    return f"""
SELECT md5(concat(norm_name, '|', node_type)) AS node_id, norm_name, node_type,
       CAST(sum(is_out) AS BIGINT) AS n_out,
       CAST(sum(1 - is_out) AS BIGINT) AS n_in
FROM (
  SELECT lower(trim(subj)) AS norm_name, subj_type AS node_type, 1 AS is_out
  FROM {triples_rel}
  UNION ALL
  SELECT lower(trim(obj)), obj_type, 0 FROM {triples_rel}
)
GROUP BY norm_name, node_type
""".strip()


def edge_table_duck_sql(triples_rel: str) -> str:
    return f"""
SELECT md5(concat(lower(trim(subj)), '|', subj_type)) AS src_id,
       md5(concat(lower(trim(obj)), '|', obj_type)) AS dst_id,
       pred, subj, obj, repo, path
FROM {triples_rel}
""".strip()


def write_graph(
    nodes: DataFrame, edges: DataFrame, out_dir: str, fmt: str = "parquet"
) -> None:
    """Materialize node/edge tables, partitioned for pruned scans."""
    nodes.write.mode("overwrite").format(fmt).partitionBy("node_type").save(
        f"{out_dir}/nodes"
    )
    edges.write.mode("overwrite").format(fmt).partitionBy("pred").save(
        f"{out_dir}/edges"
    )


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 25,
    algorithm: str = "hashmin",
) -> DataFrame:
    """(v, component) — component = MIN vertex id reachable in the undirected
    graph. The missing last step of every dedup pipeline: LSH emits duplicate
    PAIRS; collapsing them into clusters is a connected-components problem.

    Algorithm: iterative hash-min label propagation — each round every vertex
    takes min(own label, neighbor labels); one equi-join + one groupBy(min)
    per round, converging in <= graph-diameter rounds with an early-exit
    convergence probe (count of lowered labels, observed in the round's own
    job — no separate count). Dedup-cluster graphs have
    tiny diameters, so 2-4 rounds is typical; the per-round plan is all
    partial-aggregable shuffles on vertex id (no collect of edges, no driver
    graph). For adversarially long chains at 100 TB, swap in the
    large-star/small-star contraction — same DataFrame-only shape.

    vertices(v long), edges(a long, b long). Deterministic (min is
    order-free).

    ``algorithm="star"`` switches to large-star/small-star contraction
    (O(log n) rounds on ANY diameter — the 100 TB path for adversarial
    graphs; see connected_components_star).
    """
    if algorithm == "star":
        return connected_components_star(vertices, edges, max_iter)[0]
    if algorithm != "hashmin":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    sym = (
        edges.selectExpr("a AS src", "b AS dst")
        .unionByName(edges.selectExpr("b AS src", "a AS dst"))
        .persist()
    )
    # localCheckpoint (not persist): iterative algorithms grow the logical
    # plan every round — without truncating lineage, analysis/planning cost
    # explodes exponentially with iteration count
    labels = vertices.select("v", F.col("v").alias("label")).localCheckpoint()
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["dst"] == labels["v"])
            .select(F.col("src").alias("v"), "label", F.lit(None).alias("own"))
        )
        # the convergence probe rides the round's own job: each vertex carries
        # its current label as `own`, and an Observation counts the lowered
        # labels while localCheckpoint materializes the round
        probe = Observation()
        new_labels = (
            labels.select("v", "label", F.col("label").alias("own"))
            .unionByName(nbr)
            .groupBy("v")
            .agg(F.min("label").alias("label"), F.min("own").alias("own"))
            .observe(probe, F.count_if(F.col("label") < F.col("own")).alias("changed"))
            .localCheckpoint()
        )
        changed = probe.get["changed"]
        labels = new_labels.select("v", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(last round lowered {changed} labels) — the graph has a longer "
            "diameter than hash-min propagation affords; raise max_iter or "
            "use a star-contraction variant"
        )
    sym.unpersist()
    return labels.select("v", F.col("label").alias("component"))


def connected_components_star(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 50
) -> tuple[DataFrame, int]:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", public paper) —
    converges in O(log n) rounds on ANY graph diameter, where hash-min
    needs diameter rounds (a chain of length 1000 would blow past any sane
    max_iter).

    Per round, on the undirected neighbor view:
      large-star: every node links its LARGER neighbors to the minimum of
                  its closed neighborhood;
      small-star: every node links its smaller-or-equal neighbors (and
                  itself) to that minimum.
    Both are one groupBy(min) + one equi-join — the same partial-aggregable
    shuffle shape as hash-min, just two of them per round. Edges are
    re-canonicalized (greatest, least) + distinct each round so the edge
    set shrinks monotonically toward stars centered at component minima.
    Convergence is detected by an (n_edges, sum-of-hash) checksum — one
    tiny action per round. Lineage is localCheckpoint-truncated like
    hash-min.

    Returns (components DataFrame (v, component), rounds_used). Component
    labels equal the min reachable vertex id — identical to hash-min and to
    the recursive-CTE oracle.
    """
    e = (
        edges.selectExpr("a AS x", "b AS y")
        .filter(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
        .distinct()
        .localCheckpoint()
    )

    def star(edge_df: DataFrame, large: bool) -> DataFrame:
        sym = edge_df.selectExpr("u", "v").unionByName(
            edge_df.selectExpr("v AS u", "u AS v")
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("min_nbr"))
            .select("u", F.least("u", "min_nbr").alias("m"))
        )
        joined = sym.join(mins, "u")
        if large:
            out = joined.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("x"), F.col("m").alias("y")
            )
        else:
            out = (
                joined.filter(F.col("v") <= F.col("u"))
                .select(F.col("v").alias("x"), F.col("m").alias("y"))
                .unionByName(mins.select(F.col("u").alias("x"), F.col("m").alias("y")))
            )
        return (
            out.filter(F.col("x") != F.col("y"))
            .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
            .distinct()
        )

    def checksum(edge_df: DataFrame) -> tuple:
        # decimal(38,0) sum: ANSI-safe (summing bigint xxhash64 values
        # overflows long), still order-free and exact
        row = edge_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = checksum(e)
    rounds = 0
    for rounds in range(1, max_iter + 1):
        e = star(star(e, large=True), large=False).localCheckpoint()
        cur = checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # at the fixpoint the edge set is a union of stars: every non-root points
    # directly at its component minimum
    parent = e.groupBy("u").agg(F.min("v").alias("component")).withColumnRenamed(
        "u", "v"
    )
    comp = vertices.join(parent, "v", "left").select(
        "v", F.coalesce("component", F.col("v")).alias("component")
    )
    return comp, rounds


PR_DAMPING = 0.85
PR_ITERS = 10
# 6 decimals like every other float operator: Spark and DuckDB sum in
# different orders, and after 10 double power iterations a knife-edge value
# can flip the 9th decimal — 6 keeps a safety margin over summation-order
# error while still distinguishing ranks at contract scale
PR_ROUND = 6


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    n_iter: int = PR_ITERS,
    damping: float = PR_DAMPING,
) -> DataFrame:
    """(v, rank): fixed-iteration PageRank over the KG edge table — the
    canonical "which entities matter" query a downstream consumer runs on
    the materialized graph (the reference stops at JSON files; this engine
    owns the graph, so it owns the graph analytics too).

    Deterministic by construction: fixed `n_iter` power iterations from the
    uniform vector, damping `damping`, dangling mass redistributed
    uniformly, rank rounded to {PR_ROUND} at the END only. Per iteration:
    one equi-join (edges x ranks), one partial-aggregable groupBy(dst), a
    1-row dangling aggregate cross-joined into the update (no driver
    collect inside the loop), localCheckpoint lineage truncation — the
    same iterative shape as connected_components, all shuffles on vertex
    id. 10 iterations = 10 bounded jobs at any scale.

    vertices(v), edges(src, dst) — multi-edges contribute multiply, like
    repeated triples would.
    """
    verts = vertices.select("v").distinct()
    n = verts.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ranks = verts.select("v", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    for _ in range(n_iter):
        ranks = _pagerank_round(
            verts, edges, deg, ranks, n, damping
        ).localCheckpoint()
    return ranks.select("v", F.round("rank", PR_ROUND).alias("rank"))


def _pagerank_round(
    verts: DataFrame,
    edges: DataFrame,
    deg: DataFrame,
    ranks: DataFrame,
    n: int,
    damping: float,
) -> DataFrame:
    """One power iteration (separate so its physical plan can be audited
    before localCheckpoint truncates it)."""
    dang = (
        ranks.join(deg, ranks["v"] == deg["src"], "left_anti")
        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
    )
    contrib = (
        edges.join(ranks, edges["src"] == ranks["v"])
        .join(deg, "src")
        .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("csum"))
    )
    return (
        verts.join(contrib, verts["v"] == contrib["dst"], "left")
        .crossJoin(F.broadcast(dang))
        .select(
            "v",
            (
                F.lit((1.0 - damping) / n)
                + damping * (F.coalesce("csum", F.lit(0.0)) + F.col("dm") / n)
            ).alias("rank"),
        )
    )


def pagerank_duck_sql(
    verts_sql: str,
    edges_sql: str,
    n_iter: int = PR_ITERS,
    damping: float = PR_DAMPING,
    prelude_ctes: str = "",
) -> str:
    """DuckDB oracle: the same power iteration unrolled as `n_iter` chained
    CTEs (recursive CTEs cannot aggregate over the recursive reference, so
    the fixed iteration count is spelled out — which also documents the
    computation exactly)."""
    # every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and each
    # r{i} is referenced by d{i}, c{i} and r{i+1} — inlining would
    # re-evaluate the whole prefix per reference (3^n_iter blowup)
    pre = f"{prelude_ctes}," if prelude_ctes else ""
    ctes = [
        f"verts AS MATERIALIZED ({verts_sql})",
        f"e AS MATERIALIZED ({edges_sql})",
        "n1 AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts)",
        "deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM e GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT v, 1.0 / (SELECT n FROM n1) AS rank FROM verts)",
    ]
    for i in range(n_iter):
        prev, cur = f"r{i}", f"r{i + 1}"
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT coalesce(sum(rank), 0.0) AS dm FROM {prev} "
            f"WHERE v NOT IN (SELECT src FROM deg))"
        )
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS v, sum(p.rank / deg.out_deg) AS csum "
            f"FROM e JOIN {prev} p ON p.v = e.src JOIN deg ON deg.src = e.src "
            f"GROUP BY e.dst)"
        )
        ctes.append(
            f"{cur} AS MATERIALIZED (SELECT verts.v, "
            f"(1.0 - {damping}) / (SELECT n FROM n1) + {damping} * "
            f"(coalesce(c{i}.csum, 0.0) + (SELECT dm FROM d{i}) / (SELECT n FROM n1)) AS rank "
            f"FROM verts LEFT JOIN c{i} ON c{i}.v = verts.v)"
        )
    return (
        f"WITH {pre}\n" + ",\n".join(ctes)
        + f"\nSELECT v, round(rank, {PR_ROUND}) AS rank FROM r{n_iter}"
    )


def connected_components_duck_sql(
    verts_sql: str, pairs_sql: str, prelude_ctes: str = ""
) -> str:
    """Recursive-CTE oracle: min reachable id per vertex. `pairs_sql` may
    carry its own WITH clause (DuckDB allows nested WITH in a CTE body);
    `prelude_ctes` injects fixture CTEs after the RECURSIVE keyword."""
    pre = f"{prelude_ctes}," if prelude_ctes else ""
    return f"""
WITH RECURSIVE {pre}
verts AS ({verts_sql}),
pairs AS ({pairs_sql}),
sym AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.v
)
SELECT v, CAST(min(r) AS BIGINT) AS component FROM reach GROUP BY v
""".strip()
