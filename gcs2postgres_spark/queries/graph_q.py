"""Graph-shaped queries: duplicate-cluster resolution via connected
components (the step a dedup pipeline runs AFTER pair generation), and a
co-occurrence component query over warehouse facts.

Oracles replay the iterative min-label propagation as transitive closure
with a recursive CTE: ``comp(v) = min(id reachable from v)`` — the exact
value the Spark fixpoint converges to, so hash equality certifies the
whole iterative operator end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.operators.caching import maybe_persist
from gcs2postgres_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_docs,
)
from gcs2postgres_spark.operators.graph import duplicate_clusters
from gcs2postgres_spark.queries.registry import register


# Same shingle/Jaccard CTEs as MINHASH_LSH_ORACLE (queries/llm.py) — the
# pair set the LSH pipeline provably reproduces on this corpus — plus
# recursive transitive closure assigning min-reachable-id as cluster id.
DEDUP_CLUSTER_ORACLE = """
WITH RECURSIVE toks AS MATERIALIZED (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
), sh AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 3
      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ELSE [array_to_string(t, ' ')] END)) AS shingle
  FROM toks
), sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS MATERIALIZED (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.4
), und AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT a AS node, a AS comp FROM und
  UNION
  SELECT u.b AS node, r.comp FROM reach r JOIN und u ON u.a = r.node
), comp AS (
  SELECT node, min(comp) AS comp FROM reach GROUP BY node
), assigned AS (
  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS canonical
FROM assigned
ORDER BY doc_id
"""


@register("dedup_cluster_canonical", oracle=DEDUP_CLUSTER_ORACLE)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs → connected components → one canonical doc per
    duplicate cluster. The full near-dup DELETE decision a pretraining
    pipeline materializes: every doc labeled with its cluster id (min id
    in the component, singletons self-clustered), cluster size, and the
    keep/drop flag. Iterative min-label propagation on DataFrames
    (operators/graph.py) certified against a recursive-CTE transitive
    closure."""
    d = load_table(spark, sf_dir, "documents")
    shingled = maybe_persist(shingle_docs(d, "doc_id", "text", shingle_n=3))
    # with_size + carry=("n",): the shingle counts ride the band join
    # instead of two standalone shingler re-runs — see dedup_minhash_lsh
    sigs = minhash_signatures(
        d, "doc_id", "text", num_perm=32, shingle_n=3, shingled=shingled, with_size=True
    )
    cands = lsh_candidate_pairs(sigs, "doc_id", num_perm=32, bands=8, carry=("n",))
    pairs = (
        jaccard_pairs(d, "doc_id", "text", shingle_n=3, candidates=cands, shingled=shingled)
        .filter(F.col("jaccard") >= 0.4)
        .select("id_a", "id_b")
    )
    return (
        duplicate_clusters(d, pairs, "doc_id")
        .select("doc_id", "cluster_id", "cluster_size", "canonical")
        .orderBy("doc_id")
    )


STAR_CC_ORACLE = """
WITH chained AS (
  SELECT o_custkey,
         o_orderkey,
         lag(o_orderkey) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS prev_key
  FROM orders
), with_edge AS (
  SELECT o_custkey FROM chained WHERE prev_key IS NOT NULL
)
SELECT min(o_orderkey) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_custkey IN (SELECT o_custkey FROM with_edge)
GROUP BY o_custkey
ORDER BY cluster_id
"""


@register("graph_components_star", oracle=STAR_CC_ORACLE)
def graph_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via large-star/small-star (Kiveris et al.,
    SoCC'14; operators/graph._star_contract) on a deliberately
    PATH-SHAPED graph: each customer's orders chained in date order, so
    a 30-order customer is a depth-30 path — the exact topology where
    O(diameter) min-label propagation loses to the O(log n) star
    alternation. By construction every chain's component is its
    customer's order set and the canonical label is the customer's
    minimum orderkey, which the oracle states in plain SQL (min +
    count per chained customer) — so the driver's hash compare
    certifies the star algorithm's full labeling without a recursive
    CTE. Output: (cluster_id, n_orders) per customer with ≥2 orders
    (chains with at least one edge; singletons have no edges and are
    the caller's left-join concern, same contract as
    connected_components)."""
    from pyspark.sql import Window

    from gcs2postgres_spark.operators.graph import connected_components

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chained = o.select(
        "o_custkey", "o_orderkey", F.lag("o_orderkey").over(w).alias("prev_key")
    )
    edges = chained.filter(F.col("prev_key").isNotNull()).select(
        F.col("prev_key").alias("src"), F.col("o_orderkey").alias("dst")
    )
    comp = connected_components(edges, algorithm="star")
    return (
        comp.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(F.col("comp").alias("cluster_id"), "n_orders")
        .orderBy("cluster_id")
    )


def _pagerank_oracle(n_iters: int = 3, damping: float = 0.85, topk: int = 20) -> str:
    """Unrolled power-iteration recurrence in SQL, mirroring
    operators/pagerank.pagerank_fixed — including the per-round
    dangling-mass redistribution — on the customer→supplier purchase
    graph (node ids prefixed 'c'/'s' — the key domains overlap)."""
    parts = [
        """WITH e AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS MATERIALIZED (SELECT count(*) AS n_nodes FROM nodes),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
r0 AS MATERIALIZED (
  SELECT node, 1.0 / n_nodes AS rank FROM nodes CROSS JOIN nn
)"""
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f""", dm{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), 0.0) AS dangling_mass
  FROM r{i - 1} r LEFT JOIN deg d ON r.node = d.src
  WHERE d.src IS NULL
), m{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(r.rank / d.deg) AS in_mass
  FROM e JOIN r{i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst
), r{i} AS MATERIALIZED (
  SELECT n.node,
         (1 - {damping}) / nn.n_nodes
           + {damping} * (coalesce(m.in_mass, 0.0)
                          + dm{i}.dangling_mass / nn.n_nodes) AS rank
  FROM nodes n LEFT JOIN m{i} m ON n.node = m.node
  CROSS JOIN nn CROSS JOIN dm{i}
)"""
        )
    parts.append(
        f"""
SELECT node, round(rank, 9) AS rank FROM r{n_iters}
ORDER BY round(rank, 9) DESC, node LIMIT {topk}"""
    )
    return "".join(parts)


PAGERANK_ORACLE = _pagerank_oracle()


@register("graph_pagerank_purchases", oracle=PAGERANK_ORACLE)
def graph_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three power iterations of PageRank (d=0.85) over the directed
    customer→supplier purchase graph — 'which suppliers sit at the
    center of the order flow'. One declarative plan, iteration count a
    literal unroll the oracle replays; per-round cost is one
    key-partitioned join + partial-sum aggregate. Top-20 by rounded
    rank with node tie-break (total order)."""
    from gcs2postgres_spark.operators.pagerank import pagerank_fixed

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # iterate on LONG node ids (cust 2k, supp 2k+1) — the 3 power
    # rounds checkpoint the full rank vector each round, and long keys
    # join/materialize far cheaper than "c{key}"/"s{key}" strings; the
    # public string ids are re-encoded only in the final 20-row
    # projection (BEFORE the orderBy, so the tie-break order is
    # byte-identical to the all-string implementation)
    edges = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank_fixed(edges, n_iters=3, damping=0.85)
    node_str = F.concat(
        F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.shiftright(F.col("node"), 1).cast("string"),
    )
    return (
        ranks.select(node_str.alias("node"), F.round("rank", 9).alias("rank"))
        .orderBy(F.desc(F.round(F.col("rank"), 9)), "node")
        .limit(20)
    )


TRIANGLE_ORACLE = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
), pair_cnt AS MATERIALIZED (
  SELECT a.item AS u, b.item AS v, count(*) AS cnt
  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2
), thr AS MATERIALIZED (SELECT 1.1 * avg(cnt) AS t FROM pair_cnt),
edges AS (
  SELECT u, v FROM pair_cnt CROSS JOIN thr WHERE cnt > t
), deg AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
), oriented AS MATERIALIZED (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS f,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
  FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
), wedge AS MATERIALIZED (
  SELECT o1.t AS x, o2.t AS y
  FROM oriented o1 JOIN oriented o2 ON o1.f = o2.f AND o1.t < o2.t
), tri AS MATERIALIZED (
  SELECT count(*) AS n_triangles
  FROM wedge w JOIN edges e
    ON e.u = least(w.x, w.y) AND e.v = greatest(w.x, w.y)
), wedges_all AS MATERIALIZED (
  SELECT sum(d * (d - 1) / 2) AS n_wedges FROM deg
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(w.n_wedges AS BIGINT) AS n_wedges,
       CAST(t.n_triangles AS BIGINT) AS n_triangles,
       round(3.0 * t.n_triangles / w.n_wedges, 6) AS clustering_coeff
FROM tri t CROSS JOIN wedges_all w
"""


@register("graph_triangle_count", oracle=TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient on the brand
    co-occurrence graph (edges = brand pairs co-bought more than 1.1×
    the average pair count — a data-relative threshold so the graph
    stays non-trivial at any scale). DEGREE-ORDERED orientation: every
    edge points low→high (degree, id), so each wedge is generated at
    its lowest-degree vertex — the standard trick that bounds per-node
    wedge fan-out by O(sqrt(m)) and keeps the join skew-safe on
    power-law graphs; closure is one join back against the undirected
    edge set. All counts integer; the coefficient is the only float."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
        .distinct()
    )
    b = items.select(F.col("basket").alias("b2"), F.col("item").alias("v"))
    pair_cnt = (
        items.join(b, (F.col("basket") == F.col("b2")) & (F.col("item") < F.col("v")))
        .groupBy(F.col("item").alias("u"), "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    thr = pair_cnt.agg((F.lit(1.1) * F.avg("cnt")).alias("t"))
    edges = maybe_persist(
        pair_cnt.crossJoin(F.broadcast(thr)).filter(F.col("cnt") > F.col("t")).select("u", "v")
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("f"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    o2 = oriented.select(F.col("f").alias("f2"), F.col("t").alias("t2"))
    wedge = oriented.join(
        o2, (F.col("f") == F.col("f2")) & (F.col("t") < F.col("t2"))
    ).select(
        F.least("t", "t2").alias("u"), F.greatest("t", "t2").alias("v")
    )
    n_tri = wedge.join(edges, ["u", "v"]).agg(F.count(F.lit(1)).alias("n_triangles"))
    summary = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        summary.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
                "clustering_coeff"
            ),
        )
    )


# Three unrolled peel rounds; k is data-relative (ceil of HALF the
# average undirected degree — on this bipartite purchase graph a k
# above the customer-side mean empties the graph in one round, while
# avg/2 leaves a non-trivial converging core) computed in exact integer
# arithmetic — ceil(E/(2·V)) = floor((E + 2·V − 1)/(2·V)) — so both
# engines derive the identical threshold from the same counts. The
# chained CTEs are MATERIALIZED: each is referenced twice, and
# DuckDB's default inlining re-evaluates the whole peel chain
# exponentially at bench scale.
KCORE_ORACLE = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS s,
                  's' || CAST(l_suppkey AS VARCHAR) AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), und AS MATERIALIZED (
  SELECT s AS a, d AS b FROM e UNION ALL SELECT d, s FROM e
), kk AS MATERIALIZED (
  SELECT CAST(floor((count(*) + 2 * count(DISTINCT a) - 1)
              / (2 * count(DISTINCT a))) AS BIGINT) AS k
  FROM und
), keep0 AS MATERIALIZED (
  SELECT a FROM (SELECT a, count(*) AS c FROM und GROUP BY a) CROSS JOIN kk WHERE c >= k
), e1 AS MATERIALIZED (
  SELECT u.a, u.b FROM und u JOIN keep0 x ON u.a = x.a JOIN keep0 y ON u.b = y.a
), keep1 AS MATERIALIZED (
  SELECT a FROM (SELECT a, count(*) AS c FROM e1 GROUP BY a) CROSS JOIN kk WHERE c >= k
), e2 AS MATERIALIZED (
  SELECT u.a, u.b FROM e1 u JOIN keep1 x ON u.a = x.a JOIN keep1 y ON u.b = y.a
), keep2 AS MATERIALIZED (
  SELECT a FROM (SELECT a, count(*) AS c FROM e2 GROUP BY a) CROSS JOIN kk WHERE c >= k
), e3 AS MATERIALIZED (
  SELECT u.a, u.b FROM e2 u JOIN keep2 x ON u.a = x.a JOIN keep2 y ON u.b = y.a
)
SELECT 0 AS round, k, (SELECT count(DISTINCT a) FROM und) AS n_nodes,
       (SELECT count(*) FROM und) AS n_edges_directed FROM kk
UNION ALL SELECT 1, k, (SELECT count(DISTINCT a) FROM e1), (SELECT count(*) FROM e1) FROM kk
UNION ALL SELECT 2, k, (SELECT count(DISTINCT a) FROM e2), (SELECT count(*) FROM e2) FROM kk
UNION ALL SELECT 3, k, (SELECT count(DISTINCT a) FROM e3), (SELECT count(*) FROM e3) FROM kk
ORDER BY round
"""


@register("graph_kcore_peel", oracle=KCORE_ORACLE)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (3 unrolled rounds) on the undirected purchase
    graph: repeatedly drop nodes with degree < k and the edges touching
    them — the standard densest-region extractor (and the degeneracy
    ordering's building block). k is data-relative (1.2× average degree,
    exact integer ceil) so the peel stays non-trivial at any scale.
    Per round: one degree aggregate + two SEMI joins on the endpoint
    keys (never an anti-join against a node-sized broadcast — `keep`
    shrinks but starts node-sized), edge frame localCheckpointed so
    round r never re-executes rounds 1..r−1. The output traces
    (k, nodes, edges) per round — the convergence profile.

    Everything scalar-shaped — k, the per-round (nodes, edges) trace,
    and the convergence test — derives from NODE-sized checkpointed
    degree frames (n_nodes = rows, n_edges = Σ degree), never from a
    second pass over the edge list; and because min(degree) ≥ k means
    the peel is the identity, convergence is detected BEFORE the
    redundant confirming peel (at sf1 the demo graph converges after
    round 1: rounds 2-3 cost two sub-ms degree-frame filters instead
    of two full semi-join passes over 8M edges)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # output is COUNTS only, so node identity is internal — encode the
    # bipartite sides as longs (cust → 2k, supp → 2k+1) instead of the
    # "c{key}"/"s{key}" strings the id-emitting graph queries use:
    # long keys join/aggregate cheaper and the per-round eager
    # localCheckpoint materializes ~60% fewer bytes. Checkpoint the
    # ONE-direction pair list (half the rows); the symmetrized view is
    # a narrow union over the checkpointed blocks.
    e = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("s"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("d"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = e.select(F.col("s").alias("a"), F.col("d").alias("b")).unionAll(
        e.select(F.col("d").alias("a"), F.col("s").alias("b"))
    )
    def degrees(edges: DataFrame) -> DataFrame:
        # node-sized (one row per node); eager so each round's edge
        # frame is scanned exactly once for all scalar consumers
        return (
            edges.groupBy("a")
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=True)
        )

    deg = degrees(und)
    # k = ceil(E / 2V) from the degree frame: E = Σc, V = rows — the
    # same exact-integer formula as the oracle, no edge-list re-scan
    kk = deg.agg(
        F.floor(
            (F.sum("c") + 2 * F.count(F.lit(1)) - 1)
            / (2 * F.count(F.lit(1)))
        )
        .cast("long")
        .alias("k")
    ).localCheckpoint(eager=True)
    k_val = kk.first()["k"]  # scalar for the convergence test / keep filter

    def stats(deg_r: DataFrame, rnd: int) -> DataFrame:
        return (
            deg_r.agg(
                F.count(F.lit(1)).alias("n_nodes"),
                # coalesce: an emptied-out graph must report 0 like the
                # oracle's count(*), not sum()'s NULL
                F.coalesce(F.sum("c"), F.lit(0))
                .cast("long")
                .alias("n_edges_directed"),
            )
            .crossJoin(F.broadcast(kk))
            .select(
                F.lit(rnd).alias("round"), "k", "n_nodes", "n_edges_directed"
            )
        )

    out = stats(deg, 0)
    cur, converged = und, False
    for r in (1, 2, 3):
        if not converged:
            # min(degree) ≥ k ⟹ the peel is the identity — every
            # remaining round reuses this frame, no confirming peel
            converged = deg.filter(F.col("c") < F.lit(k_val)).isEmpty()
        if not converged:
            keep = deg.filter(F.col("c") >= F.lit(k_val)).select("a")
            cur = (
                cur.join(keep, "a", "left_semi")
                .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
                .localCheckpoint(eager=True)
            )
            deg = degrees(cur)
        out = out.unionByName(stats(deg, r))
    return out.orderBy("round")


def _ppr_oracle(n_iters: int = 3, damping: float = 0.85, topk: int = 20) -> str:
    """Unrolled personalized-PageRank recurrence mirroring
    operators/pagerank.ppr_fixed: restart mass 1/|S| on seed customers
    (custkey % 100 = 0), teleport AND dangling mass land on seeds."""
    parts = [
        """WITH e AS MATERIALIZED (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), seeds AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM e
  WHERE CAST(substr(src, 2) AS BIGINT) % 100 = 0
), ns AS MATERIALIZED (SELECT count(*) AS n_seeds FROM seeds),
deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
sv AS MATERIALIZED (
  SELECT n.node,
         CASE WHEN s.node IS NULL THEN 0.0 ELSE 1.0 / ns.n_seeds END AS s
  FROM nodes n LEFT JOIN seeds s ON n.node = s.node CROSS JOIN ns
), r0 AS MATERIALIZED (SELECT node, s AS rank FROM sv)"""
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f""", dm{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), 0.0) AS dangling_mass
  FROM r{i - 1} r LEFT JOIN deg d ON r.node = d.src
  WHERE d.src IS NULL
), m{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(r.rank / d.deg) AS in_mass
  FROM e JOIN r{i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst
), r{i} AS MATERIALIZED (
  SELECT v.node,
         (1 - {damping}) * v.s
           + {damping} * (coalesce(m.in_mass, 0.0) + dm{i}.dangling_mass * v.s)
           AS rank
  FROM sv v LEFT JOIN m{i} m ON v.node = m.node CROSS JOIN dm{i}
)"""
        )
    parts.append(
        f"""
SELECT node, round(rank, 9) AS rank FROM r{n_iters}
WHERE round(rank, 9) > 0
ORDER BY round(rank, 9) DESC, node LIMIT {topk}"""
    )
    return "".join(parts)


PPR_ORACLE = _ppr_oracle()


@register("graph_ppr_seeded", oracle=PPR_ORACLE)
def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from seed customers (custkey % 100 = 0)
    over the customer→supplier purchase graph: proximity-to-seeds
    scores, top 20 — 'which suppliers are most exposed to this
    customer cohort', the damped generalization of the BFS/SSSP blast
    radius (graph_bfs_3hop / graph_sssp_weighted). Restart AND
    dangling mass land on seeds (operators/pagerank.ppr_fixed); the
    oracle unrolls the identical recurrence. Rank rounded to 9 before
    the top-k so the cross-engine order is decided on equal values.
    """
    from gcs2postgres_spark.operators.pagerank import ppr_fixed

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # long ids through the iteration, string ids re-encoded in the
    # final projection — see graph_pagerank_purchases above
    edges = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    seeds = edges.where(F.col("src") % 200 == 0).select(
        F.col("src").alias("node")
    )
    ranks = ppr_fixed(edges, seeds, n_iters=3, damping=0.85)
    node_str = F.concat(
        F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.shiftright(F.col("node"), 1).cast("string"),
    )
    return (
        ranks.select(node_str.alias("node"), F.round("rank", 9).alias("rank"))
        .where(F.col("rank") > 0)
        .orderBy(F.desc("rank"), "node")
        .limit(20)
    )
