"""Similarity search over embedding columns (SURVEY.md §2.8):
brute-force cosine top-k (exact baseline) and an SRP-LSH bucketed
approximate variant (the scale path).

Exact cosine over a candidate set is a Catalyst higher-order
function (functions/vectors.py), never per-row Python. The matmul
kernels (brute-force and IVF scoring, SRP bucket keys, IVF cell
assignment, the blocked and clustered pair GEMMs) run per Arrow batch
through mapInArrow, applyInArrow or arrow_udf, over zero-copy numpy
views of the Arrow buffers (operators/arrowbuf.py). No worker of these
kernels imports pandas.

Scale design: brute force is O(|Q|·|C|) — fine when the query set is
small and broadcast (the common "search" shape: few queries against a
huge corpus; the corpus side streams partition-parallel, never
shuffles). When |Q| is also huge, bucket both sides with SRP-LSH so
only same-bucket pairs are scored — the bucket join is an equi-join
that shuffles each side once on the bucket key.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from gcs2postgres_spark.functions.vectors import cosine_similarity, dot
from gcs2postgres_spark.operators.arrowbuf import (
    arrow_array,
    arrow_lists,
    np_column,
    np_matrix,
)
from gcs2postgres_spark.operators.caching import scan_rows_upper_bound
from gcs2postgres_spark.operators.joins import topk_per_group


def brute_force_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector. Self-matches
    (same id) are excluded; ties broken by neighbor id for determinism.
    Output: query_id, neighbor_id, cos_sim.

    Scale design (the standard distributed brute-force ANN shape): the
    query set is small by contract — it is collected once, L2-normalized
    into a numpy matrix, and broadcast to executors; the corpus streams
    through mapInArrow in Arrow batches, each batch scored against ALL
    queries with one float64 BLAS matmul and pruned to k rows per query
    *inside the batch* before anything is emitted. The corpus is read
    once, never shuffled, never duplicated per query; the final global
    top-k merges ≤ k·n_batches candidate rows per query. Measured ~10×
    over the pure-Catalyst higher-order-function scoring (HOF lambdas run
    interpreted per element; matmul runs vectorized).

    Per-batch pruning is lossless: batches keep their k best under the
    total order (cos desc, neighbor_id asc), and top-k of a union equals
    top-k of per-part top-k's under the same total order."""
    import numpy as np

    q_rows = queries.select(F.col(id_col), F.col(vec_col).cast("array<double>")).collect()
    if not q_rows:
        spark = queries.sparkSession
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    sc = queries.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, q_mat))

    c = corpus.select(
        F.col(id_col).cast("long").alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    )
    scored = c.mapInArrow(
        _make_topk_scorer(bc, k), schema="query_id long, neighbor_id long, cos_sim double"
    )
    return topk_per_group(
        scored, ["query_id"], [F.col("cos_sim").desc(), F.col("neighbor_id").asc()], k
    )


def _make_topk_scorer(bc, k: int):
    """mapInArrow scorer shared by brute_force_cosine_topk and
    score_ivf_cells: each batch is scored against ALL queries with one
    float64 BLAS matmul and pruned to its k best rows per query under
    (cos desc, neighbor id asc), self-matches excluded.

    ``bc.value`` is (query ids, L2-normalized query matrix) or, for an
    IVF probe, (ids, matrix, probes) with each query's probed cells;
    batch columns are (corpus id, vector) or (id, vector, cell) in that
    order. A ``<locals>`` closure, so it ships to executors by value."""

    def score_batches(batches):
        import numpy as np
        import pyarrow as pa

        ids, mat, *rest = bc.value
        probes = rest[0] if rest else None
        for rb in batches:
            if not rb.num_rows:
                continue
            c_ids = np_column(rb.column(0))
            c_mat = np_matrix(rb.column(1))
            cells = np_column(rb.column(2)) if probes is not None else None
            c_mat = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_mat @ mat.T  # (batch × n_queries)
            out_q, out_n, out_s = [], [], []
            for j in range(len(ids)):
                mask = c_ids != ids[j]  # exclude self-match
                if probes is not None:
                    mask &= np.isin(cells, probes[j])
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                kk = min(k, len(cand_idx))
                col = sims[:, j]
                # top-k under (cos desc, id asc): partial-select then sort
                part = cand_idx[np.argpartition(-col[cand_idx], kk - 1)[:kk]]
                sel = part[np.lexsort((c_ids[part], -col[part]))]
                out_q.append(np.full(len(sel), ids[j], dtype=np.int64))
                out_n.append(c_ids[sel])
                out_s.append(col[sel])
            if out_q:
                yield pa.RecordBatch.from_arrays(
                    [
                        arrow_array(np.concatenate(out_q)),
                        arrow_array(np.concatenate(out_n)),
                        arrow_array(np.concatenate(out_s)),
                    ],
                    names=["query_id", "neighbor_id", "cos_sim"],
                )

    return score_batches


def brute_force_cosine_topk_hof(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Pure-Catalyst variant of brute_force_cosine_topk (broadcast
    cross-join + higher-order-function cosine). Kept as the no-Python
    reference implementation; tests assert both paths return identical
    neighbors."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
        )
    )
    return topk_per_group(
        scored, ["query_id"], [F.col("cos_sim").desc(), F.col("neighbor_id").asc()], k
    )


def _srp_hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy needed at import
    time on executors — computed driver-side, shipped as literals)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((nbits, dim)).tolist()


def srp_bucket(vec: Column, hyperplanes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id: bit i = sign(vec · h_i). A small
    literal hyperplane set → Catalyst constant arrays; the dot products are
    JVM-side higher-order functions."""
    bucket = F.lit(0).cast("long")
    for i, h in enumerate(hyperplanes):
        h_col = F.array(*[F.lit(float(x)) for x in h])
        bit = F.when(dot(vec, h_col) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return bucket


def _srp_table_keys(vec: Column, tables: list[list[list[float]]]) -> Column:
    """array of per-table keys ``(table_idx << 32) | bucket`` — one SRP
    bucket id per hash table, namespaced so buckets from different tables
    never collide after the explode. Pure-expression form (ntables×nbits
    interpreted HOF dot products per row) — kept as the no-Python
    reference; the hot paths use _srp_table_keys_arrow below."""
    keys = [
        F.shiftleft(F.lit(t).cast("long"), 32).bitwiseOR(srp_bucket(vec, planes))
        for t, planes in enumerate(tables)
    ]
    return F.array(*keys)


def _srp_table_keys_arrow(tables: list[list[list[float]]]):
    """Arrow-batched SRP key computer: ONE BLAS matmul per batch against
    the stacked (ntables·nbits × dim) hyperplane matrix replaces
    ntables·nbits interpreted HOF dot products per row — the same
    expression-interpretation wall the MinHash shingler and the fused
    winnower hit (r5b), measured ~20 s of the 23 s SRP query at sf1.
    Sign semantics are identical (dot ≥ 0); float summation order
    differs from the HOF fold only within rounding of the dot product,
    which matters only for a dot exactly at the hyperplane — measure
    zero on continuous embeddings, and recall contracts are insensitive
    to single-bit bucket jitter by construction."""
    import numpy as np
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import ArrayType, LongType

    nbits = len(tables[0])
    ntables = len(tables)
    H = np.array(
        [plane for planes in tables for plane in planes], dtype=np.float64
    )  # (ntables·nbits, dim)
    weights = (1 << np.arange(nbits, dtype=np.int64))
    namespaces = np.arange(ntables, dtype=np.int64) << 32

    @arrow_udf(ArrayType(LongType()))
    def keys(vecs):
        import numpy as _np

        M = np_matrix(vecs)
        n = len(M)
        if n == 0:
            return arrow_lists([0], arrow_array(_np.empty(0, dtype=_np.int64)))
        bits = (M @ H.T) >= 0.0  # (B, ntables·nbits)
        buckets = bits.reshape(n, ntables, nbits) @ weights  # (B, ntables)
        out = namespaces[None, :] | buckets
        return arrow_lists(
            _np.arange(0, n * ntables + 1, ntables), arrow_array(out.ravel())
        )

    return keys


def srp_lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nbits: int = 4,
    ntables: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only pairs that share an SRP bucket in at
    least one of ``ntables`` independent hash tables (OR-amplification).

    Tuning: per-bit collision prob for vectors at angle θ is p = 1 - θ/π;
    recall ≈ 1 - (1 - p^nbits)^ntables. Raising nbits cuts candidates
    (selectivity ~ 0.5^nbits per table on random pairs); raising ntables
    buys recall back. Defaults (4, 8) give ~0.67 recall at cos ≈ 0.3
    neighbors and ~3% candidate rate per table at scale.

    Scale shape: each side computes its key array scan-side, explodes to
    ntables rows, and the bucket join is a plain equi-join — shuffle on the
    bucket key only (or broadcast when the query side is small). Candidate
    pairs are deduped BEFORE cosine scoring so a pair colliding in several
    tables is scored once — and the dedup shuffles ONLY the id pair
    (guide §2.3 "shuffle keys and metadata instead of payloads"): a pair
    can collide in up to ntables tables, so deduping with both vectors
    attached multiplied the shuffled bytes by the collision count × the
    vector width. Each corpus vector now crosses the network at most
    once, in the id-keyed re-attach join of the already-deduped pairs
    (guide §8 "decide with small rows, move big rows once"; r17
    counterbalanced A/B at sf1, 24 tables, identical output: median
    10.1 s vs 11.8 s for the full recall-contract query, noisy
    single-session samples — the structural win is the bounded shuffle
    width, not the local-mode seconds). Output schema matches
    brute_force_cosine_topk."""
    tables = [_srp_hyperplanes(dim, nbits, seed + 7919 * t) for t in range(ntables)]
    key_fn = _srp_table_keys_arrow(tables)
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("q_vec")
    )
    qk = qv.withColumn("bucket", F.explode(key_fn(F.col("q_vec")))).select(
        "query_id", "bucket"
    )
    ck = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(key_fn(F.col(vec_col).cast("array<double>"))).alias("bucket"),
    )
    candidates = (
        ck.join(F.broadcast(qk), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("c_vec")
    )
    scored = (
        candidates.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
        )
    )
    return topk_per_group(
        scored, ["query_id"], [F.col("cos_sim").desc(), F.col("neighbor_id").asc()], k
    )


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    sample_size: int = 4096,
    kmeans_iters: int = 5,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse k-means quantizer
    partitions the corpus into n_centroids cells; each query scores only
    the n_probe cells whose centroids are nearest to it.

    Scale shape: the quantizer trains driver-side on a bounded hash-
    deterministic sample (k-means over ≤sample_size vectors — the
    standard IVF recipe; centroids are tiny). Cell assignment streams the
    corpus through one Arrow matmul pass (read once, no shuffle) and at
    production scale would be written back as a partitioned column so
    probes prune at the parquet scan. The probe step is a broadcast
    semi-filter (cell ∈ query's probe list) followed by the same batched
    matmul scoring as brute force — corpus work drops to
    ~n_probe/n_centroids of brute force. Recall/cost dial: n_probe.

    Deterministic: sample = lowest ids by xxhash64(id, seed); numpy
    k-means with fixed seed; ties in scoring broken by neighbor id."""
    base = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    cent = train_ivf_quantizer(base, n_centroids, sample_size, kmeans_iters, seed)
    assigned = assign_ivf_cells(base, cent)
    return score_ivf_cells(assigned, queries, cent, id_col, vec_col, k, n_probe)


def train_ivf_quantizer(
    base: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 4096,
    kmeans_iters: int = 5,
    seed: int = 42,
):
    """Train the IVF coarse quantizer on a bounded hash-deterministic
    sample (the standard IVF recipe — centroids are tiny, k-bounded).
    ``base`` must have columns (cid, vec). Returns the L2-normalized
    numpy centroid matrix."""
    import numpy as np

    sample_rows = (
        base.withColumn("__h", F.xxhash64(F.col("cid"), F.lit(seed)))
        .orderBy("__h")
        .limit(sample_size)
        .select("vec")
        .collect()
    )
    X = np.array([r[0] for r in sample_rows], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    cent = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(kmeans_iters):
        assign = np.argmax(X @ cent.T, axis=1)  # cosine on unit sphere
        for c in range(len(cent)):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / (np.linalg.norm(m) or 1.0)
    return cent


def assign_ivf_cells(base: DataFrame, cent) -> DataFrame:
    """Assign every corpus vector to its nearest coarse cell: ONE Arrow
    pass over the corpus (mapInArrow matmul against the broadcast
    centroids), no shuffle. Returns (cid, vec, cell) — the frame a
    production index writes back partitioned by ``cell`` so probes
    prune at the scan (see ``queries/llm.similarity_ivf_pruned_topk``)."""
    bc_cent = base.sparkSession.sparkContext.broadcast(cent)

    def assign_batches(batches):
        import numpy as np
        import pyarrow as pa

        C = bc_cent.value
        for rb in batches:
            if not rb.num_rows:
                continue
            mat = np_matrix(rb.column("vec"))
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            cell = np.argmax(mat @ C.T, axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [rb.column("cid"), rb.column("vec"), arrow_array(cell)],
                names=["cid", "vec", "cell"],
            )

    return base.select(F.col("cid").cast("long"), "vec").mapInArrow(
        assign_batches, schema="cid long, vec array<double>, cell int"
    )


def ivf_query_probes(
    queries: DataFrame, cent, id_col: str, vec_col: str, n_probe: int
):
    """Collect the (bounded-by-contract) query set and compute each
    query's ``n_probe`` nearest cells. Returns (q_ids, q_mat, probes)
    numpy triple, or None when the query set is empty."""
    import numpy as np

    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("vec")
    ).collect()
    if not q_rows:
        return None
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    probes = np.argsort(-(q_mat @ cent.T), axis=1)[:, :n_probe]  # (nq × n_probe)
    return q_ids, q_mat, probes


def score_ivf_cells(
    assigned: DataFrame,
    queries: DataFrame,
    cent,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Probe step: each query scores only the corpus vectors whose cell
    is among its ``n_probe`` nearest centroids — a broadcast semi-filter
    plus the same batched-matmul scoring as brute force. ``assigned``
    is (cid, vec, cell) — either computed inline (``assign_ivf_cells``)
    or read back from a cell-partitioned parquet layout, in which case
    the caller pre-filters the scan to the probed cells and the filter
    becomes PartitionFilters (planning-time pruning, zero I/O for
    unprobed cells)."""
    spark = assigned.sparkSession
    triple = ivf_query_probes(queries, cent, id_col, vec_col, n_probe)
    if triple is None:
        return spark.createDataFrame([], "query_id long, neighbor_id long, cos_sim double")
    bc_q = spark.sparkContext.broadcast(triple)
    scored = assigned.select(
        F.col("cid").cast("long"), "vec", F.col("cell").cast("int")
    ).mapInArrow(
        _make_topk_scorer(bc_q, k), schema="query_id long, neighbor_id long, cos_sim double"
    )
    return topk_per_group(
        scored, ["query_id"], [F.col("cos_sim").desc(), F.col("neighbor_id").asc()], k
    )


def srp_cosine_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    nbits: int = 3,
    ntables: int = 24,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos > threshold) via
    SRP-LSH bucketing — the scale path that replaces the quadratic
    all-pairs crossJoin (cosine_near_dup_pairs below, kept as the
    verify-stage / bounded-range utility).

    Plan shape: each vector computes its ``ntables`` bucket keys scan-side
    and explodes; candidates come from a bucket-key EQUI-join (a < b), are
    deduped, and only then are the embeddings joined back for the exact
    cosine verify — so vectors are never replicated through the candidate
    shuffle and no cartesian/BNLJ appears anywhere. Work scales with
    bucket occupancy, not corpus².

    Recall: a pair at cos c collides in one table with prob p^nbits,
    p = 1 - acos(c)/π; missing all tables ≈ (1-p^nbits)^ntables — at the
    defaults ~5e-4 for c=0.45, and the fixed seed makes the outcome
    deterministic (verified exhaustively against all-pairs in tests)."""
    tables = [_srp_hyperplanes(dim, nbits, seed + 7919 * t) for t in range(ntables)]
    v = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    keyed = v.select(
        "id", F.explode(_srp_table_keys_arrow(tables)(F.col("vec"))).alias("bucket")
    )
    # bucket group-by/expand, not a self-join: the join evaluated the
    # Arrow SRP-hash subtree (scan + UDF + explode) once PER SIDE; the
    # group-by evaluates it once total and shuffles half the bytes —
    # identical pair set (see operators.dedup.bucket_pair_expand)
    from gcs2postgres_spark.operators.dedup import bucket_pair_expand

    cands = bucket_pair_expand(keyed, ["bucket"], "id")
    va = v.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", cosine_similarity(F.col("vec_a"), F.col("vec_b")).alias("cos_sim")
        )
        .filter(F.col("cos_sim") > threshold)
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_id: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b) above a threshold.
    Exact all-pairs within the (optionally restricted) id range; the
    approximate scale path is srp_lsh bucketing first."""
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec"))
    if max_id is not None:
        v = v.filter(F.col("id") < max_id)
    a = v.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    b = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_similarity(F.col("vec_a"), F.col("vec_b")).alias("cos_sim"))
        .filter(F.col("cos_sim") > threshold)
    )


def kmeans_lloyd(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    n_iters: int = 2,
) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column — the
    corpus-clustering op behind domain discovery, stratified sampling,
    and IVF index training. Initial centroids are the vectors with the
    ``k`` smallest ids (a fixed, engine-independent choice — k-means++
    would need an RNG the oracle could not replay); each iteration
    assigns every vector to its nearest centroid (squared L2, ties →
    lowest cluster id) and recomputes centroids as element-wise means.

    Returns one row per cluster: (cluster, n_vecs, sum_vec_id,
    centroid_l2) after ``n_iters`` full Lloyd rounds, with centroid_l2
    rounded so cross-engine float-sum ordering cannot flip the compare.

    Scale: the centroid table is k rows — always broadcast; assignment
    is a map-side broadcast cross join + per-vector argmin (window over
    id, high cardinality, no skew); the recompute is a posexplode +
    (cluster, dim) partial agg — dims × k cells. The WHOLE loop is one
    declarative plan (no driver collect between iterations); n_iters is
    a literal unroll, exactly how the oracle replays it. An empty
    cluster simply drops out of the recompute on both engines."""
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    centroids = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(
            F.row_number().over(W.orderBy("vec_id")).alias("cluster"),
            F.col("vec").alias("centroid"),
        )
    )
    for _ in range(n_iters):
        dist = F.aggregate(
            F.zip_with(F.col("vec"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        w_min = W.partitionBy("vec_id").orderBy("dist", "cluster")
        assigned = (
            emb.crossJoin(F.broadcast(centroids))
            .withColumn("dist", dist)
            .withColumn("rn", F.row_number().over(w_min))
            .filter(F.col("rn") == 1)
            .select("vec_id", "vec", "cluster")
        )
        centroids = (
            assigned.select("cluster", F.posexplode("vec").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("centroid")
            )
        )
        centroids = F.broadcast(centroids)
        last_assigned = assigned
    with_l2 = centroids.select(
        "cluster",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(F.col("centroid"), lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            5,
        ).alias("centroid_l2"),
    )
    return (
        last_assigned.join(F.broadcast(with_l2), "cluster")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("vec_id").cast("long").alias("sum_vec_id"),
            F.first("centroid_l2").alias("centroid_l2"),
        )
        .orderBy("cluster")
    )


def _lloyd_centroids(emb: DataFrame, k: int, n_iters: int) -> DataFrame:
    """Centroid table (cluster, centroid) after ``n_iters`` deterministic
    Lloyd rounds — the shared recurrence of kmeans_lloyd / PQ codebook
    training: smallest-id init, squared-L2 argmin (ties → lowest
    cluster), element-wise-mean recompute, all one declarative plan.
    ``emb`` must have columns (vec_id, vec: array<double>)."""
    centroids = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(
            F.row_number().over(W.orderBy("vec_id")).alias("cluster"),
            F.col("vec").alias("centroid"),
        )
    )
    dist = F.aggregate(
        F.zip_with(F.col("vec"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    for _ in range(n_iters):
        w_min = W.partitionBy("vec_id").orderBy("dist", "cluster")
        assigned = (
            emb.crossJoin(F.broadcast(centroids))
            .withColumn("dist", dist)
            .withColumn("rn", F.row_number().over(w_min))
            .filter(F.col("rn") == 1)
            .select("vec_id", "vec", "cluster")
        )
        centroids = F.broadcast(
            assigned.select("cluster", F.posexplode("vec").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("centroid")
            )
        )
    return centroids


def pq_adc_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_subspaces: int = 2,
    k_codes: int = 4,
    n_iters: int = 1,
    n_queries: int = 3,
    topk: int = 5,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation —
    the memory-side of the large-scale ANN toolbox next to IVF (cell
    pruning) and SRP-LSH (bucketing): Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011.

    The vector is split into ``m_subspaces`` contiguous subvectors; each
    subspace trains its own ``k_codes``-centroid codebook (deterministic
    Lloyd, smallest-id init — no RNG so DuckDB replays it exactly) and
    every vector compresses to one code per subspace (64-dim float →
    m bytes; at 100 TB THIS is what lets the index live in executor
    memory). A query never decompresses vectors: it builds a
    (query, subspace, code) → partial-distance lookup table against the
    codebooks (m×k×|Q| rows — broadcast), joins it to the code table,
    and sums partials per (query, vector) — map-side broadcast join +
    partial agg, no shuffle of the corpus, no cartesian.

    Queries are the ``n_queries`` smallest-id vectors (bounded by
    contract, same as the other ANN entries). Output: (q_id, vec_id,
    adc_dist, rank) — rank ordered by (rounded dist, vec_id) so
    cross-engine ULP noise cannot flip the cut.
    """
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    codes = None
    luts = []
    queries = (
        emb.orderBy("vec_id")
        .limit(n_queries)
        .select(F.col("vec_id").alias("q_id"), F.col("vec").alias("qvec"))
    )
    def _bounds(col_name: str, s: int):
        # 1-based slice: subspace s covers [s*L+1, (s+1)*L], L =
        # floor(dim/m) — explicit floor on BOTH engines (the oracle uses
        # the same formula), so boundaries agree even when dim % m != 0;
        # the <L-element tail beyond m*L is dropped, standard PQ
        sub_len = F.floor(F.size(col_name) / m_subspaces).cast("int")
        return (F.lit(s) * sub_len + 1).cast("int"), sub_len

    for s in range(m_subspaces):
        start, length = _bounds("vec", s)
        sub = emb.select("vec_id", F.slice("vec", start, length).alias("vec"))
        cb = _lloyd_centroids(sub, k_codes, n_iters)
        # encode: argmin centroid per vector
        dist = F.aggregate(
            F.zip_with(F.col("vec"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        w_min = W.partitionBy("vec_id").orderBy("dist", "cluster")
        enc = (
            sub.crossJoin(F.broadcast(cb))
            .withColumn("dist", dist)
            .withColumn("rn", F.row_number().over(w_min))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.lit(s).alias("s"), F.col("cluster").alias("code"))
        )
        codes = enc if codes is None else codes.unionByName(enc)
        # LUT: query-subvector ↔ every centroid of this subspace
        q_start, q_length = _bounds("qvec", s)
        qsub = queries.select(
            "q_id", F.slice("qvec", q_start, q_length).alias("qv")
        )
        qdist = F.aggregate(
            F.zip_with(F.col("qv"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        luts.append(
            qsub.crossJoin(F.broadcast(cb)).select(
                "q_id",
                F.lit(s).alias("s"),
                F.col("cluster").alias("code"),
                qdist.alias("pdist"),
            )
        )
    lut = luts[0]
    for more in luts[1:]:
        lut = lut.unionByName(more)
    adc = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.round(F.sum("pdist"), 5).alias("adc_dist"))
    )
    w_rank = W.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= topk)
        .select("q_id", "vec_id", "adc_dist", "rank")
        .orderBy("q_id", "rank")
    )


def blocked_cosine_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    nblocks: int | None = None,
) -> DataFrame:
    """EXACT all-pairs cosine mining via blocked matrix multiplication —
    the right plan for LOW thresholds, where LSH provably cannot help:
    at cos≈0.45 the SRP collision probability p≈0.65 is so close to
    chance that any (nbits, ntables) either floods the buckets or
    drops true pairs (the r5b sf1 sweep measured the SRP path at
    904 s on 20k vectors — candidate generation was 600M bucket
    pairs). Vectors are hashed into ``nblocks`` groups, every group
    PAIR becomes one task, and each task computes its sub-matrix of
    cosines as ONE numpy GEMM — O(N²) FLOPs, but at BLAS speed and
    perfectly parallel; provably complete (every id pair lands in
    exactly one block pair), no approximation, no recall argument
    needed.

    Plan shape: block build is one keyed collect_list aggregation;
    the block-pair spine is spark.range(nblocks²) with two EQUI-joins
    (no cartesian node anywhere — the no-cartesian plan pin holds);
    the GEMM stage is one Arrow-batched applyInArrow. ``nblocks`` is
    the scale knob (tasks = nblocks·(nblocks+1)/2, block bytes =
    N/nblocks · dim · 8): size it so a block pair fits executor
    memory, exactly like shuffle partitions. ``nblocks=None``
    (default) derives it from the data: the smallest count whose
    task fan-out covers the session's cores AND whose per-side block
    stays under ~256 MB of float64 — every vector is replicated
    ``nblocks`` times through the shuffle and converted once per
    replica in the GEMM task, so a too-high constant multiplies both
    costs for nothing (the r17 fixed 32 paid 4× the shuffle and
    list→ndarray work the 32-core default needs; guide §2.3 shuffle
    fewer bytes). At true corpus scale use
    ``clustered_cosine_pairs`` below — same GEMM, but kmeans cells as
    blocks plus a provable centroid-angle/radius bound that DROPS cell
    pairs that cannot reach the threshold; mining EVERY pair above a
    near-chance threshold is inherently Ω(output) work.

    SRP-LSH (srp_cosine_near_dup_pairs) remains the right operator
    for HIGH thresholds (cos ≥ 0.9: p ≥ 0.86, a few thousand buckets
    keep ~99% recall with tiny occupancy).

    Representation (round 6): block members stay ORDINARY ROWS all the
    way to the GEMM task. Each vector is replicated once per block-pair
    it participates in (nblocks rows per vector, tagged with the pair
    key), and ``groupBy(ba, bb).applyInArrow`` assembles each pair's
    sub-matrices from Arrow record batches worker-side. The earlier
    design packed a whole block into ONE ``collect_list`` row, so a
    100× corpus pushed single rows toward Spark's 2 GB record limit;
    now no materialized row scales with corpus size (plan-pinned: no
    collect_list in this operator), while the per-task working set is
    unchanged — 2·(N/nblocks)·dim·8 bytes, the documented ``nblocks``
    sizing rule. Total shuffle volume is the same N·nblocks·dim·8
    either way (triangle-join replication).

    Zero-norm vectors have no defined cosine; they are excluded from
    the GEMM deterministically (never paired) instead of surfacing as
    0/0 NaN rows that comparison silently drops with runtime warnings.
    """
    import numpy as np  # noqa: F401 — worker-side dependency, asserted importable

    if nblocks is None:
        import math

        # The parquet footers' row count (an upper bound under
        # filters), else one column-pruned count job; block count only
        # sizes the work, so an over-estimate keeps every pair exact.
        # Parallelism floor: enough block pairs to
        # cover the cores (nblocks·(nblocks+1)/2 ≥ cores). Memory
        # ceiling: the DOMINANT per-task allocation is the cosine
        # matrix C = (N/nblocks)² float64 (plus its boolean threshold
        # mask), not the input blocks — blocks of 2048 rows keep C at
        # ~32 MB, which an r18 A/B confirmed matters: 8 blocks at
        # N=60k (450 MB C per task × 32 concurrent tasks) ran 1.7×
        # SLOWER than 30, despite 4× less replication shuffle.
        n = scan_rows_upper_bound(vectors)
        if n is None:
            n = vectors.count()
        cores = vectors.sparkSession.sparkContext.defaultParallelism
        nb_par = math.ceil((math.sqrt(8.0 * cores + 1) - 1) / 2)
        nb_gemm = math.ceil(max(n, 1) / 2048)
        nblocks = max(2, nb_par, nb_gemm)

    v = vectors.select(
        F.col(id_col).alias("id").cast("long"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        F.pmod(F.col(id_col).cast("long"), F.lit(nblocks)).alias("blk"),
    )
    # One row per (vector, partner block): the pair key is the sorted
    # block pair, so for ba<bb block-ba rows arrive tagged (ba,bb)
    # exactly once from other=bb and block-bb rows once from other=ba;
    # the diagonal (b,b) gets each of block b's rows exactly once.
    other = F.explode(F.sequence(F.lit(0), F.lit(nblocks - 1))).alias("other")
    rep = v.select("id", "vec", "blk", other).select(
        F.least("blk", "other").alias("ba"),
        F.greatest("blk", "other").alias("bb"),
        "blk",
        "id",
        "vec",
    )
    gemm = _make_pair_gemm(float(threshold))
    return rep.groupBy("ba", "bb").applyInArrow(
        gemm, schema="id_a long, id_b long, cos_sim double"
    )


def _make_pair_gemm(thr: float):
    """Per-block-pair GEMM for ``groupBy(ba, bb).applyInArrow``, shared
    by blocked_cosine_pairs (hash blocks) and clustered_cosine_pairs
    (kmeans blocks). Built as a ``<locals>`` closure so cloudpickle
    ships it by value to executors. The group's rows carry (ba, bb,
    blk, id, vec); side A = rows with blk==ba, side B = blk==bb (same
    rows on the diagonal). A pair group can hold rows of only ONE of
    its blocks (the other hashed no vectors), which leaves a side
    empty and emits no pairs. Zero-norm vectors are excluded
    deterministically; emitted pairs are (min_id, max_id, cos)."""

    def gemm(key, table):
        import numpy as np
        import pyarrow as pa

        ba, bb = (int(k.as_py()) for k in key)
        # a group's rows may arrive in several batches: join them once
        [batch] = table.combine_chunks().to_batches()
        blk = np_column(batch.column("blk"))
        ids = np_column(batch.column("id"))
        vecs = np_matrix(batch.column("vec"))

        def side(b):
            rows = blk == b
            X = vecs[rows]
            norm = np.linalg.norm(X, axis=1)
            ok = norm > 0.0
            return ids[rows][ok], X[ok] / norm[ok, None]

        ia, A = side(ba)
        ib, B = (ia, A) if ba == bb else side(bb)
        C = A @ B.T
        if ba == bb:
            ii, jj = np.nonzero(np.triu(C > thr, k=1))
        else:
            ii, jj = np.nonzero(C > thr)
        a_ids, b_ids = ia[ii], ib[jj]
        lo = np.minimum(a_ids, b_ids)
        hi = np.maximum(a_ids, b_ids)
        keep = lo != hi
        return pa.Table.from_arrays(
            [
                arrow_array(lo[keep]),
                arrow_array(hi[keep]),
                arrow_array(C[ii, jj][keep]),
            ],
            names=["id_a", "id_b", "cos_sim"],
        )

    return gemm


def clustered_cosine_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_clusters: int = 32,
    sample_size: int = 4096,
    kmeans_iters: int = 5,
    seed: int = 42,
) -> DataFrame:
    """EXACT cosine pair mining with kmeans BLOCK-PAIR PRUNING — the
    100×-scale path blocked_cosine_pairs' docstring sketches. Blocks
    are coarse k-means cells (trained on a bounded deterministic
    sample, the IVF recipe) instead of id-hash groups, which makes a
    provable skip bound available: for cells a, b with centroid angle
    θ_ab and angular radii r_a, r_b (max member-to-centroid angle),
    every cross pair satisfies

        cos(u, v) ≤ cos(max(0, θ_ab − r_a − r_b))     (triangle
        inequality on the unit sphere),

    so any cell pair whose bound is below the threshold is DROPPED
    before any replication or GEMM — no recall argument needed, the
    skipped pairs provably cannot reach the threshold. Hash blocking
    must GEMM all nblocks(nblocks+1)/2 pairs; clustered blocking does
    the same worst case but skips everything the geometry rules out —
    the higher the threshold and the more clustered the corpus, the
    closer the task count gets to Ω(output). Exactness is
    property-tested against blocked_cosine_pairs (identical pair set).

    Scale shape: quantizer trains driver-side on ≤sample_size vectors
    (bounded); assignment + radius is ONE Arrow pass (no shuffle); the
    k×k bound matrix is driver-side numpy on k centroids (k is a knob,
    ≤ thousands); retained pairs broadcast to two equi-joins (no
    cartesian/BNLJ); then the identical groupBy(pair).applyInArrow
    GEMM as blocked_cosine_pairs — ordinary rows, no corpus-scaled
    record. Zero-norm vectors are excluded up front (no cosine).
    """
    import numpy as np

    base = vectors.select(
        F.col(id_col).alias("cid").cast("long"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).filter(F.aggregate("vec", F.lit(0.0), lambda a, x: a + x * x) > 0.0)
    spark = vectors.sparkSession
    if base.limit(1).count() == 0:
        # empty (or all-zero-norm) corpus: nothing to quantize or pair
        return spark.createDataFrame(
            [], "id_a long, id_b long, cos_sim double"
        )
    cent = train_ivf_quantizer(base, n_clusters, sample_size, kmeans_iters, seed)
    bc_cent = spark.sparkContext.broadcast(cent)

    def assign_with_cos(batches):
        import numpy as _np
        import pyarrow as _pa

        C = bc_cent.value
        for rb in batches:
            if not rb.num_rows:
                continue
            mat = np_matrix(rb.column("vec"))
            mat = mat / _np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ C.T
            cell = _np.argmax(sims, axis=1)
            yield _pa.RecordBatch.from_arrays(
                [
                    rb.column("cid"),
                    rb.column("vec"),
                    arrow_array(cell.astype(_np.int32)),
                    arrow_array(sims[_np.arange(len(cell)), cell]),
                ],
                names=["id", "vec", "blk", "cos_c"],
            )

    assigned = base.mapInArrow(
        assign_with_cos,
        schema="id long, vec array<double>, blk int, cos_c double",
    ).localCheckpoint(eager=True)

    # per-cell angular radius (k rows — bounded driver read)
    rad_rows = assigned.groupBy("blk").agg(F.min("cos_c").alias("min_cos")).collect()
    k = len(cent)
    radius = np.zeros(k)
    for r in rad_rows:
        # clip for float drift; +1e-7 rad slack keeps the bound
        # conservative: arccos's conditioning error near cos≈1 is
        # ~sqrt(2*eps)≈2e-8 rad for float64 inputs, so a 1e-9 slack
        # could in principle prune a knife-edge cell pair — 1e-7
        # dominates the conditioning error with negligible pruning loss
        radius[r["blk"]] = float(
            np.arccos(np.clip(r["min_cos"], -1.0, 1.0)) + 1e-7
        )
    cent_angles = np.arccos(np.clip(cent @ cent.T, -1.0, 1.0))
    bound = np.cos(np.maximum(0.0, cent_angles - radius[:, None] - radius[None, :]))
    keep_a, keep_b = np.nonzero(np.triu(bound > float(threshold) - 1e-9))
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(keep_a, keep_b)], "ba int, bb int"
    )

    # replicate each vector once per RETAINED pair it belongs to: two
    # broadcast equi-joins (never an OR-join → no BNLJ in the plan);
    # the off-diagonal branch excludes ba==bb to avoid double-counting
    offdiag = pairs.filter(F.col("ba") != F.col("bb"))
    rep_a = assigned.join(F.broadcast(pairs), assigned["blk"] == pairs["ba"])
    rep_b = assigned.join(F.broadcast(offdiag), assigned["blk"] == offdiag["bb"])
    rep = rep_a.unionByName(rep_b).select("ba", "bb", "blk", "id", "vec")

    gemm = _make_pair_gemm(float(threshold))
    return rep.groupBy("ba", "bb").applyInArrow(
        gemm, schema="id_a long, id_b long, cos_sim double"
    )
