"""Deduplication operators (SURVEY.md §2.8): exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Hashing, banding and candidate joins are Catalyst expressions
(xxhash64, higher-order array funcs). Two string kernels run in Python
per Arrow batch, where interpreted higher-order lambdas were the wall:
the word shingler (arrow_udf) and the portable winnower (mapInArrow).
They build their outputs from flat buffers (operators/arrowbuf.py), so
no worker imports pandas. The only wide ops are the groupBy per doc and
the band-bucket self-join, both of which scale with partitions. At
100 TB the band join is the dominant shuffle; band tables are
pre-bucketed by (band_id, band_hash) so LSH bucket joins co-locate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gcs2postgres_spark.operators.arrowbuf import arrow_array, arrow_lists, arrow_strings
from gcs2postgres_spark.operators.caching import maybe_persist, widen_doc_scan


def _orderable(dtype) -> bool:
    """True when a Spark type participates in ordering expressions.
    MapType is the unorderable case (anywhere in the nesting)."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.MapType):
        return False
    if isinstance(dtype, T.ArrayType):
        return _orderable(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return all(_orderable(f.dataType) for f in dtype.fields)
    return True


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup keeping the WHOLE row with the minimum id per key group
    — a deterministic dropDuplicates (hash-groupBy with map-side partial
    min). min over struct(id, other…) compares lexicographically, so id
    (unique) decides and every non-key column comes from that same winning
    row — never a chimera mixing columns of different duplicates (which is
    what ``F.first`` per column would produce: first() has no ordering
    guarantee under parallel aggregation).

    Requires id_col unique within each key group (it is the tiebreak).
    Non-key columns must be orderable for the single-shuffle struct-min
    path; when any is not (map-typed anywhere in its nesting, which Spark
    rejects in ordering expressions), the winner id is computed with a
    plain ``min(id)`` and the full row recovered by an equi-join back on
    (*key_cols, id_col) — one extra join, same result. Joining on the
    keys TOO (not id alone) is what keeps the within-group uniqueness
    contract sufficient: an id reused across different key groups cannot
    drag rows of other groups into the output. (Key columns are always
    join-safe here: Spark already rejects map types as groupBy keys.)"""
    others = [c for c in df.columns if c not in key_cols and c != id_col]
    schema = {f.name: f.dataType for f in df.schema.fields}
    if all(_orderable(schema[c]) for c in others):
        winner = F.min(F.struct(F.col(id_col), *[F.col(c) for c in others])).alias("_w")
        out = df.groupBy(*key_cols).agg(winner)
        return out.select(
            *key_cols,
            F.col(f"_w.{id_col}").alias(id_col),
            *[F.col(f"_w.{c}").alias(c) for c in others],
        )
    # unorderable column present: min(id) decides within the group (id is
    # unique per group), then join back on (keys, id) for the winning
    # row's other columns
    winners = df.groupBy(*key_cols).agg(F.min(F.col(id_col)).alias(id_col))
    return winners.join(
        df.select(*key_cols, id_col, *others), [*key_cols, id_col], "inner"
    ).select(*key_cols, id_col, *others)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column, as array<string>.
    Uses a sequence + transform (higher-order functions, JVM-side)."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    k = F.size(toks)
    # positions 1..k-n+1; slice(toks, i, n) is the i-th shingle
    return F.array_distinct(
        F.when(
            k >= n,
            F.transform(
                F.sequence(F.lit(1), k - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def _shingles_arrow_udf(n: int):
    """Arrow-batched shingler matching word_shingles semantics exactly
    (lower, whitespace-split, distinct word n-grams, whole-text fallback
    for short docs). Measured ~3-4× faster than the higher-order-function
    version: string-heavy HOF lambdas run interpreted (no codegen), while
    this moves one Arrow batch per partition and shingles in tight Python.
    Output sorted for determinism; the list column is built from one flat
    string buffer plus offsets."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import ArrayType, StringType

    @arrow_udf(ArrayType(StringType()))
    def shingles(texts):
        out: list[str] = []
        offs = [0]
        for t in texts.to_pylist():
            toks = (t or "").strip().lower().split()
            if len(toks) >= n:
                out.extend(sorted({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}))
            else:
                out.append(" ".join(toks))
            offs.append(len(out))
        return arrow_lists(offs, arrow_strings(out))

    return shingles


def shingle_docs(docs: DataFrame, id_col: str, text_col: str, shingle_n: int = 3) -> DataFrame:
    """(id, shingle) relation with distinct shingles per doc — the shared
    input of MinHash signatures and exact-Jaccard verification. Compute it
    once and persist when feeding both (a dedup pipeline reads it 3×:
    signatures, intersection, set sizes).

    No ``.distinct()`` needed: shingles are distinct per document before
    the explode, so (id, shingle) is already unique — a post-explode
    distinct would be a full extra shuffle for zero rows.

    Parallelism guard (same trap as winnow_docs): a compact parquet scan
    often yields fewer partitions than cores (documents at sf1 scans as
    2), serializing the Python shingler onto 2 workers. Hash-repartition
    by id first — the doc shuffle is tiny next to the per-doc tokenize
    work it spreads (measured sf1: 1.85 s → 0.84 s for the exploded
    relation). The width is DATA-PROPORTIONAL, not blindly
    defaultParallelism: at sf0.1 (5k docs) a 32-way repartition's task
    overhead exceeded the shingling it spread (BENCH_r07→r8 preview
    showed the minhash pair +13–20% while everything else improved), so
    the width comes from the parquet footers' row count at ~2k docs per
    task (sf0.1 → 2, sf1 → 25, sf3 → 32-cap), falling back to full
    width when the input isn't a parquet scan (derived frames, streams —
    the conservative choice at scale)."""
    # footer row count is an UPPER bound when `docs` carries filters
    # (probing post-filter cardinality would need an action); over-width
    # on a filtered frame costs only idle tasks, under-width on the full
    # frame would serialize the shingler — so the bound errs high. Probe
    # failure (remote scheme, non-parquet) degrades to full width.
    docs = widen_doc_scan(docs, id_col)
    return docs.select(
        F.col(id_col), F.explode(_shingles_arrow_udf(shingle_n)(F.col(text_col))).alias("shingle")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    shingle_n: int = 3,
    shingled: DataFrame | None = None,
    with_size: bool = False,
) -> DataFrame:
    """MinHash signature per document: min over shingles of xxhash64(seed,
    shingle) for each of num_perm seeds — one explode + one groupBy with
    num_perm partial-min aggregates (single shuffle on doc id).

    ``with_size=True`` adds ``n`` = the doc's distinct-shingle count to
    the SAME aggregation — free here (one more partial agg on a shuffle
    that already happens), but a whole extra shingle+groupBy pass when
    computed separately. The LSH verify step needs exactly this count
    for |A∪B| = n_a + n_b − n_inter, so carrying it through banding
    (``lsh_candidate_pairs(carry=("n",))``) deletes the two standalone
    ``sizes`` branches — each a full re-run of the shingler at any scale
    where the (doc, shingle) relation is not persisted."""
    if shingled is None:
        shingled = shingle_docs(docs, id_col, text_col, shingle_n)
    aggs = [
        F.min(F.xxhash64(F.lit(seed), F.col("shingle"))).alias(f"mh_{seed}")
        for seed in range(num_perm)
    ]
    if with_size:
        aggs.append(F.count(F.lit(1)).alias("n"))
    return shingled.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """LSH banding: split the signature into `bands` bands of
    num_perm/bands rows, hash each band, and self-join on (band_id,
    band_hash) to produce candidate pairs (a < b). Docs agreeing on any
    band collide — standard MinHash-LSH banding.

    ``carry`` columns (per-doc attributes functionally dependent on the
    id, e.g. the shingle count ``n`` from
    ``minhash_signatures(with_size=True)``) ride the banded frame and
    come back as ``<col>_a`` / ``<col>_b``, so the verify step joins no
    standalone sizes branches — each of those was a full re-run of the
    shingler at any scale where the (doc, shingle) relation is not
    persisted. Because carries are id-determined, the final distinct has
    the same cardinality as distinct over (id_a, id_b) alone.

    The pair generation stays a SELF-JOIN on the band key (codegen hash
    join over a one-row-per-doc frame, persisted when large), not a
    collect_list + higher-order-function pair expansion: an interleaved
    sf0.1 A/B of the group-by/expand shape (r17) measured it ~1.3× slower
    here and 2-3× slower on the simhash twin — the O(k²) interpreted
    slice/transform expansion costs more than the subtree re-evaluation
    it avoids at every measured scale."""
    rows = num_perm // bands
    band_cols = [
        F.xxhash64(*[F.col(f"mh_{b * rows + r}") for r in range(rows)]).alias(f"band_{b}")
        for b in range(bands)
    ]
    # one row per doc; the band self-join below reads it twice — cache
    # or the whole minhash signature aggregation runs twice (persist is
    # size-conditional: see operators.caching for the sf0.1 crossover A/B)
    banded = maybe_persist(
        signatures.select(F.col(id_col), *[F.col(c) for c in carry], *band_cols)
    )
    melted = banded.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(b) for b in range(bands)]),
                F.array(*[F.col(f"band_{b}") for b in range(bands)]),
            )
        ).alias("band_id", "band_hash"),
    )
    a = melted.alias("a")
    b = melted.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
        .distinct()
    )


def bucket_pair_expand(
    df: DataFrame,
    bucket_keys: list[str],
    id_col: str,
    carry: tuple[str, ...] = (),
    max_bucket: int = 4096,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) of ids sharing a bucket —
    the group-by/expand replacement for a bucket SELF-JOIN.

    One groupBy collects each bucket's sorted ``struct(id, carry...)``
    list; higher-order functions expand the i<j pairs (streamed through
    Generate, never a driver structure). Identical pair set to the
    self-join; the difference is the input subtree is evaluated ONCE and
    shuffled once (the self-join evaluates and shuffles it twice, or
    forces a persist). Per-bucket state is O(bucket size), not O(pairs).

    **Hot-bucket guard (``max_bucket``):** the HOF expansion of one
    bucket is O(k²) *interpreted* work inside ONE task — on near-clique
    buckets that shape measured 2-5× slower than a codegen'd self-join
    (the r17 simhash regression, reverted there). Buckets larger than
    ``max_bucket`` therefore spill to the self-join path: their rows are
    re-exploded and pair-joined on the bucket key, spreading the k² work
    across join tasks with codegen. Both shapes emit the identical pair
    set, so the union is exact at any cap; the collected bucket list the
    guard reads already exists (the one groupBy), and the two consumers
    read a forced persist of it rather than re-aggregating.

    ``carry`` columns (functionally dependent on the id) come back as
    ``<col>_a`` / ``<col>_b``; the final distinct therefore has the same
    cardinality as distinct over (id_a, id_b) alone."""
    # sort_array on struct(id, carry...) orders by id (unique), so the
    # i<j expansion yields id_a < id_b exactly like a join's a.id < b.id
    item = F.struct(F.col(id_col).alias("_i"), *[F.col(c) for c in carry])
    buckets = maybe_persist(
        df.groupBy(*bucket_keys)
        .agg(F.sort_array(F.collect_list(item)).alias("items"))
        .filter(F.size("items") >= 2),
        min_rows=0,
    )
    k = F.size(F.col("items"))
    pair_struct = lambda i, right: F.struct(  # noqa: E731
        F.element_at(F.col("items"), i).alias("a"), right.alias("b")
    )
    pairs = buckets.filter(k <= F.lit(max_bucket)).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), k - 1),
                    lambda i: F.transform(
                        F.slice(F.col("items"), i + 1, k - i), lambda r: pair_struct(i, r)
                    ),
                )
            )
        ).alias("p")
    )
    out_cols = [
        F.col("p.a._i").alias("id_a"),
        F.col("p.b._i").alias("id_b"),
        *[F.col(f"p.a.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(f"p.b.{c}").alias(f"{c}_b") for c in carry],
    ]
    small_out = pairs.select(*out_cols)
    # oversized buckets: back to rows, codegen'd self-join on the key
    big_rows = buckets.filter(k > F.lit(max_bucket)).select(
        *bucket_keys, F.explode("items").alias("it")
    )
    a, b = big_rows.alias("a"), big_rows.alias("b")
    join_cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_keys]
    big_out = (
        a.join(b, join_cond + [F.col("a.it._i") < F.col("b.it._i")])
        .select(
            F.col("a.it._i").alias("id_a"),
            F.col("b.it._i").alias("id_b"),
            *[F.col(f"a.it.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.it.{c}").alias(f"{c}_b") for c in carry],
        )
    )
    return small_out.unionByName(big_out).distinct()


def jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    candidates: DataFrame | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for doc pairs: count shingle-set
    intersections via joins+aggs, |A∪B| = |A|+|B|−|A∩B|. Pure set algebra;
    no pairwise UDF.

    Two plan shapes, chosen by whether a candidate set restricts the pairs:
    - all-pairs: explode shingles and self-join on shingle. Correct but
      quadratic in docs sharing a shingle — only for bounded id ranges.
    - candidate-driven (the LSH verify step): the candidate pair list
      DRIVES the join — shingles of id_a are joined to shingles of id_b
      through the pair table, so work is O(|candidates| × shingles/doc),
      independent of corpus size. Restricting *after* a full self-join
      would do the quadratic work anyway and throw most of it away."""
    if shingled is None:
        shingled = shingle_docs(docs, id_col, text_col, shingle_n)
    if candidates is not None:
        carried = {"n_a", "n_b"} <= set(candidates.columns)
        sh_a = shingled.select(F.col(id_col).alias("id_a"), "shingle")
        sh_b = shingled.select(F.col(id_col).alias("id_b"), "shingle")
        group_keys = ["id_a", "id_b"] + (["n_a", "n_b"] if carried else [])
        inter = (
            candidates.join(sh_a, "id_a")
            .join(sh_b, ["id_b", "shingle"])
            .groupBy(*group_keys)
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        if carried:
            # candidate pairs arrived with their set sizes
            # (lsh_candidate_pairs carry): |A∪B| = n_a + n_b − n_inter
            # needs no sizes joins — each of those branches was a full
            # shingler+groupBy re-run when `shingled` is not persisted
            return inter.select(
                "id_a",
                "id_b",
                (
                    F.col("n_inter").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
                ).alias("jaccard"),
            )
    else:
        a = shingled.alias("a")
        b = shingled.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias(
                "jaccard"
            ),
        )
    )


def portable_hash60(col: Column) -> Column:
    """60-bit hash reproducible across engines: the first 15 hex chars of
    md5, parsed base-16. Every SQL engine has md5 + hex parse (DuckDB:
    ``('0x' || substr(md5(x),1,15))::BIGINT``), so sketches built on this
    hash can be verified by an external oracle value-for-value — unlike
    xxhash64, which is Spark-specific. 15 hex chars keep the value inside
    the positive signed-64 range on both sides. Slower than xxhash64
    (cryptographic), so it is opt-in for verification paths."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(
    docs: DataFrame, id_col: str, text_col: str, bits: int = 64, portable: bool = False
) -> DataFrame:
    """SimHash fingerprint: per token, a hash gives `bits` pseudo-random
    bits; each bit contributes +1/−1 to its lane; the sign of each lane sum
    is the fingerprint bit. Expressed as one explode + one groupBy with
    `bits` conditional-sum aggregates, then bit reassembly — all Catalyst
    expressions, map-side combinable.

    ``portable=True`` derives the bits from md5 (portable_hash60, max 60
    bits) so an external SQL engine computes the identical fingerprint."""
    if portable and bits > 60:
        raise ValueError("portable simhash supports at most 60 bits")
    # per-doc heavy stage (tokenize explode + `bits` lane sums) — widen
    # a compact corpus scan first or the whole aggregation runs at raw
    # scan width (guide §2.5; the r18 widen-guard sweep caught this as
    # the one unbounded narrow-scan survivor of the r17 class)
    docs = widen_doc_scan(docs, id_col)
    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))).alias("tok"),
    )
    # Project the token hash ONCE below the aggregation: referencing the
    # hash expression inside all `bits` lane sums would otherwise rely
    # on codegen subexpression elimination to avoid `bits` md5/xxhash
    # evaluations per token — the explicit projection guarantees one
    # evaluation and feeds the partial aggregate an 8-byte long instead
    # of the token string (guide §2.3).
    h = portable_hash60(F.col("tok")) if portable else F.xxhash64(F.col("tok"))
    hashed = toks.select(F.col(id_col), h.alias("__h"))
    lane_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"lane_{i}")
        for i in range(bits)
    ]
    lanes = hashed.groupBy(id_col).agg(*lane_aggs)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"lane_{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseOR(term)
    return lanes.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    fingerprints: DataFrame, id_col: str, max_hamming: int = 3, bits: int = 64, bands: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash: band the `bits`-bit fingerprint into
    `bands` equal keys (pigeonhole: hamming < bands ⇒ at least one band
    identical — the candidate set is COMPLETE for max_hamming ≤ bands-1),
    join per band, verify with bit_count(xor) ≤ max_hamming.

    Requires ``bits % bands == 0``: with a remainder, the top
    ``bits % bands`` fingerprint bits would belong to no band key, so a
    pair differing only in those bits would be silently missed — breaking
    the completeness guarantee above."""
    if bits % bands != 0:
        raise ValueError(
            f"bits ({bits}) must be divisible by bands ({bands}); a remainder "
            "would leave the top bits un-banded and break the pigeonhole "
            "completeness guarantee"
        )
    width = bits // bands
    mask = (1 << width) - 1
    # the band self-join reads the fingerprint frame TWICE; without the
    # persist both sides recompute the full simhash aggregation (token
    # explode + `bits` lane sums over the corpus). The cached frame is
    # one row per doc — vocabulary of the problem, not the token stream.
    # min_rows=0: the lane-sum recompute is expensive enough that the
    # cache wins even at 5k docs (counterbalanced sf0.1 A/B: 3.52 s
    # persisted vs 4.60 s recomputed). An r17 interleaved A/B of the
    # collect_list + HOF pair-expansion shape (no join, no cache)
    # measured 2-3× SLOWER than this persisted join — simhash buckets on
    # near-clique corpora are large, and the O(k²) interpreted expansion
    # dwarfs the join it replaces.
    fingerprints = maybe_persist(fingerprints, min_rows=0)
    banded = fingerprints.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_id", "band.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# Winnowing normalization is pinned to ASCII semantics on every engine:
# Java \s, RE2 \s and this explicit class are the same set
# ([ \t\n\x0b\f\r]), but Python's unicode \s also eats   etc., and
# unicode lowercasing diverges across engines (dotted-I, ß). An explicit
# ASCII class + translate-based A-Z lowercase is a no-op for ASCII
# corpora and gives identical fingerprints on Spark-JVM / Arrow kernel /
# DuckDB for any input.
_ASCII_WS = "[ \t\n\x0b\f\r]+"
_AZ_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_AZ_LOWER = "abcdefghijklmnopqrstuvwxyz"


def _kgram_hashes(text: Column, k: int, portable: bool = False) -> Column:
    """Hash of every character k-gram of the normalized text — xxhash64 by
    default, portable_hash60 (md5-derived, cross-engine) when verifying."""
    s = F.translate(F.regexp_replace(text, _ASCII_WS, " "), _AZ_UPPER, _AZ_LOWER)
    n = F.length(s)
    hash_fn = portable_hash60 if portable else F.xxhash64
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: hash_fn(s.substr(i, F.lit(k))),
    )


def _window_minima(grams: Column, w: int) -> Column:
    """Distinct minima of every sliding window of w consecutive hashes.

    Computed as w-1 pairwise `zip_with(..., least)` folds over shifted
    copies of the array, NOT as `transform(seq, j -> array_min(slice(
    grams, j, w)))`. The transform form references `grams` inside the
    lambda, and when the optimizer inlines the gram computation into
    that lambda (CollapseProject / generator pushdown both do), the
    whole k-gram hash array is recomputed for EVERY window position —
    O(n²) hashes per row (measured: 0.8 s per 550-char doc). The
    zip_with form references `grams` exactly w times however the plan
    is rewritten — worst case O(w·n), and zip_with itself is a single
    linear pass."""
    m = grams
    for off in range(1, w):
        shifted = F.slice(grams, F.lit(off + 1), F.size(grams))
        # zip_with pads the shorter side with NULL; least() ignores
        # NULLs, so trailing partial windows resolve to the suffix min
        # and are cut by the final slice
        m = F.zip_with(m, shifted, lambda a, b: F.least(a, b))
    return F.array_distinct(
        F.slice(m, F.lit(1), F.greatest(F.size(grams) - (w - 1), F.lit(1)))
    )


def _winnow_fps_batches(k: int, w: int):
    """mapInArrow fused winnower for the PORTABLE hash: k-gram
    md5-hash60 + sliding-window minima + first-occurrence distinct in
    one tight Python pass (hashlib.md5 is C). Mirrors the JVM
    expression pipeline (_window_minima over _kgram_hashes) exactly —
    substr semantics (short-text whole-string fallback),
    least-over-window, array_distinct order — except that a NULL text
    fingerprints like "" here, where the JVM pipeline gives [NULL].
    Measured 21.2 s → ~2 s for the 5k-doc sf0.1 fingerprint stage: the
    per-position md5→hex→conv expression chain runs INTERPRETED on the
    JVM inside the HOF lambda (~4 ms/doc), the same trap the Arrow
    shingler fixed for MinHash. Normalization is the pinned ASCII
    semantics (_ASCII_WS class + A-Z translate) — NOT Python's unicode
    \\s/lower(), which diverge from the JVM/DuckDB paths on \u00a0,
    dotted-I casing etc., so parity holds for non-ASCII input too.
    The xxhash64 production path stays a JVM expression (no Python
    xxhash here) — it is ~2× cheaper than the md5 chain and not used
    by any oracle-checked query.

    The output list column is built from ONE flat int64 buffer +
    offsets, not per-row Python lists: a pandas Series of lists spent
    ~3 s hashing and ~14 s BOXING 5.9M list elements through
    object-dtype Arrow conversion (measured at sf1: 17.4 s vs 3.0 s
    end-to-end for this kernel)."""
    import hashlib
    import re as _re

    import numpy as np
    import pyarrow as pa

    ws = _re.compile(_ASCII_WS)
    lower_tbl = str.maketrans(_AZ_UPPER, _AZ_LOWER)
    md5 = hashlib.md5
    fb = int.from_bytes

    def fps_batches(batches):
        for rb in batches:
            ids = rb.column(0)
            texts = rb.column(1).to_pylist()
            chunks = []
            offs = np.empty(len(texts) + 1, dtype=np.int32)
            offs[0] = 0
            total = 0
            for j, t in enumerate(texts):
                s = ws.sub(" ", (t or "").translate(lower_tbl))
                n = len(s)
                m = max(n - (k - 1), 1)
                # portable_hash60 = int(md5_hex[:15], 16) = top 60 bits
                # of the digest; digest[:8] big-endian >> 4 is the same
                # value without the hex round-trip. ASCII docs slice the
                # pre-encoded bytes (1 byte per char); non-ASCII docs
                # must slice CHARACTERS and encode per gram, or
                # multi-byte chars shift every index.
                if s.isascii():
                    b = s.encode()
                    h = [fb(md5(b[i : i + k]).digest()[:8], "big") >> 4 for i in range(m)]
                else:
                    h = [
                        fb(md5(s[i : i + k].encode("utf-8")).digest()[:8], "big") >> 4
                        for i in range(m)
                    ]
                if m >= w:
                    # sliding-window minima as w-1 vectorized element-wise
                    # mins over shifted views (~8x a Python slice-min loop)
                    a = np.array(h, dtype=np.int64)
                    mins = a[: m - w + 1].copy()
                    for off in range(1, w):
                        np.minimum(mins, a[off : off + m - w + 1], out=mins)
                    # first-occurrence distinct, matching array_distinct order
                    _, idx = np.unique(mins, return_index=True)
                    v = mins[np.sort(idx)]
                else:
                    v = np.array([min(h)], dtype=np.int64)
                chunks.append(v)
                total += len(v)
                offs[j + 1] = total
            fps = arrow_lists(
                offs,
                arrow_array(np.concatenate(chunks) if chunks else np.empty(0, dtype=np.int64)),
            )
            yield pa.RecordBatch.from_arrays([ids, fps], names=["_id", "fps"])

    return fps_batches


def winnow_docs(
    docs: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every character k-gram, then
    keep the minimum hash of each sliding window of w consecutive
    k-gram hashes, as ``(id_col, fps array<bigint>)``. Guarantees: any
    shared substring of length >= k+w-1 contributes at least one shared
    fingerprint, while only ~2/(w+1) of hashes are kept.

    The classical presentation uses a Rabin-Karp *rolling* hash so a
    scalar loop costs O(1) per position; columnar engines don't need
    that trick — substring+xxhash64 over a position sequence is one
    vectorized JVM expression per row (no Python, no shuffle), and the
    window-min is a slice/array_min over the hash array.

    MUST be two separate projections: if the k-gram array is inlined
    into the window lambda as one expression, Catalyst substitutes the
    whole gram computation into every window element — O(n²) hashes per
    row (measured: 0.8 s/doc on 550-char texts vs ~ms this way).
    CollapseProject keeps the split because the alias is non-cheap and
    multiply-referenced."""
    if portable:
        # The Arrow winnower is CPU-bound Python (md5 per k-gram
        # position), so its parallelism is exactly the input partition
        # count. A compact parquet scan often yields ONE partition
        # (maxPartitionBytes >> file size) — at sf1 that serialized
        # 14.5M md5 calls onto one core (30 s; ~1 s spread over 32).
        # Hash-repartition by id up to the cluster's parallelism when
        # the scan is narrower; shuffling the raw text (bytes ~ corpus
        # size) is orders cheaper than single-threading the hash work.
        sess = docs.sparkSession
        target = sess.sparkContext.defaultParallelism
        # Batch-only width probe: .rdd.getNumPartitions() forces a
        # DataFrame→RDD plan conversion and is illegal on a streaming
        # DataFrame (r8 advisor), so streaming inputs skip the probe and
        # repartition unconditionally — a streaming source's width is
        # micro-batch-dependent anyway, and the repartition is a no-op
        # cost next to the per-gram hash work it protects.
        if docs.isStreaming or docs.rdd.getNumPartitions() < target:
            docs = docs.repartition(target, F.col(id_col))
        id_type = docs.schema[id_col].dataType.simpleString()
        return (
            docs.select(F.col(id_col), F.col(text_col))
            .mapInArrow(
                _winnow_fps_batches(k, w), f"_id {id_type}, fps array<bigint>"
            )
            .withColumnRenamed("_id", id_col)
        )
    grams = docs.select(
        F.col(id_col), _kgram_hashes(F.col(text_col), k, portable).alias("_grams")
    )
    return grams.select(
        F.col(id_col), _window_minima(F.col("_grams"), w).alias("fps")
    )


def winnow_shared_pairs(
    docs: DataFrame, id_col: str, text_col: str,
    k: int = 8, w: int = 4, min_shared: int = 3, max_df: int = 20,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints:
    explode fingerprints → self-join on the fingerprint value →
    count per pair. Same sparse-inverted-index shape as the LSH band
    join: the only shuffles are the explode-side groupBys and the
    equi-join on fingerprint — never an all-pairs comparison.

    max_df drops fingerprints present in more than that many documents
    before the join. This is not an optional tweak: a boilerplate
    k-gram shared by d documents contributes d²/2 join rows (measured
    here: the 500-doc shared-vocabulary corpus never finishes without
    it), and such fingerprints carry no near-dup signal anyway — the
    same stop-key reasoning as dropping hot shingles in MinHashLSH."""
    # cache the exploded posting list: (a) it's consumed three times
    # (document-frequency counts + both sides of the pair join), and
    # (b) the InMemoryRelation is an optimizer barrier that stops
    # generator/projection collapsing from re-inlining the k-gram
    # expression into every downstream lambda (the O(n²) trap the
    # winnow_docs docstring describes)
    fp = (
        winnow_docs(docs, id_col, text_col, k, w, portable)
        .select(F.col(id_col), F.explode("fps").alias("fp"))
        .cache()
    )
    rare = (
        fp.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fp")
    )
    # no broadcast hint: at real scale MOST fingerprints are rare, so
    # this side is large — let AQE pick the strategy per actual size
    fp = fp.join(rare, "fp", "semi")
    # hard-rename one side: a same-lineage self-join condition can
    # resolve both `fp` references to the one attribute (trivially true
    # → cross product)
    a = fp.select(F.col(id_col).alias("id_a"), "fp")
    b = fp.select(F.col(id_col).alias("id_b"), F.col("fp").alias("fp_b"))
    return (
        a.join(b, (F.col("fp") == F.col("fp_b")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """Token-set similarity self-join with PREFIX FILTERING (PPJoin-style,
    Xiao et al., WWW'08 — public algorithm): emit every doc pair whose
    whitespace-token Jaccard >= threshold (default 3/5 = 0.6).

    Candidate generation: order each doc's tokens by ascending document
    frequency (rarest first, ties by token), keep only the first
    ``n - ceil(t*n) + 1`` tokens (the *prefix*), and equi-join docs that
    share a prefix token. The prefix-filter theorem guarantees
    completeness: any pair with Jaccard >= t must share at least one
    prefix token under a common global token order, so the verify step
    sees every qualifying pair while candidate volume collapses — rare
    tokens index few docs, and the frequent tokens that would fan out
    quadratically are exactly the ones the prefix drops. At 100 TB this
    is the difference between an inverted-index join bounded by
    candidate count and an all-pairs explosion on stopwords.

    Determinism: the threshold is a RATIONAL (num/den) and both the
    prefix length ``n - ceil(num*n/den) + 1`` and the verify predicate
    ``den*inter >= num*(|a|+|b|-inter)`` are evaluated in exact integer
    arithmetic — no float boundary can flip a pair in or out.

    Scale shape: one shuffle to build (token, df), one vocab-keyed join
    back (df travels with the token — nothing vocabulary-sized is
    broadcast), per-doc sort_array over its own tokens (map-side), then
    the candidate equi-join and the candidate-driven verify join from
    jaccard_pairs. No cartesian anywhere (plan-pinned).
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        ).alias("tok"),
        # five consumers read this frame (df table, rank join, sizes,
        # both verify sides) — without the persist each re-tokenizes
        # the corpus. min_rows=0: with five consumers the cache wins at
        # every scale (counterbalanced sf0.1 A/B: 4.83 s vs 7.41 s).
    )
    toks = maybe_persist(toks, min_rows=0)
    df_tok = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(df_tok, "tok")
    arr = F.sort_array(F.collect_list(F.struct("df", "tok")))
    per_doc = ranked.groupBy(id_col).agg(arr.alias("arr"))
    n = F.size("arr")
    # ceil(num*n/den) in exact integer arithmetic: floor((num*n + den-1)/den)
    ceil_tn = F.floor((F.lit(threshold_num) * n + (threshold_den - 1)) / threshold_den)
    prefix_len = (n - ceil_tn + 1).cast("int")
    prefix = (
        per_doc.withColumn("plen", prefix_len)
        .select(F.col(id_col), F.explode(F.slice("arr", F.lit(1), F.col("plen"))).alias("p"))
        .select(F.col(id_col), F.col("p.tok").alias("tok"))
        # self-joined below: cache or the df-rank/collect_list pipeline
        # runs twice. min_rows=0: part of the PPJoin frame pair whose
        # caches won the counterbalanced sf0.1 A/B (see toks above).
    )
    prefix = maybe_persist(prefix, min_rows=0)
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sh_a = toks.select(F.col(id_col).alias("id_a"), "tok")
    sh_b = toks.select(F.col(id_col).alias("id_b"), "tok")
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    un = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.lit(threshold_den) * F.col("n_inter") >= F.lit(threshold_num) * un
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_inter").cast("double") / un, 6).alias("jaccard"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
    shingle_n: int = 1,
) -> DataFrame:
    """ASYMMETRIC near-dup: directed containment C(A→B) =
    |A∩B| / |A| ≥ t — 'doc A is (mostly) inside doc B', which Jaccard
    misses whenever a small doc is swallowed by a much larger one
    (the quote/excerpt/boilerplate case every crawl dedup hits; the
    symmetric score |A∩B|/|A∪B| is dragged down by |B|). Emits
    DIRECTED pairs (id_a contained-in id_b, a≠b) with exact-rational
    thresholding (den·inter ≥ num·|A| — no float edge).

    Scale shape: same inverted-index algebra as jaccard_pairs — explode
    distinct shingles, self-join on the shingle key, count
    intersections, join sizes back. Candidate generation composes with
    MinHash banding exactly as the Jaccard path does; the all-pairs
    form is for bounded id ranges (the oracle's shape).
    """
    shingled = shingle_docs(docs, id_col, text_col, shingle_n)
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    return (
        inter.join(sa, "id_a")
        .where(
            F.col("n_inter") * threshold_den >= F.col("n_a") * threshold_num
        )
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_inter",
            F.round(F.col("n_inter") / F.col("n_a").cast("double"), 6).alias(
                "containment"
            ),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring span dedup (the published train-data recipe:
    find every k-token span that appears verbatim in >= ``min_docs``
    documents — memorization hotspots that per-document near-dup
    misses). Returns one row per document:
    ``(id, total_spans, dup_spans)`` where ``dup_spans`` counts the
    document's k-token windows whose exact text also occurs in another
    document (docs shorter than k tokens report 0/0).

    Plan shape (the 100 TB contract): windows are built JVM-side with
    HOFs — split → transform(sequence, slice, array_join, md5) →
    explode — so the expansion is one codegen'd projection, ~one output
    row per corpus TOKEN (the same corpus-length bound the published
    suffix-array recipe pays, here shuffled instead of sorted
    in-memory). Duplicate detection is ONE groupBy on the 128-bit span
    hash + a semi-join back — equi-join only, no cartesian, skew
    bounded by the most-duplicated span. Raise ``k`` (the recipe uses
    50) to shrink the window count on long-document corpora; only
    hashes shuffle, never span text.
    """
    # r17 shape (guide §2.3/§2.4/§2.5; was 19 s at sf1, the slowest
    # non-intrinsic sweep query):
    # - widen the compact corpus scan before the per-window md5 work
    #   (documents sf1 = 2 scan partitions on 32 cores — the same trap
    #   as shingle_docs);
    # - total_spans is ARITHMETIC on the token count (size(toks)-k+1,
    #   floored at 0) — the old third full explode+md5 pass + groupBy
    #   shuffle computed a number the un-exploded frame already knows;
    # - the remaining two consumers (dup detection, dup-span counts)
    #   read a size-conditionally persisted `wins`, so the window
    #   build runs ONCE at sf1+ instead of twice;
    # - spans hash to unhex(md5(..)) BINARY(16), not the 32-char hex
    #   string: identical equality semantics (same md5, no re-hash),
    #   half the bytes through the groupBy/join shuffles.
    win_expr = (
        f"CASE WHEN size(__toks) >= {k} THEN "
        f"transform(sequence(0, size(__toks)-{k}), "
        f"i -> unhex(md5(array_join(slice(__toks, i+1, {k}), ' ')))) "
        "ELSE array() END"
    )
    toks = widen_doc_scan(docs, id_col).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    per_doc = toks.select(
        F.col(id_col),
        F.greatest(F.size("__toks") - F.lit(k - 1), F.lit(0))
        .cast("long")
        .alias("total_spans"),
    )
    wins = maybe_persist(toks.select(id_col, F.explode(F.expr(win_expr)).alias("__h")))
    dup = (
        wins.groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__h")
    )
    dup_per_doc = (
        wins.join(dup, "__h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("dup_spans"))
    )
    return (
        per_doc.join(dup_per_doc, id_col, "left")
        .select(
            id_col,
            "total_spans",
            F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
        )
    )
