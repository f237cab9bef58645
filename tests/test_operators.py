"""Unit tests for engine-layer operators: as-of join, range join, top-k,
dedup sketches (LSH recall vs exact), SRP-LSH ANN recall, multimodal
plumbing, lang-ID accuracy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.functions.text import lang_id_heuristic
from gcs2postgres_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    simhash_near_pairs,
    word_shingles,
)
from gcs2postgres_spark.operators.joins import asof_join, topk_per_group
from gcs2postgres_spark.operators.multimodal import (
    attach_fake_media,
    decode_media,
    resize_metadata,
    sample_frames,
)
from gcs2postgres_spark.operators.similarity import (
    brute_force_cosine_topk,
    srp_lsh_cosine_topk,
)


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------

def test_asof_join_small(spark):
    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2"), (1, 5, "e0"), (2, 10, "x")],
        "k int, t int, ev string",
    )
    right = spark.createDataFrame(
        [(1, 10, "o10"), (1, 15, "o15"), (3, 1, "zzz")],
        "k int, t int, payload string",
    )
    out = asof_join(
        left, right.withColumnRenamed("t", "rt"),
        left_on="k", right_on="k", left_time="t", right_time="rt",
        right_payload=["payload"],
    )
    got = {(r["k"], r["t"]): r["payload"] for r in out.collect()}
    assert got == {
        (1, 5): None,      # before any order
        (1, 10): "o10",    # equal timestamp matches (inclusive)
        (1, 20): "o15",    # latest ≤ 20
        (2, 10): None,     # key with no right rows
    }


# ---------------------------------------------------------------------------
# range join: broadcast vs bucketize degradation
# ---------------------------------------------------------------------------


def _range_fixture(spark, tmp_path):
    import os

    from gcs2postgres_spark.sources.readers import read_source

    fact = spark.range(500).selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v")
    bands = spark.createDataFrame(
        [(f"b{i}", float(i * 10), float(i * 10 + 10)) for i in range(10)]
        + [("wide", 5.0, 42.0)],  # overlapping band: rows match >1 band
        "band string, lo double, hi double",
    )
    bdir = os.path.join(str(tmp_path), "bands.parquet")
    bands.write.mode("overwrite").parquet(bdir)
    return fact, read_source(spark, bdir)


def test_range_join_bucketize_matches_broadcast(spark, tmp_path):
    """The large-band degradation path returns EXACTLY the broadcast
    path's rows (inner and left), including overlapping bands, values on
    band edges, and fact rows outside every band."""
    from gcs2postgres_spark.operators.joins import range_join

    fact, bands = _range_fixture(spark, tmp_path)
    for how in ("inner", "left"):
        bc = sorted(
            tuple(r)
            for r in range_join(fact, bands, "v", how=how, strategy="broadcast").collect()
        )
        bk = sorted(
            tuple(r)
            for r in range_join(fact, bands, "v", how=how, strategy="bucketize").collect()
        )
        assert bc == bk and len(bc) > 500  # overlap band makes inner > |fact|


def test_range_join_large_band_takes_bucketized_plan(spark, tmp_path):
    """The size guard: a band table whose parquet footer proves it over
    the broadcast threshold must degrade to the bucketized EQUI-join —
    no BroadcastNestedLoopJoin anywhere in the plan (the OOM shape the
    r8/r9 verdicts flagged). A small/unknown band side keeps the
    broadcast-nested-loop plan."""
    from gcs2postgres_spark.operators.joins import range_join

    fact, bands = _range_fixture(spark, tmp_path)
    degraded = range_join(fact, bands, "v", max_broadcast_rows=5)  # footer: 11 rows
    plan = degraded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    small = range_join(fact, bands, "v")  # 11 < 1M: broadcast path
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan_small, plan_small


def test_range_join_bucketize_refuses_outer_shapes(spark, tmp_path):
    from gcs2postgres_spark.operators.joins import range_join

    fact, bands = _range_fixture(spark, tmp_path)
    with pytest.raises(ValueError, match="bucketized range join"):
        range_join(fact, bands, "v", how="full", strategy="bucketize")


# ---------------------------------------------------------------------------
# fuzzy-join repartition skip
# ---------------------------------------------------------------------------


def test_spread_on_keys_skips_already_wide_frames(spark):
    """_spread_on_keys inserts the anti-collapse exchange only when the
    frame is narrower than the session parallelism — an already-wide
    frame passes through ungrafted (ADVICE r8 repartition-skip)."""
    from gcs2postgres_spark.operators.joins import _spread_on_keys

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).selectExpr("id", "CAST(id % 5 AS STRING) AS k").coalesce(2)
    wide = spark.range(100).selectExpr("id", "CAST(id % 5 AS STRING) AS k").repartition(
        target + 4
    )
    assert _spread_on_keys(narrow, ["k"]).rdd.getNumPartitions() == target
    assert _spread_on_keys(wide, ["k"]) is wide  # no new plan node at all


# ---------------------------------------------------------------------------
# top-k per group
# ---------------------------------------------------------------------------

def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("b", i) for i in range(3)], "g string, v int"
    )
    out = topk_per_group(df, ["g"], [F.col("v").desc()], 2)
    got = sorted((r["g"], r["v"]) for r in out.collect())
    assert got == [("a", 8), ("a", 9), ("b", 1), ("b", 2)]


# ---------------------------------------------------------------------------
# shingling / minhash / LSH
# ---------------------------------------------------------------------------

def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], "text string")
    out = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()
    assert sorted(out[0]["s"]) == ["a b c", "b c d"]
    assert out[1]["s"] == ["x y"]  # shorter than n → whole text


def test_minhash_lsh_finds_near_dups_with_high_recall(spark, sf_dir):
    """LSH candidates must cover most truly-similar pairs (jaccard ≥ 0.5)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    exact = (
        jaccard_pairs(docs, "doc_id", "text", shingle_n=3)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    truth = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    sigs = minhash_signatures(docs, "doc_id", "text", num_perm=32)
    cands = lsh_candidate_pairs(sigs, "doc_id", num_perm=32, bands=8)
    found = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    if truth:
        recall = len(truth & found) / len(truth)
        assert recall >= 0.9, f"LSH recall {recall} over {len(truth)} true pairs"


def test_simhash_identical_texts_collide(spark):
    df = spark.createDataFrame(
        [(1, "spark query engine fast"), (2, "spark query engine fast"), (3, "totally different words entirely")],
        "doc_id bigint, text string",
    )
    fps = simhash(df, "doc_id", "text")
    vals = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    assert vals[1] == vals[2]
    pairs = simhash_near_pairs(fps, "doc_id", max_hamming=3).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} >= {(1, 2)}


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def test_srp_lsh_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_cosine_topk(q, emb, k=5)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx = srp_lsh_cosine_topk(q, emb, k=5, nbits=4, ntables=8)
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    # OR-amplified SRP (8 tables x 4 bits): ~0.67 expected recall at the
    # cos~0.3 neighbor distances this synthetic data has
    assert recall >= 0.5, f"ANN recall {recall}"


def test_ivf_recall_vs_exact(spark, sf_dir):
    from gcs2postgres_spark.operators.similarity import ivf_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_cosine_topk(q, emb, k=5)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx = ivf_cosine_topk(q, emb, k=5, n_centroids=16, n_probe=4)
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    # probing 4/16 cells: on near-uniform data expect >~ n_probe/n_cells
    # by chance alone; k-means locality should beat that comfortably
    assert recall >= 0.4, f"IVF recall {recall}"


def test_srp_arrow_keys_match_expression_keys(spark, sf_dir):
    """The BLAS SRP key computer must reproduce the pure-expression
    path bucket-for-bucket on real embeddings (sign flips require a
    dot product within float-reorder epsilon of the hyperplane —
    measure zero on continuous data; if this ever flakes, the data has
    a genuine knife-edge dot and the fixture should be regenerated)."""
    import pyspark.sql.functions as F

    from gcs2postgres_spark.operators.similarity import (
        _srp_hyperplanes,
        _srp_table_keys,
        _srp_table_keys_arrow,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    tables = [_srp_hyperplanes(64, 4, 42 + 7919 * t) for t in range(4)]
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    expr_keys = {
        r["vec_id"]: r["k"]
        for r in v.select(
            "vec_id", _srp_table_keys(F.col("vec"), tables).alias("k")
        ).collect()
    }
    arrow_keys = {
        r["vec_id"]: r["k"]
        for r in v.select(
            "vec_id", _srp_table_keys_arrow(tables)(F.col("vec")).alias("k")
        ).collect()
    }
    assert arrow_keys == expr_keys


def test_exact_dedup_keeps_whole_min_id_row(spark):
    """exact_dedup must return the min-id row's columns TOGETHER — no
    chimera rows mixing non-key values from different duplicates (the
    F.first() failure mode under parallel aggregation)."""
    from gcs2postgres_spark.operators.dedup import exact_dedup

    rows = [
        # (id, key, payload) — payloads deliberately disagree per key
        (5, "a", "late"),
        (1, "a", "first"),
        (3, "a", "mid"),
        (9, "b", "solo"),
        (2, "c", "keep"),
        (8, "c", "drop"),
    ]
    df = spark.createDataFrame(rows, "id long, key string, payload string").repartition(7)
    got = {(r["key"], r["id"], r["payload"]) for r in exact_dedup(df, ["key"], "id").collect()}
    assert got == {("a", 1, "first"), ("b", 9, "solo"), ("c", 2, "keep")}


def test_exact_dedup_map_typed_column_via_join_back(spark):
    """Map-typed columns can't sit inside the struct-min ordering; the
    fallback path (min(id) + join-back on the unique id) must return the
    same winning rows with the map intact."""
    from gcs2postgres_spark.operators.dedup import exact_dedup

    rows = [
        (5, "a", {"k": "late"}),
        (1, "a", {"k": "first"}),
        (9, "b", {"k": "solo"}),
    ]
    df = spark.createDataFrame(rows, "id long, key string, m map<string,string>").repartition(3)
    got = {(r["key"], r["id"], r["m"]["k"]) for r in exact_dedup(df, ["key"], "id").collect()}
    assert got == {("a", 1, "first"), ("b", 9, "solo")}


def test_simhash_near_pairs_rejects_indivisible_bands(spark):
    """bits % bands != 0 would leave the top bits un-banded and silently
    break pigeonhole completeness — must raise, not miscompute."""
    import pytest

    from gcs2postgres_spark.operators.dedup import simhash_near_pairs

    df = spark.createDataFrame([(1, 0)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="divisible"):
        simhash_near_pairs(df, "doc_id", bits=64, bands=3)


def test_copy_sink_rejects_unsafe_identifiers(spark):
    """COPY SQL interpolates config-controlled table/column names; the
    write path gets the same plain-identifier guard as reconcile's
    target-schema fetch."""
    import pytest

    from gcs2postgres_spark.sinks import make_copy_partition

    with pytest.raises(ValueError, match="unsafe table"):
        make_copy_partition("dsn", "t; DROP TABLE x", ["a"])
    with pytest.raises(ValueError, match="unsafe column"):
        make_copy_partition("dsn", "public.t", ["a", 'b"'])
    # legitimate schema-qualified table + plain columns pass
    make_copy_partition("dsn", "public.t", ["a", "b_2"])


def test_pack_sequences_respects_budget_and_is_deterministic(spark, sf_dir):
    """No packed sequence may exceed the token budget unless it is a
    single oversized document; two runs must agree exactly (the property
    the recursive-CTE oracle also checks, pinned here independently)."""
    from gcs2postgres_spark.operators.training import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(docs, budget=64, n_shards=4)
    per_seq = (
        packed.groupBy("seq_id")
        .agg(F.sum("n_tokens").alias("seq_tokens"), F.count("*").alias("n_docs"))
        .collect()
    )
    assert per_seq, "no sequences produced"
    for r in per_seq:
        assert r["seq_tokens"] <= 64 or r["n_docs"] == 1, dict(r.asDict())
    a = sorted(map(tuple, packed.collect()))
    b = sorted(map(tuple, pack_sequences(docs, budget=64, n_shards=4).collect()))
    assert a == b


def test_pack_sequences_oracle_parity_across_shard_counts(spark, sf_dir):
    """The streamed greedy (mapInPandas with carried accumulator) must
    replay the recursive-CTE oracle exactly at n_shards ∈ {1, 8, 64} —
    the packing is a pure function of the data, never of shard/batch
    geometry (round-4 scale hardening)."""
    from gcs2postgres_spark.operators.training import pack_sequences
    from gcs2postgres_spark.queries.training_q import sequence_pack_oracle_sql
    from tests.oracle_utils import duckdb_connection

    docs = load_table(spark, sf_dir, "documents")
    con = duckdb_connection(sf_dir)
    for n_shards in (1, 8, 64):
        got = sorted(map(tuple, pack_sequences(docs, budget=96, n_shards=n_shards).collect()))
        want = sorted(map(tuple, con.sql(sequence_pack_oracle_sql(96, n_shards)).fetchall()))
        assert got == want, f"n_shards={n_shards}: {len(got)} vs {len(want)} rows"


def test_pack_sequences_shard_cols_portable(spark, sf_dir):
    """shard_cols sharding (portable md5 bucket of the column value) is
    engine-reproducible: DuckDB re-derives the identical shards, order,
    and packing."""
    from gcs2postgres_spark.operators.training import pack_sequences
    from gcs2postgres_spark.queries.training_q import sequence_pack_oracle_sql
    from tests.oracle_utils import duckdb_connection

    docs = load_table(spark, sf_dir, "documents")
    shard_sql = "(('0x' || substr(md5(CAST(source AS VARCHAR)), 1, 15))::BIGINT % 4)"
    got = sorted(
        map(tuple, pack_sequences(docs, budget=96, n_shards=4, shard_cols=["source"]).collect())
    )
    con = duckdb_connection(sf_dir)
    want = sorted(map(tuple, con.sql(sequence_pack_oracle_sql(96, 4, shard_sql)).fetchall()))
    assert got == want


def test_hash_split_proportions_and_stability(spark, sf_dir):
    """The md5 split must land near the requested 90/5/5 weights and be
    a pure function of (seed, id): same seed → identical assignment,
    different seed → a different one."""
    from gcs2postgres_spark.operators.training import hash_split_column

    docs = load_table(spark, sf_dir, "documents")
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    s1 = docs.select(
        "doc_id", hash_split_column(F.col("doc_id"), w, "seed-a").alias("split")
    )
    counts = {r["split"]: r["n"] for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert counts.get("train", 0) / total > 0.8
    assert 0 < counts.get("val", 0) / total < 0.15
    assert s1.collect() == s1.collect()
    s2 = docs.select(
        "doc_id", hash_split_column(F.col("doc_id"), w, "seed-b").alias("split")
    )
    diff = s1.withColumnRenamed("split", "a").join(s2.withColumnRenamed("split", "b"), "doc_id")
    assert diff.filter(F.col("a") != F.col("b")).count() > 0


def _imageio_png(spark, w, h, pixel_fn) -> bytes:
    """Encode a PNG with the JVM's ImageIO (adaptive row filters — the
    decoder's Sub/Up/Average/Paeth paths get real exercise), pixels from
    pixel_fn(x, y) -> (r, g, b)."""
    import os
    import tempfile

    jvm = spark._jvm
    img = jvm.java.awt.image.BufferedImage(w, h, 1)  # TYPE_INT_RGB
    for y in range(h):
        for x in range(w):
            r, g, b = pixel_fn(x, y)
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
    fd, path = tempfile.mkstemp(suffix=".png")
    os.close(fd)
    assert jvm.javax.imageio.ImageIO.write(img, "png", jvm.java.io.File(path))
    with open(path, "rb") as f:
        data = f.read()
    os.unlink(path)
    return data


def test_png_decoder_matches_imageio_pixels(spark):
    """Spec conformance for the real PNG decoder: an ImageIO-encoded
    gradient must decode to the exact pixel values that were drawn."""
    from gcs2postgres_spark.functions.media_codecs import decode_png

    w, h = 23, 17  # odd sizes catch stride bugs

    def px(x, y):
        return ((x * 11) % 256, (y * 7) % 256, (x * y) % 256)

    d = decode_png(_imageio_png(spark, w, h, px))
    assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
    for x, y in [(0, 0), (22, 16), (5, 11), (12, 3)]:
        got = tuple(d["pixels"][(y * w + x) * 3 : (y * w + x) * 3 + 3])
        assert got == px(x, y), f"pixel {(x, y)}: {got} != {px(x, y)}"


def test_wav_decoder_roundtrips_stdlib_wave(tmp_path):
    """The independent RIFF walk must parse a stdlib-wave-written PCM
    file sample-for-sample (16-bit stereo; first channel returned)."""
    import struct as st
    import wave

    from gcs2postgres_spark.functions.media_codecs import decode_wav

    path = str(tmp_path / "t.wav")
    left = [((i * 37) % 2000) - 1000 for i in range(500)]
    right = [((i * 91) % 2000) - 1000 for i in range(500)]
    with wave.open(path, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        inter = [v for pair in zip(left, right) for v in pair]
        wf.writeframes(st.pack(f"<{len(inter)}h", *inter))
    with open(path, "rb") as f:
        d = decode_wav(f.read())
    assert d["sample_rate"] == 16000 and d["n_channels"] == 2
    assert d["samples"] == left


def test_decode_media_with_injected_real_decoder(spark):
    """The codec seam end-to-end on a NON-fake format: PNG payloads flow
    through the distributed mapInPandas decode with the real decoder
    injected, and the emitted features are the true image properties."""
    from pyspark.sql import functions as SF

    from gcs2postgres_spark.functions.media_codecs import make_real_decoder
    from gcs2postgres_spark.operators.multimodal import MEDIA_META_SCHEMA, decode_media

    pngs = [
        (i, _imageio_png(spark, 8 + i, 6 + i, lambda x, y: (x % 256, y % 256, 7)))
        for i in range(4)
    ]
    df = spark.createDataFrame(pngs, "doc_id long, payload binary").select(
        "doc_id",
        "payload",
        SF.struct(
            SF.lit("image/png").alias("media_type"),
            SF.lit(0).cast("int").alias("width"),
            SF.lit(0).cast("int").alias("height"),
            SF.lit(1).cast("int").alias("n_frames"),
            SF.lit(0).cast("int").alias("sample_rate"),
        ).alias("media_meta"),
    ).repartition(3)
    out = {r["doc_id"]: r for r in decode_media(df, decoder=make_real_decoder()).collect()}
    assert len(out) == 4
    for i in range(4):
        feat = out[i]["feature"]
        assert feat[0] == 8.0 + i and feat[1] == 6.0 + i and feat[2] == 3.0
        assert 0.0 < feat[3] < 1.0  # mean intensity of the gradient


def test_srp_near_dup_pairs_equal_all_pairs(spark, sf_dir):
    """The SRP-bucketed near-dup pipeline must reproduce the exact
    all-pairs result on the test corpus — the property its registered
    oracle (exact all-pairs SQL) relies on."""
    from gcs2postgres_spark.operators.similarity import (
        cosine_near_dup_pairs,
        srp_cosine_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(emb, threshold=0.45).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in srp_cosine_near_dup_pairs(emb, threshold=0.45).collect()
    }
    assert bucketed == exact, (
        f"missed={sorted(exact - bucketed)[:5]} extra={sorted(bucketed - exact)[:5]}"
    )


def test_ivf_deterministic(spark, sf_dir):
    from gcs2postgres_spark.operators.similarity import ivf_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, ivf_cosine_topk(q, emb, k=3).collect()))
    b = sorted(map(tuple, ivf_cosine_topk(q, emb, k=3).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_multimodal_decode_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    media = attach_fake_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    decoded = decode_media(media)
    rows = decoded.collect()
    assert len(rows) == 50
    by_id = {r["doc_id"]: r for r in rows}
    n_chars = {r["doc_id"]: r["n_chars"] for r in docs.select("doc_id", "n_chars").collect()}
    for i, r in by_id.items():
        assert r["payload_bytes"] == n_chars[i]  # ascii text: bytes == chars
        assert len(r["feature"]) == 4
        assert r["media_type"] == "image"


def test_multimodal_decode_unknown_type_raises(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    media = attach_fake_media(docs, media_type="hologram")
    with pytest.raises(Exception, match="NotImplementedError|no decoder"):
        decode_media(media).collect()


def test_resize_and_frame_sample(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    media = attach_fake_media(docs)
    resized = resize_metadata(media, max_side=64)
    for r in resized.select("resized").collect():
        assert max(r["resized"]["width"], r["resized"]["height"]) <= 64
    frames = sample_frames(media, every_n=1)
    assert frames.count() == 20  # n_frames=1 → one frame row each


# ---------------------------------------------------------------------------
# lang-ID heuristic
# ---------------------------------------------------------------------------

def test_lang_id_on_marker_sentences(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog of it",),
            ("der hund und das auto",),
            ("le chat et la maison",),
            ("el gato y los perros",),
            ("qqq www zzz",),
        ],
        "text string",
    )
    got = [r[0] for r in df.select(lang_id_heuristic(F.col("text"))).collect()]
    assert got == ["en", "de", "fr", "es", "und"]


def test_hll_sketch_estimates_within_2pct(spark, sf_dir):
    from gcs2postgres_spark.queries import REGISTRY

    rows = REGISTRY["agg_hll_sketch_merge"].fn(spark, sf_dir).collect()
    assert any(r.c_mktsegment == "__ALL__" for r in rows)
    for r in rows:
        # the query emits the estimate-vs-exact tolerance check itself
        # (scalar boolean output so the external oracle can state it)
        assert r.est_within_2pct, (r.c_mktsegment, r.exact_distinct)


def test_winnow_fingerprint_properties(spark):
    from gcs2postgres_spark.operators.dedup import winnow_docs, winnow_shared_pairs

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely different content with no overlap at all zzz"),
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "THE  quick   Brown fox jumps over the lazy DOG"),
        ],
        ["doc_id", "text"],
    )
    fps = {r.doc_id: set(r.fps) for r in winnow_docs(df, "doc_id", "text").collect()}
    # exact duplicate → identical fingerprint set
    assert fps[0] == fps[3]
    # case/whitespace normalization folds into the same fingerprints
    assert fps[0] == fps[4]
    # near-duplicate (one word changed) shares most fingerprints
    assert len(fps[0] & fps[1]) >= 3
    # unrelated doc shares essentially none
    assert len(fps[0] & fps[2]) <= 1
    # determinism across evaluations
    again = {r.doc_id: set(r.fps) for r in winnow_docs(df, "doc_id", "text").collect()}
    assert fps == again
    # pair join surfaces exactly the dup/near-dup pairs among 0/1/3/4
    pairs = {
        (r.id_a, r.id_b)
        for r in winnow_shared_pairs(df, "doc_id", "text", min_shared=3).collect()
    }
    assert (0, 3) in pairs and (0, 1) in pairs and (0, 4) in pairs
    assert all(2 not in p for p in pairs)


def test_pq_adc_recall_vs_exact(spark, sf_dir):
    """PQ is lossy by design; pin that the m=2/k=4 toy config still
    ranks sanely: for each query, the exact L2 nearest neighbor's ADC
    distance must sit in the PQ top-half of the corpus (a weak but
    config-independent sanity floor), and with a finer codebook
    (m=4, k=8, 2 Lloyd rounds) top-10 recall vs exact L2 top-10 must
    clear 0.3 on the real embeddings — catching a broken encoder or a
    transposed LUT, which score ~random (≈0.02)."""
    import math

    from gcs2postgres_spark.operators.similarity import pq_adc_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}

    def l2(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    q_ids = sorted(vecs)[:3]
    exact_top10 = {
        q: [
            v
            for v, _ in sorted(
                ((v, l2(vecs[q], vecs[v])) for v in vecs),
                key=lambda t: (t[1], t[0]),
            )[:10]
        ]
        for q in q_ids
    }
    got = pq_adc_topk(
        emb, m_subspaces=4, k_codes=8, n_iters=2, n_queries=3, topk=10
    ).collect()
    by_q: dict[int, list[int]] = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r["vec_id"])
    recalls = [
        len(set(by_q[q]) & set(exact_top10[q])) / 10 for q in q_ids
    ]
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_pq_adc_uneven_dim_floor_bounds(spark):
    # dim % m_subspaces != 0: both engines must floor the subspace
    # length (a round-to-nearest on either side shifts every boundary).
    # dim=5, m=2 -> L=2, subspaces [1..2],[3..4], element 5 dropped.
    from gcs2postgres_spark.operators.similarity import pq_adc_topk

    rows = [(i, [float(i % 7), float(i % 5), float(i % 3), float(i % 2), 99.0]) for i in range(40)]
    emb = spark.createDataFrame(rows, "doc_id bigint, embedding array<double>")
    got = pq_adc_topk(
        emb, id_col="doc_id", vec_col="embedding",
        m_subspaces=2, k_codes=4, n_iters=1, n_queries=2, topk=3,
    ).collect()
    assert len(got) == 6
    # the constant 5th element is outside every subspace: two vectors
    # equal on elements 1-4 must tie at distance 0 to the query
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r)
    for q_id, rs in by_q.items():
        best = min(rs, key=lambda r: r["rank"])
        assert best["adc_dist"] >= 0.0


def test_png_encoder_decoder_roundtrip_nonsquare():
    # the stdlib encoder's output must parse bit-exactly through the
    # INDEPENDENT full-filter-spec decoder, including non-square shapes
    from gcs2postgres_spark.functions.media_codecs import (
        decode_png,
        encode_png_gray,
    )

    for w, h in [(8, 8), (5, 3), (1, 7), (16, 2)]:
        px = bytes([(11 * k + 3) % 256 for k in range(w * h)])
        d = decode_png(encode_png_gray(px, w, h))
        assert (d["width"], d["height"], d["channels"]) == (w, h, 1)
        assert d["pixels"] == px


def test_winnow_arrow_path_matches_jvm_expression_path(spark):
    # the fused Arrow winnower must reproduce the JVM expression
    # pipeline bit-for-bit (portable hash), including short-text and
    # whitespace-run edges
    from gcs2postgres_spark.operators.dedup import (
        _kgram_hashes,
        _window_minima,
        winnow_docs,
    )
    import pyspark.sql.functions as F

    texts = [
        "the quick brown fox jumps over the lazy dog " * 12,
        "short",
        "",
        "   ",
        "a  b\t\tc\nd   e",
        "exactly8",
        "ninechars",
        "x" * 7,
        # non-ASCII edges: NBSP must NOT collapse (ASCII ws class only),
        # İ/ß/É must survive untranslated (A-Z-only lowercase) — the
        # round-6 hardening that keeps Python/JVM/DuckDB fingerprints
        # identical beyond ASCII corpora
        "CAFÉ naïve  word İstanbul STRAßE "
        * 3,
        "MiXeD Ascii AND\tUnicode  spaces HERE too " * 2,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    fast = {
        r.doc_id: r.fps
        for r in winnow_docs(docs, "doc_id", "text", portable=True).collect()
    }
    grams = docs.select(
        "doc_id", _kgram_hashes(F.col("text"), 8, True).alias("_grams")
    )
    slow = {
        r.doc_id: r.fps
        for r in grams.select(
            "doc_id", _window_minima(F.col("_grams"), 4).alias("fps")
        ).collect()
    }
    assert fast == slow


def test_blocked_cosine_pairs_match_allpairs_crossjoin(spark, sf_dir):
    # blocked GEMM must reproduce the exact all-pairs result —
    # completeness is structural (every id pair lands in exactly one
    # block pair), asserted here value-for-value incl. block-boundary
    # and diagonal-block pairs
    from gcs2postgres_spark.operators.similarity import (
        blocked_cosine_pairs,
        cosine_near_dup_pairs,
    )
    from gcs2postgres_spark.catalog import load_table
    import pyspark.sql.functions as F

    e = load_table(spark, sf_dir, "embeddings")
    got = {
        (r.id_a, r.id_b): round(r.cos_sim, 9)
        for r in blocked_cosine_pairs(e, threshold=0.45, nblocks=7).collect()
    }
    want = {
        (r.id_a, r.id_b): round(r.cos_sim, 9)
        for r in cosine_near_dup_pairs(e, threshold=0.45).collect()
    }
    assert set(got) == set(want) and len(want) > 0
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_blocked_cosine_pairs_sizes_blocks_without_a_job(spark, sf_dir):
    # over a parquet scan the block count comes from the footers' row
    # count, so building the pairs runs no Spark job (a count ran one);
    # the pairs still equal a fixed-block run's, and a source with no
    # footer still counts
    from gcs2postgres_spark.catalog import load_table
    from gcs2postgres_spark.operators.similarity import blocked_cosine_pairs

    sc = spark.sparkContext

    def jobs(fn, group):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def pairs(df):
        return {(r.id_a, r.id_b): round(r.cos_sim, 9) for r in df.collect()}

    e = load_table(spark, sf_dir, "embeddings")
    auto, n = jobs(lambda: blocked_cosine_pairs(e, threshold=0.45), "bcp_footer")
    assert n == 0
    want = pairs(blocked_cosine_pairs(e, threshold=0.45, nblocks=7))
    assert pairs(auto) == want and len(want) > 0
    mem = spark.createDataFrame(e.limit(64).collect(), e.schema)
    _, n = jobs(lambda: blocked_cosine_pairs(mem, threshold=0.45), "bcp_count")
    assert n >= 1


def test_blocked_cosine_pairs_zero_norm_excluded(spark):
    # zero-norm vectors have no defined cosine: they must never pair
    # (with anything, including each other) and must not surface NaN
    # rows or numpy divide warnings
    import warnings

    from gcs2postgres_spark.operators.similarity import blocked_cosine_pairs

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),  # zero norm
        (3, [0.0, 0.0]),  # zero norm
        (4, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = blocked_cosine_pairs(df, threshold=0.45, nblocks=3).collect()
    ids = {i for r in got for i in (r.id_a, r.id_b)}
    assert 2 not in ids and 3 not in ids
    assert {(r.id_a, r.id_b) for r in got} == {(0, 1)}
    assert all(r.cos_sim == r.cos_sim for r in got)  # no NaN


def test_clustered_cosine_pairs_exact_and_pruning(spark, sf_dir):
    """kmeans block-pair pruning must be EXACT (identical pair set +
    values vs the hash-blocked miner at every threshold — the skip
    bound is a theorem, not a recall target) while actually pruning:
    at a high threshold the retained-cell-pair GEMM work must be a
    strict subset of the all-pairs k(k+1)/2."""
    from gcs2postgres_spark.catalog import load_table
    from gcs2postgres_spark.operators.similarity import (
        blocked_cosine_pairs,
        clustered_cosine_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    for thr in (0.45, 0.8):
        want = {
            (r.id_a, r.id_b): round(r.cos_sim, 9)
            for r in blocked_cosine_pairs(e, threshold=thr).collect()
        }
        got = {
            (r.id_a, r.id_b): round(r.cos_sim, 9)
            for r in clustered_cosine_pairs(
                e, threshold=thr, n_clusters=16
            ).collect()
        }
        assert set(got) == set(want), f"thr={thr}"
        for kk in want:
            assert abs(got[kk] - want[kk]) < 1e-9


def test_clustered_cosine_pairs_prunes_cell_pairs(spark):
    """Pruning effectiveness needs CLUSTERED data — on uniform-random
    high-dim vectors cell radii approach 90° and the (correct) bound
    can rule nothing out, which the exactness test above covers. Here:
    three tight caps around orthogonal axes; cross-cap cosines ~0, so
    at a 0.8 threshold the geometry must discard every cross-cap cell
    pair while the result still matches the unpruned miner exactly."""
    import numpy as np

    from gcs2postgres_spark.operators.similarity import (
        blocked_cosine_pairs,
        clustered_cosine_pairs,
    )

    rng = np.random.RandomState(7)
    rows = []
    for axis in range(3):
        for i in range(40):
            v = np.zeros(8)
            v[axis] = 1.0
            v += 0.03 * rng.standard_normal(8)  # tight cap, ~2-3° radius
            rows.append((axis * 100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = {
        (r.id_a, r.id_b): round(r.cos_sim, 9)
        for r in blocked_cosine_pairs(df, threshold=0.8, nblocks=6).collect()
    }
    got = {
        (r.id_a, r.id_b): round(r.cos_sim, 9)
        for r in clustered_cosine_pairs(
            df, threshold=0.8, n_clusters=8, sample_size=200
        ).collect()
    }
    assert set(got) == set(want) and len(want) > 0
    for kk in want:
        assert abs(got[kk] - want[kk]) < 1e-9
    # white-box: recompute the bound the operator uses; cross-cap cell
    # pairs must be below threshold (pruned), diagonals retained
    from gcs2postgres_spark.operators.similarity import train_ivf_quantizer
    from pyspark.sql import functions as F

    base = df.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("vec"),
    )
    cent = train_ivf_quantizer(base, 8, 200, 5, 42)
    X = np.array([r[1] for r in rows], dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = X @ cent.T
    cell = np.argmax(sims, axis=1)
    k = len(cent)
    radius = np.zeros(k)
    for c in range(k):
        m = sims[cell == c, c]
        if len(m):
            radius[c] = np.arccos(np.clip(m.min(), -1, 1)) + 1e-9
    ang = np.arccos(np.clip(cent @ cent.T, -1, 1))
    bound = np.cos(np.maximum(0.0, ang - radius[:, None] - radius[None, :]))
    kept = int(np.count_nonzero(np.triu(bound > 0.8 - 1e-9)))
    total = k * (k + 1) // 2
    # with >= 1 centroid per cap, every cross-cap cell pair is ruled
    # out by the bound; same-cap splits and empty cells may survive
    assert kept < total // 2, (kept, total)


def test_blocked_cosine_pairs_no_corpus_scaled_rows(spark, sf_dir):
    # the round-6 representation contract: block members stay ordinary
    # rows into the applyInArrow GEMM — no collect_list aggregation
    # whose single row grows with corpus size (the old design's 2 GB
    # record-limit wall at 100x scale)
    from gcs2postgres_spark.catalog import load_table
    from gcs2postgres_spark.operators.similarity import blocked_cosine_pairs
    from gcs2postgres_spark.plans.inspect import formatted_plan

    e = load_table(spark, sf_dir, "embeddings")
    plan = formatted_plan(blocked_cosine_pairs(e, threshold=0.45))
    assert "collect_list" not in plan, plan
    assert "FlatMapGroupsInArrow" in plan, plan


def test_winnow_arrow_kernel_matches_jvm_pipeline(spark):
    import hashlib

    # _winnow_fps_batches (mapInArrow, flat-buffer lists) must produce
    # exactly the fingerprints of the JVM expression pipeline it fuses
    # (_window_minima over _kgram_hashes with portable_hash60) — same
    # hash, window minima, and first-occurrence distinct order
    from pyspark.sql import functions as F

    from gcs2postgres_spark.operators.dedup import (
        _kgram_hashes,
        _window_minima,
        winnow_docs,
    )

    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # case-folded dup
        (3, "short"),  # below k: whole-string fallback
        (4, "naïve café au lait — non-ASCII per-gram encode path"),
        (5, "a  b\tc\nd\x0be\ff\rg   whitespace   classes"),
        (6, None),
        (7, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.fps
        for r in winnow_docs(df, "doc_id", "text", portable=True).collect()
    }
    want = {
        r.doc_id: r.fps
        for r in df.select(
            "doc_id",
            _window_minima(_kgram_hashes(F.col("text"), 8, portable=True), 4).alias("fps"),
        ).collect()
    }
    assert set(got) == set(want) == {1, 2, 3, 4, 5, 6, 7}
    assert got[1] == got[2] and len(got[1]) > 1
    # NULL and "" are where the two paths part: the kernel reads NULL as
    # "" and fingerprints the empty string's single (empty) gram; the
    # JVM pipeline hashes the NULL gram to one NULL fingerprint
    empty_fp = int(hashlib.md5(b"").hexdigest()[:15], 16)
    assert got[6] == got[7] == want[7] == [empty_fp]
    assert want[6] == [None]
    for doc_id in range(1, 6):
        assert got[doc_id] == want[doc_id], doc_id


def test_ngram_decontaminate_semantics(spark):
    """ngram_decontaminate: n-gram overlap flags, whole-text fallback for
    short benchmark entries, min_matches threshold, and the clean/flagged
    partition of the corpus."""
    from gcs2postgres_spark.operators.training import ngram_decontaminate

    corpus = spark.createDataFrame(
        [
            # shares two distinct 3-grams with bench doc A ("a b c d" -> "a b c","b c d")
            (1, "x a b c d y"),
            # shares exactly one 3-gram ("a b c")
            (2, "q a b c z w"),
            # short doc, identical (normalized) to the short bench entry
            (3, "  Hello   World  "),
            # short doc, no match
            (4, "nothing here"),
            # long doc, clean
            (5, "u v w x y z u2 v2 w2"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("a b c d",), ("hello world",)], "text string"
    )
    clean, flagged = ngram_decontaminate(corpus, bench, n=3)
    got = {r["doc_id"]: r["n_matching_ngrams"] for r in flagged.collect()}
    # doc 3 matches via the whole-text fallback on BOTH sides (bench
    # "hello world" is below n=3 tokens, so its whole text is the gram;
    # corpus doc 3 likewise) despite ragged whitespace/case
    assert got == {1: 2, 2: 1, 3: 1}
    assert sorted(r["doc_id"] for r in clean.collect()) == [4, 5]
    # the partition is exact: clean ∪ flagged-ids == corpus, disjoint
    assert clean.count() + flagged.count() == corpus.count()

    # min_matches=2 keeps only the two-gram overlap
    clean2, flagged2 = ngram_decontaminate(corpus, bench, n=3, min_matches=2)
    assert [r["doc_id"] for r in flagged2.collect()] == [1]
    assert sorted(r["doc_id"] for r in clean2.collect()) == [2, 3, 4, 5]


def test_ngram_decontaminate_plan_broadcasts_bench(spark):
    """The contamination probe must broadcast the (small-by-contract)
    benchmark gram side — the corpus is never shuffled for the join."""
    from gcs2postgres_spark.operators.training import ngram_decontaminate

    corpus = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), F.col("id").cast("string"), F.lit(" a b c d")).alias("text"),
    )
    bench = spark.createDataFrame([("a b c d e",)], "text string")
    _clean, flagged = ngram_decontaminate(corpus, bench, n=3)
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_bucket_pair_expand_hot_bucket_fallback_same_pairs(spark):
    """Buckets above ``max_bucket`` must spill to the codegen'd
    self-join path (the O(k²) single-task HOF expansion is the r17
    simhash regression) — and the fallback must emit EXACTLY the pair
    set the expansion emits, carries included."""
    from gcs2postgres_spark.operators.caching import release_transient_caches
    from gcs2postgres_spark.operators.dedup import bucket_pair_expand

    # bucket 0: 6 ids (hot under max_bucket=4), bucket 1: 3 ids, bucket
    # 2: singleton (no pairs); ids overlap buckets to exercise distinct
    rows = [(0, i, i * 10) for i in range(6)]
    rows += [(1, i, i * 10) for i in (7, 8, 9)]
    rows += [(2, 42, 420)]
    df = spark.createDataFrame(rows, "bucket int, id long, m long")

    def pairset(max_bucket):
        out = bucket_pair_expand(
            df, ["bucket"], "id", carry=("m",), max_bucket=max_bucket
        )
        got = {(r.id_a, r.id_b, r.m_a, r.m_b) for r in out.collect()}
        release_transient_caches()
        return got

    all_expand = pairset(max_bucket=4096)   # everything through HOF expansion
    with_fallback = pairset(max_bucket=4)   # bucket 0 through the self-join
    expected = {(a, b, a * 10, b * 10) for a in range(6) for b in range(a + 1, 6)}
    expected |= {(a, b, a * 10, b * 10) for a in (7, 8, 9) for b in (7, 8, 9) if a < b}
    assert all_expand == expected
    assert with_fallback == expected
