"""Widen-guard coverage: no registered document query may run its
per-doc heavy stage (explode / Arrow UDF) directly on a compact
documents scan.

The r17 round spent much of its budget killing one defect class: text
tables compress so hard that a whole-corpus parquet scan yields fewer
partitions than cores, and every downstream tokenize/explode/regex
stage inherits that width (decontaminate_ngram13_audit at sf1: 54-65 s
narrow vs 6.5 s widened). ``operators.caching.widen_doc_scan`` is the
guard; this test pins its COVERAGE so the next narrow-scan query cannot
silently re-introduce the class:

- fixture: the sf0.01 corpus with ``documents`` inflated to 8k rows in
  ONE parquet file (the compact-scan trap by construction — the widen
  target at 8k rows is 4 partitions, the raw scan is 1);
- for every registered query whose source reads ``documents``, build
  its physical plan against the fixture and walk each documents-scan's
  ancestor chain: if a per-doc heavy node (Generate, ArrowEvalPython,
  BatchEvalPython, FlatMapGroupsInPandas/Arrow) is reached before any
  repartitioning (Exchange / ShuffleQueryStage / AQEShuffleRead), the
  query runs per-doc work at raw scan width — red.

The checker is deliberately structural (parsed from the formatted-plan
tree, not substring counts) and is verified red on a deliberately
narrow query below.
"""

from __future__ import annotations

import inspect
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from gcs2postgres_spark.plans.inspect import formatted_plan
from gcs2postgres_spark.queries import REGISTRY

HEAVY_NODES = {
    "Generate",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "MapInPandas",
    "PythonMapInArrow",
    "MapInArrow",
}
WIDEN_NODES = {"Exchange", "ShuffleQueryStage", "AQEShuffleRead"}

# Queries excluded from the sweep, each with the reason on record:
# - dedup_cluster_canonical: eagerly executes the full LSH+CC pipeline
#   at fn() time; its tokenize path is shingle_docs, whose widen is
#   already exercised via dedup_minhash_lsh in this sweep.
# - *_roundtrip: fn() eagerly stages lakehouse tables (writes) before
#   returning a frame over the STAGED copy, so the scan under test is
#   not the documents parquet and the build cost is a full write.
# - dedup_incremental_batch: eagerly materializes its batch splits.
EXCLUDED = {
    "dedup_cluster_canonical",
    "json_source_roundtrip",
    "variant_lakehouse_roundtrip",
    "dedup_incremental_batch",
}
# Bounded-demo queries: the heavy stage sits behind a CONSTANT doc_id
# predicate (20-1000 rows at ANY corpus scale — the bound is the demo
# contract, stated in each docstring), so raw scan width is correct and
# a widen repartition would be pure shuffle overhead. A future query
# added here must carry the same constant-bound argument.
BOUNDED = {
    "contrastive_pairs_mine",        # doc_id < 1000
    "dedup_jaccard_prefix_filter",   # doc_id < 1000
    "explode_outer_rare_tokens",     # doc_id < 50
    "explode_pos_tokens",            # doc_id < 20
    "explode_token_counts",          # doc_id < 500
    "multimodal_audio_fp_dedup",     # doc_id < 500
    "multimodal_decode_features",    # doc_id < 500
    "multimodal_image_ahash_dedup",  # doc_id < 500
    "multimodal_wav_energy",         # doc_id < 200
}
EXCLUDED = EXCLUDED | BOUNDED


def _tree(plan: str) -> list[tuple[int, str, int | None]]:
    """(indent_col, node_name, node_id) per header-tree line."""
    out = []
    node_re = re.compile(
        r"^([ :*+|-]*)([A-Za-z][A-Za-z0-9_]*(?: [A-Za-z][A-Za-z0-9_]*)*)\s+\((\d+)\)"
    )
    for ln in plan.splitlines():
        if ln.startswith("== "):
            continue
        if not ln.strip():
            break
        m = node_re.match(ln)
        if m:
            out.append((len(m.group(1)), m.group(2), int(m.group(3))))
    return out


def _documents_scan_ids(plan: str) -> set[int]:
    ids = set()
    for block in re.split(r"\n\n", plan):
        m = re.match(r"\((\d+)\) Scan parquet", block.strip())
        if m and "documents" in block:
            ids.add(int(m.group(1)))
    return ids


def narrow_heavy_paths(plan: str) -> list[str]:
    """Ancestor chains (scan → first heavy node) with no widener."""
    lines = _tree(plan)
    doc_ids = _documents_scan_ids(plan)
    bad = []
    for i, (col, name, nid) in enumerate(lines):
        if name != "Scan parquet" or nid not in doc_ids:
            continue
        # walk ancestors: nearest preceding lines with smaller indent
        cur = col
        chain = []
        widened = False
        for j in range(i - 1, -1, -1):
            pcol, pname, pid = lines[j]
            if pcol >= cur:
                continue
            cur = pcol
            chain.append(pname)
            if pname in WIDEN_NODES:
                widened = True
                break
            if pname in HEAVY_NODES:
                bad.append(f"scan({nid}) -> " + " -> ".join(chain))
                break
        del widened
    return bad


@pytest.fixture(scope="module")
def compact_corpus_dir(spark, sf_dir, tmp_path_factory):
    """sf0.01 with documents inflated x16 (8k rows) into ONE file.

    Replicas get a unique suffix token and remapped doc_ids (the
    make_sf.py rule: corpus growth, not 16-way duplication — keeps the
    eager dedup-ish builds cheap and pair sets sane)."""
    out = tmp_path_factory.mktemp("widen_fixture")
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet") and f != "documents.parquet":
            shutil.copy(os.path.join(sf_dir, f), out / f)
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n = d.count()
    rep = spark.range(16).select(F.col("id").alias("__rep"))
    inflated = (
        d.crossJoin(rep)
        .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * F.lit(n * 2))
        .withColumn(
            "text", F.concat(F.col("text"), F.lit(" rep"), F.col("__rep").cast("string"))
        )
        .drop("__rep")
        .coalesce(1)
    )
    tmp_doc = str(out / "_docs_build")
    inflated.write.mode("overwrite").parquet(tmp_doc)
    part = [f for f in os.listdir(tmp_doc) if f.endswith(".parquet")]
    assert len(part) == 1
    shutil.move(os.path.join(tmp_doc, part[0]), out / "documents.parquet")
    shutil.rmtree(tmp_doc)
    return str(out)


def test_checker_red_on_deliberately_narrow_query(spark, compact_corpus_dir):
    """A tokenize-explode directly on the compact scan must be flagged —
    proves the checker can actually fail."""
    d = spark.read.parquet(os.path.join(compact_corpus_dir, "documents.parquet"))
    narrow = d.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).groupBy("tok").count()
    assert narrow_heavy_paths(formatted_plan(narrow)), formatted_plan(narrow)


def test_registered_document_queries_widen_compact_scans(spark, compact_corpus_dir):
    from gcs2postgres_spark.operators.caching import release_transient_caches

    doc_queries = []
    for name, ent in sorted(REGISTRY.items()):
        if name in EXCLUDED:
            continue
        try:
            src = inspect.getsource(ent.fn)
        except (OSError, TypeError):
            continue
        if re.search(r'["\']documents["\']', src):
            doc_queries.append(name)
    assert len(doc_queries) >= 40  # the sweep must actually sweep

    offenders: dict[str, list[str]] = {}
    for name in doc_queries:
        df = REGISTRY[name].fn(spark, compact_corpus_dir)
        if df.isStreaming:
            continue
        bad = narrow_heavy_paths(formatted_plan(df))
        if bad:
            offenders[name] = bad
        release_transient_caches()
        spark.catalog.clearCache()
    assert not offenders, (
        "per-doc heavy stage running at raw compact-scan width "
        f"(add widen_doc_scan before the heavy stage): {offenders}"
    )
