"""Seeded synthetic inputs: the ten catalog tables, one parquet file each.

The shapes follow the engine's fixture tables (FIXTURES.md): a TPC-H-ish
star schema, an ``events`` stream with a JSON ``props`` column,
``documents`` text with planted near-duplicates and ``embeddings``
vectors. Row counts scale with ``sf`` exactly like the fixtures
(lineitem = 6 M x sf); values come from ``numpy.random.default_rng(seed)``,
so one seed always gives byte-identical files and every seed gives the
same row counts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (fixture proportions)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _days(rng, start, span_days: int, n: int) -> pa.Array:
    d = rng.integers(0, span_days, n).astype("int64") * DAY_US
    return pa.array(start + d.astype("timedelta64[us]"), pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    # One document in twenty is a near-duplicate of an earlier one: its
    # text plus " dup", as in the fixtures (shingle Jaccard 0.9-0.98).
    # The MinHash/LSH queries are oracle-exact only on pairs that close;
    # a one-word swap in a ten-word text (Jaccard ~0.45) is missed by
    # LSH banding often enough to change their results.
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    dim = 64
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype="int32"))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels.astype("int32")),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, deterministic in ``(sf, seed)``."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype="int64")),
            "p_name": _pick(rng, names, npart),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype("int32")),
            "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype("int64")),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
            "o_orderdate": _days(rng, EPOCH_1995, 2404, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, npart, nl).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, EPOCH_1995, 2499, nl),
        }
    )
    ne = n["events"]
    ts_us = np.sort(rng.integers(0, 30 * DAY_US, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype="int64")),
            "ts": pa.array(EPOCH_2024 + ts_us.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(150, nc // 10), ne).astype("int64")),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": pa.array(_money(rng, 0.01, 490.0, ne)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str, parts: int = 1) -> dict[str, str]:
    """Each table as ``<name>.parquet``; returns name -> path. With
    ``parts`` > 1 that path is a directory of ``parts`` equal part files,
    as Spark writes a table, so Spark reads it as ``parts`` partitions
    (a file this small never splits, whatever its row groups)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        if parts == 1:
            pq.write_table(tbl, paths[name], row_group_size=max(1, tbl.num_rows))
            continue
        os.makedirs(paths[name])
        step = -(-tbl.num_rows // parts)
        for i in range(parts):
            part = tbl.slice(i * step, step)
            pq.write_table(part, os.path.join(paths[name], f"part-{i:05d}.parquet"), row_group_size=max(1, part.num_rows))
    return paths


# COPY csv's hard cases: NULL against the empty string, the delimiter,
# the quote, a newline inside a cell and the old end-of-data marker.
EDGE_STRINGS = [None, "", "a,b", 'say "hi"', "two\nlines", "\\.", " "]


def with_edge_strings(tbl: pa.Table, column: str, every: int = 50) -> pa.Table:
    """Replace every ``every``-th value of ``column`` with an edge case."""
    values = tbl.column(column).to_pylist()
    for k, i in enumerate(range(0, len(values), every)):
        values[i] = EDGE_STRINGS[k % len(EDGE_STRINGS)]
    idx = tbl.column_names.index(column)
    return tbl.set_column(idx, column, pa.array(values, pa.string()))


def embedded_newlines(tbl: pa.Table) -> int:
    """Newline characters inside the string cells of ``tbl``."""
    import pyarrow.compute as pc

    n = 0
    for col in tbl.columns:
        if pa.types.is_string(col.type):
            n += pc.sum(pc.count_substring(col, "\n")).as_py() or 0
    return n
