"""Keep pandas out of the Python workers of the vector and dedup kernels
and of the COPY sink.

Every Python worker's resident memory is multiplied by the cores of
every executor, and a worker that imports pandas peaks ~30 MB higher.
The kernels in ``operators/similarity.py`` and ``operators/dedup.py``
therefore run on mapInArrow / applyInArrow / arrow_udf over the numpy
views of ``operators/arrowbuf.py``, and ``sinks.py``'s COPY function
writes its Arrow batches with ``pyarrow.csv``. Three guards:

- a source sweep for the calls that bring pandas in (the pandas-based
  Spark APIs, ``Array.to_numpy`` and the pyarrow constructors whose
  first call imports pandas);
- a runtime probe: the kernels run on small Arrow batches in a fresh
  interpreter, which must end without pandas in ``sys.modules``;
- NULL and ragged vectors raise instead of being reshaped into a
  matrix of the wrong width.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

from gcs2postgres_spark.operators.arrowbuf import (
    arrow_array,
    arrow_lists,
    np_column,
    np_matrix,
)

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "gcs2postgres_spark"

SWEPT = ["operators/similarity.py", "operators/dedup.py", "operators/arrowbuf.py", "sinks.py"]
FORBIDDEN = [
    "mapInPandas",
    "applyInPandas",
    "pandas_udf",
    "import pandas",
    ".to_numpy(",
    "pa.array(",
    "pa.scalar(",
]


def test_kernel_sources_never_reach_pandas():
    hits = []
    for rel in SWEPT:
        for n, line in enumerate((PKG / rel).read_text().splitlines(), 1):
            hits += [f"{rel}:{n}: {tok}" for tok in FORBIDDEN if tok in line]
    assert not hits, hits


PROBE = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
import numpy as np
import pyarrow as pa

from gcs2postgres_spark import sinks
from gcs2postgres_spark.operators import dedup, similarity
from gcs2postgres_spark.operators.arrowbuf import arrow_array, arrow_lists, arrow_strings

assert "pandas" not in sys.modules, "pandas imported before any kernel ran"


def vec_column(rows):
    flat = np.array([x for r in rows for x in r], dtype=np.float64)
    return arrow_lists(np.arange(0, len(flat) + 1, len(rows[0])), arrow_array(flat))


corpus = [[1.0, 0.0, 0.0], [0.9, 0.1, 0.0], [0.0, 1.0, 0.0], [0.0, 0.8, 0.2], [0.0, 0.0, 1.0]]
ids = np.arange(len(corpus), dtype=np.int64)


class Broadcast:
    q = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    value = (np.array([0, 2], dtype=np.int64), q)


rb = pa.RecordBatch.from_arrays(
    [arrow_array(ids), vec_column(corpus)], names=["neighbor_id", "c_vec"]
)
topk = [b.to_pydict() for b in similarity._make_topk_scorer(Broadcast(), 2)(iter([rb]))]

blk = np.array([0, 0, 1, 1, 1], dtype=np.int64)
batch = pa.RecordBatch.from_arrays(
    [arrow_array(np.zeros(5, np.int64)), arrow_array(np.ones(5, np.int64)),
     arrow_array(blk), arrow_array(ids), vec_column(corpus)],
    names=["ba", "bb", "blk", "id", "vec"],
)
table = pa.Table.from_batches([batch.slice(0, 3), batch.slice(3)])  # one group, two batches
key = (table.column("ba")[0], table.column("bb")[0])
pairs = similarity._make_pair_gemm(0.1)(key, table).to_pydict()

keys = similarity._srp_table_keys_arrow([[[-1.0, 0.0, 0.0]], [[0.0, 1.0, 0.0]]]).func(
    vec_column(corpus)
).to_pylist()
texts = pa.RecordBatch.from_arrays(
    [arrow_array(np.array([1, 2], dtype=np.int64)),
     arrow_strings(["The quick  brown fox", "fox"])],
    names=["_id", "text"],
)
fps = [b.column(1).to_pylist() for b in dedup._winnow_fps_batches(8, 4)(iter([texts]))]
shingles = dedup._shingles_arrow_udf(2).func(texts.column(1)).to_pylist()


class Copy:
    chunks = []

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def cursor(self):
        return self

    def copy(self, stmt):
        return self

    def write(self, data):
        self.chunks.append(bytes(data).decode())

    def commit(self):
        pass


list(sinks.make_copy_partition("dsn", "t", ["_id", "text"], lambda dsn: Copy())(iter([texts])))

print(json.dumps({
    "pandas": "pandas" in sys.modules,
    "topk": topk, "pairs": pairs, "keys": keys, "fps": fps, "shingles": shingles,
    "copy": Copy.chunks,
}))
"""


def test_kernels_run_without_importing_pandas():
    # a fresh interpreter, like a Python worker: nothing else in this
    # process can have imported pandas first
    proc = subprocess.run(
        [sys.executable, "-c", PROBE, str(REPO)], capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["pandas"] is False
    # the kernels computed real answers, not empty batches
    [topk] = out["topk"]
    assert topk["query_id"] == [0, 0, 2, 2]
    # query 0: id 1, then the 0.0 tie between ids 2 and 4 goes to 2
    assert topk["neighbor_id"] == [1, 2, 3, 1]
    assert topk["cos_sim"][0] == pytest.approx(0.9 / np.hypot(0.9, 0.1))
    # cross-block pairs only: block 0 holds ids 0, 1 and block 1 ids 2-4
    assert list(zip(out["pairs"]["id_a"], out["pairs"]["id_b"])) == [(1, 2), (1, 3)]
    assert out["keys"] == [[0, (1 << 32) | 1]] * 2 + [[1, (1 << 32) | 1]] * 3
    [[long_fps, short_fps]] = out["fps"]
    assert len(long_fps) > 1
    assert short_fps == [int(hashlib.md5(b"fox").hexdigest()[:15], 16)]
    assert out["shingles"] == [["brown fox", "quick brown", "the quick"], ["fox"]]
    assert out["copy"] == ['1,"The quick  brown fox"\n2,"fox"\n']


def _vectors(rows):
    flat = np.array([x for r in rows for x in r], dtype=np.float64)
    offs = np.cumsum([0] + [len(r) for r in rows])
    return arrow_lists(offs, arrow_array(flat))


def test_views_honour_array_offsets():
    vecs = _vectors([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]]).slice(1, 2)
    assert vecs.offset == 1
    assert np_matrix(vecs).tolist() == [[3.0, 4.0], [5.0, 6.0]]
    assert np_column(arrow_array(np.arange(6, dtype=np.int64)).slice(4)).tolist() == [4, 5]


def test_ragged_and_null_vectors_raise():
    # two rows of dims 3 and 5 must not reshape into a 2 x 4 matrix
    with pytest.raises(ValueError, match="ragged"):
        np_matrix(_vectors([[1.0, 2.0, 3.0], [1.0, 2.0, 3.0, 4.0, 5.0]]))
    null_vec = pa.ListArray.from_arrays(
        arrow_array(np.array([0, 2, 2], dtype=np.int32)),
        arrow_array(np.array([1.0, 2.0])),
        mask=pa.Array.from_buffers(
            pa.bool_(), 2, [None, pa.py_buffer(np.packbits([0, 1], bitorder="little"))]
        ),
    )
    assert null_vec.null_count == 1
    with pytest.raises(ValueError, match="NULL vector"):
        np_matrix(null_vec)
    null_elem = pa.ListArray.from_arrays(
        arrow_array(np.array([0, 2], dtype=np.int32)),
        pa.Array.from_buffers(
            pa.float64(), 2,
            [pa.py_buffer(np.packbits([1, 0], bitorder="little")),
             pa.py_buffer(np.array([1.0, 2.0]))],
        ),
    )
    with pytest.raises(ValueError, match="NULL value"):
        np_matrix(null_elem)


@pytest.mark.parametrize("bad", ["ragged", "null"])
def test_brute_force_topk_rejects_bad_vectors(spark, bad):
    from pyspark.errors import PythonException

    from gcs2postgres_spark.operators.similarity import brute_force_cosine_topk

    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]), (2, [0.0, 1.0, 0.0])]
    rows.append((3, [1.0, 0.0, 0.0, 0.0, 0.0] if bad == "ragged" else None))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    queries = corpus.filter("vec_id = 0")
    with pytest.raises(PythonException, match="ragged vectors" if bad == "ragged" else "NULL vector"):
        brute_force_cosine_topk(queries, corpus, k=2).collect()
