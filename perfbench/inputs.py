"""Seeded inputs for every phase, all drawn from ``sources.synth``.

A corpus is an ordered table of rows; the first ``n`` rows of a corpus
depend only on (seed, shape, n). Two shapes:

* ``documents``: one row per synthetic document, as ``synth_batch``
  makes it (doc_id ``doc-%012d``).
* ``packed``: the documents' tokens concatenated in doc_id order and cut
  into complete 512-token windows, in the row shape that
  ``operators.packing.pack_encode_roundtrip_query`` hands to
  ``encode_table``: doc_id the window number as a decimal string,
  n_tok 512, source ``"packed"``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from parquet_go_spark.operators.packing import WINDOW
from parquet_go_spark.sources.synth import synth_batch

SHAPES = ("documents", "packed")
INPUT_FILES = 8  # one Spark scan task per file at local[<=8]
ABSENT_SHARE = 0.1
# documents per synth_batch call: small blocks keep the generator's
# temporaries below the peak RSS of the library passes it feeds
_DOC_BLOCK = 1024


class Corpus:
    def __init__(self, seed: int, shape: str):
        assert shape in SHAPES, shape
        self.seed, self.shape = seed, shape

    def rows(self, n: int) -> pa.Table:
        """The first ``n`` rows of the corpus."""
        if self.shape == "documents":
            return pa.Table.from_batches([
                synth_batch(np.arange(lo, min(lo + _DOC_BLOCK, n),
                                      dtype=np.int64), seed=self.seed)
                for lo in range(0, n, _DOC_BLOCK)])
        parts, have, lo = [], 0, 0
        while have < n * WINDOW:
            b = synth_batch(np.arange(lo, lo + _DOC_BLOCK, dtype=np.int64),
                            seed=self.seed)
            parts.append(b.column(1).values.to_numpy())
            have += len(parts[-1])
            lo += _DOC_BLOCK
        flat = pa.array(np.concatenate(parts)[:n * WINDOW])
        offsets = pa.array(np.arange(n + 1, dtype=np.int32) * WINDOW)
        return pa.table({
            "doc_id": pa.array(np.arange(n).astype(str)),
            "tokens": pa.ListArray.from_arrays(offsets, flat),
            "n_tok": pa.array(np.full(n, WINDOW, dtype=np.int32)),
            "source": pa.array(["packed"] * n),
        })

    def sample_keys(self, rng: np.random.Generator, n: int,
                    k: int) -> list[str]:
        """``k`` lookup keys over a store of rows [0, n); about
        ABSENT_SHARE of them name rows the store does not hold."""
        idx = rng.integers(0, n, size=k)
        idx = np.where(rng.random(k) < ABSENT_SHARE, idx + n, idx)
        fmt = "doc-{:012d}" if self.shape == "documents" else "{}"
        return sorted({fmt.format(i) for i in idx})


def expected(table: pa.Table, keys: list[str]) -> list[dict]:
    """The rows of ``table`` whose doc_id is one of ``keys``."""
    return table.filter(pc.is_in(table.column("doc_id"),
                                 pa.array(keys))).to_pylist()


def write_input(table: pa.Table, out_dir: str) -> dict:
    """Write ``table`` as INPUT_FILES pyarrow ZSTD+dict parquet files.
    Returns rows, tokens, raw Arrow bytes and the file bytes, which are
    the pyarrow ZSTD+dict reference size of the rows."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, INPUT_FILES + 1).astype(np.int64)
    size = 0
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        path = os.path.join(out_dir, f"part-{i:02d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path, compression="zstd",
                       use_dictionary=True)
        size += os.path.getsize(path)
    return {"rows": table.num_rows,
            "tokens": int(pc.sum(table.column("n_tok")).as_py() or 0),
            "raw_bytes": table.nbytes, "pyarrow_zstd_bytes": size}
