"""What the benchmark measures: workloads, metrics and their meaning.

This module is the single source of the names in ``BENCHMARK.json``;
``python3 perfbench/run.py --write-spec`` regenerates that file from it.
Each per-layer metric records the end-to-end metric it should move
(``moves``), which ``BENCHMARK.json`` has no field for.

Every run executes all three phases, so every workload reports every
metric:

* ``token_store``: the paper's Spark job. ``encode_table`` then
  ``decode_table`` at ``local[<cores>]``, closed loop, one job at a time.
* ``doc_lookup``: point and IN lookups through
  ``format("pgs").option("pushdown", "true")`` on a bloom + paged store,
  closed loop, one client.
* ``rowgroup_lib``: PGS frames (``chunk``) and engine parquet
  (``pqwriter`` / ``pqinterop``) on fixed row groups, one process, one
  core, no Spark.

The two workloads are the two row shapes the engine stores for the
paper's job: whole documents (``sources.synth``: heavy-tailed lengths,
12 sources) and the 512-token training windows that
``operators.packing`` cuts from them (``pack_encode_roundtrip_query``:
fixed lengths, one source, short numeric ids).
"""

from __future__ import annotations

import json
import os

RUN_SECONDS = 10

COLUMNS = ("doc_id", "tokens", "n_tok", "source")

# (codec, column it is forced onto): each codec on the column of the
# synthetic corpus it applies to; "tokens" means the flat token values.
FORCED_CODECS = (
    ("rans", "tokens"),
    ("dict_rans", "source"),
    ("fsst", "doc_id"),
    ("delta_binary_packed", "tokens"),
    ("for_bitpack", "tokens"),
    ("byte_stream_split", "tokens"),
    ("delta_byte_array", "doc_id"),
    ("plain", "tokens"),
)

# Input sizes per workload, in rows of its shape (see ``inputs.py``).
# The lookup store's target gives it 12 partitions, three task waves at
# local[4]: a lookup scans them all today, and pruning on the doc_id
# blooms should cut that to about one. More partitions would make each
# lookup slower than a run's time allows.
_SIZE = dict(store_rows=8000, store_target_tokens=150_000,
             lookup_rows=3000, lookup_target_tokens=130_000,
             group_rows=2048, groups=5)
SIZES = {
    "documents": dict(_SIZE, shape="documents"),
    "packed": dict(_SIZE, shape="packed"),
}

# --smoke: every phase once at a tiny size, to check names and units.
SMOKE_SIZES = {
    name: dict(sz, store_rows=600, store_target_tokens=100_000,
               lookup_rows=300, lookup_target_tokens=100_000,
               group_rows=128, groups=2)
    for name, sz in SIZES.items()
}

WORKLOADS = [
    {"name": "documents",
     "why": "sources.synth documents (heavy-tailed lengths, 12 sources); "
            "store 8k rows ~4M tokens ~27 parts, lookup store 3k rows 12 "
            "parts, lib 5 groups x 2048 rows"},
    {"name": "packed",
     "why": "the 512-token windows operators/packing.py hands to "
            "encode_table (fixed lengths, one source); store 8k rows 4.1M "
            "tokens 28 parts, lookup store 3k rows 12 parts, lib 5 x 2048"},
]


def _m(name, unit, better, bound=None, moves=None):
    d = {"name": name, "unit": unit, "better": better}
    if bound is not None:
        d["bound"] = bound
    if moves is not None:
        d["moves"] = moves
    return d


# Bounds: on a shared 4-core VM the wall-time metrics drift by up to
# ~1.6x over minutes, so they get the largest bound allowed; byte ratios
# repeat to ~1% across seeds.
END_TO_END = [
    _m("encode_tok_per_s", "tok/s", "higher", 0.25),
    _m("decode_tok_per_s", "tok/s", "higher", 0.25),
    _m("store_bytes_per_raw_byte", "ratio", "lower", 0.05),
    _m("size_vs_pyarrow_zstd", "ratio", "lower", 0.1),
    _m("lookup_p50_s", "s", "lower", 0.25),
    _m("lookup_p75_s", "s", "lower", 0.25),
    _m("frame_encode_mb_per_s", "MB/s", "higher", 0.25),
    _m("frame_decode_mb_per_s", "MB/s", "higher", 0.25),
    _m("pq_write_mb_per_s", "MB/s", "higher", 0.25),
    _m("pq_read_mb_per_s", "MB/s", "higher", 0.25),
    _m("pq_size_vs_pyarrow_zstd", "ratio", "lower", 0.05),
    _m("lib_peak_rss_mb", "MB", "lower", 0.15),
    _m("setup_s", "s", "lower", 0.25),
]

_ENC = "encode_tok_per_s"
_DEC = "decode_tok_per_s"
_LOOK = "lookup_p50_s, lookup_p75_s"
_FRAME = "frame_encode_mb_per_s, frame_decode_mb_per_s"

PER_LAYER = (
    [
        _m("partitioner.plan_s", "s", "lower", moves=_ENC),
        _m("encode_job.scan_s", "s", "lower", moves=_ENC),
        _m("encode_job.handoff_s", "s", "lower", moves=_ENC),
        _m("encode_job.handoff_bytes", "bytes", "lower", moves=_ENC),
        _m("encode_job.batches", "count", "lower", moves=_ENC),
        _m("encode_job.stage_s", "s", "lower", moves=_ENC),
        _m("encode_job.encode_group_busy_s", "s", "lower", moves=_ENC),
        _m("store.commit_s", "s", "lower", moves=_ENC),
        _m("store.snapshot_s", "s", "lower", moves=_ENC),
        _m("store.blob_bytes", "bytes", "lower",
           moves="store_bytes_per_raw_byte"),
        _m("store.snapshot_bytes", "bytes", "lower",
           moves="store_bytes_per_raw_byte"),
        _m("decode_job.scan_s", "s", "lower", moves=_DEC),
        _m("decode_job.handoff_s", "s", "lower", moves=_DEC),
        _m("decode_job.decode_group_busy_s", "s", "lower", moves=_DEC),
        _m("pgs.load_s", "s", "lower", moves=_LOOK),
        _m("pgs.plan_s", "s", "lower", moves=_LOOK),
        _m("pgs.scan_s", "s", "lower", moves=_LOOK),
        _m("pgs.parts_scanned", "count", "lower", moves=_LOOK),
        _m("pgs.parts_needed", "count", "lower", moves=_LOOK),
        _m("pgs.useful_ratio", "ratio", "higher", moves=_LOOK),
    ]
    + [_m(f"chunk.encode_s.{c}", "s", "lower", moves="frame_encode_mb_per_s")
       for c in COLUMNS]
    + [_m(f"chunk.decode_s.{c}", "s", "lower", moves="frame_decode_mb_per_s")
       for c in COLUMNS]
    + [_m(f"chunk.encoded_bytes.{c}", "bytes", "lower",
          moves="size_vs_pyarrow_zstd") for c in COLUMNS]
    + [_m("frame.compress_s", "s", "lower", moves=_FRAME)]
    + [_m(f"cost.pick_s.{c}", "s", "lower", moves="frame_encode_mb_per_s")
       for c in COLUMNS]
    + [_m(f"codecs.{k}.{d}_mb_per_s", "MB/s", "higher", moves=_FRAME)
       for k, _ in FORCED_CODECS for d in ("encode", "decode")]
    + [
        _m("pqwriter.write_s", "s", "lower", moves="pq_write_mb_per_s"),
        _m("pqwriter.bytes", "bytes", "lower", moves="pq_size_vs_pyarrow_zstd"),
        _m("pqinterop.footer_s", "s", "lower", moves="pq_read_mb_per_s"),
        _m("pqinterop.read_s", "s", "lower", moves="pq_read_mb_per_s"),
        _m("host.warm_gbps", "GB/s", "higher", moves="none (context)"),
        _m("host.cold_gbps", "GB/s", "higher", moves="none (context)"),
        _m("trace.overhead_pct", "%", "lower", moves="none (tracing cost)"),
    ]
)


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` document (``moves`` stays in this module)."""
    strip = lambda ms: [{k: v for k, v in m.items() if k != "moves"}
                        for m in ms]
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": strip(END_TO_END),
        "per_layer": strip(PER_LAYER),
    }


def write_benchmark_json(root: str) -> str:
    path = os.path.join(root, "BENCHMARK.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(benchmark_json(), f, indent=2)
        f.write("\n")
    return path
