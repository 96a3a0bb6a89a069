"""rowgroup_lib phase: the codec library on fixed row groups, no Spark.

Frames go through ``chunk.encode_chunk_paged`` / ``chunk.decode_chunk`` with a
warm pick cache, as one encode task would; parquet goes through
``pqwriter.write_table`` / ``pqinterop.read_footer`` /
``pqinterop.decode_table``. ``lib_peak_rss_mb`` is the peak RSS of
the benchmark process at the end of its first library block, which
runs before anything else in the process allocates.
"""

from __future__ import annotations

import copy
import os
import resource
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from parquet_go_spark import chunk, pqinterop, pqwriter

from .inputs import Corpus
from .spec import COLUMNS, FORCED_CODECS
from .tracing import NullTracer, Tracer

MB = 1e6


def _encode_groups(groups, pick_cache, tr, compression="zstd"):
    """Encode every column of every group -> ({col: [blob]}, seconds)."""
    blobs = {c: [] for c in COLUMNS}
    stats = {}
    busy = 0.0
    for g in groups:
        for c in COLUMNS:
            arr = g[c]
            with tr.span(f"chunk.encode.{c}"):
                t0 = time.perf_counter()
                blob, st = chunk.encode_chunk_paged(
                    arr, codec="auto", compression=compression,
                    pick_cache=pick_cache, path=c)
                busy += time.perf_counter() - t0
            blobs[c].append(blob)
            stats[c] = st.get("values_codec", st["codec"])
    return blobs, stats, busy


def _decode_groups(groups, blobs, tr):
    """Decode every blob; returns (seconds, number of wrong columns)."""
    busy, wrong = 0.0, 0
    for i, g in enumerate(groups):
        for c in COLUMNS:
            with tr.span(f"chunk.decode.{c}"):
                t0 = time.perf_counter()
                out = chunk.decode_chunk(blobs[c][i])
                busy += time.perf_counter() - t0
            wrong += not out.equals(g[c])
    return busy, wrong


def _pq_roundtrip(table, path, group_rows, tr):
    """Write and read one engine parquet file; values must round-trip
    (nullability may differ: pqinterop reads non-null columns as
    ``not null``, so compare arrays, not ``Table.equals``)."""
    with tr.span("pqwriter.write_table"):
        t0 = time.perf_counter()
        pqwriter.write_table(table, path, compression="zstd",
                             row_group_rows=group_rows)
        write_s = time.perf_counter() - t0
    with tr.span("pqinterop.read_footer"):
        pqinterop.read_footer(path)
    with tr.span("pqinterop.decode_table"):
        t0 = time.perf_counter()
        back = pqinterop.decode_table(path)
        read_s = time.perf_counter() - t0
    wrong = back.num_rows != table.num_rows or any(
        not back.column(c).combine_chunks().equals(
            table.column(c).combine_chunks())
        for c in COLUMNS
    )
    return write_s, read_s, os.path.getsize(path), int(wrong)


class LibPhase:
    """Fixed row groups through PGS frames and an engine parquet file.

    Each pass is single-threaded; the benchmark runs them while no Spark
    process is alive."""

    def __init__(self, sizes: dict, seed: int, work: str, tr):
        self.tr = tr
        os.makedirs(work, exist_ok=True)
        self.pq_path = os.path.join(work, "lib.parquet")
        n = sizes["group_rows"]
        rows = Corpus(seed, sizes["shape"]).rows(n * sizes["groups"])
        tables = [rows.slice(i * n, n) for i in range(sizes["groups"])]
        self.groups = [{c: t.column(c).combine_chunks() for c in COLUMNS}
                       for t in tables]
        self.table = pa.concat_tables(tables)
        self.raw = sum(t.nbytes for t in tables)
        self.rg_rows = tables[0].num_rows
        ref_path = os.path.join(work, "lib_pyarrow.parquet")
        pq.write_table(self.table, ref_path, compression="zstd",
                       use_dictionary=True, row_group_size=self.rg_rows)
        self.ref_bytes = os.path.getsize(ref_path)
        # Every pass starts from a copy of one warm pick cache, so every
        # pass picks the same codecs and its byte counts must repeat
        # exactly (a shared cache would re-run selection every
        # PICK_REFRESH_EVERY uses, on whichever group is current).
        self.warm: dict = {}
        _encode_groups(self.groups, self.warm, NullTracer())
        self.enc, self.dec, self.pqw, self.pqr = [], [], [], []
        self.attempted = self.failed = 0
        self.codecs = self.encoded_bytes = self.pq_bytes = None
        self.peak_rss_mb = None

    def note_peak_rss(self) -> None:
        # ru_maxrss is in KiB on Linux
        self.peak_rss_mb = resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss * 1024 / MB

    def frame_pass(self) -> None:
        groups = self.groups
        with self.tr.trace("rowgroup_lib.frames"):
            blobs, self.codecs, enc_s = _encode_groups(
                groups, copy.deepcopy(self.warm), self.tr)
            dec_s, wrong = _decode_groups(groups, blobs, self.tr)
        col_bytes = {c: sum(len(b) for b in blobs[c]) for c in COLUMNS}
        if self.encoded_bytes is None:
            self.encoded_bytes = col_bytes
        self.attempted += 2 * len(groups) * len(COLUMNS)
        # a byte count that drifts between identical encodes is a failure
        self.failed += wrong + sum(
            col_bytes[c] != self.encoded_bytes[c] for c in COLUMNS)
        self.enc.append(self.raw / MB / enc_s)
        self.dec.append(self.raw / MB / dec_s)

    def pq_pass(self) -> None:
        with self.tr.trace("rowgroup_lib.parquet"):
            w_s, r_s, self.pq_bytes, bad = _pq_roundtrip(
                self.table, self.pq_path, self.rg_rows, self.tr)
        self.attempted += 2
        self.failed += bad
        self.pqw.append(self.raw / MB / w_s)
        self.pqr.append(self.raw / MB / r_s)

    def metrics(self) -> dict:
        """Throughput of the best pass: a pass is single-threaded and
        short, so on a shared host its slower repeats measure the
        neighbours' interference rather than the code (their median
        spread 0.2-0.3 between runs on a 4-core VM)."""
        return {
            "frame_encode_mb_per_s": max(self.enc),
            "frame_decode_mb_per_s": max(self.dec),
            "pq_write_mb_per_s": max(self.pqw),
            "pq_read_mb_per_s": max(self.pqr),
            "pq_size_vs_pyarrow_zstd": self.pq_bytes / self.ref_bytes,
            "lib_peak_rss_mb": self.peak_rss_mb,
        }

    def layer_metrics(self) -> dict:
        m = _layers(self.tr, self.groups, self.warm, self.pq_bytes)
        m.update({f"chunk.encoded_bytes.{c}": self.encoded_bytes[c]
                  for c in COLUMNS})
        return m


def _per_trace_sums(tr: Tracer, name: str) -> list[float]:
    """Span durations of ``name`` summed per trace (iteration)."""
    acc: dict[int, float] = {}
    for s in tr.spans:
        if s["name"] == name:
            acc[s["trace"]] = acc.get(s["trace"], 0.0) + s["end"] - s["start"]
    return list(acc.values())


def _layers(tr: Tracer, groups, warm, pq_bytes) -> dict:
    """Per-layer numbers of the traced run (self-contained probes on the
    same row groups, after the measured loop)."""
    med = statistics.median
    m = {}
    for c in COLUMNS:
        m[f"chunk.encode_s.{c}"] = med(_per_trace_sums(tr, f"chunk.encode.{c}"))
        m[f"chunk.decode_s.{c}"] = med(_per_trace_sums(tr, f"chunk.decode.{c}"))
    reps = 3
    # frame.compress_s: the zstd pass, as encode(zstd) - encode(None)
    # with the same warm picks
    zstd_s, none_s = [], []
    for _ in range(reps):
        zstd_s.append(_encode_groups(groups, copy.deepcopy(warm),
                                     NullTracer())[2])
        none_s.append(_encode_groups(groups, copy.deepcopy(warm),
                                     NullTracer(), compression=None)[2])
    m["frame.compress_s"] = med(zstd_s) - med(none_s)
    # cost.pick_s.<col>: first group with an empty pick cache minus warm
    for c in COLUMNS:
        arr = groups[0][c]
        cold, hot = [], []
        for _ in range(reps):
            for cache, dst in (({}, cold), (copy.deepcopy(warm), hot)):
                t0 = time.perf_counter()
                chunk.encode_chunk_paged(arr, codec="auto", compression="zstd",
                                         pick_cache=cache, path=c)
                dst.append(time.perf_counter() - t0)
        m[f"cost.pick_s.{c}"] = med(cold) - med(hot)
    # codec kernels, forced, no block compression
    for codec, col in FORCED_CODECS:
        arr = groups[0][col]
        if col == "tokens":
            arr = arr.flatten()
        raw = sum(b.size for b in arr.buffers() if b is not None) / MB
        e, d = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            blob, _st = chunk.encode_chunk(arr, codec=codec, compression=None)
            e.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            chunk.decode_chunk(blob)
            d.append(time.perf_counter() - t0)
        m[f"codecs.{codec}.encode_mb_per_s"] = raw / med(e)
        m[f"codecs.{codec}.decode_mb_per_s"] = raw / med(d)
    m["pqwriter.write_s"] = tr.median("pqwriter.write_table")
    m["pqwriter.bytes"] = pq_bytes
    m["pqinterop.footer_s"] = tr.median("pqinterop.read_footer")
    m["pqinterop.read_s"] = tr.median("pqinterop.decode_table")
    return m

