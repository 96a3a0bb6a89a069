"""The Spark encode pipeline: plan -> salt -> applyInArrow encode -> commit.

Analog of the reference write path (SURVEY.md §3.1,
/root/reference/writer/ops.go:129-281): one Spark partition = one row group;
the applyInArrow kernel is steps 3.1.4-3.1.5 (encode to pages, emit chunk
metadata); the parquet/Iceberg commit is the footer write.

Plan shape at scale: the only shuffle is one hash repartition on part_id
into min(planned groups, cores) partitions, which groupBy -> applyInArrow
reuses and AQE leaves alone, so the encode stage runs one task per core;
everything upstream is a narrow scan and everything downstream is a file
write. Skew is handled by the partition planner, not by oversized tasks.
"""

from __future__ import annotations

import json
import math
from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import chunk, frame as framemod, geo as geomod, keys as keysmod, stats_trunc
from ..plans.partitioner import DEFAULT_TARGET_TOKENS, plan_partitions
from .store import BLOB_SCHEMA, ManifestStore


def boundary_order_of(pages: list[dict]) -> str:
    """ASC / DESC / UNORDERED over the page bounds — the reference's
    boundary-order detection for the ColumnIndex (writer/pages.go:198-246).
    A single page is vacuously ascending."""
    lows = [p.get("vmin") for p in pages]
    highs = [p.get("vmax") for p in pages]
    if any(v is None for v in lows) or any(v is None for v in highs):
        return "UNORDERED"
    if len(pages) <= 1:
        return "ASC"
    try:
        asc = all(a <= b for a, b in zip(lows, lows[1:])) and all(
            a <= b for a, b in zip(highs, highs[1:])
        )
        desc = all(a >= b for a, b in zip(lows, lows[1:])) and all(
            a >= b for a, b in zip(highs, highs[1:])
        )
    except TypeError:
        return "UNORDERED"
    if asc:
        return "ASC"
    if desc:
        return "DESC"
    return "UNORDERED"


def _pages_json(pages: list[dict]) -> str:
    """Serialize the page index for the manifest (ColumnIndex analog).
    String bounds go through the same truncation as chunk bounds."""
    out = []
    for p in pages:
        lo, hi = p.get("vmin"), p.get("vmax")
        if isinstance(lo, (str, bytes)) or isinstance(hi, (str, bytes)):
            lo, hi = stats_trunc.truncate_bounds(lo, hi)
        out.append(
            {"r": p["first_row"], "n": p["count"],
             "lo": None if lo is None else str(lo),
             "hi": None if hi is None else str(hi)}
        )
    return json.dumps(out, separators=(",", ":"))


def _seal_opts(key: bytes | None, aad_prefix: bytes):
    """Wrap a resolved column key (+ optional AAD prefix) for
    frame.write_frame; plaintext columns stay None."""
    if key is None:
        return None
    if aad_prefix:
        return framemod.SealOptions(key, aad_prefix)
    return key


def make_encode_fn(
    compression: str | None = "zstd",
    codec: str = "auto",
    codec_map: dict[str, str] | None = None,
    bloom_cols: set[str] | None = None,
    page_rows: int | None = None,
    sort_key: str | None = None,
    encryption_key: bytes | None = None,
    column_keys: dict[str, bytes] | None = None,
    geo_cols: set[str] | None = None,
    aad_prefix: bytes = b"",
    ndv_cols: set[str] | None = None,
):
    """Build the per-group Arrow kernel. Emits one blob row per column.

    ``codec_map`` overrides the codec per column (the reference's per-column
    tag, common/tag.go); ``bloom_cols`` opt columns into a split-block bloom
    filter stored alongside the chunk (writer/bloomfilter.go:40-130);
    ``page_rows`` splits chunks into page frames at fixed row offsets with
    a per-page index in the manifest (writer/pages.go:252-317);
    ``geo_cols`` marks WKB binary columns whose chunk rows get
    GeospatialStatistics (bbox + type codes, layout/chunk.go:219-265);
    ``ndv_cols`` opt columns into per-chunk HyperLogLog NDV registers
    (ndv.py — merged manifest-side for zero-scan distinct estimates).
    Every chunk row also records SizeStatistics (level histograms +
    unencoded byte-array bytes)."""
    cm = codec_map or {}
    bc = bloom_cols or set()
    gc = geo_cols or set()
    nc = ndv_cols or set()
    # Per-worker codec pick cache: a task encodes many partitions of the
    # same columns, so auto-selection (sampled stats + trial encodes) runs
    # once per column and later partitions reuse the pick — with per-chunk
    # safety fallbacks and periodic refresh inside encode_chunk.
    pick_cache: dict[str, list] = {}

    def encode_group(table: pa.Table) -> pa.Table:
        from .. import bloom as bloommod
        from .. import ndv as ndvmod

        if sort_key is not None:
            # deterministic in-kernel sort: the sorted-write case that
            # makes page bounds non-overlapping (boundary_order=ASC)
            table = table.sort_by(sort_key)
        part_id = table.column("part_id")[0].as_py()
        rows = {
            "part_id": [], "col": [], "codec": [], "compression": [],
            "count": [], "null_count": [], "raw_size": [], "encoded_size": [],
            "vmin": [], "vmax": [], "boundary_order": [], "pages": [],
            "size_stats": [], "geo": [], "bloom": [], "ndv": [], "blob": [],
        }
        for name in table.column_names:
            if name == "part_id":
                continue
            arr = table.column(name).combine_chunks()
            blob, stats = chunk.encode_chunk_paged(
                arr, codec=cm.get(name, codec), compression=compression,
                page_rows=page_rows,
                encryption_key=_seal_opts(
                    keysmod.key_for(name, column_keys, encryption_key),
                    aad_prefix,
                ),
                pick_cache=pick_cache, path=name,
            )
            codec_label = stats["codec"]
            if "values_codec" in stats:  # surface inner list codecs
                codec_label = (
                    f"list<{stats['values_codec']},{stats['lengths_codec']}>"
                )
            rows["part_id"].append(part_id)
            rows["col"].append(name)
            rows["codec"].append(codec_label)
            rows["compression"].append(compression or "none")
            rows["count"].append(stats["count"])
            rows["null_count"].append(stats["null_count"])
            rows["raw_size"].append(stats["raw_size"])
            rows["encoded_size"].append(stats["encoded_size"])
            vmin, vmax = stats.get("min"), stats.get("max")
            bounds_exact = True
            if isinstance(vmin, (str, bytes)) or isinstance(vmax, (str, bytes)):
                # bounded metadata with safe round-up (statistics.go:10-203).
                # Exactness is undecidable from the stored bound alone (a
                # rounded-up vmax can be any length), so record it at write
                # time — the is_min/max_value_exact analog of parquet-format
                # Statistics — for manifest-only aggregates to consult.
                def _blen(v):
                    if v is None:
                        return 0
                    return len(v.encode("utf-8", "surrogatepass")) \
                        if isinstance(v, str) else len(v)

                bounds_exact = (
                    _blen(vmin) <= stats_trunc.DEFAULT_TRUNCATE_LEN
                    and _blen(vmax) <= stats_trunc.DEFAULT_TRUNCATE_LEN
                )
                vmin, vmax = stats_trunc.truncate_bounds(vmin, vmax)
            rows["vmin"].append("" if vmin is None else str(vmin))
            rows["vmax"].append("" if vmax is None else str(vmax))
            rows["boundary_order"].append(boundary_order_of(stats["pages"]))
            rows["pages"].append(_pages_json(stats["pages"]))
            ss = chunk.size_stats_of(arr)
            ss["bx"] = int(bounds_exact)
            rows["size_stats"].append(
                json.dumps(ss, separators=(",", ":"))
            )
            rows["geo"].append(
                geomod.geo_stats_json(arr) if name in gc else None
            )
            rows["bloom"].append(
                bloommod.build_bloom(arr) if name in bc else None
            )
            rows["ndv"].append(
                ndvmod.build(arr) if name in nc else None
            )
            rows["blob"].append(blob)
        return pa.table(
            {
                "part_id": pa.array(rows["part_id"], pa.int32()),
                "col": pa.array(rows["col"], pa.utf8()),
                "codec": pa.array(rows["codec"], pa.utf8()),
                "compression": pa.array(rows["compression"], pa.utf8()),
                "count": pa.array(rows["count"], pa.int64()),
                "null_count": pa.array(rows["null_count"], pa.int64()),
                "raw_size": pa.array(rows["raw_size"], pa.int64()),
                "encoded_size": pa.array(rows["encoded_size"], pa.int64()),
                "vmin": pa.array(rows["vmin"], pa.utf8()),
                "vmax": pa.array(rows["vmax"], pa.utf8()),
                "boundary_order": pa.array(rows["boundary_order"], pa.utf8()),
                "pages": pa.array(rows["pages"], pa.utf8()),
                "size_stats": pa.array(rows["size_stats"], pa.utf8()),
                "geo": pa.array(rows["geo"], pa.utf8()),
                "bloom": pa.array(rows["bloom"], pa.binary()),
                "ndv": pa.array(rows["ndv"], pa.binary()),
                "blob": pa.array(rows["blob"], pa.binary()),
            }
        )

    return encode_group


def encode_blobs_df(
    planned: DataFrame,
    compression: str | None = "zstd",
    codec: str = "auto",
    num_partitions: int | None = None,
    codec_map: dict[str, str] | None = None,
    bloom_cols: set[str] | None = None,
    page_rows: int | None = None,
    sort_key: str | None = None,
    encryption_key: bytes | None = None,
    column_keys: dict[str, bytes] | None = None,
    geo_cols: set[str] | None = None,
    aad_prefix: bytes = b"",
    ndv_cols: set[str] | None = None,
) -> DataFrame:
    """planned (with part_id) -> blob rows DataFrame (lazy).

    ``num_partitions`` is the number of groups the caller planned; the
    shuffle gets min(num_partitions, cores) partitions (module doc)."""
    cores = planned.sparkSession.sparkContext.defaultParallelism
    grouped = planned.repartition(
        min(num_partitions or cores, cores), "part_id"
    ).groupBy("part_id")
    return grouped.applyInArrow(
        make_encode_fn(compression, codec, codec_map, bloom_cols, page_rows,
                       sort_key, encryption_key, column_keys, geo_cols,
                       aad_prefix=aad_prefix, ndv_cols=ndv_cols),
        schema=BLOB_SCHEMA,
    )


def encode_table(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    target_tokens: int = DEFAULT_TARGET_TOKENS,
    compression: str | None = "zstd",
    codec: str = "auto",
    waves: int = 1,
    resume: bool = True,
    codec_map: dict[str, str] | None = None,
    bloom_cols: set[str] | None = None,
    page_rows: int | None = None,
    sort_cols: list[str] | None = None,
    encryption_key: bytes | None = None,
    column_keys: dict[str, bytes] | None = None,
    aad_prefix: bytes = b"",
    ndv_cols: set[str] | None = None,
):
    """Encode ``df`` into ``out_dir`` with checkpointed resumability.

    ``encryption_key`` seals every chunk with AES-GCM modular encryption
    (reference reader/encryption.go analog): manifest metadata stays
    readable, values need the key. ``column_keys`` maps column names to
    their own AES keys (the per-column key surface,
    reader/column_key.go); unlisted columns fall back to
    ``encryption_key`` or plaintext. Paths are validated against the
    schema before any byte is written.

    ``waves > 1`` splits the partition range into that many commit units —
    each wave is one atomic Spark write, so a crash loses at most one wave
    and a rerun anti-joins the committed manifest and encodes only the rest
    (FIXTURES.md F6 semantics).

    ``codec_map`` / ``bloom_cols`` are the per-column knob surface — the
    analog of the reference's struct-tag encoding/bloomfilter options
    (common/tag.go:12-29, SURVEY §1.3). ``bloom_cols`` is recorded in the
    store meta, so compaction and upserts keep building the blooms; a
    ``format("pgs")`` pushdown read prunes ``=`` / ``IN`` lookups on any
    column whose chunks carry blooms, whichever writer built them.
    """
    keysmod.validate_column_keys(column_keys, df.columns)
    store = ManifestStore(out_dir)
    planned, plan = plan_partitions(df, target_tokens=target_tokens)
    pending = store.pending(spark, planned) if resume and store.exists() else planned
    # each wave encodes part ids [lo, lo + per); one wave needs no filter
    per = math.ceil(plan.num_partitions / max(waves, 1))
    for lo in range(0, plan.num_partitions, per):
        hi = min(lo + per, plan.num_partitions)
        wave_df = pending if waves <= 1 else pending.filter(
            (F.col("part_id") >= lo) & (F.col("part_id") < hi)
        )
        store.append_blobs(
            encode_blobs_df(wave_df, compression, codec,
                            num_partitions=hi - lo,
                            codec_map=codec_map, bloom_cols=bloom_cols,
                            page_rows=page_rows,
                            encryption_key=encryption_key,
                            column_keys=column_keys,
                            aad_prefix=aad_prefix, ndv_cols=ndv_cols)
        )
    store.write_meta(
        key_col=None, clustering="token_weighted",
        num_parts=plan.num_partitions, page_rows=page_rows,
        sort_cols=sort_cols or [],
        bloom_cols=sorted(bloom_cols) if bloom_cols else [],
        # makes the store self-describing for format("pgs") reads
        schema_json=df.schema.jsonValue(),
        encrypted=encryption_key is not None or bool(column_keys),
        # store is bound to an external AAD prefix (reference
        # WithAADPrefix); readers must supply the same bytes
        aad_bound=bool(aad_prefix),
        # key NAMES only — which columns need their own key (the keyless-
        # readable part of the reference's key_metadata); never material
        column_key_cols=sorted(column_keys) if column_keys else [],
        ndv_cols=sorted(ndv_cols) if ndv_cols else [],
    )
    return store, plan
