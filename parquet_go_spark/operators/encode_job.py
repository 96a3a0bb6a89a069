"""The Spark encode pipeline: scan -> cut -> encode -> commit, in one stage.

Analog of the reference write path (SURVEY.md §3.1, reference
writer/ops.go:129-281): one part = one row group; the encode kernel
(``make_encode_fn``) is steps 3.1.4-3.1.5 (encode to pages, emit chunk
metadata); the parquet/Iceberg commit is the footer write.

Plan shape of ``encode_table``: the input is narrowed with ``coalesce``
(never a shuffle) to at most ``defaultParallelism`` tasks, and one
``mapInArrow`` walks each task's rows in order, closing a part as soon
as its n_tok sum reaches the target, encoding it in place and handing
its blob rows to the file write. There is no planner job and no
Exchange: a part holds at most target + one row's tokens by
construction, so the heavy tail never concentrates in one part.

``encode_blobs_df`` is the other entry: it encodes rows whose ``part_id``
a caller already assigned (hash co-location for ``partspec`` routing,
``pruned``'s key-clustered layouts, stream ingest), behind one hash
repartition on part_id into min(groups, cores) partitions.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import chunk, frame as framemod, geo as geomod, keys as keysmod, stats_trunc
from ..plans.partitioner import DEFAULT_TARGET_TOKENS
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


@dataclass
class EncodePlan:
    """What ``encode_table`` left in the store: its part count (parts
    this call wrote plus those of the waves a resume kept)."""

    num_partitions: int


# the keys encode_table records in the store meta; a meta with any other
# key (or another clustering) was made or changed by another writer
_OWN_META = {
    "key_col", "clustering", "num_parts", "waves", "page_rows", "sort_cols",
    "bloom_cols", "schema_json", "encrypted", "aad_bound", "column_key_cols",
    "ndv_cols",
}


def _cut_groups(batches: Iterable[pa.RecordBatch],
                target_tokens: int) -> Iterator[list[pa.RecordBatch]]:
    """The rows of ``batches``, in order, as groups of batch slices. A
    group closes as soon as its n_tok sum reaches ``target_tokens``, so
    it holds less than target + one row's tokens (null n_tok counts 0)."""
    pending, acc = [], 0
    for b in batches:
        n = pc.fill_null(b.column("n_tok"), 0).to_numpy(zero_copy_only=False)
        cum = np.cumsum(np.maximum(n, 0), dtype=np.int64)
        start = 0
        while start < b.num_rows:
            base = int(cum[start - 1]) if start else 0
            # first row whose running sum reaches the target closes it
            end = int(np.searchsorted(cum, base + target_tokens - acc)) + 1
            if end > b.num_rows:
                pending.append(b.slice(start))
                acc += int(cum[-1]) - base
                break
            pending.append(b.slice(start, end - start))
            yield pending
            pending, acc = [], 0
            start = end
    if pending:
        yield pending


def scan_blobs_df(
    df: DataFrame,
    target_tokens: int,
    wave: int = 0,
    waves: int = 1,
    parts=None,
    **encode_kw,
) -> DataFrame:
    """df -> blob rows DataFrame (lazy), cut and encoded inside the
    input's own scan tasks (module doc); no Exchange.

    Only rows with ``pmod(xxhash64(doc_id), waves) == wave`` are encoded.
    Group ``k`` of task ``t`` gets part id ``(k * cores + t) * waves +
    wave``: unique within the wave, disjoint from every other wave's.
    ``parts`` is an optional accumulator that counts the groups."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if waves > 1:
        df = df.filter(F.pmod(F.xxhash64("doc_id"), F.lit(waves)) == wave)
    encode_group = make_encode_fn(**encode_kw)

    def encode_task(batches):
        from pyspark import TaskContext

        task = TaskContext.get().partitionId()
        k = -1
        for k, group in enumerate(_cut_groups(batches, target_tokens)):
            t = pa.Table.from_batches(group)
            pid = pa.scalar((k * cores + task) * waves + wave, pa.int32())
            yield from encode_group(
                t.append_column("part_id", pa.repeat(pid, t.num_rows))
            ).to_batches()
        if parts is not None:
            parts.add(k + 1)

    return df.coalesce(cores).mapInArrow(encode_task, BLOB_SCHEMA)


def _resume(df: DataFrame, store: ManifestStore, meta: dict,
            waves: int) -> dict[int, int]:
    """Waves already committed in full -> their part count. A wave whose
    committed doc_id rows differ in number from its input rows has its
    blob files deleted, to be encoded again. A store without a recorded
    wave count (written before it was recorded) is checked as one unit."""
    import pyarrow.parquet as pq

    unit = meta.get("waves")
    if unit is not None and unit != waves:
        raise ValueError(
            f"{store.out_dir} was encoded with waves={unit}; resume it "
            f"with the same waves or pass resume=False")
    m = unit or 1
    want = dict(df.groupBy(
        F.pmod(F.xxhash64("doc_id"), F.lit(m))).count().collect())
    rows, parts, files = {}, {}, {}
    for f in glob.glob(os.path.join(store.blobs_dir, "*.parquet")):
        t = pq.read_table(f, columns=["part_id", "col", "count"]).to_pydict()
        files[f] = {pid % m for pid in t["part_id"]}
        for pid, col, n in zip(t["part_id"], t["col"], t["count"]):
            if col == "doc_id":
                w = pid % m
                rows[w] = rows.get(w, 0) + n
                parts[w] = parts.get(w, 0) + 1
    redo = {w for w in set(want) | set(rows)
            if want.get(w, 0) != rows.get(w, 0)}
    # a file holding parts of a wave to redo takes all its waves along
    while True:
        drop = [f for f, ws in files.items() if ws & redo]
        more = set().union(*(files[f] for f in drop)) - redo
        if not more:
            break
        redo |= more
    for f in drop:
        os.remove(f)
    if unit is None:
        return {} if redo else {**dict.fromkeys(range(waves), 0),
                                0: sum(parts.values())}
    return {w: parts.get(w, 0) for w in range(waves) if w not in redo}


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
    Returns ``(store, EncodePlan)``.

    Each scan task cuts its rows into parts at a running sum of
    ``target_tokens`` n_tok (module doc), so a part holds at most
    target + the largest row's tokens.

    ``encryption_key`` seals every chunk with AES-GCM modular encryption
    (reference reader/encryption.go analog): manifest metadata stays
    readable, values need the key. ``column_keys`` maps column names to
    their own AES keys (the per-column key surface,
    reader/column_key.go); unlisted columns fall back to
    ``encryption_key`` or plaintext. Paths are validated against the
    schema before any byte is written.

    ``waves > 1`` splits the rows into that many commit units: wave
    ``w`` is the rows with ``pmod(xxhash64(doc_id), waves) == w``, and
    its part ids are the ones with ``part_id % waves == w``. Each wave is
    one atomic Spark write, so a crash loses at most one wave. The store
    meta (with the wave count) is written before the first wave. A rerun
    with ``resume`` compares each wave's committed doc_id rows with its
    input rows: a complete wave is skipped, a partial one has its blob
    files deleted and is encoded again (FIXTURES.md F6 semantics). The
    unit does not depend on Spark's input splits, so a rerun may use
    other split sizes or another core count. A store whose meta says
    another writer made or changed it raises ValueError.

    ``codec_map`` / ``bloom_cols`` are the per-column knob surface — the
    analog of the reference's struct-tag encoding/bloomfilter options
    (common/tag.go:12-29, SURVEY §1.3). ``bloom_cols`` is recorded in the
    store meta, so compaction and upserts keep building the blooms; a
    ``format("pgs")`` pushdown read prunes ``=`` / ``IN`` lookups on any
    column whose chunks carry blooms, whichever writer built them.
    """
    keysmod.validate_column_keys(column_keys, df.columns)
    if target_tokens < 1:
        raise ValueError(f"target_tokens must be >= 1, got {target_tokens}")
    waves = max(waves, 1)
    store = ManifestStore(out_dir)
    old = store.meta()
    if old and (old.get("clustering") != "token_weighted"
                or set(old) - _OWN_META):
        raise ValueError(
            f"{out_dir} holds a store another writer made or changed "
            f"(clustering={old.get('clustering')!r}); encode_table only "
            "resumes its own stores")
    done = _resume(df, store, old, waves) \
        if resume and store.exists() else {}
    meta = dict(
        key_col=None, clustering="token_weighted", num_parts=0, waves=waves,
        page_rows=page_rows, sort_cols=sort_cols or [],
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
    store.write_meta(**meta)
    parts = spark.sparkContext.accumulator(0)
    for w in range(waves):
        if w in done:
            continue
        store.append_blobs(scan_blobs_df(
            df, target_tokens, w, waves, parts,
            compression=compression, codec=codec, codec_map=codec_map,
            bloom_cols=bloom_cols, page_rows=page_rows,
            encryption_key=encryption_key, column_keys=column_keys,
            aad_prefix=aad_prefix, ndv_cols=ndv_cols))
    num = parts.value + sum(done.values())
    store.write_meta(**{**meta, "num_parts": num})
    return store, EncodePlan(num)
