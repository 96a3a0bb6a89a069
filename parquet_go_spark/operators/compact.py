"""Store compaction: merge small partitions into target-sized ones.

Streaming ingest (streaming/ingest.py) and multi-wave commits produce
legitimate-but-small partitions; at 10^12-sequence scale a store
accumulates millions of them, and every downstream read pays per-chunk
fixed costs (manifest rows, frame headers, codec tables — a rANS
frequency table amortizes over 16M tokens, not 40k). Compaction is the
maintenance pass the reference never needed (a parquet-go file is
written once) but an Iceberg-style table does: the analog of Iceberg's
``rewrite_data_files``.

Dataflow: the per-partition sizes are metadata (one row per partition,
collected to the driver exactly like the encode planner's weighted
first-fit); the data path is one Spark job with a single shuffle on the
destination partition id — blob rows of merged groups co-locate, decode,
concatenate, and re-encode through the SAME kernel the encode job uses
(make_encode_fn), so compacted chunks get identical stats/pages/bloom
treatment. Untouched partitions pass through without decoding.

On the parquet fallback the destination is a new store directory (atomic
by construction); an Iceberg deployment would commit the same blob rows
as a snapshot swap. Source partition lineage is recorded in the
destination's store metadata.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import chunk
from .encode_job import make_encode_fn
from .store import BLOB_SCHEMA, ManifestStore

DEFAULT_TARGET_RAW = 256 << 20


def _empty_blob_table() -> pa.Table:
    """Zero blob rows in the BLOB_SCHEMA shape (applyInArrow validates
    names and types even for empty groups)."""
    types = {
        "part_id": pa.int32(), "col": pa.string(), "codec": pa.string(),
        "compression": pa.string(), "count": pa.int64(),
        "null_count": pa.int64(), "raw_size": pa.int64(),
        "encoded_size": pa.int64(), "vmin": pa.string(),
        "vmax": pa.string(), "boundary_order": pa.string(),
        "pages": pa.string(), "size_stats": pa.string(),
        "geo": pa.string(), "bloom": pa.binary(), "ndv": pa.binary(),
        "blob": pa.binary(),
    }
    return pa.table({k: pa.array([], type=t) for k, t in types.items()})


def plan_compaction(
    parts: list[tuple[int, int]], target_raw: int
) -> list[list[int]]:
    """Greedy run packing in part_id order: consecutive partitions merge
    while the group's raw bytes stay under ``target_raw``. Keeping merges
    adjacent preserves row order per group and any range clustering the
    store had (a range-clustered store stays range-clustered)."""
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_raw = 0
    for pid, raw in sorted(parts):
        if cur and cur_raw + raw > target_raw:
            groups.append(cur)
            cur, cur_raw = [], 0
        cur.append(pid)
        cur_raw += raw
    if cur:
        groups.append(cur)
    return groups


def _make_recode_fn(encode_group, decryption_key, src_dir=None,
                    del_names=(), evolve=None, eq_entries=()):
    """Blob rows of one destination partition -> recoded blob rows.

    Decodes each column's chunks in source part_id order, concatenates,
    and hands the rebuilt data table to the encode job's own kernel.
    Committed tombstones (``del_names``) are materialized here: each
    source chunk drops its deleted positions before the merge, so the
    destination store needs no delete metadata at all. Schema evolution
    (``evolve``: current_of / added / keep_names from operators/
    evolve.py metadata) is materialized too: chunks come out under
    CURRENT names, added columns get their default filled in, retired
    chunks are dropped."""
    ev = evolve or {}
    current_of: dict = ev.get("current_of") or {}
    added: dict = ev.get("added") or {}  # name -> (default, arrow type)
    keep_names = ev.get("keep_names")  # None = keep everything
    eq_keys: dict = {}  # per-worker cache of loaded key tables

    def recode(table: pa.Table) -> pa.Table:
        import numpy as np

        new_id = table.column("new_part")[0].as_py()
        part_ids = table.column("part_id").to_pylist()
        del_pos: dict = {}
        if del_names:
            from ..sources.pgs_datasource import _delete_positions

            del_pos = _delete_positions(
                src_dir, del_names, sorted(set(part_ids))
            )
        col_names = table.column("col").to_pylist()
        blobs = table.column("blob").to_pylist()
        counts = table.column("count").to_pylist()
        by_part: dict[int, list[int]] = {}
        for i, pid in enumerate(part_ids):
            by_part.setdefault(pid, []).append(i)
        cols: dict[str, list] = {}
        for pid in sorted(by_part):
            mine: dict[str, pa.Array] = {}
            n_part = None
            for i in by_part[pid]:
                # manifest count = the partition's row count (chunks are
                # row-aligned) — known even when every chunk is retired
                n_part = counts[i]
                name = current_of.get(col_names[i], col_names[i])
                if keep_names is not None and name not in keep_names:
                    continue  # retired (dropped) column: chunks end here
                a = chunk.decode_chunk(
                    blobs[i], encryption_key=decryption_key
                )
                if isinstance(a, pa.ChunkedArray):
                    a = a.combine_chunks()
                dels = del_pos.get(pid)
                if dels is not None and dels.size:
                    if dels[-1] >= len(a):
                        raise ValueError(
                            f"tombstone position {dels[-1]} out of range "
                            f"for part {pid} ({len(a)} rows)"
                        )
                    m = np.ones(len(a), dtype=bool)
                    m[dels] = False
                    a = a.filter(pa.array(m))
                mine[name] = a
            for name, (default, atype) in added.items():
                # synthesized at full partition length then tombstoned,
                # exactly like a physical chunk — a partition whose every
                # chunk was retired still contributes its rows
                if name in mine or n_part is None:
                    continue
                full = (
                    pa.nulls(n_part, atype) if default is None
                    else pa.array([default] * n_part).cast(atype)
                )
                dels = del_pos.get(pid)
                if dels is not None and dels.size:
                    m = np.ones(n_part, dtype=bool)
                    m[dels] = False
                    full = full.filter(pa.array(m))
                mine[name] = full
            # equality deletes materialize here too: one null-safe
            # anti-join per in-scope entry (pid below the entry's cap),
            # over the positionally-filtered columns. Chunk names in
            # ``mine`` are already CURRENT (current_of applied), which
            # is the namespace entry key_cols live in.
            applicable = [e for e in eq_entries if pid < e["cap"]]
            if applicable and mine:
                from .. import eqdel

                keep = None
                for e in applicable:
                    if e["name"] not in eq_keys:
                        eq_keys[e["name"]] = eqdel.load_key_table(
                            src_dir, e["name"], e["file_cols"]
                        )
                    kt = eq_keys[e["name"]]
                    km = eqdel.keep_mask(
                        [mine[c] for c in e["key_cols"]],
                        [kt.column(c) for c in e["file_cols"]],
                    )
                    if km is not None:
                        keep = km if keep is None else (keep & km)
                if keep is not None:
                    sel = pa.array(keep)
                    mine = {n: a.filter(sel) for n, a in mine.items()}
            for name, a in mine.items():
                cols.setdefault(name, []).append(a)
        if not cols:
            return _empty_blob_table()
        n = sum(len(a) for a in next(iter(cols.values())))
        if n == 0:
            # tombstones removed every row of the group: the partition
            # simply does not exist in the destination
            return _empty_blob_table()
        data = {"part_id": pa.array(np.full(n, new_id, dtype=np.int32))}
        for name, arrs in cols.items():
            data[name] = (
                arrs[0] if len(arrs) == 1
                else pa.concat_arrays([a.combine_chunks()
                                       if isinstance(a, pa.ChunkedArray)
                                       else a for a in arrs])
            )
        return encode_group(pa.table(data))

    return recode


def compact_store(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_raw: int = DEFAULT_TARGET_RAW,
    compression: str | None = "zstd",
    codec: str = "auto",
    codec_map: dict[str, str] | None = None,
    bloom_cols: set[str] | None = None,
    page_rows: int | None = None,
    encryption_key: bytes | None = None,
) -> dict:
    """Compact ``src_dir`` into the new store ``dst_dir``. Returns a
    summary dict (partition counts, how many groups were merged)."""
    src = ManifestStore(src_dir)
    dst = ManifestStore(dst_dir)
    if dst.exists():
        raise ValueError(f"destination store already exists: {dst_dir}")

    # inherit the source store's layout policy unless overridden — merged
    # partitions must not silently lose their blooms, page index, or geo
    # stats (they are recomputed over the merged chunk)
    src_meta = src.meta()
    if page_rows is None and src_meta.get("page_rows"):
        page_rows = src_meta["page_rows"]
    geo_cols = set(src_meta["geo_cols"]) if src_meta.get("geo_cols") else None
    ndv_cols = (
        set(src_meta["ndv_cols"]) if src_meta.get("ndv_cols") else None
    )

    # read only COMMITTED blobs: a generation store may hold renamed files
    # of a crashed job, and a stream store a torn last batch — both are
    # invisible to readers and must stay invisible to compaction
    from ..sources.pgs_datasource import (
        PGSStreamWriter, _bloomed_cols, _committed_files, _dataset,
        _delete_files, _require_no_branches,
    )

    # compaction rebases part ids; open branches hold files addressed in
    # the OLD namespace and would silently detach — main-only op
    _require_no_branches(src_meta, "compact_store")
    files = _committed_files(src_dir)
    if not files:
        raise ValueError(f"source store has no committed blobs: {src_dir}")
    if bloom_cols is None:
        # the blooms the source's chunks carry, recorded in its meta or not
        bloom_cols = set(_bloomed_cols(_dataset(src_dir), src_meta))
    src_blobs = spark.read.schema(BLOB_SCHEMA).parquet(*files)
    if src_meta.get("clustering") == "stream_append":
        cap = (
            src_meta.get("last_committed_batch", -1) + 1
        ) * PGSStreamWriter.STRIDE
        src_blobs = src_blobs.filter(F.col("part_id") < cap)

    # committed tombstones materialize here: their partitions are forced
    # through the recode arm (even singletons) with deleted rows dropped
    del_entries = src_meta.get("deletes") or []
    del_names = tuple(e["name"] for e in del_entries)
    # equality deletes likewise: every partition below any entry's cap
    # carries potentially-matching rows and must recode
    eq_entries = tuple(src_meta.get("eq_deletes") or [])
    eq_cap = max((e["cap"] for e in eq_entries), default=0)
    deleted_pids: set[int] = set()
    if del_names:
        import pyarrow.dataset as pads

        dd = pads.dataset(_delete_files(src_dir, del_names),
                          format="parquet")
        deleted_pids = set(
            dd.to_table(columns=["part_id"]).column("part_id").to_pylist()
        )

    # schema evolution is materialized by compaction: every partition is
    # rewritten under CURRENT column names with added-column defaults
    # filled in and retired (dropped/renamed-away) chunks removed, so the
    # destination needs no evolution metadata and add_column's
    # "chunk name already exists" refusal clears
    renames = src_meta.get("column_renames") or {}
    added_meta = src_meta.get("added_columns") or {}
    retired = src_meta.get("retired_columns") or []
    evolved = bool(renames or added_meta or retired)
    evolve_info = None
    if evolved:
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        if not src_meta.get("schema_json"):
            raise ValueError(
                "evolved store records no schema; cannot normalize"
            )
        schema = StructType.fromJson(src_meta["schema_json"])
        arrow = to_arrow_schema(schema)
        keep_names = set(schema.fieldNames())
        for c, fields in (src_meta.get("shredded") or {}).items():
            from ..sources.pgs_datasource import _shred_components

            keep_names |= set(_shred_components(c, fields))
        evolve_info = {
            "current_of": {o: cur for cur, olds in renames.items()
                           for o in olds},
            "added": {
                n: (spec.get("default"), arrow.field(n).type)
                for n, spec in added_meta.items()
                if n in arrow.names
            },
            "keep_names": keep_names,
        }

    sizes = (
        src_blobs
        .groupBy("part_id")
        .agg(F.sum("raw_size").alias("raw"))
        .collect()
    )  # metadata-scale: one row per partition (same as the encode planner)
    groups = plan_compaction([(r["part_id"], r["raw"]) for r in sizes],
                             target_raw)
    mapping = [
        (pid, new_id,
         len(g) > 1 or pid in deleted_pids or evolved or pid < eq_cap)
        for new_id, g in enumerate(groups)
        for pid in g
    ]
    map_df = spark.createDataFrame(
        mapping, "part_id int, new_part int, merged boolean"
    )

    blobs = src_blobs.join(F.broadcast(map_df), "part_id")
    passthrough = (
        blobs.filter(~F.col("merged"))
        .drop("part_id", "merged")
        .withColumnRenamed("new_part", "part_id")
        .select(*[c.split(" ")[0] for c in BLOB_SCHEMA.split(", ")])
    )
    encode_group = make_encode_fn(
        compression, codec, codec_map, bloom_cols, page_rows,
        None, encryption_key, None, geo_cols, ndv_cols=ndv_cols,
    )
    recoded = (
        blobs.filter(F.col("merged"))
        .groupBy("new_part")
        .applyInArrow(_make_recode_fn(encode_group, encryption_key,
                                      src_dir, del_names, evolve_info,
                                      eq_entries),
                      schema=BLOB_SCHEMA)
    )
    dst.append_blobs(passthrough.unionByName(recoded))

    meta = dict(src_meta)
    meta["num_parts"] = len(groups)
    # the layout this job actually built, which an explicit argument
    # may have changed from the source's
    meta["bloom_cols"] = sorted(bloom_cols) if bloom_cols else []
    meta["compacted_from"] = src_dir
    if meta.get("clustering") == "stream_append":
        # part ids were rebased to 0..N: the batch namespace (and with it
        # as_of_batch history and the resume watermark) no longer applies;
        # a stream must not resume into the compacted store
        meta["clustering"] = "compacted"
        meta.pop("last_committed_batch", None)
    # generation-commit metadata likewise belongs to the SOURCE's writer
    # protocol: compacted blobs are operator-named, so a carried
    # generations(+strict) set would hide every file of the new store
    # (reads returned 0 rows), and part-id rebasing invalidates the
    # append-commit history caps
    meta.pop("generations", None)
    meta.pop("generations_strict", None)
    meta.pop("history", None)
    meta.pop("history_ts", None)  # lockstep with history, always
    # expiry state indexes the retired history too: a stale
    # history_base(+cap) under a FRESH history rebuilt by later appends
    # mis-numbers snapshots and resolves _pgs_commit against rebased
    # part ids (found by the chaos model's changelog-replay arm)
    meta.pop("history_base", None)
    meta.pop("history_base_cap", None)
    meta.pop("delete_seq", None)  # tombstone counter: new feed namespace
    meta.pop("pid_floor", None)  # part ids were rebased to 0..N
    meta.pop("tags", None)  # tags index the retired history
    # tombstones were materialized into the rewritten chunks above
    meta.pop("deletes", None)
    meta.pop("eq_deletes", None)
    # schema evolution was materialized: chunks carry current names,
    # defaults are filled, retired chunks are gone
    meta.pop("added_columns", None)
    meta.pop("column_renames", None)
    meta.pop("retired_columns", None)
    meta["lineage"] = {str(i): g for i, g in enumerate(groups) if len(g) > 1}
    dst.write_meta(**meta)
    return {
        "src_parts": len(sizes),
        "dst_parts": len(groups),
        "merged_groups": sum(1 for g in groups if len(g) > 1),
        "deletes_applied": sum(e.get("rows", 0) for e in del_entries),
        "eq_deletes_applied": sum(e.get("keys", 0) for e in eq_entries),
    }


_Z_BITS = 16


def _manifest_bounds(src_dir: str, keys: list[str]) -> dict:
    """Global [lo, hi] per key from the manifest's per-chunk vmin/vmax —
    a footer-scale driver read, no data decode. A key whose bounds are
    missing or non-numeric-formatted (e.g. timestamp strings) is simply
    absent; the caller falls back to one column-pruned agg for it.
    Tombstoned rows only widen the bounds, which is harmless for
    normalization."""
    from ..sources.pgs_datasource import _dataset, _meta

    renames = _meta(src_dir).get("column_renames") or {}
    alias_of = {a: c for c in keys
                for a in [c] + list(renames.get(c) or [])}
    t = _dataset(src_dir).to_table(columns=["col", "vmin", "vmax"])
    out: dict[str, list[float]] = {}
    bad: set[str] = set()
    for cname, vmin, vmax in zip(t.column("col").to_pylist(),
                                 t.column("vmin").to_pylist(),
                                 t.column("vmax").to_pylist()):
        c = alias_of.get(cname)
        if c is None or c in bad:
            continue
        try:
            lo, hi = float(vmin), float(vmax)
        except (TypeError, ValueError):
            bad.add(c)
            out.pop(c, None)
            continue
        cur = out.setdefault(c, [lo, hi])
        cur[0] = min(cur[0], lo)
        cur[1] = max(cur[1], hi)
    return out


def _zvalue(df, keys: list[str], src_dir: str | None = None):
    """Interleaved-bit (Morton / Z-order) cluster key over numeric or
    temporal columns, entirely in JVM expressions: each key linearly
    normalizes to a per-key bit budget via its global [min, max], and
    the codes' bits interleave into one BIGINT. Bounds come from the
    store manifest when ``src_dir`` is given (footer-scale, no data
    read); keys whose manifest stats aren't numeric (timestamps) fall
    back to one column-pruned agg cast to double. The per-key budget is
    ``min(_Z_BITS, 63 // n_keys)`` — interleaved positions must stay
    below the BIGINT sign bit, and wrapping shifts past 63 would fold
    different keys onto the same bits. Linear normalization is the
    standard practical scheme (what Delta's OSS Z-order does via range
    ids); heavy skew degrades locality but never correctness. Null keys
    code to 0 (cluster first). Strings are refused: hashing would
    destroy the locality that is the entire point."""
    bits = min(_Z_BITS, 63 // len(keys))
    top = (1 << bits) - 1
    bounds = _manifest_bounds(src_dir, keys) if src_dir else {}
    missing = [c for c in keys if c not in bounds]
    if missing:
        row = df.agg(*(
            f(F.col(c).cast("double")).alias(f"{f.__name__}_{c}")
            for c in missing for f in (F.min, F.max)
        )).collect()[0]
        for c in missing:
            lo, hi = row[f"min_{c}"], row[f"max_{c}"]
            if lo is not None:
                bounds[c] = [float(lo), float(hi)]
    codes = []
    for c in keys:
        if c not in bounds:  # all-null column: constant code
            codes.append(F.lit(0).cast("long"))
            continue
        lo_d, hi_d = bounds[c]
        span = (hi_d - lo_d) or 1.0
        code = F.floor(
            (F.col(c).cast("double") - F.lit(lo_d)) / F.lit(span)
            * F.lit(float(top))
        ).cast("long")
        codes.append(F.coalesce(
            F.least(F.lit(top).cast("long"),
                    F.greatest(F.lit(0).cast("long"), code)),
            F.lit(0).cast("long"),
        ))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, code in enumerate(codes):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(code, b).bitwiseAND(F.lit(1)),
                    b * len(codes) + i,
                )
            )
    return z


def recluster_store(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    key: str | list[str],
    target_rows: int | None = None,
    read_options: dict | None = None,
    write_options: dict | None = None,
) -> dict:
    """Rewrite the store globally ordered by ``key`` (the Iceberg
    ``rewrite_data_files`` with a sort order — the cluster-by
    maintenance action ``compact_store`` deliberately is not: adjacent
    merges preserve whatever order exists; this CHANGES it). One range
    shuffle: ``repartitionByRange(key)`` + an in-partition sort, then
    the ordinary batch writer into a fresh destination store.

    Reads go through the native source, so positional tombstones,
    equality deletes, alias resolution, and added-column defaults all
    materialize into the rewrite — same guarantee as compact_store's
    recode arm. After it, every partition's [vmin, vmax] on ``key`` is
    non-overlapping, so stats pruning on key ranges reads exactly the
    partitions that can match — the difference between scanning a
    shuffled 100 TB store and touching two partitions for a range query.

    A LIST of keys Z-orders instead (Iceberg rewrite with a zorder
    strategy): rows cluster by the interleaved-bit Morton code of the
    keys, so a range filter on ANY of them prunes — the
    multi-dimensional twin of the single-key linear order, for stores
    queried along more than one axis.

    Layout (blooms, pages, shredding) is inherited from the source;
    encryption keys are NOT (keys stay caller-supplied — pass
    ``read_options={"key_hex": ...}`` and the write twin). Partition
    sizing: ``target_rows`` per output partition, defaulting to the
    source's mean partition size (same partition count).
    """
    import math
    import os

    from ..sources.pgs_datasource import (
        _dataset, _has_blobs, _meta, _require_no_branches, _write_meta,
        register,
    )
    from .deletes import _inherit_layout

    register(spark)
    src_meta = _meta(src_dir)
    _require_no_branches(src_meta, "recluster_store")
    if os.path.exists(dst_dir):
        raise ValueError(f"destination store already exists: {dst_dir}")
    if not _has_blobs(src_dir):
        raise ValueError(f"source store has no committed blobs: {src_dir}")

    keys = [key] if isinstance(key, str) else list(key)
    zorder = len(keys) > 1
    reader = spark.read.format("pgs")
    for k, v in (read_options or {}).items():
        reader = reader.option(k, v)
    df = reader.load(src_dir)
    for c in keys:
        if c not in df.columns:
            raise ValueError(f"no column {c!r} in the store schema")
        if zorder and dict(df.dtypes)[c] in ("string", "binary"):
            raise ValueError(
                f"zorder key {c!r} is {dict(df.dtypes)[c]}; interleaved "
                "bits need numeric/temporal keys (hashing a string "
                "would destroy the locality zorder exists to create)"
            )

    # partition sizing from manifest metadata only (chunk row counts are
    # row-aligned, so any one chunk's count is the partition's; the sum
    # ignores tombstoned rows — an upper bound is fine for sizing)
    t = _dataset(src_dir).to_table(columns=["part_id", "count"])
    rows_by_part: dict[int, int] = {}
    for p, c in zip(t.column("part_id").to_pylist(),
                    t.column("count").to_pylist()):
        rows_by_part.setdefault(p, c)
    total = sum(rows_by_part.values())
    if target_rows is None:
        n_out = max(1, len(rows_by_part))
    else:
        n_out = max(1, math.ceil(total / target_rows))

    wo = _inherit_layout(src_meta, write_options)
    if zorder:
        # cluster on the Morton code, then drop it: the range exchange
        # and the in-partition order both survive the projection. The
        # writer's own sort_key would re-sort per partition by ONE key
        # and undo the interleaving — strip it.
        wo.pop("sort_key", None)
        zc = "__pgs_zcluster"
        out = (
            df.withColumn(zc, _zvalue(df, keys, src_dir=src_dir))
            .repartitionByRange(n_out, F.col(zc))
            .sortWithinPartitions(zc)
            .drop(zc)
        )
    else:
        wo["sort_key"] = keys[0]
        out = (
            df.repartitionByRange(n_out, F.col(keys[0]))
            .sortWithinPartitions(keys[0])
        )
    w = out.write.format("pgs").mode("overwrite")
    for k, v in wo.items():
        w = w.option(k, v)
    w.save(dst_dir)
    meta = _meta(dst_dir)
    meta["reclustered_from"] = os.path.abspath(src_dir)
    if zorder:
        meta["zorder_by"] = keys
    _write_meta(dst_dir, meta)
    return {"src_parts": len(rows_by_part), "dst_parts": n_out,
            "rows_upper_bound": total,
            "key": keys[0] if not zorder else keys}
