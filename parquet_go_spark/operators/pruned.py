"""Pruned reads: decode only the chunks a predicate can touch.

This is the read-side metadata machinery of the reference re-expressed over
our blob store:

  * column projection   — only requested chunks are read
    (reader/reader.go:126-138 per-leaf buffers; here: a `col IN (...)`
    filter that parquet pushes down, so pruned partitions' blob bytes are
    never fetched).
  * partition pruning   — the gate queries hand Spark Filters to the
    format("pgs") source's own planner, ``_candidate_parts``: every filter
    consults each chunk's [vmin, vmax] and null counts (the ColumnIndex
    consumed by SkipRows, reader/columnbuffer_offset_index.go:23-110), and
    point filters then probe the chunks' split-block blooms
    (reader/bloom.go:61-126 BloomFilterCheck). Both are one-sided
    (``prune.keep``), so pruned-decode + exact post-filter is exact on any
    clustering; range clustering makes the bounds tight, blooms serve
    hash-clustered keys.
  * page pruning        — ``page_candidates``, per-page bounds of the
    surviving partitions.

Mechanics note: candidate part_ids are collected on the driver — that is
the manifest (footer) read, bounded by partition count, never row count —
and re-applied as a literal `IN` filter so Catalyst pushes it into the
parquet scan of the blob files (PushedFilters), skipping pruned partitions'
blob bytes entirely.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    LessThanOrEqual,
)

from ..sources.pgs_datasource import _candidate_parts
from .decode_job import make_decode_fn
from .encode_job import encode_blobs_df
from .store import ManifestStore


# ------------------------------------------------------------ generic encode

def encode_generic(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    key_col: str,
    clustering: str = "range",
    num_parts: int = 16,
    codec_map: dict[str, str] | None = None,
    bloom_cols: set[str] | None = None,
    compression: str | None = "zstd",
    page_rows: int | None = None,
    sort_within: bool = False,
    encryption_key: bytes | None = None,
    column_keys: dict[str, bytes] | None = None,
    geo_cols: dict[str, dict] | None = None,
    zorder_cols: list[str] | None = None,
) -> ManifestStore:
    """Encode an arbitrary table into a blob store with part_ids clustered
    on ``key_col``.

    ``clustering="range"`` gives tight per-partition [vmin, vmax] (the
    sorted-write case where column indexes prune well); ``"hash"`` spreads
    keys uniformly (stats useless, blooms shine); ``"zorder"`` interleaves
    the bits of ``zorder_cols`` grid cells into a Morton code so manifest
    stats prune on ANY of those columns (multi-dimensional locality — the
    Iceberg/Delta OPTIMIZE ZORDER layout, beyond the reference's single
    declared sort, writer/sorting.go:9-48). num_parts is fixed here
    for determinism; at scale it is ceil(bytes / row_group_size) exactly as
    the reference's flush policy sizes row groups (writer/ops.go:244-281).
    """
    if clustering == "range":
        lohi = df.select(
            F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
        ).collect()[0]
        lo, hi = float(lohi["lo"]), float(lohi["hi"])
        width = max((hi - lo) / num_parts, 1e-9)
        pid = F.least(
            F.floor((F.col(key_col).cast("double") - F.lit(lo)) / F.lit(width)),
            F.lit(num_parts - 1),
        )
    elif clustering == "range_string":
        # lexicographic prefix bucketing: first character mapped over a-z.
        # Stable and shuffle-free; at scale this is where a
        # repartitionByRange-sampled boundary table would slot in.
        c = F.ascii(F.lower(F.substring(F.col(key_col), 1, 1)))
        norm = F.greatest(F.least(c - F.lit(97), F.lit(25)), F.lit(0))
        pid = F.least(
            F.floor(norm * num_parts / 26), F.lit(num_parts - 1)
        )
    elif clustering == "zorder":
        # Each zorder column is linearly scaled to a 2^bits grid cell
        # (the same linear split the 1-D range clustering uses) and the
        # cells' bits are interleaved into a Morton code; partitions are
        # equal-width Morton ranges. Morton locality keeps every zorder
        # column's per-partition [vmin, vmax] narrow, so the manifest
        # prunes a predicate on ANY of them — a range-clustered store
        # prunes only on its one key. Pure JVM bit expressions (the cell
        # grid and interleave stay inside whole-stage codegen; no UDF).
        if not zorder_cols or len(zorder_cols) < 2:
            raise ValueError("clustering='zorder' needs >= 2 zorder_cols")
        numeric = {
            f.name for f in df.schema.fields
            if f.dataType.simpleString() in
            ("tinyint", "smallint", "int", "bigint", "float", "double")
            or f.dataType.simpleString().startswith("decimal")
        }
        bad = [c for c in zorder_cols if c not in numeric]
        if bad:
            raise ValueError(f"zorder_cols must be numeric, got {bad}")
        ndim = len(zorder_cols)
        bits = max(1, 16 // ndim)
        aggs = []
        for c in zorder_cols:
            aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
        lohi = df.agg(*aggs).collect()[0]
        cells = []
        for c in zorder_cols:
            lo, hi = float(lohi[f"lo_{c}"]), float(lohi[f"hi_{c}"])
            width = max((hi - lo) / (1 << bits), 1e-9)
            cells.append(
                F.least(
                    F.floor(
                        (F.col(c).cast("double") - F.lit(lo)) / F.lit(width)
                    ),
                    F.lit((1 << bits) - 1),
                ).cast("long")
            )
        morton = F.lit(0).cast("long")
        for i in range(bits):
            for d, cell in enumerate(cells):
                morton = morton.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(cell, i).bitwiseAND(F.lit(1)),
                        i * ndim + d,
                    )
                )
        span = 1 << (bits * ndim)
        pid = F.least(
            F.floor(morton * F.lit(num_parts) / F.lit(span)),
            F.lit(num_parts - 1),
        )
    else:
        pid = F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_parts))
    from .. import keys as keysmod

    keysmod.validate_column_keys(column_keys, df.columns)
    planned = df.withColumn("part_id", pid.cast("int"))
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir, ignore_errors=True)
    store = ManifestStore(out_dir)
    store.append_blobs(
        encode_blobs_df(
            planned, compression, "auto", num_partitions=num_parts,
            codec_map=codec_map,
            bloom_cols=bloom_cols, page_rows=page_rows,
            # sorted pages within a partition: tight non-overlapping page
            # bounds + boundary_order=ASC -> intra-chunk page pruning
            # (the reference's sorted-write case, writer/pages.go:198-246)
            sort_key=key_col if sort_within else None,
            encryption_key=encryption_key, column_keys=column_keys,
            geo_cols=set(geo_cols) if geo_cols else None,
        )
    )
    store.write_meta(
        key_col=key_col, clustering=clustering, num_parts=num_parts,
        page_rows=page_rows, sorted_by=key_col if sort_within else None,
        schema_json=df.schema.jsonValue(),
        bloom_cols=sorted(bloom_cols) if bloom_cols else [],
        encrypted=encryption_key is not None or bool(column_keys),
        column_key_cols=sorted(column_keys) if column_keys else [],
        # GEOMETRY/GEOGRAPHY logical annotations (crs, edges) — the
        # reference's types/geometry.go / geography.go schema surface
        geo_cols=geo_cols or {},
        zorder_cols=zorder_cols or [],
    )
    return store


# ------------------------------------------------------------ pruned decode

def _schema_of(df: DataFrame, columns: list[str]) -> tuple[str, dict]:
    """(spark DDL schema, arrow types) for the selected columns — one
    projection plan and one empty-batch arrow conversion, not two.

    Nested nullability is relaxed: the DDL simpleString the decode UDF
    declares always maps to nullable children, so a source column typed
    ``array<string not null>`` (e.g. the output of ``split``) must cast
    to the nullable twin or applyInArrow rejects the batch."""
    from ..chunk import relax_nullability as relax

    sel = df.select(*columns)
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in sel.schema.fields
    )
    arrow = dict(
        zip((f.name for f in sel.schema.fields),
            (relax(t) for t in sel.limit(0).toArrow().schema.types))
    )
    return ddl, arrow


def _decode_parts(
    spark: SparkSession,
    store: ManifestStore,
    part_ids: list[int],
    columns: list[str],
    spark_schema: str,
    arrow_types: dict | None = None,
    encryption_key: bytes | None = None,
    column_keys: dict[str, bytes] | None = None,
) -> DataFrame:
    blobs = (
        store.blobs(spark)
        .filter(F.col("part_id").isin(part_ids))  # pushed to parquet scan
        .filter(F.col("col").isin(columns))       # column projection
    )
    return blobs.groupBy("part_id").applyInArrow(
        make_decode_fn(columns, spark_schema, arrow_types,
                       encryption_key=encryption_key,
                       column_keys=column_keys),
        schema=spark_schema,
    )


def page_candidates(
    spark: SparkSession, store: ManifestStore, key_col: str, lo, hi,
    part_ids: list[int] | None = None,
) -> dict[int, list[int]]:
    """Intra-chunk page pruning from the manifest's page index (the
    ColumnIndex+OffsetIndex consumed together,
    reader/columnbuffer_offset_index.go:23-110): for each surviving
    partition, the ordinals of pages whose [lo, hi] bounds intersect the
    predicate. Page boundaries are row-aligned across columns, so the
    subset applies to every projected column.

    The interval intersection runs as a JVM higher-order expression
    over the manifest (from_json + transform/filter), so the driver
    collects only (part_id, keep_ordinals) — at ~10^5-10^6 row groups
    the old per-page Python JSON loop was minutes of driver time while
    this stays one Catalyst job (r4 verdict #6)."""
    meta = store.manifest(spark).filter(F.col("col") == key_col)
    if part_ids is not None:
        meta = meta.filter(F.col("part_id").isin(part_ids))
    as_str = isinstance(lo, str) or isinstance(hi, str)

    pages = F.from_json(
        "pages", "array<struct<r bigint, n bigint, lo string, hi string>>")
    indexed = F.transform(
        pages, lambda p, i: F.struct(p["lo"].alias("lo"),
                                     p["hi"].alias("hi"),
                                     i.alias("i")))

    def _b(c):
        return c if as_str else c.cast("double")

    def _intersects(p):
        plo, phi = _b(p["lo"]), _b(p["hi"])
        # absent-or-unparseable bounds keep the page (advisory-lossless;
        # NaN bounds follow Spark's NaN-greatest total order, matching
        # how the chunk stats were folded)
        return (p["lo"].isNull() | p["hi"].isNull()
                | plo.isNull() | phi.isNull()
                | ~((phi < F.lit(lo)) | (plo > F.lit(hi))))

    keep = F.transform(F.filter(indexed, _intersects),
                       lambda p: p["i"]).alias("keep")
    return {r["part_id"]: list(r["keep"])
            for r in meta.select("part_id", keep).collect()}


def _decode_parts_pages(
    spark: SparkSession,
    store: ManifestStore,
    page_map: dict[int, list[int]],
    columns: list[str],
    spark_schema: str,
    arrow_types: dict | None = None,
    encryption_key: bytes | None = None,
    column_keys: dict[str, bytes] | None = None,
) -> DataFrame:
    """Decode only the selected page ordinals of each partition — pruned
    pages' frames are sliced off by the blob's page directory and never
    decompressed."""
    from .. import chunk as chunkmod
    from .. import keys as keysmod

    part_ids = [pid for pid, pages in page_map.items() if pages]

    def decode_group(table):
        import pyarrow as pa_

        pid = table.column("part_id")[0].as_py()
        keep = page_map[pid]
        cols = {c: b for c, b in zip(table.column("col").to_pylist(),
                                     table.column("blob").to_pylist())}
        arrays = []
        for name in columns:
            a = chunkmod.decode_chunk_pages(
                cols[name], keep=keep,
                encryption_key=keysmod.key_for(name, column_keys,
                                               encryption_key),
            )
            want = (arrow_types or {}).get(name)
            if want is not None and a.type != want:
                a = a.cast(want)
            arrays.append(a)
        return pa_.table(dict(zip(columns, arrays)))

    blobs = (
        store.blobs(spark)
        .filter(F.col("part_id").isin(part_ids))
        .filter(F.col("col").isin(columns))
    )
    return blobs.groupBy("part_id").applyInArrow(
        decode_group, schema=spark_schema
    )


# ------------------------------------------------------------ driver queries

RANGE_LO, RANGE_HI = 1_000, 20_000
POINT_KEYS = [7, 13, 42, 101, 999]


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def _between(col: str, lo, hi) -> list:
    """``lo <= col <= hi`` as the Filters ``_candidate_parts`` takes."""
    return [GreaterThanOrEqual((col,), lo), LessThanOrEqual((col,), hi)]


def stats_pruned_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate on a range-clustered key: encode orders, prune
    partitions by manifest [vmin, vmax], decode survivors, exact filter."""
    df = _orders(spark, sf_dir)
    cols = df.columns
    schema, atypes = _schema_of(df, cols)
    out = os.path.join("/tmp", f"pgs_pruned_range_{os.path.basename(sf_dir)}")
    store = encode_generic(
        spark, df, out, key_col="o_orderkey", clustering="range"
    )
    cand = _candidate_parts(store.out_dir, _between("o_orderkey", RANGE_LO,
                                                    RANGE_HI))
    dec = _decode_parts(spark, store, cand, cols, schema, atypes)
    return dec.filter(
        (F.col("o_orderkey") >= RANGE_LO) & (F.col("o_orderkey") <= RANGE_HI)
    )


def bloom_pruned_point_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list predicate on a hash-clustered key: stats are useless (every
    partition spans the full key range), blooms prune; exact post-filter."""
    df = _orders(spark, sf_dir)
    cols = df.columns
    schema, atypes = _schema_of(df, cols)
    out = os.path.join("/tmp", f"pgs_pruned_bloom_{os.path.basename(sf_dir)}")
    store = encode_generic(
        spark, df, out, key_col="o_custkey", clustering="hash",
        bloom_cols={"o_custkey"},
    )
    cand = _candidate_parts(store.out_dir,
                            [In(("o_custkey",), tuple(POINT_KEYS))])
    dec = _decode_parts(spark, store, cand, cols, schema, atypes)
    return dec.filter(F.col("o_custkey").isin(POINT_KEYS))


MEMBER_WORD = "dup"


def token_membership_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element blooms over an array column: which documents contain a
    given word. Blooms are built over the FLATTENED cells of the words
    array (bloom.build_bloom list path), so a point probe prunes whole
    partitions before any text is decoded — the inverted-index primitive
    a token store needs for PII strings and contamination canaries. The
    sandbox corpus's rarest word still lands in ~5% of docs (little to
    prune at this scale); at 10^12 docs a rare token prunes nearly
    everything. Exact array_contains post-filter as always."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = docs.select("doc_id", F.split("text", " ").alias("words"))
    cols = df.columns
    schema, atypes = _schema_of(df, cols)
    out = os.path.join("/tmp", f"pgs_pruned_elem_{os.path.basename(sf_dir)}")
    store = encode_generic(
        spark, df, out, key_col="doc_id", clustering="hash",
        bloom_cols={"words"},
    )
    cand = _candidate_parts(store.out_dir,
                            [EqualTo(("words",), MEMBER_WORD)])
    dec = _decode_parts(spark, store, cand, cols, schema, atypes)
    return dec.filter(
        F.array_contains("words", MEMBER_WORD)
    ).select("doc_id")


TOKEN_MEMBERSHIP_ORACLE = f"""
SELECT doc_id FROM documents
WHERE list_contains(string_split(text, ' '), '{MEMBER_WORD}')
"""


def page_pruned_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-chunk page pruning: partitions are range-clustered AND sorted
    within, so the per-page index has non-overlapping ASC bounds; a narrow
    range decodes only the intersecting pages of the surviving partitions
    (the reference's ColumnIndex+OffsetIndex read,
    reader/columnbuffer_offset_index.go:23-110). Exact post-filter."""
    df = _orders(spark, sf_dir)
    cols = df.columns
    schema, atypes = _schema_of(df, cols)
    out = os.path.join("/tmp", f"pgs_pruned_pages_{os.path.basename(sf_dir)}")
    store = encode_generic(
        spark, df, out, key_col="o_orderkey", clustering="range",
        num_parts=4, page_rows=512, sort_within=True,
    )
    cand = _candidate_parts(store.out_dir, _between("o_orderkey", RANGE_LO,
                                                    RANGE_HI))
    pmap = page_candidates(
        spark, store, "o_orderkey", RANGE_LO, RANGE_HI, cand
    )
    dec = _decode_parts_pages(spark, store, pmap, cols, schema, atypes)
    return dec.filter(
        (F.col("o_orderkey") >= RANGE_LO) & (F.col("o_orderkey") <= RANGE_HI)
    )


def zorder_pruned_box_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D box predicate on a z-order-clustered store: manifest stats
    prune on BOTH dimensions (intersection of each column's candidate
    partitions), decode the survivors, exact filter. On a 1-D
    range-clustered store only the key column could prune this query."""
    df = _orders(spark, sf_dir)
    cols = df.columns
    schema, atypes = _schema_of(df, cols)
    out = os.path.join("/tmp", f"pgs_pruned_zorder_{os.path.basename(sf_dir)}")
    store = encode_generic(
        spark, df, out, key_col="o_orderkey", clustering="zorder",
        zorder_cols=["o_orderkey", "o_custkey"], num_parts=32,
    )
    cand = _candidate_parts(
        store.out_dir,
        _between("o_orderkey", ZBOX_KEY_LO, ZBOX_KEY_HI)
        + _between("o_custkey", ZBOX_CUST_LO, ZBOX_CUST_HI))
    dec = _decode_parts(spark, store, cand, cols, schema, atypes)
    return dec.filter(
        (F.col("o_orderkey") >= ZBOX_KEY_LO)
        & (F.col("o_orderkey") <= ZBOX_KEY_HI)
        & (F.col("o_custkey") >= ZBOX_CUST_LO)
        & (F.col("o_custkey") <= ZBOX_CUST_HI)
    )


ZBOX_KEY_LO, ZBOX_KEY_HI = 200, 900
ZBOX_CUST_LO, ZBOX_CUST_HI = 10, 120

STATS_PRUNED_RANGE_ORACLE = (
    f"SELECT * FROM orders WHERE o_orderkey >= {RANGE_LO} "
    f"AND o_orderkey <= {RANGE_HI}"
)
ZORDER_PRUNED_BOX_ORACLE = (
    f"SELECT * FROM orders WHERE o_orderkey >= {ZBOX_KEY_LO} "
    f"AND o_orderkey <= {ZBOX_KEY_HI} AND o_custkey >= {ZBOX_CUST_LO} "
    f"AND o_custkey <= {ZBOX_CUST_HI}"
)
PAGE_PRUNED_RANGE_ORACLE = STATS_PRUNED_RANGE_ORACLE
BLOOM_PRUNED_POINT_ORACLE = (
    "SELECT * FROM orders WHERE o_custkey IN "
    f"({', '.join(str(k) for k in POINT_KEYS)})"
)


def projected_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection through the store: encode all lineitem columns,
    decode only three — the `col IN` filter means pruned columns' blob
    bytes are never read (reader/reader.go:126-138 analog)."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_returnflag",
    )
    out = os.path.join("/tmp", f"pgs_projected_{os.path.basename(sf_dir)}")
    store = encode_generic(
        spark, df, out, key_col="l_orderkey", clustering="range",
        num_parts=16,
    )
    want = ["l_orderkey", "l_quantity", "l_returnflag"]
    schema, atypes = _schema_of(df, want)
    all_parts = [
        r["part_id"]
        for r in store.completed_partitions(spark).collect()
    ]
    return _decode_parts(spark, store, all_parts, want, schema, atypes)


PROJECTED_DECODE_ORACLE = (
    "SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem"
)


# ------------------------------------------------------------ geo pruning

GEO_WINDOW = (-30.0, -20.0, 40.0, 50.0)  # xmin, ymin, xmax, ymax


def geo_candidates(
    spark: SparkSession, store: ManifestStore, geo_col: str,
    window: tuple[float, float, float, float],
) -> list[int]:
    """Partitions whose chunk-level GeospatialStatistics bbox intersects
    the query window — the footer read a spatial engine does against the
    reference's GeospatialStatistics (types/geospatial.go:107-140; fold
    at internal/layout/chunk.go:219-265). Chunks without a bbox are kept:
    no false negatives, mirroring the invalid-stats defense
    (reader/index.go:65-87)."""
    from .. import geo as geomod

    rows = (
        store.manifest(spark)
        .filter(F.col("col") == geo_col)
        .select("part_id", "geo")
        .collect()
    )
    return [
        r["part_id"] for r in rows
        if geomod.bbox_intersects(r["geo"], window)
    ]


def geo_pruned_bbox_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOMETRY column end-to-end: derive deterministic lon/lat points
    from orders, pack them as WKB (vectorized), encode the WKB column
    through the codec stack with GeospatialStatistics in the manifest,
    prune partitions by bbox-vs-window intersection, decode survivors,
    parse the WKB back, exact post-filter. Output is (o_orderkey, x, y)
    — double equality proves WKB bit-identity through the store."""
    from .. import geo as geomod

    base = (
        _orders(spark, sf_dir)
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 360 - 180 + 0.5).cast("double").alias("x"),
            (F.floor(F.col("o_orderkey") / 7) % 180 - 90 + 0.25)
            .cast("double").alias("y"),
        )
    )

    def to_wkb(batches):
        for b in batches:
            x = b.column("x").to_numpy(zero_copy_only=False)
            y = b.column("y").to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [b.column("o_orderkey"), geomod.wkb_points(x, y)],
                names=["o_orderkey", "geom"],
            )

    pts = base.mapInArrow(to_wkb, "o_orderkey long, geom binary")
    # cluster on a key correlated with x so bboxes are tight per partition
    keyed = pts.withColumn("xkey", (F.col("o_orderkey") % 360).cast("double"))
    out = os.path.join("/tmp", f"pgs_pruned_geo_{os.path.basename(sf_dir)}")
    store = encode_generic(
        spark, keyed, out, key_col="xkey", clustering="range",
        num_parts=12,
        geo_cols={"geom": {"type": "geometry", "crs": geomod.DEFAULT_CRS,
                           "edges": geomod.EDGES_PLANAR}},
    )
    cand = geo_candidates(spark, store, "geom", GEO_WINDOW)
    dec = _decode_parts(
        spark, store, cand, ["o_orderkey", "geom"],
        "o_orderkey long, geom binary",
    )

    def from_wkb(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            x, y = geomod.parse_points(b.column("geom"))
            yield pa.RecordBatch.from_arrays(
                [b.column("o_orderkey"), pa.array(x, pa.float64()),
                 pa.array(y, pa.float64())],
                names=["o_orderkey", "x", "y"],
            )

    parsed = dec.mapInArrow(from_wkb, "o_orderkey long, x double, y double")
    wxmin, wymin, wxmax, wymax = GEO_WINDOW
    return parsed.filter(
        (F.col("x") >= wxmin) & (F.col("x") <= wxmax)
        & (F.col("y") >= wymin) & (F.col("y") <= wymax)
    )


GEO_PRUNED_BBOX_ORACLE = f"""
SELECT o_orderkey,
       CAST(o_orderkey % 360 - 180 + 0.5 AS DOUBLE) AS x,
       CAST(FLOOR(o_orderkey / 7) % 180 - 90 + 0.25 AS DOUBLE) AS y
FROM orders
WHERE (o_orderkey % 360 - 180 + 0.5) BETWEEN {GEO_WINDOW[0]} AND {GEO_WINDOW[2]}
  AND (FLOOR(o_orderkey / 7) % 180 - 90 + 0.25)
      BETWEEN {GEO_WINDOW[1]} AND {GEO_WINDOW[3]}
"""
