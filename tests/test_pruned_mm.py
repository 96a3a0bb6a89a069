"""Pruned-read and multimodal operator tests (Spark e2e, sf0.001)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import In

from parquet_go_spark.sources.pgs_datasource import _candidate_parts

SF = "/root/testdata/sf0.001"


def test_stats_pruning_prunes_and_is_exact(spark, tmp_out):
    from parquet_go_spark.operators import pruned

    df = spark.read.parquet(f"{SF}/orders.parquet")
    store = pruned.encode_generic(
        spark, df, tmp_out, key_col="o_orderkey", clustering="range",
        num_parts=16,
    )
    total_parts = store.completed_partitions(spark).count()
    lo, hi = 1_000, 5_000
    cand = _candidate_parts(store.out_dir, pruned._between("o_orderkey",
                                                           lo, hi))
    assert 0 < len(cand) < total_parts, "range clustering must prune"
    cols = df.columns
    schema, atypes = pruned._schema_of(df, cols)
    dec = pruned._decode_parts(spark, store, cand, cols, schema, atypes)
    got = (
        dec.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi))
        .count()
    )
    want = df.filter(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
    ).count()
    assert got == want > 0


def test_zorder_clustering_prunes_both_dimensions(spark, tmp_out):
    """Morton-interleaved clustering keeps every zorder column's
    per-partition bounds narrow: a range predicate on EITHER column
    prunes partitions (a 1-D range store prunes only its key), the 2-D
    box intersects both candidate sets, and the pruned decode is exact."""
    from parquet_go_spark.operators import pruned

    df = spark.read.parquet(f"{SF}/orders.parquet")
    store = pruned.encode_generic(
        spark, df, tmp_out, key_col="o_orderkey", clustering="zorder",
        zorder_cols=["o_orderkey", "o_custkey"], num_parts=32,
    )
    assert store.meta()["zorder_cols"] == ["o_orderkey", "o_custkey"]
    total = store.completed_partitions(spark).count()
    klo, khi, clo, chi = 100, 300, 10, 40
    # manifest stats prune on ANY zorder column
    ca = _candidate_parts(store.out_dir,
                          pruned._between("o_orderkey", klo, khi))
    cb = _candidate_parts(store.out_dir,
                          pruned._between("o_custkey", clo, chi))
    assert 0 < len(ca) < total, "zorder must prune on the first column"
    assert 0 < len(cb) < total, "zorder must prune on the second column"
    cand = sorted(set(ca) & set(cb))
    box = (
        (F.col("o_orderkey") >= klo) & (F.col("o_orderkey") <= khi)
        & (F.col("o_custkey") >= clo) & (F.col("o_custkey") <= chi)
    )
    cols = df.columns
    schema, atypes = pruned._schema_of(df, cols)
    dec = pruned._decode_parts(spark, store, cand, cols, schema, atypes)
    got, want = dec.filter(box).count(), df.filter(box).count()
    assert got == want > 0


def test_bloom_pruning_no_false_negatives(spark, tmp_out):
    from parquet_go_spark.operators import pruned

    df = spark.read.parquet(f"{SF}/orders.parquet")
    store = pruned.encode_generic(
        spark, df, tmp_out, key_col="o_custkey", clustering="hash",
        num_parts=16, bloom_cols={"o_custkey"},
    )
    keys = [7, 13, 42]
    cand = _candidate_parts(store.out_dir, [In(("o_custkey",), tuple(keys))])
    cols = df.columns
    schema, atypes = pruned._schema_of(df, cols)
    dec = pruned._decode_parts(spark, store, cand, cols, schema, atypes)
    got = dec.filter(F.col("o_custkey").isin(keys)).count()
    want = df.filter(F.col("o_custkey").isin(keys)).count()
    assert got == want


def test_projected_decode_reads_subset(spark):
    from parquet_go_spark.operators.pruned import projected_decode_query

    out = projected_decode_query(spark, SF)
    assert out.columns == ["l_orderkey", "l_quantity", "l_returnflag"]
    n = spark.read.parquet(f"{SF}/lineitem.parquet").count()
    assert out.count() == n


def test_mm_metadata_shape_invariant(spark):
    from parquet_go_spark.operators.multimodal import metadata_query

    m = metadata_query(spark, SF)
    bad = m.filter(~F.col("payload_ok")).count()
    assert bad == 0
    assert m.count() == spark.read.parquet(f"{SF}/documents.parquet").count()


def test_mm_features_deterministic(spark):
    from parquet_go_spark.operators.multimodal import features_query

    a = features_query(spark, SF).orderBy("doc_id").limit(5).collect()
    b = features_query(spark, SF).orderBy("doc_id").limit(5).collect()
    assert a == b
    r = a[0]
    assert 0 <= r["byte_sum"] <= 255 * r["n_bytes"]
    assert r["byte_sq"] >= r["byte_sum"]
    # the 4 histogram bins cover every byte exactly once
    n = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") == r["doc_id"]
    ).select("n_chars").first()["n_chars"]
    w, h = 16 + n % 48, 16 + (n // 7) % 48
    frames = 1 + n % 4 if n % 4 > 0 else 1
    assert r["n_bytes"] == w * h * frames
    assert r["hist0"] + r["hist1"] + r["hist2"] + r["hist3"] == w * h * frames


def test_mm_thumbnail_shapes(spark):
    from parquet_go_spark.operators.multimodal import thumbnail_query

    rows = thumbnail_query(spark, SF).limit(10).collect()
    for r in rows:
        assert len(r["thumb"]) == r["thumb_frames"] * 64


def test_mm_decode_stub_raises():
    from parquet_go_spark.operators.multimodal import decode_media

    # png/jpeg/avi are REAL codecs now; unknown formats refuse loudly
    # (dispatch guard — the last stub closed when avi.py landed in r4)
    with pytest.raises(ValueError, match="unknown media format"):
        decode_media(b"\x00\x00\x01", "h264", 2, 2)
    # and a corrupt jpeg fails as a decode error, not a stub
    with pytest.raises(ValueError):
        decode_media(b"\xff\xd8\xff", "jpeg", 2, 2)


def test_resize_and_frame_sample_kernels():
    from parquet_go_spark.operators.multimodal import (
        resize_nearest,
        sample_frames,
    )

    img = np.arange(3 * 20 * 30, dtype=np.uint8).reshape(3, 20, 30)
    t = resize_nearest(img, 8, 8)
    assert t.shape == (3, 8, 8)
    assert sample_frames(img, 2).shape == (2, 20, 30)


def test_streaming_ingest_roundtrip(spark, tmp_out, tmp_path):
    """availableNow stream over a parquet drop dir -> blob store -> decode
    bit-identical (the streaming front door reuses the batch kernels)."""
    from parquet_go_spark.operators.decode_job import decode_table
    from parquet_go_spark.sources.synth import token_sequences
    from parquet_go_spark.streaming.ingest import stream_encode

    in_dir = str(tmp_path / "drop")
    df = token_sequences(spark, 2000, partitions=4)
    df.write.parquet(in_dir)
    store = stream_encode(spark, in_dir, tmp_out, target_tokens=200_000)
    dec = decode_table(
        spark, tmp_out,
        ["doc_id", "tokens", "n_tok", "source"],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    src = spark.read.parquet(in_dir)
    assert dec.count() == src.count()
    # bit-identity via order-insensitive exceptAll in both directions
    assert dec.exceptAll(src).count() == 0
    assert src.exceptAll(dec).count() == 0


def test_csv_and_jsonl_frontends_roundtrip(spark, tmp_path):
    """CSV/JSON front ends (reference writer/csv.go, writer/json.go
    analogs): canonical table -> text format -> canonical table, then
    through the codec stack, bit-identical."""
    from parquet_go_spark.sources import frontends
    from parquet_go_spark.sources.synth import token_sequences

    src = token_sequences(spark, 500, partitions=2).cache()
    csv_dir = str(tmp_path / "csv")
    frontends.write_csv(src, csv_dir)
    via_csv = frontends.read_csv(spark, csv_dir)
    assert via_csv.exceptAll(src).count() == 0
    assert src.exceptAll(via_csv).count() == 0

    j_dir = str(tmp_path / "jsonl")
    frontends.write_jsonl(src, j_dir)
    via_json = frontends.read_jsonl(spark, j_dir)
    assert via_json.exceptAll(src).count() == 0
    assert src.exceptAll(via_json).count() == 0
    src.unpersist()


def test_lsh_planes_match_sql_derivation():
    """The integer hyperplanes and their DuckDB re-derivation must agree
    bit-for-bit — LSH_ANN_ORACLE depends on it (change `_lsh_planes_int`
    and the oracle SQL in lockstep, like the mm payload formula)."""
    import duckdb

    from parquet_go_spark.operators.multimodal import _mulmod64_sql
    from parquet_go_spark.operators.similarity import (
        LSH_SEED,
        N_PLANES,
        _lsh_planes_int,
    )

    dim = 16
    A, C1, C2 = (0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB)
    base = LSH_SEED << 16
    sql = f"""
WITH grid AS (SELECT p, d FROM generate_series(0, {N_PLANES - 1}) t(p)
              CROSS JOIN generate_series(0, {dim - 1}) s(d)),
x1 AS (SELECT p, d, (CAST({base} + p*{dim} + d AS HUGEINT)
                     + {A}::HUGEINT) % 18446744073709551616 AS x FROM grid),
z1 AS (SELECT p, d, {_mulmod64_sql(
        "xor(x::UBIGINT,(x // 1073741824)::UBIGINT)::HUGEINT", C1)} AS z
       FROM x1),
z2 AS (SELECT p, d, {_mulmod64_sql(
        "xor(z::UBIGINT,(z // 134217728)::UBIGINT)::HUGEINT", C2)} AS z
       FROM z1)
SELECT CAST(xor(z::UBIGINT,(z // 2147483648)::UBIGINT) % 17 AS BIGINT) - 8
FROM z2 ORDER BY p, d
"""
    h_sql = np.array([r[0] for r in duckdb.sql(sql).fetchall()]).reshape(
        N_PLANES, dim
    )
    assert np.array_equal(h_sql, _lsh_planes_int(dim))


def test_ivf_ann_recall_vs_exact(spark):
    """IVF ANN must return k neighbors per vector with reasonable recall
    against the exact broadcast-GEMM top-k."""
    from parquet_go_spark.operators.similarity import (
        cosine_topk_query,
        ivf_ann_query,
    )

    k = 3
    approx = ivf_ann_query(spark, SF, k=k).toPandas()
    exact = cosine_topk_query(spark, SF, k=k).toPandas()
    n_vec = exact["vec_id"].nunique()
    assert approx.groupby("vec_id").size().max() <= k
    assert approx["vec_id"].nunique() == n_vec
    ap = set(zip(approx.vec_id, approx.neighbor_id))
    ex = set(zip(exact.vec_id, exact.neighbor_id))
    recall = len(ap & ex) / len(ex)
    # k-means-trained quantizer + adaptive nprobe measured 0.90 at 500
    # vectors; 0.8 leaves slack for centroid drift across numpy versions
    assert recall > 0.8, recall


def test_ivf_ann_asymmetric_mode(spark):
    """The asymmetric (single home cell) variant — the lower-shuffle scale
    path — must stay well-formed and keep usable recall."""
    from parquet_go_spark.operators import similarity as sim

    k = 3
    old = sim.IVF_MULTI_ASSIGN
    sim.IVF_MULTI_ASSIGN = False
    try:
        approx = sim.ivf_ann_query(spark, SF, k=k).toPandas()
    finally:
        sim.IVF_MULTI_ASSIGN = old
    exact = sim.cosine_topk_query(spark, SF, k=k).toPandas()
    assert approx.groupby("vec_id").size().max() <= k
    assert approx["vec_id"].nunique() == exact["vec_id"].nunique()
    ap = set(zip(approx.vec_id, approx.neighbor_id))
    ex = set(zip(exact.vec_id, exact.neighbor_id))
    assert len(ap & ex) / len(ex) > 0.4


def test_stats_pruning_string_key(spark, tmp_out):
    """String-key range pruning against truncated lexicographic bounds:
    pruning must be lossless (truncation only widens intervals)."""
    from parquet_go_spark.operators import pruned

    df = spark.read.parquet(f"{SF}/part.parquet").select(
        "p_partkey", "p_name", "p_brand"
    )
    store = pruned.encode_generic(
        spark, df, tmp_out, key_col="p_name", clustering="range_string",
        num_parts=8,
    )
    lo, hi = "b", "f"
    cand = _candidate_parts(store.out_dir, pruned._between("p_name", lo, hi))
    total = store.completed_partitions(spark).count()
    assert 0 < len(cand) <= total
    schema, atypes = pruned._schema_of(df, df.columns)
    dec = pruned._decode_parts(spark, store, cand, df.columns, schema, atypes)
    got = dec.filter(
        (F.col("p_name") >= lo) & (F.col("p_name") <= hi)
    ).count()
    want = df.filter((F.col("p_name") >= lo) & (F.col("p_name") <= hi)).count()
    assert got == want > 0
    assert len(cand) < total, "string clustering should allow pruning"


def test_near_dup_cluster_labels_consistent(spark):
    """Connected-component labels must be idempotent under the edge set:
    every vector's label equals the min label among itself and its
    near-dup neighbors (fixpoint), and labels point at real vertices."""
    import pandas as pd

    from parquet_go_spark.operators.dedup import near_dup_cluster_query
    from parquet_go_spark.operators.similarity import embedding_near_dup_query

    labels = near_dup_cluster_query(spark, SF).toPandas()
    pairs = embedding_near_dup_query(spark, SF).toPandas()
    lab = dict(zip(labels.vec_id, labels.cluster_id))
    assert set(labels.cluster_id).issubset(set(labels.vec_id))
    assert (labels.cluster_id <= labels.vec_id).all()
    for a, b in zip(pairs.vec_a, pairs.vec_b):
        assert lab[a] == lab[b], (a, b)  # neighbors share a component


def test_similarity_index_gate_flips_to_bucketed(spark):
    """Past INDEX_CAP_BYTES the exact broadcast-GEMM operators must
    automatically re-route to the LSH-bucketed plan: an Exchange appears
    (groupBy bucket), results keep the schema, and near-dup pairs become
    a subset of the exact pairs (bucketing only removes candidates)."""
    from parquet_go_spark.operators import similarity as sim

    exact_pairs = sim.embedding_near_dup_query(spark, SF).toPandas()
    old = sim.INDEX_CAP_BYTES
    sim.INDEX_CAP_BYTES = 0
    try:
        topk = sim.cosine_topk_query(spark, SF, k=3)
        plan = topk._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan  # bucketed path shuffles on bucket id
        got = topk.toPandas()
        assert set(got.columns) == {"vec_id", "neighbor_id", "rank"}
        assert got.groupby("vec_id")["rank"].max().max() <= 3
        lsh_pairs = sim.embedding_near_dup_query(spark, SF).toPandas()
    finally:
        sim.INDEX_CAP_BYTES = old
    ex = set(zip(exact_pairs.vec_a, exact_pairs.vec_b))
    ap = set(zip(lsh_pairs.vec_a, lsh_pairs.vec_b))
    assert ap <= ex and len(ap) > 0
    # below the cap the exact path must stay shuffle-free
    exact_topk = sim.cosine_topk_query(spark, SF, k=3)
    plan = exact_topk._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_page_index_point_lookup_decodes_one_page(spark, tmp_out):
    """A point range on a sorted, paged store must decode only the
    intersecting page frame(s) of a multi-frame chunk — intra-chunk
    skipping, not just partition pruning."""
    import json

    from parquet_go_spark import chunk as chunkmod
    from parquet_go_spark.operators import pruned

    df = spark.read.parquet(f"{SF}/orders.parquet")
    store = pruned.encode_generic(
        spark, df, tmp_out, key_col="o_orderkey", clustering="range",
        num_parts=2, page_rows=200, sort_within=True,
    )
    # manifest page index exists and is ASC on the sorted key
    meta = (
        store.manifest(spark)
        .filter(F.col("col") == "o_orderkey")
        .select("part_id", "boundary_order", "pages")
        .collect()
    )
    assert all(r["boundary_order"] == "ASC" for r in meta)
    n_pages = {r["part_id"]: len(json.loads(r["pages"])) for r in meta}
    assert max(n_pages.values()) > 1, "store must be multi-page"
    # point lookup: a single key hits exactly one page of one partition
    key = int(df.agg(F.min("o_orderkey")).collect()[0][0])
    pmap = pruned.page_candidates(spark, store, "o_orderkey", key, key)
    touched = {pid: pages for pid, pages in pmap.items() if pages}
    assert sum(len(p) for p in touched.values()) == 1, touched
    # and the page subset decodes to exactly the right rows
    cols = df.columns
    schema, atypes = pruned._schema_of(df, cols)
    dec = pruned._decode_parts_pages(spark, store, pmap, cols, schema, atypes)
    got = dec.filter(F.col("o_orderkey") == key).count()
    want = df.filter(F.col("o_orderkey") == key).count()
    assert got == want > 0
    # kernel-level: the kept page really is the only frame decoded
    blob_row = (
        store.blobs(spark)
        .filter((F.col("col") == "o_orderkey")
                & (F.col("part_id").isin(list(touched))))
        .select("blob").collect()[0]
    )
    counts = chunkmod.page_counts(bytes(blob_row["blob"]))
    assert counts is not None and len(counts) > 1


def test_auto_candidates_needs_no_caller_clustering(spark, tmp_out, tmp_path):
    """The caller never says how a store was clustered: the same
    ``_candidate_parts`` call prunes a range store by stats and stays
    exact on a hash store with blooms."""
    from parquet_go_spark.operators import pruned

    df = spark.read.parquet(f"{SF}/orders.parquet")
    range_store = pruned.encode_generic(
        spark, df, tmp_out, key_col="o_orderkey", clustering="range",
        num_parts=16,
    )
    total = range_store.completed_partitions(spark).count()
    cand = _candidate_parts(range_store.out_dir,
                            pruned._between("o_orderkey", 1_000, 5_000))
    assert 0 < len(cand) < total

    hash_dir = str(tmp_path / "hash_store")
    hash_store = pruned.encode_generic(
        spark, df, hash_dir, key_col="o_custkey", clustering="hash",
        num_parts=16, bloom_cols={"o_custkey"},
    )
    cand2 = _candidate_parts(hash_store.out_dir,
                             [In(("o_custkey",), (7, 13))])
    got = (
        pruned._decode_parts(
            spark, hash_store, cand2, df.columns,
            *pruned._schema_of(df, df.columns),
        )
        .filter(F.col("o_custkey").isin([7, 13]))
        .count()
    )
    assert got == df.filter(F.col("o_custkey").isin([7, 13])).count()


def test_page_candidates_jvm_planning_scales(spark):
    """page_candidates runs the per-page interval intersection as a JVM
    higher-order expression (r4 verdict #6): on a 10k-partition synthetic
    manifest (~32 pages each) the keep-lists must match a pure-Python
    replay exactly, with the driver collecting only (part_id, ordinals)."""
    import json as _json
    import time as _time

    from parquet_go_spark.operators import pruned

    n_parts, n_pages = 10_000, 32

    def pages_json(pid):
        out = []
        for i in range(n_pages):
            lo = pid * n_pages + i * 10
            out.append({"r": i * 100, "n": 100,
                        "lo": str(float(lo)), "hi": str(float(lo + 9))})
        if pid % 997 == 0:          # absent bounds must keep the page
            out[3]["lo"] = None
        return _json.dumps(out, separators=(",", ":"))

    rows = [(pid, "k", pages_json(pid)) for pid in range(n_parts)]
    mdf = spark.createDataFrame(rows, "part_id int, col string, pages string")

    class _FakeStore:
        def manifest(self, s):
            return mdf

    lo, hi = 5_000.0, 900_000.0
    t0 = _time.time()
    pmap = pruned.page_candidates(spark, _FakeStore(), "k", lo, hi)
    wall = _time.time() - t0
    assert len(pmap) == n_parts

    def py_keep(pid):
        keep = []
        for i, p in enumerate(_json.loads(pages_json(pid))):
            if p["lo"] is None or p["hi"] is None:
                keep.append(i)
            elif not (float(p["hi"]) < lo or float(p["lo"]) > hi):
                keep.append(i)
        return keep

    for pid in (0, 1, 15, 997, 2812, 5000, 9999):
        assert pmap[pid] == py_keep(pid), pid
    # planning is one Catalyst job over 320k page entries; generous cap
    # for a throttled host (steady-state is well under a second)
    assert wall < 30.0, wall
