"""format("pgs") Python Data Source: read/write/pushdown through Spark's
native DataFrame reader/writer API (the reference's NewParquetReader /
NewParquetWriter lifecycle, reader/reader.go:27-113, writer/writer.go, as a
Spark source)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql.datasource import (
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThanOrEqual,
    StringStartsWith,
)

from parquet_go_spark.operators.pruned import encode_generic
from parquet_go_spark.sources.pgs_datasource import (
    PGSPruningReader,
    PGSReader,
    _candidate_parts,
    register,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def orders(spark):
    register(spark)
    return spark.read.parquet(f"{SF_DIR}/orders.parquet")


@pytest.fixture(scope="module")
def range_store(spark, orders, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ds") / "range_store")
    encode_generic(
        spark, orders, out, key_col="o_orderkey", clustering="range",
        num_parts=8, bloom_cols={"o_custkey"},
    )
    return out


@pytest.fixture(scope="module")
def hash_store(spark, orders, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ds") / "hash_store")
    encode_generic(
        spark, orders, out, key_col="o_orderkey", clustering="hash",
        num_parts=16, bloom_cols={"o_orderkey"},
    )
    return out


def _sorted_pdf(df, cols=None):
    pdf = df.toPandas().sort_values("o_orderkey").reset_index(drop=True)
    return pdf[cols] if cols else pdf


def test_read_roundtrip(spark, orders, range_store):
    back = spark.read.format("pgs").load(range_store)
    assert set(back.columns) == set(orders.columns)
    a = _sorted_pdf(orders)
    b = _sorted_pdf(back, list(a.columns))
    assert a.equals(b)


def test_read_projection(spark, orders, range_store):
    proj = (
        spark.read.format("pgs")
        .option("columns", "o_orderkey,o_totalprice")
        .load(range_store)
    )
    assert proj.columns == ["o_orderkey", "o_totalprice"]
    a = _sorted_pdf(orders.select("o_orderkey", "o_totalprice"))
    assert a.equals(_sorted_pdf(proj))
    # explicit user schema is the other projection path
    proj2 = (
        spark.read.format("pgs")
        .schema("o_orderkey bigint, o_orderstatus string")
        .load(range_store)
    )
    assert proj2.columns == ["o_orderkey", "o_orderstatus"]
    assert proj2.count() == orders.count()

    with pytest.raises(Exception, match="not in store schema"):
        spark.read.format("pgs").option("columns", "nope").load(
            range_store
        ).count()


def test_schema_inference_without_recorded_schema(spark, orders, range_store):
    legacy = range_store + "_legacy"
    shutil.rmtree(legacy, ignore_errors=True)
    shutil.copytree(range_store, legacy)
    mp = os.path.join(legacy, "_store_meta.json")
    meta = json.load(open(mp))
    del meta["schema_json"]
    json.dump(meta, open(mp, "w"))
    back = spark.read.format("pgs").load(legacy)
    assert set(back.columns) == set(orders.columns)
    assert back.count() == orders.count()


def test_filter_pushdown_prunes_range(spark, orders, range_store):
    back = spark.read.format("pgs").load(range_store)
    # reader-level: a narrow range keeps a strict subset of partitions
    r = PGSPruningReader(range_store, back.schema, {})
    leftover = list(r.pushFilters([
        GreaterThanOrEqual(("o_orderkey",), 100),
        LessThanOrEqual(("o_orderkey",), 300),
    ]))
    assert len(leftover) == 2  # advisory pruning: Spark re-filters exactly
    assert 1 <= len(r.partitions()) < 8
    # end-to-end: result matches the plain-parquet answer
    got = back.filter(
        (back.o_orderkey >= 100) & (back.o_orderkey <= 300)
    ).count()
    want = orders.filter(
        (orders.o_orderkey >= 100) & (orders.o_orderkey <= 300)
    ).count()
    assert got == want > 0


def test_filter_pushdown_bloom_point(spark, orders, hash_store):
    back = spark.read.format("pgs").load(hash_store)
    r = PGSPruningReader(hash_store, back.schema, {})
    r.pushFilters([EqualTo(("o_orderkey",), 777)])
    # one bloom hit (plus any false positives) out of 16 hash partitions
    assert len(r.partitions()) < 16
    got = back.filter(back.o_orderkey == 777).count()
    assert got == orders.filter(orders.o_orderkey == 777).count() == 1


def test_pushdown_safety_wide_and_unsupported(range_store, spark, orders):
    back = spark.read.format("pgs").load(range_store)
    # stats cannot prune a full-range predicate; result is still exact
    parts = _candidate_parts(range_store, [GreaterThan(("o_orderkey",), -1)])
    assert len(parts) == 8
    # IsNotNull on a never-null column prunes nothing, breaks nothing
    parts = _candidate_parts(range_store, [IsNotNull(("o_orderkey",))])
    assert len(parts) == 8
    # In-list on an unclustered string column: bounds still sound
    got = back.filter(back.o_orderstatus.isin(["F"])).count()
    assert got == orders.filter(orders.o_orderstatus.isin(["F"])).count()


def test_zorder_store_pushdown_both_columns(spark, orders, tmp_path):
    """The pgs reader's per-column stats pruning gets multi-dimensional
    pruning on a z-order store for free: filters on EITHER Morton column
    shrink the partition list, the conjunction intersects them, and the
    answer stays exact."""
    out = str(tmp_path / "z")
    encode_generic(
        spark, orders, out, key_col="o_orderkey", clustering="zorder",
        zorder_cols=["o_orderkey", "o_custkey"], num_parts=32,
    )
    total = len(_candidate_parts(out, []))
    ca = _candidate_parts(out, [GreaterThanOrEqual(("o_orderkey",), 100),
                                LessThanOrEqual(("o_orderkey",), 300)])
    cb = _candidate_parts(out, [GreaterThanOrEqual(("o_custkey",), 10),
                                LessThanOrEqual(("o_custkey",), 40)])
    both = _candidate_parts(out, [GreaterThanOrEqual(("o_orderkey",), 100),
                                  LessThanOrEqual(("o_orderkey",), 300),
                                  GreaterThanOrEqual(("o_custkey",), 10),
                                  LessThanOrEqual(("o_custkey",), 40)])
    assert 0 < len(ca) < total and 0 < len(cb) < total
    assert set(both) <= (set(ca) & set(cb))
    box = ("o_orderkey >= 100 AND o_orderkey <= 300 "
           "AND o_custkey >= 10 AND o_custkey <= 40")
    got = spark.read.format("pgs").load(out).filter(box).count()
    assert got == orders.filter(box).count() > 0


def test_generation_commit_atomicity(spark, orders, tmp_path):
    """The meta write is the batch writer's commit point: token-named
    part files whose generation never reached ``generations`` (a commit
    that crashed between renames and the meta write) stay invisible to
    reads, appends, and part-id offsetting — a crashed overwrite leaves
    exactly the previous store state, never a mixed one."""
    from parquet_go_spark.sources.pgs_datasource import _committed_files

    out = str(tmp_path / "gen")
    orders.limit(100).repartition(2).write.format("pgs").mode(
        "overwrite"
    ).save(out)
    meta = json.load(open(os.path.join(out, "_store_meta.json")))
    assert meta["generations_strict"] and len(meta["generations"]) == 1

    # simulate the crash window: a foreign generation's file renamed in,
    # meta never updated — it must not shadow part 0 or join the scan
    bdir = os.path.join(out, "blobs")
    real = next(f for f in os.listdir(bdir) if not f.startswith("_"))
    shutil.copy(os.path.join(bdir, real),
                os.path.join(bdir, "part-00000-deadbeefcafe.parquet"))
    assert not any("deadbeefcafe" in f for f in _committed_files(out))
    assert spark.read.format("pgs").load(out).count() == 100

    # append commits a second generation; the ghost stays dead and the
    # new parts offset past the committed ids only
    orders.limit(7).repartition(1).write.format("pgs").mode(
        "append"
    ).save(out)
    meta = json.load(open(os.path.join(out, "_store_meta.json")))
    assert len(meta["generations"]) == 2 and meta["num_parts"] == 3
    assert spark.read.format("pgs").load(out).count() == 107
    assert not any("deadbeefcafe" in f for f in _committed_files(out))

    # sweep removes exactly the dead generation's file, nothing visible
    from parquet_go_spark.sources.pgs_datasource import sweep_store

    removed = sweep_store(out)
    assert removed == ["part-00000-deadbeefcafe.parquet"]
    assert spark.read.format("pgs").load(out).count() == 107


def test_pushdown_nonfinite_lossless(spark, tmp_path):
    """Spark compares NaN greater than every double and ±inf in-band, so
    chunk stats fold the same total order: a range filter must never
    prune the partition whose only matching rows are inf or NaN. Two
    single-partition appends pin the partition layout."""
    register(spark)
    out = str(tmp_path / "nonfinite")
    spark.createDataFrame(
        [(1, 0.5), (2, float("inf"))], "id int, v double"
    ).coalesce(1).write.format("pgs").mode("overwrite").save(out)
    spark.createDataFrame(
        [(3, float("nan")), (4, 0.1)], "id int, v double"
    ).coalesce(1).write.format("pgs").mode("append").save(out)

    back = spark.read.format("pgs").load(out)
    # under Spark semantics v > 5.0 matches inf AND NaN; with the old
    # finite-only stats both partitions' vmax read 0.5/0.1 -> both pruned
    assert sorted(r["id"] for r in back.filter("v > 5.0").collect()) == [2, 3]
    assert sorted(r["id"] for r in back.filter("v < 1.0").collect()) == [1, 4]
    # point lookups on the non-finite values themselves
    assert [r["id"] for r in back.filter("v = double('Infinity')").collect()] == [2]
    assert sorted(r["id"] for r in back.filter("v >= 0.0").collect()) == [1, 2, 3, 4]

    # paged store, pushdown ON: the page-stat fold must pin NaN into the
    # chunk-level vmax too (a plain max() fold dropped it) — v > 5.0
    # must still see the NaN row through partition pruning
    out2 = str(tmp_path / "nonfinite_paged")
    spark.createDataFrame(
        [(i, float("nan") if i == 20 else float(i)) for i in range(32)],
        "id int, v double",
    ).coalesce(1).write.format("pgs").mode("overwrite") \
        .option("page_rows", "16").save(out2)
    got = spark.read.format("pgs").option("pushdown", "true").load(out2) \
        .filter("v > 100.0").collect()
    assert [r["id"] for r in got] == [20]


def test_part_file_map_narrows_task_reads(spark, orders, tmp_out):
    """Planning maps each part_id to the blob files whose row-group stats
    can hold it, so a task never lists the directory or reads foreign
    footers — one file per part on a freshly written store."""
    from parquet_go_spark.sources.pgs_datasource import _part_file_map

    orders.repartition(4).write.format("pgs").mode("overwrite").save(tmp_out)
    orders.limit(50).repartition(2).write.format("pgs").mode("append").save(
        tmp_out
    )
    nfiles = len(
        [f for f in os.listdir(os.path.join(tmp_out, "blobs"))
         if not f.startswith("_")]
    )
    assert nfiles == 6
    fm = _part_file_map(tmp_out, list(range(6)))
    assert all(len(fs) == 1 for fs in fm.values())
    # and the narrowed read is still exact
    assert spark.read.format("pgs").load(tmp_out).count() == orders.count() + 50


def test_page_pruned_read(spark, orders, tmp_path):
    """Paged + sorted-within store: a narrow range decodes only the
    intersecting pages of surviving partitions (ColumnIndex read through
    the native source), and the answer stays exact."""
    out = str(tmp_path / "paged")
    encode_generic(
        spark, orders, out, key_col="o_orderkey", clustering="range",
        num_parts=4, page_rows=64, sort_within=True,
    )
    back = spark.read.format("pgs").load(out)
    lo, hi = 100, 300
    got = back.filter((back.o_orderkey >= lo) & (back.o_orderkey <= hi))
    want = orders.filter(
        (orders.o_orderkey >= lo) & (orders.o_orderkey <= hi)
    )
    a = _sorted_pdf(want)
    assert a.equals(_sorted_pdf(got, list(a.columns)))
    # reader-level: the surviving partition carries a proper page subset
    r = PGSPruningReader(out, back.schema, {})
    r.pushFilters([
        GreaterThanOrEqual(("o_orderkey",), lo),
        LessThanOrEqual(("o_orderkey",), hi),
    ])
    parts = r.partitions()
    keeps = [p.value[2] for p in parts if p.value is not None]
    assert any(k is not None and 0 < len(k) for k in keeps)


def test_pgs_scan_plan_shape(spark, range_store):
    """The filtered read plans as a bare BatchScan with a codegen'd exact
    Filter above it — no exchange, no Python row fallback."""
    back = spark.read.format("pgs").load(range_store)
    plan = (
        back.filter((back.o_orderkey >= 100) & (back.o_orderkey <= 300))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchScan pgs" in plan
    assert "Exchange" not in plan
    # "*(n)" prefixes are the whole-stage-codegen markers
    assert "*(1) Filter" in plan


def test_pushdown_empty_result(spark, range_store):
    back = spark.read.format("pgs").load(range_store)
    assert back.filter(back.o_orderkey > 10**9).count() == 0


def test_review_findings_regressions(spark, orders, tmp_path):
    """Pins the code-review fixes: empty stores read/append cleanly,
    non-finite filter values never prune, batch/stream mixing and
    layout-flipping appends are rejected."""
    from parquet_go_spark.sources.pgs_datasource import _manifest_keep

    # non-finite filter values prune EXACTLY under the engine total
    # order (stats keep ±inf in-band and pin NaN as greatest): a finite
    # [1, 2] chunk cannot hold inf, nor anything > NaN
    assert not _manifest_keep(EqualTo(("c",), float("inf")), "1.0", "2.0")
    assert not _manifest_keep(GreaterThan(("c",), float("nan")),
                              "1.0", "2.0")
    # an In-list drops the chunk when none of its values is in bounds
    # (the envelope [0.5, inf] covers [1, 2], no value does)
    assert not _manifest_keep(In(("c",), (0.5, float("inf"))), "1.0", "2.0")
    # and non-finite BOUNDS keep what Spark semantics can match
    assert _manifest_keep(GreaterThan(("c",), 5.0), "1.0", "nan")
    assert _manifest_keep(GreaterThan(("c",), float("inf")), "1.0", "nan")
    assert _manifest_keep(EqualTo(("c",), float("nan")), "nan", "nan")
    assert not _manifest_keep(LessThanOrEqual(("c",), 9e99), "nan", "nan")
    assert _manifest_keep(LessThanOrEqual(("c",), -9e99), "-inf", "2.0")

    # an empty dataframe commits a store that reads back as 0 rows and
    # accepts a later append starting at part 0
    out = str(tmp_path / "empty")
    empty = orders.limit(0).repartition(2)
    empty.write.format("pgs").mode("overwrite").save(out)
    assert spark.read.format("pgs").load(out).count() == 0
    orders.limit(5).repartition(1).write.format("pgs").mode("append").save(
        out
    )
    assert spark.read.format("pgs").load(out).count() == 5

    # stream store rejects batch appends; batch store rejects streaming
    sout = str(tmp_path / "stream")
    orders.limit(20).repartition(1).write.parquet(str(tmp_path / "in"))
    q = (
        spark.readStream.schema(orders.schema)
        .parquet(str(tmp_path / "in"))
        .writeStream.format("pgs")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start(sout)
    )
    q.awaitTermination(240)
    with pytest.raises(Exception, match="part-id namespace"):
        orders.limit(5).write.format("pgs").mode("append").save(sout)

    # appends that flip the recorded layout are rejected
    bout = str(tmp_path / "batch")
    orders.repartition(2).write.format("pgs").mode("overwrite").option(
        "bloom_cols", "o_custkey"
    ).save(bout)
    with pytest.raises(Exception, match="recorded layout"):
        orders.limit(5).write.format("pgs").mode("append").save(bout)
    # matching layout still appends
    orders.limit(5).repartition(1).write.format("pgs").mode(
        "append"
    ).option("bloom_cols", "o_custkey").save(bout)
    assert (
        spark.read.format("pgs").load(bout).count() == orders.count() + 5
    )

    # bloom_cols with spaces still builds (and typos are rejected)
    sp = str(tmp_path / "spaces")
    orders.repartition(1).write.format("pgs").mode("overwrite").option(
        "bloom_cols", "o_custkey, o_orderkey"
    ).save(sp)
    meta = json.load(open(os.path.join(sp, "_store_meta.json")))
    assert meta["bloom_cols"] == ["o_custkey", "o_orderkey"]
    with pytest.raises(Exception, match="bloom_cols not in schema"):
        orders.write.format("pgs").mode("overwrite").option(
            "bloom_cols", "nope"
        ).save(str(tmp_path / "x"))


def test_stats_keep_comparators():
    """The driver-side pruning comparators: parse in the filter value's
    domain, never prune on unparseable/absent bounds, exact int compare
    beyond double precision."""
    from parquet_go_spark.sources.pgs_datasource import (
        _coerce,
        _manifest_keep,
    )
    from pyspark.sql.datasource import LessThan

    big = (1 << 60) + 1
    assert _coerce(str(big), 0) == big            # exact int64, no float loss
    assert _coerce("7.5", 0) == 7.5               # float stats, int filter
    assert _coerce("", 0) is None                 # missing bound
    assert _coerce("x", 0) is None                # garbage -> no pruning
    assert _coerce("True", True) is None          # booleans never prune

    # exact boundary: [big, big+2] must keep EqualTo(big+1) but a double
    # comparison would collapse all three values
    assert _manifest_keep(EqualTo(("c",), big + 1), str(big), str(big + 2))
    assert not _manifest_keep(EqualTo(("c",), big + 5),
                              str(big), str(big + 2))
    # one-sided ranges
    assert _manifest_keep(GreaterThanOrEqual(("c",), 20), "10", "20")
    assert not _manifest_keep(GreaterThan(("c",), 20), "10", "20")
    assert not _manifest_keep(LessThan(("c",), 10), "10", "20")
    # string bounds compare lexicographically (truncation only widens)
    assert _manifest_keep(EqualTo(("c",), "banana"), "apple", "mango")
    assert not _manifest_keep(EqualTo(("c",), "zebra"), "apple", "mango")
    # an In-list keeps the chunk when one of its values is in bounds
    assert _manifest_keep(In(("c",), (1, 15)), "10", "20")
    assert not _manifest_keep(In(("c",), (1, 5)), "10", "20")
    # unparseable bounds keep the partition
    assert _manifest_keep(EqualTo(("c",), 5), "", "")


def test_writer_roundtrip_and_append(spark, orders, tmp_out):
    (
        orders.repartition(4)
        .write.format("pgs")
        .mode("overwrite")
        .option("bloom_cols", "o_custkey")
        .save(tmp_out)
    )
    back = spark.read.format("pgs").load(tmp_out)
    a = _sorted_pdf(orders)
    assert a.equals(_sorted_pdf(back, list(a.columns)))
    meta = json.load(open(os.path.join(tmp_out, "_store_meta.json")))
    assert meta["num_parts"] == 4
    assert meta["bloom_cols"] == ["o_custkey"]
    assert meta["clustering"] == "upstream"

    # append offsets part ids past the committed range — no collisions
    # (layout options must match the store's recorded policy)
    orders.limit(100).repartition(2).write.format("pgs").mode(
        "append"
    ).option("bloom_cols", "o_custkey").save(tmp_out)
    again = spark.read.format("pgs").load(tmp_out)
    assert again.count() == orders.count() + 100
    meta = json.load(open(os.path.join(tmp_out, "_store_meta.json")))
    assert meta["num_parts"] == 6


def test_typed_roundtrip_nested_decimal_ts(spark, tmp_out):
    """list / struct / map / decimal / timestamp through the native
    writer and reader — nested nullability differences must not break
    the arrow cast back to Spark's expected schema."""
    from pyspark.sql import functions as F

    df = (
        spark.range(300)
        .withColumn("arr", F.array(F.col("id").cast("int"),
                                   (F.col("id") + 1).cast("int")))
        .withColumn("st", F.struct(F.col("id").alias("a"),
                                   (F.col("id") % 7).cast("string").alias("b")))
        .withColumn("mp", F.create_map(F.lit("k"), F.col("id").cast("double")))
        .withColumn("dec", (F.col("id") / 100).cast("decimal(9,2)"))
        .withColumn("ts", F.timestamp_seconds(F.col("id") * 1000))
        .withColumnRenamed("id", "pk")
    )
    df.repartition(3).write.format("pgs").mode("overwrite").save(tmp_out)
    back = spark.read.format("pgs").load(tmp_out)
    assert back.schema == df.schema
    a = df.orderBy("pk").toPandas()
    b = back.orderBy("pk").toPandas().reset_index(drop=True)
    assert all(
        a[c].astype(str).equals(b[c].astype(str)) for c in a.columns
    )


def test_writer_empty_partitions(spark, tmp_out):
    df = spark.range(3).withColumnRenamed("id", "v").repartition(10)
    df.write.format("pgs").mode("overwrite").save(tmp_out)
    assert spark.read.format("pgs").load(tmp_out).count() == 3


def test_writer_reserved_part_id(spark, orders, tmp_out):
    bad = orders.withColumnRenamed("o_orderkey", "part_id")
    with pytest.raises(Exception, match="reserved"):
        bad.write.format("pgs").mode("overwrite").save(tmp_out)


def test_streaming_sink_exactly_once(spark, orders, tmp_path):
    indir = str(tmp_path / "in")
    out = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    orders.limit(800).write.parquet(indir)

    def drain():
        q = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(indir)
            .writeStream.format("pgs")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(out)
        )
        q.awaitTermination(240)

    drain()
    assert spark.read.format("pgs").load(out).count() == 800
    # second wave through the SAME checkpoint: only the new files land,
    # part ids never collide (batch_id * STRIDE + task namespace)
    orders.subtract(orders.limit(800)).write.mode("append").parquet(indir)
    drain()
    back = spark.read.format("pgs").load(out)
    a = _sorted_pdf(orders)
    assert a.equals(_sorted_pdf(back, list(a.columns)))
    meta = json.load(open(os.path.join(out, "_store_meta.json")))
    assert meta["clustering"] == "stream_append"
    assert meta["last_committed_batch"] >= 1
    # replaying a drained stream is a no-op (idempotent commit)
    drain()
    assert spark.read.format("pgs").load(out).count() == orders.count()


def test_append_schema_mismatch_rejected(spark, orders, tmp_out):
    orders.repartition(2).write.format("pgs").mode("overwrite").save(tmp_out)
    with pytest.raises(Exception, match="does not match"):
        orders.select("o_orderkey").write.format("pgs").mode(
            "append"
        ).save(tmp_out)
    # matching schema still appends
    orders.limit(10).repartition(1).write.format("pgs").mode("append").save(
        tmp_out
    )
    assert spark.read.format("pgs").load(tmp_out).count() == orders.count() + 10


def test_stream_then_compact_then_read(spark, orders, tmp_path):
    """Maintenance loop across surfaces: many small streamed partitions,
    compacted into target-sized ones, read back through the source."""
    from parquet_go_spark.operators.compact import compact_store

    indir = str(tmp_path / "in")
    out = str(tmp_path / "store")
    compacted = str(tmp_path / "compacted")
    orders.repartition(6).write.parquet(indir)
    q = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
        .writeStream.format("pgs")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(240)
    src_parts = json.load(open(os.path.join(out, "_store_meta.json")))[
        "num_parts"
    ]
    assert src_parts >= 6  # one per micro-batch task
    summary = compact_store(spark, out, compacted, target_raw=1 << 30)
    assert summary["dst_parts"] < src_parts
    back = spark.read.format("pgs").load(compacted)
    a = _sorted_pdf(orders)
    assert a.equals(_sorted_pdf(back, list(a.columns)))
    # compaction rebased the part ids, so the batch namespace is gone:
    # the store stops being a streaming sink target and rejects as_of
    meta = json.load(open(os.path.join(compacted, "_store_meta.json")))
    assert meta["clustering"] == "compacted"
    assert "last_committed_batch" not in meta
    with pytest.raises(Exception, match="as_of_batch"):
        spark.read.format("pgs").option("as_of_batch", 0).load(
            compacted
        ).count()


def test_streaming_sink_rejects_overwrite(spark, orders, tmp_path):
    from parquet_go_spark.sources.pgs_datasource import PGSStreamWriter

    with pytest.raises(ValueError, match="append-only"):
        PGSStreamWriter(str(tmp_path / "s"), orders.schema, True, {})


def test_stream_as_of_batch_snapshot_read(spark, orders, tmp_path):
    """Snapshot reads on stream stores: part ids encode the micro-batch,
    so as_of_batch is a pure metadata filter."""
    indir = str(tmp_path / "in")
    out = str(tmp_path / "store")
    orders.limit(800).repartition(1).write.parquet(indir)
    orders.subtract(orders.limit(800)).repartition(1).write.mode(
        "append"
    ).parquet(indir)
    q = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
        .writeStream.format("pgs")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(240)
    total = orders.count()
    full = spark.read.format("pgs").load(out)
    assert full.count() == total
    last = json.load(open(os.path.join(out, "_store_meta.json")))[
        "last_committed_batch"
    ]
    assert last >= 1
    at0 = (
        spark.read.format("pgs").option("as_of_batch", 0).load(out).count()
    )
    assert 0 < at0 < total
    at_last = (
        spark.read.format("pgs")
        .option("as_of_batch", last)
        .load(out)
        .count()
    )
    assert at_last == total
    # a snapshot beyond the watermark would expose the crash window the
    # cap hides (renamed-but-uncommitted parts) — refuse it
    with pytest.raises(Exception, match="beyond the last committed"):
        spark.read.format("pgs").option(
            "as_of_batch", last + 1
        ).load(out).count()
    # batch-written stores reject the option
    bout = str(tmp_path / "batch_store")
    orders.repartition(2).write.format("pgs").mode("overwrite").save(bout)
    with pytest.raises(Exception, match="as_of_batch"):
        spark.read.format("pgs").option("as_of_batch", 0).load(bout).count()


def test_stream_commit_replay_is_idempotent(tmp_path):
    """Replaying a batch whose rename half-finished (crash between
    renames and the meta write) must converge: deterministic final
    names + the last-committed-batch watermark."""
    from pyspark.sql.types import LongType, StructField, StructType

    from parquet_go_spark.sources.pgs_datasource import (
        PGSCommitMessage,
        PGSStreamWriter,
    )

    out = str(tmp_path / "s")
    schema = StructType([StructField("v", LongType())])
    w = PGSStreamWriter(out, schema, False, {})
    # constructing the sink bootstraps the stream namespace BEFORE any
    # batch can rename files in: a crash inside the very first commit is
    # already capped by the -1 watermark instead of read as committed
    meta = json.load(open(os.path.join(out, "_store_meta.json")))
    assert meta["clustering"] == "stream_append"
    assert meta["last_committed_batch"] == -1
    bdir = os.path.join(out, "blobs")
    os.makedirs(bdir)

    def fake_batch(batch_id, parts):
        msgs = []
        for pid in parts:
            tmp = f"_tmp-s{batch_id}-{pid}-0.parquet"
            open(os.path.join(bdir, tmp), "wb").write(b"x")
            msgs.append(PGSCommitMessage(part_id=pid, rows=1, tmp_name=tmp))
        return msgs

    msgs = fake_batch(0, [0, 1])
    # crash mid-commit: only part 0 got renamed, meta never written
    os.replace(os.path.join(bdir, msgs[0].tmp_name),
               os.path.join(bdir, "part-0000000-b0.parquet"))
    # replay: tasks rewrite tmp files, commit renames all + writes meta
    msgs = fake_batch(0, [0, 1])
    w.commit(msgs, 0)
    files = sorted(f for f in os.listdir(bdir) if not f.startswith("_"))
    assert files == ["part-0000000-b0.parquet", "part-0000001-b0.parquet"]
    meta = json.load(open(os.path.join(out, "_store_meta.json")))
    assert meta["last_committed_batch"] == 0 and meta["num_parts"] == 2

    # a second replay AFTER the meta write is a pure no-op
    msgs = fake_batch(0, [0, 1])
    w.commit(msgs, 0)
    meta = json.load(open(os.path.join(out, "_store_meta.json")))
    assert meta["num_parts"] == 2
    assert not [f for f in os.listdir(bdir) if f.startswith("_tmp-")]

    # abort drops the batch's tmp files and nothing else
    msgs = fake_batch(1, [4096])
    w.abort(msgs, 1)
    assert not [f for f in os.listdir(bdir) if f.startswith("_tmp-s1-")]
    assert len([f for f in os.listdir(bdir) if not f.startswith("_")]) == 2


def test_encrypted_store_via_options(spark, orders, tmp_out):
    key = bytes(range(32)).hex()
    (
        orders.select("o_orderkey", "o_totalprice")
        .repartition(2)
        .write.format("pgs")
        .mode("overwrite")
        .option("key_hex", key)
        .save(tmp_out)
    )
    back = (
        spark.read.format("pgs").option("key_hex", key).load(tmp_out)
    )
    a = _sorted_pdf(orders.select("o_orderkey", "o_totalprice"))
    assert a.equals(_sorted_pdf(back))
    # keyless read must fail loudly, never return garbage
    with pytest.raises(Exception):
        spark.read.format("pgs").load(tmp_out).count()


def test_read_write_options_aad_and_crc(spark, orders, tmp_out):
    """aad_prefix_hex binds the sealed store to external bytes; crc_mode
    is accepted on reads (reference WithAADPrefix / WithCRCMode)."""
    key = bytes(range(16)).hex()
    prefix = b"tenant-7".hex()
    (
        orders.select("o_orderkey", "o_totalprice")
        .repartition(2)
        .write.format("pgs")
        .mode("overwrite")
        .option("key_hex", key)
        .option("aad_prefix_hex", prefix)
        .save(tmp_out)
    )
    from parquet_go_spark.sources.pgs_datasource import _meta

    assert _meta(tmp_out)["aad_bound"] is True
    back = (
        spark.read.format("pgs")
        .option("key_hex", key)
        .option("aad_prefix_hex", prefix)
        .option("crc_mode", "ignore")
        .load(tmp_out)
    )
    a = _sorted_pdf(orders.select("o_orderkey", "o_totalprice"))
    assert a.equals(_sorted_pdf(back))
    # right key, missing prefix -> authentication failure
    with pytest.raises(Exception):
        spark.read.format("pgs").option("key_hex", key).load(tmp_out).count()
    # bad crc_mode rejected at plan time
    with pytest.raises(Exception, match="crc_mode"):
        spark.read.format("pgs").option("key_hex", key) \
            .option("aad_prefix_hex", prefix) \
            .option("crc_mode", "never").load(tmp_out).count()


def test_shredded_variant_store(spark, tmp_out):
    """shred_variant write option: typed chunks in the manifest, residual
    for type-mismatched rows, transparent reconstruction on read
    (reference marshal/variant_reconstruct.go)."""
    from pyspark.sql import functions as F

    register(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    nc = F.col("n_chars").cast("string")
    j = F.concat(
        F.lit('{"lang": "'), F.col("lang"),
        F.lit('", "n_chars": '),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit('"'), nc, F.lit('"'))).otherwise(nc),
        F.lit(', "source": "'), F.col("source"), F.lit('"}'),
    )
    df = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.lit(None))
        .otherwise(F.parse_json(j)).alias("v"),
    )
    (
        df.repartition(2).write.format("pgs").mode("overwrite")
        .option("shred_variant", "v:lang=string,n_chars=int")
        .save(tmp_out)
    )
    from parquet_go_spark.sources.pgs_datasource import _meta

    assert _meta(tmp_out)["shredded"] == {
        "v": {"lang": "string", "n_chars": "int"}
    }
    # the variant column is stored as typed component chunks, never as
    # an opaque 'v' chunk
    import pyarrow.dataset as pads

    from parquet_go_spark.sources.pgs_datasource import _committed_files

    cols = set(
        pads.dataset(_committed_files(tmp_out), format="parquet")
        .to_table(columns=["col"]).column("col").to_pylist()
    )
    assert "v" not in cols
    assert {"v.metadata", "v.value", "v.typed_value.lang",
            "v.typed_value.n_chars"} <= cols

    back = spark.read.format("pgs").load(tmp_out)
    got = back.select(
        "doc_id",
        F.variant_get("v", "$.lang", "string").alias("lang"),
        F.variant_get("v", "$.n_chars", "int").alias("n_chars"),
        F.variant_get("v", "$.source", "string").alias("source"),
        F.isnull("v").alias("v_null"),
    )
    expect = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.lit(None))
        .otherwise(F.col("lang")).alias("lang"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(None))
        .otherwise(F.col("n_chars").cast("int")).alias("n_chars"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(None))
        .otherwise(F.col("source")).alias("source"),
        (F.col("doc_id") % 11 == 0).alias("v_null"),
    )
    a = got.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = expect.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b[a.columns])
    # projecting only the scalar column never touches variant chunks
    assert back.select("doc_id").count() == docs.count()


def test_shredded_variant_append_guard(spark, tmp_out):
    from pyspark.sql import functions as F

    register(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = docs.select(
        "doc_id", F.parse_json(F.lit('{"lang": "en"}')).alias("v")
    )
    (
        df.write.format("pgs").mode("overwrite")
        .option("shred_variant", "v:lang=string").save(tmp_out)
    )
    # append without the matching shred layout must be rejected
    with pytest.raises(Exception, match="layout"):
        df.write.format("pgs").mode("append").save(tmp_out)
    # bad specs are rejected at plan time
    with pytest.raises(Exception, match="not a variant column"):
        df.write.format("pgs").mode("overwrite") \
            .option("shred_variant", "doc_id:x=int").save(tmp_out + "2")
    with pytest.raises(Exception, match="name=kind"):
        df.write.format("pgs").mode("overwrite") \
            .option("shred_variant", "v:lang=decimal").save(tmp_out + "2")


def test_shredded_variant_column_key_covers_components(spark, tmp_out):
    """A per-column key on a shredded variant column must seal every
    component chunk — and a keyless read must fail, not return
    plaintext."""
    from pyspark.sql import functions as F

    register(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    df = docs.select(
        "doc_id",
        F.parse_json(F.concat(F.lit('{"lang": "'), F.col("lang"),
                              F.lit('"}'))).alias("v"),
    )
    key = bytes(range(16)).hex()
    (
        df.write.format("pgs").mode("overwrite")
        .option("shred_variant", "v:lang=string")
        .option("column_keys_json", json.dumps({"v": key}))
        .save(tmp_out)
    )
    from parquet_go_spark import chunk
    from parquet_go_spark.sources.pgs_datasource import (
        _committed_files, _meta,
    )
    import pyarrow.dataset as pads

    assert _meta(tmp_out)["encrypted"] is True
    t = pads.dataset(_committed_files(tmp_out), format="parquet").to_table(
        columns=["col", "blob"])
    comps = dict(zip(t.column("col").to_pylist(),
                     t.column("blob").to_pylist()))
    for name in ("v.metadata", "v.value", "v.typed_value.lang"):
        with pytest.raises(ValueError, match="encrypted|key"):
            chunk.decode_chunk(comps[name])  # sealed, keyless must fail
    # doc_id was not keyed and stays readable keylessly
    chunk.decode_chunk(comps["doc_id"])
    back = (
        spark.read.format("pgs")
        .option("column_keys_json", json.dumps({"v": key}))
        .load(tmp_out)
        .select("doc_id", F.variant_get("v", "$.lang", "string")
                .alias("lang"))
    )
    a = back.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = docs.select("doc_id", "lang").toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_shredded_variant_token_arrays(spark, tmp_out):
    """array<int> shredding through the store: a variant field of token
    ids becomes a list<int64> chunk riding the list codec stack instead
    of opaque binary."""
    from pyspark.sql import functions as F

    register(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    j = F.concat(
        F.lit('{"lang": "'), F.col("lang"), F.lit('", "toks": ['),
        F.concat_ws(",", F.transform(
            F.sequence(F.lit(1), F.lit(50)),
            lambda i: ((F.col("doc_id") * 131 + i * 2654435761) % 50000)
            .cast("string"),
        )),
        F.lit("]}"),
    )
    df = docs.select("doc_id", F.parse_json(j).alias("v"))
    (
        df.write.format("pgs").mode("overwrite")
        .option("shred_variant", "v:lang=string,toks=array<int>")
        .save(tmp_out)
    )
    import pyarrow.dataset as pads

    from parquet_go_spark.sources.pgs_datasource import _committed_files

    t = pads.dataset(_committed_files(tmp_out), format="parquet").to_table(
        columns=["col", "codec"])
    codecs = dict(zip(t.column("col").to_pylist(),
                      t.column("codec").to_pylist()))
    assert codecs["v.typed_value.toks"].startswith("list<")
    back = spark.read.format("pgs").load(tmp_out).select(
        "doc_id",
        F.variant_get("v", "$.toks[49]", "long").alias("t49"),
        F.variant_get("v", "$.lang", "string").alias("lang"),
    )
    expect = docs.select(
        "doc_id",
        ((F.col("doc_id") * 131 + 50 * 2654435761) % 50000).alias("t49"),
        "lang",
    )
    a = back.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = expect.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b[a.columns])


def test_shredded_variant_nested_path_store(spark, tmp_out):
    """Dotted shred paths through the store option."""
    from pyspark.sql import functions as F

    register(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    j = F.concat(
        F.lit('{"meta": {"lang": "'), F.col("lang"),
        F.lit('", "src": "'), F.col("source"),
        F.lit('"}, "n": '), F.col("n_chars").cast("string"), F.lit("}"),
    )
    df = docs.select("doc_id", F.parse_json(j).alias("v"))
    (
        df.write.format("pgs").mode("overwrite")
        .option("shred_variant", "v:meta.lang=string,n=int")
        .save(tmp_out)
    )
    back = spark.read.format("pgs").load(tmp_out).select(
        "doc_id",
        F.variant_get("v", "$.meta.lang", "string").alias("lang"),
        F.variant_get("v", "$.meta.src", "string").alias("src"),
        F.variant_get("v", "$.n", "long").alias("n"),
    )
    expect = docs.select("doc_id", "lang",
                         F.col("source").alias("src"),
                         F.col("n_chars").alias("n"))
    a = back.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = expect.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b[a.columns])


def test_streaming_sink_with_shredded_variant(spark, tmp_path):
    """shred_variant flows through the streaming sink's shared encode
    path; the reconstructed reads stay exact across micro-batches."""
    from pyspark.sql import functions as F

    register(spark)
    indir = str(tmp_path / "in")
    out = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    src = docs.select(
        "doc_id",
        F.concat(F.lit('{"lang": "'), F.col("lang"), F.lit('", "n": '),
                 F.col("n_chars").cast("string"), F.lit("}")).alias("j"),
    )
    src.write.parquet(indir)
    q = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
        .select("doc_id", F.parse_json("j").alias("v"))
        .writeStream.format("pgs")
        .option("checkpointLocation", ckpt)
        .option("shred_variant", "v:lang=string,n=int")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(240)
    back = spark.read.format("pgs").load(out).select(
        "doc_id",
        F.variant_get("v", "$.lang", "string").alias("lang"),
        F.variant_get("v", "$.n", "long").alias("n"),
    )
    expect = docs.select("doc_id", "lang", F.col("n_chars").alias("n"))
    a = back.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = expect.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b[a.columns])


def test_as_of_commit_snapshot_reads(spark, tmp_path):
    """Append-commit time travel: history records a cumulative part-id cap
    per batch commit (ids strictly increase across appends), so
    as_of_commit k reproduces the store exactly as of commit k."""
    register(spark)
    out = str(tmp_path / "hist_store")
    mk = lambda a, b, p: spark.range(a, b).selectExpr(
        "id", "cast(id % 7 as string) s").repartition(p)
    mk(0, 1000, 8).write.format("pgs").mode("overwrite").save(out)
    mk(1000, 1200, 2).write.format("pgs").mode("append").save(out)
    mk(1200, 1500, 3).write.format("pgs").mode("append").save(out)
    rd = lambda **o: spark.read.format("pgs").options(**o).load(out)
    assert rd().count() == 1500
    assert rd(as_of_commit=3).count() == 1500
    assert rd(as_of_commit=2).count() == 1200
    k1 = rd(as_of_commit=1)
    assert k1.count() == 1000
    assert k1.selectExpr("max(id) m").collect()[0]["m"] == 999
    for bad in (0, 4):
        with pytest.raises(Exception, match="as_of_commit|out of range"):
            rd(as_of_commit=bad).count()
    # overwrite starts a new timeline: one snapshot again
    mk(0, 50, 1).write.format("pgs").mode("overwrite").save(out)
    assert rd(as_of_commit=1).count() == 50
    with pytest.raises(Exception, match="out of range"):
        rd(as_of_commit=2).count()


def test_since_commit_incremental_reads(spark, tmp_path):
    """The CDC-style complement of as_of_commit: only partitions appended
    AFTER snapshot k — a daily pipeline consumes since_commit=<last
    processed> and never touches already-consumed partitions."""
    register(spark)
    out = str(tmp_path / "incr_store")
    mk = lambda a, b, p: spark.range(a, b).selectExpr(
        "id", "cast(id % 7 as string) s").repartition(p)
    mk(0, 1000, 8).write.format("pgs").mode("overwrite").save(out)
    mk(1000, 1200, 2).write.format("pgs").mode("append").save(out)
    mk(1200, 1500, 3).write.format("pgs").mode("append").save(out)
    rd = lambda **o: spark.read.format("pgs").options(**o).load(out)
    assert rd(since_commit=0).count() == 1500
    inc1 = rd(since_commit=1)
    assert inc1.count() == 500
    assert inc1.selectExpr("min(id) m").collect()[0]["m"] == 1000
    inc2 = rd(since_commit=2)
    assert inc2.count() == 300
    assert inc2.selectExpr("min(id) m").collect()[0]["m"] == 1200
    assert rd(since_commit=3).count() == 0
    with pytest.raises(Exception, match="out of range"):
        rd(since_commit=4).count()
    with pytest.raises(Exception, match="mutually exclusive"):
        rd(since_commit=1, as_of_commit=2).count()
    # deletes apply to incremental reads too (takedown semantics)
    from parquet_go_spark.operators.deletes import delete_where

    delete_where(spark, out, "id >= 1400")
    assert rd(since_commit=2).count() == 200


def test_as_of_commit_rejected_on_stream_and_plain_stores(
    spark, orders, range_store, tmp_path
):
    register(spark)
    # operator-written store: no history recorded
    with pytest.raises(Exception, match="history"):
        spark.read.format("pgs").option("as_of_commit", 1) \
            .load(range_store).count()


def test_compact_generation_store_stays_readable(spark, tmp_path):
    """Compacting a batch-writer store must retire the generation-commit
    metadata: compacted blobs are operator-named, and a carried
    generations_strict set hid every file (reads returned 0 rows)."""
    from parquet_go_spark.operators.compact import compact_store
    from parquet_go_spark.sources.pgs_datasource import _meta

    register(spark)
    src = str(tmp_path / "gen_src"); dst = str(tmp_path / "gen_dst")
    mk = lambda a, b, p: spark.range(a, b).selectExpr(
        "id", "cast(id % 7 as string) s").repartition(p)
    mk(0, 1000, 8).write.format("pgs").mode("overwrite").save(src)
    mk(1000, 1200, 2).write.format("pgs").mode("append").save(src)
    compact_store(spark, src, dst, target_raw=1 << 30)
    m = _meta(dst)
    assert "generations" not in m and "generations_strict" not in m
    assert "history" not in m
    got = spark.read.format("pgs").load(dst)
    assert got.count() == 1200
    assert got.selectExpr("sum(id) t").collect()[0]["t"] == sum(range(1200))


def test_pushdown_is_null_and_null_safe_eq(spark, tmp_path):
    """IS NULL prunes partitions whose chunk null_count is 0 (exact
    metadata), and <=> pushes as EqualNullSafe: null-valued probes
    prune like IS NULL, non-null probes prune like EqualTo + bloom."""
    register(spark)
    out = str(tmp_path / "nullstore")
    df = spark.range(0, 400).selectExpr(
        "id AS k",
        # nulls exist ONLY in the id < 100 range -> first partition
        "CASE WHEN id < 100 AND id % 3 = 0 THEN NULL "
        "ELSE concat('v', id) END AS v",
    )
    from parquet_go_spark.operators.pruned import encode_generic
    encode_generic(spark, df, out, key_col="k", clustering="range",
                   num_parts=8)
    total = len(_candidate_parts(out, []))
    nul = _candidate_parts(out, [IsNull(("v",))])
    assert 1 <= len(nul) < total
    nse = _candidate_parts(out, [EqualNullSafe(("v",), None)])
    assert nse == nul
    # non-null probe behaves like EqualTo on stats
    eq = _candidate_parts(out, [EqualNullSafe(("v",), "v250")])
    assert len(eq) < total
    # answers stay exact through the live read path
    back = spark.read.format("pgs").load(out)
    assert back.filter("v IS NULL").count() == df.filter(
        "v IS NULL").count()
    assert back.filter("v <=> 'v250'").count() == 1


def test_pushdown_starts_with(spark, tmp_path):
    """StringStartsWith prunes from [vmin, vmax] string bounds —
    including truncated bounds and non-ASCII values — and the answer
    stays exact."""
    register(spark)
    out = str(tmp_path / "swstore")
    df = spark.range(0, 400).selectExpr(
        "id AS k",
        # keys cluster by range so string prefixes group by partition;
        # include multibyte chars and strings longer than the stats
        # truncation limit
        "concat(CASE WHEN id < 100 THEN 'alpha-é' "
        "            WHEN id < 200 THEN 'beta-'   "
        "            WHEN id < 300 THEN 'gamma-中' "
        "            ELSE 'delta-' END, "
        "       lpad(CAST(id AS STRING), 60, '0')) AS name",
    )
    from parquet_go_spark.operators.pruned import encode_generic
    encode_generic(spark, df, out, key_col="k", clustering="range",
                   num_parts=8)
    total = len(_candidate_parts(out, []))
    pruned = _candidate_parts(out, [StringStartsWith(("name",), "beta-")])
    assert 1 <= len(pruned) < total
    # a prefix matching nothing prunes everything
    assert _candidate_parts(
        out, [StringStartsWith(("name",), "zz")]) == []
    back = spark.read.format("pgs").load(out)
    for p in ("alpha-é", "beta-", "gamma-中", "q"):
        got = back.filter(f"name LIKE '{p}%'").count()
        exp = df.filter(f"name LIKE '{p}%'").count()
        assert got == exp, p


def test_default_reader_immune_to_scan_cache_poisoning(spark, orders,
                                                       range_store):
    """Spark's Python DS scan cache (PythonDataSourceV2.setReadInfo)
    replays the post-pushdown partition list for LATER executions of
    the same loaded DataFrame even when their filters differ. The
    default pgs reader therefore implements no pushFilters at all —
    mixed actions on one loaded DataFrame must all be exact."""
    back = spark.read.format("pgs").load(range_store)
    total = back.count()
    narrow = back.filter(
        (back.o_orderkey >= 100) & (back.o_orderkey <= 110)
    ).count()
    assert 0 < narrow < total
    assert back.count() == total  # the poisoning would return `narrow`-ish
    other = back.filter(back.o_orderkey >= 1000).count()
    assert other == orders.filter(orders.o_orderkey >= 1000).count()
    assert back.count() == total


def test_pushdown_optin_prunes_and_pins_the_engine_hazard(spark, orders,
                                                          range_store):
    """option("pushdown", "true") restores partition pruning for
    single-use loads (one .load() per query — always exact), and this
    test PINS the engine-level hazard that forced the opt-in split: on
    a REUSED DataFrame, an unfiltered action after a filtered one
    replays the stale pruned scan. If this assertion ever flips to
    equality, the Spark release fixed its scan cache — make the pruning
    reader the default again."""
    one_shot = (
        spark.read.format("pgs").option("pushdown", "true")
        .load(range_store)
        .filter("o_orderkey >= 100 AND o_orderkey <= 300")
    )
    want = orders.filter("o_orderkey >= 100 AND o_orderkey <= 300")
    assert one_shot.count() == want.count() > 0

    reused = (
        spark.read.format("pgs").option("pushdown", "true")
        .load(range_store)
    )
    total_first = reused.count()  # planned before any pushdown: exact
    assert total_first == orders.count()
    assert reused.filter(
        "o_orderkey >= 100 AND o_orderkey <= 110").count() > 0
    stale = reused.count()
    assert stale < total_first  # the upstream bug, pinned


def test_append_nullable_data_relaxes_recorded_schema(spark, tmp_out):
    """An append whose fields are nullable where the recorded schema
    says required must relax the record at the commit — Spark trusts
    the recorded schema in codegen, so a decoded null under a required
    column is an executor CRASH (ArrowColumnVector.getLong on null),
    not a clean error."""
    import shutil

    from parquet_go_spark.sources.pgs_datasource import _meta, register

    register(spark)
    shutil.rmtree(tmp_out, ignore_errors=True)
    # spark.range ids are non-nullable -> recorded schema says required
    base = spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v")
    base.write.format("pgs").mode("overwrite").save(tmp_out)
    from pyspark.sql.types import StructType
    rec = StructType.fromJson(_meta(tmp_out)["schema_json"])
    assert not rec["k"].nullable
    nullable = spark.createDataFrame(
        [(None, 7), (1000, None)], "k long, v long"
    )
    nullable.write.format("pgs").mode("append").save(tmp_out)
    rec2 = StructType.fromJson(_meta(tmp_out)["schema_json"])
    assert rec2["k"].nullable and rec2["v"].nullable
    back = spark.read.format("pgs").load(tmp_out)
    assert back.count() == 52
    assert back.filter("k IS NULL").count() == 1
    assert back.filter("v IS NULL").count() == 1


def test_stream_sink_never_tightens_nullability(spark, tmp_out):
    """A later all-non-null micro-batch must not tighten the recorded
    schema out from under earlier batches' nulls."""
    import shutil

    from parquet_go_spark.sources.pgs_datasource import _meta, register

    register(spark)
    shutil.rmtree(tmp_out, ignore_errors=True)
    ckpt = tmp_out + "-ckpt"
    shutil.rmtree(ckpt, ignore_errors=True)
    src_dir = tmp_out + "-in"
    shutil.rmtree(src_dir, ignore_errors=True)
    # batch 1 carries a null; batch 2 is fully non-null
    spark.createDataFrame([(None, 1)], "k long, v long") \
        .write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema("k long, v long")
        .parquet(src_dir)
        .writeStream.format("pgs")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    stream.start(tmp_out).awaitTermination(120)
    spark.createDataFrame([(5, 2)], "k long, v long") \
        .write.mode("append").parquet(src_dir)
    stream.start(tmp_out).awaitTermination(120)
    from pyspark.sql.types import StructType
    rec = StructType.fromJson(_meta(tmp_out)["schema_json"])
    assert rec["k"].nullable  # batch 2 did not tighten it
    back = spark.read.format("pgs").load(tmp_out)
    assert back.count() == 2 and back.filter("k IS NULL").count() == 1


def test_commit_conflict_detected(spark, tmp_out):
    """Optimistic concurrency: a committer whose planning state went
    stale (the store meta changed underneath) must refuse its own
    commit instead of silently clobbering the interleaved one."""
    import shutil

    from parquet_go_spark.sources.pgs_datasource import (
        PGSArrowWriter, register,
    )

    register(spark)
    shutil.rmtree(tmp_out, ignore_errors=True)
    df = spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v")
    df.write.format("pgs").mode("overwrite").save(tmp_out)

    stale = PGSArrowWriter(tmp_out, df.schema, False, {})
    # another writer commits while `stale` is (conceptually) mid-job
    spark.range(100, 120).selectExpr("id AS k", "id * 2 AS v") \
        .write.format("pgs").mode("append").save(tmp_out)
    with pytest.raises(RuntimeError, match="concurrent store mutation"):
        stale.commit([])
    # the interleaved commit survives untouched
    back = spark.read.format("pgs").load(tmp_out)
    assert back.count() == 70


def test_meta_fingerprint_cas_helper(tmp_path):
    from parquet_go_spark.sources.pgs_datasource import (
        _check_commit_token, _meta_fingerprint, _write_meta,
    )

    p = str(tmp_path / "s")
    os.makedirs(p)
    fp0 = _meta_fingerprint(p)
    assert fp0 == ""
    _check_commit_token(p, fp0, "probe")  # no meta yet: fine
    _write_meta(p, {"a": 1})
    with pytest.raises(RuntimeError, match="concurrent store mutation"):
        _check_commit_token(p, fp0, "probe")
    _check_commit_token(p, _meta_fingerprint(p), "probe")


def test_inspect_files_and_snapshots(spark, tmp_out):
    """Metadata tables (Iceberg table.files / table.snapshots): the
    manifest and commit timeline as DataFrames, blob bytes untouched."""
    import shutil

    from parquet_go_spark.sources.pgs_datasource import (
        expire_snapshots, inspect_files, inspect_snapshots, register,
        tag_commit,
    )

    register(spark)
    shutil.rmtree(tmp_out, ignore_errors=True)
    spark.range(0, 200).selectExpr("id AS k", "id * 2 AS v") \
        .repartition(2).write.format("pgs").mode("overwrite").save(tmp_out)
    spark.range(200, 300).selectExpr("id AS k", "id * 2 AS v") \
        .write.format("pgs").mode("append").save(tmp_out)
    tag_commit(tmp_out, "v1", 1)

    f = inspect_files(spark, tmp_out)
    pdf = f.toPandas()
    assert set(pdf["col"]) == {"k", "v"}
    assert pdf[pdf["col"] == "k"]["count"].sum() == 300
    assert (pdf["encoded_size"] > 0).all()
    assert pdf["file"].str.contains("part-").all()

    s = inspect_snapshots(spark, tmp_out).toPandas()
    assert list(s["snapshot"]) == [1, 2]
    assert s["part_id_cap"].is_monotonic_increasing
    assert s[s["snapshot"] == 1]["tags"].iloc[0] == ["v1"]

    # after another commit + expiry, absolute numbering holds
    spark.range(300, 350).selectExpr("id AS k", "id * 2 AS v") \
        .write.format("pgs").mode("append").save(tmp_out)
    expire_snapshots(tmp_out, keep_last=2)
    s2 = inspect_snapshots(spark, tmp_out).toPandas()
    assert list(s2["snapshot"]) == [2, 3]


def test_with_commit_lineage_column(spark, tmp_out):
    """`option("with_commit")` synthesizes the arrival snapshot per row
    (Iceberg row-lineage analog); filters on it prune partitions from
    the commit timeline alone, and arrivals whose snapshot expired read
    null."""
    import shutil

    from pyspark.sql.datasource import EqualTo

    from parquet_go_spark.sources.pgs_datasource import (
        PGSPruningReader, expire_snapshots, register,
    )

    register(spark)
    shutil.rmtree(tmp_out, ignore_errors=True)
    for lo, mode in ((0, "overwrite"), (100, "append"), (200, "append")):
        spark.range(lo, lo + 100).selectExpr("id AS k") \
            .repartition(2).write.format("pgs").mode(mode).save(tmp_out)

    df = (spark.read.format("pgs").option("with_commit", "true")
          .load(tmp_out))
    counts = {r["_pgs_commit"]: r["cnt"] for r in
              df.groupBy("_pgs_commit").count()
              .withColumnRenamed("count", "cnt").collect()}
    assert counts == {1: 100, 2: 100, 3: 100}
    assert (df.filter("_pgs_commit = 2").agg({"k": "min"})
            .collect()[0][0] == 100)

    # timeline pruning: an equality filter plans only that commit's parts
    r = PGSPruningReader(tmp_out, df.schema,
                         {"with_commit": "true"})
    r.pushFilters([EqualTo(("_pgs_commit",), 2)])
    assert len(r.partitions()) == 2  # of 6

    expire_snapshots(tmp_out, keep_last=2)
    df2 = (spark.read.format("pgs").option("with_commit", "true")
           .load(tmp_out))
    assert df2.filter("_pgs_commit IS NULL").count() == 100  # expired
    assert df2.filter("_pgs_commit = 3").count() == 100


def test_shredded_typed_field_projection(spark, tmp_out):
    """`columns="v.f"` reads ONE typed chunk of a shredded variant
    column instead of reconstructing whole variants — semantics equal
    to try_variant_get(v, '$.f', <kind>): absent/mismatched/null rows
    read null. Filters on the projected column prune from the typed
    chunk's manifest stats (lossless: projected values ARE the typed
    chunk's; null never matches a pushed comparison)."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo

    register(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    nc = F.col("n_chars").cast("string")
    j = F.concat(
        F.lit('{"lang": "'), F.col("lang"),
        F.lit('", "n_chars": '),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit('"'), nc, F.lit('"'))).otherwise(nc),
        F.lit("}"),
    )
    df = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.lit(None))
        .otherwise(F.parse_json(j)).alias("v"),
    )
    (df.repartition(2).write.format("pgs").mode("overwrite")
       .option("shred_variant", "v:lang=string,n_chars=int")
       .save(tmp_out))

    proj = (
        spark.read.format("pgs")
        .option("columns", "doc_id,v.n_chars,v.lang")
        .load(tmp_out)
    )
    assert proj.columns == ["doc_id", "v.n_chars", "v.lang"]
    # JVM cross-check: full reconstruction + variant_get must agree on
    # every row whose write-time value MATCHED the declared kind; the
    # strictly-typed projection reads null where try_variant_get would
    # CAST (doc_id % 7: n_chars written as a JSON string)
    full = spark.read.format("pgs").load(tmp_out).selectExpr(
        "doc_id",
        "try_variant_get(v, '$.n_chars', 'long') AS nc",
        "try_variant_get(v, '$.lang', 'string') AS lg",
    )
    a = proj.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = full.toPandas().sort_values("doc_id").reset_index(drop=True)
    matched = (a["doc_id"] % 7 != 0)
    assert a.loc[matched, "v.n_chars"].equals(b.loc[matched, "nc"])
    assert a["v.lang"].equals(b["lg"])  # lang always string-typed
    assert a.loc[~matched, "v.n_chars"].isna().all()  # strict, no cast
    assert a[a["doc_id"] % 11 == 0]["v.lang"].isna().all()  # null rows

    # unknown shred field is a clean error
    with pytest.raises(Exception, match="not shredded on field"):
        (spark.read.format("pgs").option("columns", "v.nope")
         .load(tmp_out).count())

    # pruning: an impossible equality on the typed field's stats plans
    # the schema-only empty scan
    schema = (spark.read.format("pgs")
              .option("columns", "v.n_chars").load(tmp_out).schema)
    r = PGSPruningReader(tmp_out, schema, {"columns": "v.n_chars"})
    r.pushFilters([EqualTo(("v.n_chars",), -999)])
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].value is None
