#!/usr/bin/env python
"""spark-submit entry point for the encode/decode/verify jobs.

The north rule's deployment surface: the job ships to a cluster as

    zip -r pgs.zip parquet_go_spark
    spark-submit --py-files pgs.zip tools/submit_encode.py encode \
        --input <parquet dir or synth:N> --out <store dir> \
        [--target-tokens 2000000] [--waves 4] [--no-resume] \
        [--compression zstd] [--bloom col1,col2]

    spark-submit --py-files pgs.zip tools/submit_encode.py decode \
        --store <store dir> --out <parquet dir>

    spark-submit --py-files pgs.zip tools/submit_encode.py verify \
        --input <parquet dir or synth:N> --store <store dir>

On a cluster the SparkSession comes from spark-submit's conf (master,
executor counts — the N vs 4N runs differ only in --num-executors);
run locally it falls back to local[*]. Exit code 0 on success; `verify`
exits 1 if the decoded store differs from the input anywhere.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# under spark-submit --py-files the package rides the zip; run as plain
# `python tools/submit_encode.py` only the tools/ dir is on sys.path, so
# add the repo root as a fallback
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def _get_session(app: str) -> SparkSession:
    return (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def _load_input(spark: SparkSession, spec: str):
    if spec.startswith("synth:"):
        from parquet_go_spark.sources.synth import token_sequences

        return token_sequences(spark, int(spec.split(":", 1)[1]))
    return spark.read.parquet(spec)


def cmd_encode(args) -> int:
    from parquet_go_spark import keys
    from parquet_go_spark.operators.encode_job import encode_table
    from parquet_go_spark.plans.partitioner import DEFAULT_TARGET_TOKENS

    if args.target_tokens is None:
        args.target_tokens = DEFAULT_TARGET_TOKENS
    spark = _get_session("pgs-encode")
    df = _load_input(spark, args.input)
    total = df.selectExpr("sum(n_tok) s").collect()[0]["s"] or 0
    t0 = time.time()
    codec_map = json.loads(args.codec_map) if args.codec_map else None
    bloom_cols = set(args.bloom.split(",")) if args.bloom else None
    ndv_cols = (
        {c.strip() for c in args.ndv.split(",") if c.strip()}
        if args.ndv else None
    )
    if ndv_cols:
        # same upfront validation the pgs writer performs — fail the
        # submit, not an executor task mid-job
        dtypes = dict(df.dtypes)
        missing = sorted(ndv_cols - set(dtypes))
        if missing:
            raise SystemExit(f"--ndv columns not in input: {missing}")
        ok = ("tinyint", "smallint", "int", "bigint", "string", "binary",
              "date", "timestamp", "timestamp_ntz")
        bad = sorted(c for c in ndv_cols if dtypes[c] not in ok)
        if bad:
            raise SystemExit(
                f"--ndv columns {bad} are not integral/string/binary/"
                "date/timestamp")
    key = bytes.fromhex(args.encrypt_key_hex) if args.encrypt_key_hex else None
    ckeys = keys.parse_hex_keys(args.column_keys_hex)
    store, plan = encode_table(
        spark, df, args.out,
        target_tokens=args.target_tokens,
        compression=args.compression,
        waves=args.waves,
        resume=not args.no_resume,
        codec_map=codec_map,
        bloom_cols=bloom_cols,
        ndv_cols=ndv_cols,
        page_rows=args.page_rows,
        encryption_key=key,
        column_keys=ckeys,
        aad_prefix=bytes.fromhex(args.aad_prefix_hex or ""),
    )
    wall = time.time() - t0
    m = store.manifest(spark).selectExpr(
        "sum(encoded_size) e", "sum(raw_size) r", "count(*) chunks"
    ).collect()[0]
    print(json.dumps({
        "job": "encode", "tokens": int(total), "wall_sec": round(wall, 2),
        "tokens_per_sec": round(total / wall) if wall else None,
        "partitions": plan.num_partitions, "chunks": m["chunks"],
        "encoded_bytes": int(m["e"]), "raw_bytes": int(m["r"]),
    }))
    return 0


def cmd_decode(args) -> int:
    from parquet_go_spark import keys
    from parquet_go_spark.operators.decode_job import decode_table
    from parquet_go_spark.sources.synth import SCHEMA

    spark = _get_session("pgs-decode")
    cols = ["doc_id", "tokens", "n_tok", "source"]
    key = bytes.fromhex(args.encrypt_key_hex) if args.encrypt_key_hex else None
    ckeys = keys.parse_hex_keys(args.column_keys_hex)
    dec = decode_table(spark, args.store, cols, SCHEMA, encryption_key=key,
                       column_keys=ckeys,
                       aad_prefix=bytes.fromhex(args.aad_prefix_hex or ""),
                       crc_mode=args.crc_mode)
    dec.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"job": "decode", "rows": spark.read.parquet(args.out).count()}))
    return 0


def cmd_verify(args) -> int:
    from parquet_go_spark import keys
    from parquet_go_spark.operators.decode_job import decode_table
    from parquet_go_spark.sources.synth import SCHEMA

    spark = _get_session("pgs-verify")
    src = _load_input(spark, args.input)
    cols = ["doc_id", "tokens", "n_tok", "source"]
    key = bytes.fromhex(args.encrypt_key_hex) if args.encrypt_key_hex else None
    ckeys = keys.parse_hex_keys(args.column_keys_hex)
    dec = decode_table(spark, args.store, cols, SCHEMA, encryption_key=key,
                       column_keys=ckeys)
    extra = dec.exceptAll(src).count()
    missing = src.exceptAll(dec).count()
    ok = extra == 0 and missing == 0
    print(json.dumps({
        "job": "verify", "bit_identical": ok,
        "extra_rows": extra, "missing_rows": missing,
    }))
    return 0 if ok else 1


def cmd_compact(args) -> int:
    from parquet_go_spark.operators.compact import compact_store

    spark = _get_session("pgs-compact")
    key = bytes.fromhex(args.encrypt_key_hex) if args.encrypt_key_hex else None
    t0 = time.time()
    res = compact_store(
        spark, args.store, args.out,
        target_raw=args.target_raw_mb << 20,
        compression=args.compression,
        encryption_key=key,
    )
    res.update(job="compact", wall_sec=round(time.time() - t0, 2))
    print(json.dumps(res))
    return 0


def cmd_sweep(args) -> int:
    """Garbage-collect blob files no committed generation references
    (tmp leftovers, crashed-commit renames). Metadata-only, no Spark."""
    from parquet_go_spark.sources.pgs_datasource import sweep_store

    removed = sweep_store(args.store)
    print(json.dumps({"job": "sweep", "removed": removed}))
    return 0


def cmd_rotate_keys(args) -> int:
    """Re-seal every chunk under a new key chain into a new store dir —
    AES work only, no decode/re-encode (operators/maintenance.py)."""
    from parquet_go_spark import keys
    from parquet_go_spark.operators.maintenance import rotate_store_keys

    spark = _get_session("pgs-rotate")
    dst = rotate_store_keys(
        spark, args.store, args.dest,
        old_key=bytes.fromhex(args.old_key_hex) if args.old_key_hex else None,
        new_key=bytes.fromhex(args.new_key_hex) if args.new_key_hex else None,
        old_column_keys=keys.parse_hex_keys(args.old_column_keys),
        new_column_keys=keys.parse_hex_keys(args.new_column_keys),
        old_aad_prefix=bytes.fromhex(args.old_aad_prefix_hex or ""),
        new_aad_prefix=bytes.fromhex(args.new_aad_prefix_hex or ""),
    )
    print(json.dumps({"job": "rotate-keys", "dest": dst.out_dir,
                      "encrypted": dst.meta().get("encrypted", False)}))
    return 0


def cmd_fsck(args) -> int:
    """Distributed integrity walk: header parse + CRC (+ seal auth with
    keys, + full decode with --deep) for every chunk; non-zero exit on
    any finding other than sealed_unverified."""
    from parquet_go_spark import keys
    from parquet_go_spark.operators.maintenance import fsck_store

    spark = _get_session("pgs-fsck")
    rows = fsck_store(
        spark, args.store,
        encryption_key=(bytes.fromhex(args.encrypt_key_hex)
                        if args.encrypt_key_hex else None),
        column_keys=keys.parse_hex_keys(args.column_keys),
        deep=args.deep,
        aad_prefix=bytes.fromhex(args.aad_prefix_hex or ""),
    ).collect()
    findings = [r.asDict() for r in rows]
    print(json.dumps({"job": "fsck", "findings": findings}))
    return 1 if any(f["status"] != "sealed_unverified"
                    for f in findings) else 0


def cmd_describe(args) -> int:
    """Metadata-only store summary (no Spark, no blob bytes)."""
    from parquet_go_spark.sources.pgs_datasource import describe_store

    print(json.dumps(describe_store(args.store)))
    return 0


def cmd_delete(args) -> int:
    """Row-level delete: tombstone every live row matching --where
    (merge-on-read; compact to materialize). The takedown surface."""
    from parquet_go_spark.operators.deletes import delete_where

    spark = _get_session("pgs-delete")
    ropts = {}
    if args.encrypt_key_hex:
        ropts["key_hex"] = args.encrypt_key_hex
    if args.column_keys_hex:
        ropts["column_keys_json"] = args.column_keys_hex
    res = delete_where(spark, args.store, args.where, ropts or None)
    print(json.dumps({"job": "delete", **res}))
    return 0


def cmd_delete_values(args) -> int:
    """Equality delete: commit the key VALUES in --keys-parquet (no
    store scan; readers anti-join). Scoped to rows present now — later
    appends with the same keys survive."""
    from parquet_go_spark.operators.deletes import delete_values

    spark = _get_session("pgs-delete-values")
    keys = spark.read.parquet(args.keys_parquet)
    res = delete_values(
        spark, args.store, keys, args.key_cols.split(",")
    )
    print(json.dumps({"job": "delete-values", **res}))
    return 0


def cmd_update(args) -> int:
    """UPDATE ... SET: tombstone the matching rows and append their
    updated twins (merge-on-read; no partition rewrite)."""
    from parquet_go_spark.operators.deletes import update_where

    sets = {}
    for s in args.set:
        col, _, expr = s.partition("=")
        if not expr:
            raise SystemExit(f"--set needs col=expr, got {s!r}")
        sets[col.strip()] = expr.strip()
    spark = _get_session("pgs-update")
    res = update_where(spark, args.store, args.where, sets)
    print(json.dumps({"job": "update", **res}))
    return 0


def cmd_merge(args) -> int:
    """Conditional MERGE INTO: join a source parquet to the store on
    key columns; matched rows update (--set, expressions over t./s.)
    or delete (--delete-matched), unmatched source rows insert
    (--insert)."""
    from parquet_go_spark.operators.deletes import merge_into

    when_matched = None
    if args.delete_matched:
        if args.set:
            raise SystemExit("--set and --delete-matched are exclusive")
        when_matched = "delete"
    elif args.set:
        when_matched = {}
        for s in args.set:
            col, _, expr = s.partition("=")
            if not expr:
                raise SystemExit(f"--set needs col=expr, got {s!r}")
            when_matched[col.strip()] = expr.strip()
    spark = _get_session("pgs-merge")
    source = spark.read.parquet(args.source_parquet)
    res = merge_into(
        spark, args.store, source, args.on.split(","),
        when_matched=when_matched,
        matched_condition=args.matched_where,
        when_not_matched=args.insert,
        not_matched_condition=args.not_matched_where,
    )
    print(json.dumps({"job": "merge", **res}))
    return 0


def cmd_rollback(args) -> int:
    """Restore the store to append-commit snapshot k (metadata-only;
    later commits' files become sweep food; part ids never reused)."""
    from parquet_go_spark.sources.pgs_datasource import rollback_to_commit

    res = rollback_to_commit(args.store, args.to_commit)
    print(json.dumps({"job": "rollback", **res}))
    return 0


def cmd_recluster(args) -> int:
    """Rewrite the store globally range-ordered by a key (Iceberg
    rewrite_data_files with a sort order): one range shuffle into a
    fresh destination; tombstones/evolution materialize; per-partition
    key bounds become disjoint, so range reads prune exactly."""
    from parquet_go_spark.operators.compact import recluster_store

    keys = [k.strip() for k in args.key.split(",") if k.strip()]
    spark = _get_session("pgs-recluster")
    res = recluster_store(
        spark, args.src, args.dst,
        keys[0] if len(keys) == 1 else keys,
        target_rows=args.target_rows,
    )
    print(json.dumps({"job": "recluster", **res}))
    return 0


def cmd_expire(args) -> int:
    """Retire time-travel addressability of all but the last N append
    commits (Iceberg expire_snapshots; pure metadata — the append-only
    timeline references every file from the current state)."""
    from parquet_go_spark.sources.pgs_datasource import expire_snapshots

    res = expire_snapshots(args.store, args.keep_last)
    print(json.dumps({"job": "expire", **res}))
    return 0


def cmd_branch(args) -> int:
    """Staging-branch lifecycle (write-audit-publish): create opens a
    branch at the store's current state, publish fast-forwards main to
    the branch head, drop abandons it (files become sweep food). Stage
    data with ``.option("branch", name)`` on append writes; audit with
    the same option on reads."""
    from parquet_go_spark.sources.pgs_datasource import (
        create_branch, drop_branch, publish_branch,
    )

    if args.action == "create":
        res = create_branch(args.store, args.name)
        res = {"base_commit": res["base_commit"]}
    elif args.action == "publish":
        res = publish_branch(args.store, args.name)
    else:
        drop_branch(args.store, args.name)
        res = {}
    print(json.dumps({"job": "branch", "action": args.action,
                      "name": args.name, **res}))
    return 0


def cmd_compact_deletes(args) -> int:
    """Merge all tombstone dirs into one (delete-file maintenance)."""
    from parquet_go_spark.operators.deletes import compact_tombstones

    spark = _get_session("pgs-compact-deletes")
    res = compact_tombstones(spark, args.store)
    print(json.dumps({"job": "compact-deletes", **res}))
    return 0


def cmd_evolve(args) -> int:
    """Schema evolution: add/rename/drop a column (metadata commit,
    no Spark job; compact to materialize)."""
    from parquet_go_spark.operators import evolve

    if args.op == "add":
        if not args.type:
            raise SystemExit("evolve add needs --type")
        default = json.loads(args.default) if args.default else None
        evolve.add_column(args.store, args.column, args.type, default)
    elif args.op == "rename":
        if not args.to:
            raise SystemExit("evolve rename needs --to")
        evolve.rename_column(args.store, args.column, args.to)
    else:
        evolve.drop_column(args.store, args.column)
    print(json.dumps({"job": "evolve", "op": args.op,
                      "column": args.column}))
    return 0


def cmd_export(args) -> int:
    """Store -> parquet through the native source: any store (any schema,
    not just the token table) exports via spark.read.format("pgs"), with
    optional column projection and a SQL predicate that partition-prunes
    through pushFilters before tasks launch."""
    from parquet_go_spark.sources.pgs_datasource import register

    spark = _get_session("pgs-export")
    register(spark)
    reader = spark.read.format("pgs")
    if args.columns:
        reader = reader.option("columns", args.columns)
    if args.encrypt_key_hex:
        reader = reader.option("key_hex", args.encrypt_key_hex)
    if args.column_keys_hex:
        reader = reader.option("column_keys_json", args.column_keys_hex)
    df = reader.load(args.store)
    if args.where:
        df = df.filter(args.where)
    df.write.mode("overwrite").parquet(args.out)
    print(json.dumps({
        "job": "export", "rows": spark.read.parquet(args.out).count(),
    }))
    return 0


def cmd_pq_export(args) -> int:
    """Store -> ENGINE-written real parquet files (pqwriter codecs,
    one file per partition) — the migration off-ramp whose bytes come
    from this engine, not Spark's writer."""
    from parquet_go_spark.operators.parquet_sink import (
        export_store_to_parquet)

    spark = _get_session("pgs-pq-export")
    manifest = export_store_to_parquet(spark, args.store, args.out,
                                       compression=args.compression)
    print(json.dumps({"job": "pq-export",
                      "files": len(manifest),
                      "rows": sum(m["rows"] for m in manifest)}))
    return 0


def cmd_pq_import(args) -> int:
    """Real parquet directory -> PGS store via the ENGINE's spec
    decoder (footer-enumerated (file, row-group) units, one per task)."""
    from parquet_go_spark.operators.parquet_sink import (
        import_parquet_to_store)

    spark = _get_session("pgs-pq-import")
    import_parquet_to_store(spark, args.src, args.store)
    from parquet_go_spark.sources.pgs_datasource import register

    register(spark)
    n = spark.read.format("pgs").load(args.store).count()
    print(json.dumps({"job": "pq-import", "rows": n}))
    return 0


def cmd_pq_write(args) -> int:
    """Any Spark-readable parquet source -> ENGINE-written parquet
    under a DECLARED schema (the reference's JSON schema-string file,
    schema/json.go format): per-column encodings, compression levels,
    omitstats, bloom filters all come from the declaration."""
    from parquet_go_spark.operators.parquet_sink import write_parquet_dir
    from parquet_go_spark.schema_decl import parse_json_schema

    with open(args.schema_json) as fh:
        decl = parse_json_schema(fh.read())
    spark = _get_session("pgs-pq-write")
    df = spark.read.parquet(args.src).select(*decl.schema.names)
    if args.partitions:
        df = df.repartition(args.partitions)
    manifest = write_parquet_dir(
        df, args.out, compression=args.compression,
        arrow_schema=decl.schema, **decl.writer_kwargs())
    print(json.dumps({"job": "pq-write",
                      "files": len(manifest),
                      "rows": sum(m["rows"] for m in manifest)}))
    return 0


def cmd_pq_schema(args) -> int:
    """Print a parquet file's schema as the reference's JSON
    schema-string declaration (footer-only; engine or foreign files) —
    the port-a-file-back-to-a-declaration direction."""
    from parquet_go_spark import pqinterop
    from parquet_go_spark.schema_decl import render_json_schema

    meta = pqinterop.read_footer(args.path)
    schema = pqinterop.arrow_schema(meta)
    logical = {}
    for f in schema:
        if f.metadata and b"pgs_logical" in f.metadata:
            logical[f.name] = f.metadata[b"pgs_logical"].decode()
    print(render_json_schema(schema, logical))
    return 0


def cmd_pq_fsck(args) -> int:
    """Shape/CRC check over a parquet directory; exit non-zero on any
    finding (mirrors the store fsck contract)."""
    from parquet_go_spark.operators.parquet_sink import fsck_parquet_dir

    findings = fsck_parquet_dir(args.path, deep=args.deep)
    print(json.dumps({"job": "pq-fsck", "findings": findings}))
    return 1 if findings else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode")
    enc.add_argument("--input", required=True)
    enc.add_argument("--out", required=True)
    enc.add_argument("--target-tokens", type=int, default=None,
                     help="tokens per row group (default: the engine's "
                          "cluster-scale DEFAULT_TARGET_TOKENS)")
    enc.add_argument("--waves", type=int, default=1,
                     help="commit units: wave w is the rows with "
                          "pmod(xxhash64(doc_id), waves) == w, one Spark "
                          "write each; a rerun skips complete waves and "
                          "re-encodes partial ones (same --waves needed)")
    enc.add_argument("--no-resume", action="store_true",
                     help="encode every wave without looking at what the "
                          "store already holds")
    enc.add_argument("--compression", default="zstd")
    enc.add_argument("--codec-map", default=None,
                     help='per-column codec override as JSON, e.g. '
                          '\'{"tokens": "rans", "source": "dict_rans"}\' '
                          "(the reference's struct-tag encoding option)")
    enc.add_argument("--bloom", default=None,
                     help="comma-separated columns to build split-block "
                          "bloom filters for (tag bloomfilter analog)")
    enc.add_argument("--ndv", default=None,
                     help="comma-separated columns to record per-chunk "
                          "HyperLogLog NDV registers for (manifest_ndv)")
    enc.add_argument("--page-rows", type=int, default=None,
                     help="split chunks into page frames of this many rows "
                          "with a per-page index in the manifest "
                          "(ColumnIndex/OffsetIndex analog)")
    enc.add_argument("--aad-prefix-hex", default=None,
                     help="bind sealed chunks to this AAD prefix "
                          "(readers must supply the same bytes)")
    enc.add_argument("--encrypt-key-hex", default=None,
                     help="hex AES key (32/48/64 hex chars) for modular "
                          "encryption; pass the same key to decode/verify")
    enc.add_argument("--column-keys-hex", default=None,
                     help='per-column AES keys as JSON {"col": "hex"} '
                          "(reference WithColumnKey analog); unlisted "
                          "columns use --encrypt-key-hex or stay plaintext")
    enc.set_defaults(fn=cmd_encode)

    dec = sub.add_parser("decode")
    dec.add_argument("--store", required=True)
    dec.add_argument("--out", required=True)
    dec.add_argument("--encrypt-key-hex", default=None)
    dec.add_argument("--column-keys-hex", default=None)
    dec.add_argument("--aad-prefix-hex", default=None)
    dec.add_argument("--crc-mode", default="strict",
                     choices=("strict", "auto", "ignore"),
                     help="frame checksum policy (reference WithCRCMode)")
    dec.set_defaults(fn=cmd_decode)

    cpt = sub.add_parser("compact")
    cpt.add_argument("--store", required=True, help="source store directory")
    cpt.add_argument("--out", required=True, help="destination store")
    cpt.add_argument("--target-raw-mb", type=int, default=256,
                     help="merge adjacent partitions up to this many MiB "
                          "of raw data (Iceberg rewrite_data_files analog)")
    cpt.add_argument("--compression", default="zstd")
    cpt.add_argument("--encrypt-key-hex", default=None)
    cpt.set_defaults(fn=cmd_compact)

    swp = sub.add_parser("sweep")
    swp.add_argument("--store", required=True)
    swp.set_defaults(fn=cmd_sweep)

    rot = sub.add_parser("rotate-keys")
    rot.add_argument("store")
    rot.add_argument("dest")
    rot.add_argument("--old-key-hex")
    rot.add_argument("--new-key-hex")
    rot.add_argument("--old-column-keys", help="JSON {col: hexkey}")
    rot.add_argument("--new-column-keys", help="JSON {col: hexkey}")
    rot.add_argument("--old-aad-prefix-hex")
    rot.add_argument("--new-aad-prefix-hex")
    rot.set_defaults(fn=cmd_rotate_keys)

    fsk = sub.add_parser("fsck")
    fsk.add_argument("store")
    fsk.add_argument("--encrypt-key-hex")
    fsk.add_argument("--column-keys", help="JSON {col: hexkey}")
    fsk.add_argument("--aad-prefix-hex",
                     help="seal-time AAD prefix for sealed stores")
    fsk.add_argument("--deep", action="store_true")
    fsk.set_defaults(fn=cmd_fsck)

    dsc = sub.add_parser("describe")
    dsc.add_argument("--store", required=True)
    dsc.set_defaults(fn=cmd_describe)

    dl = sub.add_parser("delete")
    dl.add_argument("--store", required=True)
    dl.add_argument("--where", required=True,
                    help='SQL predicate naming the rows to delete, e.g. '
                         '"doc_id IN (7, 9) OR lang = \'xx\'"')
    dl.add_argument("--encrypt-key-hex", default=None)
    dl.add_argument("--column-keys-hex", default=None)
    dl.set_defaults(fn=cmd_delete)

    rb = sub.add_parser("rollback")
    rb.add_argument("--store", required=True)
    rb.add_argument("--to-commit", type=int, required=True,
                    help="snapshot number to restore (1-based, as in "
                         "as_of_commit)")
    rb.set_defaults(fn=cmd_rollback)

    up = sub.add_parser("update")
    up.add_argument("--store", required=True)
    up.add_argument("--where", required=True)
    up.add_argument("--set", action="append", required=True,
                    help='assignment col=SQL-expr (repeatable), e.g. '
                         '--set "n_chars = n_chars + 1"')
    up.set_defaults(fn=cmd_update)

    mg = sub.add_parser("merge")
    mg.add_argument("--store", required=True)
    mg.add_argument("--source-parquet", required=True)
    mg.add_argument("--on", required=True,
                    help="comma-separated key columns")
    mg.add_argument("--set", action="append", default=[],
                    help='matched-row assignment col=SQL-expr over '
                         't./s. (repeatable), e.g. '
                         '--set "qty = t.qty + s.qty"')
    mg.add_argument("--delete-matched", action="store_true")
    mg.add_argument("--insert", action="store_true",
                    help="insert unmatched source rows")
    mg.add_argument("--matched-where", default=None)
    mg.add_argument("--not-matched-where", default=None)
    mg.set_defaults(fn=cmd_merge)

    dv = sub.add_parser("delete-values")
    dv.add_argument("--store", required=True)
    dv.add_argument("--keys-parquet", required=True,
                    help="parquet file/dir holding the delete keys")
    dv.add_argument("--key-cols", required=True,
                    help="comma-separated key column names")
    dv.set_defaults(fn=cmd_delete_values)

    rc = sub.add_parser("recluster")
    rc.add_argument("src")
    rc.add_argument("dst")
    rc.add_argument("key", help="sort key; comma-separated list zorders")
    rc.add_argument("--target-rows", type=int, default=None)
    rc.set_defaults(fn=cmd_recluster)

    ex = sub.add_parser("expire")
    ex.add_argument("store")
    ex.add_argument("--keep-last", type=int, required=True)
    ex.set_defaults(fn=cmd_expire)

    br = sub.add_parser("branch")
    br.add_argument("action", choices=["create", "publish", "drop"])
    br.add_argument("store")
    br.add_argument("name")
    br.set_defaults(fn=cmd_branch)

    cdl = sub.add_parser("compact-deletes")
    cdl.add_argument("--store", required=True)
    cdl.set_defaults(fn=cmd_compact_deletes)

    ev = sub.add_parser("evolve")
    ev.add_argument("op", choices=("add", "rename", "drop"))
    ev.add_argument("--store", required=True)
    ev.add_argument("--column", required=True)
    ev.add_argument("--type", default=None,
                    help="Spark DDL type for add, e.g. double")
    ev.add_argument("--default", default=None,
                    help="JSON scalar default for add (pre-existing "
                         "partitions read this value)")
    ev.add_argument("--to", default=None, help="new name for rename")
    ev.set_defaults(fn=cmd_evolve)

    exp = sub.add_parser("export")
    exp.add_argument("--store", required=True)
    exp.add_argument("--out", required=True)
    exp.add_argument("--columns", default=None,
                     help="comma-separated projection (default: all)")
    exp.add_argument("--where", default=None,
                     help='SQL predicate, e.g. "n_tok > 4096" — pruned '
                          "against manifest stats/blooms before decode")
    exp.add_argument("--encrypt-key-hex", default=None)
    exp.add_argument("--column-keys-hex", default=None)
    exp.set_defaults(fn=cmd_export)

    ver = sub.add_parser("verify")
    ver.add_argument("--input", required=True)
    ver.add_argument("--store", required=True)
    ver.add_argument("--encrypt-key-hex", default=None)
    ver.add_argument("--column-keys-hex", default=None)
    ver.set_defaults(fn=cmd_verify)

    pqe = sub.add_parser("pq-export")
    pqe.add_argument("--store", required=True)
    pqe.add_argument("--out", required=True)
    pqe.add_argument("--compression", default="zstd")
    pqe.set_defaults(fn=cmd_pq_export)

    pqi = sub.add_parser("pq-import")
    pqi.add_argument("--src", required=True)
    pqi.add_argument("--store", required=True)
    pqi.set_defaults(fn=cmd_pq_import)

    pqw = sub.add_parser("pq-write")
    pqw.add_argument("--src", required=True)
    pqw.add_argument("--out", required=True)
    pqw.add_argument("--schema-json", required=True)
    pqw.add_argument("--compression", default="zstd")
    pqw.add_argument("--partitions", type=int, default=0)
    pqw.set_defaults(fn=cmd_pq_write)

    pqs = sub.add_parser("pq-schema")
    pqs.add_argument("path")
    pqs.set_defaults(fn=cmd_pq_schema)

    pqf = sub.add_parser("pq-fsck")
    pqf.add_argument("path")
    pqf.add_argument("--deep", action="store_true")
    pqf.set_defaults(fn=cmd_pq_fsck)

    args = ap.parse_args()
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
