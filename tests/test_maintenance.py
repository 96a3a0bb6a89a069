"""Key rotation + fsck (operators/maintenance.py, frame.rotate_frame_key):
rotation never decodes yet produces byte-identical values under the new
key chain; fsck flags corruption and nothing else."""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pytest

from parquet_go_spark import chunk, frame
from parquet_go_spark.operators.maintenance import fsck_store, rotate_store_keys

K1 = bytes(range(16))
K2 = bytes(range(16, 32))


def test_rotate_frame_key_roundtrip_paths():
    arr = pa.array(np.arange(5000, dtype=np.int64) % 97)
    # sealed -> resealed
    blob, _ = chunk.encode_chunk(arr, encryption_key=K1)
    rot = frame.rotate_frame_key(blob, K1, K2)
    assert chunk.decode_chunk(rot, K2).equals(arr)
    with pytest.raises(ValueError):
        chunk.decode_chunk(rot, K1)
    # plaintext -> sealed
    plain, _ = chunk.encode_chunk(arr)
    sealed = frame.rotate_frame_key(plain, None, K2)
    assert chunk.decode_chunk(sealed, K2).equals(arr)
    with pytest.raises(ValueError):
        chunk.decode_chunk(sealed)
    # sealed -> plaintext
    unsealed = frame.rotate_frame_key(sealed, K2, None)
    assert chunk.decode_chunk(unsealed).equals(arr)
    # plaintext passthrough keeps bytes decodable and CRC valid
    passthru = frame.rotate_frame_key(plain, None, None)
    assert chunk.decode_chunk(passthru).equals(arr)
    # wrong old key fails authentication
    with pytest.raises(ValueError):
        frame.rotate_frame_key(blob, K2, K1)
    # tampered input fails the CRC before any crypto (XOR-flip so the
    # tamper is real whatever the nonce-dependent CRC byte happens to be)
    with pytest.raises(ValueError):
        frame.rotate_frame_key(blob[:-1] + bytes([blob[-1] ^ 0xFF]), K1, K2)


def test_rotate_paged_blob():
    arr = pa.array(np.arange(10_000, dtype=np.int64))
    blob, st = chunk.encode_chunk_paged(arr, page_rows=2048,
                                        encryption_key=K1)
    from parquet_go_spark.operators.maintenance import _rotate_blob

    rot = _rotate_blob(blob, frame.SealOptions(key=K1),
                       frame.SealOptions(key=K2))
    assert chunk.decode_chunk_pages(rot, None, K2).equals(arr)
    # page directory survives: a single-page read still works
    assert chunk.decode_chunk_pages(rot, [1], K2).equals(
        arr.slice(2048, 2048)
    )


def _encode_store(spark, tmp, key=None, list_col=True):
    from parquet_go_spark.operators.encode_job import encode_table
    from parquet_go_spark.sources.synth import token_sequences

    src = token_sequences(spark, 800, partitions=2)
    store, _ = encode_table(
        spark, src, tmp, target_tokens=100_000, resume=False,
        encryption_key=key,
    )
    return src, store


def test_rotate_store_end_to_end(spark):
    from parquet_go_spark.operators.decode_job import decode_table

    src_dir = tempfile.mkdtemp()
    dst_dir = src_dir + "_rot"
    try:
        src, _ = _encode_store(spark, src_dir, key=K1)
        rotate_store_keys(spark, src_dir, dst_dir,
                          old_key=K1, new_key=K2)
        dec = decode_table(
            spark, dst_dir, ["doc_id", "tokens", "n_tok", "source"],
            "doc_id string, tokens array<int>, n_tok int, source string",
            encryption_key=K2,
        )
        assert dec.exceptAll(src).count() == 0
        assert src.exceptAll(dec).count() == 0
        # old key is dead on the rotated store
        import pyspark

        with pytest.raises(Exception):
            decode_table(
                spark, dst_dir, ["n_tok"], "n_tok int",
                encryption_key=K1,
            ).collect()
        # fsck with the right key: clean
        assert fsck_store(spark, dst_dir, encryption_key=K2).count() == 0
        # fsck without keys: every chunk reports sealed_unverified only
        st = {r["status"] for r in fsck_store(spark, dst_dir).collect()}
        assert st == {"sealed_unverified"}
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(dst_dir, ignore_errors=True)


def test_rotate_preserves_delete_state_and_refuses_branches(spark):
    from parquet_go_spark.operators.deletes import delete_where
    from parquet_go_spark.sources.pgs_datasource import create_branch, register

    src_dir = tempfile.mkdtemp()
    dst_dir = src_dir + "_rot"
    br_dir = src_dir + "_br"
    try:
        _encode_store(spark, src_dir, key=K1)
        res = delete_where(spark, src_dir, "n_tok % 5 = 0",
                           read_options={"key_hex": K1.hex()})
        assert res["deleted_rows"] > 0
        rotate_store_keys(spark, src_dir, dst_dir, old_key=K1, new_key=K2)
        register(spark)
        exp = spark.read.format("pgs").option("key_hex", K1.hex()).load(src_dir)
        got = spark.read.format("pgs").option("key_hex", K2.hex()).load(dst_dir)
        # rotation preserves the store exactly: tombstones still apply
        assert got.filter("n_tok % 5 = 0").count() == 0
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0
        # and fsck's missing_delete_dir cross-check stays clean
        assert fsck_store(spark, dst_dir, encryption_key=K2).count() == 0
        # open branches refuse (staged blobs would keep the old keys);
        # branches need a pgs-writer store with commit history
        exp.limit(50).write.format("pgs").mode("append").save(br_dir)
        create_branch(br_dir, "wap")
        with pytest.raises(ValueError, match="branch"):
            rotate_store_keys(spark, br_dir, br_dir + "_x", new_key=K2)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(dst_dir, ignore_errors=True)
        shutil.rmtree(br_dir, ignore_errors=True)
        shutil.rmtree(br_dir + "_x", ignore_errors=True)


def test_fsck_honors_aad_prefix_and_rotation_fixes_sizes(spark):
    """Round-2 advice: (a) fsck on a store sealed under a non-empty AAD
    prefix must authenticate with that prefix instead of reporting every
    chunk corrupt; (b) rotation recomputes encoded_size so the manifest
    matches the stored blobs after plaintext<->sealed transitions."""
    from pyspark.sql import functions as F

    from parquet_go_spark.operators.store import ManifestStore

    src_dir = tempfile.mkdtemp()
    dst_dir = src_dir + "_rot"
    try:
        _encode_store(spark, src_dir, key=None)
        aad = b"tenant-42"
        rotate_store_keys(spark, src_dir, dst_dir,
                          old_key=None, new_key=K2, new_aad_prefix=aad)
        # (b) manifest encoded_size == stored blob length, every chunk
        mism = (
            ManifestStore(dst_dir).blobs(spark)
            .filter(F.length("blob") != F.col("encoded_size")).count()
        )
        assert mism == 0
        # (a) right key + right prefix: clean
        assert fsck_store(spark, dst_dir, encryption_key=K2,
                          aad_prefix=aad).count() == 0
        # right key, missing prefix: auth fails loudly (not silently ok)
        st = {r["status"] for r in
              fsck_store(spark, dst_dir, encryption_key=K2).collect()}
        assert st == {"corrupt"}
        # deep fsck authenticates + decodes under the prefix
        assert fsck_store(spark, dst_dir, encryption_key=K2,
                          aad_prefix=aad, deep=True).count() == 0
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(dst_dir, ignore_errors=True)


def test_fsck_flags_duplicate_chunks_and_stale_snapshot(spark):
    from parquet_go_spark.operators.store import ManifestStore

    src_dir = tempfile.mkdtemp()
    try:
        _encode_store(spark, src_dir, key=None)
        store = ManifestStore(src_dir)
        # writers leave no snapshot; export one to pin the drift check
        store.write_manifest_snapshot(spark)
        assert fsck_store(spark, src_dir).count() == 0
        # double-commit two chunks; the materialized snapshot now also
        # disagrees with the live blob projection
        dup = store.blobs(spark).limit(2).localCheckpoint()
        store.append_blobs(dup)
        st = {r["status"] for r in fsck_store(spark, src_dir).collect()}
        assert "duplicate_chunk" in st
        assert "stale_manifest_snapshot" in st
        # refreshing the snapshot clears the staleness finding only
        store.write_manifest_snapshot(spark)
        st = {r["status"] for r in fsck_store(spark, src_dir).collect()}
        assert st == {"duplicate_chunk"}
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def test_fsck_flags_corruption(spark):
    import glob
    import os

    src_dir = tempfile.mkdtemp()
    try:
        _encode_store(spark, src_dir, key=None)
        assert fsck_store(spark, src_dir, deep=True).count() == 0
        # corrupt ONE frame inside an intact parquet container: flip
        # bytes in the middle of a single blob value and rewrite
        import pyarrow as pa
        import pyarrow.parquet as pq

        # the first file with rows: a write whose first task gets no
        # group still leaves an empty part-00000
        f = next(
            p for p in sorted(glob.glob(
                os.path.join(src_dir, "blobs", "*.parquet")))
            if pq.ParquetFile(p).metadata.num_rows
        )
        t = pq.read_table(f)
        blobs = t.column("blob").to_pylist()
        b0 = bytearray(blobs[0])
        mid = len(b0) // 2
        b0[mid:mid + 8] = b"\xff" * 8
        blobs[0] = bytes(b0)
        t = t.set_column(
            t.schema.get_field_index("blob"), "blob",
            pa.array(blobs, pa.binary()),
        )
        pq.write_table(t, f, compression="none")
        # the hadoop .crc sidecar now disagrees with the rewritten file;
        # remove it so the FRAME-level check (not the fs layer) is what
        # flags the corruption
        crc = os.path.join(os.path.dirname(f),
                           "." + os.path.basename(f) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        bad = fsck_store(spark, src_dir).collect()
        assert len(bad) == 1 and bad[0]["status"] == "corrupt"
        assert "CRC" in bad[0]["detail"] or "mismatch" in bad[0]["detail"]
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
