"""Store maintenance verbs: encryption key rotation and an integrity
walk (fsck).

Key rotation (the Parquet modular-encryption / Iceberg key-rotation
story): every frame's GCM envelope peels off under the old key chain
and re-seals under the new one WITHOUT decompressing or decoding —
rotation cost is AES throughput over stored bytes, not an encode job.
Runs distributed (mapInArrow over blob rows; the driver never sees a
key'd byte) and writes a NEW store directory, compact_store's crash
discipline: the destination either fully exists or is sweep food, the
source is never touched. AAD prefixes rebind too (SealOptions on both
sides). Paged (PGSP) blobs rotate page frames individually.

fsck_store: the reference's defensive-read posture as a maintenance
command — walk every (partition, column) chunk distributed, parse the
header, check the CRC, authenticate the seal when a key chain is
given, optionally full-decode and compare counts against the manifest
row. Returns a findings frame; an empty result is a clean bill."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import chunk as chunkmod
from .. import frame as framemod
from .. import keys as keysmod
from .store import BLOB_SCHEMA, ManifestStore


def _rotate_blob(blob: bytes, old, new) -> bytes:
    pages = chunkmod.split_pages(blob)
    if pages is None:
        return framemod.rotate_frame_key(blob, old, new)
    import struct

    frames = [framemod.rotate_frame_key(p, old, new) for p in pages]
    head = chunkmod.PAGE_MAGIC + struct.pack("<I", len(frames))
    head += struct.pack(f"<{len(frames)}Q", *(len(f) for f in frames))
    return head + b"".join(frames)


def rotate_store_keys(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    old_key: bytes | None = None,
    new_key: bytes | None = None,
    old_column_keys: dict[str, bytes] | None = None,
    new_column_keys: dict[str, bytes] | None = None,
    old_aad_prefix: bytes = b"",
    new_aad_prefix: bytes = b"",
) -> ManifestStore:
    """Re-seal every chunk of ``src_path`` under the new key chain into
    ``dst_path`` (new store; source untouched). None on the new side
    unseals to plaintext; None on the old side requires plaintext.

    Rotation preserves the store EXACTLY — same visible rows, same
    snapshots: delete state (positional tombstones + equality-delete
    key tables, both plaintext parquet under ``deletes/``) is copied
    verbatim, and open branches refuse (their staged blobs live outside
    the main blob set and would keep the old keys)."""
    from ..sources.pgs_datasource import _require_no_branches

    src = ManifestStore(src_path)
    if os.path.isdir(dst_path):
        raise ValueError(f"rotate destination {dst_path} already exists")
    _require_no_branches(src.meta(), "rotate_store_keys")

    oc, nc = old_column_keys or {}, new_column_keys or {}
    ok, nk = old_key, new_key
    oa, na = old_aad_prefix, new_aad_prefix

    def rot(it):
        for b in it:
            cols = b.column("col").to_pylist()
            blobs = b.column("blob").to_pylist()
            out = []
            for c, blob in zip(cols, blobs):
                o = keysmod.key_for(c, oc, ok)
                n = keysmod.key_for(c, nc, nk)
                out.append(_rotate_blob(
                    blob,
                    framemod.SealOptions(key=o, aad_prefix=oa)
                    if o is not None else None,
                    framemod.SealOptions(key=n, aad_prefix=na)
                    if n is not None else None,
                ))
            import pyarrow as pa

            # plaintext<->sealed transitions change every frame by the
            # GCM envelope (nonce+tag); keep the manifest's encoded_size
            # true to the stored bytes (size_stats is decoded-value
            # based and unaffected)
            b = b.set_column(
                b.schema.get_field_index("encoded_size"), "encoded_size",
                pa.array([len(x) for x in out], type=pa.int64()),
            )
            yield b.set_column(
                b.schema.get_field_index("blob"), "blob",
                pa.array(out, type=pa.binary()),
            )

    dst = ManifestStore(dst_path)
    dst.append_blobs(src.blobs(spark).mapInArrow(rot, BLOB_SCHEMA))
    # delete state (tombstone + eq-delete files are plaintext parquet,
    # not sealed frames — data-key rotation does not touch them) copies
    # BEFORE the meta write, which is the commit point
    src_deletes = os.path.join(src_path, "deletes")
    if os.path.isdir(src_deletes):
        shutil.copytree(src_deletes, os.path.join(dst_path, "deletes"))
    meta = dict(src.meta())
    meta["encrypted"] = nk is not None or bool(nc)
    meta["column_key_cols"] = sorted(nc)
    dst.write_meta(**meta)
    return dst


def fsck_store(
    spark: SparkSession,
    path: str,
    encryption_key: bytes | None = None,
    column_keys: dict[str, bytes] | None = None,
    deep: bool = False,
    aad_prefix: bytes = b"",
) -> DataFrame:
    """Integrity findings for every chunk: (part_id, col, status,
    detail). Empty frame = clean. Without keys, encrypted chunks verify
    header+CRC only (the envelope authenticates at decode); with keys,
    the seal is authenticated; ``deep`` additionally full-decodes and
    compares the value count against the stored header. ``aad_prefix``
    must match the seal-time prefix for stores rotated/written under a
    non-empty AAD — otherwise every healthy sealed chunk reports
    'corrupt' (GCM auth failure)."""
    ck, fk, ap = column_keys or {}, encryption_key, aad_prefix

    def check(it):
        import pyarrow as pa

        for b in it:
            pids = b.column("part_id").to_pylist()
            cols = b.column("col").to_pylist()
            counts = b.column("count").to_pylist()
            blobs = b.column("blob").to_pylist()
            o_pid, o_col, o_st, o_dt = [], [], [], []
            for pid, c, cnt, blob in zip(pids, cols, counts, blobs):
                kb = keysmod.key_for(c, ck, fk)
                key = (framemod.ReadOptions(key=kb, aad_prefix=ap)
                       if kb is not None else None)
                status = detail = None
                try:
                    pages = chunkmod.split_pages(blob)
                    frames = pages if pages is not None else [blob]
                    enc = False
                    for fr in frames:
                        try:
                            framemod.read_frame(fr, key)
                        except ValueError as e:
                            if "no key was provided" in str(e):
                                enc = True  # CRC passed; seal unverified
                            else:
                                raise
                    if deep and not enc:
                        arr = (
                            chunkmod.decode_chunk(blob, key)
                            if pages is None
                            else chunkmod.decode_chunk_pages(blob, None, key)
                        )
                        if len(arr) != cnt:
                            status, detail = (
                                "count_mismatch",
                                f"decoded {len(arr)} != manifest {cnt}",
                            )
                    if status is None and enc and key is None:
                        status, detail = "sealed_unverified", (
                            "encrypted chunk: CRC ok, no key to "
                            "authenticate the seal"
                        )
                except Exception as e:  # noqa: BLE001 — findings, not crashes
                    status, detail = "corrupt", str(e)[:200]
                if status is not None:
                    o_pid.append(pid); o_col.append(c)
                    o_st.append(status); o_dt.append(detail)
            yield pa.record_batch(
                [
                    pa.array(o_pid, pa.int32()),
                    pa.array(o_col, pa.string()),
                    pa.array(o_st, pa.string()),
                    pa.array(o_dt, pa.string()),
                ],
                names=["part_id", "col", "status", "detail"],
            )

    store = ManifestStore(path)
    findings = store.blobs(spark).mapInArrow(
        check, "part_id int, col string, status string, detail string"
    )
    # duplicate (part_id, col) chunks = a double-committed append; the
    # readers would silently decode the same rows twice
    dupes = (
        store.manifest(spark).groupBy("part_id", "col").count()
        .filter(F.col("count") > 1)
        .select(
            "part_id", "col",
            F.lit("duplicate_chunk").alias("status"),
            F.concat(F.lit("chunk committed "), "count",
                     F.lit(" times")).alias("detail"),
        )
    )
    findings = findings.unionByName(dupes)
    # driver-side metadata cross-checks ride along as literal rows
    extra = []
    meta = store.meta()
    for d in meta.get("deletes") or []:
        name = d.get("name") if isinstance(d, dict) else None
        if name and not os.path.isdir(os.path.join(path, "deletes", name)):
            extra.append((-1, "_meta", "missing_delete_dir", name))
    # a manifest/ snapshot is an on-demand export for external readers
    # that no writer refreshes; the live blob projection is truth — flag
    # an export that has drifted from it
    mdir = store.manifest_dir
    if os.path.isdir(mdir) and any(
        f.endswith(".parquet") for f in os.listdir(mdir)
    ):
        snap = spark.read.parquet(mdir)
        # intersect columns so a snapshot from an older manifest layout
        # still compares on what it has
        common = [c for c in store.manifest(spark).columns
                  if c in snap.columns]
        live = store.manifest(spark).select(*common)
        snap = snap.select(*common)
        missing = live.exceptAll(snap).count()
        phantom = snap.exceptAll(live).count()
        if missing or phantom:
            extra.append((
                -1, "_manifest", "stale_manifest_snapshot",
                f"{missing} live chunk rows absent from the snapshot, "
                f"{phantom} snapshot rows with no live chunk "
                "(rerun write_manifest_snapshot)",
            ))
    if extra:
        findings = findings.unionByName(
            spark.createDataFrame(
                extra, "part_id int, col string, status string, detail string"
            )
        )
    return findings
