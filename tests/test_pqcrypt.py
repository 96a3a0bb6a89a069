"""Parquet Modular Encryption (pqcrypt.py + pqwriter/pqinterop hooks):
AES_GCM_V1, encrypted footer, footer + per-column keys, AAD prefixes —
the reference's encrypt_* example surfaces. External referee both ways:
pyarrow's CryptoFactory decrypts engine ciphertext and the engine
decrypts pyarrow ciphertext."""

from __future__ import annotations

import base64
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.parquet.encryption as pe
import pytest

from parquet_go_spark import pqcrypt as C
from parquet_go_spark import pqinterop as P
from parquet_go_spark import pqwriter as W

# distinct master-key ids PER TEST: pyarrow's KeyToolkit caches
# unwrapped DEKs process-globally keyed by master key id, so tests
# sharing an id with different DEKs would poison each other under
# randomized test order ("Failed decryption finalization")
MK = {"kf": "0123456789012345", "kc": "abcdefghijklmnop",
      "kf2": "0123456789012345", "kc2": "abcdefghijklmnop"}


class _KMS(pe.KmsClient):
    def __init__(self, config):
        super().__init__()
        self.m = config.custom_kms_conf

    def wrap_key(self, key_bytes, mkid):
        return base64.b64encode(key_bytes + self.m[mkid].encode())

    def unwrap_key(self, wrapped, mkid):
        mkb = self.m[mkid].encode()
        d = base64.b64decode(wrapped)
        assert d[-len(mkb):] == mkb
        return d[:-len(mkb)]


def _retriever(kmd: bytes) -> bytes:
    j = json.loads(kmd)
    w = base64.b64decode(j["wrappedDEK"])
    m = MK[j["masterKeyID"]].encode()
    return w[:-len(m)]


def _kmd(dek: bytes, mkid: str, footer: bool) -> bytes:
    return json.dumps({
        "keyMaterialType": "PKMT1", "internalStorage": True,
        "isFooterKey": footer, "kmsInstanceID": "DEFAULT",
        "kmsInstanceURL": "DEFAULT", "masterKeyID": mkid,
        "wrappedDEK": base64.b64encode(
            dek + MK[mkid].encode()).decode(),
        "doubleWrapping": False}).encode()


def _tbl(n=3000):
    return pa.table({
        "x": pa.array(np.arange(n, dtype=np.int64)),
        "y": pa.array([None if i % 9 == 0 else f"s{i % 53}"
                       for i in range(n)]),
        "e": pa.array([[float(np.float32(j)) for j in range(i % 4)]
                       for i in range(n)], pa.list_(pa.float32())),
    })


def test_engine_roundtrip_column_keys_and_aad(tmp_path):
    tbl = _tbl()
    f = str(tmp_path / "e.parquet")
    kf, kc = os.urandom(16), os.urandom(16)
    enc = C.Encrypt(footer_key=kf, column_keys={"x": (kc, b"")},
                    aad_prefix=b"tenant-7")
    W.write_table(tbl, f, compression="zstd", row_group_rows=1100,
                  page_rows=400, encryption=enc)
    assert open(f, "rb").read(4) == b"PARE"
    dec = C.Decrypt(footer_key=kf, column_keys={"x": kc},
                    aad_prefix=b"tenant-7")
    t = P.decode_table(f, decryption=dec)
    for c in tbl.column_names:
        assert t[c].to_pylist() == tbl[c].to_pylist(), c
    from cryptography.exceptions import InvalidTag

    with pytest.raises(InvalidTag):
        P.decode_table(f, decryption=C.Decrypt(
            footer_key=kf, column_keys={"x": os.urandom(16)},
            aad_prefix=b"tenant-7"))
    with pytest.raises(InvalidTag):
        P.decode_table(f, decryption=C.Decrypt(
            footer_key=kf, column_keys={"x": kc},
            aad_prefix=b"tenant-8"))
    with pytest.raises(ValueError, match="encrypted footer"):
        P.decode_table(f)          # no keys supplied


def _nested_tbl(n=1200):
    return pa.table({
        "x": pa.array(np.arange(n, dtype=np.int64)),
        "st": pa.array([None if i % 7 == 0 else
                        {"a": i, "b": None if i % 3 == 0 else f"b{i}"}
                        for i in range(n)],
                       pa.struct([("a", pa.int64()), ("b", pa.string())])),
        "m": pa.array([None if i % 5 == 0 else
                       [(f"k{j}", i + j) for j in range(i % 3)]
                       for i in range(n)], pa.map_(pa.string(), pa.int64())),
        "ll": pa.array([None if i % 11 == 0 else
                        [list(range(j)) for j in range(i % 3)]
                        for i in range(n)], pa.list_(pa.list_(pa.int32()))),
        "e": pa.array([[float(j) for j in range(i % 4)] for i in range(n)],
                      pa.list_(pa.float32())),
    })


@pytest.mark.parametrize("key_name", ["st", "m", "ll", "e", "st.b"])
def test_column_keys_on_nested_columns(tmp_path, key_name):
    """A column key named by a nested column seals every leaf of it (or,
    by dotted leaf path, that one leaf): a reader holding only the
    footer key cannot decode it, the keyed reader gets the input."""
    tbl = _nested_tbl()
    f = str(tmp_path / "n.parquet")
    kf, kc = os.urandom(16), os.urandom(16)
    W.write_table(tbl, f, row_group_rows=500, page_rows=200,
                  encryption=C.Encrypt(footer_key=kf,
                                       column_keys={key_name: (kc, b"")}))
    top = key_name.split(".")[0]
    with pytest.raises(ValueError, match="supply decryption keys"):
        P.decode_table(f, columns=[top],
                       decryption=C.Decrypt(footer_key=kf))
    got = P.decode_table(f, decryption=C.Decrypt(
        footer_key=kf, column_keys={key_name: kc}))
    assert got.to_pylist() == tbl.to_pylist()


def test_pyarrow_decrypts_engine_file(tmp_path):
    """The external proof of the write side: pyarrow's C++ decryptor
    accepts engine ciphertext (modules, AADs, footer layout).

    Distinct DEK per column: arrow's THREADED reader races a shared
    decryptor's AAD state when one key serves several column chunks
    (reproduced with spec-valid uniform files; single-threaded reads
    always pass — see test_uniform_mode_single_threaded_pyarrow)."""
    tbl = _tbl(2000)
    f = str(tmp_path / "x.parquet")
    kf = os.urandom(16)
    cks = {c: os.urandom(16) for c in ("x", "y", "e")}
    enc = C.Encrypt(footer_key=kf,
                    footer_key_metadata=_kmd(kf, "kf2", True),
                    column_keys={c: (k, _kmd(k, "kc2", False))
                                 for c, k in cks.items()})
    W.write_table(tbl, f, compression="snappy", encryption=enc)
    # fresh subprocess: pyarrow's KeyToolkit keeps process-global
    # DEK/KMS caches that other tests in this module populate with
    # different keys under the same fake-KMS ids; in-process reads
    # intermittently pick those up ("Couldn't set AAD" /
    # "Failed decryption finalization"). The engine's bytes are not
    # the variable — the captured failing files replay clean.
    import subprocess
    import sys

    script = f"""
import base64, json, sys
import pyarrow.parquet as pq
import pyarrow.parquet.encryption as pe
MK = {MK!r}
class KMS(pe.KmsClient):
    def __init__(self, config):
        super().__init__(); self.m = config.custom_kms_conf
    def wrap_key(self, kb, mkid):
        return base64.b64encode(kb + self.m[mkid].encode())
    def unwrap_key(self, w, mkid):
        mkb = self.m[mkid].encode(); d = base64.b64decode(w)
        assert d[-len(mkb):] == mkb
        return d[:-len(mkb)]
conf = pe.KmsConnectionConfig(custom_kms_conf=MK)
factory = pe.CryptoFactory(lambda c: KMS(c))
dprops = factory.file_decryption_properties(
    conf, pe.DecryptionConfiguration())
got = pq.ParquetFile({f!r}, decryption_properties=dprops).read()
assert got['x'].to_pylist() == list(range(2000))
assert got['y'].to_pylist()[1] == 's1'
assert got['e'].to_pylist()[3] is not None
try:
    pq.read_table({f!r})
    sys.exit(3)            # keyless read must refuse
except OSError:
    pass
print('EXTERNAL_DECRYPT_OK')
"""
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-800:]
    assert "EXTERNAL_DECRYPT_OK" in proc.stdout


def test_engine_decrypts_pyarrow_file(tmp_path):
    """The external proof of the read side: pyarrow-encrypted files
    (footer key + column key; unlisted columns stay plaintext) decode
    through the engine's module walk + key retriever."""
    conf = pe.KmsConnectionConfig(custom_kms_conf=MK)
    factory = pe.CryptoFactory(lambda c: _KMS(c))
    enc = pe.EncryptionConfiguration(
        footer_key="kf", column_keys={"kc": ["x"]},
        encryption_algorithm="AES_GCM_V1",
        double_wrapping=False, plaintext_footer=False)
    props = factory.file_encryption_properties(conf, enc)
    n = 1500
    tbl = pa.table({"x": pa.array(np.arange(n, dtype=np.int64)),
                    "y": pa.array([f"s{i % 37}" for i in range(n)])})
    f = str(tmp_path / "pa.parquet")
    with pq.ParquetWriter(f, tbl.schema,
                          encryption_properties=props) as w:
        w.write_table(tbl)
    t = P.decode_table(f, decryption=C.Decrypt(key_retriever=_retriever))
    assert t["x"].to_pylist() == tbl["x"].to_pylist()
    assert t["y"].to_pylist() == tbl["y"].to_pylist()


def test_encryption_refuses_blooms_and_bad_keys(tmp_path):
    tbl = _tbl(500)
    with pytest.raises(ValueError, match="bloom"):
        W.write_table(tbl, str(tmp_path / "b.parquet"),
                      encryption=C.Encrypt(footer_key=os.urandom(16)),
                      bloom_columns=["x"])
    with pytest.raises(ValueError, match="AES key"):
        C.Encrypt(footer_key=b"short")



def test_uniform_mode_single_threaded_pyarrow(tmp_path):
    """ENCRYPTION_WITH_FOOTER_KEY for every column (the reference's
    encrypt_read_uniform surface): pyarrow decrypts it single-threaded.
    (Threaded arrow reads intermittently fail on ANY file where one DEK
    serves several chunks — an arrow-side decryptor race, reproduced
    20% of runs against engine files and avoided by pyarrow's own
    writer only because CryptoFactory always derives per-column DEKs.)"""
    import subprocess
    import sys

    tbl = _tbl(1500)
    f = str(tmp_path / "u.parquet")
    kf = os.urandom(16)
    enc = C.Encrypt(footer_key=kf,
                    footer_key_metadata=_kmd(kf, "kf2", True))
    W.write_table(tbl, f, compression="zstd", encryption=enc)
    script = f"""
import base64, sys
import pyarrow.parquet as pq
import pyarrow.parquet.encryption as pe
MK = {MK!r}
class KMS(pe.KmsClient):
    def __init__(self, config):
        super().__init__(); self.m = config.custom_kms_conf
    def wrap_key(self, kb, mkid):
        return base64.b64encode(kb + self.m[mkid].encode())
    def unwrap_key(self, w, mkid):
        mkb = self.m[mkid].encode(); d = base64.b64decode(w)
        return d[:-len(mkb)]
conf = pe.KmsConnectionConfig(custom_kms_conf=MK)
factory = pe.CryptoFactory(lambda c: KMS(c))
dprops = factory.file_decryption_properties(
    conf, pe.DecryptionConfiguration())
t = pq.ParquetFile({f!r}, decryption_properties=dprops).read(
    use_threads=False)
assert t['x'].to_pylist() == list(range(1500))
print('UNIFORM_OK')
"""
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-800:]
    assert "UNIFORM_OK" in proc.stdout


def test_plaintext_footer_mode(tmp_path):
    """PAR1 + signed cleartext footer + encrypted columns (the
    reference's encrypt_read_plaintext_footer surface). Keyless readers
    see metadata and plaintext columns; encrypted chunks refuse without
    keys; the footer signature catches a wrong footer key; pyarrow
    reads engine ptf files and the engine reads pyarrow's."""
    import subprocess
    import sys

    n = 1200
    tbl = pa.table({"x": pa.array(np.arange(n, dtype=np.int64)),
                    "y": pa.array([f"s{i % 37}" for i in range(n)])})
    kf, kc = os.urandom(16), os.urandom(16)
    enc = C.Encrypt(footer_key=kf,
                    footer_key_metadata=_kmd(kf, "kf", True),
                    column_keys={"x": (kc, _kmd(kc, "kc", False)),
                                 "y": (kc, _kmd(kc, "kc", False))},
                    plaintext_footer=True)
    f = str(tmp_path / "ptf.parquet")
    W.write_table(tbl, f, compression="zstd", encryption=enc)
    assert open(f, "rb").read(4) == b"PAR1"
    # keyless metadata access is the point of the mode
    md = pq.ParquetFile(f).metadata
    assert md.num_rows == n and md.num_columns == 2
    t = P.decode_table(f, decryption=C.Decrypt(
        footer_key=kf, column_keys={"x": kc, "y": kc}))
    assert t["x"].to_pylist() == tbl["x"].to_pylist()
    with pytest.raises(ValueError, match="signature"):
        P.decode_table(f, decryption=C.Decrypt(
            footer_key=os.urandom(16), column_keys={"x": kc, "y": kc}))
    script = f"""
import base64, sys
import pyarrow.parquet as pq
import pyarrow.parquet.encryption as pe
MK = {MK!r}
class KMS(pe.KmsClient):
    def __init__(self, config):
        super().__init__(); self.m = config.custom_kms_conf
    def wrap_key(self, kb, mkid):
        return base64.b64encode(kb + self.m[mkid].encode())
    def unwrap_key(self, w, mkid):
        mkb = self.m[mkid].encode(); d = base64.b64decode(w)
        return d[:-len(mkb)]
conf = pe.KmsConnectionConfig(custom_kms_conf=MK)
factory = pe.CryptoFactory(lambda c: KMS(c))
dprops = factory.file_decryption_properties(
    conf, pe.DecryptionConfiguration())
t = pq.ParquetFile({f!r}, decryption_properties=dprops).read(
    use_threads=False)
assert t['x'].to_pylist() == list(range({n}))
print('PTF_OK')
"""
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-800:]
    assert "PTF_OK" in proc.stdout


def test_engine_reads_pyarrow_plaintext_footer(tmp_path):
    conf = pe.KmsConnectionConfig(custom_kms_conf=MK)
    factory = pe.CryptoFactory(lambda c: _KMS(c))
    enc = pe.EncryptionConfiguration(
        footer_key="kf", column_keys={"kc": ["x"]},
        encryption_algorithm="AES_GCM_V1",
        double_wrapping=False, plaintext_footer=True)
    props = factory.file_encryption_properties(conf, enc)
    n = 800
    tbl = pa.table({"x": pa.array(np.arange(n, dtype=np.int64)),
                    "y": pa.array([f"s{i % 37}" for i in range(n)])})
    f = str(tmp_path / "pa_ptf.parquet")
    with pq.ParquetWriter(f, tbl.schema,
                          encryption_properties=props) as w:
        w.write_table(tbl)
    t = P.decode_table(f, decryption=C.Decrypt(key_retriever=_retriever))
    assert t["x"].to_pylist() == tbl["x"].to_pylist()
    assert t["y"].to_pylist() == tbl["y"].to_pylist()
    # keyless: plaintext column readable, encrypted column refuses
    t2 = P.decode_table(f, columns=["y"])
    assert t2["y"].to_pylist() == tbl["y"].to_pylist()
    with pytest.raises(ValueError, match="encrypted"):
        P.decode_table(f, columns=["x"])


def test_encryption_disables_page_index(tmp_path):
    """PageIndex modules are not sealed (same scope rule as blooms) —
    the writer must auto-disable the index under encryption rather
    than leak per-page plaintext bounds next to sealed pages."""
    import numpy as np

    from parquet_go_spark import pqinterop as P

    key = bytes(range(16))
    t = pa.table({"k": pa.array(np.arange(100, dtype=np.int64))})
    p = str(tmp_path / "e.parquet")
    W.write_table(t, p, encryption=C.Encrypt(footer_key=key),
                  page_rows=20)
    meta, ctx = P.read_footer_ex(p, C.Decrypt(footer_key=key))
    cc = P.column_chunks(meta, ctx)[0][0]
    assert cc.ci_off is None and cc.oi_off is None


def test_plaintext_footer_redacts_all_stats_families(tmp_path):
    """Reference security guidance: encrypted columns under
    plaintext-footer mode must strip Statistics (12), SizeStatistics
    (16) AND GeospatialStatistics (17) from the cleartext
    ColumnMetaData — they live only in the sealed module."""
    import numpy as np

    from parquet_go_spark import geo, pqcrypt, pqinterop, pqwriter

    x = np.arange(20, dtype=np.float64)
    t = pa.table({
        "s": pa.array([None if i % 5 == 0 else f"v{i}"
                       for i in range(20)], pa.string()),
        "g": geo.wkb_points(x, x * 2).cast(pa.binary()),
    })
    key = bytes(range(16))
    enc = pqcrypt.Encrypt(
        footer_key=key, plaintext_footer=True,
        column_keys={"s": (key, b"k"), "g": (key, b"k")})
    p = str(tmp_path / "ptf.parquet")
    pqwriter.write_table(t, p, encryption=enc,
                         logical_types={"g": "geometry"})
    # raw plaintext footer: no 12/16/17 on any encrypted column
    meta = pqinterop.read_footer(p)
    for cc in meta[4][0][1]:
        md = cc[3]
        assert 12 not in md and 16 not in md and 17 not in md, md
    # with keys, the decode still works and values are exact
    dec = pqinterop.decode_table(
        p, decryption=pqcrypt.Decrypt(
            footer_key=key, column_keys={"s": key, "g": key}))
    assert dec.column("s").to_pylist() == t.column("s").to_pylist()
    assert dec.column("g").to_pylist() == t.column("g").to_pylist()


def test_gcm_ctr_v1_both_directions(tmp_path):
    """AES_GCM_CTR_V1 (the reference's EncryptionAESGCMCTRV1): page
    bodies AES-CTR (unauthenticated — the reference README's explicit
    caveat), metadata modules GCM. Engine self-roundtrip, engine reads
    pyarrow's CTR ciphertext, and pyarrow decrypts engine CTR bytes
    (fresh subprocess, same KeyToolkit-cache hygiene as the GCM
    test)."""
    tbl = _tbl(1500)
    # engine writes, engine reads
    kf = os.urandom(16)
    cks = {c: os.urandom(16) for c in ("x", "y", "e")}
    enc = C.Encrypt(footer_key=kf,
                    footer_key_metadata=_kmd(kf, "kf2", True),
                    column_keys={c: (k, _kmd(k, "kc2", False))
                                 for c, k in cks.items()},
                    algorithm="AES_GCM_CTR_V1")
    f = str(tmp_path / "ctr.parquet")
    W.write_table(tbl, f, compression="snappy", encryption=enc)
    got = P.decode_table(f, decryption=C.Decrypt(
        footer_key=kf, column_keys=cks))
    assert got["x"].to_pylist() == tbl["x"].to_pylist()
    assert got["y"].to_pylist() == tbl["y"].to_pylist()

    # pyarrow writes CTR, engine reads
    conf = pe.KmsConnectionConfig(custom_kms_conf=MK)
    factory = pe.CryptoFactory(lambda c: _KMS(c))
    pa_enc = pe.EncryptionConfiguration(
        footer_key="kf", column_keys={"kc": ["x", "y"]},
        encryption_algorithm="AES_GCM_CTR_V1",
        double_wrapping=False, plaintext_footer=False)
    props = factory.file_encryption_properties(conf, pa_enc)
    f2 = str(tmp_path / "pactr.parquet")
    with pq.ParquetWriter(f2, tbl.schema,
                          encryption_properties=props) as w:
        w.write_table(tbl)
    t2 = P.decode_table(f2, decryption=C.Decrypt(
        key_retriever=_retriever))
    assert t2["x"].to_pylist() == tbl["x"].to_pylist()
    assert t2["y"].to_pylist() == tbl["y"].to_pylist()

    # pyarrow decrypts engine CTR bytes (subprocess for cache hygiene)
    import subprocess
    import sys

    script = f"""
import base64, json, sys
import pyarrow.parquet as pq
import pyarrow.parquet.encryption as pe
MK = {MK!r}
class KMS(pe.KmsClient):
    def __init__(self, config):
        super().__init__(); self.m = config.custom_kms_conf
    def wrap_key(self, kb, mkid):
        return base64.b64encode(kb + self.m[mkid].encode())
    def unwrap_key(self, w, mkid):
        mkb = self.m[mkid].encode(); d = base64.b64decode(w)
        assert d[-len(mkb):] == mkb
        return d[:-len(mkb)]
conf = pe.KmsConnectionConfig(custom_kms_conf=MK)
factory = pe.CryptoFactory(lambda c: KMS(c))
dprops = factory.file_decryption_properties(
    conf, pe.DecryptionConfiguration())
got = pq.ParquetFile({f!r}, decryption_properties=dprops).read()
assert got['x'].to_pylist() == list(range(1500))
print('EXTERNAL_CTR_DECRYPT_OK')
"""
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-800:]
    assert "EXTERNAL_CTR_DECRYPT_OK" in proc.stdout


def test_footer_key_reads_columns_without_a_column_key(tmp_path):
    """A reader holding only the footer key decodes every column but the
    one sealed with its own key; reading that one fails, and a wrong
    column key still fails authentication."""
    from cryptography.exceptions import InvalidTag

    tbl = pa.table({"a": pa.array(np.arange(300, dtype=np.int64)),
                    "b": pa.array([f"s{i}" for i in range(300)])})
    f = str(tmp_path / "k.parquet")
    kf, kc = os.urandom(16), os.urandom(16)
    W.write_table(tbl, f, row_group_rows=100, encryption=C.Encrypt(
        footer_key=kf, column_keys={"b": (kc, b"")}))
    got = P.decode_table(f, columns=["a"],
                         decryption=C.Decrypt(footer_key=kf))
    assert got.column("a").to_pylist() == tbl.column("a").to_pylist()
    with pytest.raises(ValueError, match="'b' is encrypted"):
        P.decode_table(f, columns=["b"],
                       decryption=C.Decrypt(footer_key=kf))
    with pytest.raises(InvalidTag):
        P.decode_table(f, columns=["a"], decryption=C.Decrypt(
            footer_key=kf, column_keys={"b": os.urandom(16)}))
    both = P.decode_table(f, decryption=C.Decrypt(
        footer_key=kf, column_keys={"b": kc}))
    assert both.to_pylist() == tbl.to_pylist()
