"""Iceberg hidden partitioning: partition-transform specs over the
blob store (Iceberg spec §Partition Transforms — identity, bucket[N],
truncate[W], year/month/day/hour).

"Hidden" means the USER filters on the source column and the layout
prunes itself: the writer derives each row's partition tuple from the
declared transforms, and the reader maps source-column predicates back
through the transforms to partition ids — no stats, no blooms, no
caller knowledge of the layout. This is the metadata-only pruning
Iceberg performs from its manifest list; here the store meta records
the spec plus the per-partition transform tuple (both metadata-scale:
one entry per partition, exactly Iceberg's manifest granularity).

Engine-defined details (documented deviations, same role as Iceberg):

  * bucket[N] hashes with Spark's ``xxhash64`` (seed 42) instead of
    murmur3 — it is the hash this engine already twins bit-exactly in
    numpy (ndv.py/bloom.py), so the Python pruning side stays exact.
    The hashed-value path depends on the SOURCE type (Spark hashes
    int32 through a 4-byte path, int64 through 8-byte), so the spec
    records the source type at write.
  * day/hour derive from epoch micros by integer division (timezone-
    free); year/month apply to DATE columns via calendar arithmetic.

Transform monotonicity is what makes range predicates prunable:
identity/truncate/day/hour/year/month are monotone, so ``lo <= col <=
hi`` maps to ``t(lo) <= pv <= t(hi)``; bucket is not monotone and
constrains only equality/IN probes. Every prune is advisory-lossless
as usual — the exact predicate re-applies after decode, so a
conservative bound can only cost IO, never rows.

Plan shape at scale: transform columns are pure JVM expressions
(whole-stage codegen); the tuple -> part_id assignment is a driver
collect of DISTINCT TUPLES (partition-count scale — the same metadata
Iceberg's writer accumulates) broadcast back as a map join; the encode
itself is the standard one-shuffle encode_blobs_df path.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from datetime import date, datetime, timezone

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import bloom as bloommod
from .store import ManifestStore

_US_PER_HOUR = 3_600_000_000
_US_PER_DAY = 86_400_000_000
_EPOCH = date(1970, 1, 1)


@dataclass(frozen=True)
class Transform:
    kind: str          # identity | bucket | truncate | year|month|day|hour
    col: str
    arg: int | None = None   # N for bucket, W for truncate
    src: str = ""             # source type simpleString (set at write)


def parse_spec(spec: str) -> list[Transform]:
    """'bucket(4, user_id), day(ts)' -> [Transform...]."""
    out = []
    for part in [p.strip(", ") for p in spec.split(")") if p.strip(", ")]:
        name, _, inner = part.partition("(")
        args = [a.strip() for a in inner.split(",")]
        kind = name.strip()
        if kind in ("bucket", "truncate"):
            out.append(Transform(kind, args[1], int(args[0])))
        elif kind in ("identity", "year", "month", "day", "hour"):
            out.append(Transform(kind, args[0]))
        else:
            raise ValueError(f"unknown transform {kind!r}")
    return out


_MONOTONE = {"identity", "truncate", "year", "month", "day", "hour"}


def _micros(t: Transform):
    """Exact integer epoch-micros; NTZ goes through a timezone-free
    diff from the NTZ epoch (the rangejoin._micros rule — an ltz cast
    routes through the session zone)."""
    if t.src == "timestamp_ntz":
        return F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00', `{t.col}`)"
        )
    return F.unix_micros(F.col(t.col))


def _spark_value(t: Transform):
    c = F.col(t.col)
    if t.kind == "identity":
        return c
    if t.kind == "bucket":
        return F.pmod(F.xxhash64(c), F.lit(t.arg)).cast("long")
    if t.kind == "truncate":
        if t.src.startswith("string"):
            return F.substring(c, 1, t.arg)
        w = F.lit(t.arg)
        return (c - F.pmod(F.pmod(c, w) + w, w)).cast("long")
    if t.kind == "day":
        return F.floor(_micros(t) / F.lit(_US_PER_DAY)).cast("long")
    if t.kind == "hour":
        return F.floor(_micros(t) / F.lit(_US_PER_HOUR)).cast("long")
    if t.kind == "year":
        return (F.year(c) - F.lit(1970)).cast("long")
    if t.kind == "month":
        return ((F.year(c) - 1970) * 12 + F.month(c) - 1).cast("long")
    raise ValueError(t.kind)


def _py_value(t: Transform, v):
    """The Python twin of _spark_value for a scalar predicate value."""
    if t.kind == "identity":
        return v
    if t.kind == "bucket":
        if isinstance(v, str):
            h = int(bloommod.xxhash64_bytes([v.encode()], seed=42)[0])
        elif t.src in ("int", "smallint", "tinyint", "date"):
            # Spark's 4-byte hashInt path (ndv.py type dispatch)
            from ..ndv import _xxh64_u32

            h = int(_xxh64_u32(np.asarray([v], dtype=np.int32), 42)[0])
        else:
            h = int(bloommod.xxhash64_u64(
                np.asarray([v], dtype=np.int64), seed=42
            )[0])
        # the numpy twins return the hash as UNSIGNED u64; Spark's
        # xxhash64 is a SIGNED long, and pmod(h, N) differs between the
        # two views whenever N is not a power of two and the top bit is
        # set — reinterpret before reducing
        if h >= 1 << 63:
            h -= 1 << 64
        return ((h % t.arg) + t.arg) % t.arg
    if t.kind == "truncate":
        if isinstance(v, str):
            return v[: t.arg]
        return v - (((v % t.arg) + t.arg) % t.arg)
    if t.kind in ("day", "hour"):
        us = _epoch_us(v)
        div = _US_PER_DAY if t.kind == "day" else _US_PER_HOUR
        return us // div
    if t.kind == "year":
        return _as_date(v).year - 1970
    if t.kind == "month":
        d = _as_date(v)
        return (d.year - 1970) * 12 + d.month - 1
    raise ValueError(t.kind)


def _epoch_us(v) -> int:
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        delta = v - datetime(1970, 1, 1, tzinfo=timezone.utc)
        return (delta.days * _US_PER_DAY
                + delta.seconds * 1_000_000 + delta.microseconds)
    if isinstance(v, date):
        return (v - _EPOCH).days * _US_PER_DAY
    if isinstance(v, (int, np.integer)):
        return int(v)
    raise TypeError(f"cannot interpret {v!r} as a timestamp")


def _as_date(v) -> date:
    if isinstance(v, datetime):
        return v.date()
    if isinstance(v, date):
        return v
    raise TypeError(f"cannot interpret {v!r} as a date")


def encode_partitioned(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    spec: str | list[Transform],
    max_partitions: int = 65536,
    **encode_kw,
) -> ManifestStore:
    """Encode ``df`` with part ids assigned by the partition spec; the
    spec and the per-partition transform tuples are recorded in store
    meta for hidden_candidates to prune against."""
    from .encode_job import encode_blobs_df

    ts = parse_spec(spec) if isinstance(spec, str) else list(spec)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    ts = [Transform(t.kind, t.col, t.arg, types[t.col]) for t in ts]

    pv_cols = [f"_pv_{i}" for i in range(len(ts))]
    planned = df.select(
        "*", *[_spark_value(t).alias(n) for t, n in zip(ts, pv_cols)]
    )
    # Iceberg transforms map NULL source values to NULL partition values;
    # sort with a null-first key (None is not orderable against values)
    # and join null-safely below so all-null tuples still route.
    # the distinct-tuple collect is metadata-scale ONLY if the spec is
    # sane (Iceberg has the same failure mode: identity on a high-NDV
    # column). Bound it: fetch cap+1 rows and refuse, never OOM.
    distinct_rows = (planned.select(*pv_cols).distinct()
                     .limit(max_partitions + 1).collect())
    if len(distinct_rows) > max_partitions:
        raise ValueError(
            f"encode_partitioned: spec {spec!r} yields more than "
            f"{max_partitions} distinct partition tuples — pick a "
            "coarser transform (bucket/truncate/day) or raise "
            "max_partitions explicitly"
        )
    tuples = sorted(
        (tuple(r[n] for n in pv_cols) for r in distinct_rows),
        key=lambda tup: tuple((v is None, 0 if v is None else v)
                              for v in tup),
    )
    if not tuples:
        raise ValueError("encode_partitioned: input is empty")
    pid_map = {tup: i for i, tup in enumerate(tuples)}

    def _pv_sql_type(i: int) -> str:
        for tup in tuples:                    # first non-null wins
            if tup[i] is not None:
                return "string" if isinstance(tup[i], str) else "long"
        t = ts[i]                             # all-null: infer from spec
        return ("string"
                if t.kind in ("identity", "truncate")
                and t.src.startswith("string") else "long")

    mv_cols = [f"_mv_{i}" for i in range(len(ts))]
    map_df = spark.createDataFrame(
        [(*tup, pid) for tup, pid in pid_map.items()],
        ", ".join(f"{n} {_pv_sql_type(i)}" for i, n in enumerate(mv_cols))
        + ", part_id int",
    )
    cond = F.lit(True)
    for p, m in zip(pv_cols, mv_cols):
        cond = cond & planned[p].eqNullSafe(map_df[m])
    routed = planned.join(F.broadcast(map_df), cond).drop(*pv_cols, *mv_cols)

    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir, ignore_errors=True)
    store = ManifestStore(out_dir)
    store.append_blobs(
        encode_blobs_df(routed, encode_kw.pop("compression", "zstd"),
                        "auto", num_partitions=len(tuples), **encode_kw)
    )
    bloom_cols = encode_kw.get("bloom_cols")
    ndv_cols = encode_kw.get("ndv_cols")
    store.write_meta(
        bloom_cols=sorted(bloom_cols) if bloom_cols else [],
        page_rows=encode_kw.get("page_rows"),
        ndv_cols=sorted(ndv_cols) if ndv_cols else [],
        partition_spec=[
            {"kind": t.kind, "col": t.col, "arg": t.arg, "src": t.src}
            for t in ts
        ],
        partition_values={str(pid): list(tup)
                          for tup, pid in pid_map.items()},
        num_parts=len(tuples),
        schema_json=df.schema.jsonValue(),
    )
    return store


def hidden_candidates(store: ManifestStore, predicates: dict) -> list[int]:
    """Partition ids surviving the source-column predicates, from store
    meta alone (no manifest scan, no blob reads).

    ``predicates``: {col: ("eq", v) | ("in", [v...]) | ("range", lo, hi)}.
    Unconstrained transforms keep everything; bucket ignores ranges
    (not monotone). Advisory-lossless: callers re-apply exactly."""
    meta = store.meta()
    spec = [Transform(d["kind"], d["col"], d.get("arg"), d.get("src", ""))
            for d in meta["partition_spec"]]
    pvals = {int(k): tuple(v) for k, v in meta["partition_values"].items()}

    keep = set(pvals)
    for i, t in enumerate(spec):
        pred = predicates.get(t.col)
        if pred is None:
            continue
        op = pred[0]
        if op == "eq":
            allowed = {_py_value(t, pred[1])}
            keep = {p for p in keep if pvals[p][i] in allowed}
        elif op == "in":
            allowed = {_py_value(t, v) for v in pred[1]}
            keep = {p for p in keep if pvals[p][i] in allowed}
        elif op == "range":
            if t.kind not in _MONOTONE:
                continue
            lo, hi = _py_value(t, pred[1]), _py_value(t, pred[2])
            # a None tuple value means every row in that partition has
            # NULL in the source column — no predicate can match it
            keep = {p for p in keep
                    if pvals[p][i] is not None and lo <= pvals[p][i] <= hi}
        else:
            raise ValueError(f"unknown predicate {op!r}")
    return sorted(keep)


# -------------------------------------------------------------- driver query

_HP_LO = datetime(2024, 1, 10, tzinfo=timezone.utc)
_HP_HI = datetime(2024, 1, 17, 23, 59, 59, tzinfo=timezone.utc)
_HP_USER = 7


def hidden_partition_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events hidden-partitioned by (day(ts), bucket(4, user_id)): a
    time-range + user point predicate prunes partitions from the spec
    alone, then the exact predicate re-applies on the decoded rows."""
    from .pruned import _decode_parts, _schema_of

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    cols = ev.columns
    schema, atypes = _schema_of(ev, cols)
    out = os.path.join("/tmp", f"pgs_hidden_{os.path.basename(sf_dir)}")
    store = encode_partitioned(
        spark, ev, out, "day(ts), bucket(4, user_id)"
    )
    cand = hidden_candidates(store, {
        "ts": ("range", _HP_LO, _HP_HI),
        "user_id": ("eq", _HP_USER),
    })
    dec = _decode_parts(spark, store, cand, cols, schema, atypes)
    return dec.filter(
        F.expr(
            "ts >= TIMESTAMP_NTZ'2024-01-10 00:00:00' AND "
            "ts <= TIMESTAMP_NTZ'2024-01-17 23:59:59'"
        )
        & (F.col("user_id") == _HP_USER)
    )


HIDDEN_PARTITION_ORACLE = f"""
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <= TIMESTAMP '2024-01-17 23:59:59'
  AND user_id = {_HP_USER}
"""
