"""Spark Python Data Source over the PGS blob store: the idiomatic
front door — ``spark.read.format("pgs").load(dir)`` and
``df.write.format("pgs").save(dir)`` — wrapping the encode/decode/prune
machinery so a store behaves like any other Spark table source.

This is the read-API surface of the reference (reader/reader.go NewParquetReader
-> Read/ReadByNumber, SURVEY.md §3.2) re-expressed as Spark's DataSource V2
Python API (pyspark 4.x ``pyspark.sql.datasource``), and the writer is the
``writer/writer.go`` NewParquetWriter/Write/WriteStop lifecycle as a
DataSourceArrowWriter (task-local encode, atomic driver-side commit):

  * schema        — self-describing: the store's recorded schema (meta
                    ``schema_json``), or inferred by decoding one
                    partition's chunks when reading a store written before
                    the field existed (frames self-describe their types).
  * projection    — pass ``.schema(subset)`` or ``.option("columns", csv)``;
                    only those columns' chunks are fetched (the parquet
                    scan under the store never reads pruned ``blob`` bytes;
                    reader/reader.go:126-138 per-leaf buffers analog).
  * pushFilters   — EqualTo/EqualNullSafe/In/range/StringStartsWith/
                    IsNull/IsNotNull prune *partitions* on the driver
                    from manifest stats ([vmin,vmax] + null_count
                    ColumnIndex analog) and split-block blooms (BloomFilterCheck,
                    reader/bloom.go:61-126) before any task launches. The
                    pruning is advisory-lossless: every filter is also
                    returned to Spark for exact post-evaluation, so a
                    wide-bounds store simply prunes nothing.
  * read          — one InputPartition per surviving part_id; each task
                    fetches only its own (part_id, col) blob rows via a
                    predicate-pushed parquet scan and decodes them with the
                    vectorized numpy kernels, yielding Arrow batches.
  * write         — one upstream Spark partition = one store partition
                    (the "one row group per flush" contract,
                    writer/ops.go:129-281); tasks encode locally and write
                    invisible ``_tmp-*`` files, the driver commit renames
                    them into place (atomic on a posix dir; an Iceberg
                    deployment swaps this for a catalog commit, the same
                    single swap point store.py documents). Token-weighted
                    skew planning stays in ``encode_table`` — this writer
                    honors whatever partitioning the caller declared.

  * time travel   — ``.option("as_of_commit", k)`` reads a batch-writer
                    store exactly as of its k-th commit (1-based): append
                    part ids are strictly increasing, so each commit's
                    cumulative part-id cap (meta ``history``) is an exact
                    metadata filter — the batch twin of the stream sink's
                    ``as_of_batch``. Overwrite starts a new timeline.
                    ``.option("as_of_timestamp", iso_or_epoch_us)``
                    resolves to the latest snapshot committed at or
                    before that wall-clock instant (commit times ride the
                    lockstep meta ``history_ts``; pre-timestamp commits
                    refuse rather than guess).

At 100 TB: planning reads only manifest columns (never blob bytes), the
per-task scan pushes ``part_id = N`` into parquet row-group pruning, and no
driver collect ever touches row data — candidate part ids are the only
thing that crosses to the driver, exactly like the footer read.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_MANIFEST_COLUMNS = ["part_id", "col", "vmin", "vmax", "count", "null_count"]
_READ_BATCH_ROWS = 32768

# Virtual read columns (option ``with_pos``): the partition id and the
# row's ordinal within its partition. Together they are the store's row
# address — the coordinate system positional tombstones (delete_where)
# record. Never stored as chunks; synthesized at read time.
_VIRTUAL_COLS = ("_pgs_part", "_pgs_pos", "_pgs_commit")

#: change-event discriminator column (changelog reads + change-feed
#: streams; re-exported by operators.changes)
CHANGE_COL = "_change_type"


# --------------------------------------------------------------- store access

def _blobs_dir(path: str) -> str:
    return os.path.join(path, "blobs")


def _meta(path: str) -> dict:
    p = os.path.join(path, "_store_meta.json")
    if not os.path.isfile(p):
        return {}
    with open(p, encoding="utf-8") as f:
        return json.load(f)


def _write_meta(path: str, meta: dict) -> None:
    """Atomic replace — a concurrent reader never sees a torn file."""
    p = os.path.join(path, "_store_meta.json")
    tmp = p + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    os.replace(tmp, p)


def _meta_fingerprint(path: str) -> str:
    """Content hash of the store meta, the optimistic-concurrency token
    (an Iceberg catalog CAS without the catalog): a committer captures
    it when it starts and refuses its own commit if the meta changed
    underneath — turning the documented single-writer assumption into a
    DETECTED violation instead of a silent clobber. '' = no meta yet."""
    import hashlib

    p = os.path.join(path, "_store_meta.json")
    try:
        with open(p, "rb") as f:
            return hashlib.sha1(f.read()).hexdigest()
    except FileNotFoundError:
        return ""


def _check_commit_token(path: str, token: str, op: str) -> None:
    if _meta_fingerprint(path) != token:
        raise RuntimeError(
            f"concurrent store mutation detected: the meta of {path} "
            f"changed while this {op} ran; nothing was committed — "
            "re-run against the current state (stores are single-writer; "
            "an Iceberg catalog commit is the multi-writer upgrade path)"
        )


# batch-writer file names: part-<pid>-<12-hex job token>.parquet. The
# pattern deliberately misses stream files (part-NNNNNNN-bK.parquet) and
# Spark/operator-written parquet names — those are governed by their own
# commit protocols and stay visible unconditionally.
def _merge_nullable_schema(existing: StructType,
                           incoming: StructType) -> StructType:
    """Nullability union of two name/type-identical schemas (append
    validation already guarantees names+types match). An append whose
    data is nullable where the recorded schema says required MUST relax
    the record at the commit: Spark trusts the recorded schema in
    whole-stage codegen, so a decoded null under a required column is
    an executor crash (ArrowColumnVector getLong on a null), not a
    clean error. Relaxing is always sound — old rows simply never
    exercise the nulls. The stream sink uses the same union so a later
    all-non-null batch can never TIGHTEN the schema out from under
    earlier batches' nulls."""
    import pyspark.sql.types as T

    def mt(a, b):
        if isinstance(a, T.StructType):
            return T.StructType([
                T.StructField(fa.name, mt(fa.dataType, fb.dataType),
                              fa.nullable or fb.nullable, fa.metadata)
                for fa, fb in zip(a.fields, b.fields)
            ])
        if isinstance(a, T.ArrayType):
            return T.ArrayType(mt(a.elementType, b.elementType),
                               a.containsNull or b.containsNull)
        if isinstance(a, T.MapType):
            return T.MapType(mt(a.keyType, b.keyType),
                             mt(a.valueType, b.valueType),
                             a.valueContainsNull or b.valueContainsNull)
        return a

    return mt(existing, incoming)


_GEN_RE = re.compile(r"^part-\d+-([0-9a-f]{12})\.parquet$")


def _committed_files(path: str, branch: str | None = None) -> list[str]:
    """Blob files visible under the store's committed generations.

    The batch writer's commit point is the meta write: a file whose job
    token is not in meta ``generations`` was renamed in by a commit that
    never finished (or whose overwritten predecessors are not yet swept)
    and must stay invisible — that is what makes overwrite/append
    old-or-new atomic instead of mixing generations in a crash window.
    Stores without a ``generations`` key (operator-written, stream
    sinks, pre-generation stores) are returned unfiltered.

    ``branch`` selects a staging branch's view (write-audit-publish,
    the Iceberg branch-ref analog): main as of the branch point (its
    ``base_gens`` snapshot) plus the branch's own commits. Main commits
    after the branch point add tokens outside ``base_gens`` and so never
    leak into the branch view; branch tokens live only under the branch
    entry and never leak into main's."""
    b = _blobs_dir(path)
    if not os.path.isdir(b):
        return []
    names = sorted(
        f for f in os.listdir(b)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    meta = _meta(path)
    gens = meta.get("generations")
    if branch is not None:
        ent = (meta.get("branches") or {}).get(branch)
        if ent is None:
            raise ValueError(f"no branch {branch!r}")
        gens = list(ent["base_gens"]) + list(ent["gens"])
    if gens is not None:
        gset = set(gens)
        # strict (set by overwrite): ONLY generation files are valid —
        # leftovers of whatever the overwrite replaced (stream files,
        # foreign names) stay invisible even if the sweep never ran.
        # Non-strict (append to a pre-generation / operator-written
        # store): non-token files remain visible unconditionally.
        strict = bool(meta.get("generations_strict"))
        names = [
            f for f in names
            if ((m := _GEN_RE.match(f)) is None and not strict)
            or (m is not None and m.group(1) in gset)
        ]
    return [os.path.join(b, f) for f in names]


def sweep_store(path: str) -> list[str]:
    """Remove blob files no committed generation references: ``_tmp-*``
    leftovers and token-named files of uncommitted generations (a commit
    that crashed between its renames and the meta write). Safe under any
    concurrent READER (they already ignore everything this deletes), but
    it is a writer-side op: like the writers themselves it assumes the
    single-writer protocol (an in-flight job's tmp files look like
    leftovers). Returns the removed names.
    CLI: ``tools/submit_encode.py sweep``."""
    b = _blobs_dir(path)
    removed = []
    if os.path.isdir(b):
        visible = {os.path.basename(f) for f in _committed_files(path)}
        for br in (_meta(path).get("branches") or {}):
            visible |= {os.path.basename(f)
                        for f in _committed_files(path, branch=br)}
        for f in sorted(os.listdir(b)):
            dead = f.startswith("_tmp-") or (
                f.endswith(".parquet")
                and not f.startswith("_")
                and f not in visible
            )
            if dead:
                try:
                    os.remove(os.path.join(b, f))
                    removed.append(f)
                except OSError:
                    pass
    # tombstone dirs follow the same commit protocol: the meta write is
    # the commit point, so any dir not listed there (crashed delete_where,
    # or an overwrite that raced the sweep) is invisible garbage
    ddir = os.path.join(path, "deletes")
    if os.path.isdir(ddir):
        m = _meta(path)
        committed = {e["name"] for e in (m.get("deletes") or [])}
        committed |= {e["name"] for e in (m.get("eq_deletes") or [])}
        for d in sorted(os.listdir(ddir)):
            if d not in committed:
                shutil.rmtree(os.path.join(ddir, d), ignore_errors=True)
                removed.append(f"deletes/{d}")
    return removed


# ------------------------------------------------------- positional deletes

def _hist_state(meta: dict) -> tuple[list, int, int]:
    """(retained caps, expired count, last expired snapshot's cap).
    ``expire_snapshots`` drops the oldest history entries but snapshot
    numbers stay ABSOLUTE — snapshot k's cap is ``hist[k - 1 - base]``,
    and k <= base is expired (unreadable, like an Iceberg snapshot past
    retention). Total commits ever = base + len(hist)."""
    return (meta.get("history") or [], meta.get("history_base", 0),
            meta.get("history_base_cap", 0))


def _pad_ts(tss, n: int) -> list:
    """Lockstep commit-timestamp list padded to ``n`` entries: commits
    made before the store recorded timestamps front-fill with None (they
    exist, they just are not addressable by time). Every consumer of
    ``meta['history_ts']`` goes through this so index i always describes
    history[i]."""
    tss = list(tss or [])
    return [None] * (n - len(tss)) + tss


def _parse_ts_us(val) -> int:
    """``as_of_timestamp`` option value -> epoch microseconds. Accepts
    an integer (epoch micros) or an ISO-8601 string (naive = UTC)."""
    import datetime as _dt

    s = str(val)
    try:
        return int(s)
    except ValueError:
        pass
    try:
        dt = _dt.datetime.fromisoformat(s)
    except ValueError as exc:
        raise ValueError(
            f"as_of_timestamp {val!r} is neither epoch microseconds nor "
            "ISO-8601"
        ) from exc
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=_dt.timezone.utc)
    # integer arithmetic: dt.timestamp() double-rounds and truncates a
    # microsecond low for ~2.5% of post-2038 instants, which would
    # resolve "exactly at commit k's timestamp" to commit k-1
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return (dt - epoch) // _dt.timedelta(microseconds=1)


def _resolve_as_of_ts(meta: dict, ts_us: int) -> int:
    """Latest retained snapshot committed at or before ``ts_us`` (the
    Iceberg timestamp-travel rule). Scans newest-first so a skewed clock
    can only make a commit unaddressable by time, never resurrect a
    superseded one. Pre-timestamp commits (None entries) and expired
    history refuse precisely."""
    hist, base, _ = _hist_state(meta)
    if not hist:
        raise ValueError(
            "store records no append-commit history "
            "(operator-written or pre-history store)"
        )
    tss = _pad_ts(meta.get("history_ts"), len(hist))
    for i in range(len(hist) - 1, -1, -1):
        if tss[i] is not None and tss[i] <= ts_us:
            return base + i + 1
    known = [t for t in tss if t is not None]
    if not known:
        raise ValueError(
            "store predates commit timestamps (no history_ts recorded); "
            "use as_of_commit")
    raise ValueError(
        f"no snapshot committed at or before {ts_us} "
        f"(earliest addressable commit is at {known[0]}; earlier "
        "snapshots are expired or predate timestamps)")


def expire_snapshots(path: str, keep_last: int) -> dict:
    """Retire time-travel addressability of all but the last
    ``keep_last`` append commits (Iceberg expire_snapshots). Pure
    metadata — the timeline is append-only, so every data file is still
    referenced by the CURRENT state and nothing is deleted; what this
    bounds is the history list itself (a store taking a commit per
    micro-batch for a year carries ~10^5 caps in its meta — every read
    parses it). Expired ``as_of_commit`` / ``since_commit`` /
    stream-source offsets raise; tags naming expired snapshots drop."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    meta = _meta(path)
    if meta.get("clustering") == "stream_append":
        raise ValueError(
            "expire_snapshots applies to batch-writer stores (stream "
            "stores snapshot by micro-batch watermark, not history)"
        )
    hist, base, _ = _hist_state(meta)
    if not hist:
        raise ValueError(
            "store records no append-commit history "
            "(operator-written or pre-history store)"
        )
    _require_no_branches(meta, "expire_snapshots")
    total = base + len(hist)
    drop = max(0, total - keep_last - base)
    if drop == 0:
        return {"expired": 0, "retained": len(hist), "base": base}
    meta["history_base"] = base + drop
    meta["history_base_cap"] = hist[drop - 1]
    meta["history_ts"] = _pad_ts(meta.get("history_ts"), len(hist))[drop:]
    meta["history"] = hist[drop:]
    tags = meta.get("tags") or {}
    dropped_tags = sorted(
        t for t, k in tags.items() if k <= base + drop
    )
    for t in dropped_tags:
        del tags[t]
    _write_meta(path, meta)  # THE commit point
    return {"expired": drop, "retained": len(meta["history"]),
            "base": meta["history_base"], "dropped_tags": dropped_tags}


def tag_commit(path: str, name: str, k: int | None = None) -> int:
    """Name an append-commit snapshot (Iceberg tag analog): reads pass
    ``option("as_of_tag", name)`` instead of remembering a number.
    Defaults to the latest commit; pure metadata. Returns the tagged
    snapshot number."""
    meta = _meta(path)
    if meta.get("clustering") == "stream_append":
        raise ValueError("tags apply to batch-writer stores")
    hist, base, _ = _hist_state(meta)
    if not hist:
        raise ValueError(
            "store records no append-commit history "
            "(operator-written or pre-history store)"
        )
    if k is None:
        k = base + len(hist)
    if not base + 1 <= k <= base + len(hist):
        raise ValueError(
            f"tag target {k} out of range: store has snapshots "
            f"{base + 1}..{base + len(hist)} (earlier ones expired)"
        )
    tags = meta.setdefault("tags", {})
    if name in tags and tags[name] != k:
        raise ValueError(
            f"tag {name!r} already names snapshot {tags[name]}; "
            "drop_tag it first"
        )
    tags[name] = k
    _write_meta(path, meta)
    return k


def drop_tag(path: str, name: str) -> None:
    meta = _meta(path)
    tags = meta.get("tags") or {}
    if name not in tags:
        raise ValueError(f"no tag {name!r}")
    del tags[name]
    _write_meta(path, meta)


# --------------------------------------------------- branches (WAP staging)

def _require_no_branches(meta: dict, op: str) -> None:
    """Store-shape mutations and timeline surgery are main-only ops: a
    rollback/overwrite would orphan branch bases, compaction would
    rebase part ids out from under branch files, and DML/evolution
    commits record part-id caps and schema state the branch views would
    disagree with. Publish or drop open branches first."""
    brs = meta.get("branches") or {}
    if brs:
        raise ValueError(
            f"{op} refused while branches exist ({sorted(brs)}); "
            "publish_branch or drop_branch first"
        )


def create_branch(path: str, name: str) -> dict:
    """Open a staging branch at the store's current state (Iceberg
    branch ref; the write-audit-publish pattern): appends with
    ``option("branch", name)`` commit to the branch only, reads with the
    same option see main-as-of-branch-point plus the branch's commits,
    and ``publish_branch`` fast-forwards main once the staged data
    audits clean. Pure metadata — the entry snapshots main's committed
    generation set (``base_gens``) and commit count (``base_commit``).

    Takedowns committed on main BEFORE the branch opened keep applying
    to branch reads of shared partitions (the delete machinery is keyed
    by part id, and branch part ids never collide with main's) —
    takedown semantics, same as snapshot reads. While a branch is open,
    DML/evolution/rollback/overwrite/compaction on main are refused
    (_require_no_branches): publish or drop first."""
    meta = _meta(path)
    if meta.get("clustering") == "stream_append":
        raise ValueError("branches apply to batch-writer stores")
    if meta.get("generations") is None or not meta.get("history"):
        raise ValueError(
            "store records no generation/commit history "
            "(operator-written or pre-history store)"
        )
    brs = meta.setdefault("branches", {})
    if name in brs:
        raise ValueError(f"branch {name!r} already exists")
    brs[name] = {
        "base_gens": list(meta["generations"]),
        "base_commit": meta.get("history_base", 0) + len(meta["history"]),
        "gens": [],
        "history": [],
        "history_ts": [],
    }
    _write_meta(path, meta)
    return dict(brs[name])


def publish_branch(path: str, name: str) -> dict:
    """Fast-forward main to the branch head (the WAP publish step): the
    branch's generations join main's committed set and its commit
    history extends main's timeline — a pure metadata write, no data
    moves. Requires main unchanged since the branch point (commits to
    main while staging make the histories diverge; there is no rebase —
    re-stage on a fresh branch instead)."""
    meta = _meta(path)
    brs = meta.get("branches") or {}
    ent = brs.get(name)
    if ent is None:
        raise ValueError(f"no branch {name!r}")
    hist, base, _ = _hist_state(meta)
    if base + len(hist) != ent["base_commit"] or \
            set(meta.get("generations") or []) != set(ent["base_gens"]):
        raise ValueError(
            f"main advanced since branch {name!r} was created "
            f"(now {base + len(hist)} commits, branch based at "
            f"{ent['base_commit']}); re-stage on a fresh branch"
        )
    meta["generations"] = sorted(
        set(meta["generations"]) | set(ent["gens"])
    )
    meta["history_ts"] = (
        _pad_ts(meta.get("history_ts"), len(hist))
        + _pad_ts(ent.get("history_ts"), len(ent["history"]))
    )
    meta["history"] = hist + list(ent["history"])
    if ent["history"]:
        meta["num_parts"] = ent["history"][-1]
    del brs[name]
    _write_meta(path, meta)  # THE commit point
    return {"published_commits": len(ent["history"]),
            "published_generations": len(ent["gens"])}


def drop_branch(path: str, name: str) -> None:
    """Abandon a staging branch: the entry leaves the meta (THE commit
    point — its files become invisible instantly) and the orphaned
    blob files are sweep_store food."""
    meta = _meta(path)
    brs = meta.get("branches") or {}
    if name not in brs:
        raise ValueError(f"no branch {name!r}")
    del brs[name]
    _write_meta(path, meta)


def _branch_max_pid(path: str, meta: dict) -> int:
    """Highest part id any branch file holds, parsed from the committed
    token-named file names (branch files are invisible to main's
    dataset scan, but main appends must still allocate above them —
    part ids are globally unique across main and every branch)."""
    brs = meta.get("branches") or {}
    if not brs:
        return -1
    toks = {t for e in brs.values() for t in e["gens"]}
    if not toks:
        return -1
    hi = -1
    b = _blobs_dir(path)
    for f in os.listdir(b) if os.path.isdir(b) else []:
        m = _GEN_RE.match(f)
        if m is not None and m.group(1) in toks:
            hi = max(hi, int(f.split("-")[1]))
    return hi


def rollback_to_commit(path: str, k: int) -> dict:
    """Durably restore a batch-writer store to append-commit snapshot
    ``k`` (the writable twin of the ``as_of_commit`` read): commits
    after ``k`` leave ``generations`` — their files become invisible at
    the meta write (THE commit point) and are sweep_store food — and
    ``history`` truncates, so time travel and ``since_commit`` stay
    consistent.

    ``pid_floor`` is the load-bearing detail: future appends must NOT
    reuse the rolled-back part-id range, or positional tombstone
    addresses and equality-delete caps recorded before the rollback
    would hit rows appended after it. The floor pins the id allocator
    above everything the store has ever assigned.

    Deletes are NOT undone (takedown semantics — a PII removal must
    survive a rollback), and the CURRENT schema stands (schema
    evolution is metadata, not data). Stream stores are refused (cap
    them with ``as_of_batch``), as are stores without generation
    bookkeeping (operator-written)."""
    meta = _meta(path)
    if meta.get("clustering") == "stream_append":
        raise ValueError(
            "rollback applies to batch-writer stores; a stream store is "
            "capped by as_of_batch reads"
        )
    hist, base, _ = _hist_state(meta)
    gens = meta.get("generations")
    if not hist or gens is None:
        raise ValueError(
            "store records no generation/commit history "
            "(operator-written or pre-history store)"
        )
    _require_no_branches(meta, "rollback")
    if not base + 1 <= k <= base + len(hist):
        raise ValueError(
            f"rollback target {k} out of range: store has snapshots "
            f"{base + 1}..{base + len(hist)} (earlier ones expired)"
        )
    if k == base + len(hist):
        return {"rolled_back_commits": 0, "removed_parts": 0}
    cap = hist[k - 1 - base]
    gset = set(gens)
    b = _blobs_dir(path)
    keep_tok: set[str] = set()
    drop_tok: set[str] = set()
    removed = kept_parts = 0
    max_pid = -1
    for f in sorted(os.listdir(b)) if os.path.isdir(b) else []:
        if not f.endswith(".parquet") or f.startswith("_"):
            continue
        m = _GEN_RE.match(f)
        if m is None:
            # pre-generation file: part of the first snapshot, kept
            kept_parts += 1
            continue
        if m.group(1) not in gset:
            continue  # already-invisible leftover
        pid = int(f.split("-")[1])
        max_pid = max(max_pid, pid)
        if pid >= cap:
            drop_tok.add(m.group(1))
            removed += 1
        else:
            keep_tok.add(m.group(1))
            kept_parts += 1
    spanning = keep_tok & drop_tok
    if spanning:
        raise ValueError(
            f"generation(s) {sorted(spanning)} span the rollback cap — "
            "the store's commits are not cleanly separable"
        )
    meta["generations"] = sorted(gset - drop_tok)
    meta["history_ts"] = _pad_ts(
        meta.get("history_ts"), len(hist)
    )[:k - base]
    meta["history"] = hist[:k - base]
    meta["num_parts"] = kept_parts
    meta["pid_floor"] = max(max_pid + 1, meta.get("pid_floor", 0))
    # surviving delete entries keep applying to every read (takedown),
    # so for the changelog they now happened "at" the rollback target:
    # clamping keeps them inside any window a consumer can still open
    # (an un-clamped at past the truncated history would never be
    # emitted while the tombstone still drops rows)
    for e in (meta.get("deletes") or []) + (meta.get("eq_deletes") or []):
        if e.get("at") is not None:
            e["at"] = min(e["at"], k)
    if meta.get("tags"):
        # tags naming rolled-back snapshots die with them
        meta["tags"] = {t: v for t, v in meta["tags"].items() if v <= k}
    _write_meta(path, meta)  # THE commit point
    return {"rolled_back_commits": base + len(hist) - k,
            "removed_parts": removed}


def _delete_files(path: str, names) -> list[str]:
    """Parquet files of the named committed tombstone dirs (skips Spark's
    ``_SUCCESS`` markers)."""
    out: list[str] = []
    for nm in names:
        d = os.path.join(path, "deletes", nm)
        if not os.path.isdir(d):
            raise ValueError(f"store meta references missing tombstones {nm}")
        out.extend(
            os.path.join(d, f)
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet") and not f.startswith("_")
        )
    return out


def _delete_positions(path: str, names, part_ids):
    """(part_id -> sorted positions) for the given parts from the named
    tombstone dirs. Each caller fetches only its own parts — parquet
    row-group pruning on ``part_id`` keeps the read proportional to the
    partition's own tombstones, not the store's (the Iceberg
    positional-delete read discipline)."""
    import numpy as np
    import pyarrow.dataset as pads

    files = _delete_files(path, names)
    if not files:
        return {}
    d = pads.dataset(files, format="parquet")
    pids = list(part_ids)
    t = d.to_table(
        columns=["part_id", "pos"],
        filter=pads.field("part_id").isin(pids)
        if len(pids) > 1
        else pads.field("part_id") == pids[0],
    )
    out: dict[int, "np.ndarray"] = {}
    parts = t.column("part_id").to_numpy(zero_copy_only=False)
    pos = t.column("pos").to_numpy(zero_copy_only=False)
    for pid in set(parts.tolist()):
        out[int(pid)] = np.unique(pos[parts == pid])
    return out


def _has_blobs(path: str, branch: str | None = None) -> bool:
    """A store with a committed (possibly empty) blobs dir may contain
    zero part files — e.g. an empty dataframe written through the sink;
    pyarrow cannot infer a schema from nothing, so guard every scan."""
    return bool(_committed_files(path, branch))


def _dataset(path: str, branch: str | None = None):
    import pyarrow.dataset as pads

    return pads.dataset(_committed_files(path, branch), format="parquet")


def _parse_read_opts(options) -> tuple[str, bytes]:
    """crc_mode / aad_prefix_hex read options (reference WithCRCMode /
    WithAADPrefix, reader/options.go:35-62)."""
    from .. import frame as framemod

    crc_mode = options.get("crc_mode", "strict")
    if crc_mode not in framemod.CRC_MODES:
        raise ValueError(
            f"crc_mode must be one of {framemod.CRC_MODES}, got {crc_mode!r}"
        )
    aad_prefix = bytes.fromhex(options.get("aad_prefix_hex", "") or "")
    return crc_mode, aad_prefix


def _parse_shred(options, schema: StructType) -> dict[str, dict[str, str]]:
    """``shred_variant`` write option (parquet-format VariantShredding.md;
    the reference reads this layout back transparently,
    marshal/variant_reconstruct.go): ``"v:lang=string,n_chars=int"``
    (``;``-separated for multiple variant columns). Each named column
    must be a VariantType field; each field shreds into a typed chunk
    that rides the typed codec menu, with a residual ``value`` chunk for
    everything else."""
    from .. import variant as varmod

    spec = options.get("shred_variant")
    if not spec:
        return {}
    by_name = {f.name: f for f in schema.fields}
    out: dict[str, dict[str, str]] = {}
    for part in spec.split(";"):
        part = part.strip()
        if not part:
            continue
        col, _, rest = part.partition(":")
        col = col.strip()
        f = by_name.get(col)
        if f is None or f.dataType.simpleString() != "variant":
            raise ValueError(
                f"shred_variant column {col!r} is not a variant column "
                f"of the written schema"
            )
        fields: dict[str, str] = {}
        for kv in rest.split(","):
            name, _, kind = kv.strip().partition("=")
            if not name or kind not in varmod.SHRED_KINDS:
                raise ValueError(
                    f"shred_variant field {kv!r}: expected "
                    f"name=kind with kind in {varmod.SHRED_KINDS}"
                )
            fields[name] = kind
        if not fields:
            raise ValueError(f"shred_variant column {col!r} has no fields")
        out[col] = fields
    return out


_SHRED_ARROW = None


def _shred_arrow_types():
    global _SHRED_ARROW
    if _SHRED_ARROW is None:
        import pyarrow as pa

        _SHRED_ARROW = {"int": pa.int64(), "double": pa.float64(),
                        "string": pa.utf8(), "bool": pa.bool_()}
        for k, t in list(_SHRED_ARROW.items()):
            _SHRED_ARROW[f"array<{k}>"] = pa.list_(t)
    return _SHRED_ARROW


def _shred_spark_type(kind: str):
    """Shred kind -> Spark type, built from type objects directly (the
    Python DS worker has no SparkContext, so DDL parsing is off-limits
    here)."""
    import pyspark.sql.types as T

    base = {"int": T.LongType(), "double": T.DoubleType(),
            "string": T.StringType(), "bool": T.BooleanType()}
    if kind in base:
        return base[kind]
    inner = kind.removeprefix("array<").removesuffix(">")
    return T.ArrayType(base[inner], True)


def _shred_field_projection(name: str, shredded: dict) -> tuple | None:
    """Resolve a dotted projection ``v.f`` against the store's shredded
    layout -> (variant col, field, kind) or None. Reading the typed
    field directly is the shredded store's scale lever: ONE typed chunk
    decodes instead of reconstructing whole variants (metadata +
    residual + every typed field). Semantics are STRICTLY typed (the
    Iceberg shredded-column read): the write shredded a field into the
    typed chunk exactly when it matched the declared kind, so rows
    where it was absent, null, or of another type read null — a
    same-kind re-extraction from the residual could never recover more
    (a write-time mismatch is a read-time mismatch). Note this is
    narrower than ``try_variant_get``, which CASTS across types (a
    string "78" satisfies a 'long' get); a consumer needing cast
    semantics reads the full variant column and pays reconstruction."""
    col, _, fld = name.partition(".")
    if not fld or col not in shredded:
        return None
    kind = shredded[col].get(fld)
    if kind is None:
        raise ValueError(
            f"variant column {col!r} is not shredded on field {fld!r} "
            f"(have {sorted(shredded[col])})"
        )
    return col, fld, kind


def _shred_components(col: str, fields: dict[str, str]) -> list[str]:
    """Stored chunk names for a shredded variant column — mirrors the
    reference's shredded group layout (metadata / value / typed_value)."""
    return ([f"{col}.metadata", f"{col}.value"]
            + [f"{col}.typed_value.{f}" for f in sorted(fields)])


def _expand_shred_keys(
    column_keys: dict[str, bytes] | None,
    shredded: dict[str, dict[str, str]],
) -> dict[str, bytes] | None:
    """A per-column key declared for a shredded variant column applies
    to every component chunk it becomes — without this, key_for('v.…')
    would silently fall through to the footer key (or plaintext) while
    the meta claims the column is keyed."""
    if not column_keys or not shredded:
        return column_keys
    out = dict(column_keys)
    for col, fields in shredded.items():
        if col in out:
            k = out.pop(col)
            for comp in _shred_components(col, fields):
                out.setdefault(comp, k)
    return out


def _parse_keys(options) -> tuple[bytes | None, dict[str, bytes] | None]:
    from .. import keys as keysmod

    key_hex = options.get("key_hex")
    key = bytes.fromhex(key_hex) if key_hex else None
    if key is not None and len(key) not in (16, 24, 32):
        raise ValueError("key_hex must be a 16/24/32-byte AES key in hex")
    cks = keysmod.parse_hex_keys(options.get("column_keys_json"))
    if cks:
        for name, k in cks.items():
            if len(k) not in (16, 24, 32):
                raise ValueError(
                    f"column_keys_json[{name!r}] must be a 16/24/32-byte "
                    "AES key in hex"
                )
    return key, cks


def _infer_schema(path: str, options) -> StructType:
    """Schema of a store: recorded meta if present, else decode one
    partition's chunks (frames are self-describing) and map the Arrow
    types back — bounded by a single partition, a footer-scale read."""
    meta = _meta(path)
    if meta.get("schema_json"):
        return StructType.fromJson(meta["schema_json"])
    import pyarrow as pa
    import pyarrow.dataset as pads
    from pyspark.sql.pandas.types import from_arrow_schema

    from .. import chunk, keys as keysmod

    key, cks = _parse_keys(options)
    if not _has_blobs(path):
        raise ValueError(
            f"pgs store at {path} has no data files and no recorded "
            "schema to infer from"
        )
    d = _dataset(path)
    parts = d.to_table(columns=["part_id"]).column("part_id").to_pylist()
    if not parts:
        raise ValueError(f"empty pgs store: {path}")
    pid = min(parts)
    t = d.to_table(
        columns=["col", "blob"], filter=pads.field("part_id") == pid
    )
    fields = []
    for name, blob in zip(t.column("col").to_pylist(),
                          t.column("blob").to_pylist()):
        arr = chunk.decode_chunk(blob, keysmod.key_for(name, cks, key))
        fields.append(pa.field(name, arr.type))
    return from_arrow_schema(pa.schema(fields))


# ----------------------------------------------------------- driver pruning

def _coerce(bound: str, like):
    """Parse a manifest bound string into the filter value's domain; None
    means "cannot compare -> do not prune" (invalid-stats defense,
    reader/index.go:65-87)."""
    if bound is None or bound == "":
        return None
    if isinstance(like, bool):
        return None  # str(True) doesn't order; booleans never prune
    if isinstance(like, int):
        try:
            return int(bound)
        except ValueError:
            try:
                return float(bound)
            except ValueError:
                return None
    if isinstance(like, float):
        try:
            return float(bound)
        except ValueError:
            return None
    if isinstance(like, str):
        return bound
    return None


def _tkey(x):
    """Total-order sort key matching Spark's (and DuckDB's) float
    comparison semantics: NaN compares greater than every other value,
    ±inf are ordinary values. Chunk stats are folded under the same
    order (chunk.py float stats), so pruning with this key is exact.
    Non-floats order unchanged."""
    if isinstance(x, float) and x != x:
        return (1, 0.0)
    return (0, x)


def _stats_keep(vmin: str, vmax: str, f: Filter) -> bool:
    """May this chunk's [vmin, vmax] contain a row satisfying f? Truncated
    string bounds only ever widen the interval (stats_trunc.py), so a
    False here is safe to prune on. Bounds and filter values compare
    under the engine total order (NaN greatest, ±inf in-band) so
    non-finite data and non-finite filter values both prune losslessly."""
    if isinstance(f, StringStartsWith):
        # may [vmin, vmax] hold a string starting with p? Any such s has
        # s >= p (so vmax < p prunes) and s[:len(p)] == p with
        # vmin <= s implying vmin[:len(p)] <= p (so a greater cut-down
        # vmin prunes). Truncated bounds only widen the interval.
        p = f.value
        if not isinstance(p, str) or not p or not isinstance(vmin, str) \
                or not isinstance(vmax, str) or not vmin or not vmax:
            return True
        return vmax >= p and vmin[:len(p)] <= p
    if isinstance(f, EqualNullSafe) and f.value is None:
        # null-matching handled by null_count in _candidate_parts;
        # value stats cannot speak to it
        return True
    if isinstance(f, (EqualTo, EqualNullSafe, GreaterThan,
                      GreaterThanOrEqual, LessThan, LessThanOrEqual)):
        v = f.value
        lo, hi = _coerce(vmin, v), _coerce(vmax, v)
        if lo is None or hi is None:
            return True
        try:
            kv, klo, khi = _tkey(v), _tkey(lo), _tkey(hi)
            if isinstance(f, (EqualTo, EqualNullSafe)):
                return klo <= kv <= khi
            if isinstance(f, GreaterThan):
                return khi > kv
            if isinstance(f, GreaterThanOrEqual):
                return khi >= kv
            if isinstance(f, LessThan):
                return klo < kv
            return klo <= kv
        except TypeError:
            return True
    if isinstance(f, In):
        vs = [v for v in f.value if v is not None]
        if not vs:
            return True
        lo, hi = _coerce(vmin, vs[0]), _coerce(vmax, vs[0])
        if lo is None or hi is None:
            return True
        try:
            kvs = sorted(_tkey(v) for v in vs)
            return _tkey(hi) >= kvs[0] and _tkey(lo) <= kvs[-1]
        except TypeError:
            return True
    return True


def _bloom_misses(d, aliases: list[str], values: list,
                  part_ids: set[int]) -> set[int]:
    """part_ids (of ``part_ids``) whose chunk carries a split-block bloom
    that rules out every one of ``values`` — the only partitions a point
    filter may drop. One-sided: a chunk without a bloom, a partition with
    no chunk under any of ``aliases`` (the column's current + historical
    names, disjoint per partition) and a value the blooms cannot hash
    all keep their partition."""
    import numpy as np
    import pyarrow.dataset as pads

    from .. import bloom as bloommod

    vs = [v for v in values if v is not None]
    if not vs or not part_ids:
        return set()
    if all(isinstance(v, int) and not isinstance(v, bool) for v in vs):
        hashes = bloommod.xxhash64_u64(np.asarray(vs, dtype=np.int64))
    elif all(isinstance(v, (str, bytes)) for v in vs):
        hashes = bloommod.xxhash64_bytes(
            [v.encode() if isinstance(v, str) else v for v in vs]
        )
    else:
        return set()
    t = d.to_table(
        columns=["part_id", "bloom"],
        filter=pads.field("col").isin(aliases)
        & pads.field("part_id").isin(sorted(part_ids))
        & pads.field("bloom").is_valid(),
    )
    return {
        pid for pid, blm in zip(t.column("part_id").to_pylist(),
                                t.column("bloom").to_pylist())
        if not bloommod.SplitBlockBloom.frombytes(blm)
        .check_hashes(hashes).any()
    }


def _candidate_parts(
    path: str, filters: list[Filter], d=None, meta: dict | None = None,
) -> list[int]:
    """Driver-side partition pruning from manifest stats + blooms. Reads
    only metadata columns of the blob files (parquet column pruning keeps
    blob bytes untouched) — the footer read, bounded by parts x cols.
    Point filters (``=``, ``IN``, non-null ``<=>``) probe whatever blooms
    the column's chunks carry, whichever writer built them: the chunks,
    not the store meta, say where a bloom exists.
    ``d``/``meta`` let the caller open the dataset and store meta once
    for the whole planning pass (and select the view — a branch read's
    ``d`` already holds the branch's file set)."""
    if d is None:
        if not _has_blobs(path):
            return []
        d = _dataset(path)
    stats = d.to_table(columns=_MANIFEST_COLUMNS)
    by_col: dict[str, dict[int, tuple]] = {}
    parts: set[int] = set()
    for pid, col, vmin, vmax, cnt, nulls in zip(
        stats.column("part_id").to_pylist(),
        stats.column("col").to_pylist(),
        stats.column("vmin").to_pylist(),
        stats.column("vmax").to_pylist(),
        stats.column("count").to_pylist(),
        stats.column("null_count").to_pylist(),
    ):
        parts.add(pid)
        by_col.setdefault(col, {})[pid] = (vmin, vmax, cnt, nulls)
    keep = parts
    meta = _meta(path) if meta is None else meta
    renames = meta.get("column_renames") or {}
    added = meta.get("added_columns") or {}
    for f in filters:
        attr = getattr(f, "attribute", None)
        if attr is None or len(attr) != 1:
            continue
        col = attr[0]
        if col == "_pgs_part":
            # the virtual partition-id column prunes from the id itself —
            # delete_where("_pgs_part = k AND ...") plans one partition
            keep = {p for p in keep if _stats_keep(str(p), str(p), f)}
            continue
        if col == "_pgs_commit":
            # the lineage column prunes from the commit timeline itself:
            # a filter like _pgs_commit > k is the incremental-read
            # predicate, and partition→commit is pure metadata (history
            # caps) — so a CDC consumer's filter never touches data of
            # already-processed commits. Unresolvable arrivals (expired
            # base, stream stores handled by their own id arithmetic)
            # are kept: Spark re-evaluates exactly.
            import bisect as _bisect

            hist, base, base_cap = _hist_state(meta)
            stream = meta.get("clustering") == "stream_append"

            def _kof(p: int):
                if stream:
                    return p // PGSStreamWriter.STRIDE
                i = _bisect.bisect_right(hist, p)
                if p < base_cap or i >= len(hist):
                    return None
                return base + i + 1

            keep = {
                p for p in keep
                if (k := _kof(p)) is None or _stats_keep(str(k), str(k), f)
            }
            continue
        # schema evolution: a renamed column's stats live under whichever
        # alias each partition was written with (disjoint per part); a
        # partition predating an added column has no row at all and is
        # kept — Spark re-evaluates the filter on the synthesized default
        aliases = [col] + list(renames.get(col) or [])
        if "." in col:
            # typed-field projection of a shredded variant: the
            # projected values ARE the typed chunk's (absent/mismatched
            # rows read null, and null never satisfies a pushed
            # comparison), so its stats prune losslessly
            vcol, _, fld = col.partition(".")
            if fld in ((meta.get("shredded") or {}).get(vcol) or {}):
                aliases.append(f"{vcol}.typed_value.{fld}")
        rows: dict[int, tuple] = {}
        for c in aliases:
            rows.update(by_col.get(c) or {})
        if not rows:
            continue
        if isinstance(f, IsNotNull):
            keep = {p for p in keep
                    if p not in rows or rows[p][3] < rows[p][2]}
            continue
        if isinstance(f, IsNull) or (
            isinstance(f, EqualNullSafe) and f.value is None
        ):
            # null_count is exact per chunk: an all-non-null partition
            # cannot satisfy IS NULL / <=> NULL (a partition predating
            # an added column stays — its default may be null)
            keep = {p for p in keep
                    if p not in rows or rows[p][3] > 0}
            continue
        keep = {
            p for p in keep
            if p not in rows or _stats_keep(rows[p][0], rows[p][1], f)
        }
        if col not in added and (
            isinstance(f, (EqualTo, In))
            or (isinstance(f, EqualNullSafe) and f.value is not None)
        ):
            vals = (list(f.value) if isinstance(f, In)
                    else [f.value])
            keep = keep - _bloom_misses(d, aliases, vals, keep)
    return sorted(keep)


def _page_keep_map(
    path: str, part_ids: list[int], filters: list[Filter],
    d=None, meta: dict | None = None,
) -> dict[int, tuple]:
    """part_id -> page ordinals a conjunction of range/point filters can
    touch, from the manifest's per-page index (the ColumnIndex read,
    reader/columnbuffer_offset_index.go:23-110). Page boundaries are
    row-aligned across columns, so one keep list serves every projected
    column. Parts whose keep list is complete are omitted (no overhead);
    pruning is advisory-lossless — page bounds are true bounds and Spark
    re-applies the exact filter."""
    import pyarrow.dataset as pads

    usable = [
        f for f in filters
        if isinstance(f, (EqualTo, EqualNullSafe, In, GreaterThan,
                          GreaterThanOrEqual, LessThan, LessThanOrEqual,
                          StringStartsWith))
        and len(f.attribute) == 1
    ]
    if meta is None:
        meta = _meta(path)
    if not usable or not meta.get("page_rows") or not part_ids:
        return {}
    if d is None:
        d = _dataset(path)
    renames = meta.get("column_renames") or {}
    # _pgs_pos filters skip pages by ROW POSITION (the reference's
    # SkipRows-over-OffsetIndex, reader/columnbuffer_offset_index.go):
    # page row ranges are in the index, so "rows 1000..2000 of each
    # partition" never decompresses any other page
    pos_filters = [f for f in usable if f.attribute[0] == "_pgs_pos"]
    usable = [f for f in usable
              if f.attribute[0] not in _VIRTUAL_COLS]
    if not usable and not pos_filters:
        return {}
    alias_of = {
        f.attribute[0]: [f.attribute[0]]
        + list(renames.get(f.attribute[0]) or [])
        for f in usable
    }
    cols = {c for al in alias_of.values() for c in al}
    if pos_filters and not cols:
        # a pos filter needs ONE physical column's page index per part
        # (pages are row-aligned, any column's ranges serve) — pick the
        # first always-stored schema column and its aliases rather than
        # fetching every column's index across every candidate partition
        added = meta.get("added_columns") or {}
        shredded = meta.get("shredded") or {}
        if meta.get("schema_json"):
            for f0 in StructType.fromJson(meta["schema_json"]).fields:
                if f0.name not in added and f0.name not in shredded:
                    cols = {f0.name, *(renames.get(f0.name) or [])}
                    break
    filt = pads.field("part_id").isin(part_ids)
    if cols:
        filt = filt & pads.field("col").isin(sorted(cols))
    t = d.to_table(columns=["part_id", "col", "pages"], filter=filt)
    by_part: dict[int, dict[str, list]] = {}
    for pid, col, pages in zip(t.column("part_id").to_pylist(),
                               t.column("col").to_pylist(),
                               t.column("pages").to_pylist()):
        by_part.setdefault(pid, {})[col] = json.loads(pages) if pages else []
    out: dict[int, tuple] = {}
    for pid, per_col in by_part.items():
        keep: set[int] | None = None
        npages = 0
        for f in usable:
            pages = next(
                (per_col[c] for c in alias_of[f.attribute[0]]
                 if per_col.get(c)),
                None,
            )
            if not pages:
                continue
            npages = max(npages, len(pages))
            mine = {
                i for i, p in enumerate(pages)
                if p.get("lo") is None or p.get("hi") is None
                or _stats_keep(p["lo"], p["hi"], f)
            }
            keep = mine if keep is None else keep & mine
        if pos_filters:
            pages = next((v for v in per_col.values() if v), None)
            if pages and all("r" in p and "n" in p for p in pages):
                npages = max(npages, len(pages))
                for f in pos_filters:
                    mine = {
                        i for i, p in enumerate(pages)
                        if _stats_keep(str(p["r"]), str(p["r"] + p["n"] - 1),
                                       f)
                    }
                    keep = mine if keep is None else keep & mine
        if keep is not None and npages and len(keep) < npages:
            out[pid] = tuple(sorted(keep))
    return out


def _part_file_map(
    path: str, part_ids: list[int], d=None,
) -> dict[int, tuple]:
    """part_id -> blob files that can contain it, from each file's
    row-group statistics (one driver-side footer pass, already paid by
    the stats read). Files without part_id stats count for every part —
    never a false negative."""
    if not part_ids:
        return {}
    if d is None:
        d = _dataset(path)
    ranges: list[tuple[str, int | None, int | None]] = []
    for frag in d.get_fragments():
        lo = hi = None
        try:
            md = frag.metadata
            col_idx = next(
                (j for j in range(md.row_group(0).num_columns)
                 if md.row_group(0).column(j).path_in_schema == "part_id"),
                None,
            ) if md.num_row_groups else None
            if col_idx is not None:
                los, his = [], []
                for i in range(md.num_row_groups):
                    st = md.row_group(i).column(col_idx).statistics
                    if st is None or not st.has_min_max:
                        raise LookupError
                    los.append(st.min)
                    his.append(st.max)
                lo, hi = min(los), max(his)
        except Exception:
            lo = hi = None
        ranges.append((frag.path, lo, hi))
    out: dict[int, tuple] = {}
    for pid in part_ids:
        out[pid] = tuple(
            p for p, lo, hi in ranges
            if lo is None or hi is None or lo <= pid <= hi
        )
    return out


def inspect_files(spark, path: str):
    """The store's manifest as a DataFrame (Iceberg ``table.files``
    metadata table): one row per committed chunk — partition, column,
    codec, row/null counts, raw/encoded sizes, stats bounds, boundary
    order, plus the blob file it lives in. Column pruning keeps the
    blob bytes untouched (this is a footer-scale scan at any store
    size). Reports the PHYSICAL state: dropped/renamed columns appear
    under their stored names, tombstoned rows still count — the
    inspection surface for compaction/retention decisions, not a data
    read."""
    from pyspark.sql import functions as F

    files = _committed_files(path)
    if not files:
        raise ValueError(f"store has no committed blobs: {path}")
    return (
        spark.read.parquet(*files)
        .select(
            "part_id", "col", "codec", "compression", "count",
            "null_count", "raw_size", "encoded_size", "vmin", "vmax",
            "boundary_order",
            F.col("pages").isNotNull().alias("paged"),
            F.col("bloom").isNotNull().alias("has_bloom"),
            F.input_file_name().alias("file"),
        )
    )


def inspect_snapshots(spark, path: str):
    """The store's commit timeline as a DataFrame (Iceberg
    ``table.snapshots``): one row per retained append commit with its
    ABSOLUTE snapshot number, exclusive part-id cap, expiry status, and
    any tags naming it. Driver-side metadata only."""
    meta = _meta(path)
    if meta.get("clustering") == "stream_append":
        raise ValueError(
            "snapshots apply to batch-writer stores; a stream store's "
            "timeline is its micro-batch watermark (describe_store)"
        )
    hist, base, _ = _hist_state(meta)
    if not hist:
        raise ValueError(
            "store records no append-commit history "
            "(operator-written or pre-history store)"
        )
    by_snap: dict[int, list[str]] = {}
    for t, k in (meta.get("tags") or {}).items():
        by_snap.setdefault(k, []).append(t)
    tss = _pad_ts(meta.get("history_ts"), len(hist))
    rows = [
        (base + i + 1, cap, sorted(by_snap.get(base + i + 1, [])),
         tss[i])
        for i, cap in enumerate(hist)
    ]
    return spark.createDataFrame(
        rows,
        "snapshot bigint, part_id_cap bigint, tags array<string>, "
        "committed_at_us bigint",
    )


def _stream_cap(meta: dict) -> int | None:
    """Part-id visibility cap of a stream store: ids at or above
    (last_committed_batch + 1) · STRIDE belong to a crash window (parts
    renamed, meta not yet written) and must stay invisible everywhere —
    reads, describe, and manifest aggregates share this one rule."""
    if meta.get("clustering") != "stream_append":
        return None
    return (meta.get("last_committed_batch", -1) + 1) \
        * PGSStreamWriter.STRIDE


def _bloomed_cols(d, meta: dict) -> list[str]:
    """Current names of the columns whose committed chunks carry a bloom
    — the columns ``_candidate_parts`` prunes point filters on. A renamed
    column's stored aliases map to its current name; added and dropped
    columns never bloom-prune, so they are left out."""
    import pyarrow.dataset as pads

    t = d.to_table(columns=["part_id", "col"],
                   filter=pads.field("bloom").is_valid())
    current = {a: c for c, olds in (meta.get("column_renames") or {}).items()
               for a in olds}
    cap = _stream_cap(meta)
    names = {
        current.get(c, c)
        for pid, c in zip(t.column("part_id").to_pylist(),
                          t.column("col").to_pylist())
        if cap is None or pid < cap
    }
    names -= set(meta.get("added_columns") or {})
    if meta.get("schema_json"):
        names &= set(StructType.fromJson(meta["schema_json"]).fieldNames())
    return sorted(names)


def describe_store(path: str) -> dict:
    """Operational summary of a store from metadata only (manifest
    columns + store meta; blob bytes never read — the footer-scale
    inspection a table format owes its operators). Live row counts
    subtract committed tombstones."""
    meta = _meta(path)
    out: dict = {
        "path": path,
        "clustering": meta.get("clustering"),
        "key_col": meta.get("key_col"),
        "page_rows": meta.get("page_rows"),
        "encrypted": bool(meta.get("encrypted")),
        # filled from the chunks below: a bloom prunes wherever a chunk
        # carries one, whether or not the writer recorded the column
        "bloom_cols": [],
        "ndv_cols": meta.get("ndv_cols") or [],
        "columns": [],
        "parts": 0, "rows": 0, "live_rows": 0,
        "raw_bytes": 0, "encoded_bytes": 0,
        "deleted_rows": sum(e.get("rows", 0)
                            for e in meta.get("deletes") or []),
        "tombstone_dirs": len(meta.get("deletes") or []),
        # equality deletes count KEYS, not rows — the matched-row count
        # exists only at read time, so live_rows stays an upper bound
        # whenever eq_delete_dirs > 0
        "eq_delete_dirs": len(meta.get("eq_deletes") or []),
        "eq_delete_keys": sum(e.get("keys", 0)
                              for e in meta.get("eq_deletes") or []),
        "added_columns": sorted(meta.get("added_columns") or {}),
        "renamed_columns": {k: v[0] for k, v in
                            (meta.get("column_renames") or {}).items()},
        "snapshots": (meta.get("history_base", 0)
                      + len(meta.get("history") or [])),
        "expired_snapshots": meta.get("history_base", 0),
        "tags": dict(sorted((meta.get("tags") or {}).items())),
    }
    if meta.get("schema_json"):
        sch = StructType.fromJson(meta["schema_json"])
        out["columns"] = [f"{f.name} {f.dataType.simpleString()}"
                          for f in sch.fields]
    if not _has_blobs(path):
        return out
    d = _dataset(path)
    out["bloom_cols"] = _bloomed_cols(d, meta)
    t = d.to_table(
        columns=["part_id", "col", "codec", "count",
                 "raw_size", "encoded_size"]
    )
    # stream stores: a crashed commit can leave renamed files of a torn
    # batch — invisible to readers (watermark cap) and to this summary
    cap = _stream_cap(meta)
    rows_by_part: dict[int, int] = {}
    codecs: dict[str, int] = {}
    for pid, col, codec, cnt, raw, enc in zip(*(t.column(c).to_pylist()
                                                for c in t.column_names)):
        if cap is not None and pid >= cap:
            continue
        rows_by_part[pid] = cnt
        codecs[codec] = codecs.get(codec, 0) + 1
        out["raw_bytes"] += raw
        out["encoded_bytes"] += enc
    out["parts"] = len(rows_by_part)
    out["rows"] = sum(rows_by_part.values())
    out["live_rows"] = out["rows"] - out["deleted_rows"]
    out["codecs"] = dict(sorted(codecs.items()))
    if out["encoded_bytes"]:
        out["compression_ratio"] = round(
            out["raw_bytes"] / out["encoded_bytes"], 3
        )
    if out["ndv_cols"]:
        # distinct estimates from the merged manifest sketches; best-
        # effort in a summary (deletes/evolution make manifest_ndv
        # refuse — the summary just omits the estimates then)
        try:
            out["ndv_est"] = {
                d["col"]: round(d["est"], 1)
                for d in manifest_ndv(path, out["ndv_cols"])
            }
        except ValueError:
            pass
    return out


def _refuse_non_exact_manifest(meta: dict, cols, what: str) -> dict:
    """Shared refusal preamble of every manifest-only answer path
    (manifest_aggregates, manifest_ndv): anything that would make chunk
    metadata an approximation of the table refuses, and the requested
    columns must exist in the recorded schema. Returns {name: dataType}.
    ANY new approximation-breaking state (a new delete flavor, a new
    read-time synthesis) must be added HERE so every metadata answer
    refuses in lockstep."""
    if meta.get("deletes"):
        raise ValueError(f"{what}: store has positional tombstones "
                         "(compact first or scan)")
    if meta.get("eq_deletes"):
        raise ValueError(f"{what}: store has equality deletes "
                         "(compact first or scan)")
    if (meta.get("added_columns") or meta.get("column_renames")
            or meta.get("retired_columns")):
        raise ValueError(f"{what}: store has uncompacted schema "
                         "evolution (compact first or scan)")
    for c in cols:
        if c in (meta.get("shredded") or {}):
            raise ValueError(f"{what}: {c!r} is a shredded variant "
                             "column (reconstructed on read)")
    if not meta.get("schema_json"):
        raise ValueError(f"{what}: store records no schema")
    sch = StructType.fromJson(meta["schema_json"])
    types = {f.name: f.dataType for f in sch.fields}
    for c in cols:
        if c not in types:
            raise ValueError(f"{what}: no column {c!r}")
    return types


def manifest_aggregates(path: str, cols: Sequence[str]) -> list[dict]:
    """EXACT count/null_count/min/max per column from the manifest alone
    — zero data (blob) bytes read. The Iceberg/Spark aggregate-pushdown
    analog: at 100 TB this answers ``SELECT count(*), min(k), max(k)``
    in footer-scale time instead of a full scan.

    Exactness is the contract, so anything that would make the manifest
    an approximation REFUSES (callers fall back to a real scan):

      * positional tombstones / equality deletes (a deleted row may have
        been the min — Iceberg likewise disables aggregate pushdown when
        delete files exist);
      * schema evolution (added-column defaults and aliases are
        read-time synthesis; ``compact_store`` materializes them);
      * shredded variant columns (reconstructed on read);
      * string bounds whose chunk lacks a write-time exactness marker
        (``bx`` in size_stats, the is_max_value_exact analog): a
        truncated vmax is a rounded-up BOUND, not an attained value,
        and rounding is undecidable from the stored string alone;
      * column types whose manifest bounds don't parse back losslessly
        (supported: integer family, float/double, string).

    Stream stores are capped at the committed-batch watermark; committed
    generations only — same visibility as a read.
    """
    import math

    from pyspark.sql import types as T

    meta = _meta(path)
    types = _refuse_non_exact_manifest(meta, cols, "manifest_aggregates")
    if not _has_blobs(path):
        return [{"col": c, "count": 0, "nulls": 0, "min": None,
                 "max": None} for c in cols]

    import pyarrow.compute as pc

    ds = _dataset(path)
    # only the requested columns' metadata rows are materialized (the
    # filter also row-group-prunes the manifest parquet itself); the
    # part-id universe for the completeness check reads one int column
    t = ds.to_table(
        columns=["part_id", "col", "count", "null_count",
                 "vmin", "vmax", "size_stats"],
        filter=pc.field("col").isin(list(cols)),
    )
    universe = set(
        ds.to_table(columns=["part_id"]).column("part_id").to_pylist()
    )
    cap = _stream_cap(meta)
    if cap is not None:
        universe = {p for p in universe if p < cap}
    per_col: dict[str, list[tuple]] = {c: [] for c in cols}
    for pid, col, cnt, nulls, vmin, vmax, ss in zip(
        *(t.column(c).to_pylist() for c in t.column_names)
    ):
        if cap is not None and pid >= cap:
            continue
        per_col[col].append((pid, cnt, nulls, vmin, vmax, ss))

    def parse(s: str, dt, what: str):
        import datetime as _dt

        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            return int(s)
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return float(s)
        if isinstance(dt, T.StringType):
            return s
        if isinstance(dt, T.DateType):  # bounds are epoch days
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(s))
        if isinstance(dt, T.TimestampNTZType):  # bounds are epoch micros
            return (_dt.datetime(1970, 1, 1)
                    + _dt.timedelta(microseconds=int(s)))
        if isinstance(dt, T.TimestampType):
            raise ValueError(
                f"manifest_aggregates: {what}: TIMESTAMP (ltz) bounds "
                "render through the session timezone — store as "
                "timestamp_ntz or scan")
        raise ValueError(f"manifest_aggregates: {what}: unsupported "
                         f"type {dt.simpleString()} for manifest bounds")

    # engine total order (how Spark and DuckDB compare doubles): NaN is
    # the greatest value — chunk stats pin it the same way
    def okey(v):
        if isinstance(v, float):
            return (1 if math.isnan(v) else 0, v if not math.isnan(v)
                    else 0.0)
        return (0, v)

    out = []
    for c in cols:
        chunks = per_col[c]
        if {p for p, *_ in chunks} != universe:
            raise ValueError(f"manifest_aggregates: column {c!r} missing "
                             "from some partitions")
        total = sum(cnt for _, cnt, *_ in chunks)
        nulls = sum(n for _, _, n, *_ in chunks)
        lo = hi = None
        for _, cnt, n, vmin, vmax, ss in chunks:
            if cnt == n:  # all-null chunk: bounds are meaningless
                continue
            # "" is the None sentinel for missing stats — except for
            # string columns, where "" is a legal ATTAINED bound (the
            # engine always writes byte-array stats, so a string chunk
            # with live rows cannot be stats-less)
            if not isinstance(types[c], T.StringType) and (
                    vmin == "" or vmax == ""):
                raise ValueError(f"manifest_aggregates: column {c!r} "
                                 "has chunks without bounds")
            if isinstance(types[c], T.StringType):
                bx = (json.loads(ss) if ss else {}).get("bx")
                if bx != 1:
                    raise ValueError(
                        f"manifest_aggregates: column {c!r} has "
                        "truncated or unmarked string bounds (store "
                        "predates the exactness marker, or values "
                        "exceed the truncation limit)")
            cmin = parse(vmin, types[c], c)
            cmax = parse(vmax, types[c], c)
            lo = cmin if lo is None or okey(cmin) < okey(lo) else lo
            hi = cmax if hi is None or okey(cmax) > okey(hi) else hi
        out.append({"col": c, "count": total, "nulls": nulls,
                    "min": lo, "max": hi})
    return out


def manifest_ndv(path: str, cols: Sequence[str]) -> list[dict]:
    """Approximate distinct counts per column from the manifest's
    per-chunk HyperLogLog registers (ndv.py) — zero blob bytes read.
    Registers merge with an elementwise max, which is EXACT with
    respect to the union of hashed values: the merged estimate is
    bit-identical to one HLL built over the whole table (the driver
    gate proves it against operators/sketch's relational HLL and its
    DuckDB hash re-derivation).

    Same visibility/refusal discipline as ``manifest_aggregates``: a
    deleted row cannot be subtracted from an HLL, and evolution aliases
    are read-time synthesis, so tombstones / equality deletes /
    uncompacted evolution refuse (compact first — registers are
    recomputed over the surviving rows — or scan). Every committed
    chunk of the column must carry registers (stores written before the
    column opted in refuse rather than under-count).

    Returns per column: ``zero_registers``, ``registers_sum`` (exact
    int), ``est_raw`` (one IEEE division — the cross-engine-comparable
    trio), and ``est`` (bias-corrected, ln-based)."""
    from .. import ndv as ndvmod

    meta = _meta(path)
    _refuse_non_exact_manifest(meta, cols, "manifest_ndv")
    if not _has_blobs(path):
        import numpy as np

        empty = ndvmod.fold(np.zeros(ndvmod.M, np.uint8))
        return [{"col": c, **empty} for c in cols]

    import pyarrow.compute as pc

    ds = _dataset(path)
    if "ndv" not in ds.schema.names:
        raise ValueError("manifest_ndv: store predates NDV sketches "
                         "(rewrite with ndv_cols)")
    t = ds.to_table(
        columns=["part_id", "col", "ndv"],
        filter=pc.field("col").isin(list(cols)),
    )
    universe = set(
        ds.to_table(columns=["part_id"]).column("part_id").to_pylist()
    )
    cap = _stream_cap(meta)
    if cap is not None:
        universe = {p for p in universe if p < cap}
    per_col: dict[str, dict[int, bytes]] = {c: {} for c in cols}
    for pid, col, blob in zip(*(t.column(c).to_pylist()
                                for c in t.column_names)):
        if cap is not None and pid >= cap:
            continue
        per_col[col][pid] = blob
    out = []
    for c in cols:
        chunks = per_col[c]
        if set(chunks) != universe:
            raise ValueError(f"manifest_ndv: column {c!r} missing from "
                             "some partitions")
        absent = sorted(p for p, b in chunks.items() if b is None)
        if absent:
            raise ValueError(
                f"manifest_ndv: column {c!r} has chunks without NDV "
                f"registers (parts {absent[:5]}...): the column was not "
                "in ndv_cols when those partitions were written")
        regs = ndvmod.merge(chunks.values())
        out.append({"col": c, **ndvmod.fold(regs)})
    return out


# ------------------------------------------------------------------- reader

def _row_filter_plan(filters) -> tuple:
    """Pushed filters -> picklable (op, column, value) triples for task-
    side ROW masking. Only ops whose Spark semantics we can match or
    under-approximate survive; anything else is simply not masked (the
    scan stays advisory — Spark re-evaluates every filter exactly, so
    dropping FEWER rows is always safe, dropping a row Spark would keep
    never happens)."""
    out = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if attr is None or len(attr) != 1:
            continue
        c = attr[0]
        if isinstance(f, EqualTo):
            out.append(("eq", c, f.value))
        elif isinstance(f, EqualNullSafe):
            out.append(("eqns", c, f.value))
        elif isinstance(f, GreaterThan):
            out.append(("gt", c, f.value))
        elif isinstance(f, GreaterThanOrEqual):
            out.append(("ge", c, f.value))
        elif isinstance(f, LessThan):
            out.append(("lt", c, f.value))
        elif isinstance(f, LessThanOrEqual):
            out.append(("le", c, f.value))
        elif isinstance(f, In):
            out.append(("in", c, tuple(f.value)))
        elif isinstance(f, IsNull):
            out.append(("isnull", c, None))
        elif isinstance(f, IsNotNull):
            out.append(("notnull", c, None))
        elif isinstance(f, StringStartsWith):
            out.append(("startswith", c, f.value))
    return tuple(out)


def _apply_row_filters(tbl, rowf):
    """Mask the assembled Arrow batch by the pushed filters before it
    crosses the Python->JVM boundary: at 100 TB a selective scan ships
    only matching rows instead of whole decoded partitions. Exactness
    discipline: a row is dropped ONLY when the filter is definitely
    false under SPARK semantics — nulls fail every comparison (kept
    only by isnull / null-safe-eq-null), NaN is kept wherever Spark's
    total order or NaN==NaN could keep it, and any arrow type/cast
    error keeps the rows (skip the filter, advisory as ever)."""
    import math

    import pyarrow as pa
    import pyarrow.compute as pc

    mask = None
    for op, col, val in rowf:
        if col not in tbl.column_names:
            continue
        a = tbl.column(col)
        try:
            if op == "isnull" or (op == "eqns" and val is None):
                m = pc.is_null(a)
            elif op == "notnull":
                m = pc.is_valid(a)
            else:
                if isinstance(val, float) and math.isnan(val):
                    continue  # Spark: NaN==NaN true, NaN greatest — skip
                cmpf = {"eq": pc.equal, "eqns": pc.equal,
                        "gt": pc.greater, "ge": pc.greater_equal,
                        "lt": pc.less, "le": pc.less_equal}.get(op)
                if cmpf is not None:
                    m = cmpf(a, val)
                elif op == "in":
                    vals = [v for v in val if v is not None]
                    if not vals:
                        continue
                    m = pc.is_in(a, value_set=pa.array(vals))
                elif op == "startswith":
                    m = pc.starts_with(a, pattern=val)
                else:
                    continue
                if pa.types.is_floating(a.type) and op in (
                        "eq", "eqns", "gt", "ge", "in"):
                    # Spark's NaN sorts greatest and equals itself: a
                    # NaN row MIGHT pass these — keep it, let the JVM
                    # filter decide
                    m = pc.or_kleene(m, pc.is_nan(a))
            m = pc.fill_null(m, False)
        except Exception:
            continue  # unsupported type: keep every row
        mask = m if mask is None else pc.and_(mask, m)
    return tbl if mask is None else tbl.filter(mask)


class PGSReader(DataSourceReader):
    def __init__(self, path: str, schema: StructType, options):
        self._path = path
        self._columns = [f.name for f in schema.fields]
        self._schema = schema
        self._key, self._column_keys = _parse_keys(options)
        self._crc_mode, self._aad_prefix = _parse_read_opts(options)
        meta = _meta(path)
        # shredded variant columns reconstruct transparently on read
        # (reference marshal/variant_reconstruct.go): the store meta maps
        # each variant column to its typed-field kinds
        self._shredded: dict[str, dict[str, str]] = (
            meta.get("shredded") or {}
        )
        self._column_keys = _expand_shred_keys(self._column_keys,
                                               self._shredded)
        # typed-field projections of shredded variant columns ("v.f"):
        # resolved once; each reads ONE typed chunk instead of
        # reconstructing the whole variant
        self._shred_proj: dict[str, tuple] = {}
        for c in self._columns:
            if "." in c and c.split(".", 1)[0] in self._shredded:
                proj = _shred_field_projection(c, self._shredded)
                if proj is not None:
                    self._shred_proj[c] = proj
        # committed positional tombstones (delete_where): applied on every
        # read path, including snapshot reads — a takedown must disappear
        # from time travel too (the opposite of Iceberg's snapshot
        # semantics, deliberately: this is the PII-removal primitive)
        self._deletes: list[dict] = meta.get("deletes") or []
        # committed equality deletes (delete_values): key-value entries
        # applied as a per-task anti-join to partitions below the
        # entry's part-id cap (rows appended after the delete survive)
        self._eq_deletes: list[dict] = meta.get("eq_deletes") or []
        self._schema_json = meta.get("schema_json")
        # schema evolution (operators/evolve.py): per-partition alias
        # resolution for renamed columns, default synthesis for columns
        # added after a partition was written
        self._added: dict[str, dict] = meta.get("added_columns") or {}
        self._renames: dict[str, list] = meta.get("column_renames") or {}
        # staging-branch view (write-audit-publish): main as of the
        # branch point plus the branch's own commits. Time travel stays
        # a main-timeline concept — the branch's audit read IS its head.
        br = options.get("branch")
        if br is not None:
            if (meta.get("branches") or {}).get(br) is None:
                raise ValueError(
                    f"no branch {br!r} "
                    f"(have {sorted(meta.get('branches') or {})})"
                )
            for bad in ("as_of_commit", "as_of_tag", "since_commit",
                        "as_of_batch", "as_of_timestamp"):
                if options.get(bad) is not None:
                    raise ValueError(
                        f"option {bad!r} addresses main's timeline and "
                        "cannot combine with a branch read"
                    )
        self._branch = br
        ab = options.get("as_of_batch")
        if ab is not None and meta.get("clustering") != "stream_append":
            raise ValueError(
                "as_of_batch only applies to stores written by the "
                "streaming sink (clustering=stream_append)"
            )
        self._as_of_batch = int(ab) if ab is not None else None
        ac = options.get("as_of_commit")
        tag = options.get("as_of_tag")
        ats = options.get("as_of_timestamp")
        if ats is not None:
            if ac is not None or tag is not None:
                raise ValueError(
                    "as_of_timestamp is mutually exclusive with "
                    "as_of_commit / as_of_tag"
                )
            if meta.get("clustering") == "stream_append":
                raise ValueError(
                    "as_of_timestamp applies to batch-writer stores; use "
                    "as_of_batch for a streaming-sink store"
                )
            ac = _resolve_as_of_ts(meta, _parse_ts_us(ats))
        if tag is not None:
            if ac is not None:
                raise ValueError(
                    "as_of_tag and as_of_commit are mutually exclusive"
                )
            tags = meta.get("tags") or {}
            if tag not in tags:
                raise ValueError(
                    f"no tag {tag!r} (have {sorted(tags)})"
                )
            ac = tags[tag]
        if ac is not None:
            if meta.get("clustering") == "stream_append":
                raise ValueError(
                    "as_of_commit applies to batch-writer stores; use "
                    "as_of_batch for a streaming-sink store"
                )
            if not meta.get("history"):
                raise ValueError(
                    "store records no append-commit history "
                    "(operator-written or pre-history store)"
                )
        self._as_of_commit = int(ac) if ac is not None else None
        sc = options.get("since_commit")
        if sc is not None:
            if meta.get("clustering") == "stream_append":
                raise ValueError(
                    "since_commit applies to batch-writer stores; cap a "
                    "stream store with as_of_batch instead"
                )
            if not meta.get("history"):
                raise ValueError(
                    "store records no append-commit history "
                    "(operator-written or pre-history store)"
                )
            if ac is not None:
                raise ValueError(
                    "since_commit and as_of_commit are mutually exclusive; "
                    "an intermediate window is since_commit=k on an "
                    "as_of-style cap applied by the caller's filter"
                )
        self._since_commit = int(sc) if sc is not None else None
        # pid -> arrival-snapshot resolution for the _pgs_commit virtual
        # column: retained history caps + expiry base (batch stores) or
        # the micro-batch stride (stream stores). Captured here so tasks
        # resolve without re-reading meta.
        self._commit_hist = list(meta.get("history") or [])
        self._commit_base = meta.get("history_base", 0)
        self._commit_base_cap = meta.get("history_base_cap", 0)
        self._commit_stream = meta.get("clustering") == "stream_append"
        if "_pgs_commit" in self._columns and not (
            self._commit_stream or self._commit_hist
        ):
            raise ValueError(
                "_pgs_commit needs commit bookkeeping (a datasource-"
                "written store); this store records none"
            )
        self._filters: list[Filter] = []

    def partitions(self) -> Sequence[InputPartition]:
        # consume the pushed filters (see pushFilters): this planning
        # pass's filters must never leak into the next execution
        filters, self._filters = self._filters, []
        # one dataset open + one meta read for the whole planning pass
        meta = _meta(self._path)
        d = (
            _dataset(self._path, self._branch)
            if _has_blobs(self._path, self._branch)
            else None
        )
        if d is None and self._branch is not None:
            # an EMPTY branch view must not fall through to
            # _candidate_parts' main-dataset default — that would leak
            # post-branch main commits into the branch read
            return [InputPartition(None)]
        cands = _candidate_parts(self._path, filters, d, meta)
        if meta.get("clustering") == "stream_append":
            # stream stores encode the micro-batch in the part id
            # (pid // STRIDE == batch), so both snapshot reads and the
            # committed-watermark cap are pure metadata filters. The cap
            # keeps a crash window (parts renamed, meta not yet written)
            # invisible until that batch's replay commits it.
            committed = meta.get("last_committed_batch", -1)
            if self._as_of_batch is not None and self._as_of_batch > committed:
                # a snapshot beyond the watermark would expose the crash
                # window the cap exists to hide (parts renamed, meta not
                # yet written) — a torn batch that never committed
                raise ValueError(
                    f"as_of_batch {self._as_of_batch} is beyond the last "
                    f"committed batch {committed}"
                )
            last = (
                self._as_of_batch
                if self._as_of_batch is not None
                else committed
            )
            limit = (last + 1) * PGSStreamWriter.STRIDE
            cands = [p for p in cands if p < limit]
        if self._as_of_commit is not None:
            # snapshot read: part ids are strictly increasing across
            # append commits, so history[k-1] is an exact id cap (the
            # batch twin of the stream watermark filter above).
            # Snapshot numbers are absolute; expire_snapshots shifts the
            # list under a history_base offset
            hist, base, _ = _hist_state(meta)
            k = self._as_of_commit
            if not base + 1 <= k <= base + len(hist):
                raise ValueError(
                    f"as_of_commit {k} out of range: store has "
                    f"snapshots {base + 1}..{base + len(hist)} "
                    "(earlier ones expired)"
                )
            cands = [p for p in cands if p < hist[k - 1 - base]]
        if self._since_commit is not None:
            # incremental read (CDC-style): only partitions appended
            # AFTER snapshot k — the id-cap complement of as_of_commit.
            # A daily pipeline reads since_commit=<last processed> and
            # touches no already-consumed partition's metadata or bytes.
            hist, base, base_cap = _hist_state(meta)
            k = self._since_commit
            if not base <= k <= base + len(hist):
                raise ValueError(
                    f"since_commit {k} out of range: store has "
                    f"snapshots {base + 1}..{base + len(hist)} "
                    "(earlier ones expired — an expired cursor must "
                    "re-read from a full scan)"
                )
            floor = hist[k - 1 - base] if k > base else base_cap
            cands = [p for p in cands if p >= floor]
        if not cands:
            return [InputPartition(None)]  # schema-only empty scan
        files = _part_file_map(self._path, cands, d)
        pagemap = _page_keep_map(self._path, cands, filters, d, meta)
        # tombstone dirs assigned per partition from their recorded
        # [lo, hi] part-id range — a task only ever opens delete files
        # that can name its rows
        dels = [
            (e["name"], e.get("lo"), e.get("hi")) for e in self._deletes
        ]
        # equality entries attach by their part-id cap: a partition at or
        # above the cap postdates the delete and is out of scope. Integer
        # key bounds recorded at delete time prune further: a partition
        # whose manifest stats cannot intersect the key range on some
        # bounded column skips the anti-join entirely (lossless — bounds
        # omit null-containing key sets, and unknown stats always keep).
        eq_stats: dict[tuple[int, str], tuple] = {}
        bound_cols: dict[str, list[str]] = {}
        for e in self._eq_deletes:
            for pos in (e.get("bounds") or {}):
                c = e["key_cols"][int(pos)]
                bound_cols.setdefault(
                    c, [c] + list(self._renames.get(c) or [])
                )
        if bound_cols and d is not None:
            import pyarrow.dataset as pads

            alias_of = {a: c for c, al in bound_cols.items() for a in al}
            t = d.to_table(
                columns=["part_id", "col", "vmin", "vmax"],
                filter=pads.field("col").isin(list(alias_of)),
            )
            for p, cname, vmin, vmax in zip(
                t.column("part_id").to_pylist(),
                t.column("col").to_pylist(),
                t.column("vmin").to_pylist(),
                t.column("vmax").to_pylist(),
            ):
                eq_stats[(p, alias_of[cname])] = (vmin, vmax)

        def eq_attaches(e: dict, pid: int) -> bool:
            if pid >= e["cap"]:
                return False
            for pos, (klo, khi) in (e.get("bounds") or {}).items():
                st = eq_stats.get((pid, e["key_cols"][int(pos)]))
                if st is None:
                    continue  # unknown stats: pay the join
                try:
                    vmin, vmax = int(st[0]), int(st[1])
                except (TypeError, ValueError):
                    continue
                if vmax < klo or vmin > khi:
                    return False  # disjoint on this key col: no match
            return True

        eqs = [
            (e, (e["name"], tuple(e["key_cols"]), tuple(e["file_cols"])))
            for e in self._eq_deletes
        ]
        rowf = _row_filter_plan(filters)
        return [
            InputPartition((
                pid, files.get(pid), pagemap.get(pid),
                tuple(nm for nm, lo, hi in dels
                      if lo is None or hi is None or lo <= pid <= hi),
                tuple(tup for e, tup in eqs if eq_attaches(e, pid)),
                rowf,
            ))
            for pid in cands
        ]

    def _reconstruct_variant(self, name: str, dec, want):
        """Shredded variant column -> struct<value, metadata> arrow array
        (the reference's Reconstruct, variant_reconstruct.go:396-417):
        typed chunks merge back into the residual, canonically
        re-encoded. The typed chunks decoded here are the same arrays a
        future stats-pruning lever would filter on."""
        import pyarrow as pa

        from .. import variant as varmod

        fields = self._shredded[name]
        metas = dec(f"{name}.metadata").to_pylist()
        residuals = dec(f"{name}.value").to_pylist()
        typed = {
            f: dec(f"{name}.typed_value.{f}").to_pylist()
            for f in sorted(fields)
        }
        m2, v2 = varmod.reconstruct_rows(metas, residuals, typed)
        return pa.array(
            [None if v is None else {"value": v, "metadata": m}
             for m, v in zip(m2, v2)],
            want,
        )

    def read(self, partition: InputPartition) -> Iterator:
        if partition.value is None:
            return
        import pyarrow as pa
        import pyarrow.dataset as pads
        from pyspark.sql.pandas.types import to_arrow_schema

        from .. import chunk, keys as keysmod

        import numpy as np

        pid, files, keep, ddirs, eqs, rowf = partition.value
        if keep == ():
            return  # chunk bounds intersected but no single page does
        # the planner resolved which blob files can hold this part_id from
        # row-group stats, so a task opens only its own files — no
        # directory listing or foreign footer reads at any store size
        src = (
            pads.dataset(list(files), format="parquet")
            if files
            else _dataset(self._path, self._branch)
        )
        stored: list[str] = []
        cands: dict[str, list[str]] = {}
        # equality-delete key columns must decode even when not
        # projected (never virtual/shredded — refused at delete time)
        eq_extra = [
            c for _, kc, _ in eqs for c in kc
            if c not in self._columns
        ]
        for name in self._columns + eq_extra:
            if name in _VIRTUAL_COLS:
                continue  # synthesized below, never a chunk
            if name in self._shred_proj:
                vcol, fld, _ = self._shred_proj[name]
                stored.append(f"{vcol}.typed_value.{fld}")
            elif name in self._shredded:
                stored.extend(_shred_components(name, self._shredded[name]))
            elif name not in cands:
                # a renamed column resolves per partition: old partitions
                # carry the chunk under a historical alias
                cands[name] = [name] + list(self._renames.get(name) or [])
                stored.extend(cands[name])
        blobs = {}
        n_rows = None
        if stored:
            t = src.to_table(
                columns=["col", "blob", "count"],
                filter=(pads.field("part_id") == pid)
                & pads.field("col").isin(stored),
            )
            blobs = dict(zip(t.column("col").to_pylist(),
                             t.column("blob").to_pylist()))
            if t.num_rows:
                n_rows = t.column("count")[0].as_py()
        if n_rows is None:
            # no physical chunk matched: a virtual-only projection, or a
            # pre-evolution partition read through added columns only.
            # Chunks are row-aligned, so ANY manifest row of the part
            # carries the row count — a metadata read, no blob bytes
            t = src.to_table(
                columns=["count"], filter=pads.field("part_id") == pid
            )
            n_rows = t.column("count")[0].as_py() if t.num_rows else 0
        if keep is not None and (not blobs or any(
            chunk.split_pages(blobs.get(n, b"")) is None
            for n in stored if n in blobs
        )):
            # a mixed paged/unpaged partition cannot take a page subset
            # (row alignment would break); decode it whole — still exact
            keep = None
        # absolute row positions of the rows this task decodes — the
        # coordinate tombstones are recorded in. Computed from page
        # headers only (no decompression) when a page subset is kept.
        need_pos = bool(ddirs) or "_pgs_pos" in self._columns
        n_eff = n_rows  # rows this task yields before tombstones
        abs_pos = None
        if keep is not None:
            counts = chunk.page_counts(next(iter(blobs.values())))
            n_eff = sum(counts[i] for i in keep)
        if need_pos:
            if keep is None:
                abs_pos = np.arange(n_rows, dtype=np.int64)
            else:
                starts = np.concatenate(
                    ([0], np.cumsum(counts[:-1], dtype=np.int64))
                ) if counts else np.zeros(0, dtype=np.int64)
                abs_pos = (
                    np.concatenate([
                        np.arange(starts[i], starts[i] + counts[i],
                                  dtype=np.int64)
                        for i in keep
                    ]) if keep else np.zeros(0, dtype=np.int64)
                )
        mask = None
        if ddirs:
            dels = _delete_positions(self._path, ddirs, [pid]).get(pid)
            if dels is not None and dels.size:
                m = ~np.isin(abs_pos, dels)
                if not m.all():
                    mask = m
        # arrow nullability is advisory here (Spark enforces its own);
        # casting into a not-null nested field would spuriously fail
        relax = chunk.relax_nullability

        from .. import frame as framemod

        def dec(chunk_name: str) -> pa.Array:
            if chunk_name not in blobs:
                raise ValueError(
                    f"partition {pid} missing column chunk {chunk_name!r}"
                )
            key = framemod.ReadOptions(
                key=keysmod.key_for(chunk_name, self._column_keys,
                                    self._key),
                crc_mode=self._crc_mode, aad_prefix=self._aad_prefix,
            )
            if keep is not None:
                # page-granular skip: pruned pages are never decompressed
                return chunk.decode_chunk_pages(
                    blobs[chunk_name], keep=list(keep), encryption_key=key,
                )
            return chunk.decode_chunk(blobs[chunk_name], key)

        target = to_arrow_schema(self._schema)
        arrays = []
        for name, field in zip(self._columns, target):
            if name == "_pgs_part":
                arrays.append(pa.array(np.full(n_eff, pid, dtype=np.int32)))
                continue
            if name == "_pgs_pos":
                arrays.append(pa.array(abs_pos))
                continue
            if name == "_pgs_commit":
                if self._commit_stream:
                    k = pid // PGSStreamWriter.STRIDE
                else:
                    import bisect

                    # first retained cap > pid names the arrival commit;
                    # below the expiry base or beyond the caps (branch-
                    # staged rows) the arrival is not addressable: null
                    i = bisect.bisect_right(self._commit_hist, pid)
                    k = (
                        None
                        if pid < self._commit_base_cap
                        or i >= len(self._commit_hist)
                        else self._commit_base + i + 1
                    )
                arrays.append(
                    pa.nulls(n_eff, pa.int64()) if k is None
                    else pa.array(np.full(n_eff, k, dtype=np.int64))
                )
                continue
            if name in self._shred_proj:
                vcol, fld, _ = self._shred_proj[name]
                a = dec(f"{vcol}.typed_value.{fld}")
                want = relax(field.type)
                arrays.append(a.cast(want) if a.type != want else a)
                continue
            if name in self._shredded:
                arrays.append(self._reconstruct_variant(
                    name, dec, relax(field.type)
                ))
                continue
            want = relax(field.type)
            actual = next((c for c in cands[name] if c in blobs), None)
            if actual is None and name in self._added:
                # column added after this partition was written: the
                # recorded default stands in (schema evolution)
                d = self._added[name].get("default")
                arrays.append(
                    pa.nulls(n_eff, want) if d is None
                    else pa.array([d] * n_eff).cast(want)
                )
                continue
            a = dec(actual if actual is not None else name)
            if a.type != want:
                a = a.cast(want)
            arrays.append(a)
        if eqs:
            # equality deletes (merge-on-read anti-join): one null-safe
            # vectorized membership pass per entry over the key columns,
            # folded into the same single filter as the positional mask
            from .. import eqdel

            colmap = dict(zip(self._columns, arrays))

            def key_values(name: str) -> pa.Array:
                if name in colmap:
                    return colmap[name]
                actual = next((c for c in cands[name] if c in blobs), None)
                if actual is None and name in self._added:
                    from pyspark.sql.pandas.types import to_arrow_type
                    from pyspark.sql.types import StructType as _ST

                    d0 = self._added[name].get("default")
                    atype = to_arrow_type(
                        _ST.fromJson(self._schema_json)[name].dataType
                    )
                    return (
                        pa.nulls(n_eff, atype) if d0 is None
                        else pa.array([d0] * n_eff).cast(atype)
                    )
                return dec(actual if actual is not None else name)

            for nm, kc, fc in eqs:
                keys_tbl = eqdel.load_key_table(self._path, nm, fc)
                km = eqdel.keep_mask(
                    [key_values(c) for c in kc],
                    [keys_tbl.column(c) for c in fc],
                )
                if km is not None:
                    mask = km if mask is None else (mask & km)
        tbl = pa.table(dict(zip(self._columns, arrays)))
        if mask is not None:
            # merge-on-read: tombstoned rows leave every column here, in
            # one vectorized filter over the assembled batch
            tbl = tbl.filter(pa.array(mask))
        if rowf:
            # pushed-filter row masking: definitely-false rows never
            # cross the Python->JVM boundary (Spark still re-filters)
            tbl = _apply_row_filters(tbl, rowf)
        yield from tbl.to_batches(max_chunksize=_READ_BATCH_ROWS)


# ------------------------------------------------------------------- writer

@dataclass
class PGSCommitMessage(WriterCommitMessage):
    part_id: int
    rows: int
    tmp_name: str | None


class _WriterBase:
    """Shared option parsing + per-task encode for batch and streaming."""

    def _init_common(self, path: str, schema: StructType, options) -> None:
        if "part_id" in schema.fieldNames():
            raise ValueError(
                "'part_id' is reserved by the pgs store; rename the column"
            )
        reserved = [n for n in schema.fieldNames() if n.startswith("_pgs_")]
        if reserved:
            raise ValueError(
                f"column names {reserved} collide with the store's virtual "
                "read columns ('_pgs_' prefix is reserved)"
            )
        self._path = path
        self._schema = schema
        self._compression = options.get("compression", "zstd")
        if self._compression in ("none", ""):
            self._compression = None
        self._codec = options.get("codec", "auto")
        cm = options.get("codec_map_json")
        self._codec_map = json.loads(cm) if cm else None
        bc = options.get("bloom_cols")
        self._bloom_cols = (
            {c.strip() for c in bc.split(",") if c.strip()} if bc else None
        )
        if self._bloom_cols:
            missing = sorted(self._bloom_cols - set(schema.fieldNames()))
            if missing:
                raise ValueError(f"bloom_cols not in schema: {missing}")
        nv = options.get("ndv_cols")
        self._ndv_cols = (
            {c.strip() for c in nv.split(",") if c.strip()} if nv else None
        )
        if self._ndv_cols:
            missing = sorted(self._ndv_cols - set(schema.fieldNames()))
            if missing:
                raise ValueError(f"ndv_cols not in schema: {missing}")
            from pyspark.sql import types as _T

            bad = sorted(
                f.name for f in schema.fields if f.name in self._ndv_cols
                and not isinstance(f.dataType, (
                    _T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType,
                    _T.StringType, _T.BinaryType, _T.DateType,
                    _T.TimestampType, _T.TimestampNTZType,
                ))
            )
            if bad:
                raise ValueError(
                    f"ndv_cols {bad} are not integral/string/binary/"
                    "date/timestamp columns (float NDV hashes through a "
                    "4-byte Spark path this sketch does not model)"
                )
        pr = options.get("page_rows")
        self._page_rows = int(pr) if pr else None
        self._sort_key = options.get("sort_key")
        self._key, self._column_keys = _parse_keys(options)
        self._aad_prefix = bytes.fromhex(
            options.get("aad_prefix_hex", "") or ""
        )
        self._shred = _parse_shred(options, schema)
        self._column_keys = _expand_shred_keys(self._column_keys,
                                               self._shred)

    def _shred_table(self, table):
        """Replace each shredded variant column (struct<value,metadata>)
        with its component chunks before encoding: typed fields become
        real typed columns for the codec menu, the residual keeps
        everything else."""
        import pyarrow as pa

        from .. import variant as varmod

        atypes = _shred_arrow_types()
        for colname, fields in self._shred.items():
            col = table.column(colname).combine_chunks()
            valid = col.is_valid().to_pylist()
            vals = [v if ok else None for v, ok in
                    zip(col.field("value").to_pylist(), valid)]
            metas = [m if ok else None for m, ok in
                     zip(col.field("metadata").to_pylist(), valid)]
            sh = varmod.shred_rows(metas, vals, fields)
            idx = table.column_names.index(colname)
            table = table.remove_column(idx)
            table = table.append_column(
                f"{colname}.metadata", pa.array(sh["metadata"], pa.binary())
            )
            table = table.append_column(
                f"{colname}.value", pa.array(sh["value"], pa.binary())
            )
            for f in sorted(fields):
                table = table.append_column(
                    f"{colname}.typed_value.{f}",
                    pa.array(sh[f"typed_{f}"], atypes[fields[f]]),
                )
        return table

    def _encode_task(self, iterator, pid: int, tmp: str) -> PGSCommitMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..operators.encode_job import make_encode_fn

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return PGSCommitMessage(part_id=pid, rows=0, tmp_name=None)
        table = pa.Table.from_batches(batches)
        if self._shred:
            table = self._shred_table(table)
        table = table.append_column(
            "part_id", pa.array([pid] * table.num_rows, pa.int32())
        )
        encode_group = make_encode_fn(
            self._compression, self._codec, self._codec_map,
            self._bloom_cols, self._page_rows, self._sort_key,
            self._key, self._column_keys, aad_prefix=self._aad_prefix,
            ndv_cols=self._ndv_cols,
        )
        blob_tbl = encode_group(table)
        os.makedirs(_blobs_dir(self._path), exist_ok=True)
        # "_"-prefixed files are invisible to Spark's parquet reader, so an
        # uncommitted (or failed-attempt) file can never leak into a scan
        pq.write_table(
            blob_tbl, os.path.join(_blobs_dir(self._path), tmp),
            compression="NONE",  # frames are already block-compressed
        )
        return PGSCommitMessage(
            part_id=pid, rows=table.num_rows, tmp_name=tmp
        )

    def _check_append_schema(self) -> None:
        """Appending must match the committed schema (names + types,
        nullability aside) — a mismatched append would leave partitions
        with different column sets and clobber the recorded schema."""
        meta = _meta(self._path)
        if not meta.get("schema_json"):
            return
        existing = StructType.fromJson(meta["schema_json"])
        mine = [(f.name, f.dataType.simpleString()) for f in self._schema]
        theirs = [(f.name, f.dataType.simpleString()) for f in existing]
        if mine != theirs:
            raise ValueError(
                f"append schema {mine} does not match the store's "
                f"committed schema {theirs}; write to a new store or "
                "overwrite"
            )

    def _check_append_layout(self, meta: dict) -> None:
        """Appends must match the store's recorded layout policy —
        silently flipping encryption/bloom/page options mid-store would
        leave metadata that misdescribes the earlier chunks."""
        if not meta:
            return
        mine = dict(
            encrypted=self._key is not None or bool(self._column_keys),
            bloom_cols=sorted(self._bloom_cols) if self._bloom_cols else [],
            ndv_cols=sorted(self._ndv_cols) if self._ndv_cols else [],
            page_rows=self._page_rows,
            column_key_cols=sorted(self._column_keys)
            if self._column_keys else [],
            aad_bound=bool(self._aad_prefix),
            shredded=self._shred or {},
        )
        theirs = {
            k: meta.get(k, [] if k.endswith("cols") else
               False if k in ("encrypted", "aad_bound") else
               {} if k == "shredded" else None)
            for k in mine
        }
        diff = {k: (theirs[k], mine[k]) for k in mine
                if theirs[k] != mine[k]}
        if diff:
            raise ValueError(
                "append options differ from the store's recorded layout "
                f"(recorded, requested): {diff}; match them or overwrite"
            )

    def _meta_fields(self) -> dict:
        return dict(
            schema_json=self._schema.jsonValue(),
            page_rows=self._page_rows,
            bloom_cols=sorted(self._bloom_cols) if self._bloom_cols else [],
            ndv_cols=sorted(self._ndv_cols) if self._ndv_cols else [],
            encrypted=self._key is not None or bool(self._column_keys),
            column_key_cols=sorted(self._column_keys)
            if self._column_keys else [],
            aad_bound=bool(self._aad_prefix),
            key_col=self._sort_key,
            shredded=self._shred or {},
        )


class PGSArrowWriter(_WriterBase, DataSourceArrowWriter):
    """Single-writer generation commit: tasks write "_"-invisible tmp
    files; the driver renames them to token-named finals and then writes
    the store meta with this job's token in ``generations`` — that meta
    replace is the atomic commit point (readers ignore token-named files
    of uncommitted generations, _committed_files). One job writes a
    store at a time (same as a bare parquet directory; an Iceberg
    catalog commit — the documented swap point in store.py — is what
    arbitrates concurrent writers at scale). Readers are safe at any
    instant: they see the last committed generation set, never a mix."""

    def __init__(self, path: str, schema: StructType, overwrite: bool,
                 options):
        self._init_common(path, schema, options)
        self._overwrite = overwrite
        self._branch = options.get("branch")
        if self._branch is not None:
            if overwrite:
                raise ValueError(
                    "branches are append-only staging surfaces; "
                    "overwrite targets main (and is refused while "
                    "branches exist)"
                )
            ent = (_meta(path).get("branches") or {}).get(self._branch)
            if ent is None:
                raise ValueError(
                    f"no branch {self._branch!r}; create_branch first"
                )
        if overwrite:
            _require_no_branches(_meta(path), "overwrite")
        if not overwrite:
            meta = _meta(path)
            if meta.get("clustering") == "stream_append":
                raise ValueError(
                    "batch append into a stream-written store would "
                    "collide with its part-id namespace; compact it or "
                    "write elsewhere"
                )
            self._check_append_schema()
            self._check_append_layout(meta)
        self._token = uuid.uuid4().hex[:12]
        # append must not collide with committed part ids: offset new
        # parts past the existing range (driver-side metadata read)
        self._base = 0
        if not overwrite and _has_blobs(path):
            existing = _dataset(path).to_table(columns=["part_id"])
            ids = existing.column("part_id").to_pylist()
            self._base = (max(ids) + 1) if ids else 0
        if not overwrite:
            # a rollback pins the id allocator above every id the store
            # has EVER assigned — reusing a rolled-back pid would put
            # new rows under old tombstone addresses / eq-delete caps.
            # Branch files are invisible to the dataset scan above but
            # their ids are allocated from the same namespace: every
            # append (main or branch) lands above ALL of them, so a
            # published branch never collides with interleaved commits.
            meta = _meta(path)
            self._base = max(
                self._base,
                meta.get("pid_floor", 0),
                _branch_max_pid(path, meta) + 1,
            )
        # optimistic concurrency: the state this job planned against —
        # pid base, schema/layout checks, branch entry — must still be
        # the state it commits into
        self._meta_fp = _meta_fingerprint(path)

    def write(self, iterator: Iterator) -> PGSCommitMessage:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = self._base + ctx.partitionId()
        tmp = f"_tmp-{self._token}-{pid}-{ctx.attemptNumber()}.parquet"
        return self._encode_task(iterator, pid, tmp)

    def commit(self, messages) -> None:
        bdir = _blobs_dir(self._path)
        os.makedirs(bdir, exist_ok=True)
        # CAS before any rename: renamed-but-uncommitted files would be
        # harmless sweep food, but failing early keeps the store clean
        try:
            _check_commit_token(self._path, self._meta_fp,
                                "branch append" if self._branch
                                else "overwrite" if self._overwrite
                                else "append")
        except RuntimeError:
            self._cleanup_tmp()
            raise
        committed = 0
        suffix = f"-{self._token}.parquet"
        # Commit order: rename the new files in (token-unique names can't
        # clash with any committed generation), then the meta write with
        # this job's token in ``generations`` — THE commit point: readers
        # filter token-named files to committed generations, so a crash
        # anywhere before the meta write leaves the previous store state
        # exactly (the renamed files are invisible garbage), and a crash
        # after it leaves the new state (stale files are swept below, or
        # by any later overwrite). Never a mix of generations.
        for m in messages:
            if m.tmp_name is None:
                continue
            final = f"part-{m.part_id:05d}{suffix}"
            os.replace(os.path.join(bdir, m.tmp_name),
                       os.path.join(bdir, final))
            committed += 1
        if self._branch is not None:
            # branch commit: the token joins the BRANCH entry, never
            # main's generation set — main readers stay blind to these
            # files until publish_branch fast-forwards them in. Same
            # atomicity: a crash before this meta write leaves the
            # renamed files invisible (sweep food).
            meta = _meta(self._path)
            ent = (meta.get("branches") or {}).get(self._branch)
            if ent is None:
                self._cleanup_tmp()
                raise ValueError(
                    f"branch {self._branch!r} was dropped while this "
                    "write ran; nothing committed"
                )
            max_pid = max(
                (m.part_id for m in messages if m.tmp_name is not None),
                default=None,
            )
            ent["gens"] = sorted(set(ent["gens"]) | {self._token})
            ent["history_ts"] = _pad_ts(
                ent.get("history_ts"), len(ent["history"])
            ) + [int(time.time() * 1_000_000)]
            ent["history"] = list(ent["history"]) + [
                (max_pid + 1) if max_pid is not None else self._base
            ]
            if meta.get("schema_json"):
                # branch files share main's recorded schema; nullable
                # staged data must relax it now, not at publish
                meta["schema_json"] = _merge_nullable_schema(
                    StructType.fromJson(meta["schema_json"]),
                    self._schema,
                ).jsonValue()
            _write_meta(self._path, meta)
            self._cleanup_tmp()
            return
        if self._overwrite:
            meta = {"generations": [self._token],
                    "generations_strict": True}
            meta.update(clustering="upstream", num_parts=committed,
                        **self._meta_fields())
        else:
            # append inherits the store's recorded layout (validated
            # compatible in __init__) — the part count moves and this
            # job's generation joins the committed set. A pre-generation
            # store enumerates the tokens already on disk (same naming
            # since the writer's first version); non-token files stay
            # visible unconditionally, so nothing is orphaned.
            meta = _meta(self._path)
            gens = meta.get("generations")
            if gens is None:
                gens = [
                    mt.group(1) for f in sorted(os.listdir(bdir))
                    if (mt := _GEN_RE.match(f))
                ]
            meta["generations"] = sorted(set(gens) | {self._token})
            meta.setdefault("clustering", "upstream")
            if meta.get("schema_json"):
                meta["schema_json"] = _merge_nullable_schema(
                    StructType.fromJson(meta["schema_json"]),
                    self._schema,
                ).jsonValue()
            else:
                meta["schema_json"] = self._schema.jsonValue()
            meta["num_parts"] = self._base + committed
        # append-commit history: cumulative part-id cap after each batch
        # commit. Part ids are strictly increasing across appends (base =
        # max existing id + 1), so "the store as of commit k" is the pure
        # metadata filter part_id < history[k-1] — the batch twin of the
        # stream sink's as_of_batch snapshot reads. Overwrite starts a new
        # timeline (its sweep deletes the files earlier snapshots need).
        max_pid = max(
            (m.part_id for m in messages if m.tmp_name is not None),
            default=None,
        )
        cap = (max_pid + 1) if max_pid is not None else self._base
        now_us = int(time.time() * 1_000_000)
        if self._overwrite:
            meta["history"] = [cap]
            meta["history_ts"] = [now_us]
        else:
            hist = meta.get("history")
            if hist is None:
                # pre-history store: everything already committed is one
                # combined first snapshot
                hist = [self._base] if self._base > 0 else []
            # commit wall-clock rides a lockstep list (the Iceberg
            # snapshot timestamp); pre-timestamp commits front-fill None
            tss = _pad_ts(meta.get("history_ts"), len(hist))
            hist.append(cap)
            tss.append(now_us)
            meta["history"] = hist
            meta["history_ts"] = tss
        _write_meta(self._path, meta)
        if self._overwrite:
            # sweep everything the new generation replaced (crash-safe:
            # already-invisible to readers since the meta write)
            for f in os.listdir(bdir):
                if not f.startswith("_") and not f.endswith(suffix):
                    os.remove(os.path.join(bdir, f))
            # tombstones addressed the replaced generation's rows; the new
            # meta (written above) carries no ``deletes`` key, so these
            # dirs are already invisible — physical cleanup only
            shutil.rmtree(os.path.join(self._path, "deletes"),
                          ignore_errors=True)
        self._cleanup_tmp()

    def abort(self, messages) -> None:
        self._cleanup_tmp()

    def _cleanup_tmp(self) -> None:
        bdir = _blobs_dir(self._path)
        if not os.path.isdir(bdir):
            return
        for f in os.listdir(bdir):
            if f.startswith(f"_tmp-{self._token}-"):
                try:
                    os.remove(os.path.join(bdir, f))
                except OSError:
                    pass


# ---------------------------------------------------------- streaming sink

class PGSStreamWriter(_WriterBase, DataSourceStreamArrowWriter):
    """``writeStream.format("pgs")``: exactly-once micro-batch appends.

    Part ids come from ``batch_id * STRIDE + task_id`` (the batch id is
    Spark's streaming local property on every micro-batch task), so a
    replayed batch re-produces the SAME part ids and final file names;
    commit is an idempotent rename + a last-committed-batch watermark in
    the store meta — the same replay contract the foreachBatch front door
    gets from the manifest anti-join (streaming/ingest.py), here native.
    The sink owns its store: mixing batch-mode writes into the same
    directory would collide with the stream's part-id namespace.
    """

    STRIDE = 4096  # max tasks per micro-batch; ~524k batches before int32

    def __init__(self, path: str, schema: StructType, overwrite: bool,
                 options):
        if overwrite:
            raise ValueError("pgs streaming sink is append-only")
        self._init_common(path, schema, options)
        meta = _meta(path)
        if meta and meta.get("clustering") != "stream_append":
            raise ValueError(
                "store was written by the batch writer; streaming into "
                "it would collide with its part-id namespace"
            )
        self._check_append_schema()
        self._check_append_layout(meta)
        if not meta:
            # establish the stream namespace (and a -1 watermark) before
            # any batch can rename files in: without this, a crash inside
            # the very first commit (some files renamed, meta not yet
            # written) leaves a store whose reads skip the watermark cap
            # entirely and see the torn batch
            os.makedirs(path, exist_ok=True)
            _write_meta(path, dict(
                clustering="stream_append", num_parts=0,
                last_committed_batch=-1, **self._meta_fields(),
            ))

    def write(self, iterator: Iterator) -> PGSCommitMessage:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        b = ctx.getLocalProperty("streaming.sql.batchId")
        if b is None:
            raise ValueError(
                "pgs stream writer requires the micro-batch id local "
                "property; use it under writeStream (not batch write)"
            )
        batch_id = int(b)
        tid = ctx.partitionId()
        if tid >= self.STRIDE:
            raise ValueError(
                f"micro-batch has >{self.STRIDE} tasks; raise STRIDE or "
                "coalesce the stream"
            )
        pid = batch_id * self.STRIDE + tid
        tmp = f"_tmp-s{batch_id}-{pid}-{ctx.attemptNumber()}.parquet"
        return self._encode_task(iterator, pid, tmp)

    def commit(self, messages, batchId: int) -> None:
        bdir = _blobs_dir(self._path)
        os.makedirs(bdir, exist_ok=True)
        meta = _meta(self._path)
        last = meta.get("last_committed_batch", -1)
        if batchId > last:
            committed = meta.get("num_parts", 0)
            for m in messages:
                if m is None or m.tmp_name is None:
                    continue
                # deterministic final name -> replaying a half-committed
                # batch re-renames over identical files (encode is a pure
                # function of the batch)
                final = f"part-{m.part_id:07d}-b{batchId}.parquet"
                os.replace(os.path.join(bdir, m.tmp_name),
                           os.path.join(bdir, final))
                committed += 1
            fields = self._meta_fields()
            if meta.get("schema_json"):
                fields["schema_json"] = _merge_nullable_schema(
                    StructType.fromJson(meta["schema_json"]),
                    self._schema,
                ).jsonValue()
            meta.update(
                clustering="stream_append",
                num_parts=committed,
                last_committed_batch=batchId,
                **fields,
            )
            _write_meta(self._path, meta)
        self._cleanup_batch_tmp(batchId)

    def abort(self, messages, batchId: int) -> None:
        self._cleanup_batch_tmp(batchId)

    def _cleanup_batch_tmp(self, batch_id: int) -> None:
        bdir = _blobs_dir(self._path)
        if not os.path.isdir(bdir):
            return
        for f in os.listdir(bdir):
            if f.startswith(f"_tmp-s{batch_id}-"):
                try:
                    os.remove(os.path.join(bdir, f))
                except OSError:
                    pass


# --------------------------------------------------------------- data source

class PGSPruningReader(PGSReader):
    """PGSReader + partition/page pruning from pushed filters — OPT-IN
    via ``option("pushdown", "true")`` because of an upstream defect in
    this Spark release's Python data source scan cache:
    ``PythonScanBuilder.pushFilters`` stores the post-pushdown read
    plan on the relation's shared ``PythonDataSourceV2``
    (``setReadInfo``), and ``PythonBatch`` reuses that cache for LATER
    executions of the same loaded DataFrame even when their filters
    differ — so an unfiltered action after a filtered one would replay
    the pruned partition list and silently drop rows. The default
    reader does not implement ``pushFilters`` at all (Spark detects the
    override by identity), so the poisoned-cache path cannot engage and
    every action on a reused DataFrame is exact.

    Opting in is safe under single-use discipline — one ``.load()``
    per logical query — which every engine-internal reader and driver
    query follows. The pruning itself is advisory-lossless: every
    filter is returned to Spark for exact re-evaluation."""

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        # REPLACE, never accumulate, and partitions() consumes the
        # list: a stale filter list from an earlier planning pass must
        # never shrink a later query's partitions. Both resets err
        # toward MORE partitions, which Spark's re-filter makes
        # harmless.
        self._filters = []
        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr is not None and len(attr) == 1 and isinstance(
                f, (EqualTo, EqualNullSafe, In, GreaterThan,
                    GreaterThanOrEqual, LessThan, LessThanOrEqual,
                    IsNotNull, IsNull, StringStartsWith)
            ):
                self._filters.append(f)
        # pruning is advisory: Spark re-evaluates every filter exactly, so
        # truncated/absent stats can only cost IO, never correctness
        return filters


class PGSStreamSourceReader(DataSourceStreamReader):
    """``readStream.format("pgs")``: consume a store's commits as
    micro-batches (the source twin of the stream sink — together they
    make a store a durable queue). An offset is the number of consumed
    snapshots: append-commit count for batch-writer stores, the
    micro-batch watermark for stream-written stores; both map to exact
    part-id windows (ids are strictly increasing, rollback keeps them
    so), so a micro-batch is a pure metadata slice of partitions —
    the continuous twin of ``option("since_commit", k)``.

    Each batch reads through the SAME task machinery as batch reads
    (PGSReader.read): decode kernels, alias resolution, defaults, and
    the delete masks — a row taken down between commits is never
    emitted if its partition is still unconsumed. Exactly-once per
    partition via Spark's offset log.

    ``option("change_feed", "true")`` (batch-writer stores only) is the
    streaming twin of ``operators.changes.read_changes``: rows gain
    ``_pgs_part``/``_pgs_pos``/``_pgs_commit`` and a ``_change_type``
    discriminator, and micro-batches additionally carry address-only
    ``delete`` events for tombstones committed since the last batch
    (data columns null — takedown semantics). Because delete commits do
    not advance the append-snapshot counter, change-feed offsets carry
    tombstone/equality-entry counters alongside the commit cursor.
    Delete events are at-least-once per address (``compact_tombstones``
    may merge dirs mid-stream and force a re-emit) — a mirror applies
    them idempotently, exactly the ``read_changes`` replay contract. A
    batch whose window gains an equality-delete commit fails (key
    predicates have no address events; ``compact_store`` materializes
    them away)."""

    def __init__(self, path: str, schema: StructType, options):
        for bad in ("as_of_commit", "as_of_batch", "since_commit",
                    "with_pos", "with_commit", "branch"):
            if options.get(bad) is not None:
                raise ValueError(
                    f"option {bad!r} does not apply to streaming reads "
                    "(offsets ARE the snapshot cursor)"
                )
        meta = _meta(path)
        self._stream_store = meta.get("clustering") == "stream_append"
        if not self._stream_store and not meta.get("history"):
            raise ValueError(
                "store records no commit bookkeeping (operator-written "
                "store); streaming reads need a datasource-written store"
            )
        self._change_feed = (
            options.get("change_feed", "").lower() in ("true", "1")
        )
        if self._change_feed and self._stream_store:
            raise ValueError(
                "change_feed applies to batch-writer stores (a stream "
                "store is append-only: the plain streaming read IS its "
                "change feed)"
            )
        self._path = path
        self._start = int(options.get("start_commit", 0))
        self._schema = schema
        inner = schema
        if self._change_feed:
            if schema.fields[-1].name != CHANGE_COL:
                raise ValueError(
                    f"change_feed schema must end with {CHANGE_COL!r} "
                    "(schema projection may drop data columns, never "
                    "the event columns)"
                )
            inner = StructType(schema.fields[:-1])
        # the batch-read machinery: partition planning (files, page
        # keeps, tombstones, eq entries) and the task-side decode
        self._reader = PGSReader(path, inner, options)
        self._inner_schema = inner
        self._options = options

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API name)
        off = {"commit": self._start}
        if self._change_feed:
            # entries already committed are materialized in the feed's
            # insert side (every read applies tombstones), so the
            # cursor starts past them — their events would be no-ops
            meta = _meta(self._path)
            off["dels"] = meta.get("delete_seq", 0)
            off["eqs"] = len(meta.get("eq_deletes") or [])
        return off

    def latestOffset(self) -> dict:  # noqa: N802
        meta = _meta(self._path)
        if self._stream_store:
            k = meta.get("last_committed_batch", -1) + 1
        else:
            hist, base, _ = _hist_state(meta)
            k = base + len(hist)
        off = {"commit": max(k, self._start)}
        if self._change_feed:
            # delete cursor = the store-lifetime tombstone counter, NOT
            # the entry-list length: compact_tombstones merges entries
            # (list shrinks), and a later delete would hide inside a
            # count window. The eq list only ever grows on one store.
            off["dels"] = meta.get("delete_seq", 0)
            off["eqs"] = len(meta.get("eq_deletes") or [])
        return off

    def _pid_window(self, s: int, e: int) -> tuple[int, int]:
        if self._stream_store:
            return s * PGSStreamWriter.STRIDE, e * PGSStreamWriter.STRIDE
        hist, base, base_cap = _hist_state(_meta(self._path))
        if e > base + len(hist):
            raise ValueError(
                f"offset {e} beyond the store's {base + len(hist)} "
                "commits (rolled back mid-stream?); restart from a "
                "fresh checkpoint"
            )
        if 0 < s < base:
            # a RESUMING consumer inside the expired range is stuck: its
            # last-processed cap is gone, so neither replay-from-zero
            # (double-processing) nor skip-to-base (data loss) is sound
            raise ValueError(
                f"offset {s} predates the store's retained history "
                f"(snapshots <= {base} expired); a fresh consumer "
                "(offset 0) can still full-sync — expiry is metadata "
                "and every file is present"
            )

        def cap(k: int) -> int:
            # offset 0 = nothing processed: pid floor 0 is always sound,
            # expired or not (the expired commits' rows all have
            # pid < base_cap and drain in the first batch)
            if k <= 0:
                return 0
            return hist[k - 1 - base] if k > base else base_cap

        return cap(s), cap(e)

    def partitions(self, start: dict, end: dict):
        lo, hi = self._pid_window(start["commit"], end["commit"])
        # fresh planning pass: the new commits' files/tombstones are in
        # the CURRENT meta, not the one captured at reader construction
        self._reader = PGSReader(self._path, self._inner_schema,
                                 self._options)
        parts = [
            p for p in self._reader.partitions()
            if p.value is not None and lo <= p.value[0] < hi
        ]
        if self._change_feed:
            parts.extend(self._delete_partitions(start, end))
        return parts or [InputPartition(None)]

    #: marker heading a change-feed delete partition's value tuple
    _DELS_MARK = "__pgs_change_dels__"

    def _delete_partitions(self, start: dict, end: dict) -> list:
        """The window's tombstone entries as one address-only partition
        (delete files are row addresses — metadata-scale next to data).
        Entry identity is the store-lifetime ``seq`` counter; a merged
        entry (compact_tombstones) carries max(seq) of its inputs, so a
        cursor past it never re-receives it, while a cursor before it
        re-receives every merged address — idempotent for a mirror."""
        meta = _meta(self._path)
        s_eq, e_eq = start.get("eqs", 0), end.get("eqs", 0)
        eq_ents = meta.get("eq_deletes") or []
        if e_eq > s_eq:
            names = [e["name"] for e in eq_ents[s_eq:e_eq]]
            raise ValueError(
                f"change-feed window gained equality-delete commits "
                f"{names}: key predicates have no address events — "
                "compact_store materializes them into a delete-free "
                "store, then restart the feed from a fresh sync"
            )
        s_d, e_d = start.get("dels", 0), end.get("dels", 0)
        window = []
        for e in meta.get("deletes") or []:
            seq = e.get("seq")
            if seq is None or e.get("at") is None:
                raise ValueError(
                    f"tombstone entry {e['name']!r} predates change-feed "
                    "tagging (no 'seq'/'at' recorded) — compact_store "
                    "materializes it into a delete-free store"
                )
            if s_d < seq <= e_d:
                window.append(e)
        if not window:
            return []
        return [InputPartition((
            self._DELS_MARK,
            tuple((e["name"], int(e["at"])) for e in window),
        ))]

    def _read_delete_events(self, entries):
        import numpy as np
        import pyarrow as pa
        import pyarrow.dataset as pads
        from pyspark.sql.pandas.types import to_arrow_schema

        tabs = []
        for name, at in entries:
            t = pads.dataset(
                os.path.join(self._path, "deletes", name),
                format="parquet",
            ).to_table(columns=["part_id", "pos"])
            tabs.append(t.append_column(
                "at", pa.array(np.full(t.num_rows, at, dtype=np.int64))
            ))
        t = pa.concat_tables(tabs)
        # one event per address; the earliest tag wins (mirrors
        # read_changes — merged dirs stay defensive)
        t = t.group_by(["part_id", "pos"]).aggregate([("at", "min")])
        n = t.num_rows
        cols = {}
        for f in to_arrow_schema(self._schema):
            if f.name == "_pgs_part":
                cols[f.name] = t.column("part_id").cast(f.type)
            elif f.name == "_pgs_pos":
                cols[f.name] = t.column("pos").cast(f.type)
            elif f.name == "_pgs_commit":
                cols[f.name] = t.column("at_min").cast(f.type)
            elif f.name == CHANGE_COL:
                cols[f.name] = pa.array(["delete"] * n)
            else:
                # data columns withheld on delete events: positional
                # deletes are takedowns; replaying bytes defeats them
                cols[f.name] = pa.nulls(n, f.type)
        yield from pa.table(cols).to_batches(
            max_chunksize=_READ_BATCH_ROWS
        )

    def read(self, partition: InputPartition):
        import pyarrow as pa

        v = partition.value
        if (self._change_feed and v is not None
                and v[0] == self._DELS_MARK):
            yield from self._read_delete_events(v[1])
            return
        if not self._change_feed:
            yield from self._reader.read(partition)
            return
        for b in self._reader.read(partition):
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + [pa.array(["insert"] * b.num_rows)],
                names=list(b.schema.names) + [CHANGE_COL],
            )

    def commit(self, end: dict) -> None:
        pass  # nothing to clean: offsets are pure metadata


class PGSDataSource(DataSource):
    """``format("pgs")``: read/write PGS blob stores as a native source.

    Read options: ``columns`` (csv projection when no explicit schema),
    ``key_hex`` / ``column_keys_json`` (AES-GCM keys), ``as_of_batch``
    (snapshot read of a stream-written store as of that micro-batch).
    Write options:
    ``compression``, ``codec``, ``codec_map_json``, ``bloom_cols``,
    ``page_rows``, ``sort_key``, ``key_hex``, ``column_keys_json``.
    """

    @classmethod
    def name(cls) -> str:
        return "pgs"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("pgs requires a path: .load(dir) / .save(dir)")
        return p

    def schema(self):
        from pyspark.sql.types import IntegerType, LongType, StructField

        full = _infer_schema(self._path(), self.options)
        cols = self.options.get("columns")
        if cols:
            want = [c.strip() for c in cols.split(",")]
            by_name = {f.name: f for f in full.fields}
            shredded = _meta(self._path()).get("shredded") or {}
            fields = []
            missing = []
            for c in want:
                if c in by_name:
                    fields.append(by_name[c])
                    continue
                proj = (
                    _shred_field_projection(c, shredded)
                    if "." in c else None
                )
                if proj is None:
                    missing.append(c)
                    continue
                # typed-field projection of a shredded variant column:
                # the column is literally named "v.f" (backtick it in
                # SQL) with the declared shred kind's type
                fields.append(
                    StructField(c, _shred_spark_type(proj[2]), True)
                )
            if missing:
                raise ValueError(f"columns not in store schema: {missing}")
            full = StructType(fields)
        if self.options.get("change_feed", "").lower() in ("true", "1"):
            # change-feed stream: address + lineage + event type ride
            # along with the data columns. Delete events carry only the
            # address, so EVERY data column must relax to nullable —
            # a null under a required column is a JVM codegen crash
            from pyspark.sql.types import StringType

            return StructType(
                [StructField(f.name, f.dataType, True)
                 for f in full.fields]
                + [StructField("_pgs_part", IntegerType(), True),
                   StructField("_pgs_pos", LongType(), True),
                   StructField("_pgs_commit", LongType(), True),
                   StructField(CHANGE_COL, StringType(), False)]
            )
        if self.options.get("with_pos", "").lower() in ("true", "1"):
            # row-address columns for delete planning / debugging; never
            # stored, synthesized per task (part id + row ordinal)
            full = StructType(
                full.fields
                + [StructField("_pgs_part", IntegerType(), False),
                   StructField("_pgs_pos", LongType(), False)]
            )
        if self.options.get("with_commit", "").lower() in ("true", "1"):
            # row-lineage column (Iceberg _commit-style metadata): the
            # snapshot a row arrived in — batch commit number, or the
            # micro-batch id on stream stores. Null for rows whose
            # arrival snapshot expired or is not on main's timeline
            # (branch-staged rows read before publish)
            full = StructType(
                full.fields
                + [StructField("_pgs_commit", LongType(), True)]
            )
        return full

    def reader(self, schema: StructType) -> PGSReader:
        if self.options.get("change_feed", "").lower() in ("true", "1"):
            raise ValueError(
                "change_feed is a streaming option (readStream); the "
                "batch changelog is operators.changes.read_changes"
            )
        if self.options.get("pushdown", "").lower() in ("true", "1"):
            return PGSPruningReader(self._path(), schema, self.options)
        return PGSReader(self._path(), schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> PGSArrowWriter:
        return PGSArrowWriter(self._path(), schema, overwrite, self.options)

    def streamWriter(self, schema: StructType,
                     overwrite: bool) -> PGSStreamWriter:  # noqa: N802
        return PGSStreamWriter(self._path(), schema, overwrite, self.options)

    def streamReader(self, schema: StructType):  # noqa: N802
        return PGSStreamSourceReader(self._path(), schema, self.options)


# ------------------------------------------------------------ driver queries

def ds_pruned_read_query(spark, sf_dir: str):
    """orders through the native source: encode range-clustered, then a
    plain DataFrame filter — pushFilters prunes partitions from manifest
    stats before any task launches, Spark re-filters exactly."""
    from ..operators.pruned import RANGE_HI, RANGE_LO, encode_generic

    register(spark)
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = os.path.join("/tmp", f"pgs_ds_read_{os.path.basename(sf_dir)}")
    encode_generic(
        spark, df, out, key_col="o_orderkey", clustering="range",
        num_parts=16,
    )
    back = (
        spark.read.format("pgs").option("pushdown", "true").load(out)
    )  # single-use load: the pruning reader is safe here
    return back.filter(
        (back.o_orderkey >= RANGE_LO) & (back.o_orderkey <= RANGE_HI)
    )


def ds_write_roundtrip_query(spark, sf_dir: str):
    """customer written through df.write.format("pgs") (one upstream
    partition = one store partition), read back through the source."""
    import shutil

    register(spark)
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = os.path.join("/tmp", f"pgs_ds_write_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    df.repartition(4).write.format("pgs").mode("overwrite").save(out)
    return spark.read.format("pgs").load(out)


DS_WRITE_ROUNDTRIP_ORACLE = "SELECT * FROM customer"


def stats_agg_manifest_query(spark, sf_dir: str):
    """orders written through the source, then count/nulls/min/max per
    column answered by ``manifest_aggregates`` — manifest metadata only,
    zero blob bytes touched (the Iceberg aggregate-pushdown analog).
    The oracle computes the same aggregates by scanning the table, so a
    green row proves the metadata path equals the scan."""
    import shutil

    register(spark)
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = os.path.join("/tmp", f"pgs_agg_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    df.repartition(4).write.format("pgs").mode("overwrite").save(out)
    aggs = manifest_aggregates(
        out, ["o_orderkey", "o_totalprice", "o_orderstatus"]
    )
    rows = []
    for a in aggs:
        num = isinstance(a["min"], (int, float)) and a["min"] is not None
        rows.append((
            a["col"], a["count"], a["nulls"],
            float(a["min"]) if num else None,
            float(a["max"]) if num else None,
            None if num else a["min"],
            None if num else a["max"],
        ))
    return spark.createDataFrame(
        rows,
        "col string, cnt long, nulls long, min_num double, "
        "max_num double, min_str string, max_str string",
    )


STATS_AGG_MANIFEST_ORACLE = """
SELECT 'o_orderkey' AS col, CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(*) - count(o_orderkey) AS BIGINT) AS nulls,
       CAST(min(o_orderkey) AS DOUBLE) AS min_num,
       CAST(max(o_orderkey) AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM orders
UNION ALL
SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(o_totalprice) AS BIGINT),
       min(o_totalprice), max(o_totalprice), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(o_orderstatus) AS BIGINT),
       NULL, NULL, min(o_orderstatus), max(o_orderstatus)
FROM orders
"""


def stats_ndv_manifest_query(spark, sf_dir: str):
    """lineitem's key columns written through the source with per-chunk
    NDV registers, then distinct-count sketches answered by
    ``manifest_ndv`` — manifest metadata only, zero blob bytes. The
    oracle builds ONE HyperLogLog over the whole table (the DuckDB
    re-derivation of Spark's xxhash64, shared with stats_hll_distinct),
    so a green row proves register merge across chunks is exact: three
    independent computations (numpy per chunk + max-merge, relational
    Spark SQL, DuckDB HUGEINT CTEs), one bit-identical answer."""
    import shutil

    from ..operators.sketch import HLL_COLS

    register(spark)
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = os.path.join("/tmp", f"pgs_ndv_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    (
        df.select(*HLL_COLS).repartition(4)
        .write.format("pgs").mode("overwrite")
        .option("ndv_cols", ",".join(HLL_COLS)).save(out)
    )
    rows = [
        (r["col"], r["zero_registers"], str(r["registers_sum"]),
         r["est_raw"])
        for r in manifest_ndv(out, HLL_COLS)
    ]
    return spark.createDataFrame(
        rows,
        "name string, zero_registers long, registers_sum string, "
        "est_raw double",
    )


def ds_variant_shredded_query(spark, sf_dir: str):
    """documents as a VARIANT column written through the source with
    ``shred_variant`` (typed chunks + residual; every doc_id % 7 row
    carries n_chars as a JSON string so it must stay residual), read
    back with transparent reconstruction, fields re-extracted by the
    JVM's variant_get — the datasource-level analog of the reference's
    shredded variant reading (marshal/variant_reconstruct.go)."""
    import shutil

    from pyspark.sql import functions as F

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nc = F.col("n_chars").cast("string")
    j = F.concat(
        F.lit('{"lang": "'), F.col("lang"),
        F.lit('", "n_chars": '),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit('"'), nc, F.lit('"'))).otherwise(nc),
        F.lit(', "source": "'), F.col("source"), F.lit('"}'),
    )
    df = docs.select("doc_id", F.parse_json(j).alias("v"))
    out = os.path.join("/tmp", f"pgs_ds_variant_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    (
        df.repartition(2).write.format("pgs").mode("overwrite")
        .option("shred_variant", "v:lang=string,n_chars=int")
        .save(out)
    )
    back = spark.read.format("pgs").load(out)
    return back.select(
        "doc_id",
        F.variant_get("v", "$.lang", "string").alias("lang"),
        F.variant_get("v", "$.n_chars", "int").alias("n_chars"),
        F.variant_get("v", "$.source", "string").alias("source"),
    )


DS_VARIANT_SHREDDED_ORACLE = """
SELECT doc_id, lang, n_chars::INTEGER AS n_chars, source FROM documents
"""


def ds_shred_project_query(spark, sf_dir: str):
    """Typed-field projection of a shredded variant store
    (``columns="v.f"``): ONE typed chunk decodes per projected field —
    no variant reconstruction. Strictly typed: the doc_id % 7 rows
    (n_chars written as a JSON string, so residual-held) and the
    doc_id % 11 null rows read null."""
    import shutil

    from pyspark.sql import functions as F

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
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
    out = os.path.join(
        "/tmp", f"pgs_ds_shredproj_{os.path.basename(sf_dir)}"
    )
    shutil.rmtree(out, ignore_errors=True)
    (
        df.repartition(2).write.format("pgs").mode("overwrite")
        .option("shred_variant", "v:lang=string,n_chars=int")
        .save(out)
    )
    proj = (
        spark.read.format("pgs")
        .option("columns", "doc_id,v.lang,v.n_chars")
        .load(out)
    )
    return proj.select(
        "doc_id",
        F.col("`v.lang`").alias("lang_typed"),
        F.col("`v.n_chars`").alias("n_chars_typed"),
    )


DS_SHRED_PROJECT_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END AS lang_typed,
       CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
            ELSE n_chars END AS n_chars_typed
FROM documents
"""


def ds_delete_read_query(spark, sf_dir: str):
    """documents written through the source, then ``delete_where`` (the
    PII-takedown primitive: positional tombstones, no store rewrite),
    read back merge-on-read. The reference has no delete surface (files
    are immutable); this is the Iceberg positional-delete analog."""
    import shutil

    from ..operators.deletes import delete_where

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = os.path.join("/tmp", f"pgs_ds_delete_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs.repartition(4).write.format("pgs").mode("overwrite").save(out)
    delete_where(spark, out, "lang = 'de' OR doc_id % 17 = 3")
    return spark.read.format("pgs").load(out)


DS_DELETE_READ_ORACLE = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE NOT (lang = 'de' OR doc_id % 17 = 3)
"""


def ds_delete_compact_query(spark, sf_dir: str):
    """Delete, then compact: tombstones are materialized into rewritten
    chunks and the destination store is delete-free — proving
    merge-on-read and materialized reads agree (same oracle as
    ds_delete_read)."""
    import shutil

    from ..operators.compact import compact_store
    from ..operators.deletes import delete_where

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source", "n_chars"
    )
    base = os.path.join(
        "/tmp", f"pgs_ds_delc_src_{os.path.basename(sf_dir)}"
    )
    dst = os.path.join("/tmp", f"pgs_ds_delc_dst_{os.path.basename(sf_dir)}")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    docs.repartition(4).write.format("pgs").mode("overwrite").save(base)
    delete_where(spark, base, "lang = 'de' OR doc_id % 17 = 3")
    compact_store(spark, base, dst)
    return spark.read.format("pgs").load(dst)


def ds_schema_evolution_query(spark, sf_dir: str):
    """The full evolution lifecycle on one store: write the even-doc_id
    half, drop a column, add ``quality`` (default 0.5), rename
    ``n_chars`` -> ``size_chars``, then append the odd half under the
    evolved schema — the read resolves aliases per partition and fills
    defaults for pre-evolution partitions. The reference fixes its
    schema at write time (schema/schemahandler.go); this is the
    Iceberg-style mutable-table surface over our store."""
    import shutil

    from pyspark.sql import functions as F

    from ..operators.evolve import add_column, drop_column, rename_column

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = os.path.join("/tmp", f"pgs_ds_evolve_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    (
        docs.filter("doc_id % 2 = 0")
        .select("doc_id", "lang", "source", "n_chars")
        .repartition(2).write.format("pgs").mode("overwrite").save(out)
    )
    drop_column(out, "source")
    add_column(out, "quality", "double", default=0.5)
    rename_column(out, "n_chars", "size_chars")
    (
        docs.filter("doc_id % 2 = 1")
        .select(
            "doc_id", "lang",
            F.col("n_chars").alias("size_chars"),
            (F.col("n_chars") / F.lit(100.0)).alias("quality"),
        )
        .repartition(2).write.format("pgs").mode("append").save(out)
    )
    return spark.read.format("pgs").load(out)


DS_SCHEMA_EVOLUTION_ORACLE = """
SELECT doc_id, lang, n_chars AS size_chars,
       CASE WHEN doc_id % 2 = 0 THEN 0.5 ELSE n_chars / 100.0 END AS quality
FROM documents
"""


def ds_upsert_query(spark, sf_dir: str):
    """MERGE by key: every doc_id % 5 = 0 document gets a corrected
    n_chars (+1000) plus a synthetic new document per lang — replaced
    rows tombstone via a distributed semi-join, the batch appends
    (operators/deletes.py upsert_by_key; Iceberg merge-on-read shape)."""
    import shutil

    from pyspark.sql import functions as F

    from ..operators.deletes import upsert_by_key

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = os.path.join("/tmp", f"pgs_ds_upsert_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs.repartition(4).write.format("pgs").mode("overwrite").save(out)
    batch = (
        docs.filter("doc_id % 5 = 0")
        .select("doc_id", "lang",
                (F.col("n_chars") + F.lit(1000)).alias("n_chars"))
        .unionAll(
            docs.groupBy("lang").agg(
                (F.max("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                F.lit(1).alias("n_chars"),
            ).select("doc_id", "lang", "n_chars")
        )
    )
    upsert_by_key(spark, out, batch, "doc_id")
    return spark.read.format("pgs").load(out)


DS_UPSERT_ORACLE = """
SELECT doc_id,
       lang,
       CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000 ELSE n_chars END
           AS n_chars
FROM documents
UNION ALL
SELECT max(doc_id) + 10000000 AS doc_id, lang, 1 AS n_chars
FROM documents GROUP BY lang
"""


def ds_eq_delete_query(spark, sf_dir: str):
    """Equality deletes (Iceberg's second delete flavor): commit key
    VALUES with no store scan at all, applied by readers as a null-safe
    anti-join scoped to partitions that existed at delete time — so the
    post-delete append re-inserts matching keys and they survive
    (operators/deletes.py delete_values; the lazy-upsert primitive)."""
    import shutil

    from pyspark.sql import functions as F

    from ..operators.deletes import delete_values

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = os.path.join("/tmp", f"pgs_ds_eqdel_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs.repartition(4).write.format("pgs").mode("overwrite").save(out)
    keys = docs.filter("n_chars % 5 = 0").select("lang", "source")
    delete_values(spark, out, keys, ["lang", "source"])
    appended = docs.filter("doc_id % 3 = 0").select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        "lang", "source", "n_chars",
    )
    appended.write.format("pgs").mode("append").save(out)
    return spark.read.format("pgs").load(out)


DS_EQ_DELETE_ORACLE = """
WITH delkeys AS (
    SELECT DISTINCT lang, source FROM documents WHERE n_chars % 5 = 0
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE NOT EXISTS (
    SELECT 1 FROM delkeys k
    WHERE k.lang = d.lang AND k.source = d.source
)
UNION ALL
SELECT doc_id + 1000000 AS doc_id, lang, source, n_chars
FROM documents WHERE doc_id % 3 = 0
"""


def ds_update_query(spark, sf_dir: str):
    """UPDATE ... SET over the store (operators/deletes.py
    update_where): matching rows are tombstoned and re-appended with
    expressions evaluated over their OLD values — the DML verb
    completing delete_where + upsert_by_key; merge-on-read, no
    partition rewrite. Two sequential updates prove the re-appended
    rows stay addressable."""
    import shutil

    from ..operators.deletes import update_where

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = os.path.join("/tmp", f"pgs_ds_update_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs.repartition(4).write.format("pgs").mode("overwrite").save(out)
    update_where(
        spark, out, "lang = 'en'",
        {"n_chars": "n_chars * 2 + 1", "source": "concat(source, '!')"},
    )
    update_where(
        spark, out, "n_chars % 2 = 1 AND lang = 'en'",
        {"n_chars": "n_chars - 1"},
    )
    return spark.read.format("pgs").load(out)


DS_UPDATE_ORACLE = """
WITH u1 AS (
    SELECT doc_id, lang,
           CASE WHEN lang = 'en' THEN source || '!' ELSE source END
               AS source,
           CASE WHEN lang = 'en' THEN n_chars * 2 + 1 ELSE n_chars END
               AS n_chars
    FROM documents
)
SELECT doc_id, lang, source,
       CASE WHEN n_chars % 2 = 1 AND lang = 'en' THEN n_chars - 1
            ELSE n_chars END AS n_chars
FROM u1
"""


def ds_rollback_query(spark, sf_dir: str):
    """Snapshot rollback (the writable twin of as_of_commit): a bad
    append is durably undone by truncating the commit history — its
    files turn invisible at the meta write — and the id allocator stays
    pinned above the rolled-back range, so a follow-up append gets
    fresh part ids (rollback_to_commit)."""
    import shutil

    from pyspark.sql import functions as F

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = os.path.join(
        "/tmp", f"pgs_ds_rollback_{os.path.basename(sf_dir)}"
    )
    shutil.rmtree(out, ignore_errors=True)
    docs.repartition(4).write.format("pgs").mode("overwrite").save(out)
    # the bad append: corrupted duplicates (same schema, wrong values)
    docs.select(
        "doc_id", F.lit("xx").alias("lang"),
        F.lit(-1).cast(dict(docs.dtypes)["n_chars"]).alias("n_chars"),
    ).write.format("pgs").mode("append").save(out)
    rollback_to_commit(out, 1)
    good = docs.filter("doc_id % 4 = 0").select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        "lang", "n_chars",
    )
    good.write.format("pgs").mode("append").save(out)
    return spark.read.format("pgs").load(out)


DS_ROLLBACK_ORACLE = """
SELECT doc_id, lang, n_chars FROM documents
UNION ALL
SELECT doc_id + 2000000 AS doc_id, lang, n_chars
FROM documents WHERE doc_id % 4 = 0
"""


def ds_recluster_query(spark, sf_dir: str):
    """Rewrite-with-sort-order (operators/compact.py recluster_store;
    Iceberg rewrite_data_files with a sort order): a key-shuffled store
    with tombstones is globally range-clustered on doc_id in one range
    shuffle — content identical minus the deletes, every partition's
    key bounds disjoint afterwards."""
    import shutil

    from ..operators.compact import recluster_store
    from ..operators.deletes import delete_where

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = os.path.join(
        "/tmp", f"pgs_ds_recluster_{os.path.basename(sf_dir)}"
    )
    dst = out + "-ranged"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    # scatter the key across partitions so the rewrite has work to do
    docs.repartition(4).write.format("pgs").mode("overwrite").save(out)
    delete_where(spark, out, "n_chars % 9 = 0")
    recluster_store(spark, out, dst, "doc_id")
    return spark.read.format("pgs").load(dst)


DS_RECLUSTER_ORACLE = """
SELECT doc_id, lang, n_chars FROM documents WHERE n_chars % 9 != 0
"""


def ds_merge_query(spark, sf_dir: str):
    """Conditional MERGE INTO (operators/deletes.py merge_into): one
    source both updates matched store rows — accumulating over the OLD
    values, narrowed by a matched_condition — and inserts its unmatched
    rows; tombstone-matched + one append, both arms materialized before
    the tombstone commit."""
    import shutil

    from pyspark.sql import functions as F

    from ..operators.deletes import merge_into

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = os.path.join("/tmp", f"pgs_ds_merge_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs.repartition(4).write.format("pgs").mode("overwrite").save(out)
    src = (
        docs.filter("doc_id % 3 = 0").select("doc_id", "lang", "n_chars")
        .unionAll(
            docs.filter("doc_id % 7 = 0").select(
                (F.col("doc_id") + F.lit(5_000_000)).alias("doc_id"),
                "lang", "n_chars",
            )
        )
    )
    merge_into(
        spark, out, src, "doc_id",
        when_matched={"n_chars": "t.n_chars + s.n_chars"},
        matched_condition="s.n_chars % 2 = 0",
        when_not_matched=True,
    )
    return spark.read.format("pgs").load(out)


DS_MERGE_ORACLE = """
WITH src AS (
    SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 5000000 AS doc_id, lang, n_chars
    FROM documents WHERE doc_id % 7 = 0
)
SELECT d.doc_id, d.lang,
       CASE WHEN s.doc_id IS NOT NULL AND s.n_chars % 2 = 0
            THEN d.n_chars + s.n_chars ELSE d.n_chars END AS n_chars
FROM documents d LEFT JOIN src s ON d.doc_id = s.doc_id
UNION ALL
SELECT s.doc_id, s.lang, s.n_chars FROM src s
WHERE NOT EXISTS (
    SELECT 1 FROM documents d WHERE d.doc_id = s.doc_id
)
"""


def ds_branch_wap_query(spark, sf_dir: str):
    """Write-audit-publish through staging branches (the Iceberg
    branch-ref pattern): stage an append on a branch — main readers
    stay blind to it — audit the branch view, publish to fast-forward
    main, and drop a second (failed-audit) branch whose files never
    reach main (create_branch / publish_branch / drop_branch +
    option("branch") on both read and write paths)."""
    import shutil

    from pyspark.sql import functions as F

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = os.path.join("/tmp", f"pgs_ds_branch_{os.path.basename(sf_dir)}")
    shutil.rmtree(out, ignore_errors=True)
    docs.repartition(4).write.format("pgs").mode("overwrite").save(out)

    # the failed audit: staged, read back (the audit), then dropped —
    # nothing of it may surface in the final read
    create_branch(out, "reject")
    bad = docs.select(
        (F.col("doc_id") + F.lit(9_000_000)).alias("doc_id"),
        F.lit("zz").alias("lang"),
        F.lit(-1).cast(dict(docs.dtypes)["n_chars"]).alias("n_chars"),
    )
    (bad.write.format("pgs").mode("append")
        .option("branch", "reject").save(out))
    audited = (spark.read.format("pgs").option("branch", "reject")
               .load(out))
    assert audited.count() == 2 * docs.count()
    drop_branch(out, "reject")
    sweep_store(out)

    # the passing audit: staged on a fresh branch, published
    create_branch(out, "stage")
    good = docs.filter("doc_id % 5 = 0").select(
        (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
        "lang",
        (F.col("n_chars") * 2).alias("n_chars"),
    )
    (good.write.format("pgs").mode("append")
        .option("branch", "stage").save(out))
    publish_branch(out, "stage")
    return spark.read.format("pgs").load(out)


DS_BRANCH_WAP_ORACLE = """
SELECT doc_id, lang, n_chars FROM documents
UNION ALL
SELECT doc_id + 3000000 AS doc_id, lang, n_chars * 2 AS n_chars
FROM documents WHERE doc_id % 5 = 0
"""


def ds_stream_source_query(spark, sf_dir: str):
    """The store consumed as a STREAM (readStream.format("pgs")): two
    commits drain as micro-batches under availableNow, a takedown
    between them never emits, and the batched union equals the batch
    read — proving offsets slice the commit timeline exactly
    (PGSStreamSourceReader)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.deletes import delete_where

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = os.path.join(
        "/tmp", f"pgs_ds_streamsrc_{os.path.basename(sf_dir)}"
    )
    shutil.rmtree(out, ignore_errors=True)
    docs.repartition(2).write.format("pgs").mode("overwrite").save(out)
    docs.filter("doc_id % 3 = 0").select(
        (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
        "lang", "n_chars",
    ).write.format("pgs").mode("append").save(out)
    delete_where(spark, out, "lang = 'de'")

    rows: list = []
    ckpt = tempfile.mkdtemp()
    q = (
        spark.readStream.format("pgs").load(out)
        .writeStream.foreachBatch(lambda df, b: rows.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        rows, spark.read.format("pgs").load(out).schema
    )


DS_STREAM_SOURCE_ORACLE = """
SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'de'
UNION ALL
SELECT doc_id + 3000000 AS doc_id, lang, n_chars
FROM documents WHERE doc_id % 3 = 0 AND lang <> 'de'
"""


def register(spark) -> None:
    """Make ``format("pgs")`` available on this session. Also enables
    Python-data-source filter pushdown (off by default; Spark refuses to
    plan a reader that implements pushFilters while it is off)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PGSDataSource)
