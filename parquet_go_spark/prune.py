"""The one rule set that decides whether a zone may be skipped.

A zone is a unit a reader can drop whole: a PGS partition chunk, a
parquet row group, or a page of either. The store formats only build
zones (bounds in the filter value's domain, exact null and row counts,
a bloom, a dictionary) and ask this module whether the zone may hold a
row matching a filter. Filters are the ``pyspark.sql.datasource`` Filter
objects ``pushFilters`` receives.

The answer is one-sided (the reference's invalid-stats defense,
reader/index.go:65-87): False only when the zone provably holds no row
the filter matches under Spark semantics, True for anything unknown or
of a mismatched type; Spark re-applies every filter exactly. Floats use
Spark's total order: NaN equals NaN and is greatest, ±inf are ordinary
values. PGS chunk stats fold under the same order (``order_key``), so
their bounds include NaN; parquet bounds leave NaN out
(``nan_in_bounds=False``).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

_NAN = float("nan")


def order_key(x):
    """Total-order sort key: NaN compares greater than every other
    value, ±inf are ordinary values; non-floats order unchanged."""
    return (1, 0.0) if _is_nan(x) else (0, x)


def from_tuple(col: str, pred: tuple) -> list[Filter]:
    """The parquet reader's public predicate tuple -> Filters:
    ``("eq", v)``, ``("in", vs)``, ``("range", lo, hi)`` (closed)."""
    attr = (col,)
    if pred[0] == "eq":
        return [EqualTo(attr, pred[1])]
    if pred[0] == "in":
        return [In(attr, tuple(pred[1]))]
    if pred[0] == "range":
        return [GreaterThanOrEqual(attr, pred[1]),
                LessThanOrEqual(attr, pred[2])]
    raise ValueError(f"unknown predicate {pred[0]!r}")


def point_values(f: Filter) -> list | None:
    """The non-null values an ``=``, ``IN`` or non-null ``<=>`` filter
    can match; None for every other filter."""
    if isinstance(f, In):
        return [v for v in f.value if v is not None]
    if isinstance(f, EqualTo) or (
            isinstance(f, EqualNullSafe) and f.value is not None):
        return [] if f.value is None else [f.value]
    return None


def keep(f: Filter, lo, hi, nulls: int | None = None,
         rows: int | None = None, nan_in_bounds: bool = True) -> bool:
    """May a zone whose non-null values lie in ``[lo, hi]`` (filter value
    domain, None = unknown) hold a row matching ``f``? Exact ``nulls`` /
    ``rows`` counts answer IS [NOT] NULL, and a zone of only nulls holds
    nothing a comparison matches. ``nan_in_bounds=False``: the zone may
    also hold NaN above ``hi``, and a NaN bound is invalid (keeps)."""
    if isinstance(f, IsNull) or (
            isinstance(f, EqualNullSafe) and f.value is None):
        return nulls is None or nulls > 0
    if nulls is not None and rows is not None and nulls >= rows:
        return False
    if isinstance(f, IsNotNull) or lo is None or hi is None:
        return True
    if nan_in_bounds:
        return _interval_keep(f, lo, hi)
    if _is_nan(lo) or _is_nan(hi):
        return True
    return _interval_keep(f, lo, hi) or _interval_keep(f, _NAN, _NAN)


def _is_nan(x) -> bool:
    return isinstance(x, float) and x != x


def _interval_keep(f: Filter, lo, hi) -> bool:
    if isinstance(f, StringStartsWith):
        # any s starting with p has s >= p (so hi < p prunes), and
        # lo <= s implies lo[:len(p)] <= p (so a greater cut-down lo
        # prunes); truncated bounds only widen the interval
        p = f.value
        if not isinstance(p, (str, bytes)) or not p \
                or type(lo) is not type(p) or type(hi) is not type(p):
            return True
        return hi >= p and lo[:len(p)] <= p
    try:
        klo, khi = order_key(lo), order_key(hi)
        if isinstance(f, In):
            vs = point_values(f)
            return not vs or any(klo <= order_key(v) <= khi for v in vs)
        if not isinstance(f, (EqualTo, EqualNullSafe, GreaterThan,
                              GreaterThanOrEqual, LessThan,
                              LessThanOrEqual)):
            return True
        v = order_key(f.value)
        if isinstance(f, (EqualTo, EqualNullSafe)):
            return klo <= v <= khi
        if isinstance(f, GreaterThan):
            return khi > v
        if isinstance(f, GreaterThanOrEqual):
            return khi >= v
        if isinstance(f, LessThan):
            return klo < v
        return klo <= v
    except TypeError:
        return True


def bloom_keep(bloom, hashes) -> bool:
    """May a chunk with split-block ``bloom`` hold one of the values
    ``hashes`` came from (the store's own hashes of a point filter's
    values, one probe for all)? No hash at all — every value outside
    the column's range — drops."""
    return bool(bloom.check_hashes(hashes).any())


def dict_keep(f: Filter, dictionary) -> bool:
    """May a chunk whose every data page is dictionary-encoded, with
    dictionary ``dictionary`` (list or ndarray of storage values), hold
    a row matching point filter ``f``? NaN matches NaN."""
    import numpy as np

    vals = point_values(f)
    if not vals:
        return True
    if isinstance(dictionary, np.ndarray):
        want = np.asarray(vals)
        if (want.dtype.kind in "biuf") != (
                dictionary.dtype.kind in "biuf"):
            return True          # a value of another type: cannot tell
        if want.dtype.kind == "f" and dictionary.dtype.kind == "f" \
                and np.isnan(want).any() and np.isnan(dictionary).any():
            return True
        return bool(np.isin(want, dictionary).any())
    if len(dictionary) and any(type(v) is not type(dictionary[0])
                               for v in vals):
        return True
    dset = set(dictionary)
    return any(v in dset for v in vals)
