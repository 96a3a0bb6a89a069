"""Stats-truncation tests (reference statistics.go invariants: truncated
min <= all values, truncated max >= all values, UTF-8 bounds stay valid)."""

from __future__ import annotations

from parquet_go_spark.stats_trunc import (
    truncate_bounds,
    truncate_max,
    truncate_min,
)


def test_short_values_untouched():
    assert truncate_min(b"abc", 64) == b"abc"
    assert truncate_max(b"abc", 64) == b"abc"


def test_min_is_prefix_and_lower():
    v = b"m" * 100
    t = truncate_min(v, 10)
    assert t == b"m" * 10 and t <= v


def test_max_rounds_up():
    v = b"abcdefghij" * 10
    t = truncate_max(v, 10)
    assert t is not None and len(t) <= 10
    assert t >= v  # upper-bound invariant


def test_max_carry_through_ff():
    v = b"a" + b"\xff" * 20
    t = truncate_max(v, 10, utf8=False)
    assert t == b"b"  # carry collapses the 0xFF tail
    assert t >= v


def test_max_all_ff_untruncatable():
    assert truncate_max(b"\xff" * 20, 10, utf8=False) is None


def test_utf8_character_boundary():
    # 'é' = 0xC3 0xA9; cutting at limit=3 lands mid-character
    v = ("aé" * 40).encode()
    t = truncate_max(v, 3)
    assert t is not None
    t.decode("utf-8")  # must stay valid UTF-8
    assert t >= v


def test_bounds_wrapper_long_text():
    lo = "aardvark " * 30
    hi = "zebra " * 30
    out_min, out_max = truncate_bounds(lo, hi, limit=16)
    assert len(out_min.encode()) <= 16
    assert out_min <= lo and out_max >= hi


def test_bounds_cover_characters_split_at_the_limit():
    """A limit that splits a multi-byte character must still give string
    bounds that enclose the value: the min cuts before the character,
    the max rounds the last whole character up."""
    for v in ("0" * 53 + "\x80" * 6 + "0", "a" * 63 + "\U0001f600" * 3,
              "é" * 40, "\U0010ffff" * 30):
        lo, hi = truncate_bounds(v, v)
        assert lo <= v <= hi, v
        assert lo.encode() <= v.encode() <= hi.encode(), v
        assert "�" not in lo + hi
