"""Binary statistics truncation for manifest bounds.

Re-creates the reference's stats-truncation policy
(/root/reference/internal/layout/statistics.go:10-203; policy notes
README.md:327-338): long byte-array min/max bounds are truncated to a
target length before landing in metadata — the *min* bound truncates
downward (a prefix is always <= the full value), while the *max* bound
must round UP: increment the last byte with carry so the truncated bound
still sorts >= every value it covers; if every byte is 0xFF the bound is
dropped (reported untruncatable). UTF-8 data cuts both bounds at a
character boundary and rounds the max's last character up, so the bounds
stay valid UTF-8 and order the same as strings and as bytes.

Manifest stats are metadata consumed by pruning (prune.py) — an
over-wide bound is safe (decodes a partition needlessly), an under-wide
bound is not (skips data), which is exactly the reference's invariant.
"""

from __future__ import annotations

DEFAULT_TRUNCATE_LEN = 64


def _char_cut(value: bytes, limit: int) -> int:
    """The longest cut of UTF-8 ``value`` at most ``limit`` bytes long
    that ends on a character boundary."""
    i = limit
    while i > 0 and 0x80 <= value[i] <= 0xBF:       # continuation byte
        i -= 1
    return i


def truncate_min(value: bytes, limit: int = DEFAULT_TRUNCATE_LEN) -> bytes:
    """Prefix-truncate a lower bound (always sorts <= the original), at a
    UTF-8 character boundary so a string bound stays valid."""
    if len(value) <= limit:
        return value
    return value[:_char_cut(value, limit)]


def truncate_max(
    value: bytes, limit: int = DEFAULT_TRUNCATE_LEN, utf8: bool = True
) -> bytes | None:
    """Truncate an upper bound, rounding up: UTF-8 values round their
    last whole character up to the next code point, so the bound stays
    valid UTF-8. Returns None when no truncated upper bound exists
    (all-0xFF prefix) — the caller should then keep the full value or
    omit the bound, mirroring statistics.go's fallback."""
    if len(value) <= limit:
        return value
    if utf8:
        try:
            chars = value[:_char_cut(value, limit)].decode("utf-8")
        except UnicodeDecodeError:
            return _truncate_max_binary(value, limit)
        while chars:
            c = ord(chars[-1]) + 1
            if c == 0xD800:                 # skip the surrogate block
                c = 0xE000
            if c <= 0x10FFFF:
                return (chars[:-1] + chr(c)).encode("utf-8")
            chars = chars[:-1]
        return None
    return _truncate_max_binary(value, limit)


def _truncate_max_binary(value: bytes, limit: int) -> bytes | None:
    prefix = bytearray(value[:limit])
    i = len(prefix) - 1
    while i >= 0:
        if prefix[i] != 0xFF:
            prefix[i] += 1
            return bytes(prefix[: i + 1])
        i -= 1
    return None


def truncate_bounds(
    vmin: bytes | str | None,
    vmax: bytes | str | None,
    limit: int = DEFAULT_TRUNCATE_LEN,
) -> tuple[str, str]:
    """Truncate (vmin, vmax) for manifest storage; returns strings.

    vmax falls back to the untruncated value when rounding up is
    impossible — correctness (no under-wide bound) over compactness."""
    def to_b(v):
        return v.encode("utf-8", "surrogatepass") if isinstance(v, str) else v

    out_min = ""
    out_max = ""
    if vmin is not None:
        out_min = truncate_min(to_b(vmin), limit).decode("utf-8", "replace")
    if vmax is not None:
        bmax = to_b(vmax)
        t = truncate_max(bmax, limit)
        out_max = (t if t is not None else bmax).decode("utf-8", "replace")
    return out_min, out_max
