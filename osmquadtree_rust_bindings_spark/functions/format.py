"""Human formatting + enum codecs (reference X13/X14).

- ``bytes_str`` / ``min_sec_str``: human-readable sizes and durations
  (/root/reference/osmquadtree_rust_bindings/__init__.py:29-39, 127-133).
- changetype / elementtype string codecs with 1-letter aliases
  (/root/reference/src/elements.rs:558-598); Column form is a chained
  CASE (stays in codegen) for the CDC columns used by J5/J6.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CHANGETYPES = ["normal", "delete", "remove", "modify", "unchanged", "create"]
CHANGETYPE_ALIAS = {"": "normal", "n": "normal", "d": "delete",
                    "r": "remove", "m": "modify", "u": "unchanged",
                    "c": "create"}
ELEMENTTYPES = {"n": "node", "w": "way", "r": "relation"}


def bytes_str(num) -> str:
    """Reference-exact: '??' for negatives, %6d bytes below 1.5k, then
    %6.1f at 1.5x-stepped k/M/G thresholds (__init__.py:29-39)."""
    if num < 0:
        return "??"
    if num < 1024 * 1.5:
        return "%6db" % (num,)
    if num < 1024 * 1024 * 1.5:
        return "%6.1fkb" % (num / 1024.0,)
    if num < 1024 * 1024 * 1024 * 1.5:
        return "%6.1fMb" % (num / 1024.0 / 1024.0,)
    return "%6.1fGb" % (num / 1024.0 / 1024.0 / 1024.0,)


def min_sec_str(t) -> str:
    """Reference-exact (__init__.py:127-133): right-padded seconds below
    90s, else '%4dm%4.1fs'."""
    if t < 90:
        return "     %4.1fs" % t
    mins = int(t / 60)
    return "%4dm%4.1fs" % (mins, t - mins * 60)


def bytes_str_col(num: Column) -> Column:
    """Column form of :func:`bytes_str` (same branch thresholds,
    reference __init__.py:29-39), staying in codegen via format_string.
    Rounding note: Java's %.1f (format_string) rounds HALF_UP while C's
    rounds the binary value to nearest — they can only disagree on exact
    decimal ties, and num/1024^k can never be an exact multiple of 0.05,
    so the outputs are identical for every integer input."""
    kb, mb, gb = 1024.0, 1024.0 ** 2, 1024.0 ** 3
    return (
        F.when(num < 0, F.lit("??"))
        .when(num < kb * 1.5, F.format_string("%6db", num.cast("long")))
        .when(num < mb * 1.5, F.format_string("%6.1fkb", num / kb))
        .when(num < gb * 1.5, F.format_string("%6.1fMb", num / mb))
        .otherwise(F.format_string("%6.1fGb", num / gb)))


def min_sec_str_col(t: Column) -> Column:
    """Column form of :func:`min_sec_str` (reference __init__.py:127-133)."""
    mins = F.floor(t / 60).cast("long")
    return (
        F.when(t < 90, F.format_string("     %4.1fs", t.cast("double")))
        .otherwise(F.format_string("%4dm%4.1fs", mins,
                                   t - mins.cast("double") * 60)))


class LogTimes:
    """Reference-exact stage-timing log (__init__.py:110-125): call with a
    message to record the elapsed interval since the previous call;
    str() renders aligned ``message: min_sec_str`` lines plus TOTAL."""

    def __init__(self, msgs=None):
        import time

        self.last_time = time.time()
        self.messages = list(msgs) if msgs else []

    def __call__(self, message: str) -> None:
        import time

        next_time = time.time()
        self.messages.append((message, next_time - self.last_time))
        self.last_time = next_time

    def __str__(self) -> str:
        if not self.messages:
            return "LogTimes empty"
        total = sum(b for a, b in self.messages)
        rows = self.messages + [("TOTAL", total)]
        max_len = max(len(a) for a, b in rows)
        return "\n".join(
            "%s:%s%s" % (a, " " * (max_len - len(a)), min_sec_str(b))
            for a, b in rows)


def time_op(op, *args, **kwargs):
    """Reference time_op (__init__.py:136-139): -> (seconds, result)."""
    import time

    st = time.time()
    res = op(*args, **kwargs)
    return time.time() - st, res


def _decode(col: Column, table: dict[str, str],
            full_values: list[str]) -> Column:
    # reference *_from_str semantics (src/elements.rs:558-574): input is
    # lowercased, full names and aliases both accepted, anything else is
    # an error — null is the Column-friendly error sentinel
    low = F.lower(col)
    out = F.when(low.isin(full_values), low) \
        .otherwise(F.lit(None).cast("string"))
    for short, full in table.items():
        out = F.when(low == short, F.lit(full)).otherwise(out)
    return out


def changetype_decode(col: Column) -> Column:
    """alias or full name (any case) -> full changetype name; unknown
    values decode to null (the reference raises)."""
    return _decode(col, CHANGETYPE_ALIAS, CHANGETYPES)


def elementtype_decode(col: Column) -> Column:
    return _decode(col, ELEMENTTYPES, list(ELEMENTTYPES.values()))


def elementtype_encode(col: Column) -> Column:
    low = F.lower(col)
    out = F.lit(None).cast("string")
    for short, full in ELEMENTTYPES.items():
        out = F.when(low == full, F.lit(short)).otherwise(out)
    return out
