"""Small statistics and query-oracle helpers, kept free of Spark so the
benchmark's own tests can import them without a session."""

from __future__ import annotations

import math


def percentile(values, p: float) -> tuple[float, int]:
    """Nearest-rank percentile of `values` and the number of samples above
    its rank, so a caller can see whether the tail is backed by data."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1], len(xs) - rank


def wildcard_to_java_regex(query: str, ignore_case: bool = False) -> str:
    """Translate a CLP text query to an unanchored regex for Spark `rlike`.

    A query matches anywhere in a message (implicit substring), '*' is any
    run of characters, '?' is one character, and a backslash makes the next
    character literal; a trailing lone backslash is dropped. The result only
    uses constructs that Java and Python regexes read alike.
    """
    out = []
    i, n = 0, len(query)
    while i < n:
        c = query[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "\\":
            if i + 1 < n:
                i += 1
                out.append(_literal(query[i]))
        else:
            out.append(_literal(c))
        i += 1
    flags = "(?si)" if ignore_case else "(?s)"
    return flags + "".join(out)


def _literal(c: str) -> str:
    if c.isalnum() or c in " _-,;:'\"=/@#%&<>`~!":
        return c
    return "\\x{%x}" % ord(c) if ord(c) > 0x7F else "\\" + c
