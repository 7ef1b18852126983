"""Pure helpers shared by the workloads: latency summaries, the fixed
row encoding that user bytes are counted in, the write/space byte
counters, and an order-independent content hash.

Nothing here imports Spark, so the unit tests run without a session."""

from __future__ import annotations

import hashlib
import math
import os
import statistics
from typing import Any, Iterable, Sequence

# Candidate tail percentiles, highest first. A tail is only reported when
# at least MIN_BEYOND samples lie strictly beyond its rank.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: Sequence[float]) -> dict[str, Any] | None:
    """The highest percentile with at least ``MIN_BEYOND`` samples beyond
    it, by nearest rank: ``{"p": 90.0, "value": ..., "n": len(values)}``.
    None when even the median has fewer than ``MIN_BEYOND`` samples above
    it (fewer than 20 samples)."""
    n = len(values)
    ordered = sorted(values)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p * n / 100.0))
        if n - rank >= MIN_BEYOND:
            return {"p": p, "value": float(ordered[rank - 1]), "n": n}
    return None


def latency_summary(values: Sequence[float]) -> dict[str, Any]:
    """Median plus the supported tail and the sample count."""
    return {"p50": median(values), "tail": tail(values), "n": len(values)}


# --------------------------------------------------------------------- #
# user bytes in a fixed encoding
# --------------------------------------------------------------------- #


def encoded_size(value: Any) -> int:
    """Bytes of one value in the benchmark's fixed encoding: 8 per
    integer or float, 4-byte length prefix plus UTF-8 bytes per string,
    1 per null. Independent of how the engine stores it, so a ratio over
    it compares storage layouts, not encodings."""
    if value is None:
        return 1
    if isinstance(value, bool):
        return 1
    if isinstance(value, (int, float)):
        return 8
    if isinstance(value, str):
        return 4 + len(value.encode("utf-8"))
    if isinstance(value, (bytes, bytearray)):
        return 4 + len(value)
    raise TypeError(f"no fixed encoding for {type(value).__name__}")


def row_bytes(row: dict[str, Any]) -> int:
    return sum(encoded_size(v) for v in row.values())


# --------------------------------------------------------------------- #
# bytes written / space used
# --------------------------------------------------------------------- #


def dir_sizes(root: str) -> dict[str, int]:
    """{relative path: size} of every regular file under ``root``."""
    out: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            full = os.path.join(dirpath, name)
            try:
                out[os.path.relpath(full, root)] = os.path.getsize(full)
            except FileNotFoundError:
                continue  # removed between listing and stat
    return out


class WriteCounter:
    """Bytes written under a directory, counted from periodic listings.

    A path not present at the previous listing adds its whole size; a
    path that grew adds the growth (appends); a path that shrank was
    replaced and adds its whole size. Files created and removed between
    two listings are not seen, so callers list before anything removes
    what they want counted (e.g. before a flush truncates a journal)."""

    def __init__(self, root: str):
        self.root = root
        self._sizes: dict[str, int] = dir_sizes(root)
        self.bytes_written = 0

    def observe(self) -> int:
        """List the directory, add what is new; returns bytes added."""
        added = 0
        sizes = dir_sizes(self.root)
        for path, size in sizes.items():
            before = self._sizes.get(path)
            added += size - before if before is not None and size >= before else size
        self._sizes = sizes
        self.bytes_written += added
        return added


def amplification(stored_bytes: int, user_bytes: int) -> float:
    if user_bytes <= 0:
        raise ValueError("amplification over zero user bytes")
    return stored_bytes / user_bytes


# --------------------------------------------------------------------- #
# content hash
# --------------------------------------------------------------------- #


def row_digest(values: Iterable[Any]) -> int:
    h = hashlib.blake2b(repr(tuple(values)).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def content_hash(rows: Iterable[Sequence[Any]]) -> tuple[int, int]:
    """(row count, sum of per-row digests mod 2**64): equal for equal
    multisets of rows in any order."""
    n = 0
    acc = 0
    for r in rows:
        n += 1
        acc = (acc + row_digest(r)) & 0xFFFFFFFFFFFFFFFF
    return n, acc
