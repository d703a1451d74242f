"""Summary statistics and order-insensitive result fingerprints.

Stdlib only, so the generators and the tests use them without Spark.
"""

from __future__ import annotations

import hashlib
import math
import statistics
from collections.abc import Iterable, Sequence

_MASK = (1 << 64) - 1
FLOAT_DIGITS = 6


def iqr_share(values: Sequence[float]) -> float:
    """Distance between the first and third quartile, as
    `statistics.quantiles(values, n=4)` gives them, as a share of the
    median: the run-to-run spread the benchmark is judged on."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def canon(value) -> str:
    """One cell as a stable string: NULL is its own token, floats are
    rounded (so two engines that differ in the last bits agree) and
    -0.0 reads as 0.0."""
    if value is None:
        return "\\N"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        r = round(value, FLOAT_DIGITS)
        return repr(r + 0.0) if r else "0.0"
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canon(v) for v in value) + "]"
    return str(value)


def row_digest(row: Iterable) -> int:
    text = "\x1f".join(canon(v) for v in row)
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")


def fingerprint_add(acc: list, row: Iterable) -> None:
    """Fold one row into `acc` = [rows, digest sum mod 2^64]. A sum (not
    an xor) keeps duplicate rows visible; addition makes it
    independent of row order."""
    acc[0] += 1
    acc[1] = (acc[1] + row_digest(row)) & _MASK


def fingerprint_hex(acc: Sequence[int]) -> str:
    return f"{acc[0]}:{acc[1]:016x}"


def fingerprint(rows: Iterable[Iterable]) -> str:
    """Order-insensitive fingerprint of a row set: row count plus the
    sum of per-row digests."""
    acc = [0, 0]
    for row in rows:
        fingerprint_add(acc, row)
    return fingerprint_hex(acc)
