"""The md5 hashing contract: how an md5 becomes a number, in one place.

Why md5 and not Spark's cheaper ``xxhash64``: every operator has a
DuckDB twin that must compute the same value, and md5's hex output is
identical in both engines, while ``xxhash64`` has no DuckDB equivalent.
A ``width``-hex-char prefix is read as an unsigned integer
(``conv(…, 16, 10)`` here, ``('0x' || substr(h, 1, width))::UBIGINT``
in DuckDB). Hashes only compared as strings (fingerprints, tie-breaks)
are plain ``F.md5``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

#: prefix widths in use — 32, 48 (exact in a double too) and 60 bits
#: (room for a ``+ 1``): all exact, non-negative BIGINTs in both engines
HEX32, HEX48, HEX60 = 8, 12, 15


def seeded_md5(seed: str, key) -> Column:
    """``md5(seed ‖ cast(key as string))`` for a key name or Column: a
    pure function of (seed, key), NULL for a NULL key."""
    k = F.col(key) if isinstance(key, str) else key
    return F.md5(F.concat(F.lit(seed), k.cast("string")))


def md5_int(h: Column, width: int) -> Column:
    """First ``width`` hex chars of the md5 hex ``h`` as a BIGINT ≥ 0."""
    return F.conv(F.substring(h, 1, width), 16, 10).cast("bigint")


def md5_bucket(h: Column, n, width: int = HEX32) -> Column:
    """``md5_int(h, width) % n`` — the prefix is ≥ 0, so ``%`` is pmod."""
    return md5_int(h, width) % n


def mix_key(seed: str, key) -> Column:
    """The 8-hex prefix of ``md5(seed ‖ key)`` that
    :func:`mix_threshold_hex` thresholds compare against."""
    return F.substring(seeded_md5(seed, key), 1, HEX32)


def mix_threshold_hex(weight: float) -> str:
    """8-hex threshold for a keep fraction. Equal-length hex strings
    compare lexicographically as numbers, so keeping is a plain string
    comparison in both engines. weight ≥ 1 → 'g', which every hex string
    sorts below (keep all)."""
    if weight >= 1.0:
        return "g"
    return format(max(int(weight * 16**HEX32), 0), f"0{HEX32}x")


def mix_threshold_col(weight: Column) -> Column:
    """Column twin of :func:`mix_threshold_hex`. The clamp at 0 matters:
    floor of a negative goes through conv's unsigned wrap and lpad
    truncation to 'ffffffff', silently keeping ~everything."""
    return F.lower(F.when(weight >= 1.0, F.lit("g")).otherwise(
        F.lpad(F.conv(
            F.greatest(F.floor(weight * F.lit(float(16**HEX32))),
                       F.lit(0)).cast("string"),
            10, 16), HEX32, "0")))


def bucket_of(feature: str, dim: int) -> int:
    """Python twin of ``md5_bucket(F.md5(feature), dim)``."""
    return int(hashlib.md5(feature.encode("utf-8")).hexdigest()[:HEX32],
               16) % dim
