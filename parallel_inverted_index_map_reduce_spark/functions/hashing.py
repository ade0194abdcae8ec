"""Deterministic cross-engine hash primitives.

Everything reduces to md5 (identical hex output in Spark and DuckDB) so
the DuckDB oracle can reproduce Spark results bit-for-bit:

    stable_hash32(x)  =  int(md5(x)[:8], 16)          in [0, 2^32)

MinHash permutations are the classic universal-hash family
``(a*h + b) mod P`` with fixed constants; ``a < 2^30`` and
``h < 2^32`` keep ``a*h + b`` under 2^62, so the arithmetic never
overflows int64 in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Prime > 2^32 for the universal hash family.
MINHASH_P = 4_294_967_311

# 16 fixed (a, b) pairs; a < 2^30. Arbitrary odd constants, hardcoded so
# Spark and the SQL oracle share them verbatim.
MINHASH_A = [
    479001599, 715827883, 433494437, 982451653,
    268435399, 536870923, 805306457, 100663319,
    201326611, 402653189, 822083009, 619583003,
    374321323, 941083981, 512927357, 677846291,
]
MINHASH_B = [
    104729, 1299709, 15485863, 32452843,
    49979687, 67867967, 86028121, 104395301,
    122949823, 141650939, 160481183, 179424673,
    198491317, 217645177, 236887691, 256203161,
]
NUM_PERM = len(MINHASH_A)
LSH_BANDS = 8
LSH_ROWS = NUM_PERM // LSH_BANDS


def stable_hash32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative long — identical in DuckDB
    via ``('0x' || substr(md5(x), 1, 8))::BIGINT``."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast("long")


def sql_stable_hash32(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"


def stable_hash48(col: Column) -> Column:
    """First 48 bits of md5 as a non-negative long — the wider variant
    for sketches whose accuracy envelope outgrows 32 bits (the HLL:
    32-bit hashing collides materially above ~10^8 distinct keys, while
    48 bits keeps the expected collision undercount n^2/2^49 below 0.04%
    even at 10^11). Still one BIGINT in both engines; DuckDB twin is
    :func:`sql_stable_hash48`."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 12), 16, 10).cast(
        "long"
    )


def sql_stable_hash48(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 12) AS BIGINT)"
