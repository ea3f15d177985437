"""Cross-engine deterministic hashing.

All dedup/similarity operators hash strings through
``hash60(s) = int(md5(s)[:15 hex], 16)`` — a 60-bit value that both
Spark (``conv(substring(md5(s),1,15),16,10)``) and DuckDB
(``('0x' || substr(md5(s),1,15))::BIGINT``) compute identically, so
every operator has an exact SQL oracle.

The operators call hash60 directly (there is no switchable hash
implementation) and the correctness tests pin this md5 path.

MinHash/SimHash constants are derived from md5 of fixed strings (no
RNG): reproducible everywhere, embeddable as literals in oracle SQL.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE31 = 2_147_483_647  # prime modulus for minhash permutations


def hash60(c: Column) -> Column:
    """60-bit md5-prefix hash of a string column (cross-engine)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    """DuckDB SQL text for the same hash."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def _const(name: str, mod: int) -> int:
    return int(hashlib.md5(name.encode()).hexdigest()[:15], 16) % mod


def minhash_coeffs(num_hashes: int = 16) -> list[tuple[int, int]]:
    """(a_i, b_i) for h_i(x) = (a_i·(x mod p) + b_i) mod p."""
    return [
        (_const(f"mh-a-{i}", MERSENNE31 - 1) + 1,
         _const(f"mh-b-{i}", MERSENNE31))
        for i in range(num_hashes)
    ]


def hyperplanes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH, values in
    [-1, 1] with 3 decimals (exact in float64 → identical in SQL)."""
    return [
        [(_const(f"plane-{p}-{d}", 2001) - 1000) / 1000.0
         for d in range(dim)]
        for p in range(n_planes)
    ]
