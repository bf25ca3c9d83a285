"""Portable 60-bit hashing usable identically from Spark SQL and DuckDB.

Spark's built-in ``hash``/``xxhash64`` and DuckDB's ``hash`` are different
algorithms, so any operator whose correctness oracle runs in DuckDB
(MinHash, SimHash, fingerprinting) needs a hash both engines compute
bit-identically. md5 is available and identical in both; we take the
first 15 hex chars (60 bits — fits a signed 64-bit int in both engines).

Spark:   conv(substr(md5(s), 1, 15), 16, 10) :: long
DuckDB:  CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)

This is the *oracle-parity* hash. Operators that never need DuckDB parity
(e.g. internal salting) should prefer ``F.xxhash64`` which is cheaper.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

hash64_hex_width = 15  # 60 bits < 2^63 — safe in signed int64


def hash64(col: Column, salt: str | None = None) -> Column:
    """Deterministic 60-bit hash of a string column, DuckDB-portable.

    ``salt`` prefixes the input, giving independent hash families for
    MinHash permutations (one salt per permutation).
    """
    s = F.concat(F.lit(salt + "\x1f"), col) if salt is not None else col
    return F.conv(F.substring(F.md5(s), 1, hash64_hex_width), 16, 10).cast("long")

