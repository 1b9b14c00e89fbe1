"""Cross-engine deterministic hashing.

The driver's correctness gate compares Spark results against DuckDB oracle
SQL value-by-value, so every hash used in a checked query must be computable
identically in Spark (JVM, whole-stage codegen), DuckDB SQL, and plain
Python (for the sequential frontier oracle in tests).

We standardize on the top 15 hex chars (60 bits) of MD5 — both engines expose
``md5(string) -> hex`` with identical semantics, and 60 bits stays inside a
signed 64-bit int. At 100 TB scale the hash runs JVM-side inside codegen
(``F.md5`` is a built-in), so this costs nothing vs xxhash64 while buying
cross-engine verifiability. Where parity is NOT needed (internal shuffles,
bloom filters) we use ``F.xxhash64`` which is faster.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_BITS = 60
HASH_SPACE = 1 << HASH_BITS


def md5_60(col: Column | str) -> Column:
    """Spark: 60-bit integer hash of a string column (md5-hex prefix)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_md5_60(expr: str, dialect: str = "duckdb") -> str:
    """SQL-string expression equivalent to :func:`md5_60`, in either
    dialect — THE one place the 60-bit md5 recipe is spelled (every
    dialect-shared expression builder calls this; inlining the string
    invites the four-copies drift this helper replaced). DuckDB uses ||
    (which propagates NULL) rather than concat (which treats NULL as '')
    so a NULL input hashes to NULL instead of crashing the cast with
    '0x'; Spark's conv() returns NULL for NULL input already."""
    if dialect == "duckdb":
        return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def sql_md5_60_salted(expr: str, salt: str, dialect: str = "duckdb") -> str:
    return sql_md5_60(f"concat('{salt}:', {expr})", dialect)


def py_md5_60(s: str, salt: str | None = None) -> int:
    """Python equivalent (sequential oracle / tests)."""
    if salt is not None:
        s = f"{salt}:{s}"
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
