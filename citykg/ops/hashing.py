"""Cross-engine deterministic string hash.

Base-31 character fold modulo the 57-bit prime 2^57-13 — plain modular
arithmetic, so the SAME value is computable by Spark SQL expressions
(JVM-side, ANSI-safe: acc*31 + char < 2^63) and by any ANSI-SQL engine
(the driver's DuckDB oracles re-derive it independently). Used where
determinism must survive resume AND be value-checkable end-to-end:
dataset split assignment, stratified sampling, global shuffle order,
SimHash token hashing (citykg.ops.dedup).

For pure Spark-side bucketing where no external oracle is needed,
prefer xxhash64 (faster, better avalanche); this fold trades hash
quality headroom for cross-engine reproducibility. `xxhash64` below is
a driver-side port of Spark's, so the driver can name a subject's store
bucket without a Spark job (store.ParquetStoreAdapter.point_read).
"""

from __future__ import annotations

POLY_P = 144115188075855859  # largest prime below 2^57
POLY_BASE = 31


def char_fold_spark(col_expr: str) -> str:
    """Spark SQL expression: base-31 char fold of `col_expr` mod POLY_P."""
    codes = (
        f"transform(sequence(1, length({col_expr})), "
        f"i -> cast(ascii(substring({col_expr}, i, 1)) as bigint))"
    )
    return (
        f"aggregate({codes}, 0L, "
        f"(acc, ch) -> pmod(acc * {POLY_BASE}L + ch, {POLY_P}L))"
    )


def char_fold_duckdb(col_expr: str) -> str:
    """DuckDB SQL expression computing the identical value (list_reduce
    folds from the first element, so the 0 init is prepended)."""
    codes = (
        f"list_transform(range(1, length({col_expr}) + 1), "
        f"i -> ascii(substr({col_expr}, i, 1)))"
    )
    return (
        f"list_reduce([0::BIGINT] || {codes}, "
        f"(a, c) -> (a * {POLY_BASE} + c) % {POLY_P})"
    )


# ---------------------------------------------------------------------------
# Spark's xxhash64, driver-side
# ---------------------------------------------------------------------------

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
SPARK_XXH64_SEED = 42  # Spark's XxHash64 expression seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _merge(h: int, v: int) -> int:
    return ((h ^ _round(0, v)) * _P1 + _P4) & _M64


def xxhash64(s: str) -> int:
    """Spark SQL's `xxhash64(s)` for one string, as the signed 64-bit
    value Spark returns: XXH64 over the UTF-8 bytes with little-endian
    lanes (Spark's XXH64.hashUnsafeBytes). Lets the driver name the
    bucket of a subject without a Spark job."""
    seed = SPARK_XXH64_SEED
    data = s.encode("utf-8")
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def spark_bucket(s: str, n_buckets: int) -> int:
    """`pmod(xxhash64(s), n_buckets)` — the store's bucket of subject `s`
    (materialize.with_bucket). Python's `%` already takes the sign of the
    divisor, which is pmod."""
    return xxhash64(s) % n_buckets
