"""Cross-engine deterministic hashing helpers.

Everything here stays JVM-side (built-in functions only, whole-stage codegen):
md5 is the shared primitive because DuckDB (the correctness oracle) computes
bit-identical hex digests, which xxhash64/murmur3 do not guarantee across
engines. For pure-Spark paths (no oracle) prefer ``F.xxhash64`` — it's cheaper.

Scale note: all helpers are narrow (per-row) transformations — no shuffle, no
UDF, safe at any data size.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantize(col: Column, digits: int) -> Column:
    """Half-up decimal quantization as ``floor(x·10^d + 0.5)/10^d``.

    Unlike ``F.round``/DuckDB ``round`` — which disagree on doubles that sit
    one ulp below a decimal boundary (DuckDB rounds 0.48424999999999996→0.4843,
    Spark →0.4842) — this expression is pure double arithmetic, so any engine
    computing it over the same input double yields the identical result.
    DuckDB oracle spelling: ``floor(x * 10000 + 0.5) / 10000.0``.
    """
    p = float(10**digits)
    return F.floor(col * F.lit(p) + F.lit(0.5)) / F.lit(p)


def md5_hex(col: Column) -> Column:
    """Lowercase hex md5 — identical output in Spark and DuckDB."""
    return F.md5(col.cast("string"))


def md5_long(col: Column) -> Column:
    """60-bit integer from the leading 15 hex chars of md5 (fits in int64).

    DuckDB equivalent: ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``.
    Spark: ``conv(substring(md5(x), 1, 15), 16, 10)`` then cast.
    """
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("bigint")


# Mersenne prime 2^31 - 1: the modulus for the multiplicative hash family.
# Products a·h stay < 2^62, so every intermediate fits int64 — no overflow
# even under ANSI arithmetic (Spark 4 default) and DuckDB's checked BIGINT.
MERSENNE_31 = (1 << 31) - 1


def mix_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the pairwise-independent family
    ``g_i(h) = (a_i·h + b_i) mod p`` over Z_p, p = 2^31-1.

    Derived from md5 so both engines (and every run) agree without any RNG:
    a ∈ [1, p-1], b ∈ [0, p-1].
    """
    import hashlib

    p = MERSENNE_31
    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) % (p - 1) + 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % p
        out.append((a, b))
    return out


def md5_mod_p(col: Column) -> Column:
    """``md5_long(x) mod (2^31-1)`` — a 31-bit uniform hash both engines can
    compute bit-identically.

    DuckDB spelling:
    ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 2147483647``.
    """
    return md5_long(col) % F.lit(MERSENNE_31)
