"""Cross-engine deterministic hashing.

Spark's ``hash``/``xxhash64`` and DuckDB's ``hash`` use different algorithms,
so every hash that feeds a correctness-checked result (minhash, simhash,
LSH buckets, fingerprints) is built from MD5 — identical in both engines —
with the first 8 hex chars reinterpreted as a 32-bit integer.

Each helper returns a pair of SQL snippets: one in Spark SQL (``CONV`` does
hex→decimal) and one in DuckDB SQL (``'0x…'`` cast does it). Values are equal
by construction.
"""

from __future__ import annotations


def spark_hash32(expr: str, seed: str = "") -> str:
    """32-bit MD5-derived hash of a string expression (Spark SQL dialect)."""
    salted = f"CONCAT('{seed}|', {expr})" if seed else expr
    return f"CAST(CONV(SUBSTRING(MD5({salted}), 1, 8), 16, 10) AS BIGINT)"


def duckdb_hash32(expr: str, seed: str = "") -> str:
    """Same value as :func:`spark_hash32`, DuckDB dialect."""
    salted = f"CONCAT('{seed}|', {expr})" if seed else expr
    return f"CAST('0x' || SUBSTRING(MD5({salted}), 1, 8) AS BIGINT)"


def spark_bit(expr: str, j: int) -> str:
    """Bit ``j`` of a non-negative integer expression (Spark SQL)."""
    return f"(SHIFTRIGHT({expr}, {j}) % 2)"


def duckdb_bit(expr: str, j: int) -> str:
    """Bit ``j`` of a non-negative integer expression (DuckDB SQL)."""
    return f"(({expr} >> {j}) & 1)"


# Universal-hash family over one base hash: h_i(x) = (a_i·H(x) + b_i) mod p.
# One MD5 per input feeds any number of minhash permutations — 12× fewer
# digest computations than salting MD5 per seed. p is the largest prime
# below 2^32; a_i < 2^6 keeps a_i·H < 2^38, far inside BIGINT. The
# arithmetic is identical (exact) in Spark SQL and DuckDB.
_UH_P = 4_294_967_291


def _uh_coeffs(i: int) -> tuple[int, int]:
    return 2 * i + 1, 1_000_003 * i + 12_345


def universal_hash(base_expr: str, i: int) -> str:
    """Permutation ``i`` of the family applied to a base-hash expression —
    dialect-free (pure integer SQL)."""
    a, b = _uh_coeffs(i)
    return f"(({a} * {base_expr} + {b}) % {_UH_P})"


# Sign-random-projection quantization scale: projection terms are
# FLOOR(v * h * SRP_SCALE) summed as BIGINT — exact, order-independent,
# identical across engines (FLOOR, not CAST: DuckDB's double→bigint cast
# rounds, Spark's truncates). A power of two, so the scaling itself is
# exact in binary floating point. Shared by q89, knn_join(method="srp")
# and drop_semantic_duplicates — every SRP signature
# in the repo must use the same scale or bucket joins stop matching.
SRP_SCALE = 1 << 20


def cdc_window_hash(text_col: str, pos_col: str, win: int = 8) -> str:
    """Polynomial hash of the ``win``-char window at 1-based position
    ``pos``: fold(h*31 + codepoint), pure BIGINT arithmetic (max value
    0x10FFFF·(31^win−1)/30 ≈ 3.1e16 at win=8 — no overflow, no libm),
    identical SQL text in Spark and DuckDB. The boundary rule
    ``hash % div == 0`` gives Rabin/Gear-style content-defined chunk cuts
    (expected chunk length ≈ div). Shared by q93 and text/cdc.py — both
    must cut at identical positions or chunk hashes stop matching.

    The guard is ``win <= 9``: the max hash 0x10FFFF·(31^win−1)/30 stays
    under BIGINT max (9.22e18) only through win=9 (≈9.8e17); at win=10 it
    reaches ≈3.0e19, where Spark (non-ANSI) wraps silently while DuckDB
    raises — chunk boundaries would silently diverge across engines for
    non-ASCII text. win 10-12 previously passed the guard; they were
    only safe under an undeclared ASCII-only input contract."""
    if win > 9:
        raise ValueError(
            f"win={win}: 0x10FFFF*(31^{win}-1)/30 exceeds BIGINT max; "
            "Spark wraps silently where DuckDB raises, so cross-engine "
            "chunk boundaries diverge. Use win <= 9."
        )
    h = f"CAST(ascii(substr({text_col}, {pos_col}, 1)) AS BIGINT)"
    for k in range(1, win):
        h = f"({h} * 31 + ascii(substr({text_col}, {pos_col} + {k}, 1)))"
    return h
