"""Hashing column expressions.

Parity targets (see SURVEY.md §2):
- tx hashing: sha256 of the raw tx, uppercase hex
  (reference: src/core/worker.js:137).
- portable 60-bit hash: identical results in Spark and DuckDB so the
  driver's oracle can replay hash-sampled and fingerprint pipelines
  row for row.
  Built from md5 hex (first 15 nibbles → < 2^60, fits a signed long);
  md5 is bit-identical across engines, unlike xxhash64/murmur3.

All pure builtin expressions — JVM-side, whole-stage-codegen friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^31 - 1 (Mersenne prime): modulus for rolling fingerprints. Keeps
# every intermediate product < 2^63.
FINGERPRINT_MOD = 2_147_483_647


def tx_hash(raw: Column) -> Column:
    """sha256(raw) uppercase hex over ALREADY-DECODED tx bytes
    (worker.js:137 ``createHash('sha256')...digest('hex').toUpperCase()``).
    RPC payloads arrive base64-encoded — use :func:`tx_hash_b64` for
    those; this variant is for columns already holding the raw bytes."""
    return F.upper(F.sha2(raw, 256))


def tx_hash_b64(raw_b64: Column) -> Column:
    """The reference's EXACT tx-hash derivation for RPC payloads:
    sha256 of the base64-DECODED tx bytes, uppercase hex (worker.js:137
    ``sha256(Buffer.from(rawTx, 'base64'))`` — the decode happens before
    the digest). Feeding real Tendermint base64 tx strings through this
    yields hashes byte-identical to the reference's."""
    return F.upper(F.sha2(F.unbase64(raw_b64), 256))


def portable_hash(col: Column, seed: Column | str | int | None = None) -> Column:
    """Deterministic 60-bit hash reproducible in DuckDB as
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``.

    ``seed`` (optional) is concatenated with a ``|`` separator so k
    independent hash families can be derived (the bloom filter's k
    probe positions).
    """
    s = col.cast("string")
    if seed is not None:
        seed_col = seed if isinstance(seed, Column) else F.lit(seed)
        s = F.concat(s, F.lit("|"), seed_col.cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def portable_hash_sql(expr: str, seed_expr: str | None = None) -> str:
    """The DuckDB rendering of :func:`portable_hash` for oracle SQL."""
    s = f"CAST({expr} AS VARCHAR)"
    if seed_expr is not None:
        s = f"({s} || '|' || CAST({seed_expr} AS VARCHAR))"
    return f"CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"


def rolling_fingerprint(tokens: Column) -> Column:
    """Polynomial rolling hash over a token array:
    ``h = (h * 31 + portable_hash(tok) % M) % M`` — the document
    fingerprint operator (SURVEY.md §2 #43). Runs as a builtin
    ``aggregate`` fold, no Python."""
    return F.aggregate(
        tokens,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + portable_hash(x) % FINGERPRINT_MOD) % FINGERPRINT_MOD,
    )


def rolling_fingerprint_sql(tokens_expr: str) -> str:
    """DuckDB rendering of :func:`rolling_fingerprint` via list_reduce.

    list_reduce has no initial accumulator, so seed the list with 0L:
    fold(list_prepend(0, hashes)).
    """
    h = portable_hash_sql("x")
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({tokens_expr}, x -> {h} % {FINGERPRINT_MOD})), "
        f"(acc, v) -> (acc * 31 + v) % {FINGERPRINT_MOD})"
    )
