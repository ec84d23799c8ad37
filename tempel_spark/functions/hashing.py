"""Deterministic hash-keyed randomness & fingerprints.

The reference seeds `random`/`numpy`/`torch` globally and its README
admits regenerated datasets still differ (reference: README.md:126-128,
s03_final_dataset_creator.py:55-58). We do strictly better: every
"random" draw is a pure function of (row key, seed) via xxhash64/md5,
so task retries and resume-from-checkpoint are bitwise reproducible
(SURVEY.md §4 item 4 — Spark re-executes partitions on retry, so
`F.rand()` is forbidden anywhere that feeds correctness).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hash_uniform", "hash_bucket", "md5_uniform", "md5_minhash_value",
    "fingerprint64", "set_fingerprint",
]

_MOD = 1_000_000_000


def hash_uniform(*cols: Column | str, seed: int = 42) -> Column:
    """Deterministic U[0,1) keyed by the given columns + seed.

    Replaces reference `random.sample`/`df.sample` draws
    (s03_final_dataset_creator.py:301-304,422-423) with a
    retry-stable uniform.
    """
    return F.pmod(F.xxhash64(*cols, F.lit(seed)), F.lit(_MOD)) / F.lit(float(_MOD))


def hash_bucket(n: int, *cols: Column | str, seed: int = 42) -> Column:
    """Deterministic int bucket in [0, n) — the synthetic corpus's
    categorical draws (synth.py)."""
    return F.pmod(F.xxhash64(*cols, F.lit(seed)), F.lit(n)).cast("int")


def md5_uniform(col: Column | str, seed: int = 42) -> Column:
    """U[0,1) from md5 — slower than xxhash64 but bit-identical in any
    SQL engine (`('0x'||substr(md5(seed||x),1,15))::bigint / 2^60`),
    so sampling decisions built on it are oracle-checkable."""
    c = F.col(col) if isinstance(col, str) else col
    v = F.conv(F.substring(F.md5(F.concat(F.lit(f"u{seed}:"), c.cast("string"))), 1, 15), 16, 10)
    return (v.cast("double") / F.lit(float(2**60))).cast("double")


def md5_minhash_value(col: Column | str, seed: int) -> Column:
    """Lexicographic-min-able hash of a shingle for one MinHash
    "permutation": md5 over (seed || shingle). Chosen because md5 is
    bit-identical across Spark and any ANSI-SQL oracle engine, which
    makes the MinHash signatures themselves oracle-checkable."""
    return F.md5(F.concat(F.lit(f"mh{seed}:"), col))


def fingerprint64(col: Column | str) -> Column:
    """64-bit-ish content fingerprint as bigint, from the first 15 hex
    chars of md5 (60 bits, < 2^63 so no overflow; same recipe works as
    `('0x'||substr(md5(x),1,15))::bigint` in the SQL oracle)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def set_fingerprint(df: DataFrame, cols: tuple[str, ...]) -> tuple[int, int]:
    """(row count, bit_xor of xxhash64 over ``cols``) of a frame, in
    one driver job. Both aggregates are commutative, so the pair is
    the same under any row order, partitioning or retry — a cheap
    identity test for a row set. bit_xor, not sum: sum(xxhash64)
    overflows long under ANSI mode."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])
