"""Deterministic hash families and MinHash expressions. (SimHash
fingerprints are a groupBy aggregation, not a per-row expression —
see operators/dedup.simhash_fingerprints.)

SURVEY.md §2.8 F6-F7 and §2.4 A10. The reference builds universal
hashes ``(a*x + b) mod m`` with random (unseeded!) params
(Assignment3/task1.py:40-48) and big-int string encodings via
``binascii.hexlify`` (Assignment6/task1.py:30). The engine derives
(a, b) deterministically from the hash index so signatures are stable
across runs and processes, and keeps every expression JVM-side.

ANSI-overflow note: Spark 4 runs with ANSI mode on (arithmetic
overflow throws). We first fold xxhash64 into [0, 2^31) with pmod,
then apply a*v+b with a, b < 2^31 — products stay < 2^62, never
overflowing a long.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Fold prime: largest 31-bit prime (2^31 - 1, Mersenne).
FOLD_PRIME = 2147483647
# Knuth multiplicative constant for deriving per-index offsets.
_GOLDEN = 2654435761


def hash_params(i: int, m: int) -> tuple[int, int]:
    """Deterministic universal-hash params for hash index ``i``:
    a odd (so the map is a bijection mod 2^k), b spread by the golden
    ratio; both bounded below 2^31 to keep ANSI-safe arithmetic."""
    a = (2 * i + 1) % FOLD_PRIME
    b = (i * _GOLDEN + 12345) % m if m > 1 else 0
    return a, b


# A10 (MinHash signature) note: the per-row HOF expression form that
# used to live here (num_hashes × array_min(transform(...))) exceeded
# the codegen method budget and evaluated interpreted (~20× slower);
# the live signature computation is the explode → groupBy min-aggregate
# pipeline inside operators/similarity.minhash_lsh_pairs, built from
# this module's hash_params family over md5_hash60 folds. Mirrors
# reference Assignment3/task1.py:40-52 with seeds derived from the
# hash index, not RNG.


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes: popcount(a^b)."""
    return F.bit_count(a.bitwiseXOR(b))


def md5_hash60(col: Column | str) -> Column:
    """Cross-engine-replayable 60-bit hash: the first 15 hex digits of
    md5 of the value's STRING form parsed as an integer. DuckDB
    computes the identical value as
    ``CAST(('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15)) AS BIGINT)``,
    which is the seam that lets sketch/fingerprint oracles replay the
    exact hash — xxhash64 has no cross-engine twin. The string cast
    happens HERE so a numeric column hashes its decimal text on both
    engines (hashing Spark's big-endian binary would silently diverge
    from every SQL twin). ~3× the cost of xxhash64, so it is reserved
    for operators whose driver oracle needs the hash value itself;
    pure-internal hashing stays on xxhash64."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(c.cast("string").cast("binary")), 1, 15), 16, 10
    ).cast("bigint")
