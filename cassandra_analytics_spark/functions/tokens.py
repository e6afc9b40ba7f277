"""Token-ring partitioning helpers.

The reference hashes every partition key to a token under
``Murmur3Partitioner`` (range −2^63…2^63−1,
``data/partitioner/Partitioner.java:37-55``; hash at
``data/partitioner/MurmurHash.java:29-159``) and plans one Spark input
partition per token sub-range (``TokenPartitioner.java:58-120``).

Spark-first translation: the *purpose* of the token is uniform
distribution + deterministic range assignment. ``F.xxhash64`` is Spark's
native 64-bit hash — JVM-side, codegen, same uniformity guarantees — so the
engine tokens with xxhash64 by default. An exact Murmur3 (Cassandra
variant) implementation is provided as a vectorized pandas UDF for parity
tests where raw token values must match Cassandra's.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

MIN_TOKEN = -(2**63)
MAX_TOKEN = 2**63 - 1


def token_column(*key_cols: Column) -> Column:
    """64-bit token for a (possibly composite) partition key.

    xxhash64 of the key columns: uniform over the long range, stays in
    whole-stage codegen. This is the hot-path token used for range
    partitioning in the bulk writer.
    """
    return F.xxhash64(*key_cols)


def token_sql(*key_exprs: str) -> str:
    """:func:`token_column` as SQL expression text over ``key_exprs``
    (SQL expressions, e.g. quoted column names), for plans built from
    expression strings."""
    return f"xxhash64({', '.join(key_exprs)})"


def token_range_splits(num_splits: int) -> list[tuple[int, int]]:
    """Split the full token ring into ``num_splits`` contiguous [start, end]
    sub-ranges, mirroring ``TokenPartitioner.java:76-120`` (equal-width
    splits of the Murmur3 range)."""
    if num_splits < 1:
        raise ValueError("num_splits must be >= 1")
    width = (MAX_TOKEN - MIN_TOKEN) // num_splits
    splits = []
    start = MIN_TOKEN
    for i in range(num_splits):
        end = MAX_TOKEN if i == num_splits - 1 else start + width - 1
        splits.append((start, end))
        start = end + 1
    return splits


def assign_token_range(token: Column, num_splits: int) -> Column:
    """Map a token to its sub-range index (the Spark partition id the
    reference would assign — F2 ``SparkRangeFilter.java:28-56``).

    ``token - MIN_TOKEN`` in long arithmetic overflows for every token
    >= 0 (ARITHMETIC_OVERFLOW under Spark 4's default ANSI mode), so the
    rebase and division run in DECIMAL(38,0) — exact over the full 2^64
    ring, still codegen. Decimal division rounds to 6 fractional digits,
    which can push the quotient across an integer boundary; the
    floor candidate is corrected with exact integer comparisons
    (true floor k satisfies k*w <= u < (k+1)*w, and the candidate is
    within +/-1 of it).

    A NULL token yields a NULL range index. (The old code silently
    assigned NULL tokens to the LAST partition: ``F.least`` skips NULL
    arguments, so ``least(NULL, num_splits-1)`` returned a real index —
    round-8 continuation probe.)
    """
    if num_splits < 1:
        # 0 used to surface as a context-free ZeroDivisionError and a
        # NEGATIVE count silently produced a negative index for every row
        raise ValueError(f"num_splits must be >= 1, got {num_splits}")
    width = (MAX_TOKEN - MIN_TOKEN) // num_splits
    dec = "DECIMAL(38,0)"
    u = token.cast(dec) - F.expr(f"CAST('{MIN_TOKEN}' AS {dec})")
    w = F.expr(f"CAST('{width}' AS {dec})")
    q = F.floor(u / w).cast(dec)
    q = (
        F.when(q * w > u, q - 1)
        .when((q + 1) * w <= u, q + 1)
        .otherwise(q)
    )
    return F.when(
        token.isNull(), F.lit(None).cast("long")
    ).otherwise(F.least(q.cast("long"), F.lit(num_splits - 1)))


def _murmur3_64(data: bytes) -> int:
    """Cassandra's Murmur3Partitioner hash (the 64-bit half of murmur3_128,
    x64 variant, seed 0) — re-expressed from the published algorithm
    (reference behavior: ``MurmurHash.java:29-159``)."""
    c1 = 0x87C37B91114253D5
    c2 = 0x4CF5AD432745937F
    mask = 0xFFFFFFFFFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & mask

    def fmix(k: int) -> int:
        k ^= k >> 33
        k = (k * 0xFF51AFD7ED558CCD) & mask
        k ^= k >> 33
        k = (k * 0xC4CEB9FE1A85EC53) & mask
        k ^= k >> 33
        return k

    length = len(data)
    nblocks = length // 16
    h1 = 0
    h2 = 0
    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
        k1 = (k1 * c1) & mask
        k1 = rotl(k1, 31)
        k1 = (k1 * c2) & mask
        h1 ^= k1
        h1 = rotl(h1, 27)
        h1 = (h1 + h2) & mask
        h1 = (h1 * 5 + 0x52DCE729) & mask
        k2 = (k2 * c2) & mask
        k2 = rotl(k2, 33)
        k2 = (k2 * c1) & mask
        h2 ^= k2
        h2 = rotl(h2, 31)
        h2 = (h2 + h1) & mask
        h2 = (h2 * 5 + 0x38495AB5) & mask

    # Tail: Cassandra's port XORs SIGN-EXTENDED bytes (`(long) key.get(i)`
    # without masking — the historical quirk its token values depend on),
    # unlike canonical murmur3's unsigned tail bytes.
    tail = data[nblocks * 16 :]

    def signed(b: int) -> int:
        return b - 256 if b >= 128 else b

    k1 = 0
    k2 = 0
    if len(tail) > 8:
        for i in range(len(tail) - 1, 7, -1):
            k2 ^= (signed(tail[i]) << (8 * (i - 8))) & mask
        k2 = (k2 * c2) & mask
        k2 = rotl(k2, 33)
        k2 = (k2 * c1) & mask
        h2 ^= k2
    if len(tail) > 0:
        for i in range(min(len(tail), 8) - 1, -1, -1):
            k1 ^= (signed(tail[i]) << (8 * i)) & mask
        k1 = (k1 * c1) & mask
        k1 = rotl(k1, 31)
        k1 = (k1 * c2) & mask
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & mask

    # to signed 64-bit, matching Cassandra's long token
    return h1 - (1 << 64) if h1 >= (1 << 63) else h1


def murmur3_token(key: bytes) -> int:
    """Cassandra Murmur3Partitioner token for serialized key bytes:
    hash[0] with Long.MIN_VALUE normalized to Long.MAX_VALUE (reference
    behavior: ``Partitioner.java:54-55``)."""
    value = _murmur3_64(key)
    return MAX_TOKEN if value == MIN_TOKEN else value


def random_partitioner_token(key: bytes) -> int:
    """Cassandra RandomPartitioner token: |MD5(key)| as a BigInteger in
    [0, 2^127) (reference behavior: ``Partitioner.java:38-47``)."""
    import hashlib

    digest = hashlib.md5(key).digest()
    return abs(int.from_bytes(digest, "big", signed=True))


@pandas_udf(LongType())
def murmur3_token_bytes(key: pd.Series) -> pd.Series:
    """Exact Cassandra Murmur3 token over pre-serialized key bytes
    (vectorized pandas UDF — Arrow batches, not row-at-a-time).

    NULL key bytes fail with a named error: Cassandra rejects NULL
    partition keys, and the old behavior was a context-free
    "cannot convert 'NoneType' object to bytes" from inside a worker
    (round-8 continuation probe)."""
    if key.isna().any():
        raise ValueError(
            "NULL partition-key bytes cannot be tokenized: Cassandra "
            "rejects NULL partition keys — filter or fill them first"
        )
    return key.map(lambda b: murmur3_token(bytes(b)))


def murmur3_token_for_long(df: DataFrame, key_col: str, out_col: str = "token") -> DataFrame:
    """Exact Cassandra token for a single bigint partition key: serialize as
    8-byte big-endian (CQL bigint wire format) then murmur3. NULL keys fail
    with a named error (Cassandra rejects NULL partition keys; the old
    behavior was a context-free NaN-to-integer error from inside a
    worker — round-8 continuation probe)."""

    @pandas_udf(LongType())
    def _tok(keys: pd.Series) -> pd.Series:
        if keys.isna().any():
            raise ValueError(
                f"NULL value in partition-key column {key_col!r}: Cassandra "
                "rejects NULL partition keys — filter or fill them first"
            )
        return keys.map(lambda v: murmur3_token(int(v).to_bytes(8, "big", signed=True)))

    return df.withColumn(out_col, _tok(F.col(key_col)))


def serialize_cql_value(value, cql_type: str) -> bytes:
    """CQL wire serialization for the common partition-key types (the
    per-type ``getByteBuffer`` of the reference's
    ``bulkwriter/token/TokenUtils.java:57-68``)."""
    import struct
    import uuid as _uuid

    t = cql_type.lower()
    if value is None:
        # the generic int(None)/bytes(None) TypeError named neither the
        # value nor the Cassandra rule (round-8 continuation probe)
        raise ValueError(
            f"cannot serialize NULL as partition-key type {cql_type!r}: "
            "Cassandra rejects NULL partition keys"
        )
    int_widths = {"bigint": 8, "time": 8, "counter": 8, "int": 4, "smallint": 2, "tinyint": 1}
    if t in int_widths:
        try:
            return int(value).to_bytes(int_widths[t], "big", signed=True)
        except OverflowError:
            # "int too big to convert" named neither the value nor the type
            raise ValueError(
                f"value {value!r} does not fit CQL type {cql_type!r}"
            ) from None
    if t in ("text", "varchar", "ascii"):
        return str(value).encode("utf-8")
    if t == "boolean":
        return b"\x01" if value else b"\x00"
    if t == "double":
        return struct.pack(">d", float(value))
    if t == "float":
        return struct.pack(">f", float(value))
    if t == "blob":
        return bytes(value)
    if t in ("uuid", "timeuuid"):
        return _uuid.UUID(str(value)).bytes
    raise ValueError(f"unsupported partition-key type for tokenization: {cql_type}")


def composite_key_bytes(components: Sequence[bytes]) -> bytes:
    """Cassandra composite partition-key encoding: a single component is
    its raw bytes; multiple components are each framed as
    <2-byte length><bytes><0x00> (reference behavior:
    ``bulkwriter/token/TokenUtils.java:92-120``)."""
    comps = list(components)
    if not comps:
        # b"" would tokenize to murmur3(empty) and silently collide every
        # such row onto one token (round-8 continuation probe)
        raise ValueError("composite partition key needs at least one component")
    if len(comps) == 1:
        return comps[0]
    out = bytearray()
    for c in comps:
        out += len(c).to_bytes(2, "big")
        out += c
        out += b"\x00"
    return bytes(out)


def murmur3_token_for_key(values: Sequence, cql_types: Sequence[str]) -> int:
    """Exact Cassandra token for a (possibly composite) partition key given
    CQL types — the driver-side analog of ``Tokenizer.getDecoratedKey``."""
    comps = [serialize_cql_value(v, t) for v, t in zip(values, cql_types)]
    return murmur3_token(composite_key_bytes(comps))


def tokenize(df: DataFrame, partition_keys: Sequence[str], out_col: str = "token") -> DataFrame:
    """Append the engine token column for the given partition keys
    (bulk-writer W2 analog: ``Tokenizer.java:33-68``)."""
    if not partition_keys:
        # xxhash64() with zero args fails with a WRONG_NUM_ARGS naming the
        # hash function, not this call (round-8 continuation probe)
        raise ValueError("tokenize needs at least one partition-key column")
    return df.withColumn(out_col, token_column(*[F.col(c) for c in partition_keys]))
