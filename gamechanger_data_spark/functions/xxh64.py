"""Pure-Python XXH64 — bit-parity twin of Spark's ``xxhash64`` expression
(org.apache.spark.sql.catalyst.expressions.XxHash64, seed 42), used where
a key's bucket must be known WITHOUT a Spark job:

- the ``laketable`` streaming sink's executor-side staging writer runs in
  a Python data-source worker with no SparkSession, yet its delta files
  must land in exactly the bucket the JVM hash would pick (a mismatch
  would duplicate keys across buckets — read() unions clean buckets
  without cross-bucket LWW);
- ``LakeTable.lookup_key`` and ``buckets_for_keys`` route their probe
  keys on the driver, so a point read launches only its own scan.

Parity contract (pinned in tests/test_xxh64_parity.py against
``F.xxhash64`` on randomized inputs, and in tests/test_lookup_routing.py
against ``LakeTable._bucket_expr`` on real tables):

- columns CHAIN: the running hash seeds the next column's hash;
- key columns hash under their canonical type (:func:`canon_type`):
  integral values as 8-byte little-endian longs (Spark's ``hashLong``
  specialization equals generic XXH64 over those 8 bytes), fractional
  values as doubles;
- doubles hash as their IEEE-754 long bits with ``-0.0`` normalized and
  every NaN collapsed to Java's canonical NaN (``doubleToLongBits``);
- strings hash as their UTF-8 bytes;
- NULL values leave the running hash unchanged;
- the final value is a SIGNED 64-bit long (Spark semantics), and
  ``pmod(hash, n)`` is the bucket.

Per-row Python hashing costs microseconds per key: right for probe keys
and trickle-rate streaming appends, while bulk writes keep JVM-side
``F.xxhash64`` (sinks/table.py _bucket_expr).
"""

from __future__ import annotations

import struct

from pyspark.sql import types as T

_MASK = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_JAVA_NAN_BITS = 0x7FF8000000000000  # Double.doubleToLongBits(NaN)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _MASK
    return (_rotl(acc, 31) * _P1) & _MASK


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _MASK


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` under ``seed`` — unsigned 64-bit result."""
    seed &= _MASK
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed
        v4 = (seed - _P1) & _MASK
        while i <= n - 32:
            a, b, c, d = struct.unpack_from("<QQQQ", data, i)
            v1, v2 = _round(v1, a), _round(v2, b)
            v3, v4 = _round(v3, c), _round(v4, d)
            i += 32
        acc = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _MASK
        for v in (v1, v2, v3, v4):
            acc = _merge_round(acc, v)
    else:
        acc = (seed + _P5) & _MASK
    acc = (acc + n) & _MASK
    while i <= n - 8:
        (k1,) = struct.unpack_from("<Q", data, i)
        acc ^= _round(0, k1)
        acc = (_rotl(acc, 27) * _P1 + _P4) & _MASK
        i += 8
    if i <= n - 4:
        (k,) = struct.unpack_from("<I", data, i)
        acc ^= (k * _P1) & _MASK
        acc = (_rotl(acc, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        acc ^= (data[i] * _P5) & _MASK
        acc = (_rotl(acc, 11) * _P1) & _MASK
        i += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _MASK
    acc ^= acc >> 29
    acc = (acc * _P3) & _MASK
    acc ^= acc >> 32
    return acc


def canon_type(dt: T.DataType) -> T.DataType | None:
    """Canonical hash type for a key column, or None (hash as-is).

    xxhash64 is width-sensitive (hash(int 5) != hash(long 5)), so bucket
    assignment must hash every integral key as LONG and every fractional
    key as DOUBLE — then widening a key column (int->long, float->double,
    the Iceberg promotions) is LAYOUT-INVARIANT: rows written before the
    widening stay in the bucket the widened reader computes."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return T.LongType()
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return T.DoubleType()
    return None


def key_kind(name: str, dt: T.DataType) -> str:
    """Twin hash kind of key column ``name`` of type ``dt``: ``"long"`` or
    ``"double"`` under :func:`canon_type`, ``"string"`` for strings.
    Other key types (timestamp, decimal, nested, ...) have no twin and
    raise ``ValueError`` naming the column."""
    ct = canon_type(dt)
    if ct is not None:
        return ct.typeName()
    if isinstance(dt, T.StringType):
        return "string"
    raise ValueError(
        f"key column {name!r} has type {dt.simpleString()}: the xxh64 "
        "twin hashes only string, integral and fractional keys"
    )


def spark_xxhash64(values, kinds, seed: int = 42) -> int:
    """Spark ``xxhash64(*cols)`` over one row: chained per-column hashes,
    SIGNED 64-bit result. ``kinds`` are the :func:`key_kind` of each
    column: ``"long"``, ``"double"`` or ``"string"``."""
    h = seed & _MASK
    for v, kind in zip(values, kinds):
        if v is None:
            continue
        if kind == "long":
            h = xxh64(struct.pack("<q", int(v)), h)
        elif kind == "double":
            d = float(v)
            if d == 0.0:
                d = 0.0  # -0.0 normalizes (Spark NormalizeFloatingNumbers)
            if d != d:
                bits = _JAVA_NAN_BITS
            else:
                (bits,) = struct.unpack("<q", struct.pack("<d", d))
            h = xxh64(struct.pack("<q", bits), h)
        elif kind == "string":
            h = xxh64(v.encode("utf-8"), h)
        else:
            raise ValueError(f"unsupported key kind {kind!r}")
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(values, kinds, n_buckets: int) -> int:
    """``pmod(spark_xxhash64(...), n_buckets)`` — the engine's bucket."""
    return spark_xxhash64(values, kinds) % n_buckets
