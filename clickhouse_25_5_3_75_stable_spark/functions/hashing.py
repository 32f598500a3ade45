"""ClickHouse hash functions (FunctionsHashing.h) on Spark, from one table.

The reference serves every hash through ``FunctionAnyHash<Impl>``,
whose Impl supplies a byte kernel, the ``use_int_hash_for_pods`` rule
and a combine rule (SURVEY §2.8). ``HASHES`` is that table: each row
names a batch kernel from functions/hash_kernels.py, its POD rule and
its combine rule, and the rest is generated from it:

- the Column functions behind ``dialect.ch(name, ...)``
  (``COLUMN_FUNCTIONS``);
- the pandas UDFs and SQL functions that session.register_sql_udfs
  registers (``register_sql``): ``<name>_bin`` / ``_f64`` / ``_f32``,
  ``ch_<fam>_typed(s, t)`` and the combines;
- the SQL calls chsql emits (``SQL_CALLS``): ``someHash(x, y)`` becomes
  ``combine(ch_<fam>_typed(CAST(x AS STRING), typeof(x)), ...)``.

Typed semantics. Strings hash their UTF-8 bytes. Under the raw POD rule
(``int_pods=False``) a POD hashes its native-width LE bytes (Int64 8,
Int32 4, Int16 2, Int8/Bool 1, Date = UInt16 days, DateTime = UInt32
seconds) and a float its IEEE bytes. Under ``int_pods=True``
(FunctionsHashing.h:623) a POD hashes as intHash64 of its
ZERO-extended bit_cast and a float as intHash64 of its IEEE bits; only
strings reach the kernel. Encoding and ``typeof`` dispatch run as JVM
expressions, so a value's bytes never depend on which Arrow batch it
lands in (pandas turns a nullable-int batch into float64). NULL hashes
to NULL (FunctionsHashing.h:869). Integer LITERALS follow Spark typing
(`1` is int → 4 bytes) where ClickHouse narrows them (UInt8 → 1 byte);
typed columns are exact. Decimal and other types hash their string
rendering; BINARY columns need ``siphash64(col, ctype='binary')``.

Combine rules, left-folded over the arguments:

- ``hash128to64``: CityHash Hash128to64(uint128(h1, h2)) (:621);
- ``self``: the row's own hash of le8(h1) || le8(h2) (:195);
- ``int64xor``: intHash64(h1) ^ h2 (MurmurHash2Impl64:400);
- ``int32xor``: (intHash32(h1) ^ h2) & 0xFFFFFFFF.

Names outside the table keep small functions below that reuse the same
UDF factories: halfMD5, intHash64/32, javaHash, javaHashUTF16LE,
hiveHash, URLHash, jumpConsistentHash, and the Column-only
sipHash64Keyed, sipHash128* and murmurHash3_128.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from clickhouse_25_5_3_75_stable_spark.functions import hash_kernels as K


@dataclass(frozen=True)
class Hash:
    name: str  # ClickHouse name; also the prefix of its SQL UDFs
    kernel: Callable[[list[bytes]], np.ndarray]
    int_pods: bool  # use_int_hash_for_pods
    combine: str  # hash128to64 | self | int64xor | int32xor

    @property
    def fam(self) -> str:
        return self.name.lower()


HASHES = (
    Hash("sipHash64", K._siphash64_np, False, "self"),
    Hash("cityHash64", K._cityhash64_np, True, "hash128to64"),
    Hash("xxHash64", K._xxh64_np, False, "hash128to64"),
    Hash("farmHash64", K._farm_xo_np, True, "hash128to64"),
    Hash("farmFingerprint64", K._farm_na_np, True, "hash128to64"),
    Hash("metroHash64", K._metro64_np, True, "hash128to64"),
    Hash("wyHash64", K._wyhash_np, False, "self"),
    Hash("xxh3", K._xxh3_np, False, "hash128to64"),
    Hash("murmurHash2_64", K._murmur2_64a_np, False, "int64xor"),
    Hash("murmurHash3_64", K._murmur3_64_np, False, "int64xor"),
    Hash("gccMurmurHash", K._gcc_np, False, "int64xor"),
    Hash("kafkaMurmurHash", K._kafka_np, False, "int32xor"),
    Hash("murmurHash2_32", K._murmur2_32_seed0_np, False, "int32xor"),
    Hash("murmurHash3_32", K._murmur3_32_np, False, "int32xor"),
    Hash("xxHash32", K._xxh32_np, False, "int32xor"),
)
_ROW = {h.name: h for h in HASHES}


# ---------------------------------------------------------------------------
# UDF factories (one cache)
# ---------------------------------------------------------------------------

_UDF_CACHE: dict[str, object] = {}


def _cached(key: str, make):
    if key not in _UDF_CACHE:
        _UDF_CACHE[key] = make()
    return _UDF_CACHE[key]


def _bytes_udf(key: str, fn, ret: str = "long", to_bytes=bytes):
    """Binary in, ``fn(list[bytes])`` (uint64 hashes) out; NULL → NULL."""

    def make():
        np_t, pd_t = (np.int64, "Int64") if ret == "long" else (np.int32, "Int32")

        @pandas_udf(ret)
        def _hash_binary(s: pd.Series) -> pd.Series:
            mask = np.array([v is None for v in s], dtype=bool)
            data = [b"" if v is None else to_bytes(v) for v in s]
            out = pd.array(fn(data).astype(np.int64).astype(np_t), dtype=pd_t)
            out[mask] = pd.NA
            return pd.Series(out, dtype=pd_t)

        return _hash_binary

    return _cached(key, make)


def _bin_udf(h: Hash):
    return _bytes_udf(f"bin:{h.name}", h.kernel)


def _float_udf(h: Hash, width: int):
    """Float64/32 → hash of the IEEE bits: intHash64 of the zero-
    extended pattern under int_pods, else the kernel over the raw
    native-width LE bytes. The UDF sees the float, so the bit view is
    exact (Spark SQL has no doubleToLongBits). NULL arrives as NaN and
    is masked by the caller's isNull wrap."""
    if h.int_pods:
        key, bits_hash = f"f{width}:intHash64", K._np_inthash64
    else:
        nbytes = width // 8

        def bits_hash(bits):
            return h.kernel([int(v).to_bytes(nbytes, "little") for v in bits])

        key = f"f{width}:{h.name}"

    def make():
        @pandas_udf("long")
        def _hash_float(s: pd.Series) -> pd.Series:
            if width == 64:
                bits = s.to_numpy(dtype=np.float64).view(np.uint64)
            else:
                bits = s.to_numpy(dtype=np.float32).view(np.uint32).astype(np.uint64)
            return pd.Series(bits_hash(bits).astype(np.int64))

        return _hash_float

    return _cached(key, make)


def _pod_udf(mix):
    """BIGINT bit pattern → ``mix`` (intHash64 / intHash32); NULL → NULL."""

    def make():
        @pandas_udf("long")
        def _int_mix(s: pd.Series) -> pd.Series:
            arr = pd.array(s, dtype="Int64")
            mask = arr.isna()
            vals = arr.fillna(0).to_numpy(dtype=np.int64).astype(np.uint64)
            out = pd.array(mix(vals).astype(np.int64), dtype="Int64")
            out[np.asarray(mask)] = pd.NA
            return pd.Series(out, dtype="Int64")

        return _int_mix

    return _cached(f"pod:{mix.__name__}", make)


def _combine_udf():
    """Hash128to64(uint128(h1, h2)) over two BIGINT hashes; NULL → NULL."""

    def make():
        @pandas_udf("long")
        def _hash128to64(h1: pd.Series, h2: pd.Series) -> pd.Series:
            a1 = pd.array(h1, dtype="Int64")
            a2 = pd.array(h2, dtype="Int64")
            mask = a1.isna() | a2.isna()
            a = a1.fillna(0).to_numpy(dtype=np.int64).astype(np.uint64)
            b = a2.fillna(0).to_numpy(dtype=np.int64).astype(np.uint64)
            out = pd.array(K._np_hash128to64(a, b).astype(np.int64), dtype="Int64")
            out[np.asarray(mask)] = pd.NA
            return pd.Series(out, dtype="Int64")

        return _hash128to64

    return _cached("combine:hash128to64", make)


def _bin128_udf(key: str, fn):
    """Binary in, ``fn(list[bytes])`` 16-byte hashes out; NULL → NULL."""

    def make():
        @pandas_udf("binary")
        def _hash128(s: pd.Series) -> pd.Series:
            vals = [None if v is None else bytes(v) for v in s]
            hashed = fn([b"" if v is None else v for v in vals])
            return pd.Series([None if v is None else h for v, h in zip(vals, hashed)])

        return _hash128

    return _cached(key, make)


def _jump_udf():
    def make():
        @pandas_udf("int")
        def _jump(k: pd.Series, n: pd.Series) -> pd.Series:
            ka = pd.array(k, dtype="Int64")
            na = pd.array(n, dtype="Int64")
            mask = ka.isna() | na.isna()
            keys = ka.fillna(0).to_numpy(dtype=np.int64).astype(np.uint64)
            buckets = na.fillna(1).to_numpy(dtype=np.int64)
            out = pd.array(K._np_jump(keys, buckets).astype(np.int32), dtype="Int32")
            out[np.asarray(mask)] = pd.NA
            return pd.Series(out, dtype="Int32")

        return _jump

    return _cached("jump", make)


def _java_udf():
    return _bytes_udf("javaHash", K._java_np, ret="int")


def _java_utf16_udf():
    return _bytes_udf("javaHashUTF16LE", K._java_utf16le_np, ret="int")


# ---------------------------------------------------------------------------
# Typed encodings (JVM expressions)
# ---------------------------------------------------------------------------


def _le_bytes(col: Column, n_bytes: int) -> Column:
    """Little-endian two's-complement bytes of an integer column. The
    byte order is reversed in HEX space: F.reverse on a BINARY column
    casts to string and corrupts non-UTF-8 bytes."""
    width = n_bytes * 2
    h = F.lpad(F.substring(F.hex(col.cast("bigint")), -width, width), width, "0")
    pairs = [F.substring(h, i, 2) for i in range(width - 1, 0, -2)]
    return F.unhex(F.concat(*pairs))


def _le_bytes_sql(expr: str, n_bytes: int) -> str:
    """SQL-text spelling of :func:`_le_bytes`."""
    width = n_bytes * 2
    h = (
        f"lpad(substring(hex(CAST({expr} AS BIGINT)), -{width}, {width}),"
        f" {width}, '0')"
    )
    pairs = ",".join(f"substring({h}, {i}, 2)" for i in range(width - 1, 0, -2))
    return f"unhex(concat({pairs}))"


def _encode_auto(col: Column) -> Column:
    """The raw POD rule's bytes, picked by ``typeof(col)``. Every branch
    works on CAST(col AS STRING), so the expression analyzes on any
    input type; the string⇄native round-trips are exact for string/int/
    date/timestamp. Types with no native-width branch (double, decimal)
    fall back to the UTF-8 rendering."""
    s = col.cast("string")
    t = F.call_function("typeof", col)
    return (
        F.when(t == "string", F.encode(s, "UTF-8"))
        .when(t == "bigint", _le_bytes(s.cast("bigint"), 8))
        .when(t == "int", _le_bytes(s.cast("bigint"), 4))
        .when(t == "smallint", _le_bytes(s.cast("bigint"), 2))
        .when(t == "tinyint", _le_bytes(s.cast("bigint"), 1))
        .when(t == "boolean", _le_bytes(s.cast("boolean").cast("bigint"), 1))
        .when(t == "date", _le_bytes(F.datediff(s.cast("date"), F.lit("1970-01-01")), 2))
        .when(t == "timestamp", _le_bytes(F.unix_timestamp(s.cast("timestamp")), 4))
        .otherwise(F.encode(s, "UTF-8"))
    )


_PODS = ("bigint", "int", "smallint", "tinyint", "boolean", "date", "timestamp")


def pod_bits(col: Column, sign_extend: bool) -> Column:
    """The UInt64 bit pattern of a POD column per typeof. The reference
    has two widening rules and they DIFFER:

    - ``sign_extend=False``: bit_cast (base/bit_cast.h — ZERO-extension;
      Int32(-7) → 0xFFFFFFF9), the use_int_hash_for_pods rule;
    - ``sign_extend=True``: plain C++ integral conversion (SIGN-
      extension), the SQL intHash64/intHash32 functions
      (FunctionsHashing.h:753 ``Impl::apply(vec_from[i])``).

    Date is UInt16 days and DateTime UInt32 seconds (unsigned — both
    rules agree); boolean is 0/1."""
    s = col.cast("string")
    t = F.call_function("typeof", col)
    b = s.cast("bigint")
    if sign_extend:
        i32, i16, i8 = b, b, b  # bigint cast already sign-extends
    else:
        i32 = b.bitwiseAND(F.lit(0xFFFFFFFF))
        i16 = b.bitwiseAND(F.lit(0xFFFF))
        i8 = b.bitwiseAND(F.lit(0xFF))
    return (
        F.when(t == "bigint", b)
        .when(t == "int", i32)
        .when(t == "smallint", i16)
        .when(t == "tinyint", i8)
        .when(t == "boolean", s.cast("boolean").cast("bigint"))
        .when(
            t == "date",
            F.datediff(s.cast("date"), F.lit("1970-01-01")).cast("bigint"),
        )
        .when(
            t == "timestamp",
            F.unix_timestamp(s.cast("timestamp")).bitwiseAND(F.lit(0xFFFFFFFF)),
        )
        .otherwise(b)
    )


# ---------------------------------------------------------------------------
# Column functions
# ---------------------------------------------------------------------------


def _arg(x) -> Column:
    """Dialect argument convention: a Column, else a literal."""
    return x if isinstance(x, Column) else F.lit(x)


def _null_if(h: Column, cs: list[Column], sql_type: str = "long") -> Column:
    """``h``, or NULL when any argument is NULL (default null behavior)."""
    any_null = cs[0].isNull()
    for c in cs[1:]:
        any_null = any_null | c.isNull()
    return F.when(any_null, F.lit(None).cast(sql_type)).otherwise(h)


def _fold(cols, one, combine, sql_type: str = "long") -> Column:
    """one(arg) for a single argument; else combine left-folded over
    the per-argument hashes, NULL when any argument is NULL."""
    cs = [_arg(c) for c in cols]
    h = one(cs[0])
    if len(cs) == 1:
        return h
    for c in cs[1:]:
        h = combine(h, one(c))
    return _null_if(h, cs, sql_type)


def _typed(h: Hash, col: Column) -> Column:
    """One value hashed under the row's POD rule; NULL → NULL."""
    s = col.cast("string")
    t = F.call_function("typeof", col)
    f64, f32 = _float_udf(h, 64), _float_udf(h, 32)
    if h.int_pods:
        v = (
            F.when(t == "string", _bin_udf(h)(F.encode(s, "UTF-8")))
            .when(t == "double", f64(s.cast("double")))
            .when(t == "float", f32(s.cast("float")))
            .when(t.isin(*_PODS), _pod_udf(K._np_inthash64)(pod_bits(col, sign_extend=False)))
            .otherwise(_bin_udf(h)(F.encode(s, "UTF-8")))
        )
    else:
        v = (
            F.when(t == "double", f64(s.cast("double")))
            .when(t == "float", f32(s.cast("float")))
            .otherwise(_bin_udf(h)(_encode_auto(col)))
        )
    return _null_if(v, [col])


def _combine(h: Hash, h1: Column, h2: Column) -> Column:
    if h.combine == "hash128to64":
        return _combine_udf()(h1, h2)
    if h.combine == "self":
        return _bin_udf(h)(F.concat(_le_bytes(h1, 8), _le_bytes(h2, 8)))
    if h.combine == "int64xor":
        return _pod_udf(K._np_inthash64)(h1).bitwiseXOR(h2)
    # IntHash32Impl::apply(h1) ^ h2, both UInt32
    return _pod_udf(K._np_inthash32)(h1).bitwiseXOR(h2).bitwiseAND(F.lit(0xFFFFFFFF))


def _table_hash(h: Hash):
    def fn(*cols) -> Column:
        return _fold(cols, lambda c: _typed(h, c), lambda a, b: _combine(h, a, b))

    return fn


_INT_CTYPE_BYTES = {f"{u}int{n * 8}": n for u in ("", "u") for n in (8, 4, 2, 1)}


def siphash64(col, ctype: str = "string") -> Column:
    """sipHash64 with an explicit encoding hint, ``col`` a Column or a
    column name: "string" (UTF-8), "int64"/"uint64", "int32"/"uint32",
    "int16"/"uint16", "int8"/"uint8", "datetime" (UInt32 seconds),
    "date" (UInt16 days) or "binary" (the bytes as-is). Floats are
    refused (Spark SQL exposes no doubleToLongBits)."""
    c = F.col(col) if isinstance(col, str) else col
    if ctype == "string":
        enc = F.encode(c.cast("string"), "UTF-8")
    elif ctype in _INT_CTYPE_BYTES:
        enc = _le_bytes(c, _INT_CTYPE_BYTES[ctype])
    elif ctype == "datetime":
        enc = _le_bytes(F.unix_timestamp(c.cast("timestamp")), 4)
    elif ctype == "date":
        enc = _le_bytes(F.datediff(c.cast("date"), F.lit("1970-01-01")), 2)
    elif ctype == "binary":
        enc = c
    else:
        raise ValueError(f"siphash64: unsupported ctype {ctype!r}")
    return _bin_udf(_ROW["sipHash64"])(enc)


def _halfmd5_bytes(b: Column) -> Column:
    """halfMD5 (HalfMD5Impl:240): the first 8 MD5 bytes, big-endian —
    md5 + hex math, all JVM expressions."""
    hex16 = F.substring(F.md5(b), 1, 16)
    hi = F.conv(F.substring(hex16, 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(hex16, 9, 8), 16, 10).cast("bigint")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def halfmd5(*cols) -> Column:
    """halfMD5 with the raw POD rule; combine (HalfMD5Impl:272) =
    halfMD5(le8(h1) || le8(h2))."""
    return _fold(
        cols,
        lambda c: _null_if(_halfmd5_bytes(_encode_auto(c)), [c]),
        lambda a, b: _halfmd5_bytes(F.concat(_le_bytes(a, 8), _le_bytes(b, 8))),
    )


def _int_hash(mix):
    """intHash64 / intHash32 (FunctionIntHash): the mix over the
    SIGN-extended value (intHash64(toInt32(-7)) hashes 0xFFFF...F9)."""

    def fn(col) -> Column:
        col = _arg(col)
        return _null_if(_pod_udf(mix)(pod_bits(col, sign_extend=True)), [col])

    return fn


def java_hash(col) -> Column:
    """javaHash with the reference's SPECIAL POD dispatch
    (JavaHashImpl:514): int8/16/32 pass through, Int64 folds
    x ^ (x >>> 32), strings fold signed bytes; not combineable."""
    col = _arg(col)
    s = col.cast("string")
    t = F.call_function("typeof", col)
    b = s.cast("bigint")
    i64fold = (
        b.bitwiseAND(F.lit(0xFFFFFFFF))
        .bitwiseXOR(F.shiftrightunsigned(b, 32))
        .cast("int")
    )
    h = (
        F.when(t.isin("tinyint", "smallint", "int"), s.cast("int"))
        .when(t == "bigint", i64fold)
        .otherwise(_java_udf()(F.encode(s, "UTF-8")))
    )
    return _null_if(h, [col], "int")


def java_hash_utf16le(col) -> Column:
    col = _arg(col)
    h = _java_utf16_udf()(F.encode(col.cast("string"), "UTF-16LE"))
    return _null_if(h, [col], "int")


def hive_hash(col) -> Column:
    return java_hash(col).bitwiseAND(F.lit(0x7FFFFFFF))


def urlhash(url, level=None) -> Column:
    """URLHash(url[, level]) — CityHash64 of the URL (or its hierarchy
    prefix at `level`, from the dialect's URLHierarchy) with one
    trailing '/', '?' or '#' dropped."""
    url = _arg(url)
    if level is not None:
        from clickhouse_25_5_3_75_stable_spark.functions.dialect import ch

        url = F.try_element_at(ch("URLHierarchy", url), _arg(level).cast("int") + 1)
    trimmed = F.when(
        url.rlike("[/?#]$"), F.substring(url, 1, F.length(url) - 1)
    ).otherwise(url)
    return _null_if(_bin_udf(_ROW["cityHash64"])(F.encode(trimmed, "UTF-8")), [url])


def jump_consistent_hash(key, n) -> Column:
    return _jump_udf()(_arg(key).cast("bigint"), _arg(n).cast("bigint"))


def _key(key_tuple, name: str) -> tuple[int, int]:
    if not (isinstance(key_tuple, (tuple, list)) and len(key_tuple) == 2):
        raise ValueError(f"{name} needs a literal (k0, k1) tuple")
    return int(key_tuple[0]), int(key_tuple[1])


def siphash64_keyed(key_tuple, *cols) -> Column:
    """sipHash64Keyed((k0, k1), args...) (SipHash64KeyedImpl:215) with
    literal keys; combine = keyed hash over the 16-byte LE concat."""
    k0, k1 = _key(key_tuple, "sipHash64Keyed")
    udf = _bytes_udf(
        f"sipkeyed:{k0}:{k1}",
        lambda data: np.array([K.siphash64_py(d, k0, k1) for d in data], dtype=np.uint64),
    )
    return _fold(
        cols,
        lambda c: _null_if(udf(_encode_auto(c)), [c]),
        lambda a, b: udf(F.concat(_le_bytes(a, 8), _le_bytes(b, 8))),
    )


def _hash128(udf, cols) -> Column:
    """16-byte hashes (FixedString(16) in the reference, BINARY here);
    multi-arg combine = the hash of the 32-byte concat
    (combineHashesFunc<UInt128>)."""
    return _fold(
        cols,
        lambda c: _null_if(udf(_encode_auto(c)), [c], "binary"),
        lambda a, b: udf(F.concat(a, b)),
        "binary",
    )


def _siphash128(reference: bool):
    fn = K._siphash128_reference_np if reference else K._siphash128_np
    return lambda *cols: _hash128(_bin128_udf(f"b128:{reference}", fn), cols)


def _siphash128_keyed(reference: bool):
    """sipHash128Keyed / sipHash128ReferenceKeyed with literal keys
    (FunctionsHashing.h:306,342)."""
    core = K.siphash128_reference_keyed_py if reference else K.siphash128_keyed_py

    def fn(key_tuple, *cols) -> Column:
        k0, k1 = _key(key_tuple, "sipHash128Keyed")
        udf = _bin128_udf(f"b128keyed:{reference}:{k0}:{k1}",
                          lambda data: [core(k0, k1, d) for d in data])
        return _hash128(udf, cols)

    return fn


def murmurhash3_128(col) -> Column:
    """The full 16-byte MurmurHash3_x64_128 (MurmurHash3Impl128)."""
    return _hash128(_bin128_udf("murmur3_128", K._murmur3_128_np), [col])


COLUMN_FUNCTIONS: dict[str, Callable[..., Column]] = {
    **{h.name: _table_hash(h) for h in HASHES},
    "halfMD5": halfmd5,
    "intHash64": _int_hash(K._np_inthash64),
    "intHash32": _int_hash(K._np_inthash32),
    "javaHash": java_hash,
    "javaHashUTF16LE": java_hash_utf16le,
    "hiveHash": hive_hash,
    "URLHash": urlhash,
    "jumpConsistentHash": jump_consistent_hash,
    "sipHash64Keyed": siphash64_keyed,
    "sipHash128": _siphash128(False),
    "sipHash128Reference": _siphash128(True),
    "sipHash128Keyed": _siphash128_keyed(False),
    "sipHash128ReferenceKeyed": _siphash128_keyed(True),
    "murmurHash3_128": murmurhash3_128,
}


# ---------------------------------------------------------------------------
# SQL text: registered UDFs, SQL functions, and the calls chsql emits
# ---------------------------------------------------------------------------


class SqlCall(NamedTuple):
    fn: str
    combine: str | None  # None: not combineable (reference NOT_IMPLEMENTED)
    typed: bool  # called as fn(CAST(x AS STRING), typeof(x))


_COMBINE_SQL = {
    "hash128to64": "ch_cityhash64_combine",
    "int64xor": "ch_int64xor_combine",
    "int32xor": "ch_int32xor_combine",
}


def _combine_sql(h: Hash) -> str:
    return _COMBINE_SQL.get(h.combine, f"ch_{h.fam}_combine")


SQL_CALLS: dict[str, SqlCall] = {
    **{h.fam: SqlCall(f"ch_{h.fam}_typed", _combine_sql(h), True) for h in HASHES},
    "halfmd5": SqlCall("ch_halfmd5_typed", "ch_halfmd5_combine", True),
    "inthash64": SqlCall("ch_inthash64_typed", None, True),
    "inthash32": SqlCall("ch_inthash32_typed", None, True),
    "javahash": SqlCall("ch_javahash_typed", None, True),
    "hivehash": SqlCall("ch_hivehash_typed", None, True),
    "urlhash": SqlCall("ch_urlhash", None, False),
    "javahashutf16le": SqlCall("ch_javahashutf16le", None, False),
}


def _case_sql(branches, otherwise: str) -> str:
    whens = "".join(f"\n      WHEN '{t}' THEN {e}" for t, e in branches)
    return f"CASE t{whens}\n      ELSE {otherwise} END"


def _typed_bytes_sql() -> list[tuple[str, str]]:
    """SQL spelling of :func:`_encode_auto` over (s, t)."""
    return [
        ("string", "encode(s, 'utf-8')"),
        ("bigint", _le_bytes_sql("s", 8)),
        ("int", _le_bytes_sql("s", 4)),
        ("smallint", _le_bytes_sql("s", 2)),
        ("tinyint", _le_bytes_sql("s", 1)),
        ("boolean", _le_bytes_sql("CAST(CAST(s AS BOOLEAN) AS BIGINT)", 1)),
        ("date", _le_bytes_sql("datediff(CAST(s AS DATE), DATE'1970-01-01')", 2)),
        ("timestamp", _le_bytes_sql("unix_timestamp(CAST(s AS TIMESTAMP))", 4)),
    ]


def _pod_bits_sql(sign_extend: bool) -> list[tuple[str, str]]:
    """SQL spelling of :func:`pod_bits` over (s, t)."""
    b = "CAST(s AS BIGINT)"

    def narrow(mask: int) -> str:
        return b if sign_extend else f"{b} & {mask}"

    return [
        ("bigint", b),
        ("int", narrow(4294967295)),
        ("smallint", narrow(65535)),
        ("tinyint", narrow(255)),
        ("boolean", "CAST(CAST(s AS BOOLEAN) AS BIGINT)"),
        ("date", "CAST(datediff(CAST(s AS DATE), DATE'1970-01-01') AS BIGINT)"),
        ("timestamp", "unix_timestamp(CAST(s AS TIMESTAMP)) & 4294967295"),
    ]


def _typed_case_sql(h: Hash) -> str:
    """SQL spelling of :func:`_typed` (without the NULL wrap). The
    int_pods rows share the intHash64 POD/float UDFs, which are
    registered under cityHash64's prefix."""
    bin_ = f"{h.name}_bin(encode(s, 'utf-8'))"
    if h.int_pods:
        return _case_sql(
            [("string", bin_)]
            + [(t, f"cityHash64_pod({e})") for t, e in _pod_bits_sql(False)]
            + [("double", "cityHash64_f64(CAST(s AS DOUBLE))"),
               ("float", "cityHash64_f32(CAST(s AS FLOAT))")],
            bin_,
        )
    return _case_sql(
        [("double", f"{h.name}_f64(CAST(s AS DOUBLE))"),
         ("float", f"{h.name}_f32(CAST(s AS FLOAT))")]
        + [(t, f"{h.name}_bin({e})") for t, e in _typed_bytes_sql()],
        bin_,
    )


def _typed_ddl(fn: str, body: str, ret: str = "BIGINT") -> str:
    return (
        f"CREATE OR REPLACE TEMPORARY FUNCTION {fn}(s STRING, t STRING) "
        f"RETURNS {ret} RETURN IF(s IS NULL, CAST(NULL AS {ret}), {body})"
    )


def _combine_ddl(fn: str, body: str) -> str:
    return (
        f"CREATE OR REPLACE TEMPORARY FUNCTION {fn}(h1 BIGINT, h2 BIGINT) "
        "RETURNS BIGINT RETURN IF(h1 IS NULL OR h2 IS NULL, CAST(NULL AS BIGINT), "
        f"{body})"
    )


def _halfmd5_sql(bin_expr: str) -> str:
    hx = f"substring(md5({bin_expr}), 1, 16)"
    return (
        f"(shiftleft(CAST(conv(substring({hx}, 1, 8), 16, 10) AS BIGINT), 32)"
        f" | CAST(conv(substring({hx}, 9, 8), 16, 10) AS BIGINT))"
    )


def sql_ddl() -> list[str]:
    """The SQL functions behind SQL_CALLS, in dependency order."""
    le_concat = f"concat({_le_bytes_sql('h1', 8)}, {_le_bytes_sql('h2', 8)})"
    out = []
    for h in HASHES:
        out.append(_typed_ddl(f"ch_{h.fam}_typed", _typed_case_sql(h)))
        if h.combine == "self":
            out.append(_combine_ddl(f"ch_{h.fam}_combine", f"{h.name}_bin({le_concat})"))
    java_case = _case_sql(
        [("tinyint", "CAST(s AS INT)"), ("smallint", "CAST(s AS INT)"),
         ("int", "CAST(s AS INT)"),
         ("bigint", "CAST((CAST(s AS BIGINT) & 4294967295) ^ "
                    "shiftrightunsigned(CAST(s AS BIGINT), 32) AS INT)")],
        "javaHash_bin(encode(s, 'utf-8'))",
    )
    return out + [
        _combine_ddl("ch_int64xor_combine", "ch_inthash64(h1) ^ h2"),
        _combine_ddl("ch_int32xor_combine", "(ch_inthash32(h1) ^ h2) & 4294967295"),
        _typed_ddl("ch_halfmd5_typed", _halfmd5_sql(
            "(" + _case_sql(_typed_bytes_sql(), "encode(s, 'utf-8')") + ")")),
        _combine_ddl("ch_halfmd5_combine", _halfmd5_sql(le_concat)),
        _typed_ddl("ch_inthash64_typed", "ch_inthash64(" + _case_sql(
            _pod_bits_sql(True), "CAST(s AS BIGINT)") + ")"),
        _typed_ddl("ch_inthash32_typed", "ch_inthash32(" + _case_sql(
            _pod_bits_sql(True), "CAST(s AS BIGINT)") + ")"),
        _typed_ddl("ch_javahash_typed", java_case, "INT"),
        "CREATE OR REPLACE TEMPORARY FUNCTION ch_hivehash_typed(s STRING, t STRING) "
        "RETURNS INT RETURN ch_javahash_typed(s, t) & 2147483647",
        "CREATE OR REPLACE TEMPORARY FUNCTION ch_javahashutf16le(s STRING) "
        "RETURNS INT RETURN IF(s IS NULL, CAST(NULL AS INT), "
        "javaHashUTF16_bin(encode(s, 'UTF-16LE')))",
        "CREATE OR REPLACE TEMPORARY FUNCTION ch_urlhash(u STRING) "
        "RETURNS BIGINT RETURN IF(u IS NULL, CAST(NULL AS BIGINT), "
        "cityHash64_bin(encode(IF(u RLIKE '[/?#]$', "
        "substring(u, 1, length(u) - 1), u), 'utf-8')))",
    ]


def register_sql(spark) -> None:
    """Register the hash UDFs and SQL functions that SQL_CALLS name."""
    reg = spark.udf.register
    for h in HASHES:
        reg(f"{h.name}_bin", _bin_udf(h))
        if not h.int_pods:
            reg(f"{h.name}_f64", _float_udf(h, 64))
            reg(f"{h.name}_f32", _float_udf(h, 32))
    city = _ROW["cityHash64"]
    reg("cityHash64_pod", _pod_udf(K._np_inthash64))
    reg("cityHash64_f64", _float_udf(city, 64))
    reg("cityHash64_f32", _float_udf(city, 32))
    reg("ch_cityhash64_combine", _combine_udf())
    reg("ch_xxhash64_combine", _combine_udf())  # xxHash64's former combine name
    reg("ch_inthash64", _pod_udf(K._np_inthash64))
    reg("ch_inthash32", _pod_udf(K._np_inthash32))
    # bare sipHash64(x) for direct spark.sql() users: the UTF-8 of the
    # string rendering (exact for String inputs); chsql emits the typed form
    reg("sipHash64", _bytes_udf("str:sipHash64", K._siphash64_np,
                                to_bytes=lambda v: str(v).encode("utf-8")))
    reg("javaHash_bin", _java_udf())
    reg("javaHashUTF16_bin", _java_utf16_udf())
    reg("jumpConsistentHash", _jump_udf())
    for ddl in sql_ddl():
        spark.sql(ddl)
