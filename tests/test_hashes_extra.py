"""Exact xxHash64 / murmurHash2_64 / murmurHash3_64 / intHash32/64
(functions/hashes_extra.py): anchor vectors, dual-transcription
sweeps, typed Spark dispatch, reference combine rules, NULL → NULL.
"""

from __future__ import annotations

import random

import numpy as np
import pyspark.sql.functions as F

from clickhouse_25_5_3_75_stable_spark.functions.hash_kernels import (
    hash128to64_py,
    inthash64_py,
)
from clickhouse_25_5_3_75_stable_spark.functions.dialect import ch
from clickhouse_25_5_3_75_stable_spark.functions.hash_kernels import (
    _murmur2_64a_np,
    _murmur3_64_np,
    _np_inthash32,
    _xxh64_np,
    inthash32_py,
    murmur2_64a_py,
    murmur3_64_py,
    murmur3_x64_128_py,
    xxh64_py,
)


def as_i64(v: int) -> int:
    return np.int64(np.uint64(v)).item()


def test_xxh64_published_anchors():
    # vectors from the public xxHash documentation/test suite
    assert xxh64_py(b"") == 0xEF46DB3751D8E999
    assert xxh64_py(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64_py(b"abc") == 0x44BC2CF5AD770999


def test_murmur3_published_anchor():
    # widely published MurmurHash3_x64_128("hello", 0) low half
    h1, _h2 = murmur3_x64_128_py(b"hello")
    assert h1 == 0xCBD8A7B341BD9B02


def test_murmur2_empty_algebraic():
    # seed 0, empty input: every step collapses to 0 by construction
    assert murmur2_64a_py(b"") == 0


def test_dual_transcriptions_agree():
    rng = random.Random(99)
    data = [b""]
    for ln in list(range(1, 70)) + [127, 128, 129, 255, 256, 1024, 4099]:
        data.append(bytes(rng.randrange(256) for _ in range(ln)))
    for py, npf in (
        (xxh64_py, _xxh64_np),
        (murmur2_64a_py, _murmur2_64a_np),
        (murmur3_64_py, _murmur3_64_np),
    ):
        vec = npf(data)
        for d, v in zip(data, vec):
            assert int(v) == py(d), (py.__name__, len(d))
    xs = np.array([0, 1, 12345, 2**63, 2**64 - 1], dtype=np.uint64)
    assert all(int(v) == inthash32_py(int(x)) for x, v in zip(xs, _np_inthash32(xs)))


def test_spark_dispatch_and_combines(spark):
    df = spark.createDataFrame([(12345, "hello")], "k long, s string")
    row = df.select(
        ch("xxHash64", F.col("s")).alias("xs"),
        ch("xxHash64", F.col("k")).alias("xk"),
        ch("xxHash64", F.col("s"), F.col("k")).alias("xc"),
        ch("murmurHash2_64", F.col("s")).alias("m2"),
        ch("murmurHash3_64", F.col("s")).alias("m3"),
        ch("murmurHash2_64", F.col("s"), F.col("k")).alias("m2c"),
        ch("intHash64", F.col("k")).alias("ih64"),
        ch("intHash32", F.col("k")).alias("ih32"),
    ).collect()[0]
    k_bytes = (12345).to_bytes(8, "little")
    assert row.xs == as_i64(xxh64_py(b"hello"))
    assert row.xk == as_i64(xxh64_py(k_bytes))  # raw LE bytes, like sipHash64
    # combine: Hash128to64 (ImplXxHash64:705)
    assert row.xc == as_i64(hash128to64_py(xxh64_py(b"hello"), xxh64_py(k_bytes)))
    assert row.m2 == as_i64(murmur2_64a_py(b"hello"))
    assert row.m3 == as_i64(murmur3_64_py(b"hello"))
    # combine: intHash64(h1) ^ h2 (MurmurHash2Impl64:400)
    want = inthash64_py(murmur2_64a_py(b"hello")) ^ murmur2_64a_py(k_bytes)
    assert row.m2c == as_i64(want)
    assert row.ih64 == as_i64(inthash64_py(12345))
    assert row.ih32 == inthash32_py(12345)

    # NULL → NULL across the family
    dfn = spark.createDataFrame([(None,)], "s string")
    rn = dfn.select(
        ch("xxHash64", F.col("s")).alias("a"),
        ch("murmurHash3_64", F.col("s")).alias("b"),
    ).collect()[0]
    assert rn.a is None and rn.b is None


def test_sql_path_xxhash64(spark):
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    df = spark.createDataFrame([(7, "abc")], "k long, s string")
    df.createOrReplaceTempView("xx_t")
    r = ch_sql(
        spark,
        "SELECT xxHash64(s) AS hs, xxHash64(k) AS hk, xxHash64(s, k) AS hc FROM xx_t",
    ).collect()[0]
    assert r.hs == as_i64(xxh64_py(b"abc"))
    assert r.hk == as_i64(xxh64_py((7).to_bytes(8, "little")))
    assert r.hc == as_i64(
        hash128to64_py(xxh64_py(b"abc"), xxh64_py((7).to_bytes(8, "little")))
    )


def test_inthash_sign_extends_narrow_ints(spark):
    """FunctionIntHash (SQL intHash64/intHash32) SIGN-extends narrow
    ints (plain C++ conversion, FunctionsHashing.h:753) — unlike
    cityHash64's POD path, which zero-extends via bit_cast (review
    finding: the two rules differ and both must be exact)."""
    from clickhouse_25_5_3_75_stable_spark.functions.hash_kernels import (
        inthash32_py,
    )

    df = spark.createDataFrame([(-7,)], "i int")
    row = df.select(
        ch("intHash64", F.col("i")).alias("h64"),
        ch("intHash32", F.col("i")).alias("h32"),
        ch("cityHash64", F.col("i")).alias("city"),
    ).collect()[0]
    sign_ext = (2**64) - 7  # 0xFFFF...F9
    zero_ext = 0xFFFFFFF9
    assert row.h64 == as_i64(inthash64_py(sign_ext))
    assert row.h32 == inthash32_py(sign_ext)
    from clickhouse_25_5_3_75_stable_spark.functions.hash_kernels import (
        inthash64_py as _ih,
    )

    assert row.city == as_i64(_ih(zero_ext))


def test_halfmd5_exact(spark):
    """halfMD5 = big-endian UInt64 of the first 8 MD5-digest bytes
    (HalfMD5Impl:240) — pure JVM expressions; combine per :272."""
    import hashlib

    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
    from clickhouse_25_5_3_75_stable_spark.functions.hash_kernels import (
        halfmd5_py,
    )

    assert halfmd5_py(b"abc") == int.from_bytes(
        hashlib.md5(b"abc").digest()[:8], "big"
    )
    df = spark.createDataFrame([(7, "abc")], "k long, s string")
    df.createOrReplaceTempView("hm_t")
    row = df.select(
        ch("halfMD5", F.col("s")).alias("hs"),
        ch("halfMD5", F.col("k")).alias("hk"),
        ch("halfMD5", F.col("s"), F.col("k")).alias("hc"),
    ).collect()[0]
    k_bytes = (7).to_bytes(8, "little")
    assert row.hs == as_i64(halfmd5_py(b"abc"))
    assert row.hk == as_i64(halfmd5_py(k_bytes))
    h1, h2 = halfmd5_py(b"abc"), halfmd5_py(k_bytes)
    want = halfmd5_py(h1.to_bytes(8, "little") + h2.to_bytes(8, "little"))
    assert row.hc == as_i64(want)
    # SQL path agrees (pure-SQL body)
    r2 = ch_sql(
        spark, "SELECT halfMD5(s) AS hs, halfMD5(k) AS hk, halfMD5(s, k) AS hc FROM hm_t"
    ).collect()[0]
    assert (r2.hs, r2.hk, r2.hc) == (row.hs, row.hk, row.hc)


def test_jump_consistent_hash_exact(spark):
    """Lamping-Veach jump hash: dual transcription + the paper's
    consistency property (growing n only moves keys INTO the new
    bucket, never between old buckets)."""
    import random

    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
    from clickhouse_25_5_3_75_stable_spark.functions.hash_kernels import (
        _np_jump,
        jump_consistent_hash_py,
    )

    rng = random.Random(5)
    keys = [rng.randrange(2**64) for _ in range(300)]
    for n in (1, 2, 7, 16, 1000):
        got = _np_jump(
            np.array(keys, dtype=np.uint64), np.full(len(keys), n, dtype=np.int64)
        )
        for k, g in zip(keys, got):
            assert int(g) == jump_consistent_hash_py(k, n)
            assert 0 <= int(g) < n
    # consistency: bucket(k, n+1) ∈ {bucket(k, n), n}
    for k in keys[:100]:
        for n in (2, 7, 16):
            b_n = jump_consistent_hash_py(k, n)
            b_n1 = jump_consistent_hash_py(k, n + 1)
            assert b_n1 in (b_n, n)
    # Spark dispatch + SQL name (keys as Int64 bit patterns)
    df = spark.createDataFrame([(as_i64(k),) for k in keys[:50]], "k long")
    df.createOrReplaceTempView("jch_t")
    got = {
        r.k: r.b
        for r in df.select("k", ch("jumpConsistentHash", F.col("k"), 16).alias("b")).collect()
    }
    for k, b in got.items():
        assert b == jump_consistent_hash_py(k & ((1 << 64) - 1), 16)
    r = ch_sql(spark, "SELECT jumpConsistentHash(42, 16) AS b").collect()[0]
    assert r.b == jump_consistent_hash_py(42, 16)


def test_siphash128_variants(spark):
    """CH-legacy sipHash128 (get128: (v0^v1, v2^v3), 0xff finalize)
    vs the official sipHash128Reference (0xee init/finalize + 0xdd
    second finalize) — dual py/np transcriptions agree, the two
    variants differ from each other and from sipHash64's xor-all, and
    the Spark surface returns BINARY(16) with NULL → NULL."""
    import random

    from clickhouse_25_5_3_75_stable_spark.functions.hash_kernels import (
        _siphash128_np,
        _siphash128_reference_np,
        siphash64_py,
        siphash128_py,
        siphash128_reference_py,
    )

    rng = random.Random(3)
    data = [b""] + [
        bytes(rng.randrange(256) for _ in range(ln))
        for ln in list(range(1, 40)) + [63, 64, 65, 255, 1024]
    ]
    leg = _siphash128_np(data)
    ref = _siphash128_reference_np(data)
    for d, a, b in zip(data, leg, ref):
        assert a == siphash128_py(d)
        assert b == siphash128_reference_py(d)
        assert a != b  # the legacy variant is NOT the official output
        lo = int.from_bytes(a[:8], "little")
        hi = int.from_bytes(a[8:], "little")
        assert (lo ^ hi) == siphash64_py(d)  # algebraic tie to sip64

    df = spark.createDataFrame([("hello", None)], "s string, n string")
    row = df.select(
        ch("sipHash128", F.col("s")).alias("h"),
        ch("sipHash128Reference", F.col("s")).alias("hr"),
        ch("sipHash128", F.col("n")).alias("hn"),
    ).collect()[0]
    assert bytes(row.h) == siphash128_py(b"hello")
    assert bytes(row.hr) == siphash128_reference_py(b"hello")
    assert row.hn is None
    # multi-arg: combine = sipHash128 of the 32-byte LE concat
    rc = df.select(ch("sipHash128", F.col("s"), F.lit("x")).alias("c")).collect()[0]
    want = siphash128_py(siphash128_py(b"hello") + siphash128_py(b"x"))
    assert bytes(rc.c) == want


def test_murmur3_128_full_output(spark):
    """murmurHash3_128 returns the full 16 bytes (h1 LE ++ h2 LE);
    anchored by the widely published MurmurHash3_x64_128('hello', 0)
    pair."""
    from clickhouse_25_5_3_75_stable_spark.functions.hash_kernels import (
        _murmur3_128_np,
    )

    h = _murmur3_128_np([b"hello"])[0]
    assert int.from_bytes(h[:8], "little") == 0xCBD8A7B341BD9B02
    assert int.from_bytes(h[8:], "little") == 0x5B1E906A48AE1D19
    df = spark.createDataFrame([("hello",)], "s string")
    row = df.select(ch("murmurHash3_128", F.col("s")).alias("h")).collect()[0]
    assert bytes(row.h) == h


def test_spark_xxhash_differs_from_builtin(spark):
    # guard against regressing to the capability map: Spark's xxhash64
    # (seed 42, row encoding) must NOT equal CH's XXH64 seed-0
    df = spark.createDataFrame([("hello",)], "s string")
    row = df.select(
        ch("xxHash64", F.col("s")).alias("exact"),
        F.xxhash64(F.col("s")).alias("sparkish"),
    ).collect()[0]
    assert row.exact != row.sparkish
    assert row.exact == as_i64(xxh64_py(b"hello"))
