"""CityHash64 v1.0.2 (functions/cityhash.py): dual-transcription
cross-validation, Spark typed dispatch, multi-arg combine, SQL path.

Validation scope (documented in the module too): the reference snapshot
ships neither the vendored CityHash_v1_0_2 contrib source nor a vector
table, so exactness rests on (a) the published public v1.0.2 algorithm,
(b) two independent transcriptions (imperative / vectorized) agreeing
on every length class, (c) the algebraically-forced empty-input value
k2, and (d) pinned fixtures (queries.py func_cityhash_exact).
"""

from __future__ import annotations

import random

import numpy as np
import pyspark.sql.functions as F
import pytest

from clickhouse_25_5_3_75_stable_spark.functions.hash_kernels import (
    K2,
    _cityhash64_np,
    cityhash64_py,
    hash128to64_py,
    inthash64_py,
)
from clickhouse_25_5_3_75_stable_spark.functions.dialect import ch


def as_i64(v: int) -> int:
    return np.int64(np.uint64(v)).item()


def test_empty_is_k2():
    # HashLen0to16 with len 0 returns k2 — forced by the algorithm
    assert cityhash64_py(b"") == K2 == 0x9AE16A3B2F90404F


def test_dual_transcription_all_length_classes():
    rng = random.Random(20240814)
    data = [b""]
    for ln in list(range(1, 140)) + [192, 256, 300, 1000, 4097, 9000]:
        data.append(bytes(rng.randrange(256) for _ in range(ln)))
        data.append(bytes([65 + (ln % 26)]) * ln)  # degenerate repeats
    vec = _cityhash64_np(data)
    for d, v in zip(data, vec):
        assert int(v) == cityhash64_py(d), f"len={len(d)}"


def test_hash128to64_combine():
    # Hash128to64(uint128(lo, hi)) — the reference's multi-arg combine
    h1 = cityhash64_py(b"hello")
    h2 = cityhash64_py(b"world")
    assert hash128to64_py(h1, h2) == 966684281678495360


def test_inthash64_is_murmur_finalizer():
    # the POD path (ImplCityHash64 use_int_hash_for_pods=true):
    # intHash64 = MurmurHash3 fmix64 of (x ^ 0x4CF2D2BAAE6DA887)
    def fmix64(x):
        x ^= x >> 33
        x = (x * 0xFF51AFD7ED558CCD) & ((1 << 64) - 1)
        x ^= x >> 33
        x = (x * 0xC4CEB9FE1A85EC53) & ((1 << 64) - 1)
        x ^= x >> 33
        return x

    for v in (0, 1, 12345, 2**63, 2**64 - 1):
        assert inthash64_py(v) == fmix64(v ^ 0x4CF2D2BAAE6DA887)


def test_spark_typed_dispatch_and_chain(spark):
    import datetime as _dt

    df = spark.createDataFrame(
        [(12345, -7, "hello", _dt.date(2024, 3, 5), 1.5)],
        "k long, i int, s string, d date, x double",
    )
    row = df.select(
        ch("cityHash64", F.col("k")).alias("hk"),
        ch("cityHash64", F.col("i")).alias("hi"),
        ch("cityHash64", F.col("s")).alias("hs"),
        ch("cityHash64", F.col("d")).alias("hd"),
        ch("cityHash64", F.col("x")).alias("hx"),
        ch("cityHash64", F.col("s"), F.lit("world")).alias("hc"),
    ).collect()[0]
    # POD columns: intHash64 of the ZERO-extended bit pattern
    # (FunctionsHashing.h:623 + base/bit_cast.h — NOT CityHash64 of
    # the value bytes; review-round finding)
    assert row.hk == as_i64(inthash64_py(12345))
    assert row.hi == as_i64(inthash64_py(0xFFFFFFF9))  # Int32 -7 zero-extends
    assert row.hs == as_i64(cityhash64_py(b"hello"))
    days = (_dt.date(2024, 3, 5) - _dt.date(1970, 1, 1)).days
    assert row.hd == as_i64(inthash64_py(days))
    bits = int(np.float64(1.5).view(np.uint64))
    assert row.hx == as_i64(inthash64_py(bits))
    assert row.hc == as_i64(
        hash128to64_py(cityhash64_py(b"hello"), cityhash64_py(b"world"))
    )


def test_sql_path_through_shim(spark):
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    df = spark.createDataFrame([(7, "abc")], "k long, s string")
    df.createOrReplaceTempView("city_t")
    r = ch_sql(
        spark,
        "SELECT cityHash64(s) AS hs, cityHash64(k) AS hk, "
        "cityHash64(s, k) AS hc FROM city_t",
    ).collect()[0]
    assert r.hs == as_i64(cityhash64_py(b"abc"))
    assert r.hk == as_i64(inthash64_py(7))
    assert r.hc == as_i64(
        hash128to64_py(cityhash64_py(b"abc"), inthash64_py(7))
    )


def test_null_in_batch_does_not_perturb(spark):
    # NULL hashes to NULL (FunctionsHashing.h:869 'someHash(NULL) is
    # NULL'), and a NULL elsewhere in the batch must not change other
    # rows
    df = spark.createDataFrame([("abc",), (None,), ("xyz",)], "s string")
    got = {r.s: r.h for r in df.select("s", ch("cityHash64", F.col("s")).alias("h")).collect()}
    assert got["abc"] == as_i64(cityhash64_py(b"abc"))
    assert got["xyz"] == as_i64(cityhash64_py(b"xyz"))
    assert got[None] is None
    # multi-arg: any NULL argument → NULL
    dfn = spark.createDataFrame([("a", None)], "a string, b string")
    assert dfn.select(ch("cityHash64", F.col("a"), F.col("b")).alias("h")).collect()[0].h is None


@pytest.mark.parametrize("n", [65, 128, 129, 1024])
def test_long_branch_chunk_boundaries(n):
    data = bytes(range(256))[: n % 256] * (n // 256 + 1)
    data = data[:n]
    assert int(_cityhash64_np([data])[0]) == cityhash64_py(data)
