"""Exact farmFingerprint64 / farmHash64 / metroHash64 / wyHash64 / xxh3
(functions/hashes_extra2.py): in-sandbox ground truth (libxxhash via
ctypes, Guava farmHashFingerprint64 fixtures), published anchor
vectors, scalar/numpy cross-validation, typed Spark dispatch, combine
rules, NULL → NULL.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import pathlib
import random

import numpy as np
import pyspark.sql.functions as F
import pytest

from clickhouse_25_5_3_75_stable_spark.functions.hash_kernels import (
    hash128to64_py,
    inthash64_py,
)
from clickhouse_25_5_3_75_stable_spark.functions.dialect import ch
from clickhouse_25_5_3_75_stable_spark.functions.hash_kernels import (
    _farm_na_np,
    _farm_xo_np,
    _metro64_np,
    _wyhash_np,
    _xxh3_np,
    farmhash_na_py,
    farmhash_xo_py,
    metrohash64_1_py,
    wyhash_combine_py,
    wyhash_py,
    xxh3_64_py,
)

FIXTURE_DIR = pathlib.Path(__file__).parent / "fixtures"


def as_i64(v: int) -> int:
    return np.int64(np.uint64(v)).item()


def _rand_inputs() -> list[bytes]:
    rng = random.Random(20240814)
    lens = (list(range(0, 98)) + [100, 127, 128, 129, 200, 240, 241, 255,
                                  256, 257, 300, 511, 512, 1000, 1024, 1025,
                                  2048, 4099])
    return [bytes(rng.randrange(256) for _ in range(ln)) for ln in lens]


# ---------------------------------------------------------------------------
# ground truth / anchors
# ---------------------------------------------------------------------------

def test_xxh3_against_libxxhash():
    """XXH3_64bits vs the system C library (xxhash 0.8.x) when present;
    the checked-in anchors below keep coverage without it."""
    path = ctypes.util.find_library("xxhash")
    if path is None:
        pytest.skip("libxxhash not present")
    lib = ctypes.CDLL(path)
    lib.XXH3_64bits.restype = ctypes.c_uint64
    lib.XXH3_64bits.argtypes = [ctypes.c_char_p, ctypes.c_size_t]
    for d in _rand_inputs():
        assert xxh3_64_py(d) == lib.XXH3_64bits(d, len(d)), len(d)


def test_xxh3_published_anchor():
    # XXH3_64bits("") with default secret — published in the xxHash repo
    assert xxh3_64_py(b"") == 0x2D06800538D394C2


def test_farm_fingerprint_guava_fixtures():
    """farmhashna::Hash64 vs fixtures generated from Guava 33.x
    Hashing.farmHashFingerprint64() (the JVM transcription Spark ships;
    regeneration recipe in the fixture header)."""
    fix = FIXTURE_DIR / "farmhash_fingerprint64_guava.txt"
    lines = [
        ln for ln in fix.read_text().splitlines()
        if ln and not ln.startswith("#")
    ]
    assert len(lines) > 300
    for line in lines:
        ln, hexh, hexdata = line.split(":")
        data = bytes.fromhex(hexdata)
        assert len(data) == int(ln)
        assert farmhash_na_py(data) == int(hexh, 16), ln


def test_farm_xo_na_shared_ranges():
    """farmhashxo::Hash64 ranges that dispatch to farmhashna (<=32 and
    97..256) must agree with the Guava-anchored na implementation."""
    rng = random.Random(7)
    for ln in list(range(0, 33)) + list(range(97, 257, 13)) + [256]:
        d = bytes(rng.randrange(256) for _ in range(ln))
        assert farmhash_xo_py(d) == farmhash_na_py(d), ln


def test_metrohash_published_vector():
    # the verification key published in the metrohash repo; the expected
    # value is the hex of the 8 OUTPUT BYTES (the reference reads them
    # as a LE UInt64 — ImplMetroHash64:659's union)
    key = b"012345678901234567890123456789012345678901234567890123456789012"
    assert metrohash64_1_py(key, 0).to_bytes(8, "little").hex() == "658f044f5c730e40"


def test_wyhash_published_vectors():
    # wyhash final-3 test vectors (seeds 0..6, every length class)
    vecs = [
        (b"", 0, 0x42BC986DC5EEC4D3),
        (b"a", 1, 0x84508DC903C31551),
        (b"abc", 2, 0x0BC54887CFC9ECB1),
        (b"message digest", 3, 0x6E2FF3298208A67C),
        (b"abcdefghijklmnopqrstuvwxyz", 4, 0x9A64E42E897195B9),
        (b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789",
         5, 0x9199383239C32554),
        (b"1234567890123456789012345678901234567890"
         b"1234567890123456789012345678901234567890", 6, 0x7C1CCF6BBA30F5A5),
    ]
    for data, seed, exp in vecs:
        assert wyhash_py(data, seed) == exp, data


def test_wyhash_clickhouse_docs_example():
    # the ClickHouse documentation example for wyHash64 — pins the
    # vendored version to wyhash final 3 AND the seed to 0
    assert wyhash_py(b"ClickHouse") == 12336419557878201794


# ---------------------------------------------------------------------------
# scalar vs numpy dual paths
# ---------------------------------------------------------------------------

def test_dual_paths_agree():
    data = _rand_inputs()
    for py, npf in (
        (xxh3_64_py, _xxh3_np),
        (farmhash_na_py, _farm_na_np),
        (farmhash_xo_py, _farm_xo_np),
        (lambda d: metrohash64_1_py(d, 0), _metro64_np),
        (lambda d: wyhash_py(d, 0), _wyhash_np),
    ):
        got = npf(data)
        exp = np.array([py(d) for d in data], dtype=np.uint64)
        mism = np.where(got != exp)[0]
        assert mism.size == 0, [len(data[i]) for i in mism[:10]]


# ---------------------------------------------------------------------------
# Spark dispatch: typed inputs, combines, NULL
# ---------------------------------------------------------------------------

def test_spark_typed_dispatch(spark):
    df = spark.createDataFrame(
        [("clickhouse", "x", 42, 1.5), (None, "y", -7, 0.25)],
        "s string, t string, k long, f double",
    )
    row, row_null = df.select(
        ch("farmHash64", F.col("s")).alias("farm"),
        ch("farmFingerprint64", F.col("s")).alias("fp"),
        ch("metroHash64", F.col("s")).alias("metro"),
        ch("wyHash64", F.col("s")).alias("wy"),
        ch("xxh3", F.col("s")).alias("x3"),
        ch("wyHash64", F.col("s"), F.col("t")).alias("wy2"),
        ch("farmHash64", F.col("s"), F.col("t")).alias("farm2"),
        ch("farmHash64", F.col("k")).alias("farm_pod"),
        ch("cityHash64", F.col("k")).alias("city_pod"),
        ch("xxh3", F.col("k")).alias("x3_pod"),
        ch("xxh3", F.col("f")).alias("x3_f"),
    ).collect()

    b = b"clickhouse"
    assert row.farm == as_i64(farmhash_xo_py(b))
    assert row.fp == as_i64(farmhash_na_py(b))
    assert row.metro == as_i64(metrohash64_1_py(b, 0))
    assert row.wy == as_i64(wyhash_py(b))
    assert row.x3 == as_i64(xxh3_64_py(b))
    # combines: Hash128to64 for farm, wyhash-concat for wy
    assert row.farm2 == as_i64(
        hash128to64_py(farmhash_xo_py(b"clickhouse"), farmhash_xo_py(b"x")))
    assert row.wy2 == as_i64(
        wyhash_combine_py(wyhash_py(b"clickhouse"), wyhash_py(b"x")))
    # use_int_hash_for_pods=true families share cityHash64's POD value
    assert row.farm_pod == row.city_pod == as_i64(inthash64_py(42))
    # raw-LE-bytes families
    assert row.x3_pod == as_i64(xxh3_64_py((42).to_bytes(8, "little")))
    import struct
    assert row.x3_f == as_i64(xxh3_64_py(struct.pack("<d", 1.5)))
    # NULL → NULL (and NULL poisons multi-arg)
    assert row_null.farm is None and row_null.wy is None
    assert row_null.x3 is None and row_null.wy2 is None and row_null.farm2 is None
