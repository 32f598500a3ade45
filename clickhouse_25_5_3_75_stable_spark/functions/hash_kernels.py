"""Byte kernels of every ClickHouse hash function (FunctionsHashing.h).

Each algorithm exists twice: a scalar ``*_py`` transcription of the
published algorithm (the validation reference) and a numpy batch
kernel that hashes a whole Arrow batch at once (the execution path
inside the pandas UDFs of functions/hashing.py). The batch kernels pad
every row into one byte matrix and run masked block loops across rows,
so the Python loop is over block positions, never over rows. Scalar
and batch paths are cross-validated per length class in the tests.

All algorithms are public: SipHash (paper), CityHash v1.0.2 and
FarmHash (Google, MIT), MetroHash (Apache-2.0), wyhash final 3 (public
domain), xxHash/XXH3 (BSD-2), MurmurHash (public domain), Java's
String.hashCode (JLS), MD5 (RFC 1321), jump consistent hash
(arXiv:1406.2294). Validation beyond the scalar/batch agreement:

- sipHash64/128: the SipHash paper's vectors; the official 128-bit
  output against the reference implementation's vectors_sip128.
- cityHash64: the algebraically forced ``CityHash64("") == k2`` and
  pinned fixtures (the reference snapshot ships no vector table).
- xxHash64/xxHash32/xxh3: published anchors; XXH3 byte-for-byte against
  the system libxxhash over lengths 0..10000 when it is present.
- farmFingerprint64: Guava's ``farmHashFingerprint64`` fixtures.
  farmHash64 is CPU-dispatched upstream (farmhashte on x86-64+SSE4.1,
  farmhashxo elsewhere); we pin the portable farmhashxo::Hash64. Its
  xo-only branches (33..96 bytes) and the uo branch (>256) have no
  independent anchor, so pinned oracle vectors stay <=256 bytes.
- metroHash64: the published metrohash64_1 verification vector.
- wyHash64: the seven published final-3 vectors and the ClickHouse
  documentation example wyHash64('ClickHouse').
- murmurHash3_32/64/128, javaHash: published anchors; javaHash against
  the live JVM's String.hashCode.
"""

from __future__ import annotations

import numpy as np

_M64 = (1 << 64) - 1
_M32 = (1 << 32) - 1
_U = np.uint64
_U32 = np.uint32


# ===========================================================================
# Shared primitives
# ===========================================================================


def _rotl(v: int, s: int) -> int:
    return ((v << s) | (v >> (64 - s))) & _M64


def _rotr(v: int, s: int) -> int:
    return ((v >> s) | (v << (64 - s))) & _M64


def _rotl32(v: int, s: int) -> int:
    return ((v << s) | (v >> (32 - s))) & _M32


def _fetch64(s: bytes, i: int) -> int:
    return int.from_bytes(s[i : i + 8], "little")


def _fetch32(s: bytes, i: int) -> int:
    return int.from_bytes(s[i : i + 4], "little")


def _shift_mix(v: int) -> int:
    return (v ^ (v >> 47)) & _M64


K_MUL = 0x9DDFEA08EB382D69


def hash128to64_py(lo: int, hi: int, mul: int = K_MUL) -> int:
    """CityHash's Hash128to64 — the combine of cityHash64, xxHash64,
    farm*, metroHash64 and xxh3 (FunctionsHashing.h:621: uint128(h1, h2)
    with first=low, second=high). FarmHash's HashLen16(u, v, mul) is the
    same mix with a caller multiplier."""
    a = ((lo ^ hi) * mul) & _M64
    a ^= a >> 47
    b = ((hi ^ a) * mul) & _M64
    b ^= b >> 47
    return (b * mul) & _M64


def _weak32_at(s: bytes, i: int, a: int, b: int) -> tuple[int, int]:
    """WeakHashLen32WithSeeds over the 32 bytes at ``s[i:]``."""
    w, x, y, z = _fetch64(s, i), _fetch64(s, i + 8), _fetch64(s, i + 16), _fetch64(s, i + 24)
    a = (a + w) & _M64
    b = _rotr((b + a + z) & _M64, 21)
    c = a
    a = (a + x + y) & _M64
    b = (b + _rotr(a, 44)) & _M64
    return (a + z) & _M64, (b + c) & _M64


def _fmix64(k: int) -> int:
    """MurmurHash3's 64-bit finalizer (Common/HashTable/Hash.h:27)."""
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _M64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _M64
    k ^= k >> 33
    return k


_IH64_SALT = 0x4CF2D2BAAE6DA887
_IH32_SALT = 0x75D9543DE018BF45


def inthash64_py(x: int) -> int:
    """intHash64 (IntHash64Impl:184): the MurmurHash3 finalizer of
    ``x ^ 0x4CF2D2BAAE6DA887``. It is also the POD path of every hash
    with use_int_hash_for_pods=true (cityHash64, farm*, metroHash64:
    FunctionsHashing.h:623), applied to the ZERO-extended bit_cast of
    the value (base/bit_cast.h: Int8(-1) → 255), while the SQL
    intHash64 function SIGN-extends (FunctionsHashing.h:753)."""
    return _fmix64((x ^ _IH64_SALT) & _M64)


def inthash32_py(x: int) -> int:
    """intHash32 (Common/HashTable/Hash.h:499, salt per
    IntHash32Impl:180): salted Wang mix, UInt32 result."""
    key = (x ^ _IH32_SALT) & _M64
    key = ((~key & _M64) + ((key << 18) & _M64)) & _M64
    key ^= ((key >> 31) | (key << 33)) & _M64
    key = (key * 21) & _M64
    key ^= ((key >> 11) | (key << 53)) & _M64
    key = (key + ((key << 6) & _M64)) & _M64
    key ^= ((key >> 22) | (key << 42)) & _M64
    return key & 0xFFFFFFFF


def _mul128_fold64(a, b):
    p = a * b
    return ((p & _M64) ^ (p >> 64)) & _M64


def _byte_matrix(data: list[bytes]):
    """One zero-padded uint8 row per input (16 bytes of slack so
    clamped fetches stay in bounds) and the row lengths."""
    n_rows = len(data)
    lens = np.fromiter((len(d) for d in data), dtype=np.int64, count=n_rows)
    width = max(int(lens.max(initial=0)), 8) + 16
    buf = np.zeros((n_rows, width), dtype=np.uint8)
    for i, d in enumerate(data):
        if d:
            buf[i, : len(d)] = np.frombuffer(d, dtype=np.uint8)
    return buf, lens


def _np_fetch(buf, rows, offs, nbytes):
    """Little-endian fetch of `nbytes` at per-row offsets `offs`."""
    idx = offs[:, None].astype(np.int64) + np.arange(nbytes)[None, :]
    b = buf[rows[:, None], idx].astype(np.uint64)
    out = np.zeros(len(rows), dtype=np.uint64)
    for i in range(nbytes):
        out |= b[:, i] << _U(8 * i)
    return out


def _np_fetch_tail(buf, rows, offs, counts):
    """LE integer of a variable 0..15-byte tail per row."""
    maxb = int(counts.max(initial=0))
    out = np.zeros(len(rows), dtype=np.uint64)
    if maxb == 0:
        return out
    idx = offs[:, None].astype(np.int64) + np.arange(maxb)[None, :]
    np.clip(idx, 0, buf.shape[1] - 1, out=idx)
    b = buf[rows[:, None], idx].astype(np.uint64)
    for i in range(maxb):
        out |= np.where(i < counts, b[:, i], _U(0)) << _U(8 * i)
    return out


def _np_rotl(v, s: int):
    return (v << _U(s)) | (v >> _U(64 - s))


def _np_rotr(v, s):
    """Rotate right by a scalar or a per-row shift array."""
    s = _U(s) if np.isscalar(s) or isinstance(s, int) else s.astype(np.uint64)
    return (v >> s) | (v << (_U(64) - s))


def _np_rotl32(v, s: int):
    return (v << _U32(s)) | (v >> _U32(32 - s))


def _np_shift_mix(v):
    return v ^ (v >> _U(47))


def _np_hash128to64(lo, hi, mul=_U(K_MUL)):
    a = (lo ^ hi) * mul
    a = a ^ (a >> _U(47))
    b = (hi ^ a) * mul
    b = b ^ (b >> _U(47))
    return b * mul


def _np_weak32(w, x, y, z, a, b):
    a = a + w
    b = _np_rotr(b + a + z, 21)
    c = a.copy()
    a = a + x + y
    b = b + _np_rotr(a, 44)
    return a + z, b + c


def _np_weak32_at(buf, rows, offs, a, b):
    return _np_weak32(
        _np_fetch(buf, rows, offs, 8),
        _np_fetch(buf, rows, offs + 8, 8),
        _np_fetch(buf, rows, offs + 16, 8),
        _np_fetch(buf, rows, offs + 24, 8),
        a,
        b,
    )


def _np_fmix64(k):
    k = k ^ (k >> _U(33))
    k = k * _U(0xFF51AFD7ED558CCD)
    k = k ^ (k >> _U(33))
    k = k * _U(0xC4CEB9FE1A85EC53)
    k = k ^ (k >> _U(33))
    return k


def _np_inthash64(x: np.ndarray) -> np.ndarray:
    return _np_fmix64(x ^ _U(_IH64_SALT))


def _np_inthash32(x: np.ndarray) -> np.ndarray:
    key = x ^ _U(_IH32_SALT)
    key = (~key) + (key << _U(18))
    key = key ^ ((key >> _U(31)) | (key << _U(33)))
    key = key * _U(21)
    key = key ^ ((key >> _U(11)) | (key << _U(53)))
    key = key + (key << _U(6))
    key = key ^ ((key >> _U(22)) | (key << _U(42)))
    return key & _U(0xFFFFFFFF)


def _np_mulhi64(a, b):
    m32 = _U(0xFFFFFFFF)
    ah, al = a >> _U(32), a & m32
    bh, bl = b >> _U(32), b & m32
    lo_lo = al * bl
    hi_lo = ah * bl
    lo_hi = al * bh
    cross = (lo_lo >> _U(32)) + (hi_lo & m32) + lo_hi
    return (hi_lo >> _U(32)) + (cross >> _U(32)) + ah * bh


def _np_mul128_fold64(a, b):
    return (a * b) ^ _np_mulhi64(a, b)


def _le128(lo: np.ndarray, hi: np.ndarray) -> list[bytes]:
    """16-byte outputs as FixedString(16) memory: lo LE ++ hi LE."""
    lo_b = lo.astype("<u8").view(np.uint8).reshape(-1, 8)
    hi_b = hi.astype("<u8").view(np.uint8).reshape(-1, 8)
    both = np.concatenate([lo_b, hi_b], axis=1)
    return [bytes(row) for row in both]


# ===========================================================================
# SipHash-2-4 (src/Common/SipHash.h): the canonical algorithm of the
# public spec with key (0, 0) — same init constants, 2+4 rounds,
# final-word padding (remaining bytes low, length mod 256 in the top
# byte) and 0xff finalization. sipHash128 is the LEGACY get128 output
# (v0^v1, v2^v3); sipHash128Reference the official 128-bit output.
# ===========================================================================


def _sip_rounds(v, n: int):
    v0, v1, v2, v3 = v
    for _ in range(n):
        v0 = (v0 + v1) & _M64
        v1 = _rotl(v1, 13) ^ v0
        v0 = _rotl(v0, 32)
        v2 = (v2 + v3) & _M64
        v3 = _rotl(v3, 16) ^ v2
        v0 = (v0 + v3) & _M64
        v3 = _rotl(v3, 21) ^ v0
        v2 = (v2 + v1) & _M64
        v1 = _rotl(v1, 17) ^ v2
        v2 = _rotl(v2, 32)
    return v0, v1, v2, v3


def _sip_state_py(
    data: bytes, ref128: bool, k0: int = 0, k1: int = 0
) -> tuple[int, int, int, int]:
    v = (
        0x736F6D6570736575 ^ k0,
        (0x646F72616E646F6D ^ k1) ^ (0xEE if ref128 else 0),
        0x6C7967656E657261 ^ k0,
        0x7465646279746573 ^ k1,
    )
    n = len(data)
    last = data[n - n % 8:] + b"\x00" * (7 - n % 8) + bytes([n % 256])
    words = [data[off:off + 8] for off in range(0, n - n % 8, 8)] + [last]
    for w in words:
        m = int.from_bytes(w, "little")
        v0, v1, v2, v3 = _sip_rounds((v[0], v[1], v[2], v[3] ^ m), 2)
        v = (v0 ^ m, v1, v2, v3)
    v0, v1, v2, v3 = v
    return _sip_rounds((v0, v1, v2 ^ (0xEE if ref128 else 0xFF), v3), 4)


def siphash64_py(data: bytes, k0: int = 0, k1: int = 0) -> int:
    """Scalar SipHash-2-4 (validated against the paper's vectors)."""
    v0, v1, v2, v3 = _sip_state_py(data, ref128=False, k0=k0, k1=k1)
    return (v0 ^ v1 ^ v2 ^ v3) & _M64


def siphash128_keyed_py(k0: int, k1: int, data: bytes) -> bytes:
    """sipHash128Keyed: the CH-legacy get128 output ((v0^v1, v2^v3) as
    16 LE bytes, Common/SipHash.h:192) with a caller key
    (FunctionsHashing.h:306 applyKeyed -> SipHash.h:226)."""
    v = _sip_state_py(data, ref128=False, k0=k0, k1=k1)
    lo = (v[0] ^ v[1]) & _M64
    hi = (v[2] ^ v[3]) & _M64
    return lo.to_bytes(8, "little") + hi.to_bytes(8, "little")


def siphash128_reference_keyed_py(k0: int, k1: int, data: bytes) -> bytes:
    """sipHash128ReferenceKeyed: the OFFICIAL SipHash-2-4 128-bit output
    (SipHash.cpp:9 get128Reference: v1^=0xee at init, 0xee finalize,
    lo = xor-all, then v1^=0xdd + 4 rounds for hi) with a caller key
    (FunctionsHashing.h:342)."""
    v0, v1, v2, v3 = _sip_state_py(data, ref128=True, k0=k0, k1=k1)
    lo = (v0 ^ v1 ^ v2 ^ v3) & _M64
    v0, v1, v2, v3 = _sip_rounds((v0, v1 ^ 0xDD, v2, v3), 4)
    hi = (v0 ^ v1 ^ v2 ^ v3) & _M64
    return lo.to_bytes(8, "little") + hi.to_bytes(8, "little")


def siphash128_py(data: bytes) -> bytes:
    """ClickHouse's LEGACY sipHash128 (NOT the official SipHash-128)."""
    return siphash128_keyed_py(0, 0, data)


def siphash128_reference_py(data: bytes) -> bytes:
    """The official SipHash-2-4 128-bit output (sipHash128Reference)."""
    return siphash128_reference_keyed_py(0, 0, data)


def _np_sip_rounds(v0, v1, v2, v3, k: int):
    for _ in range(k):
        v0 = v0 + v1
        v1 = _np_rotl(v1, 13) ^ v0
        v0 = _np_rotl(v0, 32)
        v2 = v2 + v3
        v3 = _np_rotl(v3, 16) ^ v2
        v0 = v0 + v3
        v3 = _np_rotl(v3, 21) ^ v0
        v2 = v2 + v1
        v1 = _np_rotl(v1, 17) ^ v2
        v2 = _np_rotl(v2, 32)
    return v0, v1, v2, v3


def _sip_state_np(data: list[bytes], ref128: bool):
    n = len(data)
    lens = np.fromiter((len(b) for b in data), dtype=np.int64, count=n)
    full_words = lens // 8
    max_full = int(full_words.max()) if n else 0
    width = (max_full + 1) * 8
    buf = np.zeros((n, width), dtype=np.uint8)
    for i, b in enumerate(data):
        buf[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    # bytes past each string's length are already zero (buf started
    # zeroed); stamp the final word's top byte with len % 256
    rows = np.arange(n)
    buf[rows, full_words * 8 + 7] = (lens % 256).astype(np.uint8)
    words = buf.view("<u8").reshape(n, max_full + 1)

    v0 = np.full(n, 0x736F6D6570736575, dtype=np.uint64)
    v1 = np.full(n, 0x646F72616E646F6D ^ (0xEE if ref128 else 0), dtype=np.uint64)
    v2 = np.full(n, 0x6C7967656E657261, dtype=np.uint64)
    v3 = np.full(n, 0x7465646279746573, dtype=np.uint64)

    for w in range(max_full):
        active = w < full_words
        m = np.where(active, words[:, w], np.uint64(0))
        s0, s1, s2, s3 = v0.copy(), v1.copy(), v2.copy(), v3.copy()
        v0, v1, v2, v3 = _np_sip_rounds(v0, v1, v2, v3 ^ m, 2)
        v0 = v0 ^ m
        v0 = np.where(active, v0, s0)
        v1 = np.where(active, v1, s1)
        v2 = np.where(active, v2, s2)
        v3 = np.where(active, v3, s3)

    m = words[rows, full_words]
    v0, v1, v2, v3 = _np_sip_rounds(v0, v1, v2, v3 ^ m, 2)
    v0 = v0 ^ m
    v2 = v2 ^ np.uint64(0xEE if ref128 else 0xFF)
    return _np_sip_rounds(v0, v1, v2, v3, 4)


def _siphash64_np(data: list[bytes]) -> np.ndarray:
    """Vectorized zero-key SipHash-2-4 of a batch of byte strings."""
    v0, v1, v2, v3 = _sip_state_np(data, ref128=False)
    return v0 ^ v1 ^ v2 ^ v3


def _siphash128_np(data: list[bytes]) -> list[bytes]:
    """Vectorized CH-legacy sipHash128 (get128: lo=v0^v1, hi=v2^v3)."""
    v0, v1, v2, v3 = _sip_state_np(data, ref128=False)
    return _le128(v0 ^ v1, v2 ^ v3)


def _siphash128_reference_np(data: list[bytes]) -> list[bytes]:
    """Vectorized official SipHash-2-4-128 (get128Reference)."""
    v0, v1, v2, v3 = _sip_state_np(data, ref128=True)
    lo = v0 ^ v1 ^ v2 ^ v3
    v0, v1, v2, v3 = _np_sip_rounds(v0, v1 ^ np.uint64(0xDD), v2, v3, 4)
    return _le128(lo, v0 ^ v1 ^ v2 ^ v3)


# ===========================================================================
# CityHash64 v1.0.2 (FunctionsHashing.h:619-622 uses
# CityHash_v1_0_2::CityHash64; the reference pins that exact version for
# on-disk/sharding compatibility). The batch kernel partitions rows by
# length class; long rows run a masked 64-byte-chunk loop.
# ===========================================================================

K0 = 0xC3A5C85C97CB3127
K1 = 0xB492B66FBE98F273
K2 = 0x9AE16A3B2F90404F
K3 = 0xC949D7C7509E6557  # v1.0.x only (dropped in CityHash 1.1)


def _hash_len0to16(s: bytes) -> int:
    n = len(s)
    if n > 8:
        a = _fetch64(s, 0)
        b = _fetch64(s, n - 8)
        # RotateByAtLeast1(b + len, len) — len in (8, 16] so shift > 0
        return (hash128to64_py(a, _rotr((b + n) & _M64, n)) ^ b) & _M64
    if n >= 4:
        a = _fetch32(s, 0)
        return hash128to64_py((n + (a << 3)) & _M64, _fetch32(s, n - 4))
    if n > 0:
        a, b, c = s[0], s[n >> 1], s[n - 1]
        y = (a + (b << 8)) & 0xFFFFFFFF
        z = (n + (c << 2)) & 0xFFFFFFFF
        return (_shift_mix((y * K2 ^ z * K3) & _M64) * K2) & _M64
    return K2


def _hash_len17to32(s: bytes) -> int:
    n = len(s)
    a = (_fetch64(s, 0) * K1) & _M64
    b = _fetch64(s, 8)
    c = (_fetch64(s, n - 8) * K2) & _M64
    d = (_fetch64(s, n - 16) * K0) & _M64
    return hash128to64_py(
        (_rotr((a - b) & _M64, 43) + _rotr(c, 30) + d) & _M64,
        (a + _rotr(b ^ K3, 20) - c + n) & _M64,
    )


def _hash_len33to64(s: bytes) -> int:
    n = len(s)
    z = _fetch64(s, 24)
    a = (_fetch64(s, 0) + (n + _fetch64(s, n - 16)) * K0) & _M64
    b = _rotr((a + z) & _M64, 52)
    c = _rotr(a, 37)
    a = (a + _fetch64(s, 8)) & _M64
    c = (c + _rotr(a, 7)) & _M64
    a = (a + _fetch64(s, 16)) & _M64
    vf = (a + z) & _M64
    vs = (b + _rotr(a, 31) + c) & _M64
    a = (_fetch64(s, 16) + _fetch64(s, n - 32)) & _M64
    z = _fetch64(s, n - 8)
    b = _rotr((a + z) & _M64, 52)
    c = _rotr(a, 37)
    a = (a + _fetch64(s, n - 24)) & _M64
    c = (c + _rotr(a, 7)) & _M64
    a = (a + _fetch64(s, n - 16)) & _M64
    wf = (a + z) & _M64
    ws = (b + _rotr(a, 31) + c) & _M64
    r = _shift_mix(((vf + ws) * K2 + (wf + vs) * K0) & _M64)
    return (_shift_mix((r * K0 + vs) & _M64) * K2) & _M64


def cityhash64_py(s: bytes) -> int:
    """CityHash64 (v1.0.2) of a byte string — imperative reference."""
    n = len(s)
    if n <= 16:
        return _hash_len0to16(s)
    if n <= 32:
        return _hash_len17to32(s)
    if n <= 64:
        return _hash_len33to64(s)

    x = _fetch64(s, 0)
    y = _fetch64(s, n - 16) ^ K1
    z = _fetch64(s, n - 56) ^ K0
    v = _weak32_at(s, n - 64, n, y)
    w = _weak32_at(s, n - 32, (n * K1) & _M64, K0)
    z = (z + _shift_mix(v[1]) * K1) & _M64
    x = (_rotr((z + x) & _M64, 39) * K1) & _M64
    y = (_rotr(y, 33) * K1) & _M64

    m = (n - 1) & ~63
    pos = 0
    while True:
        x = (_rotr((x + y + v[0] + _fetch64(s, pos + 16)) & _M64, 37) * K1) & _M64
        y = (_rotr((y + v[1] + _fetch64(s, pos + 48)) & _M64, 42) * K1) & _M64
        x ^= w[1]
        y ^= v[0]
        z = _rotr(z ^ w[0], 33)
        v = _weak32_at(s, pos, (v[1] * K1) & _M64, (x + w[0]) & _M64)
        w = _weak32_at(s, pos + 32, (z + w[1]) & _M64, y)
        z, x = x, z
        pos += 64
        m -= 64
        if m == 0:
            break
    return hash128to64_py(
        (hash128to64_py(v[0], w[0]) + _shift_mix(y) * K1 + z) & _M64,
        (hash128to64_py(v[1], w[1]) + x) & _M64,
    )


def _cityhash64_np(data: list[bytes]) -> np.ndarray:
    n_rows = len(data)
    out = np.zeros(n_rows, dtype=np.uint64)
    if n_rows == 0:
        return out
    buf, lens = _byte_matrix(data)

    k0, k1, k2, k3 = _U(K0), _U(K1), _U(K2), _U(K3)

    def fetch64(rows, offs):
        return _np_fetch(buf, rows, offs, 8)

    def fetch32(rows, offs):
        return _np_fetch(buf, rows, offs, 4)

    # --- length 0 ---
    out[lens == 0] = k2

    # --- length 1-3 ---
    rows = np.nonzero((lens >= 1) & (lens <= 3))[0]
    if rows.size:
        ln = lens[rows]
        a = buf[rows, 0].astype(np.uint64)
        b = buf[rows, ln >> 1].astype(np.uint64)
        c = buf[rows, ln - 1].astype(np.uint64)
        y = (a + (b << _U(8))) & _U(0xFFFFFFFF)
        z = (ln.astype(np.uint64) + (c << _U(2))) & _U(0xFFFFFFFF)
        out[rows] = _np_shift_mix((y * k2) ^ (z * k3)) * k2

    # --- length 4-8 ---
    rows = np.nonzero((lens >= 4) & (lens <= 8))[0]
    if rows.size:
        ln = lens[rows].astype(np.uint64)
        a = fetch32(rows, lens[rows] * 0)
        out[rows] = _np_hash128to64(ln + (a << _U(3)), fetch32(rows, lens[rows] - 4))

    # --- length 9-16 ---
    rows = np.nonzero((lens >= 9) & (lens <= 16))[0]
    if rows.size:
        ln = lens[rows].astype(np.uint64)
        a = fetch64(rows, lens[rows] * 0)
        b = fetch64(rows, lens[rows] - 8)
        out[rows] = _np_hash128to64(a, _np_rotr(b + ln, lens[rows])) ^ b

    # --- length 17-32 ---
    rows = np.nonzero((lens >= 17) & (lens <= 32))[0]
    if rows.size:
        ln = lens[rows].astype(np.uint64)
        a = fetch64(rows, lens[rows] * 0) * k1
        b = fetch64(rows, lens[rows] * 0 + 8)
        c = fetch64(rows, lens[rows] - 8) * k2
        d = fetch64(rows, lens[rows] - 16) * k0
        out[rows] = _np_hash128to64(
            _np_rotr(a - b, 43) + _np_rotr(c, 30) + d,
            a + _np_rotr(b ^ k3, 20) - c + ln,
        )

    # --- length 33-64 ---
    rows = np.nonzero((lens >= 33) & (lens <= 64))[0]
    if rows.size:
        ln = lens[rows].astype(np.uint64)
        zero = lens[rows] * 0
        z = fetch64(rows, zero + 24)
        a = fetch64(rows, zero) + (ln + fetch64(rows, lens[rows] - 16)) * k0
        b = _np_rotr(a + z, 52)
        c = _np_rotr(a, 37)
        a = a + fetch64(rows, zero + 8)
        c = c + _np_rotr(a, 7)
        a = a + fetch64(rows, zero + 16)
        vf = a + z
        vs = b + _np_rotr(a, 31) + c
        a = fetch64(rows, zero + 16) + fetch64(rows, lens[rows] - 32)
        z = fetch64(rows, lens[rows] - 8)
        b = _np_rotr(a + z, 52)
        c = _np_rotr(a, 37)
        a = a + fetch64(rows, lens[rows] - 24)
        c = c + _np_rotr(a, 7)
        a = a + fetch64(rows, lens[rows] - 16)
        wf = a + z
        ws = b + _np_rotr(a, 31) + c
        r = _np_shift_mix((vf + ws) * k2 + (wf + vs) * k0)
        out[rows] = _np_shift_mix(r * k0 + vs) * k2

    # --- length > 64: masked 64-byte chunk loop ---
    rows = np.nonzero(lens > 64)[0]
    if rows.size:
        ln_i = lens[rows]
        ln = ln_i.astype(np.uint64)
        zero = ln_i * 0
        x = fetch64(rows, zero)
        y = fetch64(rows, ln_i - 16) ^ k1
        z = fetch64(rows, ln_i - 56) ^ k0

        v0, v1 = _np_weak32_at(buf, rows, ln_i - 64, ln, y)
        w0, w1 = _np_weak32_at(buf, rows, ln_i - 32, ln * k1,
                               np.full(rows.size, k0, dtype=np.uint64))
        z = z + _np_shift_mix(v1) * k1
        x = _np_rotr(z + x, 39) * k1
        y = _np_rotr(y, 33) * k1

        remaining = (ln_i - 1) & ~np.int64(63)
        pos = zero.copy()
        max_iters = int(remaining.max()) // 64
        for _ in range(max_iters):
            active = remaining > 0
            # clamp offsets for exhausted rows (reads discarded by mask)
            p = np.where(active, pos, 0)
            nx = _np_rotr(x + y + v0 + fetch64(rows, p + 16), 37) * k1
            ny = _np_rotr(y + v1 + fetch64(rows, p + 48), 42) * k1
            nx = nx ^ w1
            ny = ny ^ v0
            nz = _np_rotr(z ^ w0, 33)
            nv0, nv1 = _np_weak32_at(buf, rows, p, v1 * k1, nx + w0)
            nw0, nw1 = _np_weak32_at(buf, rows, p + 32, nz + w1, ny)
            # swap(z, x) after the updates
            x_new, z_new = nz, nx
            x = np.where(active, x_new, x)
            y = np.where(active, ny, y)
            z = np.where(active, z_new, z)
            v0 = np.where(active, nv0, v0)
            v1 = np.where(active, nv1, v1)
            w0 = np.where(active, nw0, w0)
            w1 = np.where(active, nw1, w1)
            pos = np.where(active, pos + 64, pos)
            remaining = np.where(active, remaining - 64, remaining)
        out[rows] = _np_hash128to64(
            _np_hash128to64(v0, w0) + _np_shift_mix(y) * k1 + z,
            _np_hash128to64(v1, w1) + x,
        )

    return out


# ===========================================================================
# XXH64 (seed 0), MurmurHash64A (murmurHash2_64, gccMurmurHash) and
# MurmurHash3_x64_128 (murmurHash3_64 = low64 ^ high64,
# MurmurHash3Impl64:486; murmurHash3_128 = the full 16 bytes).
# ===========================================================================

_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5


def _xxh64_avalanche(h):
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    return h ^ (h >> 32)


def _np_xxh64_avalanche(h):
    h = h ^ (h >> _U(33))
    h = h * _U(_P64_2)
    h = h ^ (h >> _U(29))
    h = h * _U(_P64_3)
    return h ^ (h >> _U(32))


def xxh64_py(data: bytes, seed: int = 0) -> int:
    n = len(data)

    def xround(acc, inp):
        acc = (acc + inp * _P64_2) & _M64
        return (_rotl(acc, 31) * _P64_1) & _M64

    def merge(h, v):
        h ^= xround(0, v)
        return (h * _P64_1 + _P64_4) & _M64

    i = 0
    if n >= 32:
        v1 = (seed + _P64_1 + _P64_2) & _M64
        v2 = (seed + _P64_2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P64_1) & _M64
        while i + 32 <= n:
            v1 = xround(v1, _fetch64(data, i))
            v2 = xround(v2, _fetch64(data, i + 8))
            v3 = xround(v3, _fetch64(data, i + 16))
            v4 = xround(v4, _fetch64(data, i + 24))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = merge(h, v1)
        h = merge(h, v2)
        h = merge(h, v3)
        h = merge(h, v4)
    else:
        h = (seed + _P64_5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= xround(0, _fetch64(data, i))
        h = (_rotl(h, 27) * _P64_1 + _P64_4) & _M64
        i += 8
    if i + 4 <= n:
        h = (h ^ (_fetch32(data, i) * _P64_1)) & _M64
        h = (_rotl(h, 23) * _P64_2 + _P64_3) & _M64
        i += 4
    while i < n:
        h = (h ^ (data[i] * _P64_5)) & _M64
        h = (_rotl(h, 11) * _P64_1) & _M64
        i += 1
    return _xxh64_avalanche(h)


_MM = 0xC6A4A7935BD1E995
_GCC_SEED = 0xC70F6907  # libstdc++'s _Hash_bytes seed (GccMurmurHashImpl:409)


def murmur2_64a_py(data: bytes, seed: int = 0) -> int:
    n = len(data)
    h = (seed ^ ((n * _MM) & _M64)) & _M64
    nblocks = n // 8
    for b in range(nblocks):
        k = _fetch64(data, b * 8)
        k = (k * _MM) & _M64
        k ^= k >> 47
        k = (k * _MM) & _M64
        h = ((h ^ k) * _MM) & _M64
    tail = data[nblocks * 8 :]
    if tail:
        h ^= int.from_bytes(tail, "little")
        h = (h * _MM) & _M64
    h ^= h >> 47
    h = (h * _MM) & _M64
    h ^= h >> 47
    return h


def gcc_murmur_py(data: bytes) -> int:
    return murmur2_64a_py(data, _GCC_SEED)


_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


def murmur3_x64_128_py(data: bytes, seed: int = 0) -> tuple[int, int]:
    n = len(data)
    h1 = h2 = seed & _M64
    nblocks = n // 16
    for b in range(nblocks):
        k1 = _fetch64(data, b * 16)
        k2 = _fetch64(data, b * 16 + 8)
        k1 = (_rotl((k1 * _C1) & _M64, 31) * _C2) & _M64
        h1 ^= k1
        h1 = ((_rotl(h1, 27) + h2) * 5 + 0x52DCE729) & _M64
        k2 = (_rotl((k2 * _C2) & _M64, 33) * _C1) & _M64
        h2 ^= k2
        h2 = ((_rotl(h2, 31) + h1) * 5 + 0x38495AB5) & _M64
    tail = data[nblocks * 16 :]
    k1 = int.from_bytes(tail[:8], "little") if tail[:8] else 0
    k2 = int.from_bytes(tail[8:], "little") if tail[8:] else 0
    if len(tail) > 8:
        k2 = (_rotl((k2 * _C2) & _M64, 33) * _C1) & _M64
        h2 ^= k2
    if tail:
        k1 = (_rotl((k1 * _C1) & _M64, 31) * _C2) & _M64
        h1 ^= k1
    h1 = (h1 ^ n) & _M64
    h2 = (h2 ^ n) & _M64
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    return h1, h2


def murmur3_64_py(data: bytes) -> int:
    h1, h2 = murmur3_x64_128_py(data)
    return h1 ^ h2


def _xxh64_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    p1, p2, p3, p4, p5 = (_U(_P64_1), _U(_P64_2), _U(_P64_3), _U(_P64_4), _U(_P64_5))

    def xround(acc, inp):
        return _np_rotl(acc + inp * p2, 31) * p1

    h = np.full(n_rows, _U(_P64_5), dtype=np.uint64)  # seed 0 short path
    long = lens >= 32
    if long.any():
        v1 = np.full(n_rows, (0 + _P64_1 + _P64_2) & _M64, dtype=np.uint64)
        v2 = np.full(n_rows, _P64_2, dtype=np.uint64)
        v3 = np.zeros(n_rows, dtype=np.uint64)
        v4 = np.full(n_rows, (0 - _P64_1) & _M64, dtype=np.uint64)
        pos = np.zeros(n_rows, dtype=np.int64)
        nblk = (lens // 32) * (lens >= 32)
        for _ in range(int(nblk.max(initial=0))):
            active = pos // 32 < nblk
            p = np.where(active, pos, 0)
            nv1 = xround(v1, _np_fetch(buf, rows, p, 8))
            nv2 = xround(v2, _np_fetch(buf, rows, p + 8, 8))
            nv3 = xround(v3, _np_fetch(buf, rows, p + 16, 8))
            nv4 = xround(v4, _np_fetch(buf, rows, p + 24, 8))
            v1 = np.where(active, nv1, v1)
            v2 = np.where(active, nv2, v2)
            v3 = np.where(active, nv3, v3)
            v4 = np.where(active, nv4, v4)
            pos = np.where(active, pos + 32, pos)
        hl = _np_rotl(v1, 1) + _np_rotl(v2, 7) + _np_rotl(v3, 12) + _np_rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            hl = (hl ^ xround(np.zeros_like(v), v)) * p1 + p4
        h = np.where(long, hl, h)
    h = h + lens.astype(np.uint64)

    # tail: up to three 8-byte words, one 4-byte word, then bytes
    i = (lens // 32) * 32 * (lens >= 32)
    for _ in range(3):
        take = i + 8 <= lens
        if not take.any():
            break
        p = np.where(take, i, 0)
        k = xround(np.zeros(n_rows, dtype=np.uint64), _np_fetch(buf, rows, p, 8))
        h = np.where(take, _np_rotl(h ^ k, 27) * p1 + p4, h)
        i = np.where(take, i + 8, i)
    take = i + 4 <= lens
    if take.any():
        p = np.where(take, i, 0)
        k = _np_fetch(buf, rows, p, 4)
        h = np.where(take, _np_rotl(h ^ (k * p1), 23) * p2 + p3, h)
        i = np.where(take, i + 4, i)
    for _ in range(3):
        take = i < lens
        if not take.any():
            break
        p = np.where(take, i, 0)
        byte = buf[rows, p].astype(np.uint64)
        h = np.where(take, _np_rotl(h ^ (byte * p5), 11) * p1, h)
        i = np.where(take, i + 1, i)
    return _np_xxh64_avalanche(h)


def _murmur2_64a_np(data: list[bytes], seed: int = 0) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    m = _U(_MM)
    h = _U(seed) ^ (lens.astype(np.uint64) * m)
    nblk = lens // 8
    pos = np.zeros(n_rows, dtype=np.int64)
    for _ in range(int(nblk.max(initial=0))):
        active = pos // 8 < nblk
        p = np.where(active, pos, 0)
        k = _np_fetch(buf, rows, p, 8)
        k = k * m
        k = k ^ (k >> _U(47))
        k = k * m
        h = np.where(active, (h ^ k) * m, h)
        pos = np.where(active, pos + 8, pos)
    tail_n = lens % 8
    tail = _np_fetch_tail(buf, rows, nblk * 8, tail_n)
    has_tail = tail_n > 0
    h = np.where(has_tail, (h ^ tail) * m, h)
    h = h ^ (h >> _U(47))
    h = h * m
    h = h ^ (h >> _U(47))
    return h


def _gcc_np(data: list[bytes]) -> np.ndarray:
    return _murmur2_64a_np(data, _GCC_SEED)


def _murmur3_state_np(data: list[bytes]):
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    c1, c2 = _U(_C1), _U(_C2)
    h1 = np.zeros(n_rows, dtype=np.uint64)
    h2 = np.zeros(n_rows, dtype=np.uint64)
    nblk = lens // 16
    pos = np.zeros(n_rows, dtype=np.int64)
    for _ in range(int(nblk.max(initial=0))):
        active = pos // 16 < nblk
        p = np.where(active, pos, 0)
        k1 = _np_fetch(buf, rows, p, 8)
        k2 = _np_fetch(buf, rows, p + 8, 8)
        k1 = _np_rotl(k1 * c1, 31) * c2
        nh1 = h1 ^ k1
        nh1 = (_np_rotl(nh1, 27) + h2) * _U(5) + _U(0x52DCE729)
        k2 = _np_rotl(k2 * c2, 33) * c1
        nh2 = h2 ^ k2
        nh2 = (_np_rotl(nh2, 31) + nh1) * _U(5) + _U(0x38495AB5)
        h1 = np.where(active, nh1, h1)
        h2 = np.where(active, nh2, h2)
        pos = np.where(active, pos + 16, pos)
    base = nblk * 16
    t_n = lens % 16
    k1 = _np_fetch_tail(buf, rows, base, np.minimum(t_n, 8))
    k2 = _np_fetch_tail(buf, rows, base + 8, np.maximum(t_n - 8, 0))
    gt8 = t_n > 8
    k2 = _np_rotl(k2 * c2, 33) * c1
    h2 = np.where(gt8, h2 ^ k2, h2)
    anyt = t_n > 0
    k1 = _np_rotl(k1 * c1, 31) * c2
    h1 = np.where(anyt, h1 ^ k1, h1)
    ln = lens.astype(np.uint64)
    h1 = h1 ^ ln
    h2 = h2 ^ ln
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _np_fmix64(h1)
    h2 = _np_fmix64(h2)
    h1 = h1 + h2
    h2 = h2 + h1
    return h1, h2


def _murmur3_64_np(data: list[bytes]) -> np.ndarray:
    h1, h2 = _murmur3_state_np(data)
    return h1 ^ h2


def _murmur3_128_np(data: list[bytes]) -> list[bytes]:
    """Full 16-byte MurmurHash3_x64_128 output (h1 LE ++ h2 LE — the
    reference's FixedString(16) memory layout, MurmurHash3Impl128)."""
    return _le128(*_murmur3_state_np(data))


# ===========================================================================
# FarmHash (farmhash.cc): farmhashna::Hash64 = Fingerprint64
# (farmFingerprint64, ImplFarmFingerprint64:628) and the portable
# farmhashxo::Hash64 (farmHash64, ImplFarmHash64:640; farmhashuo for
# inputs over 256 bytes). K0..K2 are CityHash's constants.
# ===========================================================================


def _na_len0to16(s, n):
    if n >= 8:
        mul = (K2 + n * 2) & _M64
        a = (_fetch64(s, 0) + K2) & _M64
        b = _fetch64(s, n - 8)
        c = (_rotr(b, 37) * mul + a) & _M64
        d = ((_rotr(a, 25) + b) * mul) & _M64
        return hash128to64_py(c, d, mul)
    if n >= 4:
        mul = (K2 + n * 2) & _M64
        return hash128to64_py((n + (_fetch32(s, 0) << 3)) & _M64, _fetch32(s, n - 4), mul)
    if n > 0:
        y = (s[0] + (s[n >> 1] << 8)) & _M64
        z = (n + (s[n - 1] << 2)) & _M64
        return (_shift_mix((y * K2 ^ z * K0) & _M64) * K2) & _M64
    return K2


def _na_len17to32(s, n):
    mul = (K2 + n * 2) & _M64
    a = (_fetch64(s, 0) * K1) & _M64
    b = _fetch64(s, 8)
    c = (_fetch64(s, n - 8) * mul) & _M64
    d = (_fetch64(s, n - 16) * K2) & _M64
    return hash128to64_py(
        (_rotr((a + b) & _M64, 43) + _rotr(c, 30) + d) & _M64,
        (a + _rotr((b + K2) & _M64, 18) + c) & _M64,
        mul,
    )


def _na_len33to64(s, n):
    mul = (K2 + n * 2) & _M64
    a = (_fetch64(s, 0) * K2) & _M64
    b = _fetch64(s, 8)
    c = (_fetch64(s, n - 8) * mul) & _M64
    d = (_fetch64(s, n - 16) * K2) & _M64
    y = (_rotr((a + b) & _M64, 43) + _rotr(c, 30) + d) & _M64
    z = hash128to64_py(y, (a + _rotr((b + K2) & _M64, 18) + c) & _M64, mul)
    e = (_fetch64(s, 16) * mul) & _M64
    f = _fetch64(s, 24)
    g = ((y + _fetch64(s, n - 32)) * mul) & _M64
    h = ((z + _fetch64(s, n - 24)) * mul) & _M64
    return hash128to64_py(
        (_rotr((e + f) & _M64, 43) + _rotr(g, 30) + h) & _M64,
        (e + _rotr((f + a) & _M64, 18) + g) & _M64,
        mul,
    )


def farmhash_na_py(s: bytes) -> int:
    """farmhashna::Hash64 — FarmHash Fingerprint64 (Guava-validated)."""
    n = len(s)
    if n <= 16:
        return _na_len0to16(s, n)
    if n <= 32:
        return _na_len17to32(s, n)
    if n <= 64:
        return _na_len33to64(s, n)
    seed = 81
    x = seed
    y = (seed * K1 + 113) & _M64
    z = (_shift_mix((y * K2 + 113) & _M64) * K2) & _M64
    v0 = v1 = w0 = w1 = 0
    x = (x * K2 + _fetch64(s, 0)) & _M64
    end = ((n - 1) // 64) * 64
    i = 0
    while True:
        x = (_rotr((x + y + v0 + _fetch64(s, i + 8)) & _M64, 37) * K1) & _M64
        y = (_rotr((y + v1 + _fetch64(s, i + 48)) & _M64, 42) * K1) & _M64
        x ^= w1
        y = (y + v0 + _fetch64(s, i + 40)) & _M64
        z = (_rotr((z + w0) & _M64, 33) * K1) & _M64
        v0, v1 = _weak32_at(s, i, (v1 * K1) & _M64, (x + w0) & _M64)
        w0, w1 = _weak32_at(s, i + 32, (z + w1) & _M64, (y + _fetch64(s, i + 16)) & _M64)
        z, x = x, z
        i += 64
        if i == end:
            break
    mul = (K1 + ((z & 0xFF) << 1)) & _M64
    i = n - 64
    w0 = (w0 + ((n - 1) & 63)) & _M64
    v0 = (v0 + w0) & _M64
    w0 = (w0 + v0) & _M64
    x = (_rotr((x + y + v0 + _fetch64(s, i + 8)) & _M64, 37) * mul) & _M64
    y = (_rotr((y + v1 + _fetch64(s, i + 48)) & _M64, 42) * mul) & _M64
    x ^= (w1 * 9) & _M64
    y = (y + v0 * 9 + _fetch64(s, i + 40)) & _M64
    z = (_rotr((z + w0) & _M64, 33) * mul) & _M64
    v0, v1 = _weak32_at(s, i, (v1 * mul) & _M64, (x + w0) & _M64)
    w0, w1 = _weak32_at(s, i + 32, (z + w1) & _M64, (y + _fetch64(s, i + 16)) & _M64)
    z, x = x, z
    return hash128to64_py(
        (hash128to64_py(v0, w0, mul) + _shift_mix(y) * K0 + z) & _M64,
        (hash128to64_py(v1, w1, mul) + x) & _M64,
        mul,
    )


def _xo_h32(s, i, ln, mul, seed0=0, seed1=0):
    a = (_fetch64(s, i) * K1) & _M64
    b = _fetch64(s, i + 8)
    c = (_fetch64(s, i + ln - 8) * mul) & _M64
    d = (_fetch64(s, i + ln - 16) * K2) & _M64
    u = (_rotr((a + b) & _M64, 43) + _rotr(c, 30) + d + seed0) & _M64
    v = (a + _rotr((b + K2) & _M64, 18) + c + seed1) & _M64
    a = _shift_mix(((u ^ v) * mul) & _M64)
    b = _shift_mix(((v ^ a) * mul) & _M64)
    return b


def _xo_len33to64(s, n):
    mul0 = (K2 - 30) & _M64
    mul1 = (K2 - 30 + 2 * n) & _M64
    h0 = _xo_h32(s, 0, 32, mul0)
    h1 = _xo_h32(s, n - 32, 32, mul1)
    return (((h1 * mul1) & _M64) + h0) * mul1 & _M64


def _xo_len65to96(s, n):
    mul0 = (K2 - 114) & _M64
    mul1 = (K2 - 114 + 2 * n) & _M64
    h0 = _xo_h32(s, 0, 32, mul0)
    h1 = _xo_h32(s, 32, 32, mul1)
    h2 = _xo_h32(s, n - 32, 32, mul1, h0, h1)
    return ((h2 * 9 + (h0 >> 17) + (h1 >> 21)) * mul1) & _M64


def _uo_h(x, y, mul, r):
    a = ((x ^ y) * mul) & _M64
    a = _shift_mix(a)
    b = ((y ^ a) * mul) & _M64
    return (_rotr(b, r) * mul) & _M64


def farmhash_uo_py(s: bytes) -> int:
    """farmhashuo::Hash64WithSeeds(s, len, 81, 0) for len > 64 — the
    >256 dispatch target of farmhashxo::Hash64 (no in-sandbox anchor)."""
    n = len(s)
    seed0, seed1 = 81, 0
    x = seed0
    y = (seed1 * K2 + 113) & _M64
    z = (_shift_mix((y * K2) & _M64) * K2) & _M64
    v0, v1 = seed0, seed1
    w0, w1 = 0, 0
    u = (x - z) & _M64
    x = (x * K2) & _M64
    mul = (K2 + (u & 0x82)) & _M64
    end = ((n - 1) // 64) * 64
    i = 0
    while True:
        a0 = _fetch64(s, i)
        a1 = _fetch64(s, i + 8)
        a2 = _fetch64(s, i + 16)
        a3 = _fetch64(s, i + 24)
        a4 = _fetch64(s, i + 32)
        a5 = _fetch64(s, i + 40)
        a6 = _fetch64(s, i + 48)
        a7 = _fetch64(s, i + 56)
        x = (x + a0 + a1) & _M64
        y = (y + a2) & _M64
        z = (z + a3) & _M64
        v0 = (v0 + a4) & _M64
        v1 = (v1 + a5 + a1) & _M64
        w0 = (w0 + a6) & _M64
        w1 = (w1 + a7) & _M64

        x = _rotr(x, 26)
        x = (x * 9) & _M64
        y = _rotr(y, 29)
        z = (z * mul) & _M64
        v0 = _rotr(v0, 33)
        v1 = _rotr(v1, 30)
        w0 ^= x
        w0 = (w0 * 9) & _M64
        z = _rotr(z, 32)
        z = (z + w1) & _M64
        w1 = (w1 + z) & _M64
        z = (z * 9) & _M64
        u, y = y, u

        z = (z + a0 + a6) & _M64
        v0 = (v0 + a2) & _M64
        v1 = (v1 + a3) & _M64
        w0 = (w0 + a4) & _M64
        w1 = (w1 + a5 + a6) & _M64
        x = (x + a1) & _M64
        y = (y + a7) & _M64

        y = (y + v0) & _M64
        v0 = (v0 + x - y) & _M64
        v1 = (v1 + w0) & _M64
        w0 = (w0 + v1) & _M64
        w1 = (w1 + x - y) & _M64
        x = (x + w1) & _M64
        w1 = _rotr(w1, 34)
        u, z = z, u
        i += 64
        if i == end:
            break
    i = n - 64
    u = (u * 9) & _M64
    v1 = _rotr(v1, 28)
    v0 = _rotr(v0, 20)
    w0 = (w0 + ((n - 1) & 63)) & _M64
    u = (u + y) & _M64
    y = (y + u) & _M64
    x = (_rotr((y - x + v0 + _fetch64(s, i + 8)) & _M64, 37) * mul) & _M64
    y = (_rotr((y ^ v1 ^ _fetch64(s, i + 48)) & _M64, 42) * mul) & _M64
    x ^= (w1 * 9) & _M64
    y = (y + v0 + _fetch64(s, i + 40)) & _M64
    z = (_rotr((z + w0) & _M64, 33) * mul) & _M64
    v0, v1 = _weak32_at(s, i, (v1 * mul) & _M64, (x + w0) & _M64)
    w0, w1 = _weak32_at(s, i + 32, (z + w1) & _M64, (y + _fetch64(s, i + 16)) & _M64)
    return _uo_h(
        (hash128to64_py(v0 + x, w0 ^ y, mul) + z - u) & _M64,
        _uo_h(v1 + y, (w1 + z) & _M64, K2, 30) ^ x,
        K2,
        31,
    )


def farmhash_xo_py(s: bytes) -> int:
    """farmhashxo::Hash64 — the portable dispatch of farmhash Hash64
    (ClickHouse farmHash64 on non-SSE4.1 builds)."""
    n = len(s)
    if n <= 16:
        return _na_len0to16(s, n)
    if n <= 32:
        return _na_len17to32(s, n)
    if n <= 64:
        return _xo_len33to64(s, n)
    if n <= 96:
        return _xo_len65to96(s, n)
    if n <= 256:
        return farmhash_na_py(s)
    return farmhash_uo_py(s)


def _farm_na_short_np(buf, lens, rows):
    """Vectorized farmhashna for rows with len <= 64 (no loops)."""
    n = lens.astype(np.uint64)
    k0, k1, k2 = _U(K0), _U(K1), _U(K2)
    nr = len(rows)
    offs0 = np.zeros(nr, dtype=np.int64)
    out = np.full(nr, _U(K2), dtype=np.uint64)

    # 1..3
    m = (lens >= 1) & (lens <= 3)
    if m.any():
        a = buf[rows, 0].astype(np.uint64)
        b = buf[rows, np.maximum(lens, 0) >> 1].astype(np.uint64)
        c = buf[rows, np.maximum(lens - 1, 0)].astype(np.uint64)
        y = a + (b << _U(8))
        z = n + (c << _U(2))
        out = np.where(m, _np_shift_mix((y * k2) ^ (z * k0)) * k2, out)

    # 4..7
    m = (lens >= 4) & (lens <= 7)
    if m.any():
        mul = k2 + n * _U(2)
        a = _np_fetch(buf, rows, offs0, 4)
        b = _np_fetch(buf, rows, np.maximum(lens - 4, 0), 4)
        out = np.where(m, _np_hash128to64(n + (a << _U(3)), b, mul), out)

    # 8..16
    m = (lens >= 8) & (lens <= 16)
    if m.any():
        mul = k2 + n * _U(2)
        a = _np_fetch(buf, rows, offs0, 8) + k2
        b = _np_fetch(buf, rows, np.maximum(lens - 8, 0), 8)
        c = _np_rotr(b, 37) * mul + a
        d = (_np_rotr(a, 25) + b) * mul
        out = np.where(m, _np_hash128to64(c, d, mul), out)

    # 17..32
    m = (lens >= 17) & (lens <= 32)
    if m.any():
        mul = k2 + n * _U(2)
        a = _np_fetch(buf, rows, offs0, 8) * k1
        b = _np_fetch(buf, rows, offs0 + 8, 8)
        c = _np_fetch(buf, rows, np.maximum(lens - 8, 0), 8) * mul
        d = _np_fetch(buf, rows, np.maximum(lens - 16, 0), 8) * k2
        out = np.where(
            m,
            _np_hash128to64(_np_rotr(a + b, 43) + _np_rotr(c, 30) + d,
                            a + _np_rotr(b + k2, 18) + c, mul),
            out,
        )

    # 33..64
    m = (lens >= 33) & (lens <= 64)
    if m.any():
        mul = k2 + n * _U(2)
        a = _np_fetch(buf, rows, offs0, 8) * k2
        b = _np_fetch(buf, rows, offs0 + 8, 8)
        c = _np_fetch(buf, rows, np.maximum(lens - 8, 0), 8) * mul
        d = _np_fetch(buf, rows, np.maximum(lens - 16, 0), 8) * k2
        y = _np_rotr(a + b, 43) + _np_rotr(c, 30) + d
        z = _np_hash128to64(y, a + _np_rotr(b + k2, 18) + c, mul)
        e = _np_fetch(buf, rows, offs0 + 16, 8) * mul
        f = _np_fetch(buf, rows, offs0 + 24, 8)
        g = (y + _np_fetch(buf, rows, np.maximum(lens - 32, 0), 8)) * mul
        h = (z + _np_fetch(buf, rows, np.maximum(lens - 24, 0), 8)) * mul
        out = np.where(
            m,
            _np_hash128to64(_np_rotr(e + f, 43) + _np_rotr(g, 30) + h,
                            e + _np_rotr(f + a, 18) + g, mul),
            out,
        )
    return out


def _farm_na_long_np(buf, lens, rows):
    """Vectorized farmhashna for rows with len > 64 (masked 64B loop)."""
    nr = len(rows)
    k0, k1, k2 = _U(K0), _U(K1), _U(K2)
    x = np.full(nr, _U(81), dtype=np.uint64)
    y = (x * k1 + _U(113))
    z = _np_shift_mix(y * k2 + _U(113)) * k2
    v0 = np.zeros(nr, dtype=np.uint64)
    v1 = np.zeros(nr, dtype=np.uint64)
    w0 = np.zeros(nr, dtype=np.uint64)
    w1 = np.zeros(nr, dtype=np.uint64)
    x = x * k2 + _np_fetch(buf, rows, np.zeros(nr, dtype=np.int64), 8)
    end = ((lens - 1) // 64) * 64
    pos = np.zeros(nr, dtype=np.int64)
    for _ in range(int(end.max(initial=0) // 64)):
        active = pos < end
        if not active.any():
            break
        p = np.where(active, pos, 0)
        nx = _np_rotr(x + y + v0 + _np_fetch(buf, rows, p + 8, 8), 37) * k1
        ny = _np_rotr(y + v1 + _np_fetch(buf, rows, p + 48, 8), 42) * k1
        nx = nx ^ w1
        ny = ny + v0 + _np_fetch(buf, rows, p + 40, 8)
        nz = _np_rotr(z + w0, 33) * k1
        nv0, nv1 = _np_weak32_at(buf, rows, p, v1 * k1, nx + w0)
        nw0, nw1 = _np_weak32_at(buf, rows, p + 32, nz + w1,
                                 ny + _np_fetch(buf, rows, p + 16, 8))
        x = np.where(active, nz, x)  # swapped
        z = np.where(active, nx, z)
        y = np.where(active, ny, y)
        v0 = np.where(active, nv0, v0)
        v1 = np.where(active, nv1, v1)
        w0 = np.where(active, nw0, w0)
        w1 = np.where(active, nw1, w1)
        pos = np.where(active, pos + 64, pos)
    mul = k1 + ((z & _U(0xFF)) << _U(1))
    last = np.maximum(lens - 64, 0)
    w0 = w0 + ((lens - 1) & 63).astype(np.uint64)
    v0 = v0 + w0
    w0 = w0 + v0
    x = _np_rotr(x + y + v0 + _np_fetch(buf, rows, last + 8, 8), 37) * mul
    y = _np_rotr(y + v1 + _np_fetch(buf, rows, last + 48, 8), 42) * mul
    x = x ^ (w1 * _U(9))
    y = y + v0 * _U(9) + _np_fetch(buf, rows, last + 40, 8)
    z = _np_rotr(z + w0, 33) * mul
    v0, v1 = _np_weak32_at(buf, rows, last, v1 * mul, x + w0)
    w0, w1 = _np_weak32_at(buf, rows, last + 32, z + w1,
                           y + _np_fetch(buf, rows, last + 16, 8))
    z, x = x.copy(), z.copy()
    return _np_hash128to64(_np_hash128to64(v0, w0, mul) + _np_shift_mix(y) * k0 + z,
                           _np_hash128to64(v1, w1, mul) + x, mul)


def _farm_na_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    rows = np.arange(len(data))
    out = np.zeros(len(data), dtype=np.uint64)
    short = lens <= 64
    if short.any():
        idx = rows[short]
        out[idx] = _farm_na_short_np(buf, lens[short], idx)
    if (~short).any():
        idx = rows[~short]
        out[idx] = _farm_na_long_np(buf, lens[~short], idx)
    return out


def _np_xo_h32(buf, rows, offs, mul, seed0=None, seed1=None):
    k1, k2 = _U(K1), _U(K2)
    a = _np_fetch(buf, rows, offs, 8) * k1
    b = _np_fetch(buf, rows, offs + 8, 8)
    c = _np_fetch(buf, rows, offs + 24, 8) * mul
    d = _np_fetch(buf, rows, offs + 16, 8) * k2
    u = _np_rotr(a + b, 43) + _np_rotr(c, 30) + d
    v = a + _np_rotr(b + k2, 18) + c
    if seed0 is not None:
        u = u + seed0
    if seed1 is not None:
        v = v + seed1
    a = _np_shift_mix((u ^ v) * mul)
    return _np_shift_mix((v ^ a) * mul)


def _farm_uo_long_np(buf, lens, rows):
    """Vectorized farmhashuo::Hash64WithSeeds(..., 81, 0), len > 64."""
    nr = len(rows)
    k2 = _U(K2)
    x = np.full(nr, _U(81), dtype=np.uint64)
    y = np.full(nr, _U(113), dtype=np.uint64)  # seed1*k2 + 113, seed1=0
    z = _np_shift_mix(y * k2) * k2
    v0 = np.full(nr, _U(81), dtype=np.uint64)
    v1 = np.zeros(nr, dtype=np.uint64)
    w0 = np.zeros(nr, dtype=np.uint64)
    w1 = np.zeros(nr, dtype=np.uint64)
    u = x - z
    x = x * k2
    mul = k2 + (u & _U(0x82))
    end = ((lens - 1) // 64) * 64
    pos = np.zeros(nr, dtype=np.int64)
    for _ in range(int(end.max(initial=0) // 64)):
        active = pos < end
        if not active.any():
            break
        p = np.where(active, pos, 0)
        a0 = _np_fetch(buf, rows, p, 8)
        a1 = _np_fetch(buf, rows, p + 8, 8)
        a2 = _np_fetch(buf, rows, p + 16, 8)
        a3 = _np_fetch(buf, rows, p + 24, 8)
        a4 = _np_fetch(buf, rows, p + 32, 8)
        a5 = _np_fetch(buf, rows, p + 40, 8)
        a6 = _np_fetch(buf, rows, p + 48, 8)
        a7 = _np_fetch(buf, rows, p + 56, 8)
        nx = x + a0 + a1
        ny = y + a2
        nz = z + a3
        nv0 = v0 + a4
        nv1 = v1 + a5 + a1
        nw0 = w0 + a6
        nw1 = w1 + a7
        nx = _np_rotr(nx, 26) * _U(9)
        ny = _np_rotr(ny, 29)
        nz = nz * mul
        nv0 = _np_rotr(nv0, 33)
        nv1 = _np_rotr(nv1, 30)
        nw0 = (nw0 ^ nx) * _U(9)
        nz = _np_rotr(nz, 32) + nw1
        nw1 = nw1 + nz
        nz = nz * _U(9)
        nu, ny = ny.copy(), u.copy()  # swap(u, y)
        nz = nz + a0 + a6
        nv0 = nv0 + a2
        nv1 = nv1 + a3
        nw0 = nw0 + a4
        nw1 = nw1 + a5 + a6
        nx = nx + a1
        ny = ny + a7
        ny = ny + nv0
        nv0 = nv0 + nx - ny
        nv1 = nv1 + nw0
        nw0 = nw0 + nv1
        nw1 = nw1 + nx - ny
        nx = nx + nw1
        nw1 = _np_rotr(nw1, 34)
        nu, nz = nz.copy(), nu.copy()  # swap(u, z)
        x = np.where(active, nx, x)
        y = np.where(active, ny, y)
        z = np.where(active, nz, z)
        u = np.where(active, nu, u)
        v0 = np.where(active, nv0, v0)
        v1 = np.where(active, nv1, v1)
        w0 = np.where(active, nw0, w0)
        w1 = np.where(active, nw1, w1)
        pos = np.where(active, pos + 64, pos)
    last = np.maximum(lens - 64, 0)
    u = u * _U(9)
    v1 = _np_rotr(v1, 28)
    v0 = _np_rotr(v0, 20)
    w0 = w0 + ((lens - 1) & 63).astype(np.uint64)
    u = u + y
    y = y + u
    x = _np_rotr(y - x + v0 + _np_fetch(buf, rows, last + 8, 8), 37) * mul
    y = _np_rotr(y ^ v1 ^ _np_fetch(buf, rows, last + 48, 8), 42) * mul
    x = x ^ (w1 * _U(9))
    y = y + v0 + _np_fetch(buf, rows, last + 40, 8)
    z = _np_rotr(z + w0, 33) * mul
    v0, v1 = _np_weak32_at(buf, rows, last, v1 * mul, x + w0)
    w0, w1 = _np_weak32_at(buf, rows, last + 32, z + w1,
                           y + _np_fetch(buf, rows, last + 16, 8))

    def uo_h(xx, yy, mm, r):
        a = _np_shift_mix((xx ^ yy) * mm)
        b = (yy ^ a) * mm
        return _np_rotr(b, r) * mm

    return uo_h(_np_hash128to64(v0 + x, w0 ^ y, mul) + z - u,
                uo_h(v1 + y, w1 + z, k2, 30) ^ x, k2, 31)


def _farm_xo_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    rows = np.arange(len(data))
    out = np.zeros(len(data), dtype=np.uint64)

    m = lens <= 32
    if m.any():
        idx = rows[m]
        out[idx] = _farm_na_short_np(buf, lens[m], idx)

    m = (lens >= 33) & (lens <= 64)
    if m.any():
        idx = rows[m]
        n = lens[m]
        mul0 = np.full(len(idx), (K2 - 30) & _M64, dtype=np.uint64)
        mul1 = (_U((K2 - 30) & _M64) + n.astype(np.uint64) * _U(2))
        h0 = _np_xo_h32(buf, idx, np.zeros(len(idx), dtype=np.int64), mul0)
        h1 = _np_xo_h32(buf, idx, n - 32, mul1)
        out[idx] = (h1 * mul1 + h0) * mul1

    m = (lens >= 65) & (lens <= 96)
    if m.any():
        idx = rows[m]
        n = lens[m]
        mul0 = np.full(len(idx), (K2 - 114) & _M64, dtype=np.uint64)
        mul1 = (_U((K2 - 114) & _M64) + n.astype(np.uint64) * _U(2))
        zero = np.zeros(len(idx), dtype=np.int64)
        h0 = _np_xo_h32(buf, idx, zero, mul0)
        h1 = _np_xo_h32(buf, idx, zero + 32, mul1)
        h2 = _np_xo_h32(buf, idx, n - 32, mul1, h0, h1)
        out[idx] = (h2 * _U(9) + (h0 >> _U(17)) + (h1 >> _U(21))) * mul1

    m = (lens >= 97) & (lens <= 256)
    if m.any():
        idx = rows[m]
        out[idx] = _farm_na_long_np(buf, lens[m], idx)

    m = lens > 256
    if m.any():
        idx = rows[m]
        out[idx] = _farm_uo_long_np(buf, lens[m], idx)
    return out


# ===========================================================================
# MetroHash64 variant 1 (metrohash64.cpp; ImplMetroHash64:651 reads
# metrohash64_1(key, len, seed=0) as a little-endian UInt64)
# ===========================================================================

_MK0 = 0xC83A91E1
_MK1 = 0x8648DBDB
_MK2 = 0x7BDEC03B
_MK3 = 0x2F5870A5


def metrohash64_1_py(key: bytes, seed: int = 0) -> int:
    n = len(key)
    h = ((seed + _MK2) * _MK0 + n) & _M64
    i = 0
    if n >= 32:
        v = [h, h, h, h]
        while i + 32 <= n:
            v[0] = (v[0] + _fetch64(key, i) * _MK0) & _M64
            v[0] = (_rotr(v[0], 29) + v[2]) & _M64
            v[1] = (v[1] + _fetch64(key, i + 8) * _MK1) & _M64
            v[1] = (_rotr(v[1], 29) + v[3]) & _M64
            v[2] = (v[2] + _fetch64(key, i + 16) * _MK2) & _M64
            v[2] = (_rotr(v[2], 29) + v[0]) & _M64
            v[3] = (v[3] + _fetch64(key, i + 24) * _MK3) & _M64
            v[3] = (_rotr(v[3], 29) + v[1]) & _M64
            i += 32
        v[2] ^= (_rotr((((v[0] + v[3]) & _M64) * _MK0 + v[1]) & _M64, 33) * _MK1) & _M64
        v[3] ^= (_rotr((((v[1] + v[2]) & _M64) * _MK1 + v[0]) & _M64, 33) * _MK0) & _M64
        v[0] ^= (_rotr((((v[0] + v[2]) & _M64) * _MK0 + v[3]) & _M64, 33) * _MK1) & _M64
        v[1] ^= (_rotr((((v[1] + v[3]) & _M64) * _MK1 + v[2]) & _M64, 33) * _MK0) & _M64
        h = (h + (v[0] ^ v[1])) & _M64
    if n - i >= 16:
        v0 = (h + _fetch64(key, i) * _MK0) & _M64
        i += 8
        v0 = (_rotr(v0, 33) * _MK1) & _M64
        v1 = (h + _fetch64(key, i) * _MK1) & _M64
        i += 8
        v1 = (_rotr(v1, 33) * _MK2) & _M64
        v0 ^= (_rotr((v0 * _MK0) & _M64, 35) + v1) & _M64
        v1 ^= (_rotr((v1 * _MK3) & _M64, 35) + v0) & _M64
        h = (h + v1) & _M64
    if n - i >= 8:
        h = (h + _fetch64(key, i) * _MK3) & _M64
        i += 8
        h ^= (_rotr(h, 33) * _MK1) & _M64
    if n - i >= 4:
        h = (h + _fetch32(key, i) * _MK3) & _M64
        i += 4
        h ^= (_rotr(h, 15) * _MK1) & _M64
    if n - i >= 2:
        h = (h + int.from_bytes(key[i:i + 2], "little") * _MK3) & _M64
        i += 2
        h ^= (_rotr(h, 13) * _MK1) & _M64
    if n - i >= 1:
        h = (h + key[i] * _MK3) & _M64
        h ^= (_rotr(h, 25) * _MK1) & _M64
    h ^= _rotr(h, 33)
    h = (h * _MK0) & _M64
    h ^= _rotr(h, 33)
    return h


def _metro64_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    k0, k1, k2, k3 = _U(_MK0), _U(_MK1), _U(_MK2), _U(_MK3)
    h = (_U(_MK2) * k0) + lens.astype(np.uint64)  # seed 0: (0+k2)*k0+len
    pos = np.zeros(n_rows, dtype=np.int64)

    big = lens >= 32
    if big.any():
        v0, v1, v2, v3 = h.copy(), h.copy(), h.copy(), h.copy()
        nblk = lens // 32
        for _ in range(int(nblk.max(initial=0))):
            active = (pos // 32 < nblk) & big
            if not active.any():
                break
            p = np.where(active, pos, 0)
            nv0 = _np_rotr(v0 + _np_fetch(buf, rows, p, 8) * k0, 29) + v2
            nv1 = _np_rotr(v1 + _np_fetch(buf, rows, p + 8, 8) * k1, 29) + v3
            nv2 = _np_rotr(v2 + _np_fetch(buf, rows, p + 16, 8) * k2, 29) + nv0
            nv3 = _np_rotr(v3 + _np_fetch(buf, rows, p + 24, 8) * k3, 29) + nv1
            v0 = np.where(active, nv0, v0)
            v1 = np.where(active, nv1, v1)
            v2 = np.where(active, nv2, v2)
            v3 = np.where(active, nv3, v3)
            pos = np.where(active, pos + 32, pos)
        v2x = v2 ^ (_np_rotr((v0 + v3) * k0 + v1, 33) * k1)
        v3x = v3 ^ (_np_rotr((v1 + v2x) * k1 + v0, 33) * k0)
        v0x = v0 ^ (_np_rotr((v0 + v2x) * k0 + v3x, 33) * k1)
        v1x = v1 ^ (_np_rotr((v1 + v3x) * k1 + v2x, 33) * k0)
        h = np.where(big, h + (v0x ^ v1x), h)

    rem = lens - pos
    m = rem >= 16
    if m.any():
        p = np.where(m, pos, 0)
        t0 = _np_rotr(h + _np_fetch(buf, rows, p, 8) * k0, 33) * k1
        t1 = _np_rotr(h + _np_fetch(buf, rows, p + 8, 8) * k1, 33) * k2
        t0 = t0 ^ (_np_rotr(t0 * k0, 35) + t1)
        t1 = t1 ^ (_np_rotr(t1 * k3, 35) + t0)
        h = np.where(m, h + t1, h)
        pos = np.where(m, pos + 16, pos)
    rem = lens - pos
    m = rem >= 8
    if m.any():
        p = np.where(m, pos, 0)
        nh = h + _np_fetch(buf, rows, p, 8) * k3
        h = np.where(m, nh ^ (_np_rotr(nh, 33) * k1), h)
        pos = np.where(m, pos + 8, pos)
    rem = lens - pos
    m = rem >= 4
    if m.any():
        p = np.where(m, pos, 0)
        nh = h + _np_fetch(buf, rows, p, 4) * k3
        h = np.where(m, nh ^ (_np_rotr(nh, 15) * k1), h)
        pos = np.where(m, pos + 4, pos)
    rem = lens - pos
    m = rem >= 2
    if m.any():
        p = np.where(m, pos, 0)
        nh = h + _np_fetch(buf, rows, p, 2) * k3
        h = np.where(m, nh ^ (_np_rotr(nh, 13) * k1), h)
        pos = np.where(m, pos + 2, pos)
    rem = lens - pos
    m = rem >= 1
    if m.any():
        p = np.where(m, pos, 0)
        nh = h + buf[rows, p].astype(np.uint64) * k3
        h = np.where(m, nh ^ (_np_rotr(nh, 25) * k1), h)
    h = h ^ _np_rotr(h, 33)
    h = h * k0
    return h ^ _np_rotr(h, 33)


# ===========================================================================
# wyhash final version 3 (ImplWyHash64:1722: wyhash(s, len, 0, _wyp))
# ===========================================================================

_WYP = (0xA0761D6478BD642F, 0xE7037ED1A0B428DB,
        0x8EBC6AF09C88C6E3, 0x589965CC75374CC3)


def wyhash_py(key: bytes, seed: int = 0) -> int:
    n = len(key)
    seed ^= _WYP[0]
    if n <= 16:
        if n >= 4:
            a = (_fetch32(key, 0) << 32) | _fetch32(key, (n >> 3) << 2)
            b = (_fetch32(key, n - 4) << 32) | _fetch32(key, n - 4 - ((n >> 3) << 2))
        elif n > 0:
            a = (key[0] << 16) | (key[n >> 1] << 8) | key[n - 1]
            b = 0
        else:
            a = b = 0
    else:
        i, p = n, 0
        if i > 48:
            see1 = see2 = seed
            while True:
                seed = _mul128_fold64(_fetch64(key, p) ^ _WYP[1], _fetch64(key, p + 8) ^ seed)
                see1 = _mul128_fold64(_fetch64(key, p + 16) ^ _WYP[2], _fetch64(key, p + 24) ^ see1)
                see2 = _mul128_fold64(_fetch64(key, p + 32) ^ _WYP[3], _fetch64(key, p + 40) ^ see2)
                p += 48
                i -= 48
                if i <= 48:
                    break
            seed ^= see1 ^ see2
        while i > 16:
            seed = _mul128_fold64(_fetch64(key, p) ^ _WYP[1], _fetch64(key, p + 8) ^ seed)
            i -= 16
            p += 16
        a = _fetch64(key, p + i - 16)
        b = _fetch64(key, p + i - 8)
    return _mul128_fold64(_WYP[1] ^ n, _mul128_fold64(a ^ _WYP[1], b ^ seed))


def wyhash_combine_py(h1: int, h2: int) -> int:
    """combineHashesFunc<UInt64, ImplWyHash64> — wyhash over the
    16-byte LE concat (FunctionsHashing.h:195,1727)."""
    return wyhash_py(h1.to_bytes(8, "little") + h2.to_bytes(8, "little"))


def _wyhash_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    n64 = lens.astype(np.uint64)
    p0, p1, p2, p3 = (_U(_WYP[0]), _U(_WYP[1]), _U(_WYP[2]), _U(_WYP[3]))
    seed = np.full(n_rows, _U(_WYP[0]), dtype=np.uint64)  # 0 ^ _wyp[0]
    a = np.zeros(n_rows, dtype=np.uint64)
    b = np.zeros(n_rows, dtype=np.uint64)

    # short: 1..3
    m = (lens >= 1) & (lens <= 3)
    if m.any():
        c0 = buf[rows, 0].astype(np.uint64)
        c1 = buf[rows, np.maximum(lens, 0) >> 1].astype(np.uint64)
        c2 = buf[rows, np.maximum(lens - 1, 0)].astype(np.uint64)
        a = np.where(m, (c0 << _U(16)) | (c1 << _U(8)) | c2, a)

    # short: 4..16
    m = (lens >= 4) & (lens <= 16)
    if m.any():
        off2 = ((lens >> 3) << 2).astype(np.int64)
        av = (_np_fetch(buf, rows, np.zeros(n_rows, dtype=np.int64), 4) << _U(32)) \
            | _np_fetch(buf, rows, off2, 4)
        base = np.maximum(lens - 4, 0)
        bv = (_np_fetch(buf, rows, base, 4) << _U(32)) \
            | _np_fetch(buf, rows, np.maximum(base - off2, 0), 4)
        a = np.where(m, av, a)
        b = np.where(m, bv, b)

    # long: > 16
    long = lens > 16
    if long.any():
        i = lens.copy()
        pos = np.zeros(n_rows, dtype=np.int64)
        m48 = long & (i > 48)
        if m48.any():
            see1 = seed.copy()
            see2 = seed.copy()
            while True:
                active = m48 & (i > 48)
                if not active.any():
                    break
                p = np.where(active, pos, 0)
                ns = _np_mul128_fold64(_np_fetch(buf, rows, p, 8) ^ p1,
                                       _np_fetch(buf, rows, p + 8, 8) ^ seed)
                n1 = _np_mul128_fold64(_np_fetch(buf, rows, p + 16, 8) ^ p2,
                                       _np_fetch(buf, rows, p + 24, 8) ^ see1)
                n2 = _np_mul128_fold64(_np_fetch(buf, rows, p + 32, 8) ^ p3,
                                       _np_fetch(buf, rows, p + 40, 8) ^ see2)
                seed = np.where(active, ns, seed)
                see1 = np.where(active, n1, see1)
                see2 = np.where(active, n2, see2)
                pos = np.where(active, pos + 48, pos)
                i = np.where(active, i - 48, i)
            seed = np.where(m48, seed ^ see1 ^ see2, seed)
        while True:
            active = long & (i > 16)
            if not active.any():
                break
            p = np.where(active, pos, 0)
            ns = _np_mul128_fold64(_np_fetch(buf, rows, p, 8) ^ p1,
                                   _np_fetch(buf, rows, p + 8, 8) ^ seed)
            seed = np.where(active, ns, seed)
            pos = np.where(active, pos + 16, pos)
            i = np.where(active, i - 16, i)
        pa = np.maximum(pos + i - 16, 0)
        pb = np.maximum(pos + i - 8, 0)
        a = np.where(long, _np_fetch(buf, rows, pa, 8), a)
        b = np.where(long, _np_fetch(buf, rows, pb, 8), b)
    return _np_mul128_fold64(p1 ^ n64, _np_mul128_fold64(a ^ p1, b ^ seed))


# ===========================================================================
# XXH3_64bits (xxHash 0.8.x; ImplXXH3:710): seedless, default secret
# ===========================================================================

_KSECRET = bytes([
    0xb8, 0xfe, 0x6c, 0x39, 0x23, 0xa4, 0x4b, 0xbe, 0x7c, 0x01, 0x81, 0x2c,
    0xf7, 0x21, 0xad, 0x1c, 0xde, 0xd4, 0x6d, 0xe9, 0x83, 0x90, 0x97, 0xdb,
    0x72, 0x40, 0xa4, 0xa4, 0xb7, 0xb3, 0x67, 0x1f, 0xcb, 0x79, 0xe6, 0x4e,
    0xcc, 0xc0, 0xe5, 0x78, 0x82, 0x5a, 0xd0, 0x7d, 0xcc, 0xff, 0x72, 0x21,
    0xb8, 0x08, 0x46, 0x74, 0xf7, 0x43, 0x24, 0x8e, 0xe0, 0x35, 0x90, 0xe6,
    0x81, 0x3a, 0x26, 0x4c, 0x3c, 0x28, 0x52, 0xbb, 0x91, 0xc3, 0x00, 0xcb,
    0x88, 0xd0, 0x65, 0x8b, 0x1b, 0x53, 0x2e, 0xa3, 0x71, 0x64, 0x48, 0x97,
    0xa2, 0x0d, 0xf9, 0x4e, 0x38, 0x19, 0xef, 0x46, 0xa9, 0xde, 0xac, 0xd8,
    0xa8, 0xfa, 0x76, 0x3f, 0xe3, 0x9c, 0x34, 0x3f, 0xf9, 0xdc, 0xbb, 0xc7,
    0xc7, 0x0b, 0x4f, 0x1d, 0x8a, 0x51, 0xe0, 0x4b, 0xcd, 0xb4, 0x59, 0x31,
    0xc8, 0x9f, 0x7e, 0xc9, 0xd9, 0x78, 0x73, 0x64, 0xea, 0xc5, 0xac, 0x83,
    0x34, 0xd3, 0xeb, 0xc3, 0xc5, 0x81, 0xa0, 0xff, 0xfa, 0x13, 0x63, 0xeb,
    0x17, 0x0d, 0xdd, 0x51, 0xb7, 0xf0, 0xda, 0x49, 0xd3, 0x16, 0x55, 0x26,
    0x29, 0xd4, 0x68, 0x9e, 0x2b, 0x16, 0xbe, 0x58, 0x7d, 0x47, 0xa1, 0xfc,
    0x8f, 0xf8, 0xb8, 0xd1, 0x7a, 0xd0, 0x31, 0xce, 0x45, 0xcb, 0x3a, 0x8f,
    0x95, 0x16, 0x04, 0x28, 0xaf, 0xd7, 0xfb, 0xca, 0xbb, 0x4b, 0x40, 0x7e,
])

# XXH32 primes (also XXH3's 32-bit constants)
_P32_1 = 0x9E3779B1
_P32_2 = 0x85EBCA77
_P32_3 = 0xC2B2AE3D
_P32_4 = 0x27D4EB2F
_P32_5 = 0x165667B1
_PMX1 = 0x165667919E3779F9
_PMX2 = 0x9FB21C651E98DF25


def _swap64(v):
    return int.from_bytes((v & _M64).to_bytes(8, "little"), "big")


def _xxh3_avalanche(h):
    h ^= h >> 37
    h = (h * _PMX1) & _M64
    return h ^ (h >> 32)


def _xxh3_rrmxmx(h, ln):
    h ^= _rotl(h, 49) ^ _rotl(h, 24)
    h = (h * _PMX2) & _M64
    h ^= (h >> 35) + ln
    h &= _M64
    h = (h * _PMX2) & _M64
    return h ^ (h >> 28)


def _xxh3_mix16(b, i, soff):
    lo = _fetch64(b, i)
    hi = _fetch64(b, i + 8)
    return _mul128_fold64(lo ^ _fetch64(_KSECRET, soff), hi ^ _fetch64(_KSECRET, soff + 8))


def xxh3_64_py(data: bytes) -> int:
    sec = _KSECRET
    n = len(data)
    if n <= 16:
        if n > 8:
            bf1 = _fetch64(sec, 24) ^ _fetch64(sec, 32)
            bf2 = _fetch64(sec, 40) ^ _fetch64(sec, 48)
            lo = _fetch64(data, 0) ^ bf1
            hi = _fetch64(data, n - 8) ^ bf2
            return _xxh3_avalanche(
                (n + _swap64(lo) + hi + _mul128_fold64(lo, hi)) & _M64)
        if n >= 4:
            inp = (_fetch32(data, n - 4) + (_fetch32(data, 0) << 32)) & _M64
            bf = _fetch64(sec, 8) ^ _fetch64(sec, 16)
            return _xxh3_rrmxmx(inp ^ bf, n)
        if n:
            comb = ((data[0] << 16) | (data[n >> 1] << 24)
                    | data[n - 1] | (n << 8)) & _M32
            bf = _fetch32(sec, 0) ^ _fetch32(sec, 4)
            return _xxh64_avalanche(comb ^ bf)
        return _xxh64_avalanche(_fetch64(sec, 56) ^ _fetch64(sec, 64))
    if n <= 128:
        acc = (n * _P64_1) & _M64
        if n > 32:
            if n > 64:
                if n > 96:
                    acc = (acc + _xxh3_mix16(data, 48, 96)) & _M64
                    acc = (acc + _xxh3_mix16(data, n - 64, 112)) & _M64
                acc = (acc + _xxh3_mix16(data, 32, 64)) & _M64
                acc = (acc + _xxh3_mix16(data, n - 48, 80)) & _M64
            acc = (acc + _xxh3_mix16(data, 16, 32)) & _M64
            acc = (acc + _xxh3_mix16(data, n - 32, 48)) & _M64
        acc = (acc + _xxh3_mix16(data, 0, 0)) & _M64
        acc = (acc + _xxh3_mix16(data, n - 16, 16)) & _M64
        return _xxh3_avalanche(acc)
    if n <= 240:
        acc = (n * _P64_1) & _M64
        for i in range(8):
            acc = (acc + _xxh3_mix16(data, 16 * i, 16 * i)) & _M64
        acc_end = _xxh3_mix16(data, n - 16, 136 - 17)
        acc = _xxh3_avalanche(acc)
        for i in range(8, n // 16):
            acc_end = (acc_end + _xxh3_mix16(data, 16 * i, 16 * (i - 8) + 3)) & _M64
        return _xxh3_avalanche((acc + acc_end) & _M64)
    # long (> 240): 8 accumulators, 64-byte stripes, 1024-byte blocks
    acc = [_P32_3, _P64_1, _P64_2, _P64_3, _P64_4, _P32_2, _P64_5, _P32_1]

    def acc512(off, soff):
        for lane in range(8):
            dv = _fetch64(data, off + lane * 8)
            dk = dv ^ _fetch64(sec, soff + lane * 8)
            acc[lane ^ 1] = (acc[lane ^ 1] + dv) & _M64
            acc[lane] = (acc[lane] + (dk & _M32) * (dk >> 32)) & _M64

    nb_blocks = (n - 1) // 1024
    for b in range(nb_blocks):
        for st in range(16):
            acc512(b * 1024 + st * 64, st * 8)
        for lane in range(8):
            a = acc[lane]
            a ^= a >> 47
            a ^= _fetch64(sec, 128 + lane * 8)
            acc[lane] = (a * _P32_1) & _M64
    for st in range(((n - 1) - 1024 * nb_blocks) // 64):
        acc512(nb_blocks * 1024 + st * 64, st * 8)
    acc512(n - 64, 192 - 64 - 7)
    result = (n * _P64_1) & _M64
    for i in range(4):
        result = (result + _mul128_fold64(
            acc[2 * i] ^ _fetch64(sec, 11 + 16 * i),
            acc[2 * i + 1] ^ _fetch64(sec, 19 + 16 * i))) & _M64
    return _xxh3_avalanche(result)


def _xxh3_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    out = np.zeros(n_rows, dtype=np.uint64)
    n64 = lens.astype(np.uint64)
    p64_1, p32_1 = _U(_P64_1), _U(_P32_1)
    pmx1, pmx2 = _U(_PMX1), _U(_PMX2)

    def sec64(i):
        return _U(int.from_bytes(_KSECRET[i:i + 8], "little"))

    def np_aval(h):
        h = h ^ (h >> _U(37))
        h = h * pmx1
        return h ^ (h >> _U(32))

    def np_mix16(idx, offs, soff, sub_rows):
        # compute-then-mask: clamp offsets so lanes beyond a row's own
        # length (masked out by the caller) never index past the padded
        # byte matrix
        offs = np.clip(offs, 0, buf.shape[1] - 17)
        lo = _np_fetch(buf, sub_rows, offs, 8)
        hi = _np_fetch(buf, sub_rows, offs + 8, 8)
        return _np_mul128_fold64(lo ^ sec64(soff), hi ^ sec64(soff + 8))

    # len == 0
    m = lens == 0
    if m.any():
        out[m] = _U(xxh3_64_py(b""))

    # 1..3
    m = (lens >= 1) & (lens <= 3)
    if m.any():
        c1 = buf[rows, 0].astype(np.uint64)
        c2 = buf[rows, np.maximum(lens, 0) >> 1].astype(np.uint64)
        c3 = buf[rows, np.maximum(lens - 1, 0)].astype(np.uint64)
        comb = (c1 << _U(16)) | (c2 << _U(24)) | c3 | (n64 << _U(8))
        bf = _U(int.from_bytes(_KSECRET[0:4], "little")
                ^ int.from_bytes(_KSECRET[4:8], "little"))
        out = np.where(m, _np_xxh64_avalanche(comb ^ bf), out)

    # 4..8
    m = (lens >= 4) & (lens <= 8)
    if m.any():
        i1 = _np_fetch(buf, rows, np.zeros(n_rows, dtype=np.int64), 4)
        i2 = _np_fetch(buf, rows, np.maximum(lens - 4, 0), 4)
        bf = sec64(8) ^ sec64(16)
        keyed = (i2 + (i1 << _U(32))) ^ bf
        h = keyed ^ _np_rotl(keyed, 49) ^ _np_rotl(keyed, 24)
        h = h * pmx2
        h = h ^ ((h >> _U(35)) + n64)
        h = h * pmx2
        out = np.where(m, h ^ (h >> _U(28)), out)

    # 9..16
    m = (lens >= 9) & (lens <= 16)
    if m.any():
        bf1 = sec64(24) ^ sec64(32)
        bf2 = sec64(40) ^ sec64(48)
        lo = _np_fetch(buf, rows, np.zeros(n_rows, dtype=np.int64), 8) ^ bf1
        hi = _np_fetch(buf, rows, np.maximum(lens - 8, 0), 8) ^ bf2
        swapped = lo.byteswap()
        acc = n64 + swapped + hi + _np_mul128_fold64(lo, hi)
        out = np.where(m, np_aval(acc), out)

    # 17..128
    m = (lens >= 17) & (lens <= 128)
    if m.any():
        idx = rows[m]
        n = lens[m]
        nn = n.astype(np.uint64)
        zero = np.zeros(len(idx), dtype=np.int64)
        acc = nn * p64_1
        for cond, doff_a, soff_a, doff_b, soff_b in (
            (n > 96, zero + 48, 96, n - 64, 112),
            (n > 64, zero + 32, 64, n - 48, 80),
            (n > 32, zero + 16, 32, n - 32, 48),
        ):
            add_a = np_mix16(idx, doff_a, soff_a, idx)
            add_b = np_mix16(idx, doff_b, soff_b, idx)
            acc = np.where(cond, acc + add_a + add_b, acc)
        acc = acc + np_mix16(idx, zero, 0, idx)
        acc = acc + np_mix16(idx, n - 16, 16, idx)
        out[idx] = np_aval(acc)

    # 129..240
    m = (lens >= 129) & (lens <= 240)
    if m.any():
        idx = rows[m]
        n = lens[m]
        nn = n.astype(np.uint64)
        zero = np.zeros(len(idx), dtype=np.int64)
        acc = nn * p64_1
        for i in range(8):
            acc = acc + np_mix16(idx, zero + 16 * i, 16 * i, idx)
        acc = np_aval(acc)
        acc_end = np_mix16(idx, n - 16, 136 - 17, idx)
        rounds = n // 16
        for i in range(8, 15):
            add = np_mix16(idx, zero + 16 * i, 16 * (i - 8) + 3, idx)
            acc_end = np.where(i < rounds, acc_end + add, acc_end)
        out[idx] = np_aval(acc + acc_end)

    # > 240: striped long path
    m = lens > 240
    if m.any():
        idx = rows[m]
        n = lens[m]
        nr = len(idx)
        acc = np.tile(np.array([_P32_3, _P64_1, _P64_2, _P64_3,
                                _P64_4, _P32_2, _P64_5, _P32_1],
                               dtype=np.uint64), (nr, 1))
        nb_blocks = (n - 1) // 1024
        nb_stripes_last = ((n - 1) - 1024 * nb_blocks) // 64

        def acc_stripe(active, doffs, soff):
            p = np.where(active, doffs, 0)
            for lane in range(8):
                dv = _np_fetch(buf, idx, p + lane * 8, 8)
                dk = dv ^ sec64(soff + lane * 8)
                add_sw = np.where(active, dv, _U(0))
                acc[:, lane ^ 1] += add_sw
                prod = (dk & _U(0xFFFFFFFF)) * (dk >> _U(32))
                acc[:, lane] += np.where(active, prod, _U(0))

        max_blocks = int(nb_blocks.max(initial=0))
        for blk in range(max_blocks):
            active_blk = blk < nb_blocks
            for st in range(16):
                acc_stripe(active_blk, np.full(nr, blk * 1024 + st * 64,
                                               dtype=np.int64), st * 8)
            # scramble
            for lane in range(8):
                a = acc[:, lane]
                a = a ^ (a >> _U(47))
                a = a ^ sec64(128 + lane * 8)
                acc[:, lane] = np.where(active_blk, a * p32_1, acc[:, lane])
        max_last = int(nb_stripes_last.max(initial=0))
        for st in range(max_last):
            active = st < nb_stripes_last
            acc_stripe(active, (nb_blocks * 1024 + st * 64).astype(np.int64),
                       st * 8)
        # final stripe at n-64, secret offset 121
        acc_stripe(np.ones(nr, dtype=bool), (n - 64).astype(np.int64), 121)
        result = n.astype(np.uint64) * p64_1
        for i in range(4):
            result = result + _np_mul128_fold64(
                acc[:, 2 * i] ^ sec64(11 + 16 * i),
                acc[:, 2 * i + 1] ^ sec64(19 + 16 * i))
        out[idx] = np_aval(result)
    return out


# ===========================================================================
# 32-bit family: murmurHash2_32 (MurmurHash2, seed 0), kafkaMurmurHash
# (MurmurHash2 with Kafka's seed, & 0x7fffffff: KafkaMurmurHashImpl:430),
# murmurHash3_32 (MurmurHash3_x86_32, seed 0), xxHash32 (XXH32, seed 0)
# ===========================================================================

_KAFKA_SEED = 0x9747B28C


def murmur2_32_py(data: bytes, seed: int = 0) -> int:
    """Public-domain 32-bit MurmurHash2 (Austin Appleby)."""
    m, r = 0x5BD1E995, 24
    n = len(data)
    h = (seed ^ n) & _M32
    i = 0
    while n - i >= 4:
        k = _fetch32(data, i)
        k = (k * m) & _M32
        k ^= k >> r
        k = (k * m) & _M32
        h = (h * m) & _M32
        h ^= k
        i += 4
    rem = n - i
    if rem == 3:
        h ^= data[i + 2] << 16
    if rem >= 2:
        h ^= data[i + 1] << 8
    if rem >= 1:
        h ^= data[i]
        h = (h * m) & _M32
    h ^= h >> 13
    h = (h * m) & _M32
    h ^= h >> 15
    return h


def kafka_murmur_py(data: bytes) -> int:
    return murmur2_32_py(data, _KAFKA_SEED) & 0x7FFFFFFF


def murmur3_32_py(data: bytes, seed: int = 0) -> int:
    """MurmurHash3_x86_32 (public domain)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & _M32
    n = len(data)
    nblocks = n // 4
    for i in range(nblocks):
        k = _fetch32(data, 4 * i)
        k = (k * c1) & _M32
        k = _rotl32(k, 15)
        k = (k * c2) & _M32
        h ^= k
        h = _rotl32(h, 13)
        h = (h * 5 + 0xE6546B64) & _M32
    k = 0
    tail = data[nblocks * 4:]
    if len(tail) == 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & _M32
        k = _rotl32(k, 15)
        k = (k * c2) & _M32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h


def xxh32_py(data: bytes, seed: int = 0) -> int:
    """XXH32 (public xxHash spec), seed 0 in the reference."""
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + _P32_1 + _P32_2) & _M32
        v2 = (seed + _P32_2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P32_1) & _M32
        while i + 16 <= n:
            v1 = (_rotl32((v1 + _fetch32(data, i) * _P32_2) & _M32, 13) * _P32_1) & _M32
            v2 = (_rotl32((v2 + _fetch32(data, i + 4) * _P32_2) & _M32, 13) * _P32_1) & _M32
            v3 = (_rotl32((v3 + _fetch32(data, i + 8) * _P32_2) & _M32, 13) * _P32_1) & _M32
            v4 = (_rotl32((v4 + _fetch32(data, i + 12) * _P32_2) & _M32, 13) * _P32_1) & _M32
            i += 16
        h = (_rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12) + _rotl32(v4, 18)) & _M32
    else:
        h = (seed + _P32_5) & _M32
    h = (h + n) & _M32
    while i + 4 <= n:
        h = (_rotl32((h + _fetch32(data, i) * _P32_3) & _M32, 17) * _P32_4) & _M32
        i += 4
    while i < n:
        h = (_rotl32((h + data[i] * _P32_5) & _M32, 11) * _P32_1) & _M32
        i += 1
    h ^= h >> 15
    h = (h * _P32_2) & _M32
    h ^= h >> 13
    h = (h * _P32_3) & _M32
    h ^= h >> 16
    return h


def _murmur2_32_np(data: list[bytes], seed: int) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    m = _U32(0x5BD1E995)
    h = (_U32(seed) ^ lens.astype(np.uint32))
    pos = np.zeros(n_rows, dtype=np.int64)
    nblk = lens // 4
    for _ in range(int(nblk.max(initial=0))):
        active = pos // 4 < nblk
        if not active.any():
            break
        p = np.where(active, pos, 0)
        k = _np_fetch(buf, rows, p, 4).astype(np.uint32)
        k = k * m
        k = k ^ (k >> _U32(24))
        k = k * m
        nh = (h * m) ^ k
        h = np.where(active, nh, h)
        pos = np.where(active, pos + 4, pos)
    rem = lens - pos
    p = np.where(rem > 0, pos, 0)
    b0 = buf[rows, p].astype(np.uint32)
    b1 = buf[rows, np.minimum(p + 1, buf.shape[1] - 1)].astype(np.uint32)
    b2 = buf[rows, np.minimum(p + 2, buf.shape[1] - 1)].astype(np.uint32)
    h = np.where(rem == 3, h ^ (b2 << _U32(16)), h)
    h = np.where(rem >= 2, h ^ (b1 << _U32(8)), h)
    h = np.where(rem >= 1, (h ^ b0) * m, h)
    h = h ^ (h >> _U32(13))
    h = h * m
    return (h ^ (h >> _U32(15))).astype(np.uint64)


def _murmur2_32_seed0_np(data: list[bytes]) -> np.ndarray:
    return _murmur2_32_np(data, 0)


def _kafka_np(data: list[bytes]) -> np.ndarray:
    return _murmur2_32_np(data, _KAFKA_SEED) & _U(0x7FFFFFFF)


def _murmur3_32_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    c1, c2 = _U32(0xCC9E2D51), _U32(0x1B873593)
    h = np.zeros(n_rows, dtype=np.uint32)
    pos = np.zeros(n_rows, dtype=np.int64)
    nblk = lens // 4
    for _ in range(int(nblk.max(initial=0))):
        active = pos // 4 < nblk
        if not active.any():
            break
        p = np.where(active, pos, 0)
        k = _np_fetch(buf, rows, p, 4).astype(np.uint32)
        k = _np_rotl32(k * c1, 15) * c2
        nh = _np_rotl32(h ^ k, 13) * _U32(5) + _U32(0xE6546B64)
        h = np.where(active, nh, h)
        pos = np.where(active, pos + 4, pos)
    rem = lens - pos
    p = np.where(rem > 0, pos, 0)
    b0 = buf[rows, p].astype(np.uint32)
    b1 = buf[rows, np.minimum(p + 1, buf.shape[1] - 1)].astype(np.uint32)
    b2 = buf[rows, np.minimum(p + 2, buf.shape[1] - 1)].astype(np.uint32)
    k = np.zeros(n_rows, dtype=np.uint32)
    k = np.where(rem == 3, k ^ (b2 << _U32(16)), k)
    k = np.where(rem >= 2, k ^ (b1 << _U32(8)), k)
    k = np.where(rem >= 1, k ^ b0, k)
    k = _np_rotl32(k * c1, 15) * c2
    h = np.where(rem >= 1, h ^ k, h)
    h = h ^ lens.astype(np.uint32)
    h = h ^ (h >> _U32(16))
    h = h * _U32(0x85EBCA6B)
    h = h ^ (h >> _U32(13))
    h = h * _U32(0xC2B2AE35)
    return (h ^ (h >> _U32(16))).astype(np.uint64)


def _xxh32_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    p1, p2, p3, p4, p5 = (_U32(_P32_1), _U32(_P32_2), _U32(_P32_3),
                          _U32(_P32_4), _U32(_P32_5))
    h = np.full(n_rows, _U32(_P32_5), dtype=np.uint32)
    pos = np.zeros(n_rows, dtype=np.int64)
    big = lens >= 16
    if big.any():
        v1 = np.full(n_rows, (_P32_1 + _P32_2) & _M32, dtype=np.uint32)
        v2 = np.full(n_rows, _P32_2, dtype=np.uint32)
        v3 = np.zeros(n_rows, dtype=np.uint32)
        v4 = np.full(n_rows, (-_P32_1) & _M32, dtype=np.uint32)
        nblk = (lens // 16) * big
        for _ in range(int(nblk.max(initial=0))):
            active = pos // 16 < nblk
            if not active.any():
                break
            p = np.where(active, pos, 0)
            nv1 = _np_rotl32(v1 + _np_fetch(buf, rows, p, 4).astype(np.uint32) * p2, 13) * p1
            nv2 = _np_rotl32(v2 + _np_fetch(buf, rows, p + 4, 4).astype(np.uint32) * p2, 13) * p1
            nv3 = _np_rotl32(v3 + _np_fetch(buf, rows, p + 8, 4).astype(np.uint32) * p2, 13) * p1
            nv4 = _np_rotl32(v4 + _np_fetch(buf, rows, p + 12, 4).astype(np.uint32) * p2, 13) * p1
            v1 = np.where(active, nv1, v1)
            v2 = np.where(active, nv2, v2)
            v3 = np.where(active, nv3, v3)
            v4 = np.where(active, nv4, v4)
            pos = np.where(active, pos + 16, pos)
        hb = (_np_rotl32(v1, 1) + _np_rotl32(v2, 7)
              + _np_rotl32(v3, 12) + _np_rotl32(v4, 18))
        h = np.where(big, hb, h)
    h = h + lens.astype(np.uint32)
    for _ in range(3):
        take = pos + 4 <= lens
        if not take.any():
            break
        p = np.where(take, pos, 0)
        nh = _np_rotl32(h + _np_fetch(buf, rows, p, 4).astype(np.uint32) * p3, 17) * p4
        h = np.where(take, nh, h)
        pos = np.where(take, pos + 4, pos)
    for _ in range(3):
        take = pos < lens
        if not take.any():
            break
        p = np.where(take, pos, 0)
        nh = _np_rotl32(h + buf[rows, p].astype(np.uint32) * p5, 11) * p1
        h = np.where(take, nh, h)
        pos = np.where(take, pos + 1, pos)
    h = h ^ (h >> _U32(15))
    h = h * p2
    h = h ^ (h >> _U32(13))
    h = h * p3
    return (h ^ (h >> _U32(16))).astype(np.uint64)


# ===========================================================================
# javaHash (JavaHashImpl:514: String.hashCode over SIGNED bytes),
# javaHashUTF16LE (JavaHashUTF16LEImpl:559: over UTF-16LE code units,
# a leading 0xFFFE BOM stripped), hiveHash (HiveHashImpl:597: javaHash
# & 0x7FFFFFFF); all return Int32
# ===========================================================================


def java_hash_py(data: bytes) -> int:
    """Java String.hashCode fold over SIGNED bytes → Int32."""
    h = 0
    for b in data:
        sb = b - 256 if b >= 128 else b
        h = (31 * h + sb) & _M32
    return h - (1 << 32) if h >= (1 << 31) else h


def java_hash_utf16le_py(data: bytes) -> int:
    if len(data) >= 2 and data[0] == 0xFF and data[1] == 0xFE:
        data = data[2:]
    if len(data) % 2:
        raise ValueError("javaHashUTF16LE needs UTF-16 input")
    h = 0
    for i in range(0, len(data), 2):
        unit = data[i] | (data[i + 1] << 8)
        h = (31 * h + unit) & _M32
    return h - (1 << 32) if h >= (1 << 31) else h


def java_hash_int64_py(x: int) -> int:
    u = x & _M64
    h = (u ^ (u >> 32)) & _M32
    return h - (1 << 32) if h >= (1 << 31) else h


def hive_hash_py(data: bytes) -> int:
    return java_hash_py(data) & 0x7FFFFFFF


def _java_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    h = np.zeros(n_rows, dtype=np.uint32)
    pos = np.zeros(n_rows, dtype=np.int64)
    for _ in range(int(lens.max(initial=0))):
        active = pos < lens
        if not active.any():
            break
        p = np.where(active, pos, 0)
        sb = buf[rows, p].astype(np.int8).astype(np.uint32)  # signed byte
        nh = h * _U32(31) + sb
        h = np.where(active, nh, h)
        pos = np.where(active, pos + 1, pos)
    # reinterpret the uint32 fold as Int32, then widen (sign-preserving)
    return h.view(np.int32).astype(np.int64).astype(np.uint64)


def _java_utf16le_np(data: list[bytes]) -> np.ndarray:
    return np.array([java_hash_utf16le_py(d) for d in data], dtype=np.int64)


# ===========================================================================
# URLHash (URLHashImpl:1520), halfMD5 (HalfMD5Impl:240), jump
# consistent hash (jumpConsistentHash.cpp:11)
# ===========================================================================


def urlhash_py(data: bytes) -> int:
    """CityHash64 of the URL with ONE trailing '/', '?' or '#' dropped."""
    if data and data[-1:] in (b"/", b"?", b"#"):
        data = data[:-1]
    return cityhash64_py(data)


def halfmd5_py(data: bytes) -> int:
    """UInt64 from the FIRST 8 bytes of the MD5 digest, big-endian."""
    import hashlib

    return int.from_bytes(hashlib.md5(data).digest()[:8], "big")


def jump_consistent_hash_py(key: int, num_buckets: int) -> int:
    """Lamping-Veach (arXiv:1406.2294) over the integer key value."""
    key &= _M64
    b, j = -1, 0
    while j < num_buckets:
        b = j
        key = (key * 2862933555777941757 + 1) & _M64
        j = int((b + 1) * (float(1 << 31) / float((key >> 33) + 1)))
    return b


def _np_jump(keys: np.ndarray, buckets: np.ndarray) -> np.ndarray:
    b = np.full(len(keys), -1, dtype=np.int64)
    j = np.zeros(len(keys), dtype=np.int64)
    active = j < buckets
    while active.any():
        b = np.where(active, j, b)
        keys = np.where(active, keys * _U(2862933555777941757) + _U(1), keys)
        jf = (
            (b + 1).astype(np.float64)
            * (2147483648.0 / ((keys >> _U(33)) + _U(1)).astype(np.float64))
        ).astype(np.int64)
        j = np.where(active, jf, j)
        active = j < buckets
    return b
