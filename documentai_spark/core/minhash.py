"""MinHash signatures over w-token shingles (pure Python + numpy).

The semantics are Spark's, so the batch path's JVM engine
(``operators.dedup.minhash_signatures_agg``) and this kernel agree bit
for bit:

- ``shingles(norm, w)`` — the distinct w-token windows of an already
  normalized text (``operators.dedup.normalized_text``), split on the
  literal space, first-occurrence order (``array_distinct``). A text of
  fewer than w tokens is its own single shingle; NULL reads as "".
- permutation i hashes a shingle as ``F.xxhash64(F.lit(i), shingle)``:
  Spark's XXH64 chains its children, so the int i is hashed with seed
  42 (``XXH64.hashInt``) and that hash seeds ``XXH64.hashUnsafeBytes``
  over the shingle's UTF-8 bytes.
- the signature is the per-permutation minimum, taken SIGNED (Spark's
  ``least``/``min`` on longs).

``xxhash64_matrix`` is a numpy port of ``hashUnsafeBytes`` (32-byte
stripes, then 8-byte little-endian words, then one 4-byte word, then
tail bytes, then ``fmix``), vectorized over shingles of one byte length
times all k seeds. The 8-byte word term does not depend on the seed, so
it is computed once per shingle. Hashing runs in chunks of at most
``_CHUNK`` shingles so a batch's peak memory stays at
``_CHUNK * k * 8`` bytes per temporary, whatever the documents' sizes.
"""

from __future__ import annotations

import numpy as np

_U1 = np.uint64(0x9E3779B185EBCA87)      # XXH64's primes
_U2 = np.uint64(0xC2B2AE3D27D4EB4F)
_U3 = np.uint64(0x165667B19E3779F9)
_U4 = np.uint64(0x85EBCA77C2B2AE63)
_U5 = np.uint64(0x27D4EB2F165667C5)
_SPARK_SEED = 42        # the seed Spark's xxhash64 expression starts from
_CHUNK = 4096           # shingles hashed at once (x k lanes)


def shingles(norm: str | None, w: int = 3) -> list[str]:
    """Distinct w-token shingles of pre-normalized text, in first
    occurrence order."""
    s = norm or ""
    toks = s.split(" ")
    if len(toks) >= w:
        sh = [" ".join(toks[i:i + w]) for i in range(len(toks) - w + 1)]
    else:
        sh = [s]
    return list(dict.fromkeys(sh))


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(h: np.ndarray, r: int, mul: np.uint64, add, tmp: np.ndarray):
    """In place: h = rotl(h, r) * mul (+ add). ``tmp`` is scratch of
    h's shape, so a step allocates nothing."""
    np.right_shift(h, np.uint64(64 - r), out=tmp)
    h <<= np.uint64(r)
    h |= tmp
    h *= mul
    if add is not None:
        h += add


def xxhash64_matrix(mat: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """XXH64 of each row of ``mat`` (n x L uint8, every row one L-byte
    string) under each seed: an (n, k) uint64 array."""
    n, length = mat.shape
    shape = (n, len(seeds))
    n_words = length // 8
    words = np.ascontiguousarray(mat[:, :n_words * 8]).view("<u8")
    tmp = np.empty(shape, np.uint64)
    w = 0
    if length >= 32:
        v = [np.broadcast_to(s, shape).copy()
             for s in (seeds + _U1 + _U2, seeds + _U2, seeds,
                       seeds - _U1)]
        for _ in range(length // 32):
            for j in range(4):
                v[j] += (words[:, w + j] * _U2)[:, None]
                _round(v[j], 31, _U1, None, tmp)
            w += 4
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) \
            + _rotl(v[3], 18)
        for vj in v:
            vj *= _U2
            _round(vj, 31, _U1, None, tmp)
            h ^= vj
            h *= _U1
            h += _U4
    else:
        h = np.broadcast_to(seeds + _U5, shape).copy()
    h += np.uint64(length)
    for j in range(w, n_words):
        # the word term is seed-independent: once per shingle
        h ^= (_rotl(words[:, j] * _U2, 31) * _U1)[:, None]
        _round(h, 27, _U1, _U4, tmp)
    off = n_words * 8
    if length - off >= 4:
        x = (np.ascontiguousarray(mat[:, off:off + 4]).view("<u4")[:, 0]
             .astype(np.uint64))
        h ^= (x * _U1)[:, None]
        _round(h, 23, _U2, _U3, tmp)
        off += 4
    for j in range(off, length):
        h ^= (mat[:, j].astype(np.uint64) * _U5)[:, None]
        _round(h, 11, _U1, None, tmp)
    for r, mul in ((33, _U2), (29, _U3), (32, None)):   # fmix
        np.right_shift(h, np.uint64(r), out=tmp)
        h ^= tmp
        if mul is not None:
            h *= mul
    return h


def permutation_seeds(num_hashes: int) -> np.ndarray:
    """uint64 seeds of permutations 0..num_hashes-1: ``XXH64.hashInt(i,
    42)``, which is ``hashUnsafeBytes`` over i's 4 little-endian bytes."""
    ints = np.arange(num_hashes, dtype="<u4").view(np.uint8)
    return xxhash64_matrix(ints.reshape(-1, 4),
                           np.array([_SPARK_SEED], np.uint64))[:, 0]


def _hash_strings(enc: list[bytes], seeds: np.ndarray) -> np.ndarray:
    """(len(enc), k) uint64 hashes, one length group at a time."""
    lens = np.fromiter(map(len, enc), np.int64, len(enc))
    buf = np.frombuffer(b"".join(enc), np.uint8)
    starts = np.zeros(len(enc), np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    out = np.empty((len(enc), len(seeds)), np.uint64)
    for length in np.unique(lens):
        idx = np.flatnonzero(lens == length)
        mat = buf[starts[idx, None] + np.arange(length)]
        out[idx] = xxhash64_matrix(mat, seeds)
    return out


def signatures(norms, num_hashes: int, w: int = 3) -> np.ndarray:
    """(len(norms), num_hashes) int64 MinHash signatures of normalized
    texts (None reads as "")."""
    seeds = permutation_seeds(num_hashes)
    flat: list[str] = []
    counts = []
    for s in norms:
        sh = shingles(s, w)
        flat.extend(sh)
        counts.append(len(sh))
    sig = np.full((len(counts), num_hashes), np.iinfo(np.int64).max,
                  np.int64)
    doc_of = np.repeat(np.arange(len(counts)), counts)
    for a in range(0, len(flat), _CHUNK):
        enc = [s.encode() for s in flat[a:a + _CHUNK]]
        h = _hash_strings(enc, seeds).view(np.int64)
        d = doc_of[a:a + len(enc)]
        seg = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
        docs = d[seg]
        sig[docs] = np.minimum(sig[docs],
                               np.minimum.reduceat(h, seg, axis=0))
    return sig
