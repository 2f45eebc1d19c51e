"""Token codec: 2-bit packed fixed-k character n-grams ("k-mers").

Pure-numpy re-derivation of the reference encoding semantics
(kmertools: kmer/src/kmer.rs:6-15 SEQ_NT4_TABLE, :43-52 rev_comp,
:54-73 kmer_pos_maps; kmer/src/lib.rs:19-50 codecs). This module is the
*oracle*: it defines ground truth for every Spark kernel in this repo.

Alphabet: the 4-symbol quantized alphabet {A,C,G,T} with U==T and
case-insensitive mapping; every other byte is out-of-vocabulary (OOV,
code 4) and splits token runs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

__all__ = [
    "SEQ_NT4",
    "utf8_view",
    "rev_comp",
    "rev_comp_scalar",
    "kmer_pos_maps",
    "numeric_to_kmer",
    "kmer_to_numeric",
]

# 256-entry byte -> 2-bit code table; 4 == OOV/ambiguous.
# Semantics match kmer/src/kmer.rs:6-15 (A=0, C=1, G=2, T=3, U=3,
# case-insensitive, everything else 4) INCLUDING the minimap2 quirk the
# table inherits: raw bytes 0x00-0x03 map to codes 0-3 (pre-2-bit-
# encoded input is accepted as-is). Code-review r5 — the engine used to
# treat those bytes as OOV, silently diverging from the reference on
# any input containing them. The char-based DuckDB oracle treats them
# as OOV, so oracle validity now requires corpora free of bytes
# 0x00-0x03 as well as non-ASCII (tests/test_ascii_boundary.py).
SEQ_NT4 = np.full(256, 4, dtype=np.uint8)
SEQ_NT4[0:4] = (0, 1, 2, 3)
for _ch, _code in (("A", 0), ("C", 1), ("G", 2), ("T", 3), ("U", 3)):
    SEQ_NT4[ord(_ch)] = _code
    SEQ_NT4[ord(_ch.lower())] = _code

_U2 = np.uint64(2)
_U3 = np.uint64(3)


def utf8_view(texts) -> tuple[np.ndarray, np.ndarray]:
    """The UTF-8 bytes of a batch of texts: ``(data, offsets)``.

    Row *i* is ``data[offsets[i]:offsets[i + 1]]``; ``data`` is uint8,
    ``offsets`` int64 with ``offsets[0] == 0``. This is the one way text
    enters a batch kernel. An Arrow ``string`` / ``large_string`` array is
    read in place from its offset and data buffers (no per-row Python
    object); any other sequence is converted once to ``large_string``.
    A NULL reads as '' — also when its slot spans bytes, which Arrow
    allows, so those bytes are dropped.
    """
    if not isinstance(texts, pa.Array):
        texts = pa.array(texts, pa.large_string())
    n = len(texts)
    if n == 0:  # an empty array may carry empty or no buffers
        return np.empty(0, np.uint8), np.zeros(1, np.int64)
    _, obuf, dbuf = texts.buffers()
    odt = np.int64 if pa.types.is_large_string(texts.type) else np.int32
    offsets = np.frombuffer(obuf, odt)[texts.offset : texts.offset + n + 1].astype(np.int64)
    lo, hi = int(offsets[0]), int(offsets[-1])
    data = np.frombuffer(dbuf, dtype=np.uint8)[lo:hi] if hi > lo else np.empty(0, np.uint8)
    offsets -= lo
    if texts.null_count:
        lens = np.diff(offsets)
        null = texts.is_null().to_numpy(zero_copy_only=False)
        if lens[null].any():
            data = data[np.repeat(~null, lens)]
            lens[null] = 0
            np.cumsum(lens, out=offsets[1:])
    return data, offsets


def rev_comp(kmers: np.ndarray, k: int) -> np.ndarray:
    """Vectorized reverse complement of 2-bit packed k-mers.

    Semantics of kmer/src/kmer.rs:43-52: reverse the k 2-bit groups and
    XOR each with 3.
    """
    v = np.asarray(kmers, dtype=np.uint64)
    out = np.zeros_like(v)
    for _ in range(k):
        out = (out << _U2) | ((v & _U3) ^ _U3)
        v = v >> _U2
    return out


def rev_comp_scalar(kmer: int, k: int) -> int:
    """Scalar reverse complement (python ints, exact)."""
    out = 0
    for _ in range(k):
        out = (out << 2) | ((kmer & 3) ^ 3)
        kmer >>= 2
    return out


def kmer_pos_maps(k: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Dense perfect-hash slot index for canonical k-mers.

    Returns ``(pos_map, pos_to_kmer, count)`` where ``pos_map`` is an
    int64 array of size 4**k mapping any canonical k-mer value to its
    slot, ``pos_to_kmer`` is the int64 inverse (slot -> canonical k-mer),
    and ``count`` is the number of canonical slots
    (4^k/2 + 4^(k/2)/2 palindromes; 136 for k=4).

    Semantics of kmer/src/kmer.rs:54-73: slots are assigned in sorted
    order of the distinct canonical values.
    """
    domain = np.arange(4**k, dtype=np.uint64)
    canon = np.minimum(domain, rev_comp(domain, k))
    uniq = np.unique(canon)  # sorted distinct canonical values
    count = int(uniq.size)
    pos_map = np.zeros(4**k, dtype=np.int64)
    pos_map[uniq.astype(np.int64)] = np.arange(count, dtype=np.int64)
    # pos_map is only meaningful at canonical values; expand so that any
    # k-mer (canonical or not) maps through its canonical form:
    pos_map = pos_map[canon.astype(np.int64)]
    return pos_map, uniq.astype(np.int64), count


def numeric_to_kmer(kmer: int, k: int) -> str:
    """Decode a packed k-mer to its ACGT string (kmer/src/lib.rs:19-34)."""
    chars = []
    v = int(kmer)
    for _ in range(k):
        chars.append("ACGT"[v & 3])
        v >>= 2
    return "".join(reversed(chars))


def kmer_to_numeric(kmer: str) -> tuple[int, int]:
    """Encode a string to (fwd, rc) packed values (kmer/src/lib.rs:36-50).

    EXACT parity including OOV characters (code-review r4 — the old
    ValueError deviation broke the pykmertools drop-in contract): the
    reference folds SEQ_NT4_TABLE's code 4 straight into the u64 bit
    math — `(fval << 2) | 4` masked to 2k bits, and the rc code 4^3=7
    can even carry past the 2k mask exactly as Rust's u64 arithmetic
    does. Only the Python binding's length check raises
    (pybindings/src/kmer.rs:56-65).

    Mixed units, faithfully mirrored (code-review r5): the reference
    computes shift/mask/length from `kmer.len()` — BYTE length — while
    iterating `kmer.chars()`; for pure ASCII the two coincide, for
    chars U+0080-U+00FF they intentionally diverge here exactly as in
    Rust, and a char above U+00FF raises (the reference's
    `SEQ_NT4_TABLE[c as usize]` panics on the out-of-bounds index).
    An empty k-mer returns (0, 0) rather than mirroring the
    reference's `len() - 1` usize-underflow panic.
    """
    nbytes = len(kmer.encode("utf-8"))
    if nbytes > 32:
        raise ValueError("k-mer size must be <= 32")
    fval = 0
    rval = 0
    shift = 2 * (nbytes - 1)
    mask = (1 << (2 * nbytes)) - 1
    u64 = (1 << 64) - 1
    for ch in kmer:
        o = ord(ch)
        if o > 0xFF:
            raise ValueError(
                f"invalid k-mer character {ch!r} (the reference panics: "
                "SEQ_NT4_TABLE index out of bounds)"
            )
        c = int(SEQ_NT4[o])
        fval = ((fval << 2) | c) & mask
        rval = ((rval >> 2) | ((c ^ 3) << shift)) & u64
    return fval, rval
