"""Deterministic string-hashing kernels for dedup / fingerprinting.

Polynomial rolling hashes over fixed-length character shingles, with
MinHash signatures, SimHash, and min-window document fingerprints. The
constants here are the single source of truth: the DuckDB oracle SQL in
``__spark_entry__.py`` embeds the exact same values, so Spark and the
SQL oracle produce bit-identical integers.

All arithmetic is exact int64 (products bounded < 2^63).
"""

from __future__ import annotations

import numpy as np

from .codec import utf8_view

MOD = 1_000_000_007
BASE = 131

# Deterministic MinHash permutation parameters (seed fixed forever; the
# literal values are mirrored into oracle SQL).
_rng = np.random.RandomState(20240616)
N_PERMS = 16
PERM_A = (_rng.randint(1, MOD - 1, size=N_PERMS)).astype(np.int64)
PERM_B = (_rng.randint(0, MOD - 1, size=N_PERMS)).astype(np.int64)

SIMHASH_BITS = 16

# Deterministic-ANN constants (drawn AFTER the MinHash perms so the
# PERM values above are unchanged forever; mirrored into oracle SQL).
# PLANE_* seed the Rademacher (+1/-1) hyperplane signs for the
# hash-plane LSH mode; CENT_* rank corpus ids for IVF centroid picks.
PLANE_A = int(_rng.randint(1, MOD - 1))
PLANE_B = int(_rng.randint(0, MOD - 1))
CENT_A = int(_rng.randint(1, MOD - 1))
CENT_B = int(_rng.randint(0, MOD - 1))
# PACK_* order the deterministic pre-packing shuffle (operators/packing)
PACK_A = int(_rng.randint(1, MOD - 1))
PACK_B = int(_rng.randint(0, MOD - 1))

# Fixed-point scale for FP-free bucket/centroid decisions: both engines
# compute floor(double(v) * QUANT) — exact IEEE ops, so the int64
# projections/distances (and hence buckets and list assignments) are
# bit-identical between numpy and DuckDB with no rounding-mode hazard.
QUANT = 1_000_000


def pow_vector(length: int) -> np.ndarray:
    """[BASE^(length-1) % MOD, ..., BASE^1, BASE^0] as int64."""
    out = np.empty(length, dtype=np.int64)
    v = 1
    for j in range(length - 1, -1, -1):
        out[j] = v
        v = (v * BASE) % MOD
    return out


def shingle_hashes(text: str, width: int) -> np.ndarray:
    """Polynomial hash of every ``width``-char window of ``text``.

    h(window) = sum_j byte_j * BASE^(width-1-j) mod MOD. Returns an
    int64 array of length max(0, len(text)-width+1).
    """
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    n = data.size
    if n < width:
        return np.empty(0, dtype=np.int64)
    windows = np.lib.stride_tricks.sliding_window_view(data, width).astype(np.int64)
    return (windows @ pow_vector(width)) % MOD


def minhash_signature(text: str, width: int = 8) -> np.ndarray | None:
    """MinHash signature (N_PERMS int64 values) or None if no shingle."""
    h = shingle_hashes(text, width)
    if h.size == 0:
        return None
    # (a*h + b) % MOD per permutation; a*h < 1e9 * 1e9 < 2^63 exact
    sig = (PERM_A[:, None] * h[None, :] + PERM_B[:, None]) % MOD
    return sig.min(axis=1)


def simhash(text: str, width: int = 8, bits: int = SIMHASH_BITS) -> int | None:
    """SimHash over shingle hashes: bit b set iff sum of (+1/-1) > 0."""
    h = shingle_hashes(text, width)
    if h.size == 0:
        return None
    val = 0
    for b in range(bits):
        w = int((((h >> b) & 1) * 2 - 1).sum())
        if w > 0:
            val |= 1 << b
    return val


def fingerprint(text: str, width: int = 16) -> int | None:
    """Document fingerprint: min polynomial hash over width-char windows."""
    h = shingle_hashes(text, width)
    if h.size == 0:
        return None
    return int(h.min())


class _Pool:
    """Process-level scratch-buffer pool for the batch kernels. On this
    microVM host a fresh numpy allocation page-faults per page and costs
    10-100x the arithmetic that follows (the functions/tokenize._Arena
    measurement); the hashing kernels run once per Arrow batch in a
    long-lived python worker, so module-level buffers amortize to zero.
    One worker processes one batch at a time — no aliasing hazard as
    long as buffers never escape the kernel call (returned arrays are
    always fresh copies)."""

    def __init__(self) -> None:
        self._bufs: dict[str, np.ndarray] = {}
        self._pos: np.ndarray = np.arange(0, dtype=np.int64)

    def get(self, name: str, n: int, dtype) -> np.ndarray:
        buf = self._bufs.get(name)
        if buf is None or buf.size < n or buf.dtype != np.dtype(dtype):
            buf = np.empty(max(n, 1 << 16), dtype=dtype)
            self._bufs[name] = buf
        return buf[:n]

    def positions(self, n: int) -> np.ndarray:
        if self._pos.size < n:
            self._pos = np.arange(max(n, 1 << 16), dtype=np.int64)
        return self._pos[:n]


_POOL = _Pool()


def batch_windows(
    data: np.ndarray, offsets: np.ndarray, width: int, mod: int | None, key: str
) -> tuple[np.ndarray, np.ndarray]:
    """(row_idx, value) for every width-byte window lying inside one row
    of a ``utf8_view`` batch ``(data, offsets)``. ``mod`` set: value is
    the polynomial hash (BASE, reduced mod ``mod``); ``mod`` None: the
    window's bytes packed exactly in base 256 (injective; needs width
    <= 7). ``key`` prefixes this caller's scratch buffers in the pool.

    One numpy pass over the batch's bytes; a window is kept iff it ends
    inside its own row (the row end is the next offset). All scratch
    comes from the process-level pool (out=/take — zero steady-state
    allocations beyond the returned copies).
    """
    n_win = data.size - width + 1
    if n_win <= 0:
        e = np.empty(0, dtype=np.int64)
        return e, e.copy()
    # chunked matmul: a single .astype of the full window view costs
    # width*8 bytes of RAM per input byte (a 10 MB batch at width=16 is
    # a 1.3 GB dense matrix in every python worker — code-review r5);
    # chunking bounds the dense copy to ~16 MB (pooled, so it is paid
    # once per worker, not once per batch) while keeping the BLAS-shaped
    # inner loop. Windows spanning two rows are masked below.
    wview = np.lib.stride_tricks.sliding_window_view(data, width)
    if mod is None:
        pv = (256 ** np.arange(width - 1, -1, -1)).astype(np.int64)
    else:
        pv = pow_vector(width)
    h = _POOL.get(f"{key}_h", n_win, np.int64)
    ch = 1 << 18
    mm_flat = _POOL.get(f"{key}_mm", min(ch, n_win) * width, np.int64)
    for s in range(0, n_win, ch):
        m = min(ch, n_win - s)
        mm = mm_flat[: m * width].reshape(m, width)
        np.copyto(mm, wview[s : s + m], casting="unsafe")
        np.matmul(mm, pv, out=h[s : s + m])
        if mod is not None:
            np.mod(h[s : s + m], mod, out=h[s : s + m])
    p = _POOL.positions(n_win)
    # searchsorted 'right' lands on the row's END offset (empty rows
    # share an offset with the next row and are skipped)
    rows = np.searchsorted(offsets, p, side="right")
    # valid window <=> it ends inside its own row: p + width <= row end
    end = _POOL.get(f"{key}_end", n_win, np.int64)
    np.take(offsets, rows, out=end)
    end -= width
    rows -= 1
    ok = _POOL.get(f"{key}_ok", n_win, np.bool_)
    np.less_equal(p, end, out=ok)
    return rows[ok], h[ok]


def batch_shingle_hashes(texts, width: int) -> tuple[np.ndarray, np.ndarray]:
    """(row_idx, hash) for every width-byte window of every text
    (``shingle_hashes`` over a whole batch at once)."""
    return batch_windows(*utf8_view(texts), width, MOD, "sh")


def _row_groups(rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """rows is sorted; returns (unique_rows, group_start_indices), both
    empty for no rows. Diff-based (the old np.unique re-SORTED the
    already-sorted array every batch)."""
    n = rows.size
    mask = _POOL.get("rg_mask", n, np.bool_)
    mask[:1] = True
    np.not_equal(rows[1:], rows[:-1], out=mask[1:])
    gstart = np.flatnonzero(mask)
    return rows[gstart], gstart


def _per_row(n: int, uniq: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Scatter per-group values to ``n`` rows: (values, validity). Rows
    with no shingle are invalid and hold 0."""
    out = np.zeros((n,) + vals.shape[1:], dtype=np.int64)
    out[uniq] = vals
    valid = np.zeros(n, dtype=bool)
    valid[uniq] = True
    return out, valid


def minhash_batch(texts, width: int = 8) -> tuple[np.ndarray, np.ndarray]:
    """MinHash signatures for a batch: an (n, N_PERMS) int64 matrix and
    the validity of each row (False where the row has no shingle)."""
    rows, h = batch_shingle_hashes(texts, width)
    uniq, gstart = _row_groups(rows)
    sigs = np.empty((N_PERMS, uniq.size), dtype=np.int64)
    tmp = _POOL.get("mh_tmp", h.size, np.int64)
    for i in range(N_PERMS):
        # (a*h + b) % MOD in pooled scratch; a*h < 1e9 * 1e9 < 2^63 exact
        np.multiply(h, int(PERM_A[i]), out=tmp)
        tmp += int(PERM_B[i])
        tmp %= MOD
        np.minimum.reduceat(tmp, gstart, out=sigs[i])
    return _per_row(len(texts), uniq, sigs.T)


def simhash_batch(
    texts, width: int = 8, bits: int = SIMHASH_BITS
) -> tuple[np.ndarray, np.ndarray]:
    """SimHash values for a batch, with validity (False: no shingle)."""
    rows, h = batch_shingle_hashes(texts, width)
    uniq, gstart = _row_groups(rows)
    vals = np.zeros(uniq.size, dtype=np.int64)
    tmp = _POOL.get("sim_tmp", h.size, np.int64)
    for b in range(bits):
        # (+1/-1) per window bit, summed per row — in pooled scratch
        np.right_shift(h, b, out=tmp)
        tmp &= 1
        tmp *= 2
        tmp -= 1
        w = np.add.reduceat(tmp, gstart)
        vals |= (w > 0).astype(np.int64) << b
    return _per_row(len(texts), uniq, vals)


def fingerprint_batch(texts, width: int = 16) -> tuple[np.ndarray, np.ndarray]:
    """Min-window rolling-hash fingerprints, with validity (False: the
    row is shorter than ``width`` bytes)."""
    rows, h = batch_shingle_hashes(texts, width)
    uniq, gstart = _row_groups(rows)
    return _per_row(len(texts), uniq, np.minimum.reduceat(h, gstart))


def sql_literals() -> dict[str, str]:
    """Constants formatted for embedding into oracle SQL."""
    return {
        "mod": str(MOD),
        "base": str(BASE),
        "perm_a": ", ".join(str(int(x)) for x in PERM_A),
        "perm_b": ", ".join(str(int(x)) for x in PERM_B),
    }
