"""Vectorized numpy kernels over batches of texts.

These are the compute kernels shared by the numpy oracle (ground truth
for pytest) and the Spark Arrow UDFs / mapInArrow generators
(kmertools_spark.functions). All kernels are batch-vectorized: a batch
of texts enters through ``codec.utf8_view``, which reads an Arrow string
column's data and offset buffers in place (a Python list is converted
once), and one numpy pass runs over those bytes — no per-row Python
object in the hot path.

Semantics re-derived from the reference (see per-function citations):
  - rolling k-mer tokenizer with OOV run-splitting: kmer/src/kmer.rs:77-107
  - composition vectors + L1 norm:                  composition/src/oligo.rs:231-259
  - python-binding raw-mode norm quirk (total+=2):  pybindings/src/oligo.rs:59-63
  - coverage histograms:                            coverage/src/lib.rs:165-184
  - minimizer runs (windowed sliding-min RLE):      kmer/src/minimiser.rs:58-176
  - CGR trajectory (affine prefix scan):            composition/src/cgr.rs:127-144
"""

from __future__ import annotations

import numpy as np

from .codec import SEQ_NT4, kmer_pos_maps, utf8_view
from .hashing import _Pool, batch_windows

# process-level scratch pool (see hashing._Pool: fresh numpy allocations
# page-fault per page on this host and cost 10-100x the arithmetic).
# Buffers never escape a kernel call — every returned array is a fresh
# copy (flatnonzero / fancy-index / astype / bincount outputs).
_POOL = _Pool()

__all__ = [
    "concat_codes",
    "kmer_windows",
    "composition_matrix",
    "coverage_matrix",
    "SortedCountLookup",
    "minimiser_runs",
    "minimiser_runs_batch",
    "cgr_trajectory",
    "cgr_batch",
    "whole_record_minimisers",
    "kmer_minimiser_runs",
    "repetition_batch",
    "MINIMISER_SENTINEL",
]

# The reference emits u64::MAX for a never-filled window at end of
# sequence (kmer/src/minimiser.rs:159 never ran + :168-171 tail flush).
# u64::MAX does not fit int64; we map it to -1 (documented deviation).
MINIMISER_SENTINEL = -1


def concat_codes(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Encode a batch of texts (``utf8_view``) into one code array.

    Returns ``(codes, starts, lens)``: rows are separated by one OOV
    code (4) so that no k-mer window can span two rows;
    ``starts[i]``/``lens[i]`` locate row *i* inside ``codes``. None is
    treated as the empty string.
    """
    data, offsets = utf8_view(texts)
    codes = np.insert(SEQ_NT4[data], offsets[1:-1], 4)
    starts = offsets[:-1] + np.arange(offsets.size - 1)
    return codes, starts, np.diff(offsets)


def kmer_windows(
    codes: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All valid k-mer windows of a code array.

    Returns ``(pos, fwd, rc)`` where ``pos`` is the window start offset,
    ``fwd``/``rc`` the 2-bit packed forward / reverse-complement values
    in the NARROWEST unsigned dtype holding 2k bits (uint32 for k <= 16,
    uint64 above — the shift-accumulate loop is memory-bandwidth-bound,
    so halving the element width is ~1.8x measured; callers cast to
    int64 at use). A window is valid iff all k codes are < 4, which is
    exactly the reference's run-length-reset rule
    (kmer/src/kmer.rs:91-105): an OOV character drops every k-mer
    covering it.
    """
    n = codes.size
    dt = np.uint32 if k <= 16 else np.uint64
    if n < k:
        e = np.empty(0, np.int64)
        return e, e.astype(dt), e.astype(dt)
    c = _POOL.get("kw_c", n, dt)
    np.copyto(c, codes, casting="unsafe")
    comp = _POOL.get("kw_comp", n, dt)
    np.bitwise_xor(c, dt(3), out=comp)  # complement (OOV 4 -> 7, filtered below)
    m = n - k + 1
    two = dt(2)
    f = _POOL.get("kw_f", m, dt)
    f.fill(0)
    r = _POOL.get("kw_r", m, dt)
    r.fill(0)
    # in-place shift-accumulate: ~4x faster than the allocating form
    for j in range(k):
        np.left_shift(f, two, out=f)
        np.bitwise_or(f, c[j : j + m], out=f)
    for j in range(k - 1, -1, -1):
        np.left_shift(r, two, out=r)
        np.bitwise_or(r, comp[j : j + m], out=r)
    ge = _POOL.get("kw_ge", n, np.bool_)
    np.greater_equal(codes, 4, out=ge)
    bad = _POOL.get("kw_bad", n + 1, np.int64)
    bad[0] = 0
    np.cumsum(ge, out=bad[1:])
    # window valid <=> no OOV inside <=> cumsum equal at both ends
    valid = _POOL.get("kw_valid", m, np.bool_)
    np.equal(bad[k:], bad[:-k], out=valid)
    pos = np.flatnonzero(valid)
    return pos, f[pos], r[pos]


def composition_matrix(
    texts,
    k: int,
    canonical: bool = True,
    norm: bool = True,
    pos_map: np.ndarray | None = None,
    kcount: int | None = None,
    binding_quirk: bool = False,
) -> np.ndarray:
    """Per-row dense composition vectors, shape (len(texts), kcount).

    canonical=True counts min(fwd, rc) into the perfect-hash slot
    (composition/src/oligo.rs:242-248); canonical=False counts the
    forward k-mer over the full 4**k domain (:249-252). norm divides by
    max(1, total) (:255-257). ``binding_quirk`` replicates the Python
    binding's raw-mode normalization where total increments by 2 per
    k-mer (pybindings/src/oligo.rs:59-63) — only meaningful when
    canonical=False and norm=True.
    """
    if canonical and pos_map is None:
        pos_map, _, kcount = kmer_pos_maps(k)
    if not canonical:
        kcount = 4**k
    assert kcount is not None
    nrows = len(texts)
    codes, starts, _lens = concat_codes(texts)
    pos, f, r = kmer_windows(codes, k)
    rows = np.searchsorted(starts, pos, side="right")
    rows -= 1
    if canonical:
        mn = _POOL.get("cm_mn", f.size, f.dtype)
        np.minimum(f, r, out=mn)
        idx = _POOL.get("cm_idx", f.size, np.int64)
        np.take(pos_map, mn, out=idx)
    else:
        idx = _POOL.get("cm_idx", f.size, np.int64)
        np.copyto(idx, f, casting="unsafe")
    # bincount key built in place over `rows` (not needed afterwards)
    np.multiply(rows, kcount, out=rows)
    np.add(rows, idx, out=rows)
    flat = np.bincount(rows, minlength=nrows * kcount)
    mat = flat.reshape(nrows, kcount).astype(np.float64)
    if norm:
        totals = mat.sum(axis=1)
        if binding_quirk and not canonical:
            totals = totals * 2.0
        mat /= np.maximum(1.0, totals)[:, None]
    return mat


class SortedCountLookup:
    """Vectorized (k-mer -> count) lookup with 0 default.

    Equivalent of the reference's global count HashMap probe with
    ``unwrap_or(&0)`` (coverage/src/lib.rs:171). Keys are kept sorted;
    probes use searchsorted — O(log n) vectorized, no Python dict.
    """

    def __init__(self, kmers: np.ndarray, counts: np.ndarray):
        order = np.argsort(kmers, kind="stable")
        self.keys = np.asarray(kmers, dtype=np.int64)[order]
        self.vals = np.asarray(counts, dtype=np.int64)[order]

    def get(self, probes: np.ndarray) -> np.ndarray:
        probes = np.asarray(probes, dtype=np.int64)
        idx = np.searchsorted(self.keys, probes)
        idx = np.minimum(idx, self.keys.size - 1) if self.keys.size else idx
        if self.keys.size == 0:
            return np.zeros(probes.size, dtype=np.int64)
        hit = self.keys[idx] == probes
        return np.where(hit, self.vals[idx], 0)


def coverage_matrix(
    texts,
    k: int,
    lookup: SortedCountLookup,
    bin_size: int,
    bin_count: int,
    norm: bool = True,
) -> np.ndarray:
    """Per-row histograms of global k-mer abundances.

    bin = min(floor(count / bin_size), bin_count - 1) per canonical
    k-mer occurrence; optional L1 norm (coverage/src/lib.rs:165-184).
    """
    nrows = len(texts)
    codes, starts, _lens = concat_codes(texts)
    pos, f, r = kmer_windows(codes, k)
    rows = np.searchsorted(starts, pos, side="right") - 1
    canon = np.minimum(f, r).astype(np.int64)
    cnt = lookup.get(canon)
    bins = np.minimum(cnt // bin_size, bin_count - 1)
    flat = np.bincount(rows * bin_count + bins, minlength=nrows * bin_count)
    mat = flat.reshape(nrows, bin_count).astype(np.float64)
    if norm:
        totals = mat.sum(axis=1)
        mat /= np.maximum(1.0, totals)[:, None]
    return mat


def _segment_runs(
    seg_f: np.ndarray,
    seg_r: np.ndarray,
    s0: int,
    s1: int,
    w: int,
    m: int,
    n: int,
) -> list[tuple[int, int, int]]:
    """Minimizer runs for one OOV-free segment [s0, s1) of a text.

    Vectorized re-derivation of the reference deque state machine
    (kmer/src/minimiser.rs:58-176): the emitted records are exactly the
    value-based run-length encoding of the sliding-window minimum over
    canonical m-mer values, with these span rules:
      * run r starts at the segment start (first run) or at the first
        char of the first window carrying the new min (:135, :147);
      * run r ends (exclusive) at the char where the next change is
        detected (:130-133), at the OOV char on flush (:84-99), or at
        the text length on tail flush (:168-171);
      * a change detected exactly at the last char of the text loses the
        final run (the iterator returns before the tail flush — faithful
        quirk);
      * a segment whose window never fills (L < w) emits nothing on OOV
        flush, but at end-of-text emits a single sentinel record
        (u64::MAX in the reference; -1 here) when at least one m-mer
        exists (:159 never ran + :168-171).
    """
    L = s1 - s0
    out: list[tuple[int, int, int]] = []
    if L < m:
        return out
    mvals = np.minimum(seg_f, seg_r).astype(np.int64)
    K = mvals.size  # == L - m + 1
    W = w - m + 1
    ends_at_text_end = s1 == n
    if K < W:
        if ends_at_text_end:
            out.append((MINIMISER_SENTINEL, s0, n))
        return out
    # sliding minimum over windows of W m-mer values
    if W == 1:
        sw = mvals
    else:
        sw = np.lib.stride_tricks.sliding_window_view(mvals, W).min(axis=1)
    # value-based RLE over window minima
    change = np.flatnonzero(np.diff(sw)) + 1  # local window index of each new run
    run_starts = np.concatenate(([0], change))  # first window of each run
    R = run_starts.size
    for j in range(R):
        a = int(run_starts[j])
        start = s0 if j == 0 else s0 + a
        if j < R - 1:
            nxt = int(run_starts[j + 1])
            end = s0 + nxt + w - 1  # char where change was detected
            out.append((int(sw[a]), start, end))
        else:
            last_window_end = a + w - 1  # local char index of run's 1st window end
            if ends_at_text_end:
                if R >= 2 and last_window_end == L - 1:
                    # change fired at the very last char: final run lost
                    continue
                out.append((int(sw[a]), start, n))
            else:
                out.append((int(sw[a]), start, s1))
    return out


def minimiser_runs(text: str | bytes, w: int, m: int) -> list[tuple[int, int, int]]:
    """All minimizer runs of one text: (canonical m-mer, start, end).

    ``w == 0`` means whole-record window (misc/src/minimisers.rs:44-48):
    the window size becomes len(text).
    """
    data = text.encode("utf-8") if isinstance(text, str) else bytes(text)
    n = len(data)
    if n == 0:
        return []
    w_eff = n if w == 0 else w
    if w_eff < m:
        return []
    codes = SEQ_NT4[np.frombuffer(data, dtype=np.uint8)]
    bad = codes >= 4
    out: list[tuple[int, int, int]] = []
    # segment boundaries: maximal runs of valid codes
    boundary = np.flatnonzero(bad)
    seg_edges = np.concatenate(([-1], boundary, [n]))
    # all m-mer windows once for the whole text
    pos, f, r = kmer_windows(codes, m)
    for i in range(seg_edges.size - 1):
        s0 = int(seg_edges[i]) + 1
        s1 = int(seg_edges[i + 1])
        if s1 - s0 < m:
            # reference tail-flush needs >= m valid chars at text end
            continue
        lo, hi = np.searchsorted(pos, [s0, s1 - m + 1])
        out.extend(_segment_runs(f[lo:hi], r[lo:hi], s0, s1, w_eff, m, n))
    return out


def whole_record_minimisers(
    texts, m: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batch w=0 (whole-record window) minimizers, fully vectorized.

    Replicates misc/src/minimisers.rs:44-48 + the w=len state machine:
      * a fully in-vocabulary text of length >= m emits exactly one
        record (global min canonical m-mer, 0, len);
      * a text containing any OOV char can never fill its window, so the
        only emission is the end-of-text sentinel (-1, tail_start, len)
        when the trailing OOV-free run has >= m chars;
      * texts shorter than m emit nothing (the reference would panic on
        wsize < msize; we define it as empty).

    Returns (row_idx, mmer, start, end) int64 arrays.
    """
    nrows = len(texts)
    codes, starts, lens = concat_codes(texts)
    # last OOV char per row, -1 if none (the separators between rows sit
    # at local offset == lens[row] and are excluded)
    bad_pos = np.flatnonzero(codes >= 4)
    brow = np.searchsorted(starts, bad_pos, side="right") - 1
    local = bad_pos - starts[brow]
    inside = local < lens[brow]
    last_bad = np.full(nrows, -1, dtype=np.int64)
    np.maximum.at(last_bad, brow[inside], local[inside])
    row_oov = last_bad >= 0

    out_rows: list[np.ndarray] = []
    out_vals: list[np.ndarray] = []
    out_s: list[np.ndarray] = []
    out_e: list[np.ndarray] = []

    # clean rows: global min canonical m-mer
    pos, f, r = kmer_windows(codes, m)
    if pos.size:
        rows = np.searchsorted(starts, pos, side="right") - 1
        canon = np.minimum(f, r).astype(np.int64)
        clean_mask = ~row_oov[rows] & (lens[rows] >= m)
        crows = rows[clean_mask]
        cvals = canon[clean_mask]
        if crows.size:
            uniq, idx_start = np.unique(crows, return_index=True)
            mins = np.minimum.reduceat(cvals, idx_start)
            out_rows.append(uniq)
            out_vals.append(mins)
            out_s.append(np.zeros(uniq.size, dtype=np.int64))
            out_e.append(lens[uniq])

    # OOV rows: sentinel for a trailing valid run of >= m chars
    oov_rows = np.flatnonzero(row_oov & (lens >= m))
    if oov_rows.size:
        tail_start = last_bad[oov_rows] + 1
        tail_len = lens[oov_rows] - tail_start
        emit = tail_len >= m
        er = oov_rows[emit]
        if er.size:
            out_rows.append(er)
            out_vals.append(np.full(er.size, MINIMISER_SENTINEL, dtype=np.int64))
            out_s.append(tail_start[emit])
            out_e.append(lens[er])

    if not out_rows:
        e = np.empty(0, np.int64)
        return e, e.copy(), e.copy(), e.copy()
    rr = np.concatenate(out_rows)
    order = np.argsort(rr, kind="stable")
    return (
        rr[order],
        np.concatenate(out_vals)[order],
        np.concatenate(out_s)[order],
        np.concatenate(out_e)[order],
    )


def kmer_minimiser_runs(
    text: str | bytes, w: int, m: int
) -> list[tuple[int, int, int, list[int]]]:
    """W3: minimizer runs + the canonical w-size k-mers of each run.

    Re-derivation of KmerMinimiserGenerator (kmer/src/kmer_minimisers.rs:
    69-205): the per-run k_buff collects every canonical w-mer seen since
    the previous emission (or OOV flush), so run j's k-mers are exactly
    the canonical w-size windows whose end position lies in
    (emission_{j-1}, emission_j]. Emission position == the emitted run's
    exclusive end (change char / OOV char / text end) in every case;
    w-mers after the final emission are dropped (lost-final-run quirk).
    """
    data = text.encode("utf-8") if isinstance(text, str) else bytes(text)
    n = len(data)
    runs = minimiser_runs(data, w, m)
    if not runs or n == 0:
        return [(v, s, e, []) for v, s, e in runs]
    w_eff = n if w == 0 else w
    codes = SEQ_NT4[np.frombuffer(data, dtype=np.uint8)]
    pos, f, r = kmer_windows(codes, w_eff)
    ends = pos + w_eff - 1
    canon = np.minimum(f, r).astype(np.int64)
    bounds = np.asarray([e for _, _, e in runs], dtype=np.int64)
    assign = np.searchsorted(bounds, ends, side="left")
    out = []
    for j, (v, s, e) in enumerate(runs):
        out.append((v, s, e, canon[assign == j].tolist()))
    return out


def minimiser_runs_batch(
    texts, w: int, m: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batch minimizer runs: (row_idx, mmer, start, end) int64 arrays.

    Fully vectorized ACROSS rows: one concat-codes pass, one global
    m-mer scan, one global sliding-window minimum, and one RLE over all
    OOV-free segments of all texts at once — the per-row Python loop
    this replaces paid kernel setup per text. Semantics are exactly
    ``minimiser_runs(t, w, m)`` per row (property-tested), emitted in
    (row, win_start) order — the per-text emission order.
    """
    e = np.empty(0, np.int64)
    empty = (e, e.copy(), e.copy(), e.copy())
    if len(texts) == 0:
        return empty
    if w == 0:
        # whole-record window (per-row w_eff = len): dedicated kernel
        return whole_record_minimisers(texts, m)
    if w < m:
        return empty  # w_eff < m emits nothing for every row

    W = w - m + 1
    codes, starts, lens = concat_codes(texts)
    pos, f, r = kmer_windows(codes, m)
    G = pos.size
    if G == 0:
        return empty
    mvals = np.minimum(f, r).astype(np.int64)
    rows_of = np.searchsorted(starts, pos, side="right") - 1

    # segments = maximal contiguous valid-window runs (separators and
    # OOV chars both break pos contiguity; every segment is row-local)
    newseg = np.empty(G, dtype=bool)
    newseg[0] = True
    np.not_equal(pos[1:], pos[:-1] + 1, out=newseg[1:])
    seg_of = np.cumsum(newseg) - 1
    g0_idx = np.flatnonzero(newseg)  # first global window idx per segment
    S = g0_idx.size
    seg_counts = np.diff(np.append(g0_idx, G))  # K (m-mers per segment)
    seg_row = rows_of[g0_idx]
    s0_local = pos[g0_idx] - starts[seg_row]
    last_idx = np.append(g0_idx[1:], G) - 1
    s1_local = pos[last_idx] + m - starts[seg_row]
    n_local = lens[seg_row]
    at_end = s1_local == n_local

    out_rows: list[np.ndarray] = []
    out_vals: list[np.ndarray] = []
    out_s: list[np.ndarray] = []
    out_e: list[np.ndarray] = []

    # full windows: segment-local index a <= K - W
    a_of = np.arange(G, dtype=np.int64) - g0_idx[seg_of]
    full_idx = np.flatnonzero(a_of <= seg_counts[seg_of] - W)
    if full_idx.size:
        if W == 1:
            sw_all = mvals
        else:
            sw_all = np.lib.stride_tricks.sliding_window_view(mvals, W).min(axis=1)
        sw = sw_all[full_idx]
        segf = seg_of[full_idx]
        # RLE boundaries: first full window of a segment or value change
        chg = np.empty(full_idx.size, dtype=bool)
        chg[0] = True
        np.logical_or(segf[1:] != segf[:-1], sw[1:] != sw[:-1], out=chg[1:])
        run_pos = np.flatnonzero(chg)
        run_seg = segf[run_pos]
        run_val = sw[run_pos]
        run_a = full_idx[run_pos] - g0_idx[run_seg]
        next_a = np.full(run_pos.size, -1, dtype=np.int64)
        if run_pos.size > 1:
            same = run_seg[1:] == run_seg[:-1]
            next_a[:-1][same] = run_a[1:][same]
        is_final = next_a < 0
        runs_per_seg = np.bincount(run_seg, minlength=S)
        seg_s0 = s0_local[run_seg]
        seg_s1 = s1_local[run_seg]
        seg_n = n_local[run_seg]
        seg_end = at_end[run_seg]
        win_start = seg_s0 + run_a
        win_end = np.where(
            ~is_final,
            seg_s0 + next_a + w - 1,  # char where the change was detected
            np.where(seg_end, seg_n, seg_s1),  # tail flush / OOV flush
        )
        # lost-final-run quirk: change detected at the very last char
        lost = (
            is_final
            & seg_end
            & (runs_per_seg[run_seg] >= 2)
            & (run_a + w - 1 == seg_s1 - seg_s0 - 1)
        )
        keep = ~lost
        out_rows.append(seg_row[run_seg][keep])
        out_vals.append(run_val[keep])
        out_s.append(win_start[keep])
        out_e.append(win_end[keep])

    # never-filled-window sentinel at end of text
    sent = np.flatnonzero((seg_counts < W) & at_end)
    if sent.size:
        out_rows.append(seg_row[sent])
        out_vals.append(np.full(sent.size, MINIMISER_SENTINEL, dtype=np.int64))
        out_s.append(s0_local[sent])
        out_e.append(n_local[sent])

    if not out_rows:
        return empty
    rr = np.concatenate(out_rows).astype(np.int64)
    vv = np.concatenate(out_vals).astype(np.int64)
    ss = np.concatenate(out_s).astype(np.int64)
    ee = np.concatenate(out_e).astype(np.int64)
    order = np.lexsort((ss, rr))
    return rr[order], vv[order], ss[order], ee[order]


# CGR corners: A(0,0) T(v,0) G(v,v) C(0,v), U==T, case-insensitive
# (composition/src/cgr.rs:12-36). Index by the 2-bit code: A=0 C=1 G=2 T=3.
_CGR_X = np.array([0.0, 0.0, 1.0, 1.0])  # scaled by vecsize
_CGR_Y = np.array([0.0, 1.0, 1.0, 0.0])

def _round6_half_up(x: float) -> float:
    """Spark's round(double, 6): scala BigDecimal(d) parses the SHORTEST
    decimal representation (Double.toString) and rounds HALF_UP — python
    repr() is the same shortest-roundtrip string, so Decimal(repr(x))
    reproduces the value Spark rounds, bit-for-bit."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _rows_hit(offsets: np.ndarray, hit: np.ndarray) -> np.ndarray:
    """Per-row flag of a ``utf8_view`` batch: True where any byte of the
    row is set in ``hit`` (a byte-aligned bool mask)."""
    rows = np.zeros(offsets.size - 1, dtype=bool)
    rows[np.searchsorted(offsets, np.flatnonzero(hit), side="right") - 1] = True
    return rows


def repetition_batch(texts, n: int) -> list[float | None]:
    """distinct n-grams / total n-grams per row, rounded HALF_UP to 6 dp;
    None where the row has no full n-gram (total <= 0).

    Exact value twin of the Catalyst formulation in functions/text.py
    (round(size(array_distinct(transform(sequence(1, len-(n-1)),
    i -> substring(col, i, n)))) / total, 6)) — the expression's
    per-element HOF machinery costs ~350 us/row at 300 chars, ~50x this
    kernel. ASCII rows (the oracle contract corpus) take the vectorized
    path: n bytes pack EXACTLY into an int64 gram value (no hash, no
    collisions), one global sort yields per-row distinct counts.
    Non-ASCII rows (and n outside [1, 6]) are decoded and fall back to
    a python set-of-slices twin, which is char-exact for any input.
    """
    data, offsets = utf8_view(texts)
    nrows = offsets.size - 1
    out: list[float | None] = [None] * nrows
    fast = 1 <= n <= 6
    slow = _rows_hit(offsets, data >= 0x80) if fast else np.ones(nrows, dtype=bool)
    for i in np.flatnonzero(slow).tolist():
        t = data[offsets[i] : offsets[i + 1]].tobytes().decode("utf-8")
        total = len(t) - n + 1
        if total > 0:
            out[i] = _round6_half_up(len({t[j : j + n] for j in range(total)}) / total)
    if not fast:
        return out
    totals = np.diff(offsets) - (n - 1)
    distinct = np.zeros(nrows, dtype=np.int64)
    # (row, gram) packs into ONE int64 key: gram < 256^n, so the local
    # row index must stay below (2^63-1) // 256^n — 32767 rows at n=6.
    # Rows beyond that (oversized Arrow batches via get_spark's
    # arrow_batch knob) are processed in independent row-chunks; the
    # default 4096 batch is a single chunk. Without the chunking,
    # row*K wraps negative at >= 32768 rows and bincount raises
    # (code-review r7). Non-ASCII rows are counted too, then ignored.
    K = np.int64(256) ** n
    max_rows = int((2**63 - 1) // int(K))
    for r0 in range(0, nrows, max_rows):
        o = offsets[r0 : r0 + max_rows + 1]
        # exact base-256 gram values (max 2^48 at n=6)
        keys, h = batch_windows(data[o[0] : o[-1]], o - o[0], n, None, "rp")
        keys *= K
        keys += h
        uk = np.unique(keys)
        distinct[r0 : r0 + o.size - 1] = np.bincount(uk // K, minlength=o.size - 1)
    d_list, t_list = distinct.tolist(), totals.tolist()
    for i in np.flatnonzero(~slow & (totals > 0)).tolist():
        out[i] = _round6_half_up(d_list[i] / t_list[i])
    return out


def cgr_trajectory(text: str, vecsize: float = 1.0) -> np.ndarray | None:
    """Chaos-game-representation walk: one (x, y) point per character.

    marker_i = (corner_i + marker_{i-1}) / 2 from center (v/2, v/2)
    (composition/src/cgr.rs:127-144). Returns shape (len, 2) float64, or
    None if the text contains an OOV character (the reference errors;
    Spark maps this to a null row instead).

    Evaluated with the reference's exact sequential recurrence (same FP
    op order -> bit-identical doubles, needed for golden text parity; a
    closed-form cumsum drifts ~2 ulp past 53 significant bits). Batch
    jobs vectorize ACROSS rows via cgr_batch instead.
    """
    data = text.encode("utf-8")
    codes = SEQ_NT4[np.frombuffer(data, dtype=np.uint8)] if data else np.empty(0, np.uint8)
    if (codes >= 4).any():
        return None
    n = codes.size
    out = np.empty((n, 2), dtype=np.float64)
    cx = (_CGR_X * vecsize)[codes].tolist()
    cy = (_CGR_Y * vecsize)[codes].tolist()
    mx, my = vecsize / 2.0, vecsize / 2.0
    for i in range(n):
        mx = (cx[i] + mx) / 2.0
        my = (cy[i] + my) / 2.0
        out[i, 0] = mx
        out[i, 1] = my
    return out


def _cgr_dense_group(codes, starts, lens, grp, bmax, vecsize, outs) -> None:
    """Padded across-row recurrence for one length bucket: every row in
    ``grp`` has bmax/2 < len <= bmax, so padding waste is bounded 2x.

    r7 layout: corner/trail matrices are TRANSPOSED to (bmax, g) so the
    per-position loop touches contiguous rows (the (g, bmax) layout
    gathered one element per cache line per step — measured 0.14s/batch
    for the loop + 0.09s for the fancy-index corner allocations; pooled
    transposed buffers cut both). The per-row FP op order — (corner +
    m) / 2.0 per position — is UNCHANGED, so the bit-parity contract
    (q29 hash gate, reference goldens) holds."""
    g = grp.size
    mat = _POOL.get("cgr_mat", g * bmax, np.uint8).reshape(g, bmax)
    mat.fill(0)
    for j, i in enumerate(grp):
        mat[j, : lens[i]] = codes[starts[i] : starts[i] + lens[i]]
    cxT = _POOL.get("cgr_cx", bmax * g, np.float64).reshape(bmax, g)
    cyT = _POOL.get("cgr_cy", bmax * g, np.float64).reshape(bmax, g)
    np.take(_CGR_X, mat.T, out=cxT)
    np.take(_CGR_Y, mat.T, out=cyT)
    if vecsize != 1.0:  # x * 1.0 is a bit-exact identity — skip the pass
        cxT *= vecsize
        cyT *= vecsize
    trailT_x = _POOL.get("cgr_tx", bmax * g, np.float64).reshape(bmax, g)
    trailT_y = _POOL.get("cgr_ty", bmax * g, np.float64).reshape(bmax, g)
    mx = _POOL.get("cgr_mx", g, np.float64)
    mx.fill(vecsize / 2.0)
    my = _POOL.get("cgr_my", g, np.float64)
    my.fill(vecsize / 2.0)
    for t in range(bmax):
        # (corner + m) / 2.0 — identical ops in identical order to the
        # reference recurrence, in place on contiguous rows
        np.add(cxT[t], mx, out=mx)
        np.divide(mx, 2.0, out=mx)
        np.add(cyT[t], my, out=my)
        np.divide(my, 2.0, out=my)
        trailT_x[t] = mx
        trailT_y[t] = my
    for j, i in enumerate(grp):
        L = lens[i]
        outs[i][:, 0] = trailT_x[:L, j]
        outs[i][:, 1] = trailT_y[:L, j]


def cgr_batch(texts, vecsize: float = 1.0) -> list[np.ndarray | None]:
    """Batch CGR: the sequential recurrence vectorized ACROSS rows.

    One numpy step per character *position* over a geometric length
    bucket at a time (rows with len in (B/2, B] pad to B), so both the
    padded memory and the per-position python loop stay within 2x of
    the true character count — one chromosome-length row in a batch of
    short rows no longer forces an (n, maxlen) dense matrix. Identical
    FP op order per row to the reference loop (bit-parity goldens +
    the q29 hash gate hold); rows with OOV characters yield None.
    """
    data, offsets = utf8_view(texts)
    codes = SEQ_NT4[data]
    ok = ~_rows_hit(offsets, codes >= 4)
    lens = np.where(ok, np.diff(offsets), 0)
    outs: list[np.ndarray | None] = [
        np.empty((L, 2)) if o else None for L, o in zip(lens.tolist(), ok.tolist())
    ]
    if lens.size == 0 or int(lens.max()) == 0:
        return outs
    live = np.nonzero(lens > 0)[0]
    order = live[np.argsort(-lens[live], kind="stable")]  # longest first
    start = 0
    while start < order.size:
        bmax = int(lens[order[start]])
        lo = bmax // 2
        end = start
        while end < order.size and lens[order[end]] > lo:
            end += 1
        _cgr_dense_group(codes, offsets, lens, order[start:end], bmax, vecsize, outs)
        start = end
    return outs
