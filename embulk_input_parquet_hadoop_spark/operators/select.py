"""Sampled cost-based codec selection per column chunk.

The reference *reads* per-column-chunk codec decisions some writer made
(its fixture ``.meta`` files list ``ENC:PLAIN_DICTIONARY,PLAIN,RLE`` per
column chunk). This module makes that decision explicit on the write side:
sample <= ``SAMPLE`` values of the chunk, compute cheap statistics
(cardinality, run count, value range, sortedness), estimate the encoded
size of every applicable codec, and pick the argmin. The estimate is then
checked against the *actual* encoded size of the winner vs. ``plain`` so a
bad estimate can never make a chunk bigger than plain + one header.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..codecs import bitpack
from ..codecs.intcodecs import INT_CODECS

SAMPLE = 4096
_HEADER_OVERHEAD = 64  # approximate frame header + params bytes


@dataclass
class ChunkStats:
    n: int
    vmin: int
    vmax: int
    card_est: int
    runs_est: int
    sorted_frac: float
    itemsize: int
    frac_big: float = 1.0  # fraction of sampled (v - vmin) >= 256


def stats_of(a: np.ndarray) -> ChunkStats:
    n = len(a)
    if n == 0:
        return ChunkStats(0, 0, 0, 0, 0, 1.0, a.dtype.itemsize)
    if n > SAMPLE:
        # deterministic stratified sample: SAMPLE evenly spaced values
        idx = np.linspace(0, n - 1, SAMPLE).astype(np.int64)
        s = a[idx]
        scale = n / len(s)
    else:
        s = a
        scale = 1.0
    vmin, vmax = int(a.min()), int(a.max())
    u = len(np.unique(s))
    # saturating cardinality estimate: if the sample looks near-distinct,
    # assume the chunk is near-distinct; else scale the sample uniques
    if u >= 0.95 * len(s):
        card_est = n
    else:
        card_est = min(n, int(u * min(scale, 1 + (u / len(s)) * scale)),
                       vmax - vmin + 1)
        card_est = max(card_est, u)
    diffs = np.diff(s.astype(np.int64))
    runs_sample = int((diffs != 0).sum()) + 1
    runs_est = min(n, max(1, int(runs_sample * scale)))
    sorted_frac = float((diffs >= 0).mean()) if len(diffs) else 1.0
    frac_big = float((s.astype(np.int64) - vmin >= 256).mean())
    return ChunkStats(n, vmin, vmax, card_est, runs_est, sorted_frac,
                      a.dtype.itemsize, frac_big)


def estimate_sizes(st: ChunkStats) -> dict[str, float]:
    """Estimated payload bytes per codec; inapplicable codecs -> inf."""
    if st.n == 0:
        return {"plain": 0.0}
    rng = st.vmax - st.vmin
    w_for = bitpack.bit_width(rng) if rng >= 0 else 64
    est: dict[str, float] = {}
    est["plain"] = st.n * st.itemsize
    est["for"] = st.n * w_for / 8 + _HEADER_OVERHEAD
    if st.sorted_frac > 0.99:
        # sorted-ish: deltas are small; assume avg delta ~ range/n
        avg_delta = max(1, rng // max(st.n, 1))
        w_d = bitpack.bit_width(avg_delta * 4 + 1)
        est["delta"] = st.n * w_d / 8 + _HEADER_OVERHEAD
    if st.runs_est < st.n / 2:
        vw = w_for
        rw = bitpack.bit_width(max(1, st.n // max(st.runs_est, 1)) * 8)
        est["rle"] = st.runs_est * (vw + rw) / 8 + _HEADER_OVERHEAD
    if st.card_est < st.n / 2:
        iw = bitpack.bit_width(max(st.card_est - 1, 0))
        est["dict"] = (st.card_est * max(w_for, 1) / 8
                       + st.n * iw / 8 + _HEADER_OVERHEAD)
    if 256 <= rng < (1 << 16):
        # exception-plane: lo byte always + bitmap + hi byte of the >=256
        # minority; wins on heavy-headed (Zipfian token-id) chunks and
        # leaves the payload byte-aligned for the outer zstd stage
        est["xp"] = st.n * (1 + st.frac_big + 1 / 8) + _HEADER_OVERHEAD
    return est


def select_int_codec(a: np.ndarray) -> tuple[str, ChunkStats, dict[str, float]]:
    st = stats_of(a)
    est = estimate_sizes(st)
    choice = min(est, key=est.get)  # type: ignore[arg-type]
    return choice, st, est


def encode_best(a: np.ndarray) -> tuple[str, bytes, dict]:
    """Encode with the estimated-best codec; guard against bad estimates by
    falling back to plain when the winner is actually larger."""
    choice, _st, _est = select_int_codec(a)
    enc, _ = INT_CODECS[choice]
    try:
        if choice == "xp":
            # stats_of computed the exact full-array min/max already;
            # xp_encode skips its own reduction pass when given both
            payload, params = enc(a, vmin=_st.vmin, vmax=_st.vmax)
        else:
            payload, params = enc(a)
    except OverflowError:
        choice, (payload, params) = "plain", INT_CODECS["plain"][0](a)
    if choice != "plain" and len(payload) >= len(a) * a.dtype.itemsize:
        choice, (payload, params) = "plain", INT_CODECS["plain"][0](a)
    return choice, payload, params
