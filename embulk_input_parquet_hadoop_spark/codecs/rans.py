"""Decoder for order-1 context-modeled rANS int frames (codec id 8).

Builds up to commit f1ef865 could write these frames in an opt-in
entropy mode; this build only reads them (pinned by
``tests/fixtures/rans``). A frame codes a chunk with range-variant ANS
(Duda 2013) driven by an order-1 context model: the coding table for
each value is chosen by the PREVIOUS value's bucket (``prev & (B-1)``).
Each *dedicated* table holds a context's frequent symbols plus an ESC
entry that escapes to a shared order-0 table over the chunk's alphabet.

Frame payload: ``[u32 model blob length][u32 raw model length]
[zstd model blob][u32 word stream]``. The model holds ``B``, the context
map, each table's quantized frequencies (precision ``2^mbits``), and
each lane's final encoder state and word count. The chunk is split into
``L`` contiguous lanes (the first ``n % L`` one value longer), each an
independent rANS stream whose words sit in lane order.

rANS invariants (uint64 states, 32-bit renormalization): a state lies
in [2^32, 2^64); a pop reads at most one word (``state < 2^32``). The
encoder started every lane at state 2^32, so an exact decode ends each
lane there with all of its words read; ``rans_decode`` raises
``framing.FrameError`` otherwise.

Two decoders give identical output: scalar C (``_rans_c.py``) when the
system compiler is available, and the numpy reference, which runs the
lanes as ``O(n / L)`` steps of ``L``-wide vector ops.
"""

from __future__ import annotations

import ctypes

import numpy as np
import pyarrow as pa

from . import _rans_c, framing

_ZSTD = pa.Codec("zstd", compression_level=1)

ESC = 0xFFFF          # reserved symbol id marking "escape to shared table"


def _lane_layout(n: int, lanes: int) -> tuple[np.ndarray, np.ndarray, int, int]:
    """(starts, lens, base, rem): lane l covers [starts[l], +lens[l]);
    the first ``rem`` lanes carry one extra value."""
    base, rem = divmod(n, lanes)
    lens = np.full(lanes, base, dtype=np.int64)
    lens[:rem] += 1
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    return starts, lens, base, rem


class _Model:
    """Quantized coding tables and the slot -> (sym, f, cumbase) decode
    planes, concatenated over tables."""

    __slots__ = ("B", "ctx_map", "mbits", "slot_off", "sym_of_slot",
                 "f_of_slot", "cbase_of_slot", "shared_tid")

    def __init__(self, B: int, ctx_map: np.ndarray,
                 tables: list[tuple[np.ndarray, np.ndarray]],
                 mbits: np.ndarray):
        self.B = B
        self.ctx_map = ctx_map          # uint16[B] -> table id
        self.mbits = mbits              # uint8 per table
        self.shared_tid = len(tables) - 1
        sizes = (1 << mbits.astype(np.int64))
        self.slot_off = np.concatenate(
            [[0], np.cumsum(sizes)]).astype(np.int64)
        total = int(sizes.sum())
        self.sym_of_slot = np.empty(total, dtype=np.uint16)
        self.f_of_slot = np.empty(total, dtype=np.uint32)
        self.cbase_of_slot = np.empty(total, dtype=np.uint32)
        for t, (syms, qf) in enumerate(tables):
            cum = np.concatenate([[0], np.cumsum(qf)[:-1]]).astype(np.int64)
            o = self.slot_off[t]
            self.sym_of_slot[o:o + sizes[t]] = np.repeat(syms, qf)
            self.f_of_slot[o:o + sizes[t]] = np.repeat(qf, qf)
            self.cbase_of_slot[o:o + sizes[t]] = np.repeat(cum, qf)


def _deserialize_model(blob: bytes, rawlen: int,
                       lanes: int) -> tuple[_Model, np.ndarray, np.ndarray]:
    """The model region, parsed for ``lanes`` lanes; a region that does
    not decompress, or is shorter or longer than its tables and lanes
    need, raises ``framing.FrameError``."""
    try:
        raw = bytes(_ZSTD.decompress(blob, rawlen))
    except OSError as exc:
        raise framing.FrameError(f"rANS model blob: {exc}") from exc
    pos = 0

    def take(dtype, count) -> np.ndarray:
        nonlocal pos
        try:
            a = np.frombuffer(raw, dtype=dtype, count=int(count), offset=pos)
        except ValueError as exc:
            raise framing.FrameError(
                f"rANS model region too short for its tables and "
                f"L={lanes} lanes") from exc
        pos += a.nbytes
        return a

    B, ntab = take(np.uint32, 2)
    ctx_map = take(np.uint16, B)
    mbits = take(np.uint8, ntab).copy()
    tables = []
    for _ in range(int(ntab)):
        k, ne = take(np.uint32, 2)
        syms = np.cumsum(take(np.uint16, k).astype(np.int64)).astype(np.uint16)
        qm1 = take(np.uint8, k).astype(np.int64)
        exc = take(np.uint32, ne)
        hi = take(np.uint32, ne)
        qm1[exc] |= hi.astype(np.int64) << 8
        tables.append((syms, qm1 + 1))
    states = take(np.uint64, lanes).copy()
    wcounts = take(np.uint32, lanes).astype(np.int64)
    if pos != len(raw):
        raise framing.FrameError(
            f"rANS model region holds {len(raw) - pos} bytes past its "
            f"tables and L={lanes} lanes")
    return (_Model(int(B), ctx_map.copy(), tables, mbits),
            states, wcounts)


def _check_end_state(state: np.ndarray, rptr: np.ndarray,
                     rend: np.ndarray) -> None:
    """The encoder starts every lane at state 2^32, so an exact decode
    ends each lane there with all of its words read. The frame CRC
    covers the payload but not the header's ``n``: a wrong ``n`` lays
    the lanes out differently and fails this check instead of decoding
    a different column."""
    if not (np.array_equal(rptr, rend)
            and bool((state == np.uint64(1 << 32)).all())):
        raise framing.FrameError(
            "rANS frame inconsistent: a lane did not end at the encoder's "
            "start state with its words consumed (wrong value count?)")


def rans_decode(payload: bytes, params: dict, n: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    if params.get("deg"):
        return np.full(n, params["min"], dtype=np.int64)
    lanes = params["L"]
    if len(payload) < 8:
        raise framing.FrameError("rANS frame truncated: no model header")
    mlen, rawlen = np.frombuffer(payload, dtype=np.uint32, count=2)
    if 8 + int(mlen) > len(payload):
        raise framing.FrameError(
            f"rANS frame truncated: a {int(mlen)}-byte model blob in a "
            f"{len(payload)}-byte payload")
    model, state, wcounts = _deserialize_model(
        bytes(payload[8:8 + int(mlen)]), int(rawlen), lanes)
    B = model.B
    raw_stream = np.frombuffer(payload, dtype=np.uint32,
                               offset=8 + int(mlen))
    starts, lens, base, rem = _lane_layout(n, lanes)
    rptr = np.concatenate([[0], np.cumsum(wcounts)[:-1]]).astype(np.int64)
    rend = rptr + wcounts
    # lane l owns words [rptr[l], rend[l]); the C loop bounds its reads
    # by rend, which is only safe when the last lane ends in the buffer
    if int(wcounts.sum()) != len(raw_stream):
        raise framing.FrameError(
            f"rANS frame inconsistent: lane word counts sum to "
            f"{int(wcounts.sum())} but stream holds {len(raw_stream)} "
            f"words (truncated frame?)")

    if _rans_c.LIB is not None:
        out = np.empty(n, dtype=np.int64)
        # the word stream starts at 8 + model-blob length — arbitrary, so
        # ~3/4 of frames are 4-byte MISaligned; ascontiguousarray does
        # NOT fix alignment, and a misaligned uint32* is UB in C
        stream_c = (raw_stream if raw_stream.flags["ALIGNED"]
                    else raw_stream.copy())
        ctx64 = model.ctx_map.astype(np.int64)
        f32 = np.ascontiguousarray(model.f_of_slot)
        c32 = np.ascontiguousarray(model.cbase_of_slot)
        sym16 = np.ascontiguousarray(model.sym_of_slot)
        i64, u64, u32, u16, u8 = (ctypes.c_int64, ctypes.c_uint64,
                                  ctypes.c_uint32, ctypes.c_uint16,
                                  ctypes.c_uint8)
        _rans_c.LIB.rans_decode_lanes(
            lanes, _rans_c.as_ptr(starts, i64), _rans_c.as_ptr(lens, i64),
            _rans_c.as_ptr(model.slot_off, i64),
            _rans_c.as_ptr(sym16, u16), _rans_c.as_ptr(f32, u32),
            _rans_c.as_ptr(c32, u32),
            _rans_c.as_ptr(np.ascontiguousarray(model.mbits), u8),
            _rans_c.as_ptr(ctx64, i64),
            int(B), int(model.shared_tid), int(ESC),
            _rans_c.as_ptr(stream_c, u32), _rans_c.as_ptr(rptr, i64),
            _rans_c.as_ptr(rend, i64),
            _rans_c.as_ptr(state, u64), _rans_c.as_ptr(out, i64))
        _check_end_state(state, rptr, rend)
        return out + np.int64(params["min"])

    # one zero word past the end: a read at or past a lane's word end
    # yields it and still advances rptr, exactly as the C loop does
    stream = np.append(raw_stream.astype(np.uint64), np.uint64(0))
    pad = len(raw_stream)

    def words(ni):
        r = rptr[ni]
        return stream[np.where(r < rend[ni], r, pad)]

    prev = np.zeros(lanes, dtype=np.int64)
    slot_off = model.slot_off
    sym_plane = model.sym_of_slot
    f_plane = model.f_of_slot.astype(np.uint64)
    c_plane = model.cbase_of_slot.astype(np.uint64)
    ctx_map = model.ctx_map.astype(np.int64)
    # per-table slot mask and size, gathered by table id per step —
    # variable-count shifts measure slower than gathers + division on
    # this numpy
    mask_t = ((np.uint64(1) << model.mbits.astype(np.uint64))
              - np.uint64(1))
    M_t = mask_t + np.uint64(1)
    LO = np.uint64(1 << 32)
    U32 = np.uint64(32)
    nsteps = base + (1 if rem else 0)
    # step-major output: row s_i contiguous; unravelled per lane at the end
    outm = np.empty((nsteps, lanes), dtype=np.int64)

    def pop_sub(idx, tid):
        s = state[idx]
        slot = s & mask_t[tid]
        g = slot_off[tid] + slot.astype(np.int64)
        sym = sym_plane[g]
        fv = f_plane[g]
        cb = c_plane[g]
        s = fv * (s // M_t[tid]) + slot - cb
        need = s < LO
        if need.any():
            ni = idx[need]
            s[need] = (s[need] << U32) | words(ni)
            rptr[ni] += 1
        state[idx] = s
        return sym

    shared = np.int64(model.shared_tid)
    tail_idx = np.arange(rem, dtype=np.int64)
    for s_i in range(nsteps):
        if s_i >= base:
            tid = ctx_map[prev[:rem] & (B - 1)]
            sym = pop_sub(tail_idx, tid)
            esc = sym == ESC
            if esc.any():
                ei = tail_idx[esc]
                sym = sym.copy()
                sym[esc] = pop_sub(ei, np.full(len(ei), shared,
                                               dtype=np.int64))
            outm[s_i, :rem] = sym
            # no prev update: the tail step is always the last step, and
            # prev may alias the previous output row (assigning through
            # it would corrupt decoded data)
            continue
        # full-lane fast path: whole-array state ops, no fancy indexing
        tid = ctx_map[prev & (B - 1)]
        slot = state & mask_t[tid]
        g = slot_off[tid] + slot.astype(np.int64)
        sym = sym_plane[g]
        s = f_plane[g] * (state // M_t[tid]) + slot - c_plane[g]
        need = s < LO
        if need.any():
            ni = np.flatnonzero(need)
            s[ni] = (s[ni] << U32) | words(ni)
            rptr[ni] += 1
        state = s
        esc = sym == ESC
        if esc.any():
            ei = np.flatnonzero(esc)
            sub = pop_sub(ei, np.full(len(ei), shared, dtype=np.int64))
            row = sym.astype(np.int64)
            row[ei] = sub
            outm[s_i] = row
        else:
            outm[s_i] = sym
        prev = outm[s_i]
    _check_end_state(state, rptr, rend)
    # unravel: lane l's values are column l's first lens[l] rows
    out = np.empty(n, dtype=np.int64)
    outT = np.ascontiguousarray(outm.T)
    if rem:
        flatT = outT.ravel()
        for li in range(lanes):
            out[starts[li]:starts[li] + lens[li]] = \
                flatT[li * nsteps: li * nsteps + lens[li]]
    else:
        out[:] = outT.ravel()
    return out + np.int64(params["min"])
