"""Optional C hot loops: the rANS decode loop (``codecs/rans.py``) and
the exception-plane codec (``codecs/intcodecs.py`` ``xp_*``) share this
one compile-and-cache module — one source blob, one .so, one build.

The numpy implementations stay the REFERENCE: the rANS decoder runs its
lane loop as O(n / L) interpreter steps of L-wide vector ops, bounded by
per-step kernel dispatch rather than arithmetic. This module compiles the
same loops as scalar C with the system compiler at first use and binds
them via ctypes; the output is IDENTICAL (the tests decode every pinned
rANS frame both ways and compare the xp kernels on random inputs).

Build notes:
- cc -O2 -shared -fPIC into a content-addressed path under
  ``$XDG_CACHE_HOME`` (fallback /tmp) + atomic rename, so concurrent
  Spark workers racing to build collide harmlessly on the same bytes.
- No compiler / failed build -> ``LIB is None`` and the callers keep the
  numpy paths. Nothing is installed; only the stdlib + cc are used.
- Input trust: ``framing.read_frames`` checks each payload's CRC32
  before either decoder sees it, but the frame header (value count,
  params) is not CRC-covered. The C rANS loop therefore bounds every
  stream read by its lane's word end, and ``rans_decode`` raises
  ``framing.FrameError`` unless every lane ends at the encoder's start
  state with its words consumed, on both paths.
  ``SPARK_GRAFT_NO_RANS_C=1`` forces the numpy paths.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

_SRC = r"""
#include <stdint.h>

/* pop one symbol from table tid; reads at most one stream word.
   M is a power of two, so the state split is mask+shift, never a div.
   A read at or past the lane's word end `re` yields 0 and still
   advances *rp, so an overrun shows in the final read pointer. */
static inline uint16_t pop(uint64_t *sp, int64_t tid,
                           const int64_t *slot_off,
                           const uint16_t *sym_plane,
                           const uint32_t *f_plane,
                           const uint32_t *c_plane,
                           const uint8_t *mbits,
                           const uint32_t *stream, int64_t *rp,
                           int64_t re) {
    uint64_t s = *sp;
    uint8_t mb = mbits[tid];
    uint64_t slot = s & ((1ULL << mb) - 1);
    int64_t g = slot_off[tid] + (int64_t)slot;
    uint16_t sym = sym_plane[g];
    s = (uint64_t)f_plane[g] * (s >> mb) + slot - (uint64_t)c_plane[g];
    if (s < (1ULL << 32)) {
        uint32_t w = *rp < re ? stream[*rp] : 0;
        (*rp)++;
        s = (s << 32) | (uint64_t)w;
    }
    *sp = s;
    return sym;
}

/* Block-interleaved lane decode. Lane-at-a-time decode is ONE serial
   dependency chain (state update -> gather -> state update): the memory
   system holds ~1 table-gather miss in flight, which bounds it at
   ~12 Mtok/s/core when the slot planes outgrow L2. Decoding BLK
   independent lanes in lockstep (outer: lane block; middle: step k;
   inner: lane) gives the out-of-order core up to BLK unrelated chains,
   so gather misses overlap. Output writes stay within BLK cache lines
   per step (out[starts[l]+k] with k advancing), and each lane still
   reads its own stream region strictly in order — emitted values and
   consumed words are IDENTICAL to the lane-at-a-time loop. Lane l
   reads only words [rptr[l], rend[l]); on return states[] and rptr[]
   hold each lane's final state and read pointer for the caller's
   end-state check. */
void rans_decode_lanes(int64_t lanes, const int64_t *starts,
                       const int64_t *lens,
                       const int64_t *slot_off, const uint16_t *sym_plane,
                       const uint32_t *f_plane, const uint32_t *c_plane,
                       const uint8_t *mbits,
                       const int64_t *ctx_map, int64_t B,
                       int64_t shared_tid, uint16_t esc_sym,
                       const uint32_t *stream, int64_t *rptr,
                       const int64_t *rend, uint64_t *states, int64_t *out) {
    enum { BLK = 128 };
    uint64_t s[BLK];
    int64_t r[BLK], e[BLK], prev[BLK];
    int64_t Bm = B - 1;
    for (int64_t b0 = 0; b0 < lanes; b0 += BLK) {
        int64_t nb = lanes - b0 < BLK ? lanes - b0 : BLK;
        int64_t minlen = lens[b0];
        for (int64_t i = 1; i < nb; i++)
            if (lens[b0 + i] < minlen) minlen = lens[b0 + i];
        for (int64_t i = 0; i < nb; i++) {
            s[i] = states[b0 + i];
            r[i] = rptr[b0 + i];
            e[i] = rend[b0 + i];
            prev[i] = 0;
        }
        for (int64_t k = 0; k < minlen; k++) {
            for (int64_t i = 0; i < nb; i++) {
                int64_t tid = ctx_map[prev[i] & Bm];
                uint16_t sym = pop(&s[i], tid, slot_off, sym_plane,
                                   f_plane, c_plane, mbits, stream, &r[i],
                                   e[i]);
                if (sym == esc_sym)
                    sym = pop(&s[i], shared_tid, slot_off, sym_plane,
                              f_plane, c_plane, mbits, stream, &r[i],
                              e[i]);
                out[starts[b0 + i] + k] = (int64_t)sym;
                prev[i] = (int64_t)sym;
            }
        }
        /* ragged tail: lane lengths differ by at most one */
        for (int64_t i = 0; i < nb; i++) {
            int64_t l = b0 + i;
            for (int64_t k = minlen; k < lens[l]; k++) {
                int64_t tid = ctx_map[prev[i] & Bm];
                uint16_t sym = pop(&s[i], tid, slot_off, sym_plane,
                                   f_plane, c_plane, mbits, stream, &r[i],
                                   e[i]);
                if (sym == esc_sym)
                    sym = pop(&s[i], shared_tid, slot_off, sym_plane,
                              f_plane, c_plane, mbits, stream, &r[i],
                              e[i]);
                out[starts[l] + k] = (int64_t)sym;
                prev[i] = (int64_t)sym;
            }
            states[l] = s[i];
            rptr[l] = r[i];
        }
    }
}

/* --- exception-plane (xp) codec kernels (codecs/intcodecs.py) ----------
   Same build/dispatch infrastructure as the rANS loop above; the numpy
   implementations in intcodecs.py stay the byte-exact reference. The
   encode split is one fused streaming pass emitting all three planes
   ([lo bytes][big-endian exception bitmap][hi bytes of the >=256
   minority]) where numpy needs five full-array passes (sub/astype, &,
   compare, boolean gather, packbits). min/max stay in numpy (SIMD
   reductions beat this scalar loop) and arrive as `mn`. The hi plane is
   compacted with an unconditional store + predicated advance (hi must
   have n bytes of capacity) — no branch, no mispredict on the ~16%
   exception rate of Zipfian token chunks. Returns the exception count. */
int64_t xp_split_i32(int64_t n, const int32_t *a, int32_t mn,
                     uint8_t *lo, uint8_t *bm, uint8_t *hi) {
    int64_t k = 0, i = 0;
    for (; i + 8 <= n; i += 8) {
        uint32_t bits = 0;
        for (int j = 0; j < 8; j++) {
            uint32_t u = (uint32_t)(a[i + j] - mn);
            lo[i + j] = (uint8_t)u;
            uint32_t h = u >> 8;
            hi[k] = (uint8_t)h;
            k += (h != 0);
            bits |= (uint32_t)(h != 0) << (7 - j);
        }
        bm[i >> 3] = (uint8_t)bits;
    }
    if (i < n) {
        uint32_t bits = 0;
        for (int j = 0; i + j < n; j++) {
            uint32_t u = (uint32_t)(a[i + j] - mn);
            lo[i + j] = (uint8_t)u;
            uint32_t h = u >> 8;
            hi[k] = (uint8_t)h;
            k += (h != 0);
            bits |= (uint32_t)(h != 0) << (7 - j);
        }
        bm[i >> 3] = (uint8_t)bits;
    }
    return k;
}

int64_t xp_split_i64(int64_t n, const int64_t *a, int64_t mn,
                     uint8_t *lo, uint8_t *bm, uint8_t *hi) {
    int64_t k = 0, i = 0;
    for (; i + 8 <= n; i += 8) {
        uint32_t bits = 0;
        for (int j = 0; j < 8; j++) {
            /* unsigned wraparound subtraction is exact for any int64
               pair with 0 <= a-mn < 2^64; the caller range-checked
               a-mn < 2^16 already */
            uint32_t u = (uint32_t)((uint64_t)a[i + j] - (uint64_t)mn);
            lo[i + j] = (uint8_t)u;
            uint32_t h = u >> 8;
            hi[k] = (uint8_t)h;
            k += (h != 0);
            bits |= (uint32_t)(h != 0) << (7 - j);
        }
        bm[i >> 3] = (uint8_t)bits;
    }
    if (i < n) {
        uint32_t bits = 0;
        for (int j = 0; i + j < n; j++) {
            uint32_t u = (uint32_t)((uint64_t)a[i + j] - (uint64_t)mn);
            lo[i + j] = (uint8_t)u;
            uint32_t h = u >> 8;
            hi[k] = (uint8_t)h;
            k += (h != 0);
            bits |= (uint32_t)(h != 0) << (7 - j);
        }
        bm[i >> 3] = (uint8_t)bits;
    }
    return k;
}

/* xp decode: one pass reassembling int64 values from the three planes.
   Branchless hi consumption: hi[k] is read unconditionally and masked
   by the bitmap bit, so `hi` must carry ONE byte of padding past the
   last exception (the Python wrapper pads its copy). */
void xp_decode_fill(int64_t n, const uint8_t *lo, const uint8_t *bm,
                    const uint8_t *hi, int64_t vmin, int64_t *out) {
    int64_t k = 0;
    for (int64_t i = 0; i < n; i++) {
        uint32_t bit = (bm[i >> 3] >> (7 - (i & 7))) & 1u;
        uint32_t u = (uint32_t)lo[i]
                     | (((uint32_t)hi[k] << 8) & (0u - bit));
        k += bit;
        out[i] = (int64_t)u + vmin;
    }
}
"""


def _build() -> ctypes.CDLL | None:
    tag = hashlib.md5(_SRC.encode()).hexdigest()[:16]
    cache = os.environ.get("XDG_CACHE_HOME") or tempfile.gettempdir()
    # per-uid, 0700: CDLL() executes library constructors, so loading a
    # .so from a predictable world-writable path would let any local
    # user plant code. Refuse a pre-existing dir we don't exclusively
    # own rather than silently "fixing" it.
    lib_dir = os.path.join(cache, f"spark_graft_rans_{os.getuid()}")
    lib_path = os.path.join(lib_dir, f"rans_{tag}.so")
    try:
        os.makedirs(lib_dir, mode=0o700, exist_ok=True)
        st = os.stat(lib_dir)
        if st.st_uid != os.getuid() or (st.st_mode & 0o077):
            return None
    except OSError:
        return None
    if not os.path.exists(lib_path):
        try:
            with tempfile.TemporaryDirectory(dir=lib_dir) as td:
                src = os.path.join(td, "rans.c")
                with open(src, "w") as f:
                    f.write(_SRC)
                tmp_so = os.path.join(td, "rans.so")
                subprocess.run(
                    ["cc", "-O2", "-shared", "-fPIC", "-o", tmp_so, src],
                    check=True, capture_output=True, timeout=120)
                os.replace(tmp_so, lib_path)  # atomic; racers agree
        except Exception:
            return None
    try:
        lib = ctypes.CDLL(lib_path)
    except OSError:
        return None
    i64p = ctypes.POINTER(ctypes.c_int64)
    u64p = ctypes.POINTER(ctypes.c_uint64)
    u32p = ctypes.POINTER(ctypes.c_uint32)
    u16p = ctypes.POINTER(ctypes.c_uint16)
    u8p = ctypes.POINTER(ctypes.c_uint8)
    lib.rans_decode_lanes.argtypes = [
        ctypes.c_int64, i64p, i64p, i64p, u16p, u32p, u32p, u8p,
        i64p, ctypes.c_int64, ctypes.c_int64, ctypes.c_uint16, u32p,
        i64p, i64p, u64p, i64p]
    lib.rans_decode_lanes.restype = None
    i32p = ctypes.POINTER(ctypes.c_int32)
    lib.xp_split_i32.argtypes = [
        ctypes.c_int64, i32p, ctypes.c_int32, u8p, u8p, u8p]
    lib.xp_split_i32.restype = ctypes.c_int64
    lib.xp_split_i64.argtypes = [
        ctypes.c_int64, i64p, ctypes.c_int64, u8p, u8p, u8p]
    lib.xp_split_i64.restype = ctypes.c_int64
    lib.xp_decode_fill.argtypes = [
        ctypes.c_int64, u8p, u8p, u8p, ctypes.c_int64, i64p]
    lib.xp_decode_fill.restype = None
    return lib


LIB = None if os.environ.get("SPARK_GRAFT_NO_RANS_C") else _build()


def as_ptr(a, ctype):
    return a.ctypes.data_as(ctypes.POINTER(ctype))
