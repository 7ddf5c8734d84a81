"""Optional C hot loops for the exception-plane codec
(``codecs/intcodecs.py`` ``xp_*``): one compile-and-cache module, one
source blob, one .so, one build. (The name is from when it also held
the rANS decode loop; ``SPARK_GRAFT_NO_RANS_C`` keeps its spelling.)

The numpy implementations in ``intcodecs.py`` stay the REFERENCE. This
module compiles the same kernels as scalar C with the system compiler at
first use and binds them via ctypes; the output is IDENTICAL (the tests
compare the xp kernels with the numpy paths on random inputs).

Build notes:
- cc -O2 -shared -fPIC into a content-addressed path under
  ``$XDG_CACHE_HOME`` (fallback /tmp) + atomic rename, so concurrent
  Spark workers racing to build collide harmlessly on the same bytes.
- No compiler / failed build -> ``LIB is None`` and the callers keep the
  numpy paths. Nothing is installed; only the stdlib + cc are used.
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

/* --- exception-plane (xp) codec kernels (codecs/intcodecs.py) ----------
   The numpy implementations in intcodecs.py stay the byte-exact
   reference. The
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
    i32p = ctypes.POINTER(ctypes.c_int32)
    u8p = ctypes.POINTER(ctypes.c_uint8)
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
