"""On-demand native kernels for the codec hot loops.

The pure-Python/numpy codecs are the reference implementations and the
always-available fallback — this package only ACCELERATES them. At
first use it reads a bundled C99 kernel's source through the package
loader, so it builds from the source tree and the ``--py-files`` zip
alike, compiles it with the host ``cc`` into a per-source-hash .so under
the system temp dir and loads it via ctypes. No compiler, sandboxed
/tmp or an exotic platform degrades silently to the Python path (this
silence hid 0-of-5 kernels on zip-importing Spark workers until a
benchmark counted them); ``SMC_NATIVE=0`` pins it (parity tests).

Why compile-on-demand instead of shipping a wheel: the engine ships as
a ``spark-submit --py-files`` zip (pure Python by contract), so a
binary artifact can't ride along; each executor node compiles once
(atomic rename makes concurrent executors race-safe) and every later
task mmap's the cached .so. This is also the documented takeover seam
for a production native decoder (e.g. pinned libjpeg-turbo): implement
this module's loader against it and the dispatch in jpegcodec picks it
up unchanged. Policy when doing that: a FOREIGN decoder is bit-exact
only per pinned build (T.81 specifies IDCT accuracy, not output), so
pin the library version fleet-wide and validate stored phashes with
``ImageConsistent(phash_tolerance=2)`` instead of equality during any
decoder migration — the bundled kernels sidestep this entirely by
reproducing the Python reference arithmetic exactly.

Determinism: the C kernels are pure integer arithmetic translated
line-for-line from the Python loops and property-tested for bit-exact
parity — phash values do not depend on which path decoded the image.
"""

from __future__ import annotations

import ctypes
import hashlib
import importlib.resources
import os
import subprocess
import tempfile

# compiled-library handles, populated lazily; False = tried and failed
_cache: dict[str, object] = {}


def _build(src_name: str) -> str | None:
    """Compile bundled ``src_name`` to a cached .so and return its path;
    None if the host can't build it (a missing source raises)."""
    src = importlib.resources.files(__package__).joinpath(src_name).read_bytes()
    tag = hashlib.sha256(src).hexdigest()[:16]
    base = os.path.join(
        tempfile.gettempdir(),
        f"smc_native_{src_name.rsplit('.', 1)[0]}_{tag}",
    )
    so_path = base + ".so"
    if os.path.exists(so_path):
        return so_path
    tmp = f"{base}.{os.getpid()}.tmp"
    try:
        subprocess.run(
            ["cc", "-O2", "-shared", "-fPIC", "-x", "c", "-o", tmp, "-"],
            input=src,
            check=True,
            capture_output=True,
            timeout=120,
        )
        os.rename(tmp, so_path)  # atomic: concurrent builders race-safe
    except Exception:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        return None
    return so_path


def _load(src_name: str):
    hit = _cache.get(src_name)
    if hit is not None:
        return hit if hit is not False else None
    if os.environ.get("SMC_NATIVE", "1") == "0":
        _cache[src_name] = False
        return None
    so_path = _build(src_name)
    if so_path is None:
        _cache[src_name] = False
        return None
    try:
        lib = ctypes.CDLL(so_path)
    except OSError:
        _cache[src_name] = False
        return None
    _cache[src_name] = lib
    return lib


def jpegscan():
    """ctypes handle for the JPEG entropy-segment kernel, or None.

    long decode_segment(seg, nbytes, mcu_start, mcu_end, scan_mcux,
                        nslots, dc_luts, ac_luts, coefs, rowstep,
                        colstep, offs, offbase, noffs, zigzag)
    """
    lib = _load("jpegscan.c")
    if lib is None:
        return None
    fn = lib.decode_segment
    if not getattr(fn, "_smc_typed", False):
        c_i64 = ctypes.c_longlong
        fn.restype = ctypes.c_long
        fn.argtypes = [
            ctypes.c_char_p,                  # seg
            c_i64, c_i64, c_i64, c_i64,       # nbytes, start, end, mcux
            ctypes.c_long,                    # nslots
            ctypes.POINTER(ctypes.c_void_p),  # dc_luts
            ctypes.POINTER(ctypes.c_void_p),  # ac_luts
            ctypes.POINTER(ctypes.c_void_p),  # coefs
            ctypes.c_void_p, ctypes.c_void_p,  # rowstep, colstep
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,  # offs...
            ctypes.c_void_p,                  # zigzag
        ]
        fn._smc_typed = True
    return fn


def jpegrecon():
    """ctypes handle for the JPEG reconstruction kernel, or None.

    long reconstruct(coefs, qts, geo, offs, ncomp, h, w,
                     scratch, m, out)
    """
    lib = _load("jpegrecon.c")
    if lib is None:
        return None
    fn = lib.reconstruct
    if not getattr(fn, "_smc_typed", False):
        c_i64 = ctypes.c_longlong
        fn.restype = ctypes.c_long
        fn.argtypes = [
            ctypes.POINTER(ctypes.c_void_p),  # coefs
            ctypes.POINTER(ctypes.c_void_p),  # qts
            ctypes.c_void_p, ctypes.c_void_p,  # geo, offs
            ctypes.c_long, c_i64, c_i64,      # ncomp, h, w
            ctypes.c_void_p,                  # scratch
            ctypes.c_void_p,                  # m (IDCT constants)
            ctypes.c_void_p,                  # out
        ]
        fn._smc_typed = True
    return fn


def jpegprog():
    """ctypes handle for the progressive-JPEG scan kernel, or None.

    long decode_prog_segment(seg, nbytes, mcu_start, mcu_end,
                             scan_mcux, nslots, luts, coefs, rowstep,
                             colstep, offs, offbase, noffs, zigzag,
                             ss, se, ah, al, is_dc)
    """
    lib = _load("jpegprog.c")
    if lib is None:
        return None
    fn = lib.decode_prog_segment
    if not getattr(fn, "_smc_typed", False):
        c_i64 = ctypes.c_longlong
        fn.restype = ctypes.c_long
        fn.argtypes = [
            ctypes.c_char_p,                  # seg
            c_i64, c_i64, c_i64, c_i64,       # nbytes, start, end, mcux
            ctypes.c_long,                    # nslots
            ctypes.POINTER(ctypes.c_void_p),  # luts
            ctypes.POINTER(ctypes.c_void_p),  # coefs
            ctypes.c_void_p, ctypes.c_void_p,  # rowstep, colstep
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,  # offs...
            ctypes.c_void_p,                  # zigzag
            ctypes.c_long, ctypes.c_long,     # ss, se
            ctypes.c_long, ctypes.c_long,     # ah, al
            ctypes.c_long,                    # is_dc
        ]
        fn._smc_typed = True
    return fn


def vp8ltree():
    """ctypes handle for the VP8L code-length read kernel, or None.

    long read_code_lengths(data, nbits, p0, clc_lut, clc_mask,
                           clc_single, lengths, alphabet_size,
                           max_symbol, final_pos)
    """
    lib = _load("vp8ltree.c")
    if lib is None:
        return None
    fn = lib.read_code_lengths
    if not getattr(fn, "_smc_typed", False):
        c_i64 = ctypes.c_longlong
        fn.restype = ctypes.c_long
        fn.argtypes = [
            ctypes.c_char_p,                  # data
            c_i64, c_i64,                     # nbits, p0
            ctypes.c_void_p,                  # clc_lut (NULL if single)
            ctypes.c_long, ctypes.c_long,     # clc_mask, clc_single
            ctypes.c_void_p,                  # lengths (int32 out)
            ctypes.c_long, ctypes.c_long,     # alphabet_size, max_symbol
            ctypes.c_void_p,                  # final_pos (int64 out)
        ]
        fn._smc_typed = True
    return fn


def vp8lpix():
    """ctypes handle for the VP8L pixel-loop kernel, or None.

    long decode_pixels(data, nbytes, p0, w, h, ngroups, luts,
                       masks, singles, meta_bits, group_of, meta_w,
                       cache_bits, dist_map, out, final_pos)
    """
    lib = _load("vp8lpix.c")
    if lib is None:
        return None
    fn = lib.decode_pixels
    if not getattr(fn, "_smc_typed", False):
        c_i64 = ctypes.c_longlong
        fn.restype = ctypes.c_long
        fn.argtypes = [
            ctypes.c_char_p,                  # data
            c_i64, c_i64, c_i64, c_i64,       # nbytes, p0, w, h
            ctypes.c_long,                    # ngroups
            ctypes.POINTER(ctypes.c_void_p),  # luts (per group*5+slot)
            ctypes.c_void_p, ctypes.c_void_p,  # masks, singles
            ctypes.c_long, ctypes.c_void_p, c_i64,  # meta_bits/of/w
            ctypes.c_long,                    # cache_bits
            ctypes.c_void_p,                  # dist_map
            ctypes.c_void_p,                  # out
            ctypes.c_void_p,                  # final_pos
        ]
        fn._smc_typed = True
    return fn
