"""Build-on-first-use loader for the compiled FSST kernel (fsst_kernel.c).

`kernel()` returns a `Kernel` (typed calls into the loaded library), or
None when it cannot be built or loaded; fsst.py then runs its numpy rules,
which the kernel reproduces byte for byte. The first call in a process
builds the shared object with the local C compiler into a cache keyed by
the source and the build line (`$XDG_CACHE_HOME/skar_spark`, else
`~/.cache/skar_spark`; not the temp dir, which a run may delete). A file
lock serialises the processes that start cold together (driver, Python
workers, DataSource planners), and a temp-file-plus-rename publishes the
result, so a host compiles each source once. The library is loaded
through cffi's ABI mode, which needs no Python headers and releases the
GIL around each call.
"""

from __future__ import annotations

import hashlib
import importlib.resources
import logging
import os
import platform
import subprocess
import tempfile
import threading

import numpy as np

log = logging.getLogger(__name__)

CC = "gcc"
CFLAGS = ("-O3", "-fPIC", "-shared", "-std=c99")
CDEF = """
void skar_byte_presence(const uint8_t *in, size_t n, uint8_t *present);
size_t skar_pair_pass(const uint8_t *in, size_t n, const uint16_t *lut,
                      uint8_t *out);
int skar_build_table(uint8_t *buf, size_t n, const uint8_t *codes,
                     int n_codes, size_t min_count, uint8_t *pairs);
size_t skar_expand(const uint8_t *in, size_t n, const uint64_t *off,
                   const uint8_t *syms, uint8_t *out, size_t cap);
"""

_lock = threading.Lock()
_loaded: list = []  # [Kernel or None] once the first call decided


class Kernel:
    """The kernel's functions over Python buffers: each call types its
    pointers and sizes its outputs from its inputs, so the C side never
    writes past a buffer it was given."""

    def __init__(self, ffi, lib):
        self.ffi, self.lib = ffi, lib

    def _u8(self, buf):
        return self.ffi.from_buffer("uint8_t[]", buf)

    def byte_presence(self, data: bytes) -> np.ndarray:
        present = np.empty(256, np.bool_)
        self.lib.skar_byte_presence(self._u8(data), len(data),
                                    self._u8(present))
        return present

    def pair_pass(self, a: np.ndarray, lut: np.ndarray) -> np.ndarray:
        if a.dtype != np.uint8 or lut.dtype != np.uint16 or \
                lut.shape != (65536,):
            raise ValueError("pair_pass takes uint8 data and a 65536-entry "
                             "uint16 table")
        out = np.empty(len(a), np.uint8)
        n = self.lib.skar_pair_pass(
            self._u8(a), len(a), self.ffi.from_buffer("uint16_t[]", lut),
            self._u8(out))
        return out[:n]

    def build_table(self, sample: bytes, codes: bytes,
                    min_count: int) -> bytes:
        """The learned pairs, two bytes per round."""
        buf, pairs = bytearray(sample), bytearray(2 * len(codes))
        done = self.lib.skar_build_table(
            self._u8(buf), len(buf), self._u8(codes), len(codes),
            max(min_count, 0), self._u8(pairs))
        if done < 0:
            raise MemoryError("FSST table build: pair counts")
        return bytes(pairs[:2 * done])

    def expand(self, data: bytes, symbols: list[bytes],
               cap: int) -> tuple[int, bytearray]:
        """(bytes written, buffer) of byte b -> symbols[b] over `data`;
        the count exceeds `cap` when the expansion does not fit it."""
        if len(symbols) != 256:
            raise ValueError("expand takes one symbol per byte value")
        off = np.zeros(257, np.uint64)
        np.cumsum([len(s) for s in symbols], out=off[1:])
        syms = b"".join(symbols) + bytes(16)  # the kernel's 16-byte copies
        out = bytearray(cap)
        n = self.lib.skar_expand(
            self._u8(data), len(data), self.ffi.from_buffer("uint64_t[]", off),
            self._u8(syms), self._u8(out), cap)
        return n, out


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(base, "skar_spark")


def kernel() -> Kernel | None:
    """The compiled kernel, or None (logged once per process) when no
    compiler, cache directory or cffi is usable."""
    if not _loaded:
        with _lock:
            if not _loaded:
                try:
                    _loaded.append(_load())
                except (ImportError, OSError, subprocess.SubprocessError) as e:
                    err = getattr(e, "stderr", None) or b""
                    log.warning("FSST kernel unavailable, using the numpy "
                                "encoder and replace-chain decoder: %s %s", e,
                                err[-500:].decode(errors="replace"))
                    _loaded.append(None)
    return _loaded[0]


def _load():
    from cffi import FFI
    src = importlib.resources.files(__package__).joinpath(
        "fsst_kernel.c").read_bytes()
    line = " ".join((CC, *CFLAGS, platform.machine()))
    key = hashlib.sha256(src + line.encode()).hexdigest()[:20]
    path = os.path.join(cache_dir(), f"fsst-{key}.so")
    if not os.path.exists(path):
        _build(src, path)
    ffi = FFI()
    ffi.cdef(CDEF)
    return Kernel(ffi, ffi.dlopen(path))


def _build(src: bytes, path: str) -> None:
    """Compile under an exclusive lock, unless a process that held the
    lock first already published `path`."""
    import fcntl
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    with open(path + ".lock", "wb") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        if os.path.exists(path):
            return
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".so.tmp")
        os.close(fd)
        try:
            subprocess.run([CC, *CFLAGS, "-x", "c", "-", "-o", tmp],
                           input=src, check=True, capture_output=True,
                           timeout=120)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
