"""Shared lazy gcc build/load for the optional C kernel fast paths.

See kernels/stitch_cext.py for the design contract (lazy first-use
build, content-hashed cache, pure-Python fallback + oracle, disabled
via HGT2OSM2_NO_CKERNEL).  The flags matter for bit-exactness:
``-ffp-contract=off`` forbids FMA contraction so every double op in the
C twins matches the Python/NumPy IEEE-754 sequence exactly; no
-ffast-math, ever.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile


def build_lib(name: str, source: str) -> ctypes.CDLL:
    """Compile `source` (cached by content hash) and load it."""
    digest = hashlib.md5(source.encode()).hexdigest()[:16]
    cache_dir = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    so_dir = os.path.join(cache_dir, "hgt2osm2_spark")
    so_path = os.path.join(so_dir, f"{name}_{digest}.so")
    if not os.path.exists(so_path):
        os.makedirs(so_dir, exist_ok=True)
        # build INSIDE so_dir so the final os.replace is a same-filesystem
        # atomic rename (a /tmp tempdir raises EXDEV on tmpfs hosts, which
        # would disable every C path)
        with tempfile.TemporaryDirectory(dir=so_dir) as td:
            src = os.path.join(td, f"{name}.c")
            with open(src, "w") as f:
                f.write(source)
            tmp_so = os.path.join(td, f"{name}.so")
            subprocess.run(
                ["gcc", "-O2", "-ffp-contract=off", "-fPIC", "-shared",
                 "-o", tmp_so, src],
                check=True, capture_output=True, timeout=120,
            )
            # atomic publish — concurrent executor workers race benignly
            os.replace(tmp_so, so_path)
    return ctypes.CDLL(so_path)


def disabled() -> bool:
    return bool(os.environ.get("HGT2OSM2_NO_CKERNEL"))


#: name -> the bound library, or None after a failed build (per process)
_libs: dict[str, "ctypes.CDLL | None"] = {}
#: name -> why the library failed to build or bind
_errors: dict[str, str] = {}


def load(name: str, source: str, bind) -> "ctypes.CDLL | None":
    """The C kernel `name`, built from `source` and passed through
    `bind(lib)` (argtypes/restypes) on first use; None when the opt-out
    is set or the build failed. Either outcome is cached for the
    process, a failure together with its error text (see load_error),
    so a missing compiler is reported, not only slower."""
    if disabled():
        return None
    if name not in _libs:
        try:
            lib = build_lib(name, source)
            bind(lib)
        except (OSError, subprocess.SubprocessError, AttributeError) as ex:
            # no compiler / failed compile / unloadable .so / missing
            # symbol: fall back to the Python twin, keep the reason
            lib = None
            detail = getattr(ex, "stderr", None)
            if isinstance(detail, bytes):
                detail = detail.decode(errors="replace")
            _errors[name] = f"{type(ex).__name__}: {ex}" + (
                f"\n{detail.strip()}" if detail else "")
        _libs[name] = lib
    return _libs[name]


def load_error(name: str) -> str | None:
    """Why C kernel `name` failed to load, or None (loaded, untried,
    or disabled by the opt-out)."""
    return _errors.get(name)
