"""Lazy gcc-compiled native HNSW kernel (ctypes).

The Python kernel in ``_hnsw_kernel.py`` is the semantic reference; this
module compiles ``_native_hnsw.c`` — the same algorithm with the same
tie-breaking — at first use and exposes two entry points:

- ``build()``: the shard build (``build_local``), which was ~95% Python
  interpreter overhead inside applyInPandas;
- ``search()``: a batch of kNN queries over a frozen (CSR) index
  (``LocalHNSW.search_batch``), the serving and cogroup search kernel.

Both cover only the built-in l2_sq and hamming metrics. cosine, dot and
user-registered ``CUSTOM_BATCH`` metrics (the opaque-distance plug-in)
always run on the Python kernel.

Determinism & parity:
- hamming distances are integer popcounts — bit-identical to Python.
- l2_sq is a sequential ``sum((a-b)^2)`` compiled with
  ``-ffp-contract=off``: a fixed IEEE-754 evaluation order, so results
  are deterministic across runs/boxes. numpy's einsum reduction uses a
  SIMD lane order, so individual distances can differ from the Python
  kernel in the last ulp; graph EDGES only change if two candidate
  distances straddle that ulp, which the parity suite + pinned tests
  re-verify (see OPTIMIZATION_r12.md).

If gcc or anything else is unavailable, ``build()``/``search()`` return
None and the caller falls back to the Python kernel (identical semantics).
Set ``SPARK_GRAFT_NO_NATIVE=1`` to force the Python path.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_LIB = None
_LIB_TRIED = False

_METRIC_CODE = {"l2_sq": 0, "hamming": 1}


def _source_path() -> str:
    return os.path.join(os.path.dirname(__file__), "_native_hnsw.c")


def _compile() -> "ctypes.CDLL | None":
    src = _source_path()
    try:
        with open(src, "rb") as fh:
            code = fh.read()
    except OSError:
        return None
    tag = hashlib.sha256(code).hexdigest()[:16]
    cache_dir = os.environ.get("SPARK_GRAFT_NATIVE_DIR") or tempfile.gettempdir()
    so_path = os.path.join(cache_dir, f"hps_native_{tag}.so")
    if not os.path.exists(so_path):
        tmp = so_path + f".tmp.{os.getpid()}"
        try:
            subprocess.run(
                ["gcc", "-O2", "-fPIC", "-shared", "-ffp-contract=off",
                 "-o", tmp, src],
                check=True,
                capture_output=True,
                timeout=120,
            )
            os.replace(tmp, so_path)
        except Exception:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            return None
    try:
        lib = ctypes.CDLL(so_path)
    except OSError:
        return None
    lib.hps_build.restype = ctypes.c_void_p
    lib.hps_build.argtypes = [
        ctypes.c_int64, ctypes.c_int32,
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_int32,
        ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_int32, ctypes.c_int32,
        ctypes.c_void_p,
    ]
    lib.hps_export.restype = None
    lib.hps_export.argtypes = [ctypes.c_void_p] + [ctypes.c_void_p] * 4
    lib.hps_entry.restype = None
    lib.hps_entry.argtypes = [ctypes.c_void_p] * 3
    lib.hps_free.restype = None
    lib.hps_free.argtypes = [ctypes.c_void_p]
    lib.hps_search.restype = None
    lib.hps_search.argtypes = [
        ctypes.c_int64, ctypes.c_int32,
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_int32,
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_int32,
        ctypes.c_int64, ctypes.c_int32,
        ctypes.c_void_p, ctypes.c_int64, ctypes.c_int64,
        ctypes.c_int64, ctypes.c_void_p,
        ctypes.c_void_p, ctypes.c_void_p,
    ]
    return lib


def get_lib() -> "ctypes.CDLL | None":
    global _LIB, _LIB_TRIED
    if _LIB_TRIED:
        return _LIB
    _LIB_TRIED = True
    if os.environ.get("SPARK_GRAFT_NO_NATIVE"):
        return None
    _LIB = _compile()
    return _LIB


def usable(metric_name: str, params) -> bool:
    """Native path covers the built-in symmetric metrics whose arithmetic
    is replicated exactly (hamming) or deterministically (l2_sq)."""
    if metric_name not in _METRIC_CODE:
        return False
    n = len(params.M_per_layer)
    if n == 0 or len(params.M_max_per_layer) != n:
        return False
    caps = max(
        max(params.M_per_layer), max(params.M_max_per_layer)
    )
    if caps + 1 > 1000:  # fixed stack buffers in connect_bidir
        return False
    return get_lib() is not None


def _payload_args(data: np.ndarray, mcode: int):
    """(dim, fdata ptr, codes ptr, keep-alive array) for the C kernel."""
    if mcode == 1:
        codes = np.ascontiguousarray(data.view(np.uint64).reshape(-1))
        return 0, None, codes.ctypes.data, codes
    fdata = np.ascontiguousarray(data, dtype=np.float64)
    return fdata.shape[1], fdata.ctypes.data, None, fdata


def build(
    data: np.ndarray,
    metric_name: str,
    layers: np.ndarray,
    order: np.ndarray,
    params,
    neighbor_heuristic: bool,
):
    """Run the C build. Returns (e_node, e_layer, e_dst, e_dist, entry,
    entry_layer) with local node indices, or None when unavailable."""
    lib = get_lib()
    if lib is None:
        return None
    n = len(layers)
    mcode = _METRIC_CODE[metric_name]
    dim, fptr, cptr, _keep = _payload_args(data, mcode)
    layers32 = np.ascontiguousarray(layers, dtype=np.int32)
    order64 = np.ascontiguousarray(order, dtype=np.int64)
    npl = len(params.M_per_layer)
    p_m = np.asarray(params.M_per_layer, dtype=np.int32)
    p_mmax = np.asarray(params.M_max_per_layer, dtype=np.int32)
    p_efcs = np.asarray(params.ef_constr_search_per_layer, dtype=np.int32)
    p_efci = np.asarray(params.ef_constr_insert_per_layer, dtype=np.int32)
    total = ctypes.c_int64(0)
    ctx = lib.hps_build(
        n, dim, fptr, cptr, mcode,
        layers32.ctypes.data, order64.ctypes.data,
        p_m.ctypes.data, p_mmax.ctypes.data,
        p_efcs.ctypes.data, p_efci.ctypes.data,
        npl, 1 if neighbor_heuristic else 0,
        ctypes.byref(total),
    )
    if not ctx:
        return None
    try:
        t = total.value
        e_node = np.empty(t, dtype=np.int64)
        e_layer = np.empty(t, dtype=np.int32)
        e_dst = np.empty(t, dtype=np.int64)
        e_dist = np.empty(t, dtype=np.float64)
        lib.hps_export(
            ctx, e_node.ctypes.data, e_layer.ctypes.data,
            e_dst.ctypes.data, e_dist.ctypes.data,
        )
        entry = ctypes.c_int64(-1)
        entry_layer = ctypes.c_int32(-1)
        lib.hps_entry(ctx, ctypes.byref(entry), ctypes.byref(entry_layer))
    finally:
        lib.hps_free(ctx)
    return e_node, e_layer, e_dst, e_dist, entry.value, entry_layer.value


def search(
    data: np.ndarray,
    metric_name: str,
    csr: dict,
    entry: int,
    entry_layer: int,
    ef_tab: list,
    ef0: int,
    k: int,
    q_pos: np.ndarray,
):
    """Run the C batch search over a frozen index (``csr``: layer ->
    (indptr, nbrs)); requires the library (``usable``). Returns (nq, k)
    local node ids (-1 pad) and distances."""
    lib = get_lib()
    mcode = _METRIC_CODE[metric_name]
    dim, fptr, cptr, _keep = _payload_args(data, mcode)
    nlayers = max(csr, default=-1) + 1
    arrays = {
        lc: [np.ascontiguousarray(a, dtype=np.int64) for a in pair]
        for lc, pair in csr.items()
    }
    indptr, nbrs = (
        (ctypes.c_void_p * max(nlayers, 1))(*[
            arrays[lc][i].ctypes.data if lc in arrays else None
            for lc in range(nlayers)
        ])
        for i in (0, 1)
    )
    ef32 = np.ascontiguousarray(ef_tab, dtype=np.int32)
    q64 = np.ascontiguousarray(q_pos, dtype=np.int64)
    nq = len(q64)
    if len(ef32) != entry_layer + 1 or not 0 <= entry < len(data):
        raise ValueError("ef table or entry point does not match the index")
    if nq and (q64.min() < 0 or q64.max() >= len(data)):
        raise IndexError("query position outside the staged payload")
    out_node = np.empty((nq, k), dtype=np.int64)
    out_dist = np.empty((nq, k), dtype=np.float64)
    lib.hps_search(
        len(data), dim, fptr, cptr, mcode,
        indptr, nbrs, nlayers, entry, entry_layer,
        ef32.ctypes.data, ef0, k, nq, q64.ctypes.data,
        out_node.ctypes.data, out_dist.ctypes.data,
    )
    return out_node, out_dist
