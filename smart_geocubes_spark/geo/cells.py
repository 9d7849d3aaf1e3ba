"""Hierarchical Morton/quadkey cell index (H3/S2 stand-in, pure numpy).

The north rule mandates "batched H3/S2 cell encoding in pandas/Arrow
UDFs". Neither h3 nor s2 bindings exist in this environment, so we
implement the same *role* — hierarchical equal-grid spatial keys with
parent and k-ring operations — as a Z-order (Morton) curve over a
2^r x 2^r lat/lon grid. This is exactly the quadkey scheme used by web
tile pyramids; ``cell >> 2`` is the parent (one resolution up), and
ring(k) is the square ring of Chebyshev radius k.

Bit-interleave uses the classic magic-number spread, expressible both
in numpy (here) and as Spark/DuckDB integer expressions (see
``smart_geocubes_spark/functions/sqlgen.py``) so the DuckDB oracle can
verify the encoding bit-for-bit.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 16


def _spread_bits16(v: np.ndarray) -> np.ndarray:
    """Spread the low 16 bits of v to even bit positions (0,2,..,30)."""
    v = np.asarray(v, dtype=np.int64) & 0xFFFF
    v = (v | (v << 8)) & 0x00FF00FF
    v = (v | (v << 4)) & 0x0F0F0F0F
    v = (v | (v << 2)) & 0x33333333
    v = (v | (v << 1)) & 0x55555555
    return v


def _compact_bits16(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.int64) & 0x55555555
    v = (v | (v >> 1)) & 0x33333333
    v = (v | (v >> 2)) & 0x0F0F0F0F
    v = (v | (v >> 4)) & 0x00FF00FF
    v = (v | (v >> 8)) & 0x0000FFFF
    return v


def lonlat_to_ixiy(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """lon/lat degrees -> integer grid coords at resolution ``res``
    (2^res x 2^res global grid). Clamped to the grid."""
    n = np.int64(1) << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ix = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    iy = np.floor((lat + 90.0) / 180.0 * n).astype(np.int64)
    return np.clip(ix, 0, n - 1), np.clip(iy, 0, n - 1)


def cell_encode(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """lon/lat -> Morton cell id at resolution res (0..16).

    id = interleave(ix, iy) | res<<56  (res tag keeps ids from
    different resolutions disjoint, like H3's resolution nibble)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError("res must be 0..16")
    ix, iy = lonlat_to_ixiy(lon, lat, res)
    morton = _spread_bits16(ix) | (_spread_bits16(iy) << 1)
    return morton | (np.int64(res) << 56)


def cell_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (ix, iy, res)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> 56) & 0xFF
    morton = cell & ((np.int64(1) << 56) - 1)
    ix = _compact_bits16(morton)
    iy = _compact_bits16(morton >> 1)
    return ix, iy, res


def cell_parent(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    """Coarsen by ``steps`` resolutions (H3 cell_to_parent analog)."""
    ix, iy, res = cell_decode(cell)
    new_res = res - steps
    if np.any(new_res < 0):
        raise ValueError("parent below resolution 0")
    ix >>= steps
    iy >>= steps
    morton = _spread_bits16(ix) | (_spread_bits16(iy) << 1)
    return morton | (new_res.astype(np.int64) << 56)


def ring_offsets(k: int) -> np.ndarray:
    """(dx, dy) offsets of the square ring at Chebyshev radius exactly k
    (k=0 -> [(0,0)]). Used for kNN candidate ring expansion."""
    if k == 0:
        return np.zeros((1, 2), dtype=np.int64)
    offs = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            if max(abs(dx), abs(dy)) == k:
                offs.append((dx, dy))
    return np.asarray(offs, dtype=np.int64)


def cell_ring(cell: int, k: int) -> np.ndarray:
    """Cell ids of the ring at radius k around ``cell`` (same res),
    clipped at grid edges (no wrap in y; wrap in x for antimeridian)."""
    ix, iy, res = cell_decode(np.asarray([cell]))
    n = np.int64(1) << int(res[0])
    offs = ring_offsets(k)
    nx = (ix[0] + offs[:, 0]) % n  # x wraps across the antimeridian
    ny = iy[0] + offs[:, 1]
    ok = (ny >= 0) & (ny < n)
    nx, ny = nx[ok], ny[ok]
    morton = _spread_bits16(nx) | (_spread_bits16(ny) << 1)
    return morton | (res[0] << 56)


# a polyfill asked at a resolution whose candidate grid exceeds this is
# not a driver-side metadata set any more — fail loudly instead of
# materializing millions of rects in driver numpy (H3 polyfill has the
# same footgun; callers coarsen or tile the polygon)
MAX_POLYFILL_CANDIDATES = 4_000_000


def cell_polyfill(poly_x: np.ndarray, poly_y: np.ndarray, res: int) -> np.ndarray:
    """Cells at resolution ``res`` whose rectangle intersects the
    polygon — the H3 ``polyfill`` / S2 ``RegionCoverer`` role over the
    Morton grid. bbox-enumerate the candidate (ix, iy) window, then
    the exact rect x polygon refine (``geo/pip.py``), driver-side
    numpy: the candidate set is polygon-bounded metadata, never data.
    Cell edge lengths 360/2^res are exact binary doubles, so the
    refine arithmetic is exact and the DuckDB oracle replays it
    bit-for-bit through the shared predicate generator. Returns sorted
    int64 cell ids (res-tagged like :func:`cell_encode`)."""
    from smart_geocubes_spark.geo.pip import rects_intersect_polygon

    if not 0 <= res <= MAX_RES:
        raise ValueError("res must be 0..16")
    px = np.asarray(poly_x, dtype=np.float64)
    py = np.asarray(poly_y, dtype=np.float64)
    n = np.int64(1) << res
    dx, dy = 360.0 / float(n), 180.0 / float(n)
    ix_lo, iy_lo = lonlat_to_ixiy(px.min(), py.min(), res)
    ix_hi, iy_hi = lonlat_to_ixiy(px.max(), py.max(), res)
    n_cand = int(ix_hi - ix_lo + 1) * int(iy_hi - iy_lo + 1)
    if n_cand > MAX_POLYFILL_CANDIDATES:
        raise ValueError(
            f"polyfill at res {res} enumerates {n_cand} candidate cells "
            f"(> {MAX_POLYFILL_CANDIDATES}); coarsen the resolution or "
            "tile the polygon"
        )
    gx, gy = np.meshgrid(
        np.arange(ix_lo, ix_hi + 1, dtype=np.int64),
        np.arange(iy_lo, iy_hi + 1, dtype=np.int64),
    )
    ix, iy = gx.ravel(), gy.ravel()
    minx = -180.0 + ix * dx
    miny = -90.0 + iy * dy
    keep = rects_intersect_polygon(minx, miny, minx + dx, miny + dy, px, py)
    morton = _spread_bits16(ix[keep]) | (_spread_bits16(iy[keep]) << 1)
    return np.sort(morton | (np.int64(res) << 56))
