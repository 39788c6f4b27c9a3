"""Hierarchical spatial cell index (S2/H3-style role, quadtree-on-Mercator
implementation — "qcell").

The north star calls for an H3/S2-style discrete global grid to drive
point-in-polygon prefilters, kNN k-ring expansion joins, and skew-aware
partitioning. Neither h3 nor s2 bindings exist in this environment, so we
define our own public-math grid: the Web-Mercator quadtree. A cell at
resolution ``r`` is the tile (x, y) at zoom ``r``; its 64-bit id packs the
Morton interleave of (x, y) with the resolution:

    cell_id = (morton(x, y) << 5) | r          (r <= 30)

Properties this buys (same ones H3/S2 are used for):
  * ``parent(cell)``   = drop two Morton bits      -> hierarchy / rollups
  * prefix ordering    = spatial locality          -> range-partition keys
  * pure integer math  -> JVM-side codegen in Spark AND the DuckDB oracle

All builders emit SQL valid in both Spark SQL and DuckDB (parity unit-tested).
"""

from __future__ import annotations

import numpy as np

from . import tiles

RES_BITS = 5
RES_MASK = (1 << RES_BITS) - 1


# ---------------------------------------------------------------------------
# SQL expression builders
# ---------------------------------------------------------------------------

def cell_sql(lon: str, lat: str, res: int) -> str:
    """cell_id for a lon/lat column pair at resolution ``res`` (SQL)."""
    return cell_xy_sql(tiles.tile_x_sql(lon, str(res)),
                       tiles.tile_y_sql(lat, str(res)), res)


def cell_xy_sql(x: str, y: str, res: int) -> str:
    """cell_id of tile (x, y) at resolution ``res`` (SQL)."""
    return f"(({tiles.morton_sql(x, y)} << {RES_BITS}) | {res})"


def cell_res_sql(cell: str) -> str:
    return f"(({cell}) & {RES_MASK})"


def parent_sql(cell: str, steps: int = 1) -> str:
    """Parent cell ``steps`` resolutions up (SQL)."""
    return (
        f"((((({cell}) >> {RES_BITS}) >> {2 * steps}) << {RES_BITS})"
        f" | ({cell_res_sql(cell)} - {steps}))"
    )


# ---------------------------------------------------------------------------
# NumPy kernels
# ---------------------------------------------------------------------------

def cell(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    x, y = tiles.lonlat_to_tile(np.asarray(lon), np.asarray(lat), res)
    return (tiles.morton(x, y) << RES_BITS) | res


def cell_to_xy(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell_id -> (res, x, y); vectorized Morton de-interleave."""
    cells = np.asarray(cells, dtype=np.int64)
    res = cells & RES_MASK
    m = cells >> RES_BITS

    def compact(v: np.ndarray) -> np.ndarray:
        v = v & 0x5555555555555555
        v = (v | (v >> 1)) & 0x3333333333333333
        v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0F
        v = (v | (v >> 4)) & 0x00FF00FF00FF00FF
        v = (v | (v >> 8)) & 0x0000FFFF0000FFFF
        v = (v | (v >> 16)) & 0x00000000FFFFFFFF
        return v

    return res, compact(m), compact(m >> 1)


def parent(cells: np.ndarray, steps: int = 1) -> np.ndarray:
    cells = np.asarray(cells, dtype=np.int64)
    res = cells & RES_MASK
    return (((cells >> RES_BITS) >> (2 * steps)) << RES_BITS) | (res - steps)
