"""H3-style hierarchical spatial cell index, built from scratch.

The reference engine (OSMNetFusion) uses shapely STRtree probes as its
spatial index (``p2_enrichData.py:140``, ``p3_functions.py:406``). A
per-executor R-tree does not distribute, so this engine replaces it with the
standard web-scale pattern the north star asks for: every geometry is keyed
by hierarchical grid cells and spatial predicates become *equi-joins on cell
id* followed by exact in-partition refinement.

No third-party H3/S2 library exists in this environment, so the index is an
aperture-4 quadtree over the equirectangular plane, with the H3 API surface
the engine needs:

- ``cell_col(lat, lon, res)``    -- encode, **pure Spark column arithmetic**
  (whole-stage codegen; no UDF; expressible in ANSI SQL for oracles)
- ``ring_offsets(k)``           -- cell-id offsets of the ring-k block, the
  one source of neighbor cells for column- and numpy-side dilation
- ``cell_np`` / ``ring_np``      -- vectorized numpy encode / k-ring
- ``parent`` relation            -- ``i >> 1, j >> 1`` (res-1), giving the
  partition-prefix hierarchy used for table layout

Cell id layout (63 usable bits, valid for res <= 20):

    id = res * 2^58 + j * 2^29 + i
    i  = floor((lon + 180) / size),  j = floor((lat + 90) / size)
    size = 1 / 2^res degrees

At res 10 a cell is ~108 m of latitude; ~72 m of longitude at 48 deg N.
For a distance join of radius r, ``pick_res`` returns the finest res whose
cell short side still >= r, so own-cell + ring-1 candidates are complete.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

SHIFT_RES = 2**58
SHIFT_J = 2**29
M_PER_DEG_LAT = 110_574.0
M_PER_DEG_LON_EQ = 111_320.0
MAX_RES = 20


def size_deg(res: int) -> float:
    """Cell edge length in degrees at resolution ``res``."""
    return 1.0 / (1 << res)


def cell_dims_m(res: int, lat: float) -> tuple[float, float]:
    """(lat_extent_m, lon_extent_m) of a cell at ``res`` near latitude ``lat``."""
    s = size_deg(res)
    return s * M_PER_DEG_LAT, s * M_PER_DEG_LON_EQ * math.cos(math.radians(lat))


def pick_res(radius_m: float, lat: float = 48.15) -> int:
    """Finest res whose cell short side >= radius_m (ring-1 completeness)."""
    for res in range(MAX_RES, -1, -1):
        if min(cell_dims_m(res, lat)) >= radius_m:
            return res
    return 0


# ---------------------------------------------------------------- column API


def cell_col(lat: Column, lon: Column, res: int) -> Column:
    """Encode a cell id as a pure column expression (no UDF, codegen-able)."""
    inv = float(1 << res)  # 1/size
    i = F.floor((lon + F.lit(180.0)) * F.lit(inv)).cast("long")
    j = F.floor((lat + F.lit(90.0)) * F.lit(inv)).cast("long")
    return (F.lit(res * SHIFT_RES) + j * F.lit(SHIFT_J) + i).cast("long")


def cell_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """The identical encode as an ANSI-SQL string (DuckDB oracle parity)."""
    inv = 1 << res
    return (
        f"(CAST({res} AS BIGINT) * {SHIFT_RES} "
        f"+ CAST(floor(({lat_expr} + 90.0) * {inv}) AS BIGINT) * {SHIFT_J} "
        f"+ CAST(floor(({lon_expr} + 180.0) * {inv}) AS BIGINT))"
    )


def parent_col(cell: Column, steps: int = 1) -> Column:
    """Parent cell id ``steps`` levels up (partition-prefix hierarchy)."""
    res = (cell / F.lit(SHIFT_RES)).cast("long")
    rem = cell - res * F.lit(SHIFT_RES)
    j = (rem / F.lit(SHIFT_J)).cast("long")
    i = rem - j * F.lit(SHIFT_J)
    p = F.lit(2**steps)
    return (
        (res - F.lit(steps)) * F.lit(SHIFT_RES)
        + F.floor(j / p).cast("long") * F.lit(SHIFT_J)
        + F.floor(i / p).cast("long")
    ).cast("long")


# ----------------------------------------------------------------- numpy API


def cell_np(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    inv = float(1 << res)
    i = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) * inv).astype(np.int64)
    j = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) * inv).astype(np.int64)
    return res * SHIFT_RES + j * SHIFT_J + i


def decode_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id -> (res, i, j) arrays."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell // SHIFT_RES
    rem = cell - res * SHIFT_RES
    j = rem // SHIFT_J
    i = rem - j * SHIFT_J
    return res, i, j


def cell_center_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """cell id -> (lat, lon) of the cell center."""
    res, i, j = decode_np(cell)
    size = 1.0 / np.power(2.0, res.astype(np.float64))
    lon = (i.astype(np.float64) + 0.5) * size - 180.0
    lat = (j.astype(np.float64) + 0.5) * size - 90.0
    return lat, lon


def ring_offsets(k: int = 1) -> list[int]:
    """Id offsets of the cells within Chebyshev distance k, self included:
    ``cell + off`` walks the (2k+1)^2 same-res block row by row."""
    return [dj * SHIFT_J + di for dj in range(-k, k + 1) for di in range(-k, k + 1)]


def ring_np(cell: int, k: int = 1) -> np.ndarray:
    """All cells within Chebyshev distance k (the (2k+1)^2 block incl. self)."""
    return np.int64(cell) + np.array(ring_offsets(k), dtype=np.int64)


def dilate_cells_np(cells: np.ndarray, k: int = 1) -> np.ndarray:
    """Union of ring-k of every input cell (deduped, sorted)."""
    cells = np.asarray(cells, dtype=np.int64)
    return np.unique(cells[:, None] + np.array(ring_offsets(k), dtype=np.int64))
