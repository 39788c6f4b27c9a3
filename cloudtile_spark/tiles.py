"""Web-Mercator tile math — the data-plane core the reference delegates to
tippecanoe (reference: src/cloudtile/geofile.py:224-234 shells out; the zoom
contract lives in src/cloudtile/tippecanoe.yaml:25-29 and geofile.py:194-210).

Two faces of the same math:

1. **SQL expression builders** (``*_expr`` / ``*_sql``) — emit arithmetic that
   runs JVM-side inside whole-stage codegen (and, identically, in DuckDB for
   the correctness oracle). This is the hot path: point -> (z, x, y) needs no
   UDF at all, so a 100 TB scan never leaves Tungsten. ``hilbert_d_sql`` is
   Spark-only (DuckDB has no ``aggregate`` lambda); it orders the PMTiles
   archive stream and keys the ``hilbert_order`` query.
2. **NumPy kernels** — the same formulas vectorized for use inside
   Arrow-batched pandas UDFs (clipping, MVT encode, raster render), for
   picking the PIP cover resolution before a plan is built, and as the
   reference the SQL builders are tested against. Bbox tile covers are
   built in the plan from the SQL face (``operators/pyramid._bbox_tiles``).

All formulas are the standard public slippy-map / EPSG:3857 equations:
    n = 2^z
    x = floor((lon + 180) / 360 * n)
    y = floor((1 - ln(tan(lat) + sec(lat)) / pi) / 2 * n)
with latitude clamped to +/-85.05112878 (the Mercator square).
"""

from __future__ import annotations

import math

import numpy as np

MAX_LAT = 85.05112878  # Web-Mercator latitude clamp
MIN_LAT = -85.05112878
TILE_EXTENT = 4096  # MVT default integer extent per tile


# ---------------------------------------------------------------------------
# SQL expression builders (valid in BOTH Spark SQL and DuckDB — parity is
# unit-tested in tests/test_tiles.py so oracle comparisons are exact).
# ---------------------------------------------------------------------------

def clamped_lat_sql(lat: str) -> str:
    """Latitude clamped to the Mercator square, as a SQL expression."""
    return f"least(greatest({lat}, {MIN_LAT}), {MAX_LAT})"


def norm_lon_sql(lon: str) -> str:
    """Longitude normalized to [-180, 180) — tippecanoe's
    detect-longitude-wraparound (reference tippecanoe.yaml:98-99).

    floor-based (not ``%``): double fmod differs across engines in the last
    ulp; +/-*/floor are IEEE-deterministic, so this form is oracle-exact.
    """
    return f"(({lon}) - 360.0 * floor((({lon}) + 180.0) / 360.0))"


def tile_x_sql(lon: str, z: str) -> str:
    """Tile x for a longitude column at zoom ``z`` (both may be SQL exprs).

    Clamped to [0, 2^z - 1] so lon=180 maps into the last column.
    """
    n = f"cast(pow(2.0, {z}) as bigint)"
    raw = f"cast(floor((({lon}) + 180.0) / 360.0 * pow(2.0, {z})) as bigint)"
    return f"least(greatest({raw}, 0), {n} - 1)"


def tile_y_sql(lat: str, z: str) -> str:
    """Tile y for a latitude column at zoom ``z``.

    Uses ln(tan+sec) (not asinh — DuckDB 1.0 lacks asinh) so the identical
    expression string runs in Spark SQL and in the DuckDB oracle.
    """
    phi = f"radians({clamped_lat_sql(lat)})"
    merc = f"ln(tan({phi}) + 1.0 / cos({phi}))"
    n = f"cast(pow(2.0, {z}) as bigint)"
    raw = f"cast(floor((1.0 - {merc} / pi()) / 2.0 * pow(2.0, {z})) as bigint)"
    return f"least(greatest({raw}, 0), {n} - 1)"


def hilbert_d_sql(z: str, x: str, y: str) -> str:
    """Hilbert-curve distance of tile (x, y) at zoom ``z`` (all may be SQL
    exprs): :func:`hilbert_d`'s per-bit rotation folded with ``aggregate``
    over the bits, top bit first, in one JVM expression.

    Spark only: DuckDB has no ``aggregate`` lambda, so the oracle text
    (``queries._hilbert_sql``) unrolls the same rotation per bit.
    """
    rx, ry = "(shiftright(a.x, i) & 1)", "(shiftright(a.y, i) & 1)"

    def turn(c: str, o: str) -> str:  # coordinate c after level i's rotation
        return (f"case when {ry} = 1 then a.{c} when {rx} = 1 "
                f"then shiftleft(1L, i) - 1 - a.{o} else a.{o} end")

    return (f"aggregate(sequence(greatest(({z}) - 1, 0), 0, -1), "
            f"named_struct('x', cast({x} as bigint), "
            f"'y', cast({y} as bigint), 'd', 0L), "
            f"(a, i) -> named_struct('x', {turn('x', 'y')}, "
            f"'y', {turn('y', 'x')}, "
            f"'d', a.d + shiftleft((3 * {rx}) ^ {ry}, 2 * i)), a -> a.d)")


def quadkey_sql(x: str, y: str, z: int) -> str:
    """Bing-style quadkey string for tile (x, y) at fixed zoom ``z``.

    Digit i (from the top zoom down): bit i of x plus 2x bit i of y.
    Unrolled into z concat'd digits — stays inside codegen, no UDF.
    """
    if z <= 0:
        return "''"
    digits = []
    for i in range(z - 1, -1, -1):
        digits.append(
            f"cast((({x}) >> {i}) & 1 | (((({y}) >> {i}) & 1) << 1) as string)"
        )
    return "concat(" + ", ".join(digits) + ")"


def morton_sql(x: str, y: str) -> str:
    """Morton (Z-order) interleave of two <=16-bit tile coords as one BIGINT.

    Classic magic-number bit spreading, unrolled — valid Spark SQL and DuckDB.
    Used as the locality-preserving sort key for tile output (tippecanoe's
    ordering semantics slot, reference tippecanoe.yaml:85-94).
    """

    def spread(v: str) -> str:
        e = f"cast({v} as bigint)"
        e = f"(({e} | ({e} << 16)) & 281470681808895)"     # 0x0000FFFF0000FFFF
        e = f"(({e} | ({e} << 8)) & 71777214294589695)"    # 0x00FF00FF00FF00FF
        e = f"(({e} | ({e} << 4)) & 1085102592571150095)"  # 0x0F0F0F0F0F0F0F0F
        e = f"(({e} | ({e} << 2)) & 3689348814741910323)"  # 0x3333333333333333
        e = f"(({e} | ({e} << 1)) & 6148914691236517205)"  # 0x5555555555555555
        return e

    return f"({spread(x)} | ({spread(y)} << 1))"


# ---------------------------------------------------------------------------
# NumPy kernels (vectorized; used inside pandas UDFs and as test oracles)
# ---------------------------------------------------------------------------

def lonlat_to_tile(
    lon: np.ndarray, lat: np.ndarray, z: int
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized lon/lat -> (x, y) tile coords at zoom z."""
    n = 1 << z
    lat_c = np.clip(lat, MIN_LAT, MAX_LAT)
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n)
    phi = np.radians(lat_c)
    merc = np.log(np.tan(phi) + 1.0 / np.cos(phi))
    y = np.floor((1.0 - merc / math.pi) / 2.0 * n)
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    return x, y


def tile_bounds(z: int, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, ...]:
    """(lon_min, lat_min, lon_max, lat_max) of tiles; vectorized."""
    n = float(1 << z)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon_min = x / n * 360.0 - 180.0
    lon_max = (x + 1) / n * 360.0 - 180.0

    def _lat(yy: np.ndarray) -> np.ndarray:
        t = math.pi * (1 - 2 * yy / n)
        return np.degrees(np.arctan(np.sinh(t)))

    lat_max = _lat(y)
    lat_min = _lat(y + 1)
    return lon_min, lat_min, lon_max, lat_max


def quadkey(x: np.ndarray, y: np.ndarray, z: int) -> np.ndarray:
    """Vectorized quadkey strings."""
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    out = np.full(x.shape, "", dtype=object)
    for i in range(z - 1, -1, -1):
        digit = ((x >> i) & 1) | (((y >> i) & 1) << 1)
        out = np.char.add(out.astype(str), digit.astype(str)).astype(object)
    return out.astype(str)


def morton(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized Morton interleave (matches :func:`morton_sql`)."""

    def spread(v: np.ndarray) -> np.ndarray:
        v = np.asarray(v, dtype=np.int64)
        v = (v | (v << 16)) & 0x0000FFFF0000FFFF
        v = (v | (v << 8)) & 0x00FF00FF00FF00FF
        v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0F
        v = (v | (v << 2)) & 0x3333333333333333
        v = (v | (v << 1)) & 0x5555555555555555
        return v

    return spread(x) | (spread(y) << 1)


def hilbert_d(z: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized Hilbert-curve distance of tile (x, y) at order z.

    Standard public xy->d algorithm (rot/reflect per level), vectorized over
    arrays: the reference for :func:`hilbert_d_sql`, which serves
    tippecanoe's ``hilbert`` ordering option (reference tippecanoe.yaml:89)
    and the PMTiles tile id.
    """
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1 << (z - 1)) if z > 0 else np.int64(0)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        x_new = np.where(swap, y_f, x_f)
        y_new = np.where(swap, x_f, y_f)
        x, y = x_new, y_new
        s >>= 1
    return d


def tile_local_coords(
    lon: np.ndarray, lat: np.ndarray, z: int, x: int, y: int,
    extent: int = TILE_EXTENT,
) -> tuple[np.ndarray, np.ndarray]:
    """Project lon/lat into tile-local integer coordinates [0, extent)."""
    n = float(1 << z)
    lat_c = np.clip(lat, MIN_LAT, MAX_LAT)
    fx = (np.asarray(lon, np.float64) + 180.0) / 360.0 * n - x
    phi = np.radians(lat_c)
    merc = np.log(np.tan(phi) + 1.0 / np.cos(phi))
    fy = (1.0 - merc / math.pi) / 2.0 * n - y
    px = np.clip(np.round(fx * extent), -extent, 2 * extent).astype(np.int64)
    py = np.clip(np.round(fy * extent), -extent, 2 * extent).astype(np.int64)
    return px, py


# web-mercator (EPSG:3857) sphere radius — fixed by the projection spec,
# distinct from the mean earth radius geom.py uses for haversine
MERC_R = 6378137.0


def merc_to_lon_sql(x: str) -> str:
    """EPSG:3857 x (meters) -> longitude degrees. Pure arithmetic —
    identical text runs in Spark SQL and the DuckDB oracle."""
    return f"degrees(({x}) / {MERC_R!r})"


def merc_to_lat_sql(y: str) -> str:
    """EPSG:3857 y (meters) -> latitude degrees (inverse gudermannian)."""
    return f"degrees(2.0 * atan(exp(({y}) / {MERC_R!r})) - pi() / 2.0)"


def lon_to_merc_sql(lon: str) -> str:
    return f"(radians({lon}) * {MERC_R!r})"


def lat_to_merc_sql(lat: str) -> str:
    phi = f"radians({clamped_lat_sql(lat)})"
    return f"(ln(tan(pi() / 4.0 + ({phi}) / 2.0)) * {MERC_R!r})"


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_sql(lon: str, lat: str, precision: int = 6) -> str:
    """Standard geohash (Niemeyer base32) of a lon/lat column pair as a
    pure SQL expression — valid in Spark SQL AND DuckDB, all integer bit
    math inside codegen (no UDF). Even precisions only (lon and lat then
    carry precision*5/2 bits each, which the 16-bit morton spread covers
    up to precision 12).

    Geohash bit layout: MSB-first alternating lon, lat, ... — i.e. lon
    occupies the odd bit positions of the morton interleave (y side) and
    lat the even (x side).
    """
    if precision % 2 or precision > 12:
        raise ValueError("even precision <= 12 required")
    bits = precision * 5 // 2  # per axis
    n = 1 << bits
    lon_q = (f"least(greatest(cast(floor((({lon}) + 180.0) / 360.0 "
             f"* {n}.0) as bigint), 0), {n - 1})")
    lat_q = (f"least(greatest(cast(floor((({lat}) + 90.0) / 180.0 "
             f"* {n}.0) as bigint), 0), {n - 1})")
    v = morton_sql(lat_q, lon_q)
    chars = [
        f"substr('{_GEOHASH32}', cast((({v}) >> {5 * (precision - 1 - i)})"
        f" & 31 as int) + 1, 1)"
        for i in range(precision)
    ]
    return "concat(" + ", ".join(chars) + ")"
