"""Core tile-math tests: hand-computed values, NumPy<->SQL(DuckDB) parity."""

import duckdb
import numpy as np
import pytest

from cloudtile_spark import cells, tiles


def test_lonlat_to_tile_hand_values():
    # Known slippy-map facts (public): (0,0) at z1 -> (1,1) tile.
    x, y = tiles.lonlat_to_tile(np.array([0.0]), np.array([0.0]), 1)
    assert (x[0], y[0]) == (1, 1)
    # Greenwich/equator at z0 is the single tile.
    x, y = tiles.lonlat_to_tile(np.array([0.0]), np.array([0.0]), 0)
    assert (x[0], y[0]) == (0, 0)
    # Chicago (-87.6298, 41.8781) at z10 -> (262, 380) (standard calculators)
    x, y = tiles.lonlat_to_tile(np.array([-87.6298]), np.array([41.8781]), 10)
    assert (x[0], y[0]) == (262, 380)
    # extreme clamps
    x, y = tiles.lonlat_to_tile(np.array([180.0]), np.array([-90.0]), 3)
    assert (x[0], y[0]) == (7, 7)
    x, y = tiles.lonlat_to_tile(np.array([-180.0]), np.array([90.0]), 3)
    assert (x[0], y[0]) == (0, 0)


def test_tile_bounds_roundtrip():
    rng = np.random.default_rng(42)
    z = 9
    lon = rng.uniform(-179, 179, 200)
    lat = rng.uniform(-80, 80, 200)
    x, y = tiles.lonlat_to_tile(lon, lat, z)
    lon_min, lat_min, lon_max, lat_max = tiles.tile_bounds(z, x, y)
    assert np.all(lon >= lon_min - 1e-9) and np.all(lon <= lon_max + 1e-9)
    assert np.all(lat >= lat_min - 1e-9) and np.all(lat <= lat_max + 1e-9)


def test_quadkey_hand_values():
    # Bing docs example: tile (3, 5) at level 3 -> "213"
    assert tiles.quadkey(np.array([3]), np.array([5]), 3)[0] == "213"


def test_morton_roundtrip_and_order():
    rng = np.random.default_rng(0)
    x = rng.integers(0, 1 << 16, 500)
    y = rng.integers(0, 1 << 16, 500)
    m = tiles.morton(x, y)
    res, xx, yy = cells.cell_to_xy((m << cells.RES_BITS) | 16)
    assert np.array_equal(xx, x) and np.array_equal(yy, y)
    assert np.array_equal(res, np.full_like(x, 16))


def test_hilbert_is_permutation_and_locality():
    z = 4
    n = 1 << z
    xs, ys = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    d = tiles.hilbert_d(z, xs.ravel(), ys.ravel())
    assert sorted(d.tolist()) == list(range(n * n))
    # successive hilbert positions are grid neighbors (the defining property)
    order = np.argsort(d)
    px, py = xs.ravel()[order], ys.ravel()[order]
    steps = np.abs(np.diff(px)) + np.abs(np.diff(py))
    assert np.all(steps == 1)


def test_sql_matches_numpy_in_duckdb():
    """The SQL builders are the oracle contract: identical results to the
    NumPy kernels when run by DuckDB (and Spark — covered in spark tests)."""
    rng = np.random.default_rng(7)
    n = 5000
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-85, 85, n)
    import pandas as pd

    con = duckdb.connect()
    df = pd.DataFrame({"lon": lon, "lat": lat})
    con.register("pts", df)
    for z in (0, 1, 5, 12):
        q = (
            f"SELECT {tiles.tile_x_sql('lon', str(z))} AS x,"
            f" {tiles.tile_y_sql('lat', str(z))} AS y FROM pts"
        )
        got = con.execute(q).fetchnumpy()
        ex_x, ex_y = tiles.lonlat_to_tile(lon, lat, z)
        assert np.array_equal(got["x"], ex_x), f"x mismatch z={z}"
        assert np.array_equal(got["y"], ex_y), f"y mismatch z={z}"
    # quadkey + morton parity at z=8
    x8, y8 = tiles.lonlat_to_tile(lon, lat, 8)
    dfx = pd.DataFrame({"x": x8, "y": y8})
    con.register("t8", dfx)
    got = con.execute(
        f"SELECT {tiles.quadkey_sql('x', 'y', 8)} AS qk,"
        f" {tiles.morton_sql('x', 'y')} AS m FROM t8"
    ).fetchnumpy()
    assert np.array_equal(got["qk"].astype(str), tiles.quadkey(x8, y8, 8))
    assert np.array_equal(got["m"], tiles.morton(x8, y8))


def test_cell_sql_matches_numpy():
    import pandas as pd

    rng = np.random.default_rng(11)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-85, 85, 2000)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"lon": lon, "lat": lat}))
    got = con.execute(
        f"SELECT {cells.cell_sql('lon', 'lat', 9)} AS c,"
        f" {cells.parent_sql(cells.cell_sql('lon', 'lat', 9))} AS p FROM pts"
    ).fetchnumpy()
    expect = cells.cell(lon, lat, 9)
    assert np.array_equal(got["c"], expect)
    assert np.array_equal(got["p"], cells.parent(expect))
    # parent == direct computation at res 8
    assert np.array_equal(cells.parent(expect), cells.cell(lon, lat, 8))


def test_norm_lon_sql():
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {tiles.norm_lon_sql('v')} AS nl FROM (VALUES (181.0), (-181.0),"
        " (540.0), (0.0), (180.0), (-180.0)) AS t(v)"
    ).fetchnumpy()["nl"]
    assert np.allclose(got, [-179.0, 179.0, 180.0 - 360.0, 0.0, -180.0, -180.0])


def test_geohash_sql_canonical_vectors(spark):
    """geohash_sql against canonical published geohash test vectors and a
    pure-python bisection reference, on BOTH engines."""
    import duckdb

    from cloudtile_spark import tiles

    def ref(lat, lon, p):
        alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
        latr, lonr = [-90.0, 90.0], [-180.0, 180.0]
        bits, ch, out, even = 0, 0, "", True
        while len(out) < p:
            if even:
                mid = (lonr[0] + lonr[1]) / 2
                if lon >= mid:
                    ch, lonr[0] = ch * 2 + 1, mid
                else:
                    ch, lonr[1] = ch * 2, mid
            else:
                mid = (latr[0] + latr[1]) / 2
                if lat >= mid:
                    ch, latr[0] = ch * 2 + 1, mid
                else:
                    ch, latr[1] = ch * 2, mid
            even = not even
            bits += 1
            if bits == 5:
                out += alpha[ch]
                bits, ch = 0, 0
        return out

    cases = [(57.64911, 10.40744, 6, "u4pruy"),
             (42.6, -5.6, 8, "ezs42e44"),
             (0.0, 0.0, 6, ref(0.0, 0.0, 6)),
             (-33.8678, 151.2073, 8, ref(-33.8678, 151.2073, 8)),
             (89.9, -179.9, 6, ref(89.9, -179.9, 6))]
    con = duckdb.connect()
    for lat, lon, p, want in cases:
        # literals must be cast: Spark parses -5.6 as DECIMAL, whose
        # rounding flips the last geohash bit (double columns are fine)
        expr = tiles.geohash_sql(f"cast({lon} as double)",
                                 f"cast({lat} as double)", p)
        got_s = spark.sql(f"SELECT {expr} AS gh").collect()[0].gh
        got_d = con.sql(f"SELECT {expr} AS gh").fetchone()[0]
        assert got_s == got_d == want == ref(lat, lon, p), (lat, lon, p)


def test_sql_tile_id_matches_pmtiles_tile_id(spark):
    """The archive's Spark tile id (``hilbert_d_sql`` behind the level
    offset) equals ``pmtiles.tile_id`` on every tile of z0-8 and on the
    corners and seeded random tiles of z9-30."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cloudtile_spark.operators import pmtiles

    levels = []
    for z in range(9):
        xs, ys = np.meshgrid(np.arange(1 << z), np.arange(1 << z),
                             indexing="ij")
        levels.append(pd.DataFrame({"z": z, "x": xs.ravel(),
                                    "y": ys.ravel()}))
    rng = np.random.default_rng(30)
    for z in range(9, 31):
        top = (1 << z) - 1
        levels.append(pd.DataFrame({
            "z": z,
            "x": np.concatenate([[0, 0, top, top],
                                 rng.integers(0, top + 1, 200)]),
            "y": np.concatenate([[0, top, 0, top],
                                 rng.integers(0, top + 1, 200)])}))
    pdf = pd.concat(levels, ignore_index=True).astype("int32")
    pdf["i"] = np.arange(len(pdf))
    got = (spark.createDataFrame(pdf)
           .select("i", F.expr(pmtiles.TILE_ID_SQL).alias("tid"))
           .toPandas().sort_values("i"))
    assert got.i.tolist() == pdf.i.tolist()
    # pmtiles.tile_id is the level offset plus tiles.hilbert_d: it is called
    # per tile above z8 and vectorized over the 87,381 tiles of z0-8
    want = []
    for z in range(9):
        lvl = pdf[pdf.z == z]
        want += ((4 ** z - 1) // 3
                 + tiles.hilbert_d(z, lvl.x, lvl.y)).tolist()
    want += [pmtiles.tile_id(z, x, y) for z, x, y in
             pdf[pdf.z > 8][["z", "x", "y"]].itertuples(index=False)]
    assert got.tid.tolist() == want
