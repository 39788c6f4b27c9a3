"""End-to-end: synthetic pages -> extract -> pyramid; golden invariants.

The analogue of the reference's golden-argv tests (reference
tests/test_geofile.py:136-157): we pin observable outputs instead of argv.
"""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from cloudtile_spark import caching, tiles
from cloudtile_spark.operators.extract import extract_features, extracted_text
from cloudtile_spark.operators.pyramid import (
    build_pyramid, tiling_input, topk_per_tile, assign_xy, explode_zooms,
    tile_summary,
)
from cloudtile_spark.settings import TilingSettings
from cloudtile_spark.sources.pages import synth_pages

N = 2000


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_pages(spark, N, partitions=8).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def features(pages):
    return extract_features(pages.drop("page_id")).cache()


def test_pages_deterministic_across_parallelism(spark):
    a = synth_pages(spark, 500, partitions=2).orderBy("url").collect()
    b = synth_pages(spark, 500, partitions=16).orderBy("url").collect()
    assert a == b


def test_text_invariant_byte_identical(pages):
    """BASELINE.json input_hint: byte-identical extracted text per url."""
    bad = (
        extracted_text(pages)
        .filter(F.col("extracted_text") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_extract_recovers_all_rows_and_ids(pages, features):
    assert features.count() == N
    # feature_id parsed from url equals the generating page_id
    joined = features.join(pages.select("page_id", "url"), "url")
    assert joined.filter(F.col("feature_id") != F.col("page_id")).count() == 0


def test_extract_lonlat_matches_numpy_tilemath(features):
    """Spark-side tile assignment == NumPy oracle on the same rows."""
    pdf = (
        assign_xy(features.withColumn("z", F.lit(9)))
        .select("feature_id", "lon", "lat", "x", "y")
        .toPandas()
        .sort_values("feature_id")
    )
    ex, ey = tiles.lonlat_to_tile(pdf.lon.values, pdf.lat.values, 9)
    assert np.array_equal(pdf.x.values, ex)
    assert np.array_equal(pdf.y.values, ey)


def test_pyramid_invariants(features):
    t = build_pyramid(features, minz=0, maxz=6).cache()
    rows = t.collect()
    # z0 has exactly one tile holding every feature
    z0 = [r for r in rows if r.z == 0]
    assert len(z0) == 1 and z0[0].feature_count == N
    # counts per zoom sum to N at every zoom (points, no cap hit at this size)
    by_z = {}
    for r in rows:
        by_z[r.z] = by_z.get(r.z, 0) + r.feature_count
    assert all(v == N for v in by_z.values())
    # ids are sorted and count-consistent; checksum present
    for r in rows:
        assert list(r.feature_ids) == sorted(r.feature_ids)
        assert len(r.feature_ids) == r.feature_count
        assert len(r.checksum) == 64
    # monotone refinement: tiles per zoom non-decreasing
    n_tiles = [sum(1 for r in rows if r.z == z) for z in range(7)]
    assert all(a <= b for a, b in zip(n_tiles, n_tiles[1:]))


def test_pyramid_deterministic_across_parallelism(spark):
    outs = []
    for parts in (2, 16):
        f = extract_features(synth_pages(spark, 800, partitions=parts))
        t = build_pyramid(f, minz=0, maxz=5)
        outs.append(sorted(map(tuple, t.select("z", "x", "y", "feature_count", "checksum").collect())))
    assert outs[0] == outs[1]


def test_feature_cap_enforced(features):
    s = TilingSettings()
    s["maximum-tile-features"] = 50
    t = build_pyramid(features, settings=s, minz=0, maxz=2)
    top = t.agg(F.max("feature_count")).collect()[0][0]
    assert top == 50
    # cap keeps the LOWEST feature_ids (deterministic priority)
    z0 = t.filter("z = 0").collect()[0]
    assert list(z0.feature_ids) == sorted(z0.feature_ids)
    assert max(z0.feature_ids) < N  # sanity


def _at_salt(monkeypatch, n: int) -> None:
    """Size every pyramid salt at ``n`` instead of the session's rule."""
    from cloudtile_spark.operators import pyramid
    monkeypatch.setattr(pyramid, "salt_buckets", lambda _spark: n)


def test_topk_salted_equals_plain_window(spark, features, monkeypatch):
    df = assign_xy(explode_zooms(features, 0, 3))
    rows = {}
    for sb in (8, 1, 256):  # salt 256 is wider than any tile here
        with monkeypatch.context() as m:
            _at_salt(m, sb)
            rows[sb] = sorted(map(tuple, topk_per_tile(df, 20)
                                  .select("z", "x", "y", "feature_id")
                                  .collect()))
    # salted == plain window: the session's salt can never change results
    assert rows[8] == rows[1] == rows[256]


def test_salt_buckets_scale_with_parallelism(spark, features, monkeypatch):
    from pyspark import SparkContext

    from cloudtile_spark.operators.pyramid import capped_tile_summary
    from cloudtile_spark.session import parallelism, salt_buckets

    with monkeypatch.context() as m:
        m.setattr(SparkContext, "defaultParallelism",
                  property(lambda self: 64))
        assert (parallelism(spark), salt_buckets(spark)) == (64, 128)
    assert salt_buckets(spark) == 2 * spark.sparkContext.defaultParallelism
    # capped summary output is salt-invariant: 8 vs 256 vs the session's
    df = assign_xy(explode_zooms(features, 0, 2))
    outs = []
    for sb in (8, 256, None):
        with monkeypatch.context() as m:
            if sb is not None:
                _at_salt(m, sb)
            outs.append(sorted(map(tuple, capped_tile_summary(df, 20)
                                   .select("z", "x", "y", "feature_count",
                                           "checksum")
                                   .collect())))
    assert outs[0] == outs[1] == outs[2]


def test_session_is_the_one_reader_of_the_core_count():
    """``session.parallelism`` is the only code under cloudtile_spark/ that
    reads ``defaultParallelism``: every salt and repartition width asks it,
    directly or through ``session.salt_buckets``."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "cloudtile_spark"
    session = pkg / "session.py"
    others = [str(p.relative_to(pkg)) for p in sorted(pkg.rglob("*.py"))
              if p != session and "defaultParallelism" in p.read_text()]
    assert others == []
    readers = [f.name for f in ast.walk(ast.parse(session.read_text()))
               if isinstance(f, ast.FunctionDef)
               and any(isinstance(a, ast.Attribute)
                       and a.attr == "defaultParallelism"
                       for a in ast.walk(f))]
    assert readers == ["parallelism"]


def _resolved_maxz(features, minz, maxz, **settings):
    """The max zoom ``tiling_input`` resolves for these settings."""
    return tiling_input(features, TilingSettings(**settings),
                        minz, maxz)[1]["maximum-zoom"]


def test_guess_max_zoom(features):
    zg = _resolved_maxz(features, 0, "g", **{"maximum-tile-features": 100})
    assert 0 < zg <= 14
    # at zg the densest tile is under cap; at zg-1 it is not
    for z, ok in ((zg, True), (zg - 1, False)):
        m = (
            assign_xy(features.withColumn("z", F.lit(z)))
            .groupBy("z", "x", "y").count()
            .agg(F.max("count")).collect()[0][0]
        )
        assert (m <= 100) == ok


def test_missing_zooms_raise_typeerror(features):
    with pytest.raises(TypeError):
        build_pyramid(features)


def test_capped_summary_equals_window_path(spark, features):
    """Aggregation-only capped summary == window top-k + summary (the two
    physical strategies must agree bit-for-bit)."""
    from cloudtile_spark.operators.pyramid import capped_tile_summary

    df = assign_xy(explode_zooms(features, 0, 4))
    agg = capped_tile_summary(df, 30)
    win = tile_summary(topk_per_tile(df, 30))
    a = sorted(map(tuple, agg.select("z", "x", "y", "feature_count", "checksum").collect()))
    b = sorted(map(tuple, win.select("z", "x", "y", "feature_count", "checksum").collect()))
    assert a == b


def test_coalesce_union_merge_conserves_features(features):
    """coalesce-densest-as-needed MERGES sacrificed features (the reference's
    active default) — nothing is dropped: per tile, sum(multiplicity) equals
    the pre-cap feature count, survivors number <= cap, every survivor is a
    kept feature, and bboxes cover the absorbed members."""
    from cloudtile_spark.operators.pyramid import coalesce_densest_summary

    cap = 25
    out = coalesce_densest_summary(features, z=3, cap=cap)
    per_tile = out.groupBy("x", "y").agg(
        F.sum("multiplicity").alias("total"),
        F.count("*").alias("survivors"),
    ).collect()
    pre = {(r.x, r.y): r["count"] for r in
           assign_xy(features.withColumn("z", F.lit(3)))
           .groupBy("x", "y").count().collect()}
    assert per_tile
    for r in per_tile:
        assert r.total == pre[(r.x, r.y)]  # conservation
        assert r.survivors <= cap
    # a tile over the cap must show a multiplicity > 1 somewhere
    over = [k for k, v in pre.items() if v > cap]
    if over:
        m = out.filter(
            (F.col("x") == over[0][0]) & (F.col("y") == over[0][1])
        ).agg(F.max("multiplicity")).collect()[0][0]
        assert m > 1
    # bbox union is a real union: survivor rows with multiplicity>1 span
    # at least as wide as any single point (w <= e, s <= n always)
    bad = out.filter("bbox_w > bbox_e OR bbox_s > bbox_n").count()
    assert bad == 0


def _extended(features, cap, maxz, **settings):
    """The max zoom after ``extend-zooms-if-still-dropping`` from ``maxz``
    at feature cap ``cap``."""
    return _resolved_maxz(features, 0, maxz, **{
        "maximum-tile-features": cap,
        "extend-zooms-if-still-dropping": True, **settings})


def test_extend_zooms_while_dropping(features):
    # with a tiny cap, z3 still drops -> extended beyond
    z = _extended(features, cap=20, maxz=3)
    assert z > 3
    # huge cap: nothing drops at maxz -> unchanged
    z2 = _extended(features, cap=10**6, maxz=3)
    assert z2 == 3
    # already beyond the z15 limit: unchanged
    assert _extended(features, cap=20, maxz=16) == 16
    # without the setting the max zoom stays as asked
    assert _resolved_maxz(features, 0, 3,
                          **{"maximum-tile-features": 20}) == 3


def test_extend_zooms_drop_strategy_feedback(features):
    """B17 drop feedback (round-2 verdict #6): the extension decision must
    see POST-strategy density. With a cluster distance so coarse that each
    tile collapses to ~1 cluster, no zoom 'still drops' — the chosen max
    zoom is LOWER than the raw-density answer at the same cap."""
    raw = _extended(features, cap=20, maxz=3)
    assert raw > 3

    # 64-px snap at zoom z: a 256-px tile holds <= 16 clusters < cap=20
    clustered = _extended(features, cap=20, maxz=3,
                          **{"cluster-distance": 64})
    assert clustered == 3 < raw

    # gamma thinning: sqrt retention per pixel bucket lowers effective
    # density, so the extension stops at or before the raw answer — and
    # with a cap the thinned density still exceeds at maxz, it extends
    thinned = _extended(features, cap=20, maxz=3, gamma=2)
    assert 3 <= thinned <= raw


def test_geojson_reader_roundtrip(spark, tmp_path):
    import json as _json
    from cloudtile_spark.sources.readers import load_features

    p = tmp_path / "pts.geojson"
    with open(p, "w") as f:
        for i in range(50):
            f.write(_json.dumps({
                "type": "Feature", "id": i,
                "geometry": {"type": "Point",
                             "coordinates": [i * 0.5 - 10, i * 0.3 - 5]},
                "properties": {"name": f"p{i}"},
            }) + "\n")
    df = load_features(spark, str(p))
    rows = {r.feature_id: (r.lon, r.lat, r.props["name"])
            for r in df.collect()}
    assert len(rows) == 50
    assert rows[4] == (4 * 0.5 - 10, 4 * 0.3 - 5, "p4")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        load_features(spark, "something.shapefile")  # reference negative case


def test_gpkg_reader(spark, tmp_path):
    """Build a minimal real GeoPackage with stdlib sqlite3 (GP-header +
    standard WKB blobs) and read it back through the suffix dispatcher."""
    import sqlite3
    import struct

    from cloudtile_spark import geom as g
    from cloudtile_spark.sources.readers import load_features

    p = str(tmp_path / "pts.gpkg")
    con = sqlite3.connect(p)
    con.executescript("""
        CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT);
        CREATE TABLE gpkg_geometry_columns (table_name TEXT, column_name TEXT);
        INSERT INTO gpkg_contents VALUES ('pts', 'features');
        INSERT INTO gpkg_geometry_columns VALUES ('pts', 'geom');
        CREATE TABLE pts (fid INTEGER PRIMARY KEY, geom BLOB);
    """)
    coords = [(i, -100.0 + i * 3.5, -40.0 + i * 2.25) for i in range(30)]
    for fid, lon, lat in coords:
        # GP header: magic, version 0, flags=0b00000001 (little-endian, no
        # envelope), srs_id 4326; then plain WKB point
        blob = struct.pack("<2sBBi", b"GP", 0, 0b00000001, 4326) \
            + g.wkb_point(lon, lat)
        con.execute("INSERT INTO pts VALUES (?, ?)", (fid, blob))
    con.commit()
    con.close()

    df = load_features(spark, p)
    got = sorted((r.feature_id, r.lon, r.lat) for r in df.collect())
    assert got == coords


def test_csv_reader_and_empty_columns_option(spark, tmp_path):
    from cloudtile_spark.sources.readers import load_features, read_csv_points

    p = tmp_path / "pts.csv"
    p.write_text(
        "feature_id,lon,lat,name,cls\n"
        "1,10.5,20.25,alpha,road\n"
        "2,-30.0,5.0,,rail\n"
        "3,1.0,2.0,gamma,\n"
    )
    df = load_features(spark, str(p))
    rows = {r.feature_id: r for r in df.collect()}
    assert len(rows) == 3 and rows[1].lon == 10.5
    # empty-csv-columns-are-null default: '' entries dropped from props
    assert dict(rows[2].props) == {"cls": "rail"}
    assert dict(rows[3].props) == {"name": "gamma"}
    # option off: empty strings preserved as attributes
    df2 = read_csv_points(spark, str(p), empty_columns_are_null=False)
    r2 = {r.feature_id: r for r in df2.collect()}
    assert dict(r2[2].props) == {"name": "", "cls": "rail"}
    # missing required column fails loudly
    bad = tmp_path / "bad.csv"
    bad.write_text("id,x,y\n1,0,0\n")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        read_csv_points(spark, str(bad))


def test_projection_guard(spark, features):
    from cloudtile_spark.operators import mvt
    from cloudtile_spark.settings import TilingSettings

    # point path: 3857 now ACCEPTED (reprojected, see
    # test_projection_3857_point_pipeline); unknown codes still raise
    s = TilingSettings()
    s["projection"] = "EPSG:2154"
    with pytest.raises(NotImplementedError):
        mvt.encode_point_tiles(features, 0, 0, settings=s)
    s["projection"] = "epsg:4326"  # accepted
    assert mvt.encode_point_tiles(features, 0, 0, settings=s).count() == 1
    # WKB geometry path keeps the loud 4326-only guard
    import numpy as np
    from cloudtile_spark import geom as _geom
    gdf = spark.createDataFrame(
        [(1, "linestring", bytearray(_geom.wkb_linestring(
            np.array([[0.0, 0.0], [1.0, 1.0]]))))],
        "feature_id long, geom_type string, geom_wkb binary")
    s2 = TilingSettings()
    s2["projection"] = "EPSG:3857"
    with pytest.raises(NotImplementedError):
        mvt.encode_geom_tiles(gdf, 0, 0, s2)


def test_projection_3857_point_pipeline(spark, features):
    """EPSG:3857 input (tippecanoe projection): forward-project the feature
    table to mercator meters, declare projection=EPSG:3857, and the pyramid
    must equal the 4326 run exactly; unknown projections still fail loudly;
    the WKB geometry path stays 4326-only."""
    from cloudtile_spark import tiles as _tiles

    s = TilingSettings()
    base = sorted(map(tuple, build_pyramid(features, settings=s, minz=0,
                                           maxz=4, with_ids=False)
                      .select("z", "x", "y", "feature_count").collect()))

    merc = features.selectExpr(
        "feature_id",
        f"{_tiles.lon_to_merc_sql('lon')} AS lon",
        f"{_tiles.lat_to_merc_sql('lat')} AS lat",
    )
    s2 = TilingSettings()
    s2["projection"] = "EPSG:3857"
    got = sorted(map(tuple, build_pyramid(merc, settings=s2, minz=0,
                                          maxz=4, with_ids=False)
                     .select("z", "x", "y", "feature_count").collect()))
    assert got == base

    s3 = TilingSettings()
    s3["projection"] = "EPSG:2154"
    with pytest.raises(NotImplementedError):
        build_pyramid(merc, settings=s3, minz=0, maxz=2).count()


def test_orc_reader_roundtrip_matches_parquet(spark, tmp_path):
    """ORC joins the suffix dispatch: writing the same feature frame to
    .orc and .parquet and reading both back through load_features must
    give identical rows — format breadth with no semantic drift."""
    from cloudtile_spark.sources.readers import load_features

    feats = spark.range(100).selectExpr(
        "id AS feature_id",
        "cast(-120 + id * 0.37 as double) AS lon",
        "cast(-40 + (id % 80) as double) AS lat")
    orc_dir = str(tmp_path / "f.orc")
    pq_dir = str(tmp_path / "f.parquet")
    feats.write.orc(orc_dir)
    feats.write.parquet(pq_dir)
    a = {tuple(r) for r in load_features(spark, orc_dir).collect()}
    b = {tuple(r) for r in load_features(spark, pq_dir).collect()}
    assert a == b and len(a) == 100


_CAP_SETTINGS = {
    "limit-tile-feature-count": {"limit-tile-feature-count": 25},
    "at-maximum-zoom": {"limit-tile-feature-count": 25,
                        "limit-tile-feature-count-at-maximum-zoom": 40},
    "no-feature-limit": {"maximum-tile-features": 50,
                         "no-feature-limit": True},
}


@pytest.mark.parametrize("case", list(_CAP_SETTINGS))
def test_tilers_agree_on_cap(spark, tmp_path, case):
    """build_pyramid, resume_pyramid, encode_point_tiles and the WKB
    encoder apply one per-tile cap under every cap setting."""
    from cloudtile_spark import geom
    from cloudtile_spark.operators import mvt
    from cloudtile_spark.plans.lineage import read_tiles, resume_pyramid
    from cloudtile_spark.sources.pages import synth_pages

    feats = extract_features(synth_pages(spark, 300, partitions=2)
                             .drop("page_id")) \
        .select("feature_id", "lon", "lat")

    def counts(df):
        return {(r.z, r.x, r.y): r.feature_count
                for r in df.select("z", "x", "y", "feature_count").collect()}

    s = TilingSettings(**_CAP_SETTINGS[case])
    pyr = counts(build_pyramid(feats, settings=s, minz=0, maxz=2))
    resume_pyramid(feats, str(tmp_path), "cap", 0, 2, settings=s)
    assert counts(read_tiles(spark, str(tmp_path))) == pyr
    assert counts(mvt.encode_point_tiles(feats, 0, 2, settings=s)) == pyr
    assert pyr[(0, 0, 0)] == {"limit-tile-feature-count": 25,
                              "at-maximum-zoom": 25,
                              "no-feature-limit": 300}[case]
    if case == "at-maximum-zoom":
        assert max(n for (z, _, _), n in pyr.items() if z == 2) == 40
    members: dict = {}
    for r in assign_xy(explode_zooms(feats, 0, 2)).collect():
        members.setdefault((r.z, r.x, r.y), []).append(
            (r.feature_id, "point", geom.wkb_point(r.lon, r.lat)))
    for (z, x, y), fs in members.items():
        _, n = mvt.encode_geom_tile_batch(z, x, y, fs, s, maxz=2)
        assert n == pyr[(z, x, y)], (z, x, y)


# Tiler-input cases: (settings, minz, maxz, (lo, hi, cap)). The max zoom
# every tiler must resolve is the NumPy reference search over [lo, hi] at
# ``cap`` on the 300 EPSG:4326 points; ``hi`` itself when lo == hi.
_INPUT_CASES = {
    "guess": ({"maximum-tile-features": 50}, 0, "g", (0, 14, 50)),
    "minz_above_guess": ({"maximum-tile-features": 200}, 3, "g",
                         (3, 14, 200)),
    "extend": ({"maximum-tile-features": 50,
                "extend-zooms-if-still-dropping": True}, 0, 2, (2, 15, 50)),
    "caller_zooms_kept": ({"minimum-zoom": 1, "maximum-zoom": 4}, 0, 3,
                          (3, 3, 0)),
    "caller_max_below_minz": ({"maximum-zoom": 2}, 5, 8, (8, 8, 0)),
}

_TILERS = ["build_pyramid", "resume_pyramid", "encode_point_tiles", "cli",
           "encode_geom_tiles"]


@pytest.fixture(scope="module")
def input_points(spark):
    """300 extracted points: the EPSG:4326 frame, its rows and the
    forward-projected EPSG:3857 (web-mercator meters) frame."""
    feats = extract_features(synth_pages(spark, 300, partitions=2)
                             .drop("page_id")) \
        .select("feature_id", "lon", "lat").cache()
    merc = feats.selectExpr(
        "feature_id", f"{tiles.lon_to_merc_sql('lon')} AS lon",
        f"{tiles.lat_to_merc_sql('lat')} AS lat")
    yield feats, [tuple(r) for r in feats.collect()], merc
    feats.unpersist()


def _tile_counts(df):
    return {(r.z, r.x, r.y): r.feature_count
            for r in df.select("z", "x", "y", "feature_count").collect()}


@pytest.mark.parametrize("tiler", _TILERS)
@pytest.mark.parametrize("case", list(_INPUT_CASES))
def test_tilers_agree_on_input(spark, tmp_path, monkeypatch, input_points,
                               case, tiler):
    """Every tiler (build_pyramid, resume_pyramid, encode_point_tiles and
    the CLI's features2tiles), fed forward-projected EPSG:3857 points,
    resolves the zoom range of the NumPy reference over the EPSG:4326
    points and gives the EPSG:4326 run's tiles: no tile below the minimum
    zoom, the resolved range in the CLI's output name, and the caller's
    settings object unchanged. encode_geom_tiles, fed the EPSG:4326 points
    as WKB, gives the same tiles at explicit zooms and refuses a zoom
    search, which reads lon/lat columns a WKB source does not have."""
    from cloudtile_spark import geom
    from cloudtile_spark.cli import main
    from cloudtile_spark.operators import mvt
    from cloudtile_spark.plans.lineage import read_tiles, resume_pyramid

    kw, minz, maxz, ref = _INPUT_CASES[case]
    feats, rows, merc = input_points
    want_maxz = _ref_lowest_fitting_zoom(rows, *ref)
    want = _tile_counts(build_pyramid(feats, TilingSettings(**kw), minz,
                                      maxz, with_ids=False))
    assert {z for z, _, _ in want} == set(range(minz, want_maxz + 1))
    s = TilingSettings(**({} if tiler == "encode_geom_tiles"
                          else {"projection": "EPSG:3857"}), **kw)
    before = dict(s)
    if tiler == "encode_geom_tiles":
        wkb = spark.createDataFrame(
            [(f, "point", bytearray(geom.wkb_point(lon, lat)))
             for f, lon, lat in rows],
            "feature_id long, geom_type string, geom_wkb binary")
        if maxz == "g" or "extend-zooms-if-still-dropping" in kw:
            with pytest.raises(NotImplementedError, match="WKB source"):
                mvt.encode_geom_tiles(wkb, minz, maxz, settings=s)
            return
        got = _tile_counts(mvt.encode_geom_tiles(wkb, minz, maxz,
                                                 settings=s))
    elif tiler == "build_pyramid":
        got = _tile_counts(build_pyramid(merc, s, minz, maxz))
    elif tiler == "encode_point_tiles":
        got = _tile_counts(mvt.encode_point_tiles(merc, minz, maxz,
                                                  settings=s))
    elif tiler == "resume_pyramid":
        resume_pyramid(merc, str(tmp_path), "r", minz, maxz, settings=s)
        got = _tile_counts(read_tiles(spark, str(tmp_path)))
    else:
        monkeypatch.chdir(tmp_path)
        merc.write.parquet(str(tmp_path / "merc.parquet"))
        kwargs = [f"{k}={str(v).lower()}" for k, v in s.items()
                  if k in kw or k == "projection"]
        assert main(["convert", "features2tiles",
                     str(tmp_path / "merc.parquet"), str(minz), str(maxz),
                     "--cores", "2", "--tc-kwargs", *kwargs]) == 0
        names = [p.name for p in tmp_path.glob("merc-*")]
        assert names == [f"merc-{minz}-{want_maxz}"]
        got = _tile_counts(spark.read.parquet(str(tmp_path / names[0])))
    assert got == want
    assert dict(s) == before


def test_tiling_input_on_its_output_is_a_no_op(spark, input_points):
    """tiling_input's output settings say EPSG:4326, hold int zooms and
    have the extension cleared, so a second call returns the same frame
    (no second projection) and settings, and runs no Spark job."""
    import uuid

    _, _, merc = input_points
    s = TilingSettings(projection="EPSG:3857",
                       **{"maximum-tile-features": 50,
                          "extend-zooms-if-still-dropping": True})
    feats, s1 = tiling_input(merc, s, 0, "g")
    assert (s1["projection"], s1["extend-zooms-if-still-dropping"]) == \
        ("EPSG:4326", False)
    assert isinstance(s1["maximum-zoom"], int)
    sc = spark.sparkContext
    group = f"again-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "tiling_input on its own output")
    try:
        again, s2 = tiling_input(feats, s1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert again is feats and dict(s2) == dict(s1)


# Degenerate inputs for the pyramid operators: (feature_id, lon, lat)
# rows. "one_tile" puts 30 + 10 points in two fine cells of one z4 tile, so
# the densest-first order differs from the id order.
_PYR_DEGENERATE = {
    "empty": [],
    "one_row": [(7, 12.5, 41.9)],
    "one_tile": ([(i, 2.0 + 0.01 * (i % 6), 43.0 + 0.01 * (i // 6))
                  for i in range(30)]
                 + [(100 + i, 15.0 + 0.01 * i, 48.0) for i in range(10)]),
    "poles": [(i, -180.0 + 36.0 * i, lat) for i, lat in enumerate(
        [90.0, -90.0, 90.0, -90.0, 89.99, -89.99, 85.06, -85.06, 90.0,
         -90.0])],
    "antimeridian": [(i, lon, -60.0 + 12.0 * i) for i, lon in enumerate(
        [180.0, -180.0, 180.0, -180.0, 179.9999, -179.9999, 180.0,
         -180.0, 180.0, -180.0, 0.0])],
    "duplicate_coords": ([(i, 12.5, 41.9) for i in range(30)]
                         + [(50 + i, -70.0 + 20 * i, -30.0 + 10 * i)
                            for i in range(5)]),
}
_PYR_CAP, _PYR_MAXZ, _PYR_Z = 5, 4, 2
# the last two rows are tiling_input's zoom searches: the "g" guess and
# extend-zooms-if-still-dropping
_PYR_FUNCS = ["build_pyramid_ids", "build_pyramid_counts",
              "capped_tile_summary", "density_capped_summary",
              "coalesce_densest_summary", "guess_max_zoom",
              "extend_zooms_while_dropping"]


def _ref_tiles(rows, z):
    """{(x, y): sorted feature ids} at zoom z by the NumPy tile math."""
    out: dict = {}
    if rows:
        ids, lon, lat = (np.array(c) for c in zip(*rows))
        xs, ys = tiles.lonlat_to_tile(lon, lat, z)
        for i, x, y in zip(ids, xs, ys):
            out.setdefault((int(x), int(y)), []).append(int(i))
    return {k: sorted(v) for k, v in out.items()}


def _ref_pyramid(rows, with_ids):
    out = []
    for z in range(_PYR_MAXZ + 1):
        for (x, y), ids in _ref_tiles(rows, z).items():
            kept = ids[:_PYR_CAP]
            out.append((z, x, y, len(kept)) + (
                (kept, hashlib.sha256(",".join(map(str, kept)).encode())
                 .hexdigest()) if with_ids else ()))
    return sorted(out)


def _ref_keep_sets(rows):
    """{(x, y): (pre-cap count, kept ids)} at _PYR_Z by (density, id)."""
    cell = {i: c for c, ids in _ref_tiles(rows, _PYR_Z + 4).items()
            for i in ids}
    density = {i: len(_ref_tiles(rows, _PYR_Z + 4)[cell[i]]) for i in cell}
    return {k: (len(ids), sorted(sorted(ids, key=lambda i: (density[i], i))
                                 [:_PYR_CAP]))
            for k, ids in _ref_tiles(rows, _PYR_Z).items()}


def _ref_lowest_fitting_zoom(rows, lo, hi, cap=_PYR_CAP):
    for z in range(lo, hi):
        if max(map(len, _ref_tiles(rows, z).values()), default=0) <= cap:
            return z
    return hi


@pytest.mark.parametrize("fn", _PYR_FUNCS)
@pytest.mark.parametrize("case", list(_PYR_DEGENERATE))
def test_pyramid_degenerate_inputs(spark, case, fn):
    """Every pyramid operator on an empty frame, one row, all points in
    one tile, the poles, the antimeridian and duplicate coordinates equals
    a NumPy/pandas reference: feature_count <= cap, ids sorted and unique,
    densest-first keep sets, sum(multiplicity) = the pre-cap count, and
    an empty input fits at the lowest candidate zoom."""
    from cloudtile_spark.operators import pyramid

    rows = _PYR_DEGENERATE[case]
    feats = spark.createDataFrame(rows, "feature_id long, lon double, "
                                        "lat double")
    s = TilingSettings(**{"maximum-tile-features": _PYR_CAP})
    if fn.startswith("build_pyramid") or fn == "capped_tile_summary":
        with_ids = fn != "build_pyramid_counts"
        if fn == "capped_tile_summary":
            out = pyramid.capped_tile_summary(
                assign_xy(explode_zooms(feats, 0, _PYR_MAXZ)), _PYR_CAP)
        else:
            out = build_pyramid(feats, settings=s, minz=0, maxz=_PYR_MAXZ,
                                with_ids=with_ids)
        got = sorted(tuple(list(v) if isinstance(v, list) else v for v in r)
                     for r in out.collect())
        assert got == _ref_pyramid(rows, with_ids)
        for r in got:
            assert r[3] <= _PYR_CAP
            if with_ids:
                assert r[4] == sorted(set(r[4])) and len(r[4]) == r[3]
    elif fn == "density_capped_summary":
        got = {(r.x, r.y): (r.feature_count, list(r.feature_ids))
               for r in pyramid.density_capped_summary(
                   feats, z=_PYR_Z, cap=_PYR_CAP).collect()}
        assert got == {k: (len(kept), kept)
                       for k, (_, kept) in _ref_keep_sets(rows).items()}
    elif fn == "coalesce_densest_summary":
        try:
            out = pyramid.coalesce_densest_summary(
                feats, z=_PYR_Z, cap=_PYR_CAP).collect()
        finally:
            caching.release_staged()
        got: dict = {}
        for r in out:
            assert r.bbox_w <= r.bbox_e and r.bbox_s <= r.bbox_n
            n, ids = got.get((r.x, r.y), (0, []))
            got[(r.x, r.y)] = (n + r.multiplicity, sorted(ids + [r.survivor_id]))
        assert got == _ref_keep_sets(rows)
    elif fn == "guess_max_zoom":
        assert tiling_input(feats, s, 0, "g")[1]["maximum-zoom"] == \
            _ref_lowest_fitting_zoom(rows, 0, 14)
    else:
        s["extend-zooms-if-still-dropping"] = True
        assert tiling_input(feats, s, 0, _PYR_Z)[1]["maximum-zoom"] == \
            _ref_lowest_fitting_zoom(rows, _PYR_Z, 15)
