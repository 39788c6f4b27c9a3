"""MVT encoder tests: wire-format roundtrip, geometry semantics (clip /
simplify / tiny-polygon), determinism across parallelism, caps."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cloudtile_spark import geom, tiles
from cloudtile_spark.operators import mvt
from cloudtile_spark.operators.extract import extract_features
from cloudtile_spark.settings import TilingSettings
from cloudtile_spark.sources.pages import synth_pages


def test_varint_zigzag_roundtrip():
    for v in (0, 1, 127, 128, 300, 2 ** 40):
        buf = mvt._varint(v)
        got, pos = mvt._read_varint(buf, 0)
        assert got == v and pos == len(buf)
    for v in (0, -1, 1, -64, 63, 12345, -54321):
        assert mvt._unzigzag(mvt._zigzag(v)) == v


def test_feature_roundtrip_point_line_polygon():
    pt = mvt.encode_feature(7, 1, [np.array([[100, 200]])], [])
    line = mvt.encode_feature(8, 2, [np.array([[0, 0], [10, 5], [20, -3]])], [])
    poly = mvt.encode_feature(
        9, 3, [np.array([[0, 0], [50, 0], [50, 50], [0, 50], [0, 0]])], [])
    tile = mvt.encode_layer("test", [pt, line, poly], ["k"], ["v"],
                            mvt.EXTENT)
    dec = mvt.decode_tile(tile)
    assert dec["name"] == "test" and dec["extent"] == mvt.EXTENT
    assert dec["version"] == 2
    f0, f1, f2 = dec["features"]
    assert f0 == {"id": 7, "type": 1, "geometry": [[(100, 200)]]}
    assert f1["geometry"] == [[(0, 0), (10, 5), (20, -3)]]
    # polygon ring: closing vertex dropped on encode (ClosePath implies it)
    assert f2["geometry"] == [[(0, 0), (50, 0), (50, 50), (0, 50)]]


def test_encode_point_tiles_end_to_end(spark):
    feats = extract_features(synth_pages(spark, 1000, partitions=4).drop("page_id"))
    out = mvt.encode_point_tiles(feats, 0, 4).cache()
    rows = out.collect()
    z0 = [r for r in rows if r.z == 0][0]
    assert z0.feature_count == 1000
    dec = mvt.decode_tile(bytes(z0.mvt))
    assert len(dec["features"]) == 1000
    # decoded pixel == tile_local_coords of the source lon/lat
    pdf = feats.select("feature_id", "lon", "lat").toPandas() \
               .sort_values("feature_id")
    px, py = tiles.tile_local_coords(pdf.lon.values, pdf.lat.values, 0, 0, 0)
    by_id = {f["id"]: f["geometry"][0][0] for f in dec["features"]}
    for fid, ex, ey in zip(pdf.feature_id.values, px, py):
        assert by_id[int(fid)] == (ex, ey)


def test_encode_deterministic_across_parallelism(spark):
    outs = []
    for parts in (2, 12):
        feats = extract_features(
            synth_pages(spark, 600, partitions=parts).drop("page_id"))
        t = mvt.encode_point_tiles(feats, 0, 3)
        outs.append(sorted(
            (r.z, r.x, r.y, r.feature_count, bytes(r.mvt)) for r in t.collect()
        ))
    assert outs[0] == outs[1]


def test_feature_cap_and_byte_budget(spark):
    s = TilingSettings()
    s["maximum-tile-features"] = 10
    feats = extract_features(synth_pages(spark, 500, partitions=4).drop("page_id"))
    t = mvt.encode_point_tiles(feats, 0, 0, settings=s)
    r = t.collect()[0]
    assert r.feature_count == 10
    dec = mvt.decode_tile(bytes(r.mvt))
    assert sorted(f["id"] for f in dec["features"]) == list(range(10))
    # byte budget drops the tail
    s2 = TilingSettings()
    s2["maximum-tile-bytes"] = 200
    r2 = mvt.encode_point_tiles(feats, 0, 0, settings=s2).collect()[0]
    assert 0 < r2.feature_count < 500
    assert len(bytes(r2.mvt)) <= 400  # layer overhead on top of budget


def test_geom_tile_batch_clip_simplify_tiny():
    s = TilingSettings()
    z, x, y = 2, 1, 1
    lon_min, lat_min, lon_max, lat_max = (
        float(v[0]) for v in tiles.tile_bounds(z, np.array([x]), np.array([y])))
    cx, cyy = (lon_min + lon_max) / 2, (lat_min + lat_max) / 2
    w = (lon_max - lon_min)
    # a line crossing the whole tile with a redundant midpoint -> simplified
    line = geom.wkb_linestring(np.array(
        [[lon_min - w, cyy], [cx, cyy + 1e-9], [lon_max + w, cyy]]))
    # polygon bigger than the tile -> clipped to full extent
    big = geom.wkb_polygon(np.array([
        [lon_min - w, lat_min - 5], [lon_max + w, lat_min - 5],
        [lon_max + w, lat_max + 5], [lon_min - w, lat_max + 5]]))
    # microscopic polygon -> reduced to a point
    eps = w * 1e-5
    tiny = geom.wkb_polygon(np.array([
        [cx, cyy], [cx + eps, cyy], [cx + eps, cyy + eps], [cx, cyy + eps]]))
    blob, n = mvt.encode_geom_tile_batch(
        z, x, y,
        [(1, "linestring", line), (2, "polygon", big), (3, "polygon", tiny)],
        s,
    )
    assert n == 3
    dec = mvt.decode_tile(blob)
    fline = next(f for f in dec["features"] if f["id"] == 1)
    assert f_type(fline) == 2 and len(fline["geometry"][0]) == 2  # simplified
    fbig = next(f for f in dec["features"] if f["id"] == 2)
    xs = [p[0] for p in fbig["geometry"][0]]
    ys = [p[1] for p in fbig["geometry"][0]]
    assert min(xs) <= 0 and max(xs) >= mvt.EXTENT  # fills tile (+buffer)
    ftiny = next(f for f in dec["features"] if f["id"] == 3)
    assert f_type(ftiny) == 1  # tiny polygon became a point


def f_type(f):
    return f["type"]


def test_encode_geom_tiles_distributed(spark):
    """Distributed WKB pyramid: zones as polygons + hotspot connector lines;
    every tile decodes, geometry types survive, clipping drops bbox-only
    intersections, deterministic across parallelism."""
    import pandas as pd
    from cloudtile_spark.sources.zones import synth_zones
    from cloudtile_spark.sources.pages import HOTSPOTS

    zones = synth_zones(8)
    rows = []
    for _, z in zones.iterrows():
        rows.append((int(z.zone_id), "polygon", geom.wkb_polygon(z.ring)))
    for i in range(4):
        _, x1, y1 = HOTSPOTS[i]
        _, x2, y2 = HOTSPOTS[i + 1]
        rows.append((100 + i, "linestring",
                     geom.wkb_linestring(np.array([[x1, y1], [x2, y2]]))))
    outs = []
    for parts in (2, 8):
        feats = spark.createDataFrame(
            rows, "feature_id long, geom_type string, geom_wkb binary"
        ).repartition(parts)
        t = mvt.encode_geom_tiles(feats, 0, 6)
        outs.append(sorted(
            (r.z, r.x, r.y, r.feature_count, bytes(r.mvt)) for r in t.collect()
        ))
    assert outs[0] == outs[1]
    got = outs[0]
    assert len(got) > 20
    z0 = [g for g in got if g[0] == 0][0]
    dec = mvt.decode_tile(z0[4])
    types = {f["type"] for f in dec["features"]}
    assert 3 in types and 2 in types  # polygons + lines at z0
    assert z0[3] == len(rows)  # every feature visible on the world tile
    # clipping sanity at deeper zoom: per-tile geometry must intersect the
    # tile's extent window (+buffer)
    z5 = [g for g in got if g[0] == 5][:10]
    for _, x, y, n, blob in z5:
        d = mvt.decode_tile(blob)
        assert len(d["features"]) == n > 0
        for f in d["features"]:
            pts = [p for part in f["geometry"] for p in part]
            assert all(-16 <= px <= mvt.EXTENT + 16 for px, py in pts)


def test_props_tags_roundtrip_and_include_exclude(spark):
    """Attribute plumbing: props -> MVT layer keys/values + feature tags;
    include / exclude / exclude-all follow reference tippecanoe.yaml:34-37."""
    feats = extract_features(synth_pages(spark, 300, partitions=4).drop("page_id"))
    r = mvt.encode_point_tiles(feats, 0, 0).collect()[0]
    dec = mvt.decode_tile(bytes(r.mvt))
    assert set(dec["keys"]) == {"lang", "city"}
    # reconstruct a feature's props and compare with the source row
    src = {row.feature_id: row.props for row in feats.collect()}
    f = dec["features"][0]
    tags = f["tags"]
    got = {dec["keys"][tags[i]]: dec["values"][tags[i + 1]]
           for i in range(0, len(tags), 2)}
    # values decode as protobuf Value msgs (string field 1) -> strip header
    got = {k: v[2:].decode() for k, v in got.items()}
    assert got == dict(src[f["id"]])

    s = TilingSettings()
    s["exclude-all"] = True
    r2 = mvt.encode_point_tiles(feats, 0, 0, settings=s).collect()[0]
    dec2 = mvt.decode_tile(bytes(r2.mvt))
    assert dec2["keys"] == [] and all("tags" not in f for f in dec2["features"])

    s3 = TilingSettings()
    s3["include"] = ["lang"]
    r3 = mvt.encode_point_tiles(feats, 0, 0, settings=s3).collect()[0]
    dec3 = mvt.decode_tile(bytes(r3.mvt))
    assert set(dec3["keys"]) == {"lang"}


def test_visvalingam_option():
    s = TilingSettings()
    s["visvalingam"] = True
    z, x, y = 2, 1, 1
    lon_min, lat_min, lon_max, lat_max = (
        float(v[0]) for v in tiles.tile_bounds(z, np.array([x]), np.array([y])))
    cx, cyy = (lon_min + lon_max) / 2, (lat_min + lat_max) / 2
    w = lon_max - lon_min
    line = geom.wkb_linestring(np.array(
        [[lon_min + w/4, cyy], [cx, cyy + 1e-9], [lon_max - w/4, cyy]]))
    blob, n = mvt.encode_geom_tile_batch(z, x, y, [(1, "linestring", line)], s)
    dec = mvt.decode_tile(blob)
    assert len(dec["features"][0]["geometry"][0]) == 2  # tiny triangle removed
    # a genuine corner survives visvalingam
    corner = geom.wkb_linestring(np.array(
        [[lon_min + w/4, cyy], [cx, cyy + w/4], [lon_max - w/4, cyy]]))
    blob2, _ = mvt.encode_geom_tile_batch(z, x, y, [(2, "linestring", corner)], s)
    assert len(mvt.decode_tile(blob2)["features"][0]["geometry"][0]) == 3


def test_visvalingam_applies_to_linestrings():
    # Pin that the `visvalingam` setting drives LINESTRING simplification,
    # not just polygons: a shallow-but-wide midpoint vertex (perp distance
    # ~5px < tol=10, triangle area ~2500px^2 >> tol^2/2=50) is dropped by
    # Douglas-Peucker yet kept by Visvalingam-Whyatt.
    line = geom.wkb_linestring(np.array(
        [[-45.0, 0.0], [0.0, 0.44], [45.0, 0.0]]))
    s_dp = TilingSettings()
    blob_dp, _ = mvt.encode_geom_tile_batch(0, 0, 0, [(1, "linestring", line)], s_dp)
    assert len(mvt.decode_tile(blob_dp)["features"][0]["geometry"][0]) == 2

    s_vw = TilingSettings()
    s_vw["visvalingam"] = True
    blob_vw, _ = mvt.encode_geom_tile_batch(0, 0, 0, [(1, "linestring", line)], s_vw)
    assert len(mvt.decode_tile(blob_vw)["features"][0]["geometry"][0]) == 3


def test_polygon_winding_normalization():
    # a big CCW-in-tile-coords square: default output must be spec winding
    # (positive shoelace in y-down tile coords); source/reverse override
    ring_ccw = np.array([[-60.0, -40.0], [60.0, -40.0], [60.0, 40.0],
                         [-60.0, 40.0], [-60.0, -40.0]])
    wkb = geom.wkb_polygon(ring_ccw)

    def emitted_area(s):
        blob, _ = mvt.encode_geom_tile_batch(0, 0, 0, [(1, "polygon", wkb)], s)
        r = np.array(mvt.decode_tile(blob)["features"][0]["geometry"][0],
                     dtype=np.float64)
        return geom.shoelace_area(r)

    a_default = emitted_area(TilingSettings())
    assert a_default > 0  # normalized to spec orientation

    s_src = TilingSettings()
    s_src["use-source-polygon-winding"] = True
    s_rev = TilingSettings()
    s_rev["reverse-source-polygon-winding"] = True
    a_src, a_rev = emitted_area(s_src), emitted_area(s_rev)
    assert a_src == -a_rev  # reverse flips the source orientation
    assert abs(a_src) == abs(a_default)


def test_low_detail_extent_below_maxzoom():
    ring = np.array([[-60.0, -40.0], [60.0, -40.0], [60.0, 40.0],
                     [-60.0, 40.0], [-60.0, -40.0]])
    wkb = geom.wkb_polygon(ring)
    s = TilingSettings()
    s["low-detail"] = 9
    blob_low, _ = mvt.encode_geom_tile_batch(
        0, 0, 0, [(1, "polygon", wkb)], s, maxz=4)
    assert mvt.decode_tile(blob_low)["extent"] == 512  # 2^9 below maxz
    blob_full, _ = mvt.encode_geom_tile_batch(
        4, 8, 8, [(1, "polygon", wkb)], s, maxz=4)
    assert mvt.decode_tile(blob_full)["extent"] == 4096  # full at maxz
    # minimum-detail clamps low-detail from below
    s2 = TilingSettings()
    s2["low-detail"] = 3
    s2["minimum-detail"] = 6
    blob_min, _ = mvt.encode_geom_tile_batch(
        0, 0, 0, [(1, "polygon", wkb)], s2, maxz=4)
    assert mvt.decode_tile(blob_min)["extent"] == 64


def test_no_duplication_single_tile_emit(spark):
    # a line spanning two z1 tiles: default cover emits both; with
    # no-duplication only the tile of the first vertex
    line = geom.wkb_linestring(np.array([[-120.0, 10.0], [120.0, 10.0]]))
    df = spark.createDataFrame(
        [(7, "linestring", bytearray(line))],
        "feature_id long, geom_type string, geom_wkb binary")
    both = mvt.tile_cover(df, 1, 1).select("x", "y").collect()
    assert len(both) == 2
    one = mvt.tile_cover(df, 1, 1, no_duplication=True) \
             .select("x", "y").collect()
    assert len(one) == 1 and one[0].x == 0  # first vertex is west


def test_drop_lines_polygons_and_simplify_only_low_zooms():
    line = geom.wkb_linestring(np.array([[-45.0, 0.0], [45.0, 0.0]]))
    poly = geom.wkb_polygon(np.array(
        [[-60.0, -40.0], [60.0, -40.0], [60.0, 40.0], [-60.0, 40.0],
         [-60.0, -40.0]]))
    feats = [(1, "linestring", line), (2, "polygon", poly)]

    s = TilingSettings()
    s["drop-lines"] = True
    # below maxz: line dropped, polygon kept
    blob, n = mvt.encode_geom_tile_batch(0, 0, 0, feats, s, maxz=4)
    assert n == 1 and mvt.decode_tile(blob)["features"][0]["id"] == 2
    # at maxz: nothing dropped
    _, n_full = mvt.encode_geom_tile_batch(0, 0, 0, feats, s, maxz=0)
    assert n_full == 2

    s2 = TilingSettings()
    s2["drop-polygons"] = True
    blob2, n2 = mvt.encode_geom_tile_batch(0, 0, 0, feats, s2, maxz=4)
    assert n2 == 1 and mvt.decode_tile(blob2)["features"][0]["id"] == 1

    # simplify-only-low-zooms: a vertex DP would remove (perp ~5px < 10)
    # survives at the max zoom, drops below it
    wiggle = geom.wkb_linestring(np.array(
        [[-45.0, 0.0], [0.0, 0.44], [45.0, 0.0]]))
    s3 = TilingSettings()
    s3["simplify-only-low-zooms"] = True
    blob_max, _ = mvt.encode_geom_tile_batch(
        0, 0, 0, [(1, "linestring", wiggle)], s3, maxz=0)
    assert len(mvt.decode_tile(blob_max)["features"][0]["geometry"][0]) == 3
    blob_low, _ = mvt.encode_geom_tile_batch(
        0, 0, 0, [(1, "linestring", wiggle)], s3, maxz=4)
    assert len(mvt.decode_tile(blob_low)["features"][0]["geometry"][0]) == 2


def test_use_attribute_for_id(spark):
    from cloudtile_spark.operators.extract import extract_features
    from cloudtile_spark.sources.pages import synth_pages

    feats = extract_features(synth_pages(spark, 50, partitions=2)
                             .drop("page_id"))
    # plant a numeric id attribute inside props
    feats = feats.withColumn(
        "props", F.map_concat(
            "props", F.create_map(F.lit("nid"),
                                  (F.col("feature_id") + 1000).cast("string"))))
    s = TilingSettings()
    s["use-attribute-for-id"] = "nid"
    r = mvt.encode_point_tiles(feats, 0, 0, settings=s).collect()[0]
    ids = sorted(f["id"] for f in mvt.decode_tile(bytes(r.mvt))["features"])
    assert all(i >= 1000 for i in ids)


def test_named_layer_and_feature_limits(spark):
    feats = extract_features(synth_pages(spark, 300, partitions=2)
                             .drop("page_id"))
    s = TilingSettings()
    s["named-layer"] = "roads"
    s["limit-tile-feature-count"] = 25
    r = mvt.encode_point_tiles(feats, 0, 0, settings=s).collect()[0]
    dec = mvt.decode_tile(bytes(r.mvt))
    assert dec["name"] == "roads"
    assert len(dec["features"]) == 25
    # limit-tile-feature-count-at-maximum-zoom wins at maxz
    s["limit-tile-feature-count-at-maximum-zoom"] = 40
    r2 = mvt.encode_point_tiles(feats, 0, 0, settings=s).collect()[0]
    assert len(mvt.decode_tile(bytes(r2.mvt))["features"]) == 40
    # no-feature-limit lifts the cap entirely
    s2 = TilingSettings()
    s2["limit-tile-feature-count"] = 25
    s2["no-feature-limit"] = True
    r3 = mvt.encode_point_tiles(feats, 0, 0, settings=s2).collect()[0]
    assert len(mvt.decode_tile(bytes(r3.mvt))["features"]) == 300


def test_drop_rate_base_zoom_settings(spark):
    feats = extract_features(synth_pages(spark, 400, partitions=2)
                             .drop("page_id"))
    s = TilingSettings()
    s["drop-rate"] = 2.5
    s["base-zoom"] = 4
    t = {(r.z): r for r in
         mvt.encode_point_tiles(feats, 0, 4, settings=s)
         .groupBy("z").agg(F.sum("feature_count").alias("n")).collect()}
    n_at_base = t[4].n
    # at the base zoom everything is kept; below it the deterministic
    # hash-sample thins by ~rate per zoom step
    assert n_at_base == 400
    assert t[3].n < n_at_base and t[0].n < t[3].n
    # deterministic: re-run yields identical counts
    t2 = {(r.z): r.n for r in
          mvt.encode_point_tiles(feats, 0, 4, settings=s)
          .groupBy("z").agg(F.sum("feature_count").alias("n")).collect()}
    assert t2 == {z: r.n for z, r in t.items()}


def test_label_points_and_no_tiny_reduction():
    big = geom.wkb_polygon(np.array(
        [[-60.0, -40.0], [60.0, -40.0], [60.0, 40.0], [-60.0, 40.0],
         [-60.0, -40.0]]))
    s = TilingSettings()
    s["convert-polygons-to-label-points"] = True
    blob, _ = mvt.encode_geom_tile_batch(0, 0, 0, [(1, "polygon", big)], s)
    f = mvt.decode_tile(blob)["features"][0]
    assert f["type"] == 1 and len(f["geometry"][0]) == 1  # label point
    # a sub-threshold ring normally reduces to a point; the option keeps it
    tiny_ring = geom.wkb_polygon(np.array(
        [[0.0, 0.0], [0.1, 0.0], [0.1, 0.1], [0.0, 0.1], [0.0, 0.0]]))
    s2 = TilingSettings()
    blob2, _ = mvt.encode_geom_tile_batch(0, 0, 0, [(1, "polygon", tiny_ring)], s2)
    assert mvt.decode_tile(blob2)["features"][0]["type"] == 1
    s3 = TilingSettings()
    s3["no-tiny-polygon-reduction"] = True
    blob3, _ = mvt.encode_geom_tile_batch(0, 0, 0, [(1, "polygon", tiny_ring)], s3)
    assert mvt.decode_tile(blob3)["features"][0]["type"] == 3


def test_simplification_at_maximum_zoom():
    # vertex with perp distance ~5px: kept at tol 2, dropped at default 10
    wiggle = geom.wkb_linestring(np.array(
        [[-45.0, 0.0], [0.0, 0.44], [45.0, 0.0]]))
    s = TilingSettings()
    s["simplification-at-maximum-zoom"] = 2
    blob_max, _ = mvt.encode_geom_tile_batch(
        0, 0, 0, [(1, "linestring", wiggle)], s, maxz=0)
    assert len(mvt.decode_tile(blob_max)["features"][0]["geometry"][0]) == 3
    blob_low, _ = mvt.encode_geom_tile_batch(
        0, 0, 0, [(1, "linestring", wiggle)], s, maxz=4)  # below maxz: tol 10
    assert len(mvt.decode_tile(blob_low)["features"][0]["geometry"][0]) == 2


def test_single_precision_runs_and_preserves_counts(spark):
    feats = extract_features(synth_pages(spark, 100, partitions=2)
                             .drop("page_id"))
    s = TilingSettings()
    s["single-precision"] = True
    r = mvt.encode_point_tiles(feats, 0, 0, settings=s).collect()[0]
    assert mvt.decode_tile(bytes(r.mvt))["features"]
    assert r.feature_count == 100


def test_reverse_and_area_ordering(spark):
    feats = extract_features(synth_pages(spark, 100, partitions=2)
                             .drop("page_id"))
    s = TilingSettings()
    s["reverse"] = True
    s["limit-tile-feature-count"] = 10
    r = mvt.encode_point_tiles(feats, 0, 0, settings=s).collect()[0]
    ids = [f["id"] for f in mvt.decode_tile(bytes(r.mvt))["features"]]
    assert len(ids) == 10 and min(ids) >= 90  # cap kept the HIGHEST ids

    # area ordering: cap=1 keeps the smallest / largest polygon
    small = geom.wkb_polygon(np.array(
        [[0.0, 0.0], [20.0, 0.0], [20.0, 20.0], [0.0, 20.0], [0.0, 0.0]]))
    big = geom.wkb_polygon(np.array(
        [[-80.0, -60.0], [80.0, -60.0], [80.0, 60.0], [-80.0, 60.0],
         [-80.0, -60.0]]))
    feats2 = [(1, "polygon", big), (2, "polygon", small)]
    s_small = TilingSettings()
    s_small["order-smallest-first"] = True
    s_small["maximum-tile-features"] = 1
    blob, _ = mvt.encode_geom_tile_batch(0, 0, 0, feats2, s_small)
    assert mvt.decode_tile(blob)["features"][0]["id"] == 2
    s_big = TilingSettings()
    s_big["order-largest-first"] = True
    s_big["maximum-tile-features"] = 1
    blob2, _ = mvt.encode_geom_tile_batch(0, 0, 0, feats2, s_big)
    assert mvt.decode_tile(blob2)["features"][0]["id"] == 1


def test_force_and_allow_existing(tmp_path, spark, monkeypatch):
    from cloudtile_spark.cli import main
    from cloudtile_spark.sources.pages import synth_pages as sp

    monkeypatch.chdir(tmp_path)
    sp(spark, 50, partitions=2).drop("page_id") \
        .write.parquet(str(tmp_path / "p.parquet"))
    out = str(tmp_path / "p-0-1")
    args = ["convert", "single-step", str(tmp_path / "p.parquet"),
            "0", "1", "--cores", "2", "--out", out]
    assert main(args) == 0
    # force defaults True (the reference's active default) -> overwrite ok
    assert main(args) == 0
    # force=false + existing output -> loud error
    with pytest.raises(SystemExit, match="exists"):
        main(args + ["--tc-kwargs", "force=false"])
    # allow-existing permits it again
    assert main(args + ["--tc-kwargs", "force=false",
                        "allow-existing=true"]) == 0


def test_visvalingam_kernel():
    line = np.array([[0., 0.], [1., 0.001], [2., 0.], [3., 5.], [4., 0.]])
    out = geom.visvalingam(line, min_area=0.5)
    # the 0.001-high vertex (area ~0.001) is removed; the 5-high one stays
    assert [tuple(p) for p in out] == [(0., 0.), (2., 0.), (3., 5.), (4., 0.)]


def test_full_detail_extent_option(spark):
    s = TilingSettings()
    s["full-detail"] = 9  # extent 512
    feats = extract_features(synth_pages(spark, 200, partitions=2).drop("page_id"))
    r = mvt.encode_point_tiles(feats, 0, 0, settings=s).collect()[0]
    dec = mvt.decode_tile(bytes(r.mvt))
    assert dec["extent"] == 512
    for f in dec["features"]:
        px, py = f["geometry"][0][0]
        assert 0 <= px <= 512 and 0 <= py <= 512


def test_drop_types_filtered_before_cap():
    # regression (round-2 ADVICE): dropped geometry types must be filtered
    # OUT before the cap slice — with cap=1 and drop-lines, the line used to
    # eat the single cap slot and then get dropped, emitting an EMPTY tile
    # even though an undropped point was available.
    line = geom.wkb_linestring(np.array([[-45.0, 0.0], [45.0, 0.0]]))
    pt = geom.wkb_point(10.0, 10.0)
    feats = [(1, "linestring", line), (2, "point", pt)]  # line sorts first
    s = TilingSettings()
    s["drop-lines"] = True
    s["maximum-tile-features"] = 1
    blob, n = mvt.encode_geom_tile_batch(0, 0, 0, feats, s, maxz=4)
    assert n == 1 and mvt.decode_tile(blob)["features"][0]["id"] == 2


def test_no_duplication_writes_unclipped_geometry(spark):
    # regression (round-2 ADVICE): no-duplication emits the feature in ONE
    # tile but must write it UNCLIPPED (tippecanoe semantics — renderers
    # reconstruct the full geometry from the single copy). The line spans
    # far east of z1 tile (0,y): its encoded x must exceed extent+buffer.
    line = geom.wkb_linestring(np.array([[-120.0, 10.0], [120.0, 10.0]]))
    df = spark.createDataFrame(
        [(7, "linestring", bytearray(line))],
        "feature_id long, geom_type string, geom_wkb binary")
    s = TilingSettings()
    s["no-duplication"] = True
    tiles_out = mvt.encode_geom_tiles(df, 1, 1, s).collect()
    assert len(tiles_out) == 1 and tiles_out[0].x == 0
    decoded = mvt.decode_tile(bytes(tiles_out[0].mvt))
    xs = [p[0] for part in decoded["features"][0]["geometry"] for p in part]
    extent = decoded.get("extent", 4096)
    assert max(xs) > extent + 5  # geometry extends beyond the tile+buffer


def _ring_px(decoded_feat):
    return {tuple(p) for part in decoded_feat["geometry"] for p in part}


def test_shared_border_survives_simplification(spark):
    """detect-shared-borders / no-simplification-of-shared-nodes golden
    (round-2 verdict #7): two adjacent polygons share a slightly zigzag
    border (deviation under the simplification tolerance). Without the
    option the zigzag vertices are simplified away; with it, every shared
    node survives in BOTH polygons and the border vertex set is identical
    across the two features."""
    border = [(0.0, -30.0), (2.0, -10.0), (-2.0, 10.0), (0.0, 30.0)]
    a_ring = np.array([(-60.0, -30.0)] + border + [(-60.0, 30.0),
                                                   (-60.0, -30.0)])
    b_ring = np.array([(60.0, -30.0), (60.0, 30.0)]
                      + border[::-1] + [(60.0, -30.0)])
    df = spark.createDataFrame(
        [(1, "polygon", bytearray(geom.wkb_polygon(a_ring))),
         (2, "polygon", bytearray(geom.wkb_polygon(b_ring)))],
        "feature_id long, geom_type string, geom_wkb binary")

    def encode(settings):
        tiles_out = mvt.encode_geom_tiles(df, 0, 0, settings).collect()
        assert len(tiles_out) == 1
        feats = {f["id"]: f for f in
                 mvt.decode_tile(bytes(tiles_out[0].mvt))["features"]}
        return feats

    # border px at z0 extent 4096 (y from mercator): recompute like encoder
    def px(lon, lat):
        xs, ys = tiles.tile_local_coords(
            np.array([lon]), np.array([lat]), 0, 0, 0, extent=4096)
        return (int(round(xs[0])), int(round(ys[0])))

    border_px = {px(lon, lat) for lon, lat in border}

    s = TilingSettings()
    s["simplification"] = 40  # far above the ~23px zigzag deviation
    plain = encode(s)
    # control: without the option the zigzag interior is simplified away
    assert not border_px <= _ring_px(plain[1])
    assert not border_px <= _ring_px(plain[2])

    s["detect-shared-borders"] = True
    shared = encode(s)
    assert border_px <= _ring_px(shared[1])
    assert border_px <= _ring_px(shared[2])
    # byte-identical border on both sides: the shared vertices appear with
    # the SAME px coordinates in both features
    assert (_ring_px(shared[1]) & border_px) == (_ring_px(shared[2])
                                                 & border_px)


def test_shared_segments_and_protect_kernel(spark):
    from cloudtile_spark.operators import borders

    # two squares sharing the x=0 edge; one detached square
    a = np.array([(-10.0, 0.0), (0.0, 0.0), (0.0, 10.0), (-10.0, 10.0),
                  (-10.0, 0.0)])
    b = np.array([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0),
                  (0.0, 0.0)])
    c = np.array([(50.0, 0.0), (60.0, 0.0), (60.0, 10.0), (50.0, 10.0),
                  (50.0, 0.0)])
    df = spark.createDataFrame(
        [(1, "polygon", bytearray(geom.wkb_polygon(a))),
         (2, "polygon", bytearray(geom.wkb_polygon(b))),
         (3, "polygon", bytearray(geom.wkb_polygon(c)))],
        "feature_id long, geom_type string, geom_wkb binary")
    seg = borders.segment_table(df)
    assert seg.count() == 12  # 4 segments per ring
    sh = borders.shared_segments(seg).collect()
    # exactly ONE shared segment: x=0, y in [0, 10], canonicalized despite
    # opposite winding in a and b
    assert len(sh) == 1 and sh[0].n_features == 2
    q = borders.quantize(np.array([0.0, 0.0, 10.0]))
    assert (sh[0].ax, sh[0].ay, sh[0].bx, sh[0].by) == (
        int(q[0]), int(q[1]), int(q[0]), int(q[2]))
    # protected nodes: features 1 and 2 protect both shared endpoints
    prot = {r.feature_id: set(zip(r.prot_x, r.prot_y))
            for r in borders.protected_nodes(df).collect()}
    assert set(prot) == {1, 2}
    assert prot[1] == prot[2] == {(int(q[0]), int(q[1])),
                                  (int(q[0]), int(q[2]))}


def test_simplifiers_honor_protect_mask():
    # zigzag under tolerance: dropped without protect, kept with it
    line = np.array([(0.0, 0.0), (5.0, 1.0), (10.0, -1.0), (15.0, 0.0)])
    protect = np.array([False, True, False, False])
    assert len(geom.douglas_peucker(line, 3.0)) == 2
    kept = geom.douglas_peucker(line, 3.0, protect=protect)
    assert any((kept == line[1]).all(axis=1))
    assert len(geom.visvalingam(line, 20.0)) == 2
    kept_v = geom.visvalingam(line, 20.0, protect=protect)
    assert any((kept_v == line[1]).all(axis=1))


def _point_frames(spark, rows):
    """The same (feature_id, lon, lat) rows as a props-free point frame and
    as a WKB frame."""
    pts = spark.createDataFrame(rows, "feature_id long, lon double, "
                                      "lat double")
    wkb = spark.createDataFrame(
        [(i, "point", bytearray(geom.wkb_point(lon, lat)))
         for i, lon, lat in rows],
        "feature_id long, geom_type string, geom_wkb binary")
    return pts, wkb


def _tile_rows(df):
    return sorted((r.z, r.x, r.y, r.feature_count, bytes(r.mvt))
                  for r in df.collect())


# 300 points: 200 packed around two cities (so caps and byte budgets bite)
# and 100 spread over the world
_AGREE_ROWS = [
    (i, float(lon), float(lat)) for i, (lon, lat) in enumerate(
        [(2.35 + 0.02 * (i % 10), 48.85 + 0.02 * (i // 10))
         for i in range(100)]
        + [(-74.0 + 0.03 * (i % 10), 40.7 + 0.03 * (i // 10))
           for i in range(100)]
        + [(-170.0 + 3.4 * i, -70.0 + 1.4 * i) for i in range(100)])]
_AGREE_SETTINGS = {
    "default": {},
    "maximum-tile-features": {"maximum-tile-features": 7},
    "maximum-tile-bytes": {"maximum-tile-bytes": 120},
    "low-detail": {"low-detail": 10},
    "reverse-cap": {"reverse": True, "maximum-tile-features": 5},
    "drop-rate": {"drop-rate": 2, "base-zoom": 3},
    "feature-filter": {"feature-filter": ["<", "feature_id", 150]},
    "prefilter": {"prefilter": [">=", "feature_id", 120]},
    "postfilter": {"postfilter": [">=", "$zoom", 2]},
}


@pytest.mark.parametrize("case", list(_AGREE_SETTINGS))
def test_encoders_agree(spark, case):
    """Both encoders read the same tiling settings: points through
    encode_point_tiles and the same points as WKB through
    encode_geom_tiles give byte-identical tiles."""
    pts, wkb = _point_frames(spark, _AGREE_ROWS)
    s = _AGREE_SETTINGS[case]
    got_pts = _tile_rows(mvt.encode_point_tiles(
        pts, 0, 4, settings=TilingSettings(**s)))
    got_wkb = _tile_rows(mvt.encode_geom_tiles(
        wkb, 0, 4, settings=TilingSettings(**s)))
    assert got_pts and got_pts == got_wkb


# Degenerate inputs: (feature_id, lon, lat) rows
_MVT_DEGENERATE = {
    "empty": [],
    "one_row": [(7, 12.5, 41.9)],
    "one_tile": [(i, 2.0 + 0.01 * (i % 6), 43.0 + 0.01 * (i // 6))
                 for i in range(30)],
    "poles": [(i, -170.0 + 30.0 * i, lat) for i, lat in enumerate(
        [90.0, -90.0, 85.0511, -85.0511, 85.06, -85.06, 89.99, -89.99,
         90.0, -90.0])],
    "antimeridian": [(i, lon, -60.0 + 12.0 * i) for i, lon in enumerate(
        [180.0, -180.0, 180.0, -180.0, 179.9999, -179.9999, 180.0,
         -180.0, 180.0, -180.0, 0.0])],
    "duplicate_coords": ([(i, 12.5, 41.9) for i in range(30)]
                         + [(50 + i, -70.0 + 20 * i, -30.0 + 10 * i)
                            for i in range(5)]),
}


@pytest.mark.parametrize("encoder", ["point", "geom"])
@pytest.mark.parametrize("case", list(_MVT_DEGENERATE))
def test_mvt_degenerate_inputs(spark, case, encoder):
    """Both encoders on an empty frame, one row, all points in one tile,
    the poles, the antimeridian and duplicate coordinates write the tiles,
    feature counts and decoded ids of build_pyramid(with_ids=True)."""
    from cloudtile_spark.operators.pyramid import build_pyramid

    rows = _MVT_DEGENERATE[case]
    pts, wkb = _point_frames(spark, rows)
    cap = {"maximum-tile-features": 5}
    ref = {(r.z, r.x, r.y): (r.feature_count, list(r.feature_ids))
           for r in build_pyramid(pts, settings=TilingSettings(**cap),
                                  minz=0, maxz=4, with_ids=True).collect()}
    if encoder == "point":
        out = mvt.encode_point_tiles(pts, 0, 4, TilingSettings(**cap))
    else:
        out = mvt.encode_geom_tiles(wkb, 0, 4, TilingSettings(**cap))
    got = {}
    for r in out.collect():
        ids = [f["id"] for f in mvt.decode_tile(bytes(r.mvt))["features"]]
        assert len(ids) == r.feature_count
        got[(r.z, r.x, r.y)] = (r.feature_count, sorted(ids))
    assert got == ref
    assert bool(got) == bool(rows)


def test_plan_build_warns_nothing(spark):
    """Building either encoder's plan raises no UserWarning (pyspark warns
    when it cannot infer a pandas function's eval type from its hints)."""
    import warnings

    pts, wkb = _point_frames(spark, _AGREE_ROWS[:10])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        mvt.encode_point_tiles(pts, 0, 2)
        mvt.encode_geom_tiles(wkb, 0, 2)
    assert not [w for w in caught if issubclass(w.category, UserWarning)]


def test_byte_budget_drops_tags_of_dropped_feature(spark):
    """The feature the byte budget stops at leaves no keys or values in
    the layer: every layer value is referenced by a written feature."""
    feats = extract_features(synth_pages(spark, 300, partitions=2)
                             .drop("page_id"))
    for budget in (40, 61, 82, 117, 400):
        s = TilingSettings(**{"maximum-tile-bytes": budget})
        r = mvt.encode_point_tiles(feats, 0, 0, settings=s).collect()[0]
        dec = mvt.decode_tile(bytes(r.mvt))
        used_k = {t for f in dec["features"] for t in f["tags"][0::2]}
        used_v = {t for f in dec["features"] for t in f["tags"][1::2]}
        assert used_k == set(range(len(dec["keys"])))
        assert used_v == set(range(len(dec["values"])))


@pytest.mark.parametrize("case", ["tags", "order-by", "use-attribute-for-id"])
def test_encoders_agree_with_props(spark, case):
    """A props column rides the WKB cover, so tags, order-by and
    use-attribute-for-id give the point encoder's bytes for WKB rows."""
    rows = [(i, lon, lat, {"rank": str((7 * i) % 13), "nid": str(1000 + i)})
            for i, lon, lat in _AGREE_ROWS[:60]]
    pts = spark.createDataFrame(rows, "feature_id long, lon double, "
                                      "lat double, props map<string,string>")
    wkb = spark.createDataFrame(
        [(i, "point", bytearray(geom.wkb_point(lon, lat)), p)
         for i, lon, lat, p in rows],
        "feature_id long, geom_type string, geom_wkb binary, "
        "props map<string,string>")
    s = {"tags": {"exclude": ["nid"]},
         "order-by": {"order-descending-by": "rank",
                      "maximum-tile-features": 4},
         "use-attribute-for-id": {"use-attribute-for-id": "nid"}}[case]
    got_pts = _tile_rows(mvt.encode_point_tiles(
        pts, 0, 2, settings=TilingSettings(**s)))
    got_wkb = _tile_rows(mvt.encode_geom_tiles(
        wkb, 0, 2, settings=TilingSettings(**s)))
    assert got_pts == got_wkb
    dec = mvt.decode_tile(got_wkb[0][4])
    assert dec["keys"] == (["rank"] if case == "tags" else ["nid", "rank"])
    ids = [f["id"] for f in dec["features"]]
    assert (min(ids) >= 1000) == (case == "use-attribute-for-id")


def _props_frames(spark, n):
    """The first ``n`` agreement points with a props map, as a point frame
    and as a WKB frame."""
    rows = [(i, lon, lat, {"rank": str((7 * i) % 13), "nid": str(1000 + i)})
            for i, lon, lat in _AGREE_ROWS[:n]]
    pts = spark.createDataFrame(rows, "feature_id long, lon double, "
                                      "lat double, props map<string,string>")
    wkb = spark.createDataFrame(
        [(i, "point", bytearray(geom.wkb_point(lon, lat)), p)
         for i, lon, lat, p in rows],
        "feature_id long, geom_type string, geom_wkb binary, "
        "props map<string,string>")
    return pts, wkb


def test_tiles_spanning_arrow_batches(spark):
    """Three-row Arrow batches cut most tiles across batches (the z0 tile
    holds every row): both encoders still write the bytes they write at
    the default batch size."""
    pts, wkb = _props_frames(spark, 60)

    def both():
        return (_tile_rows(mvt.encode_point_tiles(pts, 0, 3)),
                _tile_rows(mvt.encode_geom_tiles(wkb, 0, 3)))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    want = both()
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = both()
    finally:
        spark.conf.set(key, old)
    assert got == want
    z0 = [r for r in want[0] if r[0] == 0]
    assert len(z0) == 1 and z0[0][3] == 60


def test_encode_runs_on_every_core(spark):
    """After the action, the final adaptive plan of the encode shuffles by
    number to defaultParallelism partitions (an exchange AQE does not
    coalesce) and has no grouped-map node."""
    pts, _ = _props_frames(spark, 60)
    out = mvt.encode_point_tiles(pts, 0, 3)
    out.collect()
    aqe = out._jdf.queryExecution().executedPlan()
    assert aqe.isFinalPlan()
    plan = aqe.executedPlan().toString()
    n = spark.sparkContext.defaultParallelism
    exchanges = [ln for ln in plan.splitlines() if "REPARTITION_BY_NUM" in ln]
    assert len(exchanges) == 1 and f", {n}), REPARTITION_BY_NUM" in exchanges[0]
    # AQEShuffleRead is the node through which AQE coalesces partitions
    assert "AQEShuffleRead" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_cover_budget_skips_zooms_from_the_first_over_budget_one(spark):
    """A polygon whose bbox cover first holds more than _MAX_COVER_TILES
    tiles at zoom zb is covered, with its full bbox cover, at every zoom
    below zb and at none from zb up."""
    ring = np.array([[-10.0, -8.0], [9.0, -8.0], [9.0, 7.0], [-10.0, 7.0]])
    sizes = []  # bbox cover size per zoom, from the NumPy tile math
    for z in range(16):
        x0, y1 = tiles.lonlat_to_tile(np.array([-10.0]), np.array([-8.0]), z)
        x1, y0 = tiles.lonlat_to_tile(np.array([9.0]), np.array([7.0]), z)
        sizes.append(int((x1 - x0 + 1)[0] * (y1 - y0 + 1)[0]))
    zb = next(z for z, n in enumerate(sizes) if n > mvt._MAX_COVER_TILES)
    df = spark.createDataFrame(
        [(1, "polygon", bytearray(geom.wkb_polygon(ring)))],
        "feature_id long, geom_type string, geom_wkb binary")
    got = {r.z: r["count"] for r in
           mvt.tile_cover(df, 0, zb + 1).groupBy("z").count().collect()}
    assert got == {z: sizes[z] for z in range(zb)}
