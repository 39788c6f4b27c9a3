"""CLI behavior + PMTiles archive roundtrip tests (mirrors the reference's
CLI/parser tests, reference tests/test_cli.py + test_parsers.py)."""

import contextlib
import struct
import uuid

import numpy as np
import pytest

from cloudtile_spark.cli import (
    build_parser, main, output_name, parse_tc_kwargs, zoom_arg,
)
from cloudtile_spark.operators import mvt, pmtiles


def test_zoom_arg_int_or_g():
    assert zoom_arg("7") == 7
    assert zoom_arg("g") == "g"
    with pytest.raises(ValueError):
        zoom_arg("seven")


def test_parse_tc_kwargs_coercion():
    got = parse_tc_kwargs(["hilbert=true", "simplification=4", "order-by=x"])
    assert got == {"hilbert": True, "simplification": 4, "order-by": "x"}
    import argparse
    with pytest.raises(argparse.ArgumentTypeError):
        parse_tc_kwargs(["oops"])


def test_output_name_matches_reference_scheme():
    # reference FilePath.get_output_path (geofile.py:288-295)
    assert output_name("blocks", 4, 9) == "blocks-4-9"
    assert output_name("blocks", 4, 9, "v2") == "blocks-4-9-v2"


def test_parser_tree_and_usage_errors(capsys):
    p = build_parser()
    ns = p.parse_args(["convert", "single-step", "in.parquet", "0", "g"])
    assert ns.maximum_zoom == "g" and ns.minimum_zoom == 0
    with pytest.raises(SystemExit):
        p.parse_args(["convert"])  # missing subaction
    with pytest.raises(SystemExit):
        p.parse_args(["bogus"])


def test_manage_upload_download_with_dedup_skip(tmp_path, capsys):
    src = tmp_path / "artifact.bin"
    src.write_bytes(b"x" * 100)
    wh = tmp_path / "wh"
    assert main(["manage", "upload", str(src), "--warehouse", str(wh)]) == 0
    assert (wh / "artifact.bin").read_bytes() == b"x" * 100
    # second upload skips (reference md5-skip semantics, s3.py:128-132)
    main(["manage", "upload", str(src), "--warehouse", str(wh)])
    assert "skip" in capsys.readouterr().out
    # SAME-SIZE different-content edit must RE-upload (md5, not size —
    # reference s3.py:211-227; a size compare would wrongly skip this)
    src.write_bytes(b"y" * 100)
    main(["manage", "upload", str(src), "--warehouse", str(wh)])
    out = capsys.readouterr().out
    assert "uploaded" in out and "skip" not in out
    assert (wh / "artifact.bin").read_bytes() == b"y" * 100


def test_cli_single_step_end_to_end(tmp_path, spark, monkeypatch):
    """Full CLI path: pages parquet -> tiles table + pmtiles archive."""
    from cloudtile_spark.sources.pages import synth_pages

    monkeypatch.chdir(tmp_path)
    pages = synth_pages(spark, 400, partitions=4).drop("page_id")
    pages.write.parquet(str(tmp_path / "pages.parquet"))
    rc = main([
        "convert", "single-step", str(tmp_path / "pages.parquet"),
        "0", "4", "--pmtiles", "--cores", "4",
        "--tc-kwargs", "maximum-tile-features=150",
    ])
    assert rc == 0
    arch = pmtiles.read_pmtiles(str(tmp_path / "pages-0-4.pmtiles"))
    assert arch["minzoom"] == 0 and arch["maxzoom"] == 4
    # z0 tile holds min(400, 150) features after the cap
    z0 = arch["tiles"][pmtiles.tile_id(0, 0, 0)]
    dec = mvt.decode_tile(z0)
    assert len(dec["features"]) == 150
    _assert_archive_matches_table(spark, tmp_path, "pages-0-4", 0, 4)


def _assert_archive_matches_table(spark, tmp_path, name, minz, maxz):
    """The CLI's streamed ``<name>.pmtiles`` equals, byte for byte, the
    in-memory writer over the collected rows of its tiles table, given the
    metadata read back from the archive."""
    arch = str(tmp_path / f"{name}.pmtiles")
    rows = [(r.z, r.x, r.y, bytes(r.mvt)) for r in
            spark.read.parquet(str(tmp_path / name))
            .select("z", "x", "y", "mvt").collect()]
    ref = str(tmp_path / "reference.pmtiles")
    pmtiles.write_pmtiles(ref, rows, minz, maxz,
                          metadata=pmtiles.read_pmtiles(arch)["metadata"])
    with open(arch, "rb") as a, open(ref, "rb") as b:
        assert a.read() == b.read()


def test_cli_catalog_table_source(tmp_path, spark, monkeypatch):
    """table:<name> sources read through spark.read.table — the catalog
    path that serves Iceberg/Hive page tables on a real cluster."""
    from cloudtile_spark.sources.pages import synth_pages
    from cloudtile_spark.sources.readers import load_features

    monkeypatch.chdir(tmp_path)
    synth_pages(spark, 200, partitions=2).drop("page_id") \
        .createOrReplaceTempView("pages_tbl")
    out = str(tmp_path / "pages_tbl-0-2")
    rc = main(["convert", "single-step", "table:pages_tbl",
               "0", "2", "--cores", "2", "--out", out])
    assert rc == 0
    import os
    assert os.path.isdir(out)
    assert spark.read.parquet(out).count() > 0
    # reader-factory dispatch too
    spark.createDataFrame([(1, 1.0, 2.0)], "feature_id long, lon double, "
                          "lat double").createOrReplaceTempView("feats_tbl")
    assert load_features(spark, "table:feats_tbl").count() == 1


def test_cli_csv_source_dispatch(tmp_path, spark, monkeypatch):
    """convert features2tiles accepts a CSV feature source via the
    suffix-dispatch reader factory."""
    monkeypatch.chdir(tmp_path)
    p = tmp_path / "pts.csv"
    p.write_text("feature_id,lon,lat,name\n" + "\n".join(
        f"{i},{(i % 36) * 10 - 175}.5,{(i % 16) * 10 - 75}.5,n{i}"
        for i in range(40)))
    out = str(tmp_path / "pts-0-2")
    rc = main(["convert", "features2tiles", str(p), "0", "2",
               "--cores", "2", "--out", out, "--pmtiles"])
    assert rc == 0
    total = (spark.read.parquet(out)
             .where("z = 0").agg({"feature_count": "sum"}).collect()[0][0])
    assert total == 40
    _assert_archive_matches_table(spark, tmp_path, "pts-0-2", 0, 2)


def test_pmtiles_roundtrip_and_dedup():
    rows = []
    blob_a = mvt.encode_layer("l", [mvt.encode_feature(1, 1, [np.array([[5, 5]])], [])], [], [],
                              mvt.EXTENT)
    blob_b = mvt.encode_layer("l", [mvt.encode_feature(2, 1, [np.array([[9, 9]])], [])], [], [],
                              mvt.EXTENT)
    rows.append((1, 0, 0, blob_a))
    rows.append((1, 1, 0, blob_a))  # identical payload -> content-dedup
    rows.append((1, 0, 1, blob_b))
    pmtiles.write_pmtiles("/tmp/t.pmtiles", rows, 1, 1)
    back = pmtiles.read_pmtiles("/tmp/t.pmtiles")
    assert back["n_contents"] == 2  # deduped
    assert back["tiles"][pmtiles.tile_id(1, 0, 0)] == blob_a
    assert back["tiles"][pmtiles.tile_id(1, 1, 0)] == blob_a
    assert back["tiles"][pmtiles.tile_id(1, 0, 1)] == blob_b


def test_pmtiles_leaf_directories_roundtrip(tmp_path):
    # > MAX_ROOT_ENTRIES distinct payloads at z8 forces the leaf spill;
    # every tile must still read back through root -> leaf indirection
    n_side = 120  # 14400 tiles > 4096
    rows = [(8, x, y, b"payload-%d-%d" % (x, y))
            for x in range(n_side) for y in range(n_side)]
    p = str(tmp_path / "big.pmtiles")
    pmtiles.write_pmtiles(p, rows, 8, 8)
    back = pmtiles.read_pmtiles(p)
    assert back["leaf_len"] > 0 and back["n_addressed"] == n_side * n_side
    assert len(back["tiles"]) == n_side * n_side
    assert back["tiles"][pmtiles.tile_id(8, 17, 93)] == b"payload-17-93"
    assert back["tiles"][pmtiles.tile_id(8, 0, 0)] == b"payload-0-0"


def test_pmtiles_run_length_coalescing(tmp_path):
    # hilbert-consecutive identical payloads coalesce into run-length
    # entries: entry count collapses while every tid stays addressable
    rows = [(4, x, y, b"same") for x in range(16) for y in range(16)]
    p = str(tmp_path / "run.pmtiles")
    pmtiles.write_pmtiles(p, rows, 4, 4)
    back = pmtiles.read_pmtiles(p)
    assert back["n_addressed"] == 256
    assert back["n_contents"] == 1
    assert back["n_entries"] == 1  # one run covers the whole zoom level
    assert len(back["tiles"]) == 256
    assert all(v == b"same" for v in back["tiles"].values())


def test_pmtiles_stream_rejects_unsorted(tmp_path):
    with pytest.raises(ValueError):
        pmtiles.write_pmtiles_stream(
            str(tmp_path / "bad.pmtiles"), [(5, b"a"), (3, b"b")], 1, 1)


_TILE_SCHEMA = "z int, x int, y int, mvt binary"
_COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


@pytest.fixture(scope="module")
def tile_rows(spark):
    """The 43 tiles of a z0-3 pyramid over 300 synthetic pages, as local
    (z, x, y, mvt) rows."""
    from cloudtile_spark.operators.extract import extract_features
    from cloudtile_spark.operators.mvt import encode_point_tiles
    from cloudtile_spark.sources.pages import synth_pages

    feats = extract_features(
        synth_pages(spark, 300, partitions=4).drop("page_id"))
    rows = [(r.z, r.x, r.y, bytes(r.mvt))
            for r in encode_point_tiles(feats, 0, 3).collect()]
    assert len(rows) == 43
    return rows


@contextlib.contextmanager
def _coalescing(spark, enabled: bool):
    """AQE partition coalescing on or off for the block, then restored."""
    prev = spark.conf.get(_COALESCE)
    spark.conf.set(_COALESCE, str(enabled).lower())
    try:
        yield
    finally:
        spark.conf.set(_COALESCE, prev)


def _drain(spark, tiles_df) -> tuple[list[tuple[int, bytes]], int]:
    """Drain ``sorted_tile_stream`` under a unique job group; returns the
    streamed (tid, bytes) pairs and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"stream-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "drain sorted_tile_stream")
    try:
        got = list(pmtiles.sorted_tile_stream(tiles_df))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return got, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("coalesce", [True, False], ids=["coalesce_on",
                                                          "coalesce_off"])
def test_sorted_tile_stream_matches_collect(spark, tile_rows, coalesce):
    """The stream is globally tid-ascending and carries every tile. With
    coalescing off the tiles arrive from the session's 8 range partitions,
    so the order is checked across partition boundaries."""
    with _coalescing(spark, coalesce):
        got, jobs = _drain(spark, spark.createDataFrame(tile_rows,
                                                        _TILE_SCHEMA))
    want = sorted((pmtiles.tile_id(z, x, y), b) for z, x, y, b in tile_rows)
    assert [t for t, _ in got] == [t for t, _ in want]
    assert got == want
    if not coalesce:
        # sample + map stage + one result job per range partition
        assert jobs > 3


def test_sorted_tile_stream_job_count(spark, tile_rows):
    """A small archive streams from one coalesced partition: the range
    bounds sample, the shuffle map stage and one result job."""
    with _coalescing(spark, True):
        got, jobs = _drain(spark, spark.createDataFrame(tile_rows,
                                                        _TILE_SCHEMA))
    assert len(got) == 43
    assert jobs <= 3


def test_sorted_tile_stream_has_no_python_udf(spark, tile_rows,
                                              monkeypatch):
    """The tile ids are computed in the JVM: the executed plan of the
    streamed frame holds no Python evaluation node."""
    frame = spark.createDataFrame(tile_rows, _TILE_SCHEMA)
    streamed = []
    walk = type(frame).toLocalIterator

    def spy(self, *args, **kwargs):
        streamed.append(self)
        return walk(self, *args, **kwargs)

    monkeypatch.setattr(type(frame), "toLocalIterator", spy)
    got, _ = _drain(spark, frame)
    assert len(got) == 43 and len(streamed) == 1
    plan = streamed[0]._jdf.queryExecution().executedPlan().toString()
    assert "Sort" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _root_entries(path: str) -> list[tuple[int, int, int, int]]:
    """(tile_id, offset, length, run_length) of an archive's root
    directory."""
    with open(path, "rb") as f:
        buf = f.read()
    root_off, root_len = struct.unpack_from("<2Q", buf, 8)
    return pmtiles._decode_directory(buf[root_off:root_off + root_len])


def test_archive_from_empty_tile_frame(tmp_path, spark):
    got, _ = _drain(spark, spark.createDataFrame([], _TILE_SCHEMA))
    assert got == []
    p = str(tmp_path / "empty.pmtiles")
    stats = pmtiles.write_pmtiles_stream(p, got, 0, 0)
    assert stats == {"n_addressed": 0, "n_entries": 0, "n_contents": 0,
                     "leaves": 0}
    back = pmtiles.read_pmtiles(p)
    assert back["n_addressed"] == 0 and back["tiles"] == {}
    assert (back["minzoom"], back["maxzoom"]) == (0, 0)


def test_archive_from_one_tile_frame(tmp_path, spark):
    got, _ = _drain(spark, spark.createDataFrame([(5, 3, 7, b"only")],
                                                 _TILE_SCHEMA))
    tid = pmtiles.tile_id(5, 3, 7)
    assert got == [(tid, b"only")]
    p = str(tmp_path / "one.pmtiles")
    pmtiles.write_pmtiles_stream(p, got, 5, 5)
    back = pmtiles.read_pmtiles(p)
    assert back["tiles"] == {tid: b"only"}
    assert (back["n_addressed"], back["n_entries"],
            back["n_contents"]) == (1, 1, 1)


def test_archive_dedups_payloads_across_range_partitions(tmp_path, spark):
    """The first and last tile of a z3 level share a payload. With
    coalescing off they stream from different range partitions, and the
    archive still stores that payload once, at one offset."""
    level = sorted((pmtiles.tile_id(3, x, y), x, y)
                   for x in range(8) for y in range(8))
    first, last = level[0][0], level[-1][0]
    rows = [(3, x, y, b"dup" if t in (first, last) else b"u%d" % t)
            for t, x, y in level]
    with _coalescing(spark, False):
        got, jobs = _drain(spark, spark.createDataFrame(rows, _TILE_SCHEMA))
    assert jobs > 3  # more than one range partition was streamed
    assert [t for t, _ in got] == [t for t, _, _ in level]
    p = str(tmp_path / "dup.pmtiles")
    stats = pmtiles.write_pmtiles_stream(p, got, 3, 3)
    assert stats["n_addressed"] == 64 and stats["n_contents"] == 63
    by_tid = {tid: (off, ln) for tid, off, ln, _ in _root_entries(p)}
    assert by_tid[first] == by_tid[last]
    back = pmtiles.read_pmtiles(p)
    assert back["tiles"][first] == back["tiles"][last] == b"dup"


def test_pmtiles_tile_id_spec_values():
    # spec examples: z0 -> 0; z1 tiles occupy ids 1..4
    assert pmtiles.tile_id(0, 0, 0) == 0
    ids = {pmtiles.tile_id(1, x, y) for x in (0, 1) for y in (0, 1)}
    assert ids == {1, 2, 3, 4}
    assert pmtiles.tile_id(2, 0, 0) == 5


def test_tilestats_metadata_in_archive(tmp_path, spark, monkeypatch):
    from cloudtile_spark.sources.pages import synth_pages

    monkeypatch.chdir(tmp_path)
    synth_pages(spark, 200, partitions=2).drop("page_id") \
        .write.parquet(str(tmp_path / "p.parquet"))
    assert main(["convert", "single-step", str(tmp_path / "p.parquet"),
                 "0", "2", "--pmtiles", "--cores", "2",
                 "--tc-kwargs", "tile-stats-values-limit=3"]) == 0
    arch = pmtiles.read_pmtiles(str(tmp_path / "p-0-2.pmtiles"))
    ts = arch["metadata"]["tilestats"]
    assert ts["layers"][0]["count"] == 200
    attrs = {a["attribute"]: a for a in ts["layers"][0]["attributes"]}
    assert set(attrs) == {"lang", "city"}
    assert attrs["lang"]["count"] == 200
    assert len(attrs["lang"]["values"]) == 3  # values-limit honored
    # no-tile-stats disables
    assert main(["convert", "single-step", str(tmp_path / "p.parquet"),
                 "0", "2", "--pmtiles", "--cores", "2", "--suffix", "nostats",
                 "--tc-kwargs", "no-tile-stats=true"]) == 0
    arch2 = pmtiles.read_pmtiles(str(tmp_path / "p-0-2-nostats.pmtiles"))
    assert arch2["metadata"]["tilestats"] == {}


def test_tilestats_attribute_description(spark):
    from cloudtile_spark.operators.extract import extract_features
    from cloudtile_spark.operators.pmtiles import tilestats
    from cloudtile_spark.settings import TilingSettings
    from cloudtile_spark.sources.pages import synth_pages

    feats = extract_features(synth_pages(spark, 100, partitions=2)
                             .drop("page_id"))
    s = TilingSettings()
    s["attribute-description"] = {"lang": "ISO language code"}
    ts = tilestats(feats, s)
    attrs = {a["attribute"]: a for a in ts["layers"][0]["attributes"]}
    assert attrs["lang"]["description"] == "ISO language code"
    assert "description" not in attrs["city"]


def test_tilestats_counts_features_without_props(spark):
    """Features whose props are empty or null still count in the layer,
    and the attribute limit keeps the first keys in key order. A null
    value counts for its key but is not a sampled value."""
    from cloudtile_spark.operators.pmtiles import tilestats
    from cloudtile_spark.settings import TilingSettings

    feats = spark.createDataFrame(
        [(1, {"b": "x", "a": "1"}), (2, {"c": "y", "a": "2"}), (3, {}),
         (4, None), (5, {"a": "1", "d": None})],
        "feature_id long, props map<string, string>")
    s = TilingSettings()
    s["tile-stats-attributes-limit"] = 2
    layer = tilestats(feats, s)["layers"][0]
    assert layer["count"] == 5
    assert layer["attributeCount"] == 2
    assert layer["attributes"] == [
        {"attribute": "a", "count": 3, "type": "string",
         "values": ["1", "2"]},
        {"attribute": "b", "count": 1, "type": "string", "values": ["x"]},
    ]
    s["tile-stats-attributes-limit"] = 10
    attrs = tilestats(feats, s)["layers"][0]["attributes"]
    assert [(a["attribute"], a["count"], a["values"]) for a in attrs] == [
        ("a", 3, ["1", "2"]), ("b", 1, ["x"]), ("c", 1, ["y"]),
        ("d", 1, [])]


def test_order_by_option(spark):
    from cloudtile_spark.operators.extract import extract_features
    from cloudtile_spark.operators.mvt import decode_tile, encode_point_tiles
    from cloudtile_spark.settings import TilingSettings
    from cloudtile_spark.sources.pages import synth_pages

    feats = extract_features(synth_pages(spark, 120, partitions=2)
                             .drop("page_id"))
    s = TilingSettings()
    s["order-descending-by"] = "lang"
    s["maximum-tile-features"] = 30
    r = encode_point_tiles(feats, 0, 0, settings=s).collect()[0]
    dec = decode_tile(bytes(r.mvt))
    # cap kept the 30 LAST-langs-first features: decode each feature's lang
    langs = []
    for f in dec["features"]:
        tags = f["tags"]
        kv = {dec["keys"][tags[i]]: dec["values"][tags[i + 1]][2:].decode()
              for i in range(0, len(tags), 2)}
        langs.append(kv["lang"])
    assert set(langs) <= {"pt", "fr"} and "pt" in langs  # desc order kept tail langs


def test_catalog_contract(tmp_path, spark, monkeypatch):
    """Contract for the catalog layer (round-2 verdict #5): name-like refs
    resolve through the SESSION CATALOG (managed table round-trip works,
    unresolvable names fail loudly); path refs stay parquet. This test
    fails if read_table regresses to treating a table name as a relative
    parquet path."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException
    from cloudtile_spark.sources import catalog

    monkeypatch.chdir(tmp_path)
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string")

    # managed-table round-trip through the in-session catalog
    catalog.write_table(df, "ct_contract_tbl")
    try:
        back = catalog.read_table(spark, "ct_contract_tbl")
        assert sorted((r.id, r.v) for r in back.collect()) == \
            [(1, "a"), (2, "b")]
        # temp views resolve too (the cluster Iceberg path shares this API)
        df.createOrReplaceTempView("ct_contract_view")
        assert catalog.read_table(spark, "ct_contract_view").count() == 2
        # unresolvable table name surfaces loudly, never a path read
        with _pytest.raises(AnalysisException):
            catalog.read_table(spark, "no_such_table_xyz").collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS ct_contract_tbl")

    # path refs still go straight to parquet
    p = str(tmp_path / "ct_path.parquet")
    catalog.write_table(df, p)
    assert catalog.read_table(spark, p).count() == 2


def test_archive_tilestats_layer_is_tile_layer(tmp_path, spark, monkeypatch):
    """named-layer names the layer in the tiles AND in the archive's
    tilestats metadata: both read one resolver."""
    from cloudtile_spark.sources.pages import synth_pages

    monkeypatch.chdir(tmp_path)
    synth_pages(spark, 60, partitions=2).drop("page_id") \
        .write.parquet(str(tmp_path / "p.parquet"))
    assert main(["convert", "single-step", str(tmp_path / "p.parquet"),
                 "0", "1", "--pmtiles", "--cores", "2",
                 "--tc-kwargs", "named-layer=roads"]) == 0
    arch = pmtiles.read_pmtiles(str(tmp_path / "p-0-1.pmtiles"))
    tile_layers = {mvt.decode_tile(b)["name"] for b in arch["tiles"].values()}
    ts_layers = [ly["layer"] for ly in arch["metadata"]["tilestats"]["layers"]]
    assert tile_layers == {"roads"} and ts_layers == ["roads"]


def test_table_sources_resolve_through_catalog(tmp_path, spark, monkeypatch):
    """``table:<name>`` has one resolver, catalog.read_table (the one with
    the Iceberg route): both the reader factory and the CLI call it."""
    from cloudtile_spark.sources import catalog
    from cloudtile_spark.sources.pages import synth_pages
    from cloudtile_spark.sources.readers import load_features

    monkeypatch.chdir(tmp_path)
    seen = []
    real = catalog.read_table

    def spy(spark_, ref):
        seen.append(ref)
        return real(spark_, ref)

    monkeypatch.setattr(catalog, "read_table", spy)
    spark.createDataFrame([(1, 1.0, 2.0)], "feature_id long, lon double, "
                          "lat double").createOrReplaceTempView("spy_feats")
    assert load_features(spark, "table:spy_feats").count() == 1
    assert seen == ["spy_feats"]
    synth_pages(spark, 40, partitions=2).drop("page_id") \
        .createOrReplaceTempView("spy_pages")
    assert main(["convert", "single-step", "table:spy_pages", "0", "1",
                 "--cores", "2", "--out", str(tmp_path / "t")]) == 0
    assert seen == ["spy_feats", "spy_pages"]
