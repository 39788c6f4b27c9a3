"""Checkpoint-resume tests (FIXTURES.md §8): kill-after-stage then rerun =>
identical output, completed zooms skipped."""

import pytest
from pyspark.sql import functions as F

from cloudtile_spark.operators.extract import extract_features
from cloudtile_spark.plans.lineage import (
    committed_zooms, read_tiles, resume_pyramid,
)
from cloudtile_spark.sources.pages import synth_pages


@pytest.fixture(scope="module")
def feats(spark):
    df = extract_features(synth_pages(spark, 1500, partitions=8).drop("page_id"))
    return df.select("feature_id", "lon", "lat").cache()


def _tiles_set(spark, d):
    return sorted(map(tuple, read_tiles(spark, d)
                      .select("z", "x", "y", "feature_count", "checksum")
                      .collect()))


def test_full_run_then_resume_noop(spark, feats, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pyr"))
    done = resume_pyramid(feats, d, "run1", 0, 5)
    assert done == list(range(6))
    golden = _tiles_set(spark, d)
    # resume on a finished pyramid computes nothing
    again = resume_pyramid(feats, d, "run2", 0, 5)
    assert again == []
    assert _tiles_set(spark, d) == golden


def test_partial_run_resumes_and_matches_golden(spark, feats, tmp_path_factory):
    d_gold = str(tmp_path_factory.mktemp("gold"))
    resume_pyramid(feats, d_gold, "g", 0, 6)
    golden = _tiles_set(spark, d_gold)

    # "killed" run: only zooms 0..3 committed
    d = str(tmp_path_factory.mktemp("partial"))
    resume_pyramid(feats, d, "a", 0, 3)
    assert committed_zooms(spark, d) == {0, 1, 2, 3}

    computed = resume_pyramid(feats, d, "b", 0, 6)
    assert computed == [4, 5, 6]  # zooms <= 3 skipped via lineage anti-join
    assert _tiles_set(spark, d) == golden


def test_lineage_rows_match_tiles(spark, feats, tmp_path_factory):
    from cloudtile_spark.plans.lineage import read_lineage

    d = str(tmp_path_factory.mktemp("lin"))
    resume_pyramid(feats, d, "r", 0, 3)
    lin = read_lineage(spark, d).filter(F.col("stage") == "tile")
    tiles = read_tiles(spark, d)
    joined = lin.join(tiles, ["z", "x", "y"])
    assert joined.count() == tiles.count() == lin.count()
    bad = joined.filter(
        (F.col("row_count") != F.col("feature_count"))
        | (lin.checksum != tiles.checksum)
    )
    assert bad.count() == 0


def test_resume_runs_one_top_cap_per_zoom(spark, feats, tmp_path_factory):
    """Each zoom's top-cap aggregation runs once: the lineage rows are read
    back from the zoom partition just written, so the features are scanned
    once per zoom (counted by an accumulator in a pass-through map)."""
    scanned = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            scanned.add(len(pdf))
            yield pdf

    counted = feats.mapInPandas(count_rows, feats.schema)
    d = str(tmp_path_factory.mktemp("once"))
    assert resume_pyramid(counted, d, "once", 0, 2) == [0, 1, 2]
    assert scanned.value == 3 * feats.count()
