"""Per-partition lineage + checkpoint-resume for the tile pyramid.

The reference's idempotency mechanism is a file-level md5 skip: upload is
short-circuited when the content hash matches what's already in S3
(reference src/cloudtile/s3.py:128-132, equality check s3.py:151-187, md5
s3.py:211-227). This module is the same idea at TILE/STAGE granularity so a
100 TB pyramid build killed mid-run resumes without recomputing finished
zooms:

- every committed stage appends lineage rows
  (run_id, stage, z, x, y, row_count, checksum, completed_at);
- a zoom level is COMMITTED when its 'zoom_commit' marker row exists
  (written strictly after the data+tile rows, so a crash between them
  re-runs the zoom — idempotent because the tile data is overwritten by
  zoom partition);
- resume = anti-join of requested zooms against committed markers
  (`left_anti`, the Spark-native "skip what's done").

Layout (local/object-store path):
    {out_dir}/tiles/        parquet, partitioned by z (dynamic overwrite)
    {out_dir}/lineage/      parquet, append-only
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pyramid import (assign_xy, capped_tile_summary, tile_cap,
                                 tiling_input)
from ..settings import TilingSettings

LINEAGE_SCHEMA = (
    "run_id string, stage string, z int, x long, y long, "
    "row_count long, checksum string"
)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    try:
        return spark.read.parquet(f"{out_dir}/lineage")
    except Exception:
        return spark.createDataFrame([], LINEAGE_SCHEMA + ", completed_at timestamp")


def committed_zooms(spark: SparkSession, out_dir: str) -> set[int]:
    lin = read_lineage(spark, out_dir)
    return {
        r.z for r in lin.filter(F.col("stage") == "zoom_commit")
        .select("z").distinct().collect()
    }


def resume_pyramid(
    features: DataFrame,
    out_dir: str,
    run_id: str,
    minz: int,
    maxz: int | str,
    settings: TilingSettings | None = None,
) -> list[int]:
    """Build (or resume) a tile pyramid with per-zoom commit points.

    Returns the list of zooms actually computed this invocation (committed
    zooms are skipped — the resume contract of FIXTURES.md §8). Output data
    is identical to an uninterrupted run because every stage is
    deterministic and zoom partitions are overwritten atomically
    (partitionOverwriteMode=dynamic). Projection and zoom range come from
    ``tiling_input``, as for every tiler.
    """
    spark = features.sparkSession
    features, s = tiling_input(features, settings, minz, maxz)
    minz, maxz = s["minimum-zoom"], s["maximum-zoom"]
    cap = tile_cap(s, maxz)
    done = committed_zooms(spark, out_dir)
    todo = [z for z in range(minz, maxz + 1) if z not in done]
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    for z in todo:
        tiles_z = capped_tile_summary(
            assign_xy(features.withColumn("z", F.lit(z))), cap, with_ids=True
        )
        tiles_z.write.mode("overwrite").partitionBy("z") \
            .parquet(f"{out_dir}/tiles")
        # lineage rows from the partition just written, not from tiles_z:
        # that plan is uncached and would run the top-cap again. The
        # schema is given, so the read infers nothing (no job)
        written = spark.read.schema(tiles_z.schema) \
            .parquet(f"{out_dir}/tiles").where(F.col("z") == z)
        lin = written.select(
            F.lit(run_id).alias("run_id"),
            F.lit("tile").alias("stage"),
            "z", "x", "y",
            F.col("feature_count").alias("row_count"),
            "checksum",
            F.current_timestamp().alias("completed_at"),
        )
        marker = spark.createDataFrame(
            [(run_id, "zoom_commit", z, -1, -1, 0, "")],
            LINEAGE_SCHEMA,
        ).withColumn("completed_at", F.current_timestamp())
        # data first, marker last: a crash in between re-runs the zoom
        lin.write.mode("append").parquet(f"{out_dir}/lineage")
        marker.write.mode("append").parquet(f"{out_dir}/lineage")
    return todo


def read_tiles(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/tiles")
