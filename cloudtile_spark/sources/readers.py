"""Vector source readers -> the normalized features frame
(reference VectorFile formats {geojson, gpkg, parquet},
src/cloudtile/geofile.py:136; gpkg is out of scope — no SQLite reader in
this container and no pages analogue, SURVEY §2.B1).

GeoJSON: newline-delimited Feature objects (the partition-friendly form —
a single FeatureCollection document is driver-parsed only if small).
All parsing is Spark-native (`spark.read.json` with an explicit schema:
no inference scan) and the coordinate plumbing is JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import catalog

GEOJSON_SCHEMA = T.StructType([
    T.StructField("type", T.StringType()),
    T.StructField("id", T.LongType()),
    T.StructField("geometry", T.StructType([
        T.StructField("type", T.StringType()),
        # point coords; lines/polygons re-parsed from the raw doc below
        T.StructField("coordinates", T.ArrayType(T.DoubleType())),
    ])),
    T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
])


def read_geojson_points(spark: SparkSession, path: str) -> DataFrame:
    """ND-GeoJSON point features -> features(feature_id, lon, lat, props)."""
    raw = spark.read.schema(GEOJSON_SCHEMA).json(path)
    return (
        raw.filter(F.col("geometry.type") == "Point")
        .select(
            F.col("id").alias("feature_id"),
            F.element_at("geometry.coordinates", 1).alias("lon"),
            F.element_at("geometry.coordinates", 2).alias("lat"),
            F.lit("point").alias("geom_type"),
            F.col("properties").alias("props"),
        )
        .filter(F.col("feature_id").isNotNull()
                & F.col("lon").isNotNull() & F.col("lat").isNotNull())
    )


def read_features_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_features_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC features (columnar sibling of parquet — same pushdown and
    column-pruning contract through the DataSource V1 ORC reader; kept
    in the suffix dispatch so a lakehouse standardized on ORC needs no
    conversion step)."""
    return spark.read.orc(path)


def read_csv_points(
    spark: SparkSession, path: str,
    empty_columns_are_null: bool = True,
) -> DataFrame:
    """CSV point features (tippecanoe's csv input): header row with
    feature_id, lon, lat columns; every other column becomes a props map
    entry. ``empty_columns_are_null`` = the tippecanoe
    ``empty-csv-columns-are-null`` option: '' parses to NULL (and the
    props entry is dropped) instead of an empty-string attribute.

    Distributed scan (spark.read.csv splits by line) — no driver parsing.
    """
    raw = spark.read.option("header", True).csv(path)
    for col in ("feature_id", "lon", "lat"):
        if col not in raw.columns:
            raise ValueError(f"csv source missing required column {col!r}")
    attr_cols = [c for c in raw.columns
                 if c not in ("feature_id", "lon", "lat")]
    out = raw.select(
        F.col("feature_id").cast("long").alias("feature_id"),
        F.col("lon").cast("double").alias("lon"),
        F.col("lat").cast("double").alias("lat"),
        F.lit("point").alias("geom_type"),
        *[F.col(c) for c in attr_cols],
    ).filter(F.col("feature_id").isNotNull()
             & F.col("lon").isNotNull() & F.col("lat").isNotNull())
    if attr_cols:
        if empty_columns_are_null:
            entries = [
                F.when(F.col(c).isNotNull() & (F.col(c) != ""),
                       F.struct(F.lit(c).alias("k"), F.col(c).alias("v")))
                for c in attr_cols
            ]
            props = F.map_from_entries(
                F.filter(F.array(*entries), lambda e: e.isNotNull()))
        else:
            props = F.map_from_entries(F.array(*[
                F.struct(F.lit(c).alias("k"),
                         F.coalesce(F.col(c), F.lit("")).alias("v"))
                for c in attr_cols
            ]))
        out = out.withColumn("props", props)
    return out.drop(*attr_cols)


def read_gpkg_points(spark: SparkSession, path: str) -> DataFrame:
    """GeoPackage point reader (reference source format, geofile.py:136).

    A .gpkg is a single SQLite file — inherently a driver-side artifact
    (like the reference treats it); rows are parsed with the stdlib
    ``sqlite3`` and handed to Spark as a distributed frame. The geometry
    BLOB is the public GPKG binary format: 'GP' magic, version, flags byte
    (bit 1-3 = envelope size), srs_id, optional envelope, then standard WKB
    (parsed by geom.wkb_parse).
    """
    import sqlite3
    import struct as _struct

    from .. import geom as _geom

    con = sqlite3.connect(path)
    try:
        (table,) = con.execute(
            "SELECT table_name FROM gpkg_contents WHERE data_type='features' "
            "LIMIT 1"
        ).fetchone()
        (geom_col,) = con.execute(
            "SELECT column_name FROM gpkg_geometry_columns WHERE table_name=?",
            (table,),
        ).fetchone()
        rows = []
        for fid, blob in con.execute(
            f'SELECT fid, "{geom_col}" FROM "{table}"'
        ):
            magic, version, flags = _struct.unpack_from("<2sBB", blob, 0)
            assert magic == b"GP", "not a GeoPackage geometry blob"
            env_code = (flags >> 1) & 0x07
            env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}[env_code]
            gtype, coords = _geom.wkb_parse(blob[8 + env_len:])
            if gtype == 1:
                rows.append((int(fid), float(coords[0, 0]),
                             float(coords[0, 1])))
    finally:
        con.close()
    return spark.createDataFrame(
        rows, "feature_id long, lon double, lat double"
    ).withColumn("geom_type", F.lit("point")) \
     .withColumn("props", F.create_map().cast("map<string,string>"))


READERS = {
    "geojson": read_geojson_points,
    "json": read_geojson_points,
    "parquet": read_features_parquet,
    "orc": read_features_orc,
    "gpkg": read_gpkg_points,
    "csv": read_csv_points,
}


def load_features(spark: SparkSession, path: str) -> DataFrame:
    """Suffix-dispatch reader factory (reference Converter.load_file,
    src/cloudtile/converter.py:90-130). ``table:<name>`` reads a CATALOG
    table through catalog.read_table — the deployment path for Iceberg/Hive
    catalogs of Common-Crawl-style pages (the north-rule input shape); the
    engine never assumes a file layout there, so partition pruning, hidden
    metadata columns, and snapshot reads all come from the table format.
    """
    if path.startswith("table:"):
        return catalog.read_table(spark, path[len("table:"):])
    suffix = path.rsplit(".", 1)[-1].lower()
    if suffix not in READERS:
        raise ValueError(
            f"Unsupported file type: .{suffix} "
            f"(supported: {sorted(READERS)}, or table:<catalog table>)"
        )
    return READERS[suffix](spark, path)
