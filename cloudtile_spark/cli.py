"""CLI — the reference's command surface re-pointed at Spark jobs
(reference src/cloudtile/cli/__init__.py:17-161 + cli/parsers.py:10-237).

Kept observable behaviors:
- argparse tree ``convert {vector2features, features2tiles, single-step}``
  and ``manage {upload, download}`` (reference subparsers, parsers.py:50-60;
  verbs renamed for the Spark data model: fgb/pmtiles -> features/tiles)
- ``maximum_zoom`` parses as int or the literal ``"g"`` (guess)
  (reference cli/parsers.py:146-150)
- ``--tc-kwargs key=value ...`` free-form settings overrides with bool
  coercion (reference ParseTCKwargs, cli/parsers.py:210-237)
- output naming ``{stem}-{minzoom}-{maxzoom}[-{suffix}]``
  (reference FilePath.get_output_path, geofile.py:278-296)
- ``--config`` replaces defaults wholesale; explicit kwargs override both
  (reference geofile.py:202-216)

Usage:
    python -m cloudtile_spark convert single-step pages.parquet 0 10
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
from pathlib import Path
from typing import Any, Optional

from .settings import TilingSettings


def zoom_arg(v: str):
    """int or 'g' (reference cli/parsers.py:146-150)."""
    if v == "g":
        return "g"
    return int(v)


def parse_tc_kwargs(pairs: list[str]) -> dict[str, Any]:
    """['k=v', ...] -> dict with bool coercion (reference ParseTCKwargs)."""
    out: dict[str, Any] = {}
    for pair in pairs:
        if "=" not in pair:
            raise argparse.ArgumentTypeError(
                f"--tc-kwargs entries must be key=value, got {pair!r}")
        k, v = pair.split("=", 1)
        if v.lower() in ("true", "false"):
            out[k] = v.lower() == "true"
        else:
            try:
                out[k] = int(v)
            except ValueError:
                out[k] = v
    return out


def output_name(stem: str, minz, maxz, suffix: Optional[str] = None) -> str:
    """{stem}-{minz}-{maxz}[-{suffix}] (reference geofile.py:288-295)."""
    name = f"{stem}-{minz}-{maxz}"
    if suffix:
        name += f"-{suffix}"
    return name


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cloudtile_spark")
    sub = p.add_subparsers(dest="command", required=True)

    manage = sub.add_parser("manage", help="move artifacts in/out of the warehouse")
    msub = manage.add_subparsers(dest="action", required=True)
    for verb in ("upload", "download"):
        mp = msub.add_parser(verb)
        mp.add_argument("src")
        mp.add_argument("--warehouse", default="warehouse")

    conv = sub.add_parser("convert", help="run a conversion job")
    csub = conv.add_subparsers(dest="action", required=True)

    v2f = csub.add_parser("vector2features")
    v2f.add_argument("src")
    v2f.add_argument("--out", default=None)
    v2f.add_argument("--cores", type=int, default=8)

    for name in ("features2tiles", "single-step"):
        f2t = csub.add_parser(name)
        f2t.add_argument("src")
        f2t.add_argument("minimum_zoom", type=int)
        f2t.add_argument("maximum_zoom", type=zoom_arg)
        f2t.add_argument("--out", default=None)
        f2t.add_argument("--suffix", default=None)
        f2t.add_argument("--config", default=None)
        f2t.add_argument("--pmtiles", action="store_true",
                         help="also assemble a single-file .pmtiles artifact")
        f2t.add_argument("--tc-kwargs", nargs="*", default=[])
        f2t.add_argument("--cores", type=int, default=8)
    return p


def _content_md5(path: Path) -> str:
    """Streaming md5 of a file, or of a directory's (relpath, bytes) walk in
    sorted order — the reference's content-identity check
    (s3.py:151-187/211-227) without loading artifacts into memory."""
    h = hashlib.md5()
    if path.is_dir():
        for p in sorted(path.rglob("*")):
            if p.is_file():
                h.update(str(p.relative_to(path)).encode())
                with open(p, "rb") as f:
                    for chunk in iter(lambda: f.read(1 << 20), b""):
                        h.update(chunk)
    else:
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def _settings_from_args(args) -> TilingSettings:
    s = TilingSettings(cfg_path=args.config) if args.config \
        else TilingSettings()
    s.override_settings(**parse_tc_kwargs(args.tc_kwargs))
    return s


def main(argv: Optional[list[str]] = None) -> int:
    args = build_parser().parse_args(argv)

    if args.command == "manage":
        src = Path(args.src)
        wh = Path(args.warehouse)
        wh.mkdir(parents=True, exist_ok=True)
        if args.action == "upload":
            dest = wh / src.name
            # content-identity skip on md5 (reference s3.py:211-227
            # semantics: equality is the HASH, not size — same-size edits
            # must re-upload)
            if dest.exists() and _content_md5(dest) == _content_md5(src):
                print(f"skip (already uploaded, md5 match): {dest}")
            else:
                if dest.exists():
                    (shutil.rmtree if dest.is_dir() else os.remove)(dest)
                (shutil.copytree if src.is_dir() else shutil.copy2)(src, dest)
                print(f"uploaded {src} -> {dest}")
        else:
            dest = Path(src.name)
            src_wh = wh / src.name
            (shutil.copytree if src_wh.is_dir() else shutil.copy2)(src_wh, dest)
            print(f"downloaded {src_wh} -> {dest}")
        return 0

    from pyspark.sql import SparkSession

    from .operators.extract import extract_features
    from .operators.pyramid import tiling_input
    from .session import get_spark
    from .sources.readers import load_features

    # reuse an already-active session (embedded/test use) and leave its
    # lifecycle alone; only stop a session this CLI itself created
    active = SparkSession.getActiveSession()
    spark = active or get_spark("cloudtile_spark_cli", cores=args.cores)

    def _stem(src: str) -> str:
        return src.split(":", 1)[1].split(".")[-1] \
            if src.startswith("table:") else Path(src).stem

    try:
        if args.action == "vector2features":
            pages = load_features(spark, args.src)
            # default outputs resolve against the PROCESS cwd: Spark
            # resolves relative paths against the JVM's startup dir, which
            # silently scatters outputs when the caller has chdir'd
            out = args.out or str(Path.cwd() / (_stem(args.src) + "-features"))
            extract_features(pages).write.mode("overwrite").parquet(out)
            print(f"wrote features: {out}")
            return 0

        settings = _settings_from_args(args)
        stem = _stem(args.src)
        if args.action == "single-step":
            pages = load_features(spark, args.src)
            feats = extract_features(pages)
        else:
            feats = load_features(spark, args.src)
        keep = [c for c in ("feature_id", "lon", "lat", "props")
                if c in feats.columns]
        # the zoom args win over the settings' zooms; the name carries
        # the resolved range (a "g" guess reads the reprojected features)
        feats, settings = tiling_input(feats.select(*keep), settings,
                                       args.minimum_zoom, args.maximum_zoom)
        minz, maxz = settings["minimum-zoom"], settings["maximum-zoom"]
        name = output_name(stem, minz, maxz, args.suffix)
        out = args.out or str(Path.cwd() / name)  # JVM-cwd-proof default
        # force / allow-existing (tippecanoe yaml:12-13; force is the
        # reference's ACTIVE default): without either, an existing output
        # is an error rather than a silent overwrite
        if (Path(out).exists() and not settings.get("force")
                and not settings.get("allow-existing")):
            raise SystemExit(
                f"output {out} exists; pass force=true (default) or "
                f"allow-existing=true to proceed")

        from .operators.mvt import encode_point_tiles
        tiles_df = encode_point_tiles(feats, minz, maxz, settings=settings)
        tiles_df.write.mode("overwrite").partitionBy("z").parquet(out)
        print(f"wrote tiles table: {out}")
        if args.pmtiles:
            from .operators.pmtiles import (
                sorted_tile_stream, tilestats, write_pmtiles_stream)
            # streamed assembly: one global tid sort, walked one
            # AQE-coalesced range partition of payloads at a time — a
            # z0-12 pyramid (1.5M tiles) archives without a driver collect
            tiles_src = spark.read.parquet(out).select("z", "x", "y", "mvt")
            pm = f"{name}.pmtiles"
            meta = {"name": stem,
                    "tilestats": tilestats(feats, settings)}
            # archive metadata passthrough (tippecanoe yaml: attribution /
            # description)
            for mk in ("attribution", "description"):
                if settings.get(mk):
                    meta[mk] = settings[mk]
            stats = write_pmtiles_stream(
                pm, sorted_tile_stream(tiles_src), minz, maxz,
                metadata=meta)
            print(f"wrote archive: {pm} "
                  f"({stats['n_addressed']} tiles, {stats['leaves']} leaves)")
        return 0
    finally:
        if active is None:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
