"""The session's Python workers: the daemon module (``pydaemon``) and the
package root on the workers' path (``session.get_spark``)."""

import importlib
import os
import pathlib
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from cloudtile_spark import pydaemon

REPO_ROOT = str(pathlib.Path(__file__).resolve().parents[1])


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m.py", f"V = {value}\n")


def test_zip_archive_reread_only_when_changed(tmp_path, monkeypatch):
    # importing the module patches nothing; only its __main__ does
    assert zipimport.zipimporter.invalidate_caches is pydaemon._read_archive
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "m", raising=False)
    assert importlib.import_module("m").V == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read_directory(p))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    importer.invalidate_caches()       # the first call stamps the archive
    assert reads == [archive]
    importer.invalidate_caches()       # unchanged: nothing re-read
    assert reads == [archive]

    _write_zip(archive, 22)            # a new size, so a new stamp
    importer.invalidate_caches()
    assert reads == [archive, archive]
    del sys.modules["m"]
    assert importlib.import_module("m").V == 22
    del sys.modules["m"]


def test_workers_run_under_pydaemon(spark):
    def worker_state(batches):
        import pandas as pd

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        importers = [v for v in sys.path_importer_cache.values()
                     if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({
            "daemon": [sys.modules["__main__"].__spec__.name],
            "method": [os.path.basename(method.__code__.co_filename)],
            "importers": [len(importers)],
            "stamped": [sum(hasattr(v, "_stamp") for v in importers)],
        })

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(worker_state,
                        "daemon string, method string, importers long, "
                        "stamped long")
           .collect()[0])
    assert row.daemon == "cloudtile_spark.pydaemon"
    assert row.method == "pydaemon.py"
    # the task's own setup already ran the stamped method on every importer
    assert row.importers > 0 and row.stamped == row.importers


IMPORT_ANYWHERE = textwrap.dedent("""
    import sys
    sys.path.insert(0, sys.argv[1])
    from cloudtile_spark.operators.mvt import encode_point_tiles
    from cloudtile_spark.session import get_spark

    spark = get_spark("import_anywhere", cores=2, shuffle_partitions=2)
    feats = spark.createDataFrame([(1, 10.0, 20.0), (2, -70.0, 40.0)],
                                  "feature_id long, lon double, lat double")
    print("TILES=%d" % encode_point_tiles(feats, 0, 1).count())
    ids = spark.range(3).mapInPandas(lambda it: (b * 2 for b in it), "id long")
    print("IDS=%d" % sum(r.id for r in ids.collect()))
    spark.stop()
""")


def test_workers_import_engine_from_any_directory(tmp_path):
    """Workers find the engine with neither the driver's working directory
    nor PYTHONPATH holding the checkout."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEM="1g",
               SPARK_LOCAL_DIRS=str(tmp_path / "spark-local"))
    r = subprocess.run(
        [sys.executable, "-c", IMPORT_ANYWHERE, REPO_ROOT],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert "TILES=3" in r.stdout, (r.stdout[-2000:], r.stderr[-3000:])
    assert "IDS=6" in r.stdout, (r.stdout[-2000:], r.stderr[-3000:])
