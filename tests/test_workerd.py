"""The Python worker daemon (`caraspark.workerd`): reused workers keep their
zip directories across tasks, and the `--py-files` zip ships the module."""

from __future__ import annotations

import os
import sys
import zipfile


def test_reused_worker_does_not_reread_its_zips(spark):
    def pid_and_directory(_rows):
        """One row per task: the worker's pid and the identity of its
        pyspark.zip importer's central-directory table. A rescan replaces
        the table, so an equal id on a reused worker means no re-read."""
        path = next(p for p in sys.path if p.endswith("pyspark.zip"))
        yield os.getpid(), id(sys.path_importer_cache[path]._files)

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "caraspark.workerd"
    seen: dict[int, int] = {}
    reused = 0
    for _ in range(2):
        for pid, files in sc.parallelize(range(4), 4).mapPartitions(
            pid_and_directory
        ).collect():
            if pid in seen:
                reused += 1
                assert seen[pid] == files, f"worker {pid} re-read pyspark.zip"
            seen[pid] = files
    assert reused, "no task landed on a reused worker"


def test_pyfiles_zip_ships_the_daemon(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    from build_pyfiles import build

    out = str(tmp_path / "caraspark.zip")
    build(out)
    assert "caraspark/workerd.py" in zipfile.ZipFile(out).namelist()
