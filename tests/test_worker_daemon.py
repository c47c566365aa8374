"""The session's Python workers keep their zip directory cache.

Every Python task calls ``importlib.invalidate_caches()``; on CPython
3.11 that re-parsed the whole directory of every archive the worker
imports from (pyspark.zip: ~215 ms of CPU per task).
``tastytrade_sdk_spark.worker_daemon``, the session's daemon module,
re-reads an archive only when its stat changed.
``session.python_worker_cpu`` reads the workers' CPU.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pandas as pd
import pytest

import tastytrade_sdk_spark
import tastytrade_sdk_spark.worker_daemon  # noqa: F401 — patches zipimporter
from tastytrade_sdk_spark.session import python_worker_cpu


def test_session_workers_keep_zip_directory_cache(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "tastytrade_sdk_spark.worker_daemon"

    def probe(pdf: pd.DataFrame) -> pd.DataFrame:
        import importlib
        import sys
        import zipimport

        importers = [
            i for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter)
        ]
        before = [i._files for i in importers]
        importlib.invalidate_caches()
        replaced = sum(i._files is not b for i, b in zip(importers, before))
        return pd.DataFrame({"importers": [len(importers)], "replaced": [replaced]})

    rows = (
        spark.range(4)
        .selectExpr("id % 2 AS k")
        .groupBy("k")
        .applyInPandas(probe, "importers long, replaced long")
        .collect()
    )
    if not any(r["importers"] for r in rows):
        pytest.skip("the Python workers import from no zip archive")
    assert [r["replaced"] for r in rows] == [0] * len(rows)


def test_workers_fork_with_frozen_preimported_heap(spark):
    """The daemon imports pandas before it forks and freezes its heap,
    so a plain Python task (which imports no pandas itself) finds
    pandas loaded and a non-empty permanent GC generation."""

    def probe(_):
        import gc
        import sys

        return gc.get_freeze_count(), "pandas" in sys.modules

    rows = spark.sparkContext.parallelize(range(2), 2).map(probe).collect()
    assert all(frozen > 0 and has_pandas for frozen, has_pandas in rows), rows


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zd_first.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zd_first", "zd_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zd_first").VALUE == 1

    importer = sys.path_importer_cache[str(archive)]
    importlib.invalidate_caches()  # the first call reads it and records its stat
    files = importer._files
    importlib.invalidate_caches()
    assert importer._files is files  # unchanged archive: not re-read

    # rewritten in place (same path, same inode) with a new member
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zd_first.py", "VALUE = 1\n")
        z.writestr("zd_second.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zd_second").VALUE == 2

    files = importer._files
    importlib.invalidate_caches()
    assert importer._files is files  # its new stat was recorded


def test_python_worker_cpu_counts_task_cpu(spark):
    def burn(pdf: pd.DataFrame) -> pd.DataFrame:
        import time

        t0 = time.process_time()
        while time.process_time() - t0 < 0.5:
            pass
        return pdf

    before = python_worker_cpu(spark)
    spark.range(1).groupBy("id").applyInPandas(burn, "id long").collect()
    assert python_worker_cpu(spark) - before >= 0.45


def test_workers_import_the_package_from_any_working_directory(tmp_path):
    """A driver that imports the package through ``sys.path`` and runs
    outside the repository root still gets working Python tasks: the
    daemon module and the package's kernels import on the workers."""
    root = Path(tastytrade_sdk_spark.__file__).resolve().parent.parent
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(root)!r})
        from tastytrade_sdk_spark.llmops.multimodal import extract_features
        from tastytrade_sdk_spark.session import get_spark

        spark = get_spark("any_cwd", cpus=1)
        print(spark.sparkContext.parallelize([1, 2, 3]).map(lambda x: x + 1).collect())
        df = spark.createDataFrame([(1, b"ab"), (2, b"cd")], "doc_id long, payload binary")
        print(extract_features(df, n_features=4).count())
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    run = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-4:] == ["[2,", "3,", "4]", "2"]
