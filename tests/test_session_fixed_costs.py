"""Per-run fixed costs the engine session and package remove: a capped
tiny-file listing scanned in one wave of tasks, no call-site capture per
Column call, and no re-read of every unchanged zip on the Python worker
path before each task."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

import unstract_spark
from unstract_spark.sources.catalog import FilePattern, list_files


def test_builder_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def _stage_tasks(spark, action) -> list[int]:
    """The task count of every stage the jobs of `action()` ran."""
    sc = spark.sparkContext
    sc.setJobGroup("stage_tasks", "stage task counts")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    tracker = sc.statusTracker()
    stages = [tracker.getStageInfo(s) for j in tracker.getJobIdsForGroup("stage_tasks") for s in tracker.getJobInfo(j).stageIds]
    return [st.numTasks for st in stages if st is not None]


def test_capped_listing_scans_in_one_wave(spark, tmp_path):
    # 300 files of a few bytes: the 4 MB open cost alone packs them into 10 tasks
    for i in range(300):
        (tmp_path / f"f{i:03d}.txt").write_text(f"doc {i}")
    slots = spark.sparkContext.defaultParallelism
    listing = list_files(spark, str(tmp_path), FilePattern(max_files=1000))
    counts = []
    tasks = _stage_tasks(spark, lambda: counts.append(listing.count()))
    assert counts == [300]
    assert tasks and max(tasks) <= slots, tasks
    # only the listing is capped: a plain scan keeps Spark's splits
    assert spark.read.format("binaryFile").load(str(tmp_path)).rdd.getNumPartitions() > slots


def test_worker_keeps_unchanged_zip_directories(spark):
    """Every task's `importlib.invalidate_caches()` (PySpark's worker calls
    it before the UDF) reads no unchanged archive once a worker has
    imported the package. The probe refers to `unstract_spark`, so
    unpickling it imports the package in the worker, as every engine UDF
    does. Workers are reused round-robin: run one-task jobs until a task
    lands on a worker that ran the probe before."""

    def probe(batches):
        wrapped = zipimport.zipimporter.invalidate_caches.__module__ == unstract_spark.__name__
        seen = getattr(sys, "_zip_probe_seen", False)
        sys._zip_probe_seen = True
        read, calls = zipimport._read_directory, []
        zipimport._read_directory = lambda archive: calls.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "seen": [seen], "wrapped": [wrapped], "reads": [len(calls)]})

    frame = spark.range(1, numPartitions=1)
    schema = "pid long, seen boolean, wrapped boolean, reads int"
    rows = []
    for _ in range(12):
        rows += frame.mapInPandas(probe, schema).collect()
        if rows[-1].seen:
            break
    assert all(r.wrapped for r in rows), rows
    repeat = rows[-1]
    assert repeat.seen and repeat.reads == 0, rows


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


def test_changed_zip_is_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zip_probe_mod.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    monkeypatch.delitem(sys.modules, "zip_probe_mod", raising=False)
    monkeypatch.delitem(sys.modules, "zip_probe_new", raising=False)
    assert importlib.import_module("zip_probe_mod").VALUE == 1

    unstract_spark._keep_unchanged_zip_directories()
    read, calls = zipimport._read_directory, []
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: calls.append(a) or read(a))
    importlib.invalidate_caches()  # the first wrapped call reads and remembers
    calls.clear()
    importlib.invalidate_caches()
    assert str(archive) not in calls

    st = archive.stat()
    _write_zip(archive, {"zip_probe_mod.py": "VALUE = 22\n", "zip_probe_new.py": "NEW = True\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert calls.count(str(archive)) == 1
    del sys.modules["zip_probe_mod"]
    assert importlib.import_module("zip_probe_mod").VALUE == 22
    assert importlib.import_module("zip_probe_new").NEW
