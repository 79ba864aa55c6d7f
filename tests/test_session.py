"""The fixed cost a session's queries pay: the warm Python worker daemon,
its zipimport guard, the daemon selection, and schema-once entry reads."""

from __future__ import annotations

import importlib
import os
import shutil
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.test_ann import SF
from valar_spark import worker_daemon
from valar_spark.session import SPARK_DAEMON, WARM_DAEMON, python_daemon_module

#: Spark jobs of each curation query, run in the curate_docs pass order
#: on a cold session cache at sf0.001
CURATION_JOB_CEILINGS = {
    "dedup_exact_documents": 5,
    "jaccard_pairs_documents": 14,
    "winnow_pairs_documents": 28,
    "containment_pairs_documents": 17,
}


def _jobs_of(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"test-session-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_zip(path, modules: dict[str, str]) -> None:
    """Write a fresh archive (a new inode) in place of ``path``."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    """Two ``importlib.invalidate_caches()`` calls over an unchanged
    archive re-read its directory 0 times; after the archive is rewritten
    the next call re-reads it, and its new module imports."""
    monkeypatch.setattr(zipimport, "_read_directory",
                        zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_READ_AT", {})
    worker_daemon.guard_zip_directories()

    tag = uuid.uuid4().hex
    one, two = f"zg_one_{tag}", f"zg_two_{tag}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {f"{one}.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(one).X == 1

        reads = []
        guarded = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return guarded(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {f"{one}.py": "X = 1\n", f"{two}.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module(two).Y == 2
    finally:
        sys.modules.pop(one, None)
        sys.modules.pop(two, None)
        sys.path_importer_cache.pop(archive, None)


@pytest.mark.parametrize("master,cwd,pythonpath,site_dirs,daemon", [
    # the working directory, which python -m puts first
    ("local[4]", "/w/repo", "", [], WARM_DAEMON),
    # a PYTHONPATH entry, absolute or relative to the working directory
    ("local[*]", "/w/other", "/a:/w/repo", [], WARM_DAEMON),
    ("local[2]", "/w/other", "../repo", [], WARM_DAEMON),
    # an installed package
    ("local[4]", "/w/other", "", ["/py/site-packages", "/w/repo/"],
     WARM_DAEMON),
    # a master whose workers are not this host's local processes
    ("spark://h:7077", "/w/repo", "/w/repo", [], SPARK_DAEMON),
    ("local-cluster[2,1,1024]", "/w/repo", "", [], SPARK_DAEMON),
    # the package is not importable from the worker path
    ("local[4]", "/w/other", "/a:repo", ["/py/site-packages"], SPARK_DAEMON),
])
def test_python_daemon_module_selection(master, cwd, pythonpath, site_dirs,
                                        daemon):
    assert python_daemon_module(master, "/w/repo", cwd, pythonpath,
                                site_dirs) == daemon


def test_py_files_zip_keeps_the_spark_daemon():
    assert python_daemon_module("local[4]", "/w/deps.zip", "/w", "/w",
                                ["/py/site-packages"]) == SPARK_DAEMON


def test_udfs_run_on_the_package_daemon(spark):
    @F.pandas_udf("string")
    def main_module(s: pd.Series) -> pd.Series:
        import sys

        return s.map(lambda _: sys.modules["__main__"].__spec__.name)

    got = (spark.range(8).repartition(4)
           .select(main_module(F.col("id").cast("string")).alias("m"))
           .distinct().collect())
    assert [r.m for r in got] == [WARM_DAEMON]


def test_read_infers_each_schema_once(spark):
    """A second ``_read`` of a table starts no Spark job and gives the
    inferred read's schema and rows."""
    import __spark_entry__ as e

    path = f"{SF}/events.parquet"
    _, first_jobs = _jobs_of(spark, lambda: e._read(spark, SF, "events"))
    again, jobs = _jobs_of(spark, lambda: e._read(spark, SF, "events"))
    assert jobs == 0, f"second read ran {jobs} jobs (first: {first_jobs})"
    inferred = spark.read.parquet(path)
    assert again.schema == inferred.schema
    assert again.exceptAll(inferred).count() == 0
    assert inferred.exceptAll(again).count() == 0


def test_curation_job_ceilings(spark, tmp_path):
    """The curate_docs queries on a cold session cache (a table directory
    no earlier call has read) run no more jobs than pinned."""
    import __spark_entry__ as e

    shutil.copy(f"{SF}/documents.parquet", tmp_path / "documents.parquet")
    qs = e.queries()
    jobs = {q: _jobs_of(spark, lambda q=q: qs[q](spark, str(tmp_path))
                        .count())[1]
            for q in CURATION_JOB_CEILINGS}
    over = {q: n for q, n in jobs.items() if n > CURATION_JOB_CEILINGS[q]}
    assert not over, f"jobs {jobs} over the ceilings {CURATION_JOB_CEILINGS}"
