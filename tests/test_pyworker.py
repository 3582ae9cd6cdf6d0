"""The Python-worker daemon (graph_db_clustering_spark/pyworker.py): a
zipimporter re-reads its archive's directory only when the archive
changed, workers fork with that in place, zips shipped mid-session still
import, and the driver's interpreter is left as it is."""

import importlib.util
import sys
import uuid
import zipfile
import zipimport

import pytest

from graph_db_clustering_spark import pyworker


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12's invalidate_caches reads lazily"
)
def test_stamped_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    monkeypatch.setattr(pyworker, "_directories", {})
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("old_mod.py", "VALUE = 1\n")
    importer = zipimport.zipimporter(str(archive))
    reads = []
    stdlib_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or stdlib_read(a)
    )

    pyworker.invalidate_caches_if_changed(importer)
    pyworker.invalidate_caches_if_changed(importer)
    assert len(reads) == 1
    # a second importer over the same unchanged archive reads nothing
    other = zipimport.zipimporter(str(archive))
    pyworker.invalidate_caches_if_changed(other)
    assert len(reads) == 1

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("old_mod.py", "VALUE = 1\n")
        z.writestr("new_mod.py", "VALUE = 2\n")
    assert importer.find_spec("new_mod") is None
    pyworker.invalidate_caches_if_changed(importer)
    assert len(reads) == 2
    spec = importer.find_spec("new_mod")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.VALUE == 2
    # the other importer takes the directory read at the new stamp
    pyworker.invalidate_caches_if_changed(other)
    assert len(reads) == 2 and other.find_spec("new_mod") is not None


def test_worker_task_invalidate_reads_no_zip_directory(spark):
    """What setup_spark_files does before every task costs no directory
    read in a worker forked from the daemon."""

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        stdlib_read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or stdlib_read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stdlib_read
        for pdf in batches:
            yield pd.DataFrame({"reads": [len(reads)] * len(pdf)})

    got = spark.range(4, numPartitions=2).mapInPandas(probe, "reads long").collect()
    assert [r.reads for r in got] == [0] * 4


def test_zip_added_mid_session_imports_in_next_task(spark, tmp_path):
    name = f"gdc_added_{uuid.uuid4().hex[:12]}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        import importlib

        import pandas as pd

        value = importlib.import_module(name).VALUE
        for pdf in batches:
            yield pd.DataFrame({"v": [value] * len(pdf)})

    got = spark.range(2, numPartitions=2).mapInPandas(use, "v long").collect()
    assert [r.v for r in got] == [42, 42]


def test_driver_interpreter_is_not_patched(spark):
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "graph_db_clustering_spark.pyworker"
    )
    assert zipimport.zipimporter.invalidate_caches is pyworker._stdlib_invalidate_caches
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
