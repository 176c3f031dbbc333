"""The Python worker's environment: the zip importers the kernel releases
once per task (core.api.release_zip_importers) and the PYTHONPATH
build_session ships to local workers (sources.session.worker_pythonpath)."""

import importlib
import os
import sys
import zipfile
import zipimport

from pdftext_spark.core.api import release_zip_importers
from pdftext_spark.sources.session import worker_pythonpath


def _zip_importers():
    return [p for p, imp in sys.path_importer_cache.items()
            if isinstance(imp, zipimport.zipimporter)]


def test_release_zip_importers_keeps_zip_imports_working(tmp_path):
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zprobe_pkg/__init__.py", "")
        zf.writestr("zprobe_pkg/sub/__init__.py", "")
        zf.writestr("zprobe_pkg/sub/first.py", "VALUE = 1\n")
        zf.writestr("zprobe_pkg/sub/second.py", "VALUE = 2\n")
    saved_path = list(sys.path)
    sys.path.insert(0, archive)
    try:
        first = importlib.import_module("zprobe_pkg.sub.first")
        assert first.VALUE == 1
        assert any(p.startswith(archive) for p in _zip_importers())
        release_zip_importers()
        assert _zip_importers() == []
        # what pyspark's worker runs before every task
        importlib.invalidate_caches()
        second = importlib.import_module("zprobe_pkg.sub.second")
        assert second.VALUE == 2
        assert second.__file__.startswith(archive)
    finally:
        sys.path[:] = saved_path
        for name in [m for m in sys.modules if m.split(".")[0] == "zprobe_pkg"]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[p]


def test_worker_caches_no_zip_importers_after_release(spark):
    """A reused Spark worker keeps Spark's archives on sys.path; after
    the release its per-task invalidate_caches() has nothing to reload."""
    def run(batches):
        import sys
        import zipimport

        import pyarrow as pa

        from pdftext_spark.core.api import release_zip_importers
        release_zip_importers()
        for _ in batches:
            pass
        n = sum(isinstance(imp, zipimport.zipimporter)
                for imp in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())],
                                         names=["n"])

    rows = spark.range(0, 8, 1, 4).mapInArrow(run, "n long").collect()
    assert [r.n for r in rows] == [0, 0, 0, 0]


def test_worker_pythonpath_only_for_local_masters(monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.setenv("PYTHONPATH", "other" + os.sep + "dir")
    for master in ("local", "local[4]", "local[*]", "local-cluster[2,1,1024]"):
        assert worker_pythonpath(master).split(os.pathsep) == [
            root, "other" + os.sep + "dir"]
    monkeypatch.delenv("PYTHONPATH")
    assert worker_pythonpath("local[2]") == root
    # a cluster's executors never see the driver's paths; the package
    # ships with --py-files / spark.submit.pyFiles there
    for master in ("yarn", "spark://host:7077", "k8s://https://host:6443",
                   "mesos://host:5050"):
        assert worker_pythonpath(master) is None
