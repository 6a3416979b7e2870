"""Session helpers: the shipped package zip and the worker-side import hook
(``session.ensure_executor_package``, ``session.install_worker_zip_stamps``)."""

import os
import tempfile
import types
import zipfile

from video_etl_spark.session import ensure_executor_package


def _one_task(spark, fn, schema):
    """Run ``fn`` as one single-partition ``mapInPandas`` task."""
    return spark.range(1, numPartitions=1).mapInPandas(fn, schema).collect()[0]


def test_worker_invalidate_caches_skips_unchanged_zips(spark):
    """PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task; once the package is imported on a worker, a repeat call re-parses
    no unchanged archive."""
    ensure_executor_package(spark)

    def count_parses(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import video_etl_spark  # noqa: F401

        for _ in batches:
            pass
        real = zipimport._read_directory
        parses = []

        def counting(archive):
            parses[-1] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            for _ in range(2):
                parses.append(0)
                importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_zip = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame(
            {"n_zip": [n_zip], "first": [parses[0]], "second": [parses[1]]}
        )

    row = _one_task(spark, count_parses, "n_zip long, first long, second long")
    assert row.n_zip > 0, "no zip importer on the worker: the check is vacuous"
    assert row.second == 0, row


def test_worker_reloads_a_rewritten_zip(spark):
    """A zip rewritten between two ``invalidate_caches`` calls is re-read:
    the hook skips only archives whose (mtime, size) did not change."""
    ensure_executor_package(spark)

    def reload_module(batches):
        import importlib
        import os
        import shutil
        import sys
        import tempfile
        import zipfile
        import zipimport

        import pandas as pd

        import video_etl_spark  # noqa: F401

        for _ in batches:
            pass
        hooked = zipimport.zipimporter.invalidate_caches.__module__ != "zipimport"
        tmp = tempfile.mkdtemp()
        path = os.path.join(tmp, "probe.zip")

        def write(body):
            with zipfile.ZipFile(path, "w") as zf:
                zf.writestr("vetl_probe_m.py", body)

        write("VERSION = 1\n")
        sys.path.insert(0, path)
        try:
            import vetl_probe_m

            first = vetl_probe_m.VERSION
            importlib.invalidate_caches()  # stamps the new importer
            # a stale directory would read v2's first 12 bytes as the module
            write("# v2: a different size\nVERSION = 2\n")
            importlib.invalidate_caches()
            del sys.modules["vetl_probe_m"]
            import vetl_probe_m

            second = getattr(vetl_probe_m, "VERSION", None)
        finally:
            sys.path.remove(path)
            sys.modules.pop("vetl_probe_m", None)
            sys.path_importer_cache.pop(path, None)
            shutil.rmtree(tmp, ignore_errors=True)
        yield pd.DataFrame(
            {"hooked": [hooked], "first": [first], "second": [second]}
        )

    row = _one_task(
        spark, reload_module, "hooked boolean, first long, second long"
    )
    assert row.hooked, "the worker hook is not installed: the check is vacuous"
    assert (row.first, row.second) == (1, 2)


def test_driver_keeps_stdlib_zip_invalidation():
    import zipimport

    import video_etl_spark  # noqa: F401

    fn = zipimport.zipimporter.invalidate_caches
    assert (fn.__module__, fn.__qualname__) == (
        "zipimport",
        "zipimporter.invalidate_caches",
    )


def test_executor_package_zip_is_private():
    """Each SparkContext ships its own copy of the package from a private
    path, once; a fixed name in the shared temp dir could be replaced by
    another process before the executors fetch it."""
    shipped = []

    class FakeContext:
        def addPyFile(self, path):
            shipped.append(path)

    contexts = [FakeContext(), FakeContext()]
    for sc in contexts + contexts:
        ensure_executor_package(types.SimpleNamespace(sparkContext=sc))
    assert len(shipped) == 2
    shared = os.path.join(tempfile.gettempdir(), "video_etl_spark_pkg.zip")
    assert shared not in shipped
    assert shipped[0] != shipped[1]
    for path in shipped:
        assert os.path.basename(path) == "video_etl_spark_pkg.zip"
        with zipfile.ZipFile(path) as zf:
            assert "video_etl_spark/session.py" in zf.namelist()
