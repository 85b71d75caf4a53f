"""pipeline.quiet_spark_archives: inside a Spark task it stops the
per-task re-read of Spark's own zip archives, once per worker, and
leaves everything else alone."""

import sys
import zipfile
import zipimport

from pyspark import cloudpickle

from tesseract_spark.pipeline import quiet_spark_archives

# the task bodies below use this module's helpers, which the Python
# workers cannot import by name
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _spark_archive_importers():
    """The zipimporters of this worker outside the SparkFiles root
    (pyspark.zip and its subpackages, py4j, the Spark jar)."""
    import os

    from pyspark import SparkFiles

    user_files = os.path.join(SparkFiles.getRootDirectory(), "")
    return [
        imp
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter)
        and not imp.archive.startswith(user_files)
    ]


def _one_row_per_task(spark, body, schema):
    n = spark.sparkContext.defaultParallelism
    return spark.range(n).repartition(n).mapInPandas(body, schema).collect()


def test_invalidate_caches_keeps_spark_archive_directories(spark):
    def body(batches):
        import importlib

        import pandas as pd

        quiet_spark_archives()
        importers = _spark_archive_importers()
        files = [imp._files for imp in importers]
        importlib.invalidate_caches()
        same = all(imp._files is f for imp, f in zip(importers, files))
        for _ in batches:
            pass
        yield pd.DataFrame({"n": [len(importers)], "same": [same]})

    rows = _one_row_per_task(spark, body, "n long, same boolean")
    assert rows and all(r.n > 0 for r in rows)
    assert all(r.same for r in rows)


def test_second_job_on_a_reused_worker_starts_quiet(spark):
    def body(batches):
        import os

        import pandas as pd

        from tesseract_spark.pipeline import _QuietZipImporter

        quiet = all(
            type(imp) is _QuietZipImporter for imp in _spark_archive_importers()
        )
        quiet_spark_archives()
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "quiet": [quiet]})

    first = _one_row_per_task(spark, body, "pid long, quiet boolean")
    second = _one_row_per_task(spark, body, "pid long, quiet boolean")
    seen = {r.pid for r in first}
    reused = [r for r in second if r.pid in seen]
    assert reused, "no worker was reused between two back-to-back jobs"
    assert all(r.quiet for r in reused)


def test_noop_on_the_driver(tmp_path):
    archive = str(tmp_path / "mod.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mod.py", "")
    importer = zipimport.zipimporter(archive)
    sys.path_importer_cache[archive] = importer
    try:
        before = {k: type(v) for k, v in sys.path_importer_cache.items()}
        quiet_spark_archives()
        assert {k: type(v) for k, v in sys.path_importer_cache.items()} == before
        assert type(importer) is zipimport.zipimporter
    finally:
        del sys.path_importer_cache[archive]


def test_archives_under_the_sparkfiles_root_keep_invalidation(spark):
    def body(batches):
        import importlib
        import os
        import uuid

        import pandas as pd
        from pyspark import SparkFiles

        archive = os.path.join(
            SparkFiles.getRootDirectory(), f"user-{uuid.uuid4().hex}.zip"
        )
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("user_mod.py", "")
        importer = zipimport.zipimporter(archive)
        sys.path_importer_cache[archive] = importer
        try:
            quiet_spark_archives()
            stock = type(importer) is zipimport.zipimporter
            files = importer._files
            importlib.invalidate_caches()
            reread = importer._files is not files
        finally:
            del sys.path_importer_cache[archive]
            os.remove(archive)
        for _ in batches:
            pass
        yield pd.DataFrame({"stock": [stock], "reread": [reread]})

    rows = _one_row_per_task(spark, body, "stock boolean, reread boolean")
    assert rows and all(r.stock and r.reread for r in rows)
