"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100 TB design point (see README):

* AQE on -- runtime shuffle coalescing + skew-join splitting.
* Arrow on with a bounded ``maxRecordsPerBatch`` so a pathological
  document cannot blow executor memory inside the canonize kernel.
* File listing on the driver up to ``_LISTING_PATHS`` paths.  A glob
  of more than 32 paths (Spark's default threshold) otherwise starts
  a parallel-listing Spark job while the DataFrame is built: for the
  96 ``.nq`` fixtures at ``local[4]``, building the frame took
  0.5-0.75 s with that job and under 0.1 s with driver listing.
* ``shuffle.partitions`` sized per run (tests pass 32 to match the
  local[32] harness; a real cluster would use 2-3x total cores).

Worker side, ``pin_archive_importers`` is the first call of every
Python function the package ships to executors (see its docstring).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

_LISTING_PATHS = 1024


def get_spark(
    app_name="rdf-canonize-spark",
    master=None,
    shuffle_partitions=None,
    extra_conf=None,
):
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(_LISTING_PATHS))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def _keep_directory():
    """``zipimporter.invalidate_caches`` stand-in: keep the directory
    read when the importer was made."""


def pin_archive_importers():
    """Stop ``importlib.invalidate_caches()`` from re-reading the
    archives on this Python worker's ``sys.path``.

    PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every task, also
    in a reused worker, and on Python 3.11 each ``zipimporter`` in
    ``sys.path_importer_cache`` then reads its archive's whole central
    directory again: ``pyspark.zip`` once per imported sub-package and
    the ``spark-core`` jar (5,359 entries, no ``.py`` file) twice.
    Spark's archives do not change while an executor runs, so the
    directory each importer read first stays exact.  Directory finders
    are still invalidated, and an archive added to ``sys.path`` later
    gets a fresh, unpinned importer.  Only the tasks after the first
    in a worker gain, so this relies on ``spark.python.worker.reuse``
    (on by default)."""
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches = _keep_directory
