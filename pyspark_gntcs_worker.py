"""Python worker entry point for the engine's Spark sessions.

``session.get_spark`` names this module as ``spark.python.worker.module``.
Spark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``). Workers import pyspark from
``pyspark.zip``, so ``sys.path_importer_cache`` holds one ``zipimporter`` per
pyspark subpackage, and on CPython 3.11 each one re-reads the archive's whole
directory (1328 entries) when invalidated: 110-340 ms per task on a 4-core
host, paid by every Python task the engine runs.

:func:`main` drops those finders before handing the task to
``pyspark.worker.main``, so the invalidation finds nothing to re-read. An
import that needs one again rebuilds it through ``sys.path_hooks`` from
``zipimport``'s directory cache; modules already imported are untouched.

The name must start with ``pyspark``: ``pyspark.daemon`` ignores any other
worker module.
"""

from __future__ import annotations

import sys
import zipimport

if __name__ != "__main__":
    # Imported once by the daemon, so forked workers share it. Not when run as
    # a script: runpy warns when the module it runs is already imported.
    from pyspark.worker import main as _worker_main


def main(infile, outfile) -> None:
    """Run one task; the daemon calls this once per task a worker is given."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    _worker_main(infile, outfile)


if __name__ == "__main__":
    # ``spark.python.use.daemon=false`` launches the worker module directly,
    # one process per task: hand over to Spark's own entry block.
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__")
