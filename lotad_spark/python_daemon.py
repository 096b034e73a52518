"""Python worker daemon with the heavyweight UDF stack pre-imported.

Spark forks one Python worker per concurrently-running Python-stage
task. A drift run (``compare_all``, ``report()``, the wizard) has no
Python stage and never starts this daemon; the pipeline's and the
multimodal sources' ``mapInPandas`` / pandas-UDF stages do. With the
stock ``pyspark.daemon`` every FRESH fork pays the pandas/pyarrow import
(~0.6 s single-threaded) inside the task's critical path — and a burst
of concurrent queries (any registry sweep section with overlapping Arrow
stages) forks dozens of workers at once, so the imports contend for CPU
and stretch to many seconds each: thread dumps during the stall show
executor tasks parked in ``writeNextBatchToArrowStream`` waiting on
brand-new workers (measured r18, when compare_all still ran a Python
stage per table: 8 tables swung 10-99 s run-to-run; with the
pre-imported daemon they held ~10 s).

Importing the stack HERE — in the daemon process, before ``manager()``
forks anything — puts the modules in the fork image: child workers
inherit them copy-on-write, so a fresh worker costs a fork, not an
import. Worker reuse (``spark.python.worker.reuse``) still amortizes
the fork; this fixes the cold-burst path reuse cannot cover. The
module is wired in by ``session.get_spark`` via
``spark.python.daemon.module`` (with the repo root exported on
PYTHONPATH so the daemon can import it in any launch mode); on
platforms without the daemon (Windows) Spark ignores the conf.
"""

import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyarrow.compute  # noqa: F401

# The serializer stack the Arrow UDF runner itself imports on first use.
import pyspark.sql.pandas.serializers  # noqa: F401
import pyspark.sql.pandas.types  # noqa: F401

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
