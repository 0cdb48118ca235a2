"""Preloading PySpark worker daemon (``spark.python.daemon.module``).

The stock ``pyspark.daemon`` forks workers that import pandas / pyarrow /
this package on first use — ~0.6 s of module imports per fresh worker
(measured with ``-X importtime``), paid INSIDE the first task wave of
every new session and stretched 2-3x by 32 workers importing the same
files concurrently: the first full extraction stage of a session ran
9.0 s wall vs 1.6 s warm purely from cold-worker bootstrap (event-log
metrics: ``time to run Python workers`` 232 s cold vs 34 s warm for the
identical stage).

Importing the heavy modules in the daemon BEFORE it forks lets every
worker inherit them through copy-on-write: fork stays cheap, and the
first task a worker runs starts executing user code immediately. This is
the standard preload-fork pattern (gunicorn ``--preload``, uWSGI lazy
apps off) applied through Spark's public ``spark.python.daemon.module``
hook. ``session.get_spark`` always sets it, and always builds a
``local[...]`` master, so the daemon runs only in local mode, where the
Python workers see this package on the driver's ``PYTHONPATH``. A cluster
deployment that sets the same conf must ship the package to every
executor (``spark-submit --py-files``): the executor's Python cannot
start the daemon module otherwise, and every Python task fails.

The preload is best-effort: any import failure degrades to exactly the
stock daemon behaviour (workers import lazily as before) rather than
breaking Python task execution.
"""

from __future__ import annotations

try:  # pragma: no cover - exercised via Spark worker forks
    # Ordered roughly by import cost; each also pulls its dependency
    # closure (numpy, pyarrow.pandas_compat, the ref rule tables, ...).
    import pyspark.worker  # noqa: F401
    import blarify_spark.functions.udfs  # noqa: F401
    import blarify_spark.ref.html_extract  # noqa: F401
    import blarify_spark.ref.triples  # noqa: F401
    import blarify_spark.corpus  # noqa: F401
except Exception:  # noqa: BLE001 - never let preload break the daemon
    pass

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
