"""SparkSession factory tuned for this engine.

Local-mode defaults match the sandbox (single JVM, N threads); the same
conf block is what we'd submit cluster-side minus master/memory. AQE is on
so skewed joins re-plan at runtime (SURVEY.md §4); shuffle partitions are
sized ~cores in local mode (not the 200 default, which just fragments
sf-scale inputs into empty tasks).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Make `blarify_spark` importable inside Python workers of ANY
    session — including one created by an external driver whose JVM
    started without this repo on PYTHONPATH (workers inherit the JVM's
    env, so os.environ tweaks after startup don't reach them).

    Ships a zip of the package via addPyFile — the cluster-equivalent of
    `spark-submit --py-files` (BASELINE.json north_rule), idempotent per
    session.
    """
    sc = spark.sparkContext
    marker = "_blarify_spark_shipped"
    if getattr(sc, marker, False):
        return
    import hashlib
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources: list[tuple[str, str]] = []
    digest = hashlib.md5()
    for root, _dirs, files in sorted(os.walk(pkg_dir)):
        if "__pycache__" in root:
            continue
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                rel = os.path.join(
                    "blarify_spark", os.path.relpath(full, pkg_dir)
                )
                sources.append((full, rel))
                with open(full, "rb") as fh:
                    digest.update(rel.encode())
                    digest.update(fh.read())
    # content-addressed name: a stale cached zip from an earlier code
    # version can never be shipped (workers would import outdated modules
    # while the driver plans against the new ones)
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"),
        f"blarify_spark_pyfiles_{digest.hexdigest()[:12]}.zip",
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel in sources:
                zf.write(full, rel)
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    setattr(sc, marker, True)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap for local mode: half of the host's memory, capped at
    16g. In local mode the driver JVM is also every executor, and its
    resident size runs well past -Xmx (metaspace, direct buffers, code
    cache); the other half is left to that overhead and to the Python
    workers. 16g when MemTotal cannot be read."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{max(1024, min(16384, total_mb // 2))}m"
    except OSError:
        pass
    return "16g"


def get_spark(
    cores: int | None = None,
    app_name: str = "blarify_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local parallelism; default $SPARK_GRAFT_CPUS, else the CPUs
    this process may run on.
    shuffle_partitions: default = cores (local mode has no network
    shuffle, more partitions only add task overhead).
    """
    if cores is None:
        cores = int(
            os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        )
    if shuffle_partitions is None:
        shuffle_partitions = cores

    # Python workers (pandas-UDF executors) must import this package; in
    # cluster mode this is `spark-submit --py-files`, locally PYTHONPATH.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{pythonpath}" if pythonpath else repo_root
        )

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE rewrite of planned sort-merge joins to shuffled-hash at
        # runtime when every post-shuffle partition is under 64 MB
        # (guide §3.1): saves both sort passes, and is scale-safe because
        # the bound is PER-PARTITION, independent of total input size.
        # (A/B at sf0.1 measured neutral — the headline joins are mostly
        # broadcast there — but at shuffle-bound scale the sorts are
        # real; static planning is untouched, so plan-pinned tests are
        # unaffected.)
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "67108864"
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Preload-fork worker daemon: workers inherit pandas/pyarrow/this
        # package from the daemon via copy-on-write instead of importing
        # them per fresh worker (~0.6 s each, concurrency-stretched to
        # seconds of wall on a new session's first Python stage — see
        # daemon_preload.py). The master is always local, so the daemon
        # runs where this package is importable.
        .config("spark.python.daemon.module", "blarify_spark.daemon_preload")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
