"""SparkSession factory with the engine's frozen defaults."""

from __future__ import annotations

import os
import re
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession

# Top-level module beside ``__spark_entry__.py``; see ``get_spark``.
DAEMON_MODULE = "webextract_daemon"
OPEN_COST_BYTES = 1 << 20


def _lean_daemon_available(master: str) -> bool:
    """True for a ``local[...]`` master whose Python daemon, started in
    this process's cwd with this ``PYTHONPATH``, will find
    :data:`DAEMON_MODULE` in a plain directory."""
    if not re.fullmatch(r"local(\[.*\])?", master):
        return False
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    spec = PathFinder.find_spec(DAEMON_MODULE, [d for d in dirs if os.path.isdir(d)])
    return bool(spec and spec.origin and os.path.isfile(spec.origin))


def get_spark(
    app: str = "webextract",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a session tuned for this engine.

    ``local[N]`` in this sandbox; on a real cluster the same configs
    apply (AQE on, Arrow on, UTC). ``spark.sql.shuffle.partitions``
    defaults to the core count — not 200 — per partition-sizing rule.

    ``spark.sql.files.openCostInBytes`` is 1 MB, not Spark's 4 MB. A
    scan split is at least the open cost, so with 4 MB any input under
    about 4 MB × cores gets fewer splits than cores: the 9.6 MB,
    40-row-group file of the ``extract_heavy`` benchmark scanned as 3
    tasks on 4 cores (stage core-busy ratio 0.49, skew 1.82). At 1 MB it
    scans as 4 (0.77, 1.15), while many small files still pack into one
    split per core.

    For a ``local[...]`` master, ``spark.python.daemon.module`` is
    ``webextract_daemon``, which drops the spark-core jar (and Spark's
    ``pyspark.zip``/``py4j`` zips when the pip install covers them) from
    the worker path before starting PySpark's own daemon. PySpark's
    worker calls ``importlib.invalidate_caches()`` at the start of every
    task, which re-reads the directory of every zip/jar on the path:
    230–260 ms of CPU per call with Spark's path, under 1 ms without the
    archives (CPython 3.11, 4-core host). Python init time per traced
    extract job fell from 4.2 s to 2.4 s (``extract_heavy``) and from
    3.5 s to 1.8 s (``extract_small``). The module must sit outside the
    ``webextract`` package, whose ``__init__`` imports ``pyspark`` before
    the path could be pruned. It is set only when the daemon will find
    it in a plain directory (the cwd or ``PYTHONPATH``); otherwise
    Spark's stock daemon runs.

    Together, median pages/s over 10 benchmark pairs rose from 112 to
    173 (``extract_heavy``) and from 5,019 to 6,108 (``extract_small``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or int(cpus) if cpus.isdigit() else 32
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.files.openCostInBytes", str(OPEN_COST_BYTES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("WEBEXTRACT_DRIVER_MEM", "8g"))
    )
    if _lean_daemon_available(master):
        b = b.config("spark.python.daemon.module", DAEMON_MODULE)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
