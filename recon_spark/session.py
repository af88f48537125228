"""SparkSession factory with scale-oriented defaults.

Single place where every entrypoint (tests, bench, __spark_entry__) builds
its session so the config story is consistent: AQE on (runtime re-plan +
skew-join handling), Arrow on (vectorized pandas UDF transport), shuffle
partitions sized to the local core count (on a real cluster this would be
2-3x total executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "recon_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or return the running) SparkSession.

    For ``local``/``local[...]`` masters the Python workers fork from
    ``recon_spark.daemon`` instead of ``pyspark.daemon``
    (``spark.python.daemon.module``). Each Python task calls
    ``importlib.invalidate_caches()``, and on CPython < 3.12 every
    ``zipimporter`` then re-reads its whole archive, ``pyspark.zip``
    included: about 300 ms of worker CPU per task, almost none of it UDF
    work. The daemon makes that re-read lazy, as CPython 3.12 does
    (gh-103200; the daemon leaves ``zipimport`` alone there), and
    freezes the pre-imported modules before forking. Local masters only:
    there the daemon runs on the driver's host, so the package's parent
    directory goes on ``spark.executorEnv.PYTHONPATH`` (ahead of the
    caller's own value) for ``python -m recon_spark.daemon`` to find it.
    Other masters keep Spark's default daemon, since their executors may
    not have the package installed.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpu count; else 2x a guessed core count
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        if inner == "*":
            shuffle_partitions = os.cpu_count() or 8
        elif inner.isdigit():
            shuffle_partitions = int(inner)
        else:
            shuffle_partitions = 64

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.warehouse.dir",
            # per-process default: a fixed shared path collides across
            # concurrent runs/users and breaks reruns after a crash
            # (managed-table location already exists)
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                f"/tmp/recon_spark_warehouse_{os.getuid()}_{os.getpid()}",
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    conf = dict(extra_conf or {})
    if master == "local" or master.startswith("local["):
        conf.setdefault("spark.python.daemon.module", "recon_spark.daemon")
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (_PKG_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
