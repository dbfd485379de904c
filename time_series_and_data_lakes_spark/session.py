"""SparkSession factory with engine defaults.

The reference's timestamps are all UTC epoch-millis
(``random-data-generator/random_data_generator.py:33``), so the session is
pinned to UTC. AQE is on so skewed keys and small shuffles re-plan at runtime;
at 100 TB these settings are what make the declared plans survive — partition
pruning, broadcast joins, and skew splitting are all Catalyst/AQE features we
rely on rather than re-implement.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tsdl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults target the test harness (``local[$SPARK_GRAFT_CPUS]``); on a real
    cluster pass ``master=None`` with an external master URL already set, and
    size ``shuffle_partitions`` to ~2-3x total executor cores.
    """
    raw_cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        cpus = int(raw_cpus)
    except ValueError:
        cpus = 0
    if cpus <= 0:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {raw_cpus!r}"
        )
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor assumes bytes ~ work; the engine's window/
        # fold stages are compute-dense per byte (a 3 MB sensor exchange is
        # seconds of window work), and the default 1m floor collapsed them
        # to 1-3 tasks on MB-scale inputs (r10: -24% on the window-heavy
        # bench subset at 64k, results conf-independent). r11 re-adjudicated
        # the value on clean matched pairs (bench.py --matched-pairs, 4
        # alternating A/B runs per query per arm): 64k's extra tiny tasks
        # cost the multi-join/doc-agg family real time (tpch_q21 0.88 s at
        # 256k vs 1.42-1.50 s at 64k — 4/4 pairs; text_repetition ~flat)
        # while 256k keeps the window-family wins 64k bought (g5/q1/lttb/
        # semdedup/f3 all still beat the 1m arm). 256k is the measured
        # optimum of the global trade. Inert at cluster scale, where
        # post-shuffle partitions are 100 MB-1 GB (guide-sized via
        # spark.sql.adaptive.advisoryPartitionSizeInBytes) and the
        # parallelismFirst cap is shuffle.partitions anyway. Byte-bound
        # workloads override it through ``extra_conf=``; it is a runtime conf,
        # so ``spark.conf.set`` (and ``bench.py --matched-pairs``) can also
        # change it on a live session.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas interchange (toPandas, pandas UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver compares against DuckDB; keep timestamp semantics plain.
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("TSDL_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
