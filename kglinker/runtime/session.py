"""SparkSession factory for the kglinker engine.

Replaces the reference's process-resident state (POSIX-shm KB daemon,
``/root/reference/SharedKB/var2/main.c:352-381``; lazily loaded automaton,
``/root/reference/ner_cz.py:1498-1510``) with Spark's executor lifecycle:
broadcast variables live for the whole application, so the automaton/KB are
loaded once per executor — the Spark-native analogue of the reference's
"daemon mode" (``ner_cz.py:1718-1737``).

Scale notes (100 TB / 1000 executors):
- AQE on: runtime coalescing + skew-join splitting backstops the explicit
  salting done in :mod:`kglinker.runtime.partitioning`.
- Arrow on: every Python-side operator in this engine takes Arrow batches
  (``mapInArrow``, ``mapInPandas``, ``applyInPandasWithState``; never
  per-row Python), so Arrow transfer is the hot path.
- ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real
  cluster AQE coalesces from a deliberately high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "kglinker",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cores=None`` → ``$SPARK_GRAFT_CPUS`` or all local cores. On a real
    cluster the master/deploy settings come from spark-submit; everything
    set here is safe to keep.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * int(cores), 8)
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one Arrow batch ≈ dozens of conversations; keeps pandas-UDF peak
        # memory bounded at 100 TB scale while amortizing Python dispatch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        b = b.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
