"""SparkSession builder with the engine's scale-oriented defaults."""

from __future__ import annotations

import os
import warnings
from collections.abc import Mapping

from pyspark.sql import SparkSession

_SPLIT_ENV = "SPARK_GRAFT_MAX_PARTITION_BYTES"


def split_default_warning(master: str,
                          env: Mapping[str, str]) -> str | None:
    """The warning a session on ``master`` should log about the 16 MB
    input-split default, or None. The default suits the local testdata
    (few big row groups per file); on a cluster of many multi-block
    files it multiplies scan tasks, so a non-local master without an
    explicit ``SPARK_GRAFT_MAX_PARTITION_BYTES`` is warned."""
    if master == "local" or master.startswith("local[") or _SPLIT_ENV in env:
        return None
    return (f"master {master!r} is not local and {_SPLIT_ENV} is unset: "
            "input splits default to 16 MB, sized for local single-file "
            "inputs; on a cluster set it to 128 MB - 1 GB")


def build_session(app_name: str = "documentai_spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Defaults chosen for the 100 TB design point, valid in local mode too:

    - AQE on (runtime coalescing + skew-join splitting).
    - Arrow enabled with a bounded records-per-batch so pandas-UDF batches
      stay memory-safe on very long turns (10^5-char texts).
    - shuffle partitions sized to cores in local mode; on a real cluster
      set ~2-3x total cores via ``shuffle_partitions``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    master = master or os.environ.get("SPARK_MASTER")
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # PYSPARK_GATEWAY_PORT present == spark-submit already launched
        # the JVM with its own --master; NEVER override it (the scaling
        # protocol runs the identical job at two cluster sizes via
        # --master alone). Plain-python launches pick a local default.
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_SHUFFLE_PARTITIONS")
        if env_sp:  # scaling-protocol runs pin this across cluster sizes
            shuffle_partitions = int(env_sp)
        elif master and "[" in master:
            n = master[master.find("[") + 1:master.find("]")]
            shuffle_partitions = int(n) if n.isdigit() else 200
        else:
            shuffle_partitions = 200
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    b = (b
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
         # r9: default input splits sized for the local testdata shape —
         # single files with few row groups, where 128 MB splits yield
         # 1-2 scan tasks and starve the other cores; 16 MB splits let
         # a 6-row-group 126 MB file scan 6-wide (splits can't go finer
         # than row groups, so smaller costs nothing). On a real
         # cluster with many multi-block files, set the env to 128 MB -
         # 1 GB (guide §6) — the knob is deployment config, not code.
         .config("spark.sql.files.maxPartitionBytes",
                 os.environ.get(_SPLIT_ENV, "16777216"))
         .config("spark.driver.memory",
                 os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
         .config("spark.sql.session.timeZone", "UTC"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # the master is only known here when spark-submit chose it
    msg = split_default_warning(spark.sparkContext.master, os.environ)
    if msg:
        warnings.warn(msg, stacklevel=2)
    return spark


def warm_workers(spark: SparkSession, cpus: int) -> None:
    """Warm the JVM and every python worker off the measurement clock.

    The documented bench protocol for this host (CLAUDE.md): session
    start ~8 s, python workers ~1 s each on first UDF — unwarmed, the
    first Python-heavy query pays multi-second worker spin-up on its own
    clock. One range-sum touches JVM codegen; one pandas UDF over
    ``cpus * 4`` single-row tasks forces every worker to start AND
    import numpy/pandas plus the quality_vec LUT tables. Shared by
    bench.py / tools/bench_sf1.py / tools/bench_prepare_sf1.py so the
    warm-up can never drift between harnesses.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def _force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    _force(spark.range(1000000).selectExpr("sum(id) as s"))

    @pandas_udf("double")
    def _warm(v):
        from documentai_spark.operators import quality_vec  # noqa: F401
        return v * 1.0

    _force(spark.range(cpus * 4).repartition(cpus * 4)
                .select(_warm(F.col("id").cast("double"))))
