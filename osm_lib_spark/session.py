"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[N]``; the same configs are what we
would ship in spark-defaults for a multi-executor cluster (AQE on,
skew-join splitting on, Arrow on, shuffle partitions sized to cores).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def _default_driver_memory() -> str:
    """60% of the host's MemTotal, capped at 48g (a larger heap than the
    host can back gets the JVM OOM-killed); 48g when /proc/meminfo is
    unreadable."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{min(int(kb * 0.6) // 1024, 48 * 1024)}m"


def get_spark(
    app_name: str = "osm_lib_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the core count — at cluster scale
    this is set to ~2-3x total executor cores instead; AQE coalescing
    trims it back at runtime either way.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.index("[") + 1 : -1] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE: canChangeCachedPlanOutputPartitioning was tried (lets
        # AQE coalesce tiny persisted frames, e.g. knn round results)
        # and REVERTED: it also re-plans the big cached entity tables
        # and cost the headline extract batch ~1s (A/B: 6.73 vs 5.64
        # median at sf0.1). The knn small-batch path collects instead
        # of persisting, so the conf no longer buys anything.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver rows → a DataFrame planned as a ``LocalRelation``.

    Every frame the engine builds from driver-side rows goes through
    here. ``spark.createDataFrame(list, ddl)`` plans a ``LogicalRDD``
    with no size stats: each action that scans it runs
    ``defaultParallelism`` Python-worker tasks (~0.08 CPU-s each on a
    4 vCPU host, whatever the row count), and joins against it need a
    broadcast hint. Built from an Arrow table, the frame is a
    ``LocalRelation``: no Python task, and stats from its row count
    that let the planner broadcast it under
    ``spark.sql.autoBroadcastJoinThreshold`` on its own.

    ``rows`` are tuples in ``ddl`` column order (structs as tuples or
    dicts), or an Arrow table whose columns are in that order.
    """
    schema = DataType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        table = rows.rename_columns(arrow_schema.names).cast(arrow_schema)
    else:
        cols = list(zip(*rows)) or [()] * len(arrow_schema)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, schema)


def broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes (≤ 0: disabled)."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def collect_bounded(df: DataFrame, row_bytes: int) -> pa.Table | None:
    """``df`` as one Arrow table on the driver when it fits under
    ``spark.sql.autoBroadcastJoinThreshold``, else ``None``.

    The size rule is a row count: at most ``threshold // row_bytes``
    rows. One job collects ``max_rows + 1`` rows, so an input over the
    bound is never pulled whole; a threshold ≤ 0 runs nothing. The
    graph fixpoints and residual IVF-PQ training choose between their
    driver kernels and their Spark loops by it. A caller whose fallback
    reuses ``df``
    passes it lazily checkpointed, so the collect's job materializes it
    for the fallback instead of computing it twice.
    """
    threshold = broadcast_threshold(df.sparkSession)
    if threshold <= 0:
        return None
    max_rows = threshold // row_bytes
    table = df.limit(max_rows + 1).toArrow()
    return None if table.num_rows > max_rows else table


def stop_spark() -> None:
    """Stop the active session (needed to re-launch at a new master)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Spark caches the JVM-side session; clear so a new master takes effect.
    SparkSession.builder._options = {}
