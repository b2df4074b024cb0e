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
from pyspark.sql.types import DataType, StructType


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
    ``defaultParallelism`` Python-worker tasks (~0.02 CPU-s each on a
    4 vCPU host, whatever the row count, once the worker has imported
    the engine: ``osm_lib_spark._keep_unchanged_zip_caches``), and joins
    against it need a broadcast hint. Built from an Arrow table, the
    frame is a ``LocalRelation``: no Python task, and stats from its row
    count that let the planner broadcast it under
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


def row_bytes(spark: SparkSession, schema: StructType | str) -> int:
    """Spark's size estimate of one row of ``schema`` (a StructType or a
    DDL string): 8 B of row overhead plus the columns' default sizes.
    This is what the stats of a ``local_frame`` of n such rows say
    (n · row_bytes), so it is the per-row size every site of the size
    rule measures with. An array counts as ONE element: a caller whose
    rows carry arrays passes its own width to ``collect_bounded``."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    jtype = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(schema.json())
    return 8 + jtype.defaultSize()


def collect_bounded(df: DataFrame, row_size: int | None = None) -> pa.Table | None:
    """``df`` as one Arrow table on the driver when it fits under
    ``spark.sql.autoBroadcastJoinThreshold``, else ``None``.

    This is the engine's one rule for every choice between a plan sized
    for the driver and one sized for the cluster: data size in bytes
    against the threshold. Rows are sized by ``row_bytes`` of
    ``df.schema`` — what the LocalRelation's stats will say when the
    table comes back as a ``local_frame`` for a join, so the planner
    broadcasts it without a hint; ``row_size`` overrides it for rows
    with arrays. At most ``threshold // row_size`` rows: one job
    collects ``max_rows + 1`` rows, so an input over the bound is never
    pulled whole; a threshold ≤ 0 runs nothing and forces every
    over-threshold path. A caller whose fallback reuses ``df`` passes
    it lazily checkpointed, so the collect's job materializes it for
    the fallback instead of computing it twice.

    The sites that measure their size with it, and their fallbacks:
    ``extract.relation_closure_table`` (the semi-naive Spark loop, its
    result under a SHUFFLE_HASH hint), ``extract._member_index`` (the
    checkpoint under a SHUFFLE_HASH hint; the context keeps the
    collected member indexes and closure as arrays only when all three
    fit), ``extract._driver_batch`` (the refs of the ways in the batch's
    envelope, one row each at the bytes of its rows in every frame the
    path builds; the Spark chain of ``bbox_extract_batch``, also when
    the batch's result rows are over; with cached way_tiles and ways
    held by ``resident`` the refs are counted in numpy and nothing is
    collected),
    ``pip.points_in_polygons_bucketed`` (the (node_id, lat, lon) rows
    in the polygons' covering tiles, after the polygons themselves
    fit by rows and by ring-vertex bytes; numpy decides and the result
    is one ``local_frame`` of per-polygon node-id arrays, exploded, when
    the (polygon, node) pairs in the polygons' bboxes fit too at 8 B
    each; otherwise the driver-built tile table is
    broadcast with the rings in a broadcast variable, or, when the
    polygons or their tile rows are over, the rings ride the
    polygon-tile rows into a SHUFFLE_HASH join; cached nodes held by
    ``resident`` are decided without a collect),
    ``dedup.components_from_pairs`` (the label-propagation loop),
    ``dedup._collect_shingles`` (one row per shingle; the MinHash band
    kernel per Arrow batch, the band self-join and the Spark verify;
    under it ``dup_components`` returns its whole result as one
    ``local_frame``), ``similarity._train_index`` (one ``mapInArrow``
    job per Lloyd pass, a stride-row collect for ``ivf_topk``, and the
    ANN query tails' scan per Arrow batch in one ``mapInArrow`` job;
    under it both query tails scan the collected corpus on the driver
    when their candidates fit too; a loaded cached corpus whose
    ``cache_rows`` are over skips the collect) and ``pbf.write_blocks``
    (one row per entity, and the collected table's Arrow bytes against
    the threshold too, as its tags and refs are arrays; the aggregate, the shuffle
    into id-range buckets and one ``mapInArrow`` encode per task; three
    loaded caches are sized by ``known_bytes`` and encoded from their
    ``resident`` copies, or sent to the cluster path, with no collect).
    Sites whose size is known without a collect compare ``row_bytes``
    times their row count with ``broadcast_threshold``: ``knn.knn_kring`` (k·Q result rows;
    under it a cached store held by ``resident`` is ranked with no job,
    else each round's partition tops merge on the driver; over it they
    accumulate executor-side), the driver-built closure in
    ``relation_closure_table`` (a SHUFFLE_HASH hint) and
    ``similarity._driver_tail`` (the rows of the probed lists, one per
    candidate; the same scan per partition, ``_partition_top``).
    """
    threshold = broadcast_threshold(df.sparkSession)
    if threshold <= 0:
        return None
    max_rows = threshold // (row_size or row_bytes(df.sparkSession, df.schema))
    table = df.limit(max_rows + 1).toArrow()
    return None if table.num_rows > max_rows else table


# loaded cache → (its known bytes, its driver copy or None), keyed by
# (application id, the cache's column-buffer RDD id): a cache is measured
# and collected once, and a restarted context reusing RDD ids misses
_RESIDENT: dict[tuple[str, int], tuple[int, pa.Table | None]] = {}


def _loaded_cache(df: DataFrame) -> tuple[tuple[str, int], int, int] | None:
    """(memo key, rows, sizeInBytes) of the Spark cache ``df``'s plan
    matches, when that cache is loaded, else None. Read from the cache's
    own ``InMemoryRelation`` stats: no job runs. A frame derived from a
    cache (a filter or a projection) matches none."""
    jspark = df.sparkSession._jsparkSession
    cached = jspark.sharedState().cacheManager().lookupCachedData(df._jdf)
    if not cached.isDefined():
        return None
    relation = cached.get().cachedRepresentation()
    builder = relation.cacheBuilder()
    # checked first: asking an unloaded cache for its buffers would build them
    if not builder.isCachedColumnBuffersLoaded():
        return None
    stats = relation.computeStats()
    key = (df.sparkSession.sparkContext.applicationId, builder.cachedColumnBuffers().id())
    # both are Scala BigInts, which py4j may hand over as a Java object
    return key, int(str(stats.rowCount().get())), int(str(stats.sizeInBytes()))


def _rule_bytes(df: DataFrame, rows: int, size: int) -> int:
    """max(rows · ``row_bytes``, the cache's in-memory bytes), as
    ``row_bytes`` counts an array as one element."""
    return max(rows * row_bytes(df.sparkSession, df.schema), size)


def cache_rows(df: DataFrame) -> int | None:
    """The row count of ``df`` when it is a loaded cache, else None; no job."""
    cache = _loaded_cache(df)
    return None if cache is None else cache[1]


def known_bytes(df: DataFrame) -> int | None:
    """The size rule's bytes of ``df`` when it is a loaded cache, known
    without a job (``_rule_bytes``), else None."""
    cache = _loaded_cache(df)
    return None if cache is None else _rule_bytes(df, *cache[1:])


def resident(df: DataFrame) -> pa.Table | None:
    """A driver-side Arrow copy of ``df`` when ``df`` is a loaded Spark
    cache whose ``known_bytes``, and then whose copy's Arrow bytes, fit
    under ``spark.sql.autoBroadcastJoinThreshold``; else None.

    The driver paths of ``extract._driver_batch`` (way_tiles, ways,
    nodes), ``knn.knn_kring`` (the tiled store), ``pip._driver_pip``
    (nodes) and ``pbf.write_blocks`` (the three entity tables) read
    their cached inputs here first, the way osm-lib answers from indexes
    already in memory (TileOSMSource.java:49-143): a warm call runs no
    collect job. A frame that is not a loaded cache, a derived frame
    included, gets None without a job, and its site keeps its bounded
    collect; at a threshold ≤ 0 every site runs its over-threshold path.

    The copy, and an over verdict too, is memoized by the cache
    instance, so each cache is measured and collected at most once per
    threshold; every call drops the entries whose RDD is no longer
    persisted, so ``unpersist`` releases the copy and a re-cached frame
    gets a fresh one. Measured on sf-s (4 vCPU host, ``local[4]``): the
    five cached tables of ``perfbench``'s ``osm_s`` (nodes, ways,
    relations, way_tiles and the tiled node store, 230,597 rows) are
    9.3 MiB of copies; its warm ops' jobs fall batch 6 → 2, bbox 6 → 2,
    kNN 1 → 0, PIP 3 → 2, pbf and vex round trips 3 → 2, and its
    ``cpu_s_per_op`` 3.26 → 1.93 (medians of 10 interleaved pairs).
    """
    spark = df.sparkSession
    threshold = broadcast_threshold(spark)
    if threshold <= 0:
        return None
    sc = spark.sparkContext
    persisted = {(sc.applicationId, rdd) for rdd in sc._jsc.getPersistentRDDs().keys()}
    for key in list(_RESIDENT):
        if key not in persisted:
            _RESIDENT.pop(key, None)
    cache = _loaded_cache(df)
    if cache is None:
        return None
    key, rows, size = cache
    known, table = _RESIDENT.get(key) or (_rule_bytes(df, rows, size), None)
    if table is None and known <= threshold:
        table = df.toArrow()
        known = max(known, table.nbytes)
        if known > threshold:
            table = None
    _RESIDENT[key] = known, table
    return None if table is None or known > threshold else table.rename_columns(df.columns)


def stop_spark() -> None:
    """Stop the active session (needed to re-launch at a new master)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Spark caches the JVM-side session; clear so a new master takes effect.
    SparkSession.builder._options = {}
