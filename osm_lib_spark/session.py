"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[N]``, N the host's usable CPUs; the
same configs are what we would ship in spark-defaults for a
multi-executor cluster (AQE on, skew-join splitting on, Arrow on,
shuffle partitions sized to cores).

The driver JVM starts from a dynamic class-data archive (AppCDS, JEP
350) kept per checkout in ``.jvm-cache/``, next to this package. The
first session for a key (the ``java`` binary and the driver classpath)
records the classes it loads and writes them to the archive as its JVM
exits; later sessions map them instead of loading, verifying and
linking them again. Measured on a 4 vCPU host, ``local[4]``, one
``groupBy().count()`` job: driver-JVM CPU at session start 11.2-13.1 →
6.5-6.7 CPU-s, and after the job 18.6-21.7 → 11.9-12.3; ``perfbench``
``osm_s`` ``setup_s`` 24.5 → 19.3 (medians of 10 interleaved pairs).
The dumping JVM spends ~9-10 s more on exit writing the file (140 MB
for that job, 171 MB for ``osm_s``, 193 MB for the test suite). An
archive that is missing, corrupt or made for another classpath only
costs start-up time: the JVM then starts as it would without one.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import struct
from contextlib import contextmanager
from typing import NamedTuple

import pyarrow as pa
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

# the checkout root's .jvm-cache/: never under /tmp or a run's scratch
JVM_CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".jvm-cache")
# CDS_DYNAMIC_ARCHIVE_MAGIC. The JVM writes an archive's header last, so
# a dump that did not finish does not start with it.
_ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# after magic, crc and version, JDK 17's header holds 7 regions of six
# ints and six size_t; a region's bytes in the file: (_file_offset, _used)
_REGION = struct.Struct("<24xQ8xQ24x")
# Unified logging writes to stdout, which the driver JVM shares with the
# Python process; a dump warns there once per class it cannot archive
# (~600 lines), and a mismatched archive once.
_QUIET_CDS = "-Xlog:cds*=off"


class Launch(NamedTuple):
    """How to start the driver JVM: ``java_options`` to append to
    ``spark.driver.extraJavaOptions``, the ``SPARK_CONF_DIR`` to launch
    with (None: as it is) and the ``claim`` file of a dumping launch."""

    java_options: str = ""
    conf_dir: str | None = None
    claim: str | None = None


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's process
        pass
    return True


def _is_archive(path: str) -> bool:
    """Whether ``path`` is a finished dynamic archive whose regions all
    lie inside the file: the JVM dies of SIGBUS mapping a truncated one
    (a 4 KiB prefix of a good archive did). The regions are read from
    JDK 17's header (archive version 11); another version's archive is
    checked by its magic only."""
    try:
        with open(path, "rb") as f:
            head = f.read(16 + 7 * _REGION.size)
            size = os.fstat(f.fileno()).st_size
    except FileNotFoundError:
        return False
    if head[:4] != _ARCHIVE_MAGIC or len(head) < 16 + 7 * _REGION.size:
        return False
    if int.from_bytes(head[8:12], "little") != 11:
        return True
    return all(offset + used <= size for offset, used in _REGION.iter_unpack(head[16:]))


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _settle(stem: str) -> bool:
    """Resolve the claim on ``stem``; True while it is held. A claim
    holds the pid of the JVM that dumps to ``stem.dump`` (of the Python
    process until that JVM runs). Once the pid has exited, a finished
    dump is promoted to ``stem.jsa``, an unfinished one deleted, and the
    claim cleared."""
    claim = stem + ".claim"
    try:
        with open(claim) as f:
            text = f.read()
    except FileNotFoundError:
        return False
    # empty: its O_EXCL create has not written the pid yet
    if not text.strip().isdigit() or _pid_alive(int(text)):
        return True
    dump = stem + ".dump"
    if _is_archive(dump):
        try:
            os.replace(dump, stem + ".jsa")
        except FileNotFoundError:  # another session promoted it
            pass
    else:
        _remove(dump)
    try:
        with open(claim) as f:
            if f.read() != text:  # a new claim replaced the dead one
                return True
    except FileNotFoundError:
        return False
    _remove(claim)
    return False


def _archive_key(java: str, spark_home: str, conf_dir: str) -> str:
    """The java binary's realpath, size and mtime and the driver
    classpath (the Spark jars directory listing and the conf dir), read
    without starting a process."""
    st = os.stat(java)
    parts = [java, st.st_size, st.st_mtime_ns, conf_dir]
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        for e in sorted(it, key=lambda e: e.name):
            s = e.stat()
            parts += [e.name, s.st_size, s.st_mtime_ns]
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]


def java_binary() -> str | None:
    """The ``java`` that ``bin/spark-class`` runs: ``$JAVA_HOME/bin/java``,
    else the one on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def plan_launch(cache_dir: str = JVM_CACHE) -> Launch:
    """The archive flags for a new driver JVM, and the files under
    ``cache_dir`` brought up to date: dead claims cleared, finished
    dumps promoted, archives under other keys deleted (each is
    140-200 MB).

    JDK 17 does not dump while a non-empty directory is on the
    classpath, and Spark puts the conf dir there. When that dir holds
    only ``*.template`` files the JVM launches with an empty one from
    ``cache_dir`` instead; otherwise no archive is used, so a real
    ``spark-defaults.conf`` or ``spark-env.sh`` is never hidden. With no
    archive for the key, this launch claims the key (an ``O_EXCL`` file
    holding the pid) and dumps; while another JVM holds the claim, the
    launch gets no flags. Any filesystem error means no archive."""
    try:
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(conf_dir) and any(
            not name.endswith(".template") for name in os.listdir(conf_dir)
        ):
            return Launch()
        java = java_binary()
        if not java:
            return Launch()
        empty = os.path.join(cache_dir, "conf")
        key = _archive_key(os.path.realpath(java), spark_home, empty)
        os.makedirs(empty, exist_ok=True)
        stems = {os.path.join(cache_dir, name.split(".")[0]) for name in os.listdir(cache_dir)}
        for other in stems - {os.path.join(cache_dir, "conf"), os.path.join(cache_dir, key)}:
            if not _settle(other):
                _remove(other + ".jsa")
                _remove(other + ".dump")
        stem = os.path.join(cache_dir, key)
        if not _settle(stem):
            if _is_archive(stem + ".jsa"):
                return Launch(f"-XX:SharedArchiveFile={stem}.jsa {_QUIET_CDS}", empty)
            _remove(stem + ".jsa")
            fd = os.open(stem + ".claim", os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
            with os.fdopen(fd, "w") as f:
                f.write(str(os.getpid()))
            return Launch(f"-XX:ArchiveClassesAtExit={stem}.dump {_QUIET_CDS}", empty, stem + ".claim")
    except OSError:
        pass
    return Launch()


def launch_conf(extra_conf: dict[str, str] | None, launch: Launch) -> dict[str, str]:
    """``extra_conf`` with ``launch``'s flags appended to the caller's
    ``spark.driver.extraJavaOptions``."""
    conf = dict(extra_conf or {})
    if launch.java_options:
        key = "spark.driver.extraJavaOptions"
        conf[key] = " ".join(filter(None, [conf.get(key), launch.java_options]))
    return conf


@contextmanager
def _conf_dir_env(conf_dir: str | None):
    """``SPARK_CONF_DIR`` set to ``conf_dir`` for the block, if given."""
    saved = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _hand_claim_to(claim: str, pid: int) -> None:
    """Point ``claim`` at the JVM ``pid`` that writes its dump."""
    with open(claim + ".tmp", "w") as f:
        f.write(str(pid))
    os.replace(claim + ".tmp", claim)


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

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, or to
    ``local[N]`` with N the CPUs this process may run on.
    ``shuffle_partitions`` defaults to the master's thread count (N for
    ``local[*]``) — at cluster scale this is set to ~2-3x total executor
    cores instead; AQE coalescing trims it back at runtime either way.
    A session that launches a new driver JVM starts it from the
    checkout's class-data archive (``plan_launch``).
    """
    cpus = len(os.sched_getaffinity(0))
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS') or cpus}]"
    if shuffle_partitions is None:
        n = master[master.index("[") + 1 : -1] if "[" in master else "*"
        shuffle_partitions = cpus if n == "*" else int(n)

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
    # a new JVM only when no gateway runs (a stopped context keeps its JVM)
    fresh = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    launch = plan_launch() if fresh else Launch()
    for k, v in launch_conf(extra_conf, launch).items():
        builder = builder.config(k, v)
    try:
        with _conf_dir_env(launch.conf_dir):
            spark = builder.getOrCreate()
    except BaseException:
        if launch.claim:
            _remove(launch.claim)
        raise
    if launch.claim:
        # bin/spark-class execs the JVM, so the gateway's process is it
        _hand_claim_to(launch.claim, spark.sparkContext._gateway.proc.pid)
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
