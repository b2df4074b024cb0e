import itertools
import os
import sys
from contextlib import contextmanager

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_lib_spark.session import get_spark  # noqa: E402
from osm_lib_spark.sources.generator import ensure_fixture  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("osm_lib_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@contextmanager
def threshold(spark, value):
    """Run the block with ``spark.sql.autoBroadcastJoinThreshold`` at
    ``value``: ``"-1"`` forces every over-threshold path."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def both_paths(spark, fn):
    """(``fn()`` at the session threshold, ``fn()`` at threshold -1):
    the driver-side result and the over-threshold one."""
    kernel = fn()
    with threshold(spark, "-1"):
        loop = fn()
    return kernel, loop


def record_resident(monkeypatch, module: str) -> list:
    """Patch ``module``'s ``resident`` to record what each call returned
    (a driver copy, or None), so a test can tell which path ran."""
    from osm_lib_spark.session import resident

    reads = []
    monkeypatch.setattr(f"{module}.resident", lambda df: reads.append(resident(df)) or reads[-1])
    return reads


def loaded(df):
    """``df`` cached and counted: a loaded cache."""
    df = df.cache()
    df.count()
    return df


_job_groups = itertools.count()


def plans_during(spark, fn):
    """``fn()``, and the physical plans of the SQL executions it ran, by
    execution id: the store keeps only the last
    ``spark.sql.ui.retainedExecutions`` (1000), so once a session has run
    more, list positions no longer mark the executions of ``fn``."""
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id() -> int:
        execs = store.executionsList()  # ascending execution ids
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    first = last_id() + 1
    out = fn()
    found = (store.execution(i) for i in range(first, last_id() + 1))
    return out, [e.get().physicalPlanDescription() for e in found if e.isDefined()]


def spark_jobs(spark, fn):
    """(``fn()``, the number of Spark jobs it ran), counted as the job
    ids of a job group set around the call."""
    sc = spark.sparkContext
    group = f"spark_jobs_{next(_job_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def fixture_xs():
    return ensure_fixture("xs")


@pytest.fixture(scope="session")
def docs_xs(spark, fixture_xs):
    return spark.read.parquet(os.path.join(fixture_xs, "docs.parquet"))


def entity_batch(kind: str, rows: list):
    """``rows`` (dicts) as a RecordBatch of the ``kind`` entity columns,
    the shape the PBF and VEX block encoders take."""
    import pyarrow as pa

    from osm_lib_spark.sources.pbf import _PA_SCHEMA, TYPE_COLUMNS, TYPE_NAMES

    cols = TYPE_COLUMNS[TYPE_NAMES.index(kind)]
    return pa.RecordBatch.from_pylist(rows, schema=pa.schema([_PA_SCHEMA.field(c) for c in cols]))


def golden(fixture_dir: str, name: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(fixture_dir, "golden", f"{name}.parquet"))


def assert_df_equal(spark_df, expected_pdf: pd.DataFrame, sort_cols=None):
    """Order-insensitive exact comparison of a Spark DF vs pandas golden."""
    cols = list(expected_pdf.columns)
    got = spark_df.select(*cols).toPandas()
    sort_cols = sort_cols or cols
    got = got.sort_values(sort_cols).reset_index(drop=True)
    exp = expected_pdf.sort_values(sort_cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
