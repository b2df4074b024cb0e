"""``session.resident``: a loaded Spark cache under the threshold is held
on the driver as one Arrow copy, made at most once per cache instance
and released with the cache; anything else gets None without a job."""

from osm_lib_spark import session
from osm_lib_spark.session import resident
from tests.conftest import loaded, spark_jobs, threshold


def _frame(spark, n=1000):
    return spark.range(0, n, 1, 4).selectExpr("id", "id * 2 AS twice")


def test_unloaded_cache_is_not_made_resident(spark):
    """A cache no action has loaded, and a frame derived from a loaded
    one, give None, and the probe runs no job (nor loads the cache)."""
    df = _frame(spark, 1003).cache()
    assert spark_jobs(spark, lambda: resident(df)) == (None, 0)
    assert spark_jobs(spark, lambda: resident(df)) == (None, 0)
    df.count()
    assert spark_jobs(spark, lambda: resident(df.where("id > 5"))) == (None, 0)
    df.unpersist()


def test_unpersist_drops_and_recache_renews_the_copy(spark):
    """The copy is collected once, with the cache's rows; after
    ``unpersist()`` the next call drops it, and the re-cached frame gets
    a fresh copy."""
    df = loaded(_frame(spark))
    copy, jobs = spark_jobs(spark, lambda: resident(df))
    assert jobs >= 1 and copy.num_rows == 1000 and copy.column_names == ["id", "twice"]
    assert copy.column("twice").to_pylist() == [2 * i for i in copy.column("id").to_pylist()]
    assert spark_jobs(spark, lambda: resident(df)) == (copy, 0)
    (key,) = [k for k, (_, table) in session._RESIDENT.items() if table is not None and table.equals(copy)]

    df.unpersist()
    assert spark_jobs(spark, lambda: resident(df)) == (None, 0)
    assert key not in session._RESIDENT

    df = loaded(df)
    fresh, jobs = spark_jobs(spark, lambda: resident(df))
    assert jobs >= 1 and fresh.equals(copy) and key not in session._RESIDENT
    df.unpersist()


def test_over_bound_cache_is_measured_once_and_never_collected(spark, monkeypatch):
    """1001 rows at 24 B are over a 10 kB threshold: no job, and the
    verdict is memoized, so the second call does not size the rows
    again."""
    df = loaded(_frame(spark, 1001))
    sized, real = [], session.row_bytes
    monkeypatch.setattr(session, "row_bytes", lambda *a: sized.append(1) or real(*a))
    with threshold(spark, "10000"):
        assert spark_jobs(spark, lambda: resident(df)) == (None, 0)
        assert spark_jobs(spark, lambda: resident(df)) == (None, 0)
    assert len(sized) == 1
    df.unpersist()


def test_threshold_minus_one_returns_none(spark):
    df = loaded(_frame(spark, 1002))
    with threshold(spark, "-1"):
        assert spark_jobs(spark, lambda: resident(df)) == (None, 0)
    df.unpersist()
