import pytest

from pcrawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="pcrawler_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture
def count_actions(spark, monkeypatch):
    """``start()`` begins counting driver actions (collect/count/toPandas)
    and returns the live counts.  It patches the session's concrete
    DataFrame class: Spark 4's classic DataFrame overrides these methods,
    so a patch on ``pyspark.sql.DataFrame`` would count nothing."""

    def start():
        cls = type(spark.range(0))
        calls = dict.fromkeys(("collect", "count", "toPandas"), 0)
        for name in calls:
            def wrapper(self, *a, _name=name, _orig=getattr(cls, name), **kw):
                calls[_name] += 1
                return _orig(self, *a, **kw)
            monkeypatch.setattr(cls, name, wrapper)
        return calls

    return start
