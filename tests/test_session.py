"""Session build: the warm-up fails soft."""

import logging

from project_cascade_spark import session as ses


def test_broken_warmup_step_gives_cold_start(spark, monkeypatch, caplog):
    def boom(_spark):
        raise RuntimeError("broken warm job")

    monkeypatch.delenv("CASCADE_WARM_WORKERS", raising=False)
    monkeypatch.setattr(ses, "_warm_exchange", boom)
    monkeypatch.setattr(ses, "_WARMED", set())  # warm the shared app again
    with caplog.at_level(logging.WARNING, logger=ses.__name__):
        s = ses.build_session("cascade-tests", master="local[4]", shuffle_partitions=8)
    assert "exchange failed" in caplog.text and "broken warm job" in caplog.text
    assert s.range(10).selectExpr("sum(id)").first()[0] == 45


def test_every_python_worker_carries_zipimport_backport(spark):
    """A package UDF's workers run with the _pyworker backport installed,
    so a task's importlib.invalidate_caches() re-reads no zip directory."""
    import sys

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from project_cascade_spark.functions.kernels import _mix64

    @pandas_udf("string")
    def owner(ids: pd.Series) -> pd.Series:
        import zipimport

        _mix64(ids.to_numpy(dtype="uint64"))
        mod = zipimport.zipimporter.invalidate_caches.__module__
        return pd.Series([mod] * len(ids))

    df = spark.range(0, 1600, 1, 16)
    rows = df.select(owner("id").alias("m")).distinct().collect()
    backported = sys.version_info < (3, 12)
    want = "project_cascade_spark._pyworker" if backported else "zipimport"
    assert [r.m for r in rows] == [want]
