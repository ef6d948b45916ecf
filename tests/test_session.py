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
