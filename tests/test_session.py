"""The session helpers' fallbacks log a WARNING instead of passing
silently: each stub below makes the probed Spark call raise."""

from __future__ import annotations

import logging
import sys
import types

from confluent_data_ingestion_spark import session


class _RaisingConf:
    def get(self, key, default=None):
        raise RuntimeError(f"conf unavailable: {key}")


def test_delta_available_logs_unreadable_conf(monkeypatch, caplog):
    delta = types.ModuleType("delta")
    delta_tables = types.ModuleType("delta.tables")
    delta_tables.DeltaTable = object
    monkeypatch.setitem(sys.modules, "delta", delta)
    monkeypatch.setitem(sys.modules, "delta.tables", delta_tables)
    spark = types.SimpleNamespace(conf=_RaisingConf())

    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.delta_available(spark) is False
    (rec,) = caplog.records
    assert rec.levelno == logging.WARNING
    assert "conf unavailable: spark.sql.extensions" in rec.getMessage()


def test_ensure_min_parallelism_logs_missing_size_estimate(caplog):
    class _Conf:
        def get(self, key, default=None):
            return default

    class _Df:
        sparkSession = types.SimpleNamespace(
            conf=_Conf(),
            sparkContext=types.SimpleNamespace(defaultParallelism=4),
        )

        @property
        def _jdf(self):
            raise RuntimeError("no JVM plan")

        def repartition(self, n):
            return ("repartitioned", n)

    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.ensure_min_parallelism(_Df()) == ("repartitioned", 4)
    (rec,) = caplog.records
    assert rec.levelno == logging.WARNING
    assert "no JVM plan" in rec.getMessage()
