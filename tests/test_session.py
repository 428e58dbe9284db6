"""The session helper's fallback logs a WARNING instead of passing
silently: the stub below makes the probed Spark call raise."""

from __future__ import annotations

import logging
import types

from confluent_data_ingestion_spark import session


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
