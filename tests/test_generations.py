"""``generations.observation_get_bounded``: a bounded ``Observation.get``
whose fallbacks are visible in the log."""

import logging
import threading

from restructure_hdfs_topic_spark.generations import observation_get_bounded


class _FakeObservation:
    def __init__(self, get):
        self._get = get

    @property
    def get(self):
        return self._get()


def test_observation_get_bounded_returns_row_silently(caplog):
    with caplog.at_level(logging.WARNING):
        assert observation_get_bounded(_FakeObservation(lambda: {"n": 3})) == {"n": 3}
    assert not caplog.records


def test_observation_get_bounded_logs_timeout(caplog):
    release = threading.Event()
    try:
        with caplog.at_level(logging.WARNING):
            got = observation_get_bounded(_FakeObservation(release.wait), timeout_s=0.05)
    finally:
        release.set()
    assert got is None
    assert any("still blocked" in r.getMessage() for r in caplog.records)


def test_observation_get_bounded_logs_error(caplog):
    def boom():
        raise RuntimeError("metrics node pruned")

    with caplog.at_level(logging.WARNING):
        assert observation_get_bounded(_FakeObservation(boom)) is None
    assert any("metrics node pruned" in r.getMessage() for r in caplog.records)
