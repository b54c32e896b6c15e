from __future__ import annotations

import pytest

from python_crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pcs-tests", parallelism=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def job_ids(spark):
    """A function returning the ids of every Spark job started so far;
    it drains the listener bus first, since job events land async."""
    sc = spark.sparkContext

    def ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup())

    return ids


@pytest.fixture
def round_trips(monkeypatch):
    """Counts py4j round trips: call it to read the count so far."""
    from py4j.clientserver import ClientServerConnection

    sent = [0]
    send = ClientServerConnection.send_command

    def counted(self, command):
        sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return lambda: sent[0]
