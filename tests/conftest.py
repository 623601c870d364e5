from __future__ import annotations

import contextlib
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_rs_spark.session import get_spark  # noqa: E402

REFERENCE = "/root/reference/crates/libs/lib-etl"
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    # default false matches the historical suite; CI can assert the
    # strict mode with SPARK_GRAFT_ANSI=true (Spark 4's default) — the
    # whole suite is expected to pass under both
    ansi = os.environ.get("SPARK_GRAFT_ANSI", "false")
    s = get_spark(
        app_name="etl-rs-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.ansi.enabled": ansi},
    )
    yield s
    s.stop()


@pytest.fixture
def jvm_calls(spark, monkeypatch):
    """``with jvm_calls() as calls: build()`` records one entry in
    ``calls`` per py4j ``send_command`` the calling thread makes inside
    the block: plan-building cost as a count, not a timing. py4j's
    finalizer thread sends the deletes of garbage-collected JavaObjects
    through the same client, so other threads are not counted (one GC
    pass inside the window once added ~260 calls)."""
    client = spark.sparkContext._gateway._gateway_client

    @contextlib.contextmanager
    def counting():
        send, calls, caller = client.send_command, [], threading.get_ident()

        def counted(*args, **kwargs):
            if threading.get_ident() == caller:
                calls.append(1)
            return send(*args, **kwargs)

        monkeypatch.setattr(client, "send_command", counted)
        try:
            yield calls
        finally:
            monkeypatch.setattr(client, "send_command", send)

    return counting
