"""Shared pytest fixtures: one local SparkSession + a small synthetic
transcripts table (seed=42, FIXTURES.md spec)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from documentai_spark.sources.session import build_session  # noqa: E402
from documentai_spark.sources.transcripts import write_transcripts_parquet  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session("documentai_spark_tests", master="local[4]",
                      shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_path(tmp_path_factory):
    """Small but structurally complete: 60 convs incl. one mega (300 turns),
    all content kinds + edge cases present."""
    path = str(tmp_path_factory.mktemp("data") / "transcripts")
    n = write_transcripts_parquet(path, seed=42, n_convs=60,
                                  mega_every=50, mega_turns=300,
                                  rows_per_file=500)
    assert n > 1000
    return path


@pytest.fixture
def py4j_calls(spark):
    """``with py4j_calls() as n: ...`` counts the py4j commands this
    thread sends to the JVM inside the block into ``n[0]`` (the gateway's
    own garbage-collection thread is not counted)."""
    import contextlib
    import threading

    client = spark.sparkContext._gateway._gateway_client

    @contextlib.contextmanager
    def count():
        n = [0]
        me = threading.get_ident()
        send = client.send_command

        def counted(*args, **kwargs):
            if threading.get_ident() == me:
                n[0] += 1
            return send(*args, **kwargs)

        client.send_command = counted
        try:
            yield n
        finally:
            client.send_command = send
    return count
