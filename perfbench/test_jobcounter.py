"""Pins the cross-group Spark job counter the traced run relies on.

Micro-batch jobs run under the stream's ``runId`` job group, which a
count of ungrouped jobs misses. Run from the repository root:

    python3 -m pytest perfbench -m "" -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    workdir = str(tmp_path_factory.mktemp("perfbench"))
    run.session_env(workdir)
    session, _ = run.start_session(workdir)
    yield session
    run.stop_session(session)


def test_every_nonempty_trickle_batch_counts_jobs(spark, tmp_path):
    from cdc_workloads import CdcRun
    from layers import Tracer

    cdc = CdcRun(spark, "trickle", seed=5, seconds=3, workdir=str(tmp_path))
    cdc.setup()
    tracer = Tracer(spark)
    tracer.install()
    try:
        phase = cdc.phase(tracer)
    finally:
        tracer.uninstall()
        cdc.stop()
    assert not cdc.failures
    applies = tracer.by_name("cdc.apply")
    assert applies, "the stream ran no batch"
    assert all(span.jobs for span in applies), [len(s.jobs) for s in applies]
    assert phase["stream_jobs"] >= sum(len(s.jobs) for s in applies)


def test_stream_with_no_input_counts_no_jobs(spark, tmp_path):
    from jobs import JobCounter

    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
        ParquetLakeTable,
    )
    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.streaming import (
        start_cdc_stream,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    table = ParquetLakeTable(spark, str(tmp_path / "table"))
    query = start_cdc_stream(spark, str(src), table, str(tmp_path / "ckpt"),
                             window_size="0 seconds")
    try:
        time.sleep(3)  # many 0-second trigger polls over an empty source
        jobs = JobCounter(spark).job_ids(str(query.runId))
    finally:
        query.stop()
    assert jobs == set()
