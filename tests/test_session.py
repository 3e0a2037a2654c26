"""Session helpers: the default core count and the Arrow-built driver frames."""

import os

from clj_orc_spark.session import arrow_frame, default_cpus


def test_default_cpus_is_the_affinity_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_arrow_frame_keeps_ddl_types(spark):
    """Same schema as ``createDataFrame(rows, ddl)``, rows intact, also for
    an empty frame of nested and temporal types."""
    ddl = "pid int, units string, at double"
    rows = [(i, None if i % 2 else str(i), i / 2) for i in range(6)]
    df = arrow_frame(spark, rows, ddl)
    assert df.schema == spark.createDataFrame(rows, ddl).schema
    assert [tuple(r) for r in df.collect()] == rows

    nested = "m map<string,bigint>, t timestamp_ntz, s struct<x:array<int>>"
    empty = arrow_frame(spark, [], nested)
    assert empty.schema == spark.createDataFrame([], nested).schema
    assert empty.count() == 0
