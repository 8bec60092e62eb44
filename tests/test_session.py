"""Session defaults derived from the host: the driver heap from MemTotal,
and the Spark size strings the engine reads from the session config; and
`local_frame`, the engine's one way from driver-side rows to a DataFrame."""

import pytest

from pyspark.sql import Row

from networkit_spark.session import (
    default_driver_memory,
    host_memory_bytes,
    local_frame,
    size_bytes,
)
from tests.conftest import spark  # noqa: F401


def test_driver_memory_is_half_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16318268 kB\nMemFree:        14000000 kB\n")
    assert host_memory_bytes(str(meminfo)) == 16318268 << 10
    assert default_driver_memory(str(meminfo)) == "7967m"


def test_driver_memory_floor_and_fallback(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:         524288 kB\n")
    assert default_driver_memory(str(meminfo)) == "1024m"
    assert host_memory_bytes(str(tmp_path / "missing")) is None
    assert default_driver_memory(str(tmp_path / "missing")) == "4g"


def test_size_bytes():
    assert size_bytes("10485760b") == 10485760
    assert size_bytes("-1") == -1
    assert size_bytes("1g", "m") == 1 << 30
    assert size_bytes("512", "m") == 512 << 20
    assert size_bytes("2gb") == 2 << 30
    with pytest.raises(ValueError):
        size_bytes("lots")


def _leaf(df):
    plan = df._jdf.queryExecution().analyzed()
    while plan.children().size() > 0:
        plan = plan.children().head()
    return plan.nodeName()


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1, None, float("inf")), (2, 1, 0.5)], "id long, pred long, gain double"),
        ([], "fu long, fv long, f double"),
        ([(1, 2.5, "a", True, [1, 2])], "a int, b double, c string, d boolean, e array<long>"),
    ],
)
def test_local_frame_is_a_local_relation(spark, rows, schema):  # noqa: F811
    df = local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()
    assert _leaf(df) == "LocalRelation"


def test_local_frame_keeps_create_dataframe_semantics(spark):  # noqa: F811
    # Rows and generators go through createDataFrame's own conversion ...
    assert local_frame(spark, [Row(a=1, b=2)], "a long, b long").collect() == [Row(a=1, b=2)]
    assert local_frame(spark, ((i, i) for i in range(3)), "a long, b long").count() == 3
    # ... and values its type check refuses raise as it does.
    for bad, schema in (([(1.5,)], "a long"), ([(1,)], "a double")):
        with pytest.raises(TypeError):
            local_frame(spark, bad, schema)
