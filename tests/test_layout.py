"""Storage layout: the ORC round trip, and the Morton bit-interleave
expression the ``zorder_cells`` gate shares."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_orc_roundtrip_matches_parquet_source(spark, tmp_path):
    """Format breadth: the ORC write/read path (Spark-native, zero
    extra jars) round-trips the events table bit-identically —
    timestamps, doubles and strings all survive; predicate pushdown
    stays available (ORC scan supports filters)."""
    from pyspark.sql import functions as F

    from defi_features_data_pipeline_spark.queries.core import _events

    src = _events(spark, "/root/testdata/sf0.001")
    path = str(tmp_path / "events_orc")
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == src.schema
    assert back.count() == src.count()
    assert src.exceptAll(back).count() == 0
    assert back.exceptAll(src).count() == 0
    plan = (
        back.filter(F.col("event_type") == "view")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "event_type" in plan


def test_interleave_bits_matches_python_reference(spark):
    """The Morton expression the gate uses, against a plain
    Python bit-interleave, over an exhaustive small domain."""
    from defi_features_data_pipeline_spark.sources.layout import interleave_bits

    def py_morton(x, y, bits):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    bits = 5
    rows = [(x, y) for x in range(0, 32, 3) for y in range(0, 32, 5)]
    df = spark.createDataFrame(rows, "x long, y long").withColumn(
        "z", interleave_bits(F.col("x"), F.col("y"), bits)
    )
    for r in df.collect():
        assert r["z"] == py_morton(r["x"], r["y"], bits), (r["x"], r["y"])
