"""S10 serving-sink CONTRACT test: ONE behavioral suite that every
serving transport must pass. The parquet manifest sink is the only
transport; the reference's MongoDB upsert is out of scope
(KNOWN_LIMITS §5)."""


def _sink_factories(spark, tmp_path):
    from defi_features_data_pipeline_spark.sources.serving import (
        ParquetServingSink,
    )

    return [
        (
            "parquet",
            ParquetServingSink(
                spark, str(tmp_path / "serving_tbl"), "wallet"
            ),
        )
    ]


def _rows(df):
    return {
        (r["wallet"], r["score"], r["tier"]) for r in df.collect()
    }


def test_serving_contract_all_transports(spark, tmp_path):
    """The suite every serving transport must pass: initial load,
    overlapping-key upsert REPLACES whole documents, disjoint keys
    append, re-running the same batch is idempotent."""
    ran = []
    for name, sink in _sink_factories(spark, tmp_path):
        ran.append(name)
        base = spark.createDataFrame(
            [("0xa", 10.0, "gold"), ("0xb", 20.0, "silver")],
            "wallet string, score double, tier string",
        )
        sink.upsert(base)
        assert _rows(sink.read()) == {
            ("0xa", 10.0, "gold"),
            ("0xb", 20.0, "silver"),
        }
        # overlapping key replaces; new key appends
        batch2 = spark.createDataFrame(
            [("0xb", 25.0, "gold"), ("0xc", 5.0, "bronze")],
            "wallet string, score double, tier string",
        )
        sink.upsert(batch2)
        want = {
            ("0xa", 10.0, "gold"),
            ("0xb", 25.0, "gold"),
            ("0xc", 5.0, "bronze"),
        }
        assert _rows(sink.read()) == want
        # idempotent re-run
        sink.upsert(batch2)
        assert _rows(sink.read()) == want
    assert "parquet" in ran  # the hermetic transport always runs
