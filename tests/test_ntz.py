"""normalize_ntz: flat AND nested TIMESTAMP_NTZ columns become session-zoned
TIMESTAMP at the read edge, and the cast is instant-preserving under the UTC
session timezone load_table pins."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from pinterest_data_pipeline_spark.session import normalize_ntz

TS = datetime.datetime(2024, 3, 1, 12, 30, 45)


def _make_df(spark):
    schema = StructType(
        [
            StructField("flat_ts", TimestampNTZType()),
            StructField(
                "s",
                StructType([StructField("inner_ts", TimestampNTZType())]),
            ),
            StructField("arr", ArrayType(TimestampNTZType())),
        ]
    )
    return spark.createDataFrame([(TS, (TS,), [TS])], schema)


def test_nested_ntz_normalized_and_instant_preserved(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = normalize_ntz(_make_df(spark))
    fields = {f.name: f.dataType for f in out.schema.fields}
    assert isinstance(fields["flat_ts"], TimestampType)
    assert isinstance(fields["s"]["inner_ts"].dataType, TimestampType)
    assert isinstance(fields["arr"].elementType, TimestampType)
    row = out.select(
        F.unix_micros("flat_ts").alias("a"),
        F.unix_micros(F.col("s.inner_ts")).alias("b"),
        F.unix_micros(F.element_at("arr", 1)).alias("c"),
    ).first()
    expect = int(TS.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    assert row.a == row.b == row.c == expect


def test_non_ntz_schema_passes_through_unchanged(spark):
    df = spark.range(3).withColumn("ts", F.current_timestamp())
    assert normalize_ntz(df) is df or normalize_ntz(df).schema == df.schema
