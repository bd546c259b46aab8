"""Canonical schemas.

The weather event model follows the reference's two-layer design
(``/root/reference/prediction/preprocessing/spark.py:131, 179-253``): JSON
payloads are decoded into an untyped ``map<string,string>`` staging column
(schema-tolerant — unknown keys survive), then a fixed list of fields is
promoted to typed columns with explicit casts, with no schema inference. The
parquet table loader infers a read schema once per table file per process
and declares it on every later read (``sources/tables.py``).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Staging type for raw JSON payloads — everything arrives as strings.
PAYLOAD_SCHEMA = T.MapType(T.StringType(), T.StringType())

#: Typed metric fields promoted out of the payload map (name -> Spark type).
METRIC_FIELDS: dict[str, T.DataType] = {
    "temperature": T.DoubleType(),
    "windspeed": T.DoubleType(),
    "winddirection": T.DoubleType(),
    "humidity": T.DoubleType(),
    "rain": T.DoubleType(),
    "visibility": T.DoubleType(),
    "pressure": T.DoubleType(),
    "precipitation": T.DoubleType(),
    "weathercode": T.IntegerType(),
    "interval": T.IntegerType(),
    "is_day": T.IntegerType(),
    "latitude": T.DoubleType(),
    "longitude": T.DoubleType(),
}

#: Full parsed weather-event row (reference parity; FIXTURES.md §2).
WEATHER_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("payload", PAYLOAD_SCHEMA),
        T.StructField("event_timestamp", T.TimestampType()),
        T.StructField("kafka_timestamp", T.TimestampType()),
    ]
    + [T.StructField(name, dtype) for name, dtype in METRIC_FIELDS.items()]
)

#: Kafka-shaped raw input row (what a Kafka batch/stream scan yields).
RAW_KAFKA_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)

#: Synthetic testdata tables (TESTDATA.md) — names only; parquet is self-describing.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
