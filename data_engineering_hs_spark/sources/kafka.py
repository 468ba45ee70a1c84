"""Real ``format("kafka")`` reader construction (SURVEY.md §2.1 S14).

The reference consumes Kafka with spark-sql-kafka options
(lab06-avro-streaming/spark_kafka_foreachbatch.py:31-37):
``kafka.bootstrap.servers``, ``subscribe``, ``startingOffsets``,
``maxOffsetsPerTrigger``, ``failOnDataLoss``. This module builds that
exact reader so the option path is executed and validated even where
no broker exists; the rest of the engine's kafka-shaped pipelines
(streaming/pipelines.py) accept ANY binary `value` stream, so the
same downstream code runs against this reader when the connector jar
and a broker are present.

The spark-sql-kafka connector is a separate artifact not bundled with
PySpark; `kafka_connector_available` gates callers (and the tests) so
environments without the jar skip gracefully instead of failing at
source resolution.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamReader

KAFKA_SOURCE_CLASS = "org.apache.spark.sql.kafka010.KafkaSourceProvider"


def kafka_connector_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector jar is loadable.

    Resolves through Spark's own classloader (Utils.classForName),
    not java.lang.Class.forName via py4j: the py4j caller sits on the
    system classpath, so jars added with --packages /
    spark.jars.packages (Spark's MutableURLClassLoader) would be
    reported missing even though format("kafka") loads fine."""
    try:
        spark._jvm.org.apache.spark.util.Utils.classForName(  # noqa: SLF001
            KAFKA_SOURCE_CLASS, False, False
        )
        return True
    except Exception:  # noqa: BLE001 — py4j raises Py4JJavaError/JError
        return False


def kafka_stream_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> DataStreamReader:
    """The reference's consumer options, verbatim option names.

    maxOffsetsPerTrigger is the backpressure bound (T10); leaving it
    None lets a catch-up batch grow unboundedly — set it in
    production. Call .load() to resolve the source (requires the
    connector jar); the result has the standard kafka schema
    (key/value binary, topic, partition, offset, timestamp...).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "true" if fail_on_data_loss else "false")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader
