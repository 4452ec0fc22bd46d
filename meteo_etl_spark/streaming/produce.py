"""Event production (ST5, S8): publish a finished fetch's event.

Reference `streaming/producer.py:16-25` + `streaming/cli.py:50-61`:
after the ETL lifecycle completes, the control row is loaded by PK,
projected to a FetchEvent, serialized, produced, and flushed.

The engine's file topic is a directory of one-JSON-line files — the
same at-least-once contract as a Kafka topic for a file-source reader
(each file is a message; the consumer's checkpoint is the committed
offset). ``kafka_sink_options`` documents the real-Kafka wiring, which
is identical except for the sink format.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from meteo_etl_spark.errors import LoadError
from meteo_etl_spark.pipeline.control import fetch_metadata_row
from meteo_etl_spark.pipeline.warehouse import Warehouse
from meteo_etl_spark.streaming.events import events_from_control, to_wire_json


def publish_finished_fetch(
    spark: SparkSession,
    warehouse: Warehouse,
    fetch_id: str,
    topic_dir: str,
    *,
    wire_format: str = "json",
) -> str:
    """Project the finished control row to a FetchEvent and append it
    to the file topic; returns the message path. One atomic file per
    event (write-to-temp + rename) mirrors produce+flush.

    ``wire_format="avro"`` serializes with the Avro codec
    (events.to_avro_value — JVM or engine codec) and writes the bytes
    base64-per-line: the file topic's encoding of a binary Kafka
    message value (a real Kafka sink writes the bytes directly)."""
    row = fetch_metadata_row(spark, warehouse, fetch_id).filter(
        F.col("finished_at").isNotNull()
    )
    ev = events_from_control(row)
    if wire_format == "avro":
        import base64

        from meteo_etl_spark.streaming.events import to_avro_value

        values = to_avro_value(ev).collect()
        if not values:
            raise LoadError(f"no finished fetch_metadata row with id={fetch_id!r}")
        line = base64.b64encode(bytes(values[0]["value"])).decode("ascii")
        suffix = "avro.b64"
    elif wire_format == "json":
        values = to_wire_json(ev).collect()
        if not values:
            raise LoadError(f"no finished fetch_metadata row with id={fetch_id!r}")
        line = values[0]["value"]
        suffix = "json"
    else:
        raise ValueError(f"unknown wire_format {wire_format!r} (json|avro)")

    os.makedirs(topic_dir, exist_ok=True)
    final = os.path.join(topic_dir, f"{fetch_id}.{suffix}")
    tmp = os.path.join(topic_dir, f".{fetch_id}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(line + "\n")
    os.replace(tmp, final)
    return final


def kafka_sink_options(bootstrap_servers: str, topic: str) -> dict[str, str]:
    """Real-Kafka sink wiring (S8): used as
    ``events_df.select(to_avro(...)).write.format("kafka")
    .options(**kafka_sink_options(...)).save()`` when the kafka +
    avro datasource jars are on the classpath."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
    }
