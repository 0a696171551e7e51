"""Source registry — the connector layer (SURVEY.md §2.1) as a factory.

The reference wires 7 connector types through config-only YAML
(`pulsar-components/connectors/*/connector.yaml`): Kinesis, Kafka,
EventHub (Kafka-compatible), RabbitMQ, HTTP, gRPC, Pulsar.  In Spark each
becomes a ``readStream`` format + options; the payload contract is the
same everywhere: a string column ``value`` holding one JSON document
(what a Pulsar topic of JSON strings is).

Local/CI runs have no brokers, so the default kinds are file-backed
(``jsonl`` dir of JSON-lines files, streamed) and ``rate`` (synthetic) —
the production kinds (kafka/eventhub/kinesis) are config passthrough to
Spark's first-party connectors and resolve at deploy time.  RabbitMQ/HTTP
/gRPC have no first-party Spark source (reference's gRPC connector is
itself a stub with missing source); they map to the jsonl bridge-drop
pattern.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SOURCE_KINDS = (
    "jsonl", "rate", "kafka", "eventhub", "kinesis", "rabbitmq", "http", "grpc",
    "parquet", "orc", "csv", "json", "pulsar",
)


def kafka_reader_options(options: dict[str, Any]) -> dict[str, str]:
    """Map friendly snake_case option names onto the Kafka connector's
    option keys (already-dotted keys pass through verbatim, so a caller
    can always hand raw connector options).  Pure function → unit-testable
    without a broker."""
    friendly = {
        "bootstrap_servers": "kafka.bootstrap.servers",
        "topic": "subscribe",
        "topics": "subscribe",
        "topic_pattern": "subscribePattern",
        "starting_offsets": "startingOffsets",
        "ending_offsets": "endingOffsets",
        "group_id_prefix": "groupIdPrefix",
    }
    return {friendly.get(k, k): str(v) for k, v in options.items()}


def pulsar_reader_options(options: dict[str, Any]) -> dict[str, str]:
    """Map friendly snake_case names onto the Pulsar connector's option
    keys (StreamNative pulsar-spark: `service.url`, `admin.url`,
    `topics` / `topicsPattern`, `startingOffsets`).  Already-dotted /
    camelCase keys pass through verbatim.  Pure function → unit-testable
    without a broker."""
    friendly = {
        "service_url": "service.url",
        "admin_url": "admin.url",
        "topic": "topics",
        "topics": "topics",
        "topic_pattern": "topicsPattern",
        "topics_pattern": "topicsPattern",
        "starting_offsets": "startingOffsets",
        "ending_offsets": "endingOffsets",
        "subscription_prefix": "predefinedSubscription",
    }
    mapped = {friendly.get(k, k): str(v) for k, v in options.items()}
    if "service.url" not in mapped:
        raise ValueError("pulsar source requires service_url= (or service.url=)")
    return mapped


def open_source(
    spark: SparkSession,
    kind: str,
    streaming: bool = True,
    **options: Any,
) -> DataFrame:
    """Open a source as a DataFrame with a single string ``value`` column
    (plus source metadata columns where the connector provides them).

    kinds:
      jsonl    — options: path (dir of *.jsonl / *.json text files)
      parquet  — options: path, value_col (batch or stream over parquet)
      orc      — options: path, value_col (batch or stream over ORC)
      rate     — options: rows_per_second; value is a synthetic JSON doc
      kafka / eventhub — options passed through to Spark's kafka source
                 (eventhub = Kafka-compatible endpoint, connector.yaml:
                 azure-eventhub `connectorType: kafka`)
      kinesis  — passthrough to a kinesis connector if deployed
      rabbitmq/http/grpc — no first-party Spark source: expect a bridge
                 that drops JSON lines into `path` (same as jsonl)
    """
    kind = kind.lower()
    reader = spark.readStream if streaming else spark.read
    if kind in ("jsonl", "rabbitmq", "http", "grpc"):
        # micro-batch granularity knob (streaming only): bounds each
        # epoch's file intake, so checkpoint recovery is exercised over
        # MANY commits instead of one availableNow mega-batch.
        mfpt = options.get("maxFilesPerTrigger")
        if streaming and mfpt:
            reader = reader.option("maxFilesPerTrigger", int(mfpt))
        # text() preserves the original byte-identical line — the Filterer
        # passthrough invariant needs the raw string, never a re-serialize.
        return reader.text(options["path"])
    if kind in ("parquet", "orc"):
        # Columnar file sources (both built into Spark — no extra jars).
        path = options["path"]
        value_col = options.get("value_col", "value")
        if streaming:
            # streaming file sources need an explicit schema
            reader = reader.schema(getattr(spark.read, kind)(path).schema)
        df = getattr(reader, kind)(path)
        if value_col != "value":
            df = df.withColumn("value", F.col(value_col))
        return df
    if kind in ("csv", "json"):
        # Structured file sources: typed columns (schema required for
        # streaming); optional value_col names the payload column.
        path = options.pop("path")
        schema = options.pop("schema", None)
        value_col = options.pop("value_col", None)
        if schema is not None:
            reader = reader.schema(schema)
        elif streaming:
            raise ValueError(f"{kind} streaming source requires schema=")
        for k, v in options.items():
            reader = reader.option(k, v)
        df = reader.csv(path) if kind == "csv" else reader.json(path)
        if value_col:
            df = df.withColumn("value", F.col(value_col))
        return df
    if kind == "rate":
        if not streaming:
            raise ValueError("rate source is streaming-only")
        rps = options.get("rows_per_second", 100)
        df = reader.format("rate").option("rowsPerSecond", rps).load()
        # synthesize a Geotab-ish JSON payload so the translator path runs
        return df.select(
            F.to_json(
                F.struct(
                    F.concat(F.lit("dev-"), F.col("value").cast("string")).alias("Device_ID"),
                    F.concat(F.lit("veh-"), (F.col("value") % 100).cast("string")).alias("Vehicle_ID"),
                    F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("Record_DateTime"),
                    (F.col("value") % 90).cast("double").alias("Latitude"),
                    (F.col("value") % 180).cast("double").alias("Longitude"),
                )
            ).alias("value")
        )
    # Broker connectors: config passthrough that resolves at deploy time;
    # their payload column is binary → cast to the string JSON contract.
    if kind in ("kafka", "eventhub"):
        fmt, opts, payload = "kafka", kafka_reader_options(options), "value"
    elif kind == "pulsar":
        # the north-star source (reference deployment/pipeline.yaml:35-39
        # relay); broker-less local runs use the jsonl bridge instead
        # (plans/from_yaml.py path override).
        fmt = options.pop("format", "pulsar")
        opts, payload = pulsar_reader_options(options), "value"
    elif kind == "kinesis":
        fmt, opts, payload = options.pop("format", "aws-kinesis"), options, "data"
    else:
        raise ValueError(f"unknown source kind: {kind} (known: {SOURCE_KINDS})")
    df = reader.format(fmt).options(**opts).load()
    return df.withColumn("value", F.col(payload).cast("string"))


SINK_KINDS = ("pulsar", "kafka", "eventhub", "jsonl")


def pulsar_writer_options(options: dict[str, Any]) -> dict[str, str]:
    """Writer-side twin of :func:`pulsar_reader_options`: `service.url`
    required; `topic` names a fixed target topic and is OMITTED when the
    frame routes per-record via a `__topic` column (the connector's
    dynamic-topic contract, mirroring the reference's per-tenant
    publish — Filterer semantics)."""
    friendly = {
        "service_url": "service.url",
        "admin_url": "admin.url",
        "topic": "topic",
    }
    mapped = {friendly.get(k, k): str(v) for k, v in options.items()}
    if "service.url" not in mapped:
        raise ValueError("pulsar sink requires service_url= (or service.url=)")
    return mapped


def open_topic_sink(
    df: DataFrame,
    kind: str,
    streaming: bool = True,
    topic_column: str | None = None,
    **options: Any,
):
    """Configure a topic-oriented writer for ``df`` (a frame with a string
    ``value`` column) — the publish side of the relay topology.

    kinds:
      pulsar — passthrough to the pulsar-spark connector.  Fixed topic via
               topic=...; dynamic per-record routing via topic_column=
               (renamed to the connector's ``__topic`` attribute).
      kafka / eventhub — passthrough to Spark's kafka sink.  Fixed topic
               via topic=...; dynamic routing via topic_column= (renamed
               to the sink's ``topic`` column).
      jsonl  — broker-less fallback: value lines as text files under
               path= (the bridge-drop pattern, reversible by the jsonl
               source).

    Returns the configured ``DataStreamWriter`` / ``DataFrameWriter`` —
    the caller adds checkpoint/trigger/mode and starts it, so tests can
    assert the configuration without a broker."""
    kind = kind.lower()
    if kind == "pulsar":
        out = df
        if topic_column is not None:
            out = out.withColumn("__topic", F.col(topic_column))
            if topic_column != "__topic":
                # only the connector's reserved __topic column is
                # metadata — a leftover routing column would ride into
                # the published payload as a data field
                out = out.drop(topic_column)
            options.pop("topic", None)
        writer = (out.writeStream if streaming else out.write).format(
            options.pop("format", "pulsar")
        )
        for k, v in pulsar_writer_options(options).items():
            writer = writer.option(k, v)
        return writer
    if kind in ("kafka", "eventhub"):
        out = df
        if topic_column is not None:
            out = out.withColumn("topic", F.col(topic_column))
            if topic_column != "topic":
                out = out.drop(topic_column)
            options.pop("topic", None)
        writer = (out.writeStream if streaming else out.write).format("kafka")
        friendly = {"bootstrap_servers": "kafka.bootstrap.servers", "topic": "topic"}
        for k, v in options.items():
            writer = writer.option(friendly.get(k, k), str(v))
        return writer
    if kind == "jsonl":
        path = options.pop("path")
        if topic_column is not None:
            # dynamic routing in the bridge: one `topic=` dir per target
            # (text sink keeps exactly one data column — `value`)
            sel = df.select(F.col(topic_column).alias("topic"), "value")
            writer = (sel.writeStream if streaming else sel.write).format("text")
            return writer.partitionBy("topic").option("path", path)
        writer = (df.select("value").writeStream if streaming else df.select("value").write).format("text")
        return writer.option("path", path)
    raise ValueError(f"unknown sink kind: {kind} (known: {SINK_KINDS})")
