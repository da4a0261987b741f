"""Streaming source builders -> unbounded event DataFrames.

Each builder maps one reference source to the Structured Streaming
primitive that provides its semantics (SURVEY.md §2.1):

- devzero  (DevZero.scala:23-50): synthetic generator -> rate source with
  constant payload. `batch-size` pacing ≅ rowsPerSecond.
- dirwatch (DirectoryWatchSourceSemantics.scala:72-397): watched
  directory -> file text source. WatchService registration ≅ file
  discovery; resume offsets ≅ checkpoint; `cycle-max-lines` ≅
  maxFilesPerTrigger pacing; `fn`/`off` headers ≅ input_file_name();
  long-line truncate/drop policy applied as column expressions.
- kafka    (KafkaSourceSenmantics.scala:91-285): consumer poll loop ->
  kafka source. Offset commit cadence ≅ checkpointing; seek-beginning/
  seek-end ≅ startingOffsets; null-value drop ≅ filter.

All return the canonical event schema (value, headers) so interceptor
chains compose identically on any source.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atiesh_spark.config import bind_component
from atiesh_spark.model import to_events


def devzero_source(
    spark: SparkSession,
    rows_per_second: int = 1024,
    payload: str = "0",
) -> DataFrame:
    """Synthetic constant-payload generator (reference DevZero).

    DevZero emits `batch-size`+1 events of payload "0" per cycle
    (DevZero.scala:38-41); the rate source gives the same unbounded
    constant stream with per-second pacing.
    """
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(F.lit(payload).alias("value"), F.create_map().alias("headers"))
    )


def dirwatch_source(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    with_headers: bool = True,
    max_line_length: int | None = None,
    truncate: bool = False,
) -> DataFrame:
    """Watched-directory line source (reference DirectoryWatchSource).

    New files are discovered and read line-by-line; the `fn` (file name)
    header mirrors DirectoryWatchSourceSemanticsHeaders (lines 50-53).
    The reference's `off` byte-offset header is NOT provided here:
    offsets don't survive parallel file splits. Callers needing full
    provenance use ``dirwatch_source_with_offsets`` (sequential per-file
    split with exact byte offsets, at the cost of a Python ingest pass).

    Long-line policy (lines 224-245): truncate=True caps the value;
    truncate=False (reference default) drops the line.
    """
    # imported here, not at module level: Python workers import this
    # package to unpickle sink writers, and functions.text loads pandas
    from atiesh_spark.functions.text import drop_long_lines, truncate_lines

    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(path)
    value = F.col("value")
    if max_line_length is not None and truncate:
        value = truncate_lines(value, max_line_length)
    if with_headers:
        headers = F.create_map(F.lit("fn"), F.input_file_name())
    else:
        headers = F.create_map()
    out = df.select(value.alias("value"), headers.alias("headers"))
    if max_line_length is not None and not truncate:
        out = drop_long_lines(out, "value", max_line_length)
    return out


def dirwatch_source_with_offsets(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    max_line_length: int | None = None,
    truncate: bool = False,
) -> DataFrame:
    """Dirwatch with full provenance: `fn` AND `off` (byte offset) headers.

    The reference tracks each line's byte offset while reading the file
    sequentially (DirectoryWatchSourceSemanticsHeaders `off`,
    DirectoryWatchSourceSemantics.scala:220-223). Spark's parallel text
    source cannot know byte positions, so this variant reads each file as
    ONE row (wholetext) and splits lines in an Arrow-batched mapInPandas
    pass that carries the running byte offset — exact parity with the
    reference's sequential reader, at the cost of a Python ingest pass
    and one-file-per-row memory (the same whole-file granularity the
    reference's reader has). Use plain ``dirwatch_source`` (JVM-only)
    when `off` provenance isn't needed.

    Long-line policy mirrors the reference: a truncated line keeps its
    offset; a dropped line is skipped but its bytes still advance the
    offset of subsequent lines.
    """
    from collections.abc import Iterator

    import pandas as pd

    reader = spark.readStream.format("text").option("wholetext", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(path).select(F.input_file_name().alias("fn"), "value")

    def split_with_offsets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            values: list[str] = []
            headers: list[dict[str, str]] = []
            for fn, content in zip(pdf["fn"], pdf["value"]):
                if content is None:
                    continue
                lines = content.split("\n")
                if lines and lines[-1] == "":
                    lines.pop()  # artifact of the trailing newline, not a line
                off = 0
                for raw in lines:
                    nbytes = len(raw.encode("utf-8")) + 1  # +1: the '\n'
                    line = raw[:-1] if raw.endswith("\r") else raw
                    keep = True
                    if max_line_length is not None and len(line) > max_line_length:
                        if truncate:
                            line = line[:max_line_length]
                        else:
                            keep = False
                    if keep:
                        values.append(line)
                        headers.append({"fn": fn, "off": str(off)})
                    off += nbytes
            yield pd.DataFrame({"value": values, "headers": headers})

    return df.mapInPandas(
        split_with_offsets, "value string, headers map<string,string>"
    )


def kafka_source_options(
    bootstrap_servers: str,
    topics: list[str],
    seek: str | None = None,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Kafka reader options mapping the reference's config surface.

    seek-beginning/seek-end are mutually exclusive in the reference
    (KafkaSourceSenmantics.scala:50-53,241-272) -> startingOffsets;
    poll pacing -> maxOffsetsPerTrigger.
    """
    if seek not in (None, "beginning", "end"):
        raise ValueError("seek must be 'beginning', 'end', or None")
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": ",".join(topics),
        "startingOffsets": {"beginning": "earliest", "end": "latest", None: "latest"}[seek],
        "includeHeaders": "true",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: list[str],
    seek: str | None = None,
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka consumer -> canonical events.

    Record value becomes the payload; kafkaTopic/kafkaPartition headers
    mirror KafkaSourceSenmantics.scala:32-35,149-152; null-value records
    are dropped (lines 147-156).

    Requires the Kafka connector on the classpath (not bundled with
    PySpark): ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>``.
    """
    opts = kafka_source_options(bootstrap_servers, topics, seek, max_offsets_per_trigger)
    try:
        df = spark.readStream.format("kafka").options(**opts).load()
    except Exception as exc:
        if "Failed to find data source: kafka" in str(exc):
            raise RuntimeError(
                "Kafka connector not on the classpath. Start Spark with "
                "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:"
                f"{spark.version} (or add the jar to spark.jars)."
            ) from exc
        raise
    return df.filter(F.col("value").isNotNull()).select(
        F.col("value").cast("string").alias("value"),
        F.create_map(
            F.lit("kafkaTopic"), F.col("topic"),
            F.lit("kafkaPartition"), F.col("partition").cast("string"),
        ).alias("headers"),
    )


def json_source(
    spark: SparkSession,
    path: str,
    schema: str,
    max_files_per_trigger: int | None = None,
    value_col: str = "value",
    header_cols: Iterable[str] = (),
) -> DataFrame:
    """Schema'd JSON-lines file stream -> canonical events.

    The reference only reads raw lines; structured file formats are the
    engine-native upgrade: a user schema (DDL string) parses records at
    scan time, ``value_col`` picks the payload column and the listed
    ``header_cols`` become headers. Streaming file sources REQUIRE an
    explicit schema — inference would race the data.
    """
    reader = spark.readStream.format("json")
    return _file_events(reader, path, schema, max_files_per_trigger, value_col, header_cols)


def csv_source(
    spark: SparkSession,
    path: str,
    schema: str,
    max_files_per_trigger: int | None = None,
    value_col: str = "value",
    header_cols: Iterable[str] = (),
    header: bool = False,
) -> DataFrame:
    """``json_source`` for csv files; ``header`` marks files that start
    with a header line."""
    reader = spark.readStream.format("csv").option("header", header)
    return _file_events(reader, path, schema, max_files_per_trigger, value_col, header_cols)


def _file_events(reader, path, schema, max_files_per_trigger, value_col, header_cols) -> DataFrame:
    reader = reader.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return to_events(reader.load(path), value_col, {h: h for h in header_cols})


def http_push_source(
    spark: SparkSession,
    port: int,
    delimiter: str | None = None,
    capture_prefix: str | None = None,
    max_queue: int | None = None,
) -> DataFrame:
    """Passive HTTP ingress (custom Python data source, sources/http_push.py).

    Unset options keep the data source's own defaults."""
    from atiesh_spark.sources.http_push import register_http_push

    if not port:
        # port 0 (ephemeral) is a test-only mode: Spark instantiates the
        # data source in several Python workers, and each port-0 instance
        # would bind a DIFFERENT ephemeral port that no producer can
        # discover — a pipeline would silently ingest nothing.
        raise ValueError("http_push pipelines require an explicit 'port'")
    register_http_push(spark)
    reader = spark.readStream.format("http_push").option("port", port)
    if delimiter:
        reader = reader.option("delimiter", delimiter)
    if capture_prefix:
        reader = reader.option("capturePrefix", capture_prefix)
    if max_queue:
        reader = reader.option("maxQueue", max_queue)
    return reader.load()


#: spec ``type`` -> builder, called as ``builder(spark, **options)``.
SOURCE_BUILDERS = {
    "devzero": devzero_source,
    "dirwatch": dirwatch_source,
    "dirwatch_offsets": dirwatch_source_with_offsets,
    "kafka": kafka_source,
    "http_push": http_push_source,
    "json": json_source,
    "csv": csv_source,
}


def build_source(spark: SparkSession, cfg: dict) -> DataFrame:
    """Instantiate a source from a pipeline-spec section."""
    return bind_component("source", SOURCE_BUILDERS, cfg)(spark)
