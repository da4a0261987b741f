"""Event-semantics queries (SURVEY.md §2.9 Q1-Q12).

Each query exercises a concrete reference behavior (citation in the
docstring), re-expressed as declarative DataFrame ops so Catalyst gets
pushdown/pruning. All are narrow or single-shuffle plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atiesh_spark.functions.codec import base64_decode, base64_encode
from atiesh_spark.functions.maps import header_lookup, header_prefix_filter, merge_headers
from atiesh_spark.functions.text import drop_long_lines, split_body, truncate_lines
from atiesh_spark.operators.batching import assemble_batches
from atiesh_spark.operators.routing import route_first_accepted
from atiesh_spark.plans.registry import register
from atiesh_spark.sources.tables import load_table


@register(
    "q01_null_drop",
    oracle="SELECT event_id, props FROM events WHERE props IS NOT NULL",
    doc="Kafka null-record drop (KafkaSourceSenmantics.scala:147-156): "
    "records with null value are never wrapped as events.",
)
def q01_null_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.filter(F.col("props").isNotNull()).select("event_id", "props")


@register(
    "q02_transparent",
    oracle="SELECT * FROM events",
    doc="Transparent interceptor: identity pass-through "
    "(Transparent.scala:17-25).",
)
def q02_transparent(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@register(
    "q03_devnull",
    oracle="SELECT * FROM events WHERE false",
    doc="DevNull interceptor: every event becomes the Empty tombstone "
    "(DevNull.scala:17-28) == filter(false).",
)
def q03_devnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").filter(F.lit(False))


@register(
    "q04_body_split",
    oracle="""
    SELECT doc_id,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
           unnest(string_split(text, ' ')) AS value
    FROM documents
    """,
    doc="HTTP body delimiter split: one request body -> N events "
    "(HttpSource.scala:60-72,116-117); explode(split()) keeps it JVM-side.",
)
def q04_body_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return split_body(docs, "text", delimiter=" ", out_col="value", pos_col="pos")


@register(
    "q05_line_truncate",
    oracle="SELECT doc_id, substring(text, 1, 100) AS line FROM documents",
    doc="Long-line truncate policy at max-line-length "
    "(DirectoryWatchSourceSemantics.scala:224-245, truncate variant).",
)
def q05_line_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", truncate_lines("text", 100).alias("line"))


@register(
    "q06_line_drop",
    oracle="SELECT doc_id, n_chars FROM documents WHERE length(text) <= 300",
    doc="Long-line drop policy (DirectoryWatchSourceSemantics.scala:224-245, "
    "default drop variant).",
)
def q06_line_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return drop_long_lines(docs, "text", 300).select("doc_id", "n_chars")


@register(
    "q07_base64_roundtrip",
    oracle="""
    SELECT doc_id,
           base64(encode(text)) AS b64,
           (decode(from_base64(base64(encode(text)))) = text) AS ok
    FROM documents
    """,
    doc="Dump-file base64 codec round-trip "
    "(HttpLimitRequestSinkSemantics.scala:313-371).",
)
def q07_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b64 = base64_encode("text")
    return docs.select(
        "doc_id",
        b64.alias("b64"),
        (base64_decode(b64) == F.col("text")).alias("ok"),
    )


@register(
    "q08_route_first_accepted",
    oracle="""
    SELECT route, count(*) AS cnt FROM (
        SELECT CASE WHEN event_type = 'click' THEN 'sink_a'
                    WHEN value > 0.5 THEN 'sink_b' END AS route
        FROM events
    ) WHERE route IS NOT NULL GROUP BY route
    """,
    doc="first-accepted sink selection: event goes to the FIRST sink whose "
    "accept() is true, else discarded (Source.scala:46-56,339-365).",
)
def q08_route_first_accepted(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    routed = route_first_accepted(
        events,
        [("sink_a", F.col("event_type") == "click"), ("sink_b", F.col("value") > 0.5)],
    )
    return routed.groupBy("route").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "q09_batch_assembly",
    oracle="""
    SELECT event_type AS tag, count(*) AS n_events,
           string_agg(CAST(event_id AS VARCHAR), chr(10) ORDER BY event_id) AS body
    FROM events GROUP BY event_type
    """,
    doc="BatchSinkSemantics per-tag buffers (BatchSinkSemantics.scala:155-178) "
    "+ newline batch-body join (HttpSink.scala:151-154). Deterministic order "
    "via explicit sort key (mailbox order has no parallel equivalent).",
)
def q09_batch_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("tag"), F.col("event_id")
    )
    return assemble_batches(events, "tag", value_col="event_id", order_col="event_id")


@register(
    "q10_counters",
    oracle="""
    SELECT count(*) AS n_total,
           count(*) FILTER (WHERE props IS NULL) AS n_null_props,
           count(*) FILTER (WHERE event_type = 'click') AS n_click,
           count(*) FILTER (WHERE event_type = 'click' OR value > 0.5) AS n_routed
    FROM events
    """,
    doc="Metric counter parity: accepted/intercepted/routed counts the "
    "reference tracks via Kamon (SourceMetrics.scala:22-79) become a "
    "single-pass conditional aggregation.",
)
def q10_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("props").isNull(), 1)).alias("n_null_props"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(
            F.when((F.col("event_type") == "click") | (F.col("value") > 0.5), 1)
        ).alias("n_routed"),
    )


@register(
    "q11_header_map_ops",
    oracle="""
    SELECT event_id,
           'overridden' AS ev_type,
           'default-topic' AS topic,
           2 AS n_captured,
           'x-atiesh-id,x-atiesh-type' AS captured_keys
    FROM events
    """,
    doc="Header-map algebra: upsert merge (SimpleEvent.scala:23-26), "
    "prefix capture (HttpSource.scala:119-126), lookup-with-default topic "
    "routing (KafkaLimitAckSink.scala:48-50). The oracle states the "
    "expected scalar outcomes; Spark must reach them through real map ops.",
)
def q11_header_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    headers = F.create_map(
        F.lit("content-type"), F.lit("text/plain"),
        F.lit("x-atiesh-id"), F.col("event_id").cast("string"),
        F.lit("x-atiesh-type"), F.col("event_type"),
    )
    merged = merge_headers(headers, F.create_map(F.lit("x-atiesh-type"), F.lit("overridden")))
    captured = header_prefix_filter(merged, "X-Atiesh-")
    return events.select(
        "event_id",
        F.element_at(merged, F.lit("x-atiesh-type")).alias("ev_type"),
        header_lookup(merged, "kafka-topic", "default-topic").alias("topic"),
        F.size(captured).alias("n_captured"),
        F.array_join(F.array_sort(F.map_keys(captured)), ",").alias("captured_keys"),
    )


@register(
    "q46_schema_on_read",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           event_type
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 50
    """,
    doc="Schema-on-read: the reference treats payloads as opaque strings "
    "parsed ad hoc by components (SURVEY §1.1); here the JSON props "
    "column is parsed declaratively (get_json_object) with the extracted "
    "field usable in predicates — Catalyst still prunes/pushes the scan.",
)
def q46_schema_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_id", k.alias("k"), "event_type")
        .filter(F.col("k") >= 50)
    )


@register(
    "q12_window_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start,
           event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
    doc="Tumbling event-time window — additive capability (the reference "
    "has no event time, SURVEY §2.7); batch-checkable as 10-min bucketing.",
)
def q12_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt")
    )


@register(
    "q13_enrich_broadcast",
    oracle="""
    SELECT n.n_name, count(*) AS cnt, round(sum(e.value), 2) AS total_value
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="CachedProxy-style enrichment (CachedProxy.scala:232-258): remote "
    "dictionary lookup becomes a broadcast hash join against a small dim — "
    "no shuffle of the fact side.",
)
def q13_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    nation = load_table(spark, sf_dir, "nation")
    joined = events.join(
        F.broadcast(nation), events.user_id % 25 == nation.n_nationkey, "inner"
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
