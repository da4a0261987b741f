"""Batch parquet table loaders for the driver testdata.

Every table's layout is declared once, in ``SCHEMAS``, and ``load_table``
reads with ``spark.read.schema(...)``: a plain declarative scan (Catalyst
still gets predicate pushdown and column pruning) that runs no Spark job,
where an undeclared ``spark.read.parquet`` would run one schema-inference
job per call. Nothing is re-inferred: a file whose columns differ from
its declaration fails in ``load_table``, and a column that Spark cannot
read as its declared type fails when the scan runs. ``events.ts`` has
shipped in two layouts; ``load_table`` picks one from the parquet
footer, read with pyarrow in this process.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession

SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

TABLES = list(SCHEMAS)


def epoch_nanos_to_ntz(nanos_col: str) -> Column:
    """int64 epoch nanoseconds -> TIMESTAMP_NTZ (UTC wall clock),
    session-timezone-INDEPENDENT.

    Built from epoch arithmetic (floor-div to a date + make_timestamp_ntz)
    rather than cast through an instant, because instant->NTZ casts render
    in ``spark.sql.session.timeZone`` — a non-UTC caller session would
    silently shift every wall-clock value (and pinning the session zone
    would mutate the caller's session for everything else). Nanos are
    first floored to micros with integer division (ns magnitudes exceed
    double precision). ``div`` truncates toward zero and ``%`` keeps the
    dividend's sign, so pre-epoch instants use explicit FLOOR division —
    else the day is off by one and the time-of-day goes negative (an ANSI
    error in make_timestamp_ntz).
    """
    from pyspark.sql import functions as F

    us = f"(({nanos_col} - (({nanos_col} % 1000 + 1000) % 1000)) div 1000)"
    days = (
        f"(CASE WHEN {us} >= 0 THEN {us} div 86400000000 "
        f"ELSE (({us} + 1) div 86400000000) - 1 END)"
    )
    d = f"date_add(DATE '1970-01-01', CAST({days} AS INT))"
    tm = f"({us} - {days} * 86400000000)"
    return F.expr(
        f"make_timestamp_ntz(year({d}), month({d}), day({d}), "
        f"CAST({tm} div 3600000000 AS INT), "
        f"CAST(({tm} % 3600000000) div 60000000 AS INT), "
        f"CAST({tm} % 60000000 AS DECIMAL(8,0)) / 1000000)"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    footer = pq.read_schema(path)
    schema = SCHEMAS[name]
    nanos = False
    if name == "events":
        # ts has shipped as naive timestamp[us] (read as TIMESTAMP_NTZ,
        # the same wall clock DuckDB sees) and as naive TIMESTAMP(NANOS)
        # (read as raw int64 nanos, then converted session-timezone-
        # independently; see epoch_nanos_to_ntz). A zoned instant would
        # need a session-timezone decision the engine refuses to guess.
        ts_type = footer.field("ts").type
        if ts_type == pa.timestamp("ns"):
            nanos = True
            schema = schema.replace("ts TIMESTAMP_NTZ", "ts BIGINT")
            # the caller's session may not come from get_spark(); without
            # this runtime conf Spark rejects the TIMESTAMP(NANOS) column
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        elif ts_type != pa.timestamp("us"):
            raise TypeError(
                f"events.ts is {ts_type} in {path}; expected naive "
                "timestamp[us] or timestamp[ns]"
            )
    df = spark.read.schema(schema).parquet(path)
    if df.columns != footer.names:
        raise ValueError(
            f"{path} has columns {footer.names}; {name} declares {df.columns}"
        )
    if nanos:
        df = df.withColumn("ts", epoch_nanos_to_ntz("ts"))
    return df
