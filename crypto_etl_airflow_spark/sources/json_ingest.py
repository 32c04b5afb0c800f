"""JSON payload → DataFrame ingest transform.

Re-expresses the reference's transform stage (reference
dags/crypto-etl-pipeline-psql.py:35-65): a nested API payload
``{coin: {currency: price}}`` becomes rows
``(crypto_id, price_usd, extracted_at)``.

Spark-first shape (SURVEY.md §2.2 P1-P4): the payload enters as ONE
string column, ``F.from_json`` parses it to a MapType, ``F.explode``
unpivots one row per outer key, and the key becomes a column — all
JVM-side expressions inside whole-stage codegen. The same plan works
unchanged when the input is millions of payload documents read from a
landing zone instead of one driver-fetched string.

The driver-fetched string enters as a driver-local relation
(:func:`.local.local_frame`, plan ``LocalTableScan``), not as
``createDataFrame([(payload,)])``: a Python list becomes a PythonRDD,
and every action over the batch — the load's barrier and, when it
counts 0 rows, its emptiness probe — would start Python workers to
replay one pickled string.

Reference semantics preserved:
- empty payload raises (reference :45-46 raises ValueError);
- ``extracted_at`` is constant per batch (reference :56 assigns one
  scalar) — ``F.current_timestamp()`` is evaluated once per query by
  Catalyst, matching exactly;
- we stamp UTC and store DOUBLE, deviating deliberately from the
  reference's naive-local wall clock and REAL/float4 narrowing
  (SURVEY.md §1.2).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .local import local_frame

PRICE_SCHEMA_COLUMNS = ("crypto_id", "price_usd", "extracted_at")


def payload_schema(currency: str = "usd") -> T.MapType:
    """Explicit schema for ``{coin: {currency: price}}`` — never
    inferred in the prod path (SURVEY.md §2.1 S3)."""
    return T.MapType(
        T.StringType(),
        T.StructType([T.StructField(currency, T.DoubleType())]),
    )


def json_payload_to_df(
    spark: SparkSession,
    payload_json: str,
    currency: str = "usd",
    extracted_at: dt.datetime | None = None,
) -> DataFrame:
    """Parse one price payload into (crypto_id, price_usd, extracted_at).

    ``extracted_at`` defaults to query-time UTC now (constant per
    batch); tests inject a fixed timestamp for determinism.
    """
    if not payload_json or payload_json.strip() in ("", "{}", "null"):
        raise ValueError("No data to transform: empty payload")

    raw = local_frame(spark, [(payload_json,)], "payload string")
    ts_col = (
        F.lit(extracted_at).cast("timestamp")
        if extracted_at is not None
        else F.current_timestamp()
    )
    return (
        raw.select(
            F.explode(F.from_json("payload", payload_schema(currency))).alias(
                "crypto_id", "prices"
            )
        )
        .select(
            "crypto_id",
            F.col("prices").getField(currency).alias("price_usd"),
        )
        .withColumn("extracted_at", ts_col)
    )


def payloads_to_df(
    df: DataFrame,
    payload_col: str = "payload",
    currency: str = "usd",
) -> DataFrame:
    """Distributed variant: a DataFrame with one JSON payload string
    per row (e.g. a landing-zone read of many API snapshots) →
    exploded price rows. Same expressions, arbitrary scale."""
    return df.select(
        F.explode(F.from_json(payload_col, payload_schema(currency))).alias(
            "crypto_id", "prices"
        ),
        *[c for c in df.columns if c != payload_col],
    ).select(
        "crypto_id",
        F.col("prices").getField(currency).alias("price_usd"),
        *[c for c in df.columns if c != payload_col],
    )


def split_valid_invalid(
    df: DataFrame,
    payload_col: str = "payload",
    schema: T.DataType | None = None,
    currency: str = "usd",
) -> tuple[DataFrame, DataFrame]:
    """Quarantine pattern: split payload rows into (valid, invalid)
    by parseability instead of failing the batch.

    The reference's only malformed-input behavior is raise-and-halt
    (reference dags/crypto-etl-pipeline-psql.py:45-46); at pipeline
    scale a poison payload must not kill the hour's load, so invalid
    rows divert to a quarantine sink for inspection while valid rows
    continue.

    Parse-failure detection per Spark's PERMISSIVE-mode contract:
    Map/Array schemas yield a NULL result on malformed input; Struct
    schemas yield an all-null row instead, so there the corrupt-record
    column (``columnNameOfCorruptRecord``) is the reliable signal.
    """
    schema = schema or payload_schema(currency)
    if isinstance(schema, T.StructType):
        probed = T.StructType(
            [*schema.fields, T.StructField("__corrupt", T.StringType())]
        )
        parsed = df.withColumn(
            "__parsed",
            F.from_json(
                F.col(payload_col),
                probed,
                {"columnNameOfCorruptRecord": "__corrupt"},
            ),
        )
        is_valid = F.col(payload_col).isNotNull() & F.col(
            "__parsed.__corrupt"
        ).isNull()
    else:
        parsed = df.withColumn(
            "__parsed", F.from_json(F.col(payload_col), schema)
        )
        is_valid = F.col(payload_col).isNotNull() & F.col("__parsed").isNotNull()
    valid = parsed.filter(is_valid).drop("__parsed")
    invalid = parsed.filter(~is_valid).drop("__parsed")
    return valid, invalid
