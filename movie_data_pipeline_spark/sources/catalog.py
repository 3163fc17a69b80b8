"""Testdata catalog: load the driver's parquet corpus.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings. Parquet scans get column pruning
and predicate pushdown for free; this helper is the single place the
engine touches paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with its declared schema
    (``schemas.TESTDATA``), so the read runs no Spark job to infer it.

    A shipment whose physical types drift from the declaration fails
    loudly when the scan runs (e.g. ``array<double>`` embeddings read
    as the declared ``array<float>``); the schema test pins the
    declarations against every corpus first.

    ``events`` is read with inference: ``load_events`` below
    needs the physical type of ``ts`` to pick its epoch arithmetic."""
    schema = TESTDATA[name]
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_events(spark: SparkSession, sf: str) -> DataFrame:
    """Load events with epoch columns, adapting to whatever physical
    type ``ts`` carries — the driver testdata has shipped it as both
    parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS):

    - TIMESTAMP(NANOS): Spark 4 rejects it by default; the session
      reads it as raw nanos (LongType, ``nanosAsLong`` set in
      ``session.get_spark``) and this derives µs/sec with integer DIV
      (ns epochs exceed 2^53 — double math would corrupt them).
    - TIMESTAMP(MICROS) as TIMESTAMP_NTZ: ``timestampdiff`` from the
      NTZ epoch is timezone-independent wall-clock-as-UTC micros —
      exactly DuckDB's ``epoch_us(ts)``.
    - TIMESTAMP (session-tz): ``unix_micros`` directly.

    All downstream event queries consume ``ts_us``/``ts_sec`` only,
    never raw ``ts``, so the physical type is contained here."""
    df = load_table(spark, sf, "events")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return df.withColumn("ts_us", F.expr("ts DIV 1000")).withColumn(
            "ts_sec", F.expr("ts DIV 1000000000")
        )
    if ts_type == "timestamp_ntz":
        us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    else:
        us = F.expr("unix_micros(ts)")
    return df.withColumn("ts_us", us).withColumn(
        "ts_sec", F.expr("ts_us DIV 1000000")
    )
