"""Testdata catalog: load the driver's parquet corpus.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings. Parquet scans get column pruning
and predicate pushdown for free; this helper is the single place the
engine touches paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TESTDATA


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with its declared schema
    (``schemas.TESTDATA``), so the read runs no Spark job to infer it.

    A shipment whose physical types drift from the declaration fails
    loudly when the scan runs (e.g. ``array<double>`` embeddings read
    as the declared ``array<float>``); the schema test pins the
    declarations against every corpus first.

    ``events`` is read with inference: ``plans/analytics.py::load_events``
    needs the physical type of ``ts`` to pick its epoch arithmetic."""
    schema = TESTDATA[name]
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(os.path.join(sf_dir, f"{name}.parquet"))
