"""Testdata catalog: load the driver's parquet corpus.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings. Parquet scans get column pruning
and predicate pushdown for free; this helper is the single place the
engine touches paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing the physical types the
    driver corpus has drifted on across rounds (events.ts changed
    nanos→micros in round 3; guard the other likely drifts the same
    way so every operator sees one stable logical schema):

    - ``embeddings.embedding`` → ``array<float>`` (the ANN family's
      expected element type; a future array<double> shipment would
      silently change cosine math otherwise),
    - ``embeddings.label`` → ``int`` kept as shipped (int32) — only
      the vector element type matters downstream.

    ``events.ts`` is intentionally NOT normalized here: epoch-unit
    conversion needs type-specific integer math, which
    ``plans/analytics.py::load_events`` owns."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "embeddings" and dict(df.dtypes).get("embedding") not in (
        None,
        "array<float>",
    ):
        df = df.withColumn("embedding", df["embedding"].cast("array<float>"))
    return df
