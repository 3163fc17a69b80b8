"""Explicit schemas — the engine infers none it can declare.

Input schemas mirror the reference's CSV inputs (reference
``movies.csv:1``, ``ratings.csv:1``); output schemas mirror the 4-table
normalized model (reference ``schema.sql:4-40``) with the type-affinity
quirks fixed (SURVEY.md §1.2): ``release_year`` is a real INT (the
reference stores TEXT), ``box_office_dollars`` is a real LONG with
"N/A" mapped to NULL at clean time. The driver corpus tables are
declared as their parquet files carry them (``TESTDATA``), except
``events``, whose ``ts`` type only its footer tells.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---- raw inputs (MovieLens small CSVs) ----

MOVIES_RAW = T.StructType(
    [
        T.StructField("movieId", T.LongType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("genres", T.StringType(), True),
    ]
)

RATINGS_RAW = T.StructType(
    [
        T.StructField("userId", T.LongType(), False),
        T.StructField("movieId", T.LongType(), False),
        T.StructField("rating", T.DoubleType(), False),
        T.StructField("timestamp", T.LongType(), False),
    ]
)

# ---- enrichment lookup (flattened OMDb response, reference etl.py:135-145) ----

OMDB_LOOKUP = T.StructType(
    [
        T.StructField("lookup_title", T.StringType(), False),
        T.StructField("lookup_year", T.IntegerType(), True),
        T.StructField("imdb_id", T.StringType(), True),
        T.StructField("plot", T.StringType(), True),
        T.StructField("director", T.StringType(), True),
        T.StructField("box_office", T.StringType(), True),
        T.StructField("runtime", T.StringType(), True),
        T.StructField("imdb_rating", T.DoubleType(), True),
    ]
)

# ---- the driver's synthetic corpus (TESTDATA.md) ----
# Declared exactly as the parquet files carry them, so a load names its
# schema and runs no footer-reading Spark job. Every field is nullable
# because Spark reads every parquet column as nullable; the dates are
# TIMESTAMP(MICROS) without a UTC adjustment, i.e. ``timestamp_ntz``.

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType(), True),
        T.StructField("r_name", T.StringType(), True),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), True),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.IntegerType(), True),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), True),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.IntegerType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType(), True),
        T.StructField("s_name", T.StringType(), True),
        T.StructField("s_nationkey", T.IntegerType(), True),
        T.StructField("s_acctbal", T.DoubleType(), True),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType(), True),
        T.StructField("p_name", T.StringType(), True),
        T.StructField("p_brand", T.StringType(), True),
        T.StructField("p_type", T.StringType(), True),
        T.StructField("p_size", T.IntegerType(), True),
        T.StructField("p_retailprice", T.DoubleType(), True),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampNTZType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType(), True),
        T.StructField("l_partkey", T.LongType(), True),
        T.StructField("l_suppkey", T.LongType(), True),
        T.StructField("l_linenumber", T.IntegerType(), True),
        T.StructField("l_quantity", T.DoubleType(), True),
        T.StructField("l_extendedprice", T.DoubleType(), True),
        T.StructField("l_discount", T.DoubleType(), True),
        T.StructField("l_tax", T.DoubleType(), True),
        T.StructField("l_returnflag", T.StringType(), True),
        T.StructField("l_linestatus", T.StringType(), True),
        T.StructField("l_shipdate", T.TimestampNTZType(), True),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType(), True), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

# Table name -> declared schema. ``events`` alone is None, i.e. read with
# inference: its ``ts`` has shipped as both parquet TIMESTAMP(NANOS) and
# TIMESTAMP(MICROS), and ``sources/catalog.py::load_events`` picks its
# epoch arithmetic from the type it finds. Only the file footer knows
# which one a shipment carries; a declared ``timestamp_ntz`` would fail
# to read a NANOS shipment.
TESTDATA = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": None,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
TESTDATA_TABLES = tuple(TESTDATA)
