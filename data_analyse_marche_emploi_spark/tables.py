"""Test-fixture table loaders.

The driver materializes a TPC-H-ish star schema plus ``events`` /
``documents`` / ``embeddings`` at ``/root/testdata/sf*/NAME.parquet``
(TESTDATA.md). These loaders are the engine's ``src_es_scan`` equivalent
(reference: Logstash elasticsearch input, export-offres-csv.conf:1-12):
a declarative scan that Catalyst pushes projections and predicates into.

The fixture schemas are declared in ``SCHEMAS`` (FIXTURES.md §A), so a
scan resolves without the schema-inference Spark job that
``spark.read.parquet`` runs on every call to read the footer. This is
declared metadata, not a data cache: nothing is kept across calls.
``tests/test_tables_schema.py`` pins each declaration to the schema
Spark infers from the fixture footers. The footers store every
timestamp as TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark
reads as ``timestamp_ntz``; the one exception still accepted is an
``events.ts`` stored as TIMESTAMP(NANOS), which ``events_read_schema``
detects from the footer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _schema(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype) for name, dtype in cols])


_INT, _LONG, _DOUBLE = T.IntegerType(), T.LongType(), T.DoubleType()
_STR, _TS = T.StringType(), T.TimestampNTZType()

SCHEMAS: dict[str, T.StructType] = {
    "region": _schema(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _schema(("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)),
    "customer": _schema(
        ("c_custkey", _LONG), ("c_name", _STR), ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE), ("c_mktsegment", _STR),
    ),
    "supplier": _schema(
        ("s_suppkey", _LONG), ("s_name", _STR), ("s_nationkey", _INT),
        ("s_acctbal", _DOUBLE),
    ),
    "part": _schema(
        ("p_partkey", _LONG), ("p_name", _STR), ("p_brand", _STR),
        ("p_type", _STR), ("p_size", _INT), ("p_retailprice", _DOUBLE),
    ),
    "orders": _schema(
        ("o_orderkey", _LONG), ("o_custkey", _LONG), ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE), ("o_orderdate", _TS), ("o_orderpriority", _STR),
    ),
    "lineitem": _schema(
        ("l_orderkey", _LONG), ("l_partkey", _LONG), ("l_suppkey", _LONG),
        ("l_linenumber", _INT), ("l_quantity", _DOUBLE), ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE), ("l_tax", _DOUBLE), ("l_returnflag", _STR),
        ("l_linestatus", _STR), ("l_shipdate", _TS),
    ),
    "events": _schema(
        ("event_id", _LONG), ("ts", _TS), ("user_id", _LONG),
        ("event_type", _STR), ("value", _DOUBLE), ("props", _STR),
    ),
    "documents": _schema(
        ("doc_id", _LONG), ("text", _STR), ("lang", _STR), ("source", _STR),
        ("n_chars", _LONG),
    ),
    "embeddings": _schema(
        ("vec_id", _LONG), ("embedding", T.ArrayType(T.FloatType())), ("label", _INT),
    ),
}

TABLES = tuple(SCHEMAS)

# events with ``ts`` as parquet TIMESTAMP(NANOS), which Spark's
# vectorized reader rejects: under spark.sql.legacy.parquet.nanosAsLong
# it surfaces as nanos-since-epoch BIGINT instead.
_EVENTS_NANOS = _schema(
    *[(f.name, _LONG if f.name == "ts" else f.dataType) for f in SCHEMAS["events"]]
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def events_read_schema(spark: SparkSession, sf_dir: str) -> tuple[T.StructType, bool]:
    """The schema to read ``events.parquet`` with, and whether its ``ts``
    is TIMESTAMP(NANOS) — decided by a driver-side footer read, no job.

    Forcing the BIGINT schema onto a micros file would silently read
    micros as nanos (a 1000x shrink), so the schema must follow the
    footer. NANOS callers get the BIGINT ``ts`` (the legacy conf is set
    here) and floor it with ``floor_nanos_ts``.
    """
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    footer = pq.ParquetFile(os.path.join(sf_dir, "events.parquet")).schema_arrow
    ts = footer.field("ts").type
    if pat.is_timestamp(ts) and ts.unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _EVENTS_NANOS, True
    return SCHEMAS["events"], False


def floor_nanos_ts(df: DataFrame) -> DataFrame:
    """Truncate a nanos-since-epoch BIGINT ``ts`` to a micros timestamp —
    the same truncation DuckDB applies, so the oracle comparison stays
    exact."""
    return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table with its declared schema. Plain
    ``spark.read.parquet`` so predicate pushdown / column pruning /
    metadata-only counts all apply."""
    # DuckDB timestamps are UTC-naive; render the same wall-clock values
    # whatever session the caller brings (runtime-settable, idempotent).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        schema, ts_is_nanos = events_read_schema(spark, sf_dir)
        df = spark.read.schema(schema).parquet(path)
        return floor_nanos_ts(df) if ts_is_nanos else df
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL API)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
