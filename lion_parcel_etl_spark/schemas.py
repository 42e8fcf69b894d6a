"""Explicit StructTypes for every table the engine touches.

The reference mixes inferred and declared schemas (SURVEY.md §1.3); the
Spark engine declares everything explicitly so schema-on-read is exact,
JSON parsing never silently widens types, and a parquet read runs no
schema-inference job. That covers the pipelines' inputs and outputs
below and the registry's ten source tables (:data:`SOURCE_TABLES`).
Tables the engine writes itself (warehouse tables, session stores)
carry their schema in a ``_schema.json`` file instead (see catalog.py).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Retail pipeline (reference: public/source_transaction_lion_parcel.py:30-42,
# dbt/models/marts/retail_transactions*.sql — see FIXTURES.md §1-4)
# ---------------------------------------------------------------------------

SOURCE_TRANSACTION = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("customer_id", T.LongType()),
        T.StructField("last_status", T.StringType()),
        T.StructField("pos_origin", T.StringType()),
        T.StructField("pos_destination", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)

STG_RETAIL_TRANSACTIONS = T.StructType(
    list(SOURCE_TRANSACTION.fields) + [T.StructField("loaded_at", T.TimestampType())]
)

RETAIL_TRANSACTIONS = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("customer_id", T.StringType()),
        T.StructField("last_status", T.StringType()),
        T.StructField("pos_origin", T.StringType()),
        T.StructField("pos_destination", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("updated_at", T.TimestampType()),
        T.StructField("deleted_at", T.TimestampType()),
    ]
)

RETAIL_TRANSACTIONS_SCD = T.StructType(
    list(RETAIL_TRANSACTIONS.fields)
    + [
        T.StructField("valid_from", T.TimestampType()),
        T.StructField("valid_to", T.TimestampType()),
        T.StructField("is_current", T.BooleanType()),
        T.StructField("dw_inserted_at", T.TimestampType()),
        T.StructField("dw_updated_at", T.TimestampType()),
    ]
)

# Open-ended validity sentinel (reference retail_transactions_scd.sql:115,215).
SCD_SENTINEL = "9999-12-31 23:59:59"

# ---------------------------------------------------------------------------
# Bonus metrics-JSON pipeline (reference downloads_json/*.json, parsed at
# public/lion_parcell_bonus_test_stg.py:175-212 — see FIXTURES.md §5-7)
# ---------------------------------------------------------------------------

METRIC_DATA_RESULT = T.StructType(
    [
        T.StructField("Id", T.StringType()),
        T.StructField("Label", T.StringType()),
        T.StructField("Timestamps", T.ArrayType(T.StringType())),
        T.StructField("Values", T.ArrayType(T.DoubleType())),
        T.StructField("StatusCode", T.StringType()),
    ]
)

# `Messages` is heterogeneous (string OR object elements) so it is NOT in
# this schema; it is extracted from the raw document text and normalized
# separately (see sources/metrics_json.py and SURVEY.md §7 hard part 1).
METRICS_DOC = T.StructType(
    [T.StructField("MetricDataResults", T.ArrayType(METRIC_DATA_RESULT))]
)

METRICS_DETAIL = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("runtime_date", T.StringType()),  # lexicographic max, stays string
        T.StructField("sum_ms", T.DoubleType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("load_time", T.DoubleType()),
        T.StructField("Message", T.StringType()),
        T.StructField("source_file", T.StringType()),
    ]
)

METRICS_FINAL = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("runtime_date", T.StringType()),  # ISO-8601 with +00:00
        T.StructField("load_time", T.DoubleType()),
        T.StructField("Message", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Registry source tables (``<sf_dir>/<name>.parquet``, read by
# plans/queries._t). Each is the schema parquet inference reports for the
# data under the session conf: every field nullable, the TIMESTAMP(MICROS,
# isAdjustedToUTC=false) columns as timestamp_ntz, order as in the files.
# tests/test_schemas.py pins each against inference on every present
# scale factor.
# ---------------------------------------------------------------------------


def _fields(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dt) for name, dt in cols])


_INT, _LONG, _DOUBLE, _STR, _TS = (
    T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType(), T.TimestampNTZType()
)

SOURCE_TABLES: dict[str, T.StructType] = {
    "region": _fields(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _fields(("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)),
    "customer": _fields(
        ("c_custkey", _LONG),
        ("c_name", _STR),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STR),
    ),
    "supplier": _fields(
        ("s_suppkey", _LONG), ("s_name", _STR), ("s_nationkey", _INT), ("s_acctbal", _DOUBLE)
    ),
    "part": _fields(
        ("p_partkey", _LONG),
        ("p_name", _STR),
        ("p_brand", _STR),
        ("p_type", _STR),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _fields(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _TS),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _fields(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STR),
        ("l_linestatus", _STR),
        ("l_shipdate", _TS),
    ),
    "events": _fields(
        ("event_id", _LONG),
        ("ts", _TS),
        ("user_id", _LONG),
        ("event_type", _STR),
        ("value", _DOUBLE),
        ("props", _STR),
    ),
    "documents": _fields(
        ("doc_id", _LONG), ("text", _STR), ("lang", _STR), ("source", _STR), ("n_chars", _LONG)
    ),
    "embeddings": _fields(
        ("vec_id", _LONG), ("embedding", T.ArrayType(T.FloatType())), ("label", _INT)
    ),
}
