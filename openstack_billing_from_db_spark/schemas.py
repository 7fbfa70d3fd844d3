"""Explicit StructType schemas.

The reference never declares its schema — it is implicit in three SQL
strings (reference model.py:211-245). Here every table is declared up
front so scans never fall back to inference and Catalyst can prune
columns against a known ReadSchema.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Nova-derived billing model (reference model.py:228-245, 211-222) ---

INSTANCES = T.StructType(
    [
        T.StructField("uuid", T.StringType(), False),
        T.StructField("hostname", T.StringType(), True),
        T.StructField("project_id", T.StringType(), False),
        T.StructField("instance_type_id", T.IntegerType(), True),
        T.StructField("vcpus", T.IntegerType(), True),
        T.StructField("memory_mb", T.IntegerType(), True),
        T.StructField("deleted", T.IntegerType(), True),
        T.StructField("deleted_at", T.TimestampType(), True),
    ]
)

INSTANCE_EXTRA = T.StructType(
    [
        T.StructField("instance_uuid", T.StringType(), False),
        T.StructField("pci_requests", T.StringType(), True),  # JSON array-of-struct
    ]
)

INSTANCE_ACTIONS = T.StructType(
    [
        T.StructField("instance_uuid", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("action", T.StringType(), True),
        T.StructField("message", T.StringType(), True),
    ]
)

# pci_requests JSON payload (reference model.py:258-274): array of
# {"count": int, "alias_name": str, "spec": [...], ...}; count sometimes
# arrives as a string — declared StringType and cast after parse (F6).
PCI_REQUESTS = T.ArrayType(
    T.StructType(
        [
            T.StructField("count", T.StringType(), True),
            T.StructField("alias_name", T.StringType(), True),
        ]
    )
)

RATES = T.StructType(
    [
        T.StructField("service_unit_type", T.StringType(), False),
        T.StructField("su_name", T.StringType(), False),
        T.StructField("rate", T.DecimalType(10, 4), False),
    ]
)

# --- Driver testdata tables (/root/testdata/sf*/ — TESTDATA.md) ---

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
