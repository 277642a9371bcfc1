"""Training-keyspace schemas + cell-metadata columns (SURVEY.md §1).

The reference's keyspace ``training`` has four tables
(lab/init-scripts/01-create-schema.cql:11-53).  CQL types map to
Spark types per SURVEY.md §1.2; UUIDs are canonical 36-char strings,
``decimal`` is DecimalType(18,2) (generator writes 2-digit scale,
lab/scripts/generate_data.py:84,117).

Cassandra cells carry writetime (µs) and optional TTL (s); CDM
migrates them as row-level values (docs/04-cdm-approach.md:826-829,
lab/cdm-config/cdm.properties:33-35).  We model them as two metadata
columns carried through every operator.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WRITETIME_COL = "_writetime"  # microseconds since epoch (LongType)
TTL_COL = "_ttl"  # seconds (IntegerType), NULL = no TTL
METADATA_COLS = (WRITETIME_COL, TTL_COL)

# lab/init-scripts/01-create-schema.cql:11-21
USERS = StructType(
    [
        StructField("user_id", StringType(), False),  # uuid PK
        StructField("username", StringType()),
        StructField("email", StringType()),
        StructField("first_name", StringType()),
        StructField("last_name", StringType()),
        StructField("created_at", TimestampType()),
        StructField("status", StringType()),
        StructField("address", StringType()),
        StructField("phone", StringType()),
        StructField("preferences", MapType(StringType(), StringType())),
    ]
)

# lab/init-scripts/01-create-schema.cql:24-32
ORDERS = StructType(
    [
        StructField("order_id", StringType(), False),  # uuid PK
        StructField("user_id", StringType()),
        StructField("order_date", TimestampType()),
        StructField("total_amount", DecimalType(18, 2)),
        StructField("status", StringType()),
        StructField("items", ArrayType(StringType())),
        StructField("shipping_address", StringType()),
    ]
)

# lab/init-scripts/01-create-schema.cql:35-43
PRODUCTS = StructType(
    [
        StructField("product_id", StringType(), False),  # uuid PK
        StructField("name", StringType()),
        StructField("description", StringType()),
        StructField("price", DecimalType(18, 2)),
        StructField("category", StringType()),
        StructField("stock_quantity", IntegerType()),
        StructField("created_at", TimestampType()),
    ]
)

# lab/init-scripts/01-create-schema.cql:46-53 — time-series table:
# partition key (user_id, activity_date), clustering activity_time DESC
USER_ACTIVITY = StructType(
    [
        StructField("user_id", StringType(), False),
        StructField("activity_date", DateType(), False),
        StructField("activity_time", TimestampType(), False),
        StructField("activity_type", StringType()),
        StructField("details", StringType()),
    ]
)

TRAINING_SCHEMAS: dict[str, StructType] = {
    "users": USERS,
    "orders": ORDERS,
    "products": PRODUCTS,
    "user_activity": USER_ACTIVITY,
}

# primary keys: partition + clustering columns, in order
# (lab/scripts/validate_migration.py:5-10 keeps the same registry)
PRIMARY_KEYS: dict[str, list[str]] = {
    "users": ["user_id"],
    "orders": ["order_id"],
    "products": ["product_id"],
    "user_activity": ["user_id", "activity_date", "activity_time"],
}

# partition-key prefix (the token-hashed part)
PARTITION_KEYS: dict[str, list[str]] = {
    "users": ["user_id"],
    "orders": ["order_id"],
    "products": ["product_id"],
    "user_activity": ["user_id", "activity_date"],
}
