"""Declared StructType schemas for every engine table.

The reference declares all schemas as DDL (reference: sql/init/
01_init_all.sql:5-57, sql/dds/s_sql_dds/table/t_dim_tables.sql:1-27,
table/t_dm_task.sql:1-15, table/t_dq_check_results.sql:4-16). Spark has no
enforced CHECK/UNIQUE/FK constraints — integrity is established by the
cleansing transform (cleanse.py) and re-verified by the DQ framework (dq.py),
mirroring how the reference's own DQ layer re-checks its constraints.

Money columns stay DecimalType(15,2): the DQ reconciliation check compares
sums at 1% tolerance and decimal keeps those sums exact and
platform-independent (double summation is order-dependent under parallelism).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- bronze: raw source rows (t_sql_source_unstructured, 01_init_all.sql:5-20)
BRONZE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("user_id", T.StringType(), True),
        T.StructField("user_name", T.StringType(), True),
        T.StructField("age", T.IntegerType(), True),
        T.StructField("salary", T.DecimalType(15, 2), True),
        T.StructField("purchase_amount", T.DecimalType(15, 2), True),
        T.StructField("product_category", T.StringType(), True),
        T.StructField("region", T.StringType(), True),
        T.StructField("customer_status", T.StringType(), True),
        T.StructField("transaction_count", T.IntegerType(), True),
        T.StructField("effective_from", T.DateType(), True),
        T.StructField("effective_to", T.DateType(), True),
        T.StructField("current_flag", T.BooleanType(), True),
        T.StructField("loaded_at", T.TimestampType(), True),
    ]
)

# --- silver: cleansed rows (t_sql_source_structured, 01_init_all.sql:23-39)
SILVER_SCHEMA = T.StructType(
    [f for f in BRONZE_SCHEMA.fields if f.name != "loaded_at"]
    + [T.StructField("processed_at", T.TimestampType(), True)]
)

# --- gold star schema (t_dim_tables.sql:1-27, t_dm_task.sql:1-15)


def _dim_schema(id_col: str, key_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(id_col, T.IntegerType(), False),
            T.StructField(key_col, T.StringType(), False),
            T.StructField("created_dt", T.DateType(), True),
        ]
    )


DIM_CUSTOMER_SCHEMA = _dim_schema("customer_id", "customer_name")
DIM_PRODUCT_SCHEMA = _dim_schema("product_id", "product_category")
DIM_REGION_SCHEMA = _dim_schema("region_id", "region_name")
DIM_STATUS_SCHEMA = _dim_schema("status_id", "status_name")
DIM_SCHEMAS = {
    "dim_customer": DIM_CUSTOMER_SCHEMA,
    "dim_product": DIM_PRODUCT_SCHEMA,
    "dim_region": DIM_REGION_SCHEMA,
    "dim_status": DIM_STATUS_SCHEMA,
}

FACT_TASK_SCHEMA = T.StructType(
    [
        T.StructField("fact_id", T.LongType(), False),
        T.StructField("customer_id", T.IntegerType(), True),
        T.StructField("product_id", T.IntegerType(), True),
        T.StructField("region_id", T.IntegerType(), True),
        T.StructField("status_id", T.IntegerType(), True),
        T.StructField("age", T.IntegerType(), True),
        T.StructField("salary", T.DecimalType(15, 2), True),
        T.StructField("purchase_amount", T.DecimalType(15, 2), True),
        T.StructField("transaction_count", T.IntegerType(), True),
        T.StructField("effective_from", T.DateType(), True),
        T.StructField("effective_to", T.DateType(), True),
        T.StructField("current_flag", T.BooleanType(), True),
        T.StructField("created_dt", T.DateType(), True),
    ]
)

# --- DQ results (t_dq_check_results.sql:4-16)
DQ_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("check_id", T.IntegerType(), False),
        T.StructField("check_type", T.StringType(), False),
        T.StructField("table_name", T.StringType(), True),
        T.StructField("column_name", T.StringType(), True),
        T.StructField("check_name", T.StringType(), True),
        T.StructField("execution_date", T.TimestampType(), False),
        T.StructField("status", T.StringType(), False),  # passed|failed|error
        T.StructField("expected_value", T.DecimalType(15, 4), True),
        T.StructField("actual_value", T.DecimalType(15, 4), True),
        T.StructField("error_threshold", T.DecimalType(15, 4), True),
        T.StructField("error_message", T.StringType(), True),
    ]
)

# Vocabularies used by the generator and cleansing whitelist
# (reference: get_dataset.py:13-16; 01_init_all.sql:103-107)
PRODUCT_CATEGORIES = ["Electronics", "Clothing", "Books", "Home", "Sports"]
REGIONS = ["North", "South", "East", "West", "Central"]
CUSTOMER_STATUSES = ["active", "inactive", "pending"]
