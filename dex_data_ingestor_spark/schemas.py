"""Explicit schema registry.

The reference keeps schemas implicit in SQL column lists (SURVEY.md
§1.3; reference: src/ingestion/SqlDbEtl.py:49-70 and the SELECT lists in
each task). Here every table the engine touches has a declared
StructType: the driver-generated testbed tables, and the
reference-domain warehouse tables (dim/fact) the pipelines produce.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Driver testbed tables (/root/testdata/sf*/; see FIXTURES.md §1).
# `events.ts` is TIMESTAMP(MICROS, isAdjustedToUTC=false) on disk in every
# shipped SF, read natively as TIMESTAMP_NTZ. The older TIMESTAMP(NANOS)
# encoding is still read: Spark surfaces it as a nanosecond long and
# io.load_table converts it to TIMESTAMP_NTZ (tests/test_io.py).
# --------------------------------------------------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TESTBED: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

# --------------------------------------------------------------------------
# Reference-domain warehouse tables (SURVEY.md §1.1), declared explicitly.
# Decimal widths follow the reference contracts: APY DECIMAL(10,2)
# (reference: src/utils/utils.py:13), prices decimal(38,18)
# (reference comment utils.py:125 says (36,18); Spark max precision 38).
# --------------------------------------------------------------------------

DIM_CHAINS = T.StructType(
    [
        T.StructField("chain_id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("updated_at", T.TimestampNTZType()),
    ]
)

DIM_TOKENS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),  # deterministic surrogate
        # int, as sync_dim_tokens writes it: the surrogate id and every
        # fact's token_id hash the int literal 1, so a bigint here
        # would change every key
        T.StructField("chain_id", T.IntegerType(), False),
        T.StructField("address", T.StringType(), False),
        T.StructField("symbol", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("decimals", T.IntegerType()),
        T.StructField("asset_type_id", T.IntegerType()),
        T.StructField("updated_at", T.TimestampNTZType()),
    ]
)

FACT_TOKEN_DAILY_STATS = T.StructType(
    [
        T.StructField("token_id", T.LongType(), False),
        T.StructField("date", T.DateType(), False),
        T.StructField("volume", T.DoubleType()),
        T.StructField("volume_usd", T.DoubleType()),
        T.StructField("volume_yoy", T.DoubleType()),
        T.StructField("volume_qoq", T.DoubleType()),
        T.StructField("txns_count", T.LongType()),
        T.StructField("txns_yoy", T.DoubleType()),
        T.StructField("txns_qoq", T.DoubleType()),
        T.StructField("price_usd", T.DecimalType(38, 18)),
        T.StructField("created_at", T.TimestampNTZType()),
    ]
)

FACT_YIELD_STATS = T.StructType(
    [
        T.StructField("token_id", T.LongType(), False),
        T.StructField("return_type_id", T.IntegerType()),
        T.StructField("pool_address", T.StringType(), False),
        T.StructField("date", T.DateType(), False),
        T.StructField("apy", T.DecimalType(10, 2)),
        T.StructField("tvl", T.DoubleType()),
        T.StructField("tvl_usd", T.DoubleType()),
        T.StructField("created_at", T.TimestampNTZType()),
    ]
)

ETL_CONTROL = T.StructType(
    [
        T.StructField("task_name", T.StringType(), False),
        T.StructField("last_run", T.TimestampNTZType()),
    ]
)

WAREHOUSE: dict[str, T.StructType] = {
    "dim_chains": DIM_CHAINS,
    "dim_tokens": DIM_TOKENS,
    "fact_token_daily_stats": FACT_TOKEN_DAILY_STATS,
    "fact_yield_stats": FACT_YIELD_STATS,
    "etl_control": ETL_CONTROL,
}
