"""The reference's full ETL DAG as one lazy Spark program (SURVEY.md §3.1).

Reference flow (etl.py:273-274): init_db >> initial_clean >> stage_dims >>
load_dims >> stage_fact >> load_fact >> clean_up, with CSV temp files
between tasks and a JDBC read-back of dims so facts can observe
Postgres-assigned SERIAL keys (etl.py:198-205).

Spark-first collapse: one SparkSession, stage boundaries become DataFrame
lineage, the staging CSVs disappear (Parquet/cache only where a
materialization barrier is genuinely needed), and the dim read-back is
unnecessary because surrogate keys are assigned deterministically in-plan
(operators/surrogate.py). Dims are cached before the fact join: they are
used twice (load + lookup) and must broadcast.

Scale: the fact table never shuffles - every dim lookup is a broadcast
hash join; dim builds shuffle only their (small) dim rows. The only global
window (SERIAL emulation) runs on dim-sized data by design.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_online_retail_spark.functions.datetime_fns import calendar_attrs
from etl_online_retail_spark.operators.cleaning import clean_invoices, not_unknown
from etl_online_retail_spark.operators.dedup import keep_last
from etl_online_retail_spark.operators.joins import broadcast_lookup
from etl_online_retail_spark.operators.surrogate import dense_keys, with_unknown_member

# P1 rename map (etl.py:53-64), xlsx headers -> warehouse column names
RAW_RENAMES = {
    "Invoice": "invoice_id",
    "StockCode": "stock_code",
    "Description": "description",
    "Quantity": "quantity",
    "InvoiceDate": "invoice_date",
    "Price": "unit_price",
    "Customer ID": "customer_id",
    "Country": "country",
}

SPINE_START = "2008-01-01"  # etl.py:130-138: 1,462-day date spine
SPINE_END = "2012-01-01"


@dataclass
class RetailWarehouse:
    """The star schema the pipeline produces (init_db.sql:7-42).
    load_metrics: row-level constraint counts observed DURING the fact
    write (no extra scan) when run_pipeline persists; None otherwise."""
    dim_customers: DataFrame
    dim_products: DataFrame
    dim_dates: DataFrame
    fct_invoices: DataFrame
    load_metrics: dict | None = None


def build_date_spine(spark: SparkSession) -> DataFrame:
    """dim_dates: daily spine with calendar attributes (etl.py:123-160)."""
    spine = spark.sql(
        f"SELECT explode(sequence(DATE '{SPINE_START}', DATE '{SPINE_END}', "
        "interval 1 day)) AS d"
    )
    attrs = calendar_attrs("d")
    return spine.select(
        attrs["date_dim_id"].alias("date_dim_id"),
        attrs["date"].alias("date"),
        attrs["year"].alias("year"),
        attrs["month"].alias("month"),
        attrs["day"].alias("day"),
        attrs["day_of_week"].alias("day_of_week"),
        attrs["week"].alias("week"),
    )


def build_dim(cleaned: DataFrame, natural_key: str, attr: str,
              key_name: str, order_col: str = "_src_order") -> DataFrame:
    """SCD1 dim: exclude unknown member -> keep-last -> surrogate keys ->
    seed unknown member at id 1 (etl.py:93-119 + init_db.sql:12-21).

    keep-last recency = order_col DESC; callers stamp _src_order at ingest
    (monotonically_increasing_id) to reproduce the reference's positional
    keep='last' (SURVEY.md §7).
    """
    rows = (cleaned
            .filter(not_unknown(natural_key))
            .select(natural_key, attr, order_col))
    last = keep_last(rows, [natural_key], [F.desc(order_col)]).drop(order_col)
    dim = dense_keys(last, order=[natural_key], key_name=key_name, offset=1)
    return with_unknown_member(
        dim.select(key_name, natural_key, attr), key_name, natural_key)


def build_warehouse(raw: DataFrame) -> RetailWarehouse:
    """initial_clean + stage_dims + load_dims + stage_fact as one plan."""
    spark = raw.sparkSession
    # Stamp source position before any shuffle: the reference's keep='last'
    # means "later row in the file" (etl.py:101-104).
    stamped = raw.withColumn("_src_order", F.monotonically_increasing_id())
    cleaned = clean_invoices(stamped, renames=RAW_RENAMES)

    dim_customers = build_dim(cleaned, "customer_id", "country",
                              "customer_dim_id").cache()
    dim_products = build_dim(cleaned, "stock_code", "description",
                             "product_dim_id").cache()
    dim_dates = build_date_spine(spark)

    # stage_fact (etl.py:184-232): two broadcast surrogate lookups; unknown
    # members ('00000') match the seeded id-1 rows, so a left join keeps
    # row counts and an inner join on the seeded dim is equivalent.
    fct = broadcast_lookup(
        cleaned,
        dim_customers.select("customer_id", "customer_dim_id"),
        on="customer_id")
    fct = broadcast_lookup(
        fct,
        dim_products.select("stock_code", "product_dim_id"),
        on="stock_code")
    fct_invoices = fct.select(
        "invoice_id", "invoice_date_dim_id", "product_dim_id",
        "customer_dim_id",
        F.col("unit_price").cast("decimal(8,2)").alias("unit_price"),
        F.col("quantity").cast("int").alias("quantity"),
    )
    return RetailWarehouse(dim_customers, dim_products, dim_dates, fct_invoices)


def run_pipeline(raw: DataFrame, warehouse_dir: str | None = None) -> RetailWarehouse:
    """Build the warehouse; optionally persist it as Parquet tables
    (the reference's load_* JDBC appends, S5). Parquet partitioning: the
    fact is written partitioned by the smart date key's year so the F5
    range pattern prunes partitions at scale.

    When persisted, the dim caches build_warehouse made for the fact's
    lookups are released once the writes finish (a cache that outlived
    the load pinned two dead relations per call), and the returned tables
    read back the written Parquet, as the reference reads its loaded dims
    back (etl.py:198-205); the fact drops its `_year` partition column."""
    from etl_online_retail_spark.operators.constraints import (
        fct_row_rules,
        observed_rules,
    )

    wh = build_warehouse(raw)
    if warehouse_dir is not None:
        wh.dim_customers.write.mode("overwrite").parquet(
            f"{warehouse_dir}/dim_customers")
        wh.dim_products.write.mode("overwrite").parquet(
            f"{warehouse_dir}/dim_products")
        wh.dim_dates.write.mode("overwrite").parquet(
            f"{warehouse_dir}/dim_dates")
        # constraint counts ride the fact write itself (Observation API
        # — zero extra scans; the full PK/FK sweep stays in
        # check_warehouse's one-action plan for on-demand audits)
        observed_fct, fetch = observed_rules(wh.fct_invoices, fct_row_rules())
        (observed_fct
         .withColumn("_year", (F.col("invoice_date_dim_id") / 10000).cast("int"))
         .write.mode("overwrite").partitionBy("_year")
         .parquet(f"{warehouse_dir}/fct_invoices"))
        wh.dim_customers.unpersist()
        wh.dim_products.unpersist()

        def read_back(name: str, df: DataFrame) -> DataFrame:
            # the built schema, not inference: an empty fact load writes
            # no partition directory to infer from
            return (raw.sparkSession.read.schema(df.schema)
                    .parquet(f"{warehouse_dir}/{name}"))

        return RetailWarehouse(
            read_back("dim_customers", wh.dim_customers),
            read_back("dim_products", wh.dim_products),
            read_back("dim_dates", wh.dim_dates),
            read_back("fct_invoices", wh.fct_invoices).drop("_year"),
            fetch())
    return wh
