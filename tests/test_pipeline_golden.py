"""End-to-end retail pipeline golden test (SURVEY.md §5.2).

Synthetic fixture covering every FIXTURES.md §1 edge-case category; asserts
the warehouse invariants and the five dashboard-query shapes (§2.9).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_online_retail_spark.pipeline.retail import build_warehouse
from etl_online_retail_spark.sources.ddl import fk_violations

RAW_SCHEMA = T.StructType([
    T.StructField("Invoice", T.StringType()),
    T.StructField("StockCode", T.StringType()),
    T.StructField("Description", T.StringType()),
    T.StructField("Quantity", T.IntegerType()),
    T.StructField("InvoiceDate", T.TimestampNTZType()),
    T.StructField("Price", T.DoubleType()),
    T.StructField("Customer ID", T.IntegerType()),
    T.StructField("Country", T.StringType()),
])


def ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


ROWS = [
    # 1-2: valid sales
    ("536365", "85123", "MUG", 6, ts("2009-12-01 08:00"), 2.55, 17850, "United Kingdom"),
    ("536366", "71053", "LANTERN", 3, ts("2009-12-02 09:00"), 3.39, 17850, "United Kingdom"),
    # cancelled C-prefix invoice -> dropped
    ("C537251", "85123", "MUG", -6, ts("2009-12-03 10:00"), 2.55, 17850, "United Kingdom"),
    # wrong-length invoice -> dropped
    ("53636", "85123", "MUG", 1, ts("2009-12-03 11:00"), 2.55, 17850, "United Kingdom"),
    # alphanumeric stock code -> dropped (reproduces reference bug-for-bug)
    ("536367", "85123A", "HEART", 2, ts("2009-12-04 10:00"), 2.10, 13047, "France"),
    # short code POST -> dropped
    ("536368", "POST", "POSTAGE", 1, ts("2009-12-04 11:00"), 18.0, 13047, "France"),
    # null customer -> kept, unknown member
    ("536369", "21730", "GLASS", 4, ts("2009-12-05 12:00"), 4.25, None, None),
    # null stock code -> filled '00000', passes 5-digit filter, unknown product
    ("536370", None, None, 2, ts("2009-12-05 13:00"), 1.0, 13047, "France"),
    # quantity <= 0 -> dropped
    ("536371", "21730", "GLASS", 0, ts("2009-12-06 09:00"), 4.25, 13047, "France"),
    # price <= 0 -> dropped
    ("536372", "21730", "GLASS", 5, ts("2009-12-06 10:00"), 0.0, 13047, "France"),
    # customer 13047 reappears with changed country -> keep-last wins
    ("536373", "21730", "GLASS", 1, ts("2009-12-07 09:00"), 4.25, 13047, "Belgium"),
    # product 21730 reappears with changed description -> keep-last wins
    ("536374", "21730", "GLASS v2", 1, ts("2009-12-08 09:00"), 4.25, 17850, "United Kingdom"),
    # exact duplicate fact rows -> both kept (fact has no PK)
    ("536375", "85123", "MUG", 2, ts("2009-12-09 09:00"), 2.55, 17850, "United Kingdom"),
    ("536375", "85123", "MUG", 2, ts("2009-12-09 09:00"), 2.55, 17850, "United Kingdom"),
]


@pytest.fixture(scope="module")
def warehouse(spark):
    raw = spark.createDataFrame(ROWS, RAW_SCHEMA)
    return build_warehouse(raw)


def test_fact_rows_and_filters(warehouse):
    fct = warehouse.fct_invoices
    # kept: 536365,536366,536369,536370,536373,536374,536375 x2 = 8 rows
    assert fct.count() == 8
    kept_invoices = {r.invoice_id for r in fct.select("invoice_id").distinct().collect()}
    assert kept_invoices == {"536365", "536366", "536369", "536370",
                             "536373", "536374", "536375"}


def test_keep_last_scd1(warehouse):
    customers = {r.customer_id: r.country
                 for r in warehouse.dim_customers.collect()}
    assert customers["13047"] == "Belgium"       # later row won
    products = {r.stock_code: r.description
                for r in warehouse.dim_products.collect()}
    assert products["21730"] == "GLASS v2"


def test_unknown_members(warehouse):
    cust = warehouse.dim_customers.filter(F.col("customer_dim_id") == 1).collect()
    assert len(cust) == 1 and cust[0].customer_id == "00000" and cust[0].country is None
    # null customer fact row maps to dim id 1
    unknown_fact = (warehouse.fct_invoices
                    .filter(F.col("invoice_id") == "536369").collect())
    assert unknown_fact[0].customer_dim_id == 1
    # null stock code -> unknown product id 1
    unknown_prod = (warehouse.fct_invoices
                    .filter(F.col("invoice_id") == "536370").collect())
    assert unknown_prod[0].product_dim_id == 1


def test_fk_integrity(warehouse):
    assert fk_violations(warehouse.fct_invoices, warehouse.dim_customers,
                         "customer_dim_id", "customer_dim_id") == 0
    assert fk_violations(warehouse.fct_invoices, warehouse.dim_products,
                         "product_dim_id", "product_dim_id") == 0
    assert fk_violations(warehouse.fct_invoices, warehouse.dim_dates,
                         "invoice_date_dim_id", "date_dim_id") == 0


def test_date_spine(warehouse):
    assert warehouse.dim_dates.count() == 1462  # etl.py:130-138
    d = warehouse.dim_dates.filter(F.col("date_dim_id") == 20091201).collect()[0]
    assert (d.year, d.month, d.day) == (2009, 12, 1)
    assert d.day_of_week == 2  # 2009-12-01 was a Tuesday (ISO Mon=1)


def test_dashboard_golden_aggregates(warehouse):
    fct = warehouse.fct_invoices
    # slice 2: total revenue over kept rows
    total = fct.agg(
        F.sum(F.col("unit_price") * F.col("quantity")).alias("t")).collect()[0].t
    expected = (6 * 2.55 + 3 * 3.39 + 4 * 4.25 + 2 * 1.0
                + 1 * 4.25 + 1 * 4.25 + 2 * 2.55 + 2 * 2.55)
    assert abs(float(total) - expected) < 1e-6
    # slice 7: invoices lacking customer info (via dim join, country IS NULL)
    n = (fct.join(warehouse.dim_customers, "customer_dim_id")
         .filter(F.col("country").isNull())
         .agg(F.countDistinct("invoice_id").alias("n")).collect()[0].n)
    assert n == 1  # only 536369


def test_persisted_run_releases_dim_caches(spark, tmp_path):
    """A persisted run_pipeline releases the dim caches it made for the
    fact's lookups (each load used to pin two dead cache entries for the
    session) and returns tables read back from the written Parquet, equal
    to the in-memory build's."""
    from etl_online_retail_spark.pipeline.retail import run_pipeline

    cm = spark._jsparkSession.sharedState().cacheManager()

    def n_cached() -> int:
        # entry count, not isEmpty: the session may cache other relations
        return cm.cachedData().size()

    before = n_cached()
    raw = spark.createDataFrame(ROWS, RAW_SCHEMA)
    wh = run_pipeline(raw, str(tmp_path / "wh"))
    assert n_cached() == before
    built = build_warehouse(raw)
    for name in ("dim_customers", "dim_products", "dim_dates",
                 "fct_invoices"):
        got, want = getattr(wh, name), getattr(built, name)
        assert got.columns == want.columns, name
        assert sorted(got.collect()) == sorted(want.collect()), name
    for name in ("dim_customers", "dim_products"):
        getattr(built, name).unpersist()
