"""Benchmark inputs.

- The base warehouse is the project's sf0.01 test data (seed 42: the
  TPC-H-ish star schema plus events, documents and embeddings), kept
  byte-for-byte under data/sf0.01 so a run reads nothing outside its
  checkout. Every run stages it with bench.stage_tables.
- The workload inputs are drawn from the run's --seed: request order, the
  raw-invoice batches fed to the retail pipeline and the lineitem CDC
  slices fed to the matview maintenance path.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

WAREHOUSE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "data", "sf0.01")

_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def read_warehouse(base_dir: str = WAREHOUSE_DIR) -> dict[str, pd.DataFrame]:
    """The base tables as pandas frames, keyed by table name."""
    return {f[:-len(".parquet")]: pd.read_parquet(os.path.join(base_dir, f))
            for f in sorted(os.listdir(base_dir)) if f.endswith(".parquet")}


# ---------------------------------------------------------------------------
# workload inputs drawn from --seed


def raw_invoice_batch(frames: dict[str, pd.DataFrame], rng: np.random.Generator,
                      n_rows: int) -> pd.DataFrame:
    """One raw-invoice batch in the Online Retail II xlsx layout
    (sources.excel.RAW_SCHEMA), drawn from lineitem ⋈ orders ⋈ customer ⋈
    nation. Injects what the reference's cleaning drops or maps: 'C'
    cancellations with negative quantities, alphanumeric stock codes,
    zero prices and null customers (the unknown member)."""
    li = frames["lineitem"].iloc[rng.choice(len(frames["lineitem"]), n_rows,
                                            replace=False)]
    j = (li.merge(frames["orders"], left_on="l_orderkey", right_on="o_orderkey")
           .merge(frames["customer"], left_on="o_custkey", right_on="c_custkey")
           .merge(frames["nation"], left_on="c_nationkey", right_on="n_nationkey"))
    n = len(j)
    invoice = np.array([f"{k + 100000:06d}" for k in j["o_orderkey"]], dtype=object)
    stock = np.array([f"{k + 10000:05d}" for k in j["l_partkey"]], dtype=object)
    qty = j["l_quantity"].to_numpy().astype(np.int32)
    price = np.round(j["l_extendedprice"].to_numpy() / j["l_quantity"].to_numpy() / 100.0, 2)
    cancel = rng.random(n) < 0.04
    invoice[cancel] = np.array(["C" + s for s in invoice[cancel]], dtype=object)
    qty[cancel] = -qty[cancel]
    alnum = rng.random(n) < 0.05
    stock[alnum] = np.array([s + "A" for s in stock[alnum]], dtype=object)
    price[rng.random(n) < 0.01] = 0.0
    cust = pd.array(j["c_custkey"].to_numpy() + 10000, dtype="Int32")
    cust[rng.random(n) < 0.1] = pd.NA
    day0 = np.datetime64("2009-12-01T00:00:00", "us")
    offs = ((j["o_orderdate"].to_numpy() - np.datetime64("1995-01-01", "us"))
            .astype("timedelta64[D]").astype(np.int64) % 739)
    stamp = (day0 + offs.astype("timedelta64[D]")
             + rng.integers(7 * 60, 20 * 60, n).astype("timedelta64[m]"))
    return pd.DataFrame({
        "Invoice": invoice,
        "StockCode": stock,
        "Description": [f"{a} {b}".upper() for a, b in
                        zip(np.array(_ADJ)[j["l_partkey"].to_numpy() % 8],
                            np.array(_NOUN)[(j["l_partkey"].to_numpy() // 8) % 8])],
        "Quantity": qty,
        "InvoiceDate": stamp.astype("datetime64[us]"),
        "Price": price,
        "Customer ID": cust,
        "Country": j["n_name"].to_numpy(),
    })


def cdc_slice(lineitem: pd.DataFrame, rng: np.random.Generator,
              n_rows: int) -> pd.DataFrame:
    """Seeded lineitem rows for one insert/delete CDC pair: inserted as
    extra copies, then retracted, so every pair nets to the original
    table (the scripts/cdc_stream_sf01.py construction)."""
    return lineitem.iloc[np.sort(rng.choice(len(lineitem), n_rows,
                                            replace=False))].reset_index(drop=True)
