#!/usr/bin/env python3
"""Rebuild perfbench/fixtures/ from the engine's deterministic test fixtures
(the seed-42 TPC-H-like tables, one parquet file per table).

    python3 perfbench/make_fixtures.py <fixtures-root>

`<fixtures-root>` holds the `sf0.01/` and `sf0.1/` directories. The
benchmark reads:

- `sf0.01/`: the query_tail fixture, the tables its queries read, copied
  byte for byte;
- `sf0.1_lineitem_120000.parquet`: the first 120,000 rows of sf0.1
  lineitem, the base of dag_daily's landing table;
- `sf0.1_orders_20000.parquet`: the first 20,000 rows of sf0.1 orders
  (keys 0-19,999), the base of incremental_day's daily batches.

Run `perfbench/make_expected.py` afterwards.
"""
import sys

sys.dont_write_bytecode = True

import os  # noqa: E402
import shutil  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

import data  # noqa: E402


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    src = sys.argv[1]
    os.makedirs(data.QUERY_FIXTURE, exist_ok=True)
    for t in data.QUERY_TABLES:
        shutil.copyfile(f"{src}/sf0.01/{t}.parquet",
                        f"{data.QUERY_FIXTURE}/{t}.parquet")
    for t, n, out in (("lineitem", 120_000, data.LINEITEM_SLICE),
                      ("orders", 20_000, data.ORDERS_SLICE)):
        table = pq.read_table(f"{src}/sf0.1/{t}.parquet").slice(0, n)
        pq.write_table(table.replace_schema_metadata(None), out,
                       compression="zstd")


if __name__ == "__main__":
    main()
