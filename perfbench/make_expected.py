#!/usr/bin/env python3
"""Regenerate expected_queries.json: the row count and digest of every
query_tail query (and q_curation) on the sf0.01 query fixture, computed
from each query's DuckDB twin (graft.SparkEntry.oracleSql).

    python3 perfbench/make_expected.py

Run from the repo root after changing the fixture or a query's oracle. It
builds the harness if needed (as run.py does).
"""
import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402

import run  # noqa: E402
import data  # noqa: E402

QUERIES = [q for qs in run.FAMILIES.values() for q in qs] + ["q_curation"]


def main():
    cp = run.build()
    fixture = data.QUERY_FIXTURE
    out = subprocess.run(
        ["java", "-cp", cp, "graft.perfbench.Main",
         "--dump-oracles", ",".join(sorted(QUERIES))],
        check=True, capture_output=True, text=True).stdout
    oracles = json.loads(out.strip().splitlines()[-1])
    con = data.connect()
    rows = 0
    for t in data.QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture}/{t}.parquet')")
        rows += con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
    queries = {}
    for q in sorted(QUERIES):
        con.execute(f"CREATE OR REPLACE TEMP TABLE r AS {oracles[q]}")
        n, d = data.relation_digest(con, "r")
        queries[q] = {"rows": n, "digest": d}
        print(q, n, d)
    con.close()
    doc = {"fixture_sha256": run.file_hash(fixture),
           "fixture_rows": rows,
           "queries": queries}
    with open(os.path.join(run.HERE, "expected_queries.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
