"""Seeded inputs for the benchmark, and the outputs each workload must produce.

The base rows are the engine's own test fixtures, kept under `fixtures/`
(see `make_fixtures.py`); the seed only adds what the workloads exercise on
top of them. Every expected output is computed from the inputs alone,
without the engine, so it serves as an independent oracle:

- `dag_input`: a slice of sf0.1 lineitem plus seeded exact duplicates,
  whitespace variants and null variants, with the counts the DAG's checks
  must report.
- `day_batches`: seeded daily batches over a slice of sf0.1 orders, with
  the rows each append writes and the live keys after each day.
- `QUERY_FIXTURE`: the sf0.01 tables the analyst queries read; the DuckDB
  twins' digests in `expected_queries.json` are computed on it.
- `digest`: an order-insensitive (row count, sum of row md5s mod 2^64)
  fingerprint over canonicalized columns, computed in DuckDB.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")
QUERY_FIXTURE = os.path.join(FIXTURES, "sf0.01")
LINEITEM_SLICE = os.path.join(FIXTURES, "sf0.1_lineitem_120000.parquet")
ORDERS_SLICE = os.path.join(FIXTURES, "sf0.1_orders_20000.parquet")
QUERY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "documents", "embeddings"]

LINEITEM_INTS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
LINEITEM_DOUBLES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
LINEITEM_STRINGS = ["l_returnflag", "l_linestatus"]
ORDERS_NUMERIC = ["o_orderkey", "o_custkey", "o_totalprice"]
ORDERS_STRINGS = ["o_orderstatus", "o_orderpriority"]


SPILL_DIR = os.path.join(os.path.dirname(HERE), ".bench_work", "duckdb")


def connect():
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{SPILL_DIR}'")
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    con.execute("SET enable_progress_bar=false")
    return con


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _columns(path):
    """A fixture table as {name: numpy array}; strings as object arrays."""
    table = pq.read_table(path)
    return {c: table[c].to_numpy(zero_copy_only=False)
            for c in table.column_names}


# ---------------------------------------------------------------- digests

def canon_expr(col, kind, cleaned_strings=False):
    """One column in canonical text form. `kind` is int, double, string, ts,
    date or any. Numbers compare as doubles (a cleaned table holds them as
    text; 'unknown' reads as NULL, like the NULL it replaced), instants as
    epoch micros. With `cleaned_strings`, strings pass through the
    reference's F2 cleaning: use it on the raw-input side only, so that the
    engine's own trim, lower and fill are what a digest compares."""
    q = f'"{col}"'
    if kind in ("int", "double"):
        v = f"TRY_CAST({q} AS DOUBLE)"
        return f"CASE WHEN {v} = 0 THEN 0.0::DOUBLE ELSE {v} END::VARCHAR"
    if kind == "string":
        return (f"lower(trim(coalesce({q}, 'Unknown')))" if cleaned_strings
                else f"{q}::VARCHAR")
    if kind == "ts":
        return f"epoch_us(CAST({q} AS TIMESTAMP))::VARCHAR"
    return f"{q}::VARCHAR"


def digest(con, relation, cols, cleaned_strings=False):
    """(rows, digest) of `relation` (a SQL FROM item) over `cols`, a list of
    (name, kind)."""
    parts = [f"coalesce({canon_expr(c, k, cleaned_strings)}, '\\N')"
             for c, k in cols]
    row = " || '|' || ".join(parts)
    n, d = con.execute(
        f"SELECT count(*), coalesce((sum(md5_number_lower({row}))::HUGEINT "
        f"% 18446744073709551616)::UBIGINT, 0) FROM {relation}").fetchone()
    return int(n), f"{int(d):016x}"


def kind_of(duck_type):
    t = duck_type.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL") or t.startswith("DECIMAL"):
        return "double"
    if t.startswith("TIMESTAMP"):
        return "ts"
    return "any"


def relation_digest(con, relation):
    """Digest of a query result: columns sorted by name (the oracle's
    convention), each canonicalized by its DuckDB type."""
    desc = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    cols = sorted((r[0], kind_of(r[1])) for r in desc)
    return digest(con, relation, cols)


def parquet(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


# ---------------------------------------------------------------- dag_daily

def dag_input(seed, path):
    """Write the DAG's landing table (typed parquet): the lineitem slice plus
    2% exact duplicates, 1% whitespace variants and 0.5% null variants of
    seeded rows. Returns its row count."""
    rng = np.random.default_rng([seed, 1])
    cols = _columns(LINEITEM_SLICE)
    n_base = len(cols["l_orderkey"])
    n_dup, n_ws, n_null = n_base // 50, n_base // 100, n_base // 200
    dup = rng.choice(n_base, n_dup, replace=False)
    ws = rng.choice(n_base, n_ws, replace=False)
    nul = rng.choice(n_base, n_null, replace=False)
    pads = np.asarray([" {}", "{} ", "  {}  "], dtype=object)
    ws_col = rng.integers(0, 2, n_ws)
    ws_pad = pads[rng.integers(0, 3, n_ws)]
    null_targets = ["l_returnflag", "l_linestatus", "l_tax", "l_discount"]
    null_col = rng.integers(0, len(null_targets), n_null)

    out = {}
    for name, base in cols.items():
        parts = [base, base[dup], base[ws], base[nul]]
        if name in LINEITEM_STRINGS:
            k = LINEITEM_STRINGS.index(name)
            wsv = base[ws].copy()
            hit = ws_col == k
            wsv[hit] = [p.format(v) for p, v in zip(ws_pad[hit], wsv[hit])]
            parts[2] = wsv
        vals = np.concatenate(parts)
        mask = np.zeros(len(vals), bool)
        if name in null_targets:
            mask[n_base + n_dup + n_ws:] = null_col == null_targets.index(name)
        out[name] = (vals, mask)
    perm = rng.permutation(n_base + n_dup + n_ws + n_null)
    arrays = {}
    for name, (vals, mask) in out.items():
        vals, mask = vals[perm], mask[perm]
        if vals.dtype == object:
            arrays[name] = pa.array(vals, pa.string(), mask=mask)
        else:
            arrays[name] = pa.array(vals, mask=mask)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(arrays), f"{path}/part-0.parquet")
    return n_base + n_dup + n_ws + n_null


DAG_COLS = ([(c, "int") for c in LINEITEM_INTS]
            + [(c, "double") for c in LINEITEM_DOUBLES]
            + [(c, "string") for c in LINEITEM_STRINGS]
            + [("l_shipdate", "ts")])


def dag_expected(path, input_rows):
    """The reference's load semantics re-derived in DuckDB: exact-row dedup
    on the raw tuples, then trim/fill/lower. Whitespace variants survive the
    dedup (they differ before the trim) and surface as duplicate_rows."""
    con = connect()
    con.execute(f"CREATE VIEW raw AS SELECT * FROM {parquet(path)}")
    con.execute("CREATE VIEW kept AS SELECT DISTINCT * FROM raw")
    clean = ", ".join(
        f"{canon_expr(c, 'string', True)} AS {c}" if c in LINEITEM_STRINGS
        else c for c in LINEITEM_INTS + LINEITEM_DOUBLES + LINEITEM_STRINGS
        + ["l_shipdate"])
    con.execute(f"CREATE VIEW cleaned AS SELECT {clean} FROM kept")
    rows, distinct_rows, keys, flags, key_nulls = con.execute(
        "SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT * FROM "
        "cleaned)), count(DISTINCT l_orderkey), count(DISTINCT l_returnflag), "
        "count(*) FILTER (WHERE l_orderkey IS NULL) FROM cleaned").fetchone()
    d = digest(con, "kept", DAG_COLS, cleaned_strings=True)[1]
    con.close()
    return {
        "input_rows": input_rows,
        "analytics_rows": rows,
        "duplicate_rows": rows - distinct_rows,
        "distinct_l_orderkey": keys,
        "distinct_l_returnflag": flags,
        "nulls_l_orderkey": key_nulls,
        "analytics_digest": d,
    }


def dag_actual_digest(analytics_dir):
    con = connect()
    got = digest(con, parquet(analytics_dir), DAG_COLS)
    con.close()
    return got


# ---------------------------------------------------------- incremental_day

def day_batches(seed, path, days=10, frac=0.2):
    """Write `days` batches over the orders slice (typed parquet, one dir per
    day): each touches a seeded 20% of the keys with a new status (1% null)
    and a price raised by the day number in percent, pads 5% of the
    priorities, and repeats 1% of its rows. Returns the rows each append
    must write and the live keys after each day."""
    rng = np.random.default_rng([seed, 2])
    base = _columns(ORDERS_SLICE)
    n_keys = len(base["o_orderkey"])
    per_day = max(1, int(n_keys * frac))
    written, live, seen = [], [], np.zeros(n_keys, bool)
    for d in range(days):
        rows = np.sort(rng.choice(n_keys, per_day, replace=False))
        seen[rows] = True
        live.append(int(seen.sum()))
        status = _pick(rng, ["F", "O", "P"], per_day)
        status[rng.random(per_day) < 0.01] = None
        prio = base["o_orderpriority"][rows].copy()
        pad = rng.random(per_day) < 0.05
        prio[pad] = [" " + p for p in prio[pad]]
        cols = {
            "o_orderkey": base["o_orderkey"][rows],
            "o_custkey": base["o_custkey"][rows],
            "o_orderstatus": status,
            "o_totalprice": np.round(
                base["o_totalprice"][rows] * (1 + d / 100.0), 2),
            "o_orderdate": base["o_orderdate"][rows],
            "o_orderpriority": prio,
        }
        # exact duplicates inside the batch: the append's dedup drops them
        dup = rng.choice(per_day, max(1, per_day // 100), replace=False)
        table = {k: np.concatenate([v, v[dup]]) for k, v in cols.items()}
        perm = rng.permutation(per_day + len(dup))
        arrays = {k: pa.array(v[perm], pa.string() if v.dtype == object
                              else None) for k, v in table.items()}
        os.makedirs(f"{path}/day={d}", exist_ok=True)
        pq.write_table(pa.table(arrays), f"{path}/day={d}/part-0.parquet")
        written.append(per_day)
    return written, live


LATEST_COLS = ([(c, "int") for c in ORDERS_NUMERIC]
               + [(c, "string") for c in ORDERS_STRINGS]
               + [("o_orderdate", "ts"), ("load_date", "any")])


def day_expected(path, days, written, live):
    con = connect()
    union = " UNION ALL ".join(
        f"SELECT *, {d} AS day FROM read_parquet('{path}/day={d}/*.parquet')"
        for d in range(days))
    con.execute(f"CREATE VIEW batches AS {union}")
    con.execute(
        "CREATE VIEW latest AS SELECT * EXCLUDE (day, rn), "
        "CAST(DATE '2024-01-01' + day::INTEGER AS DATE) AS load_date FROM ("
        "SELECT *, row_number() OVER (PARTITION BY o_orderkey "
        "ORDER BY day DESC) AS rn FROM batches) WHERE rn = 1")
    n, d = digest(con, "latest", LATEST_COLS, cleaned_strings=True)
    rows = con.execute("SELECT count(*) FROM batches").fetchone()[0]
    con.close()
    return {
        "input_rows": rows,
        "rows_written": written,
        "live_keys": live,
        "latest_rows": n,
        "latest_digest": d,
    }


def latest_actual_digest(con, out_dir):
    return digest(con, parquet(out_dir), LATEST_COLS)
