"""Correctness checks, run after the timed window.

* `query_keys`: each key's Spark result against its `SparkEntry`
  oracle SQL in DuckDB, compared the way `tools/check_oracle.py` does
  (columns by name, rows in order, floats exact).
* `dbt_build` and `thrift_dbt`: the final table states against DuckDB
  recomputations over the same seeded batches.

`check(run_dir, run)` returns {check id: None if it passed, else the
reason}; run.py marks the ops each failed check covers as failed.
"""
import datetime
import decimal
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _load(path):
    with open(path) as f:
        return json.load(f)


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


# DuckDB column types whose Python values `norm` leaves as they are
PLAIN = {"VARCHAR", "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "BOOLEAN",
         "DATE", "TIMESTAMP"}


def _rows(rows, idx, types):
    """The rows' columns `idx`, normalized; columns of a PLAIN type (when
    the types are known) skip `norm`, which would return them unchanged."""
    fns = [None if types and str(types[i]) in PLAIN else norm for i in idx]
    if all(f is None for f in fns):
        return [tuple(r[i] for i in idx) for r in rows]
    return [tuple(r[i] if f is None else f(r[i]) for i, f in zip(idx, fns))
            for r in rows]


def compare(got_cols, got, want_cols, want, got_types=None, want_types=None):
    """None when equal (columns matched by name), else what differs."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    wi = [want_cols.index(c) for c in sorted(want_cols)]
    g = _rows(got, gi, got_types)
    w = _rows(want, wi, want_types)
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)}"
    bad = [i for i, (a, b) in enumerate(zip(g, w)) if a != b]
    if bad:
        return f"{len(bad)}/{len(g)} rows differ, first {g[bad[0]]} != {w[bad[0]]}"
    return None


def _query_keys(run_dir, ids, run):
    """The result each key wrote in set-up against its oracle, and the
    row count every timed op of the key materialized against the
    oracle's."""
    if not ids:
        return {}
    con = duckdb.connect()
    out = os.path.join(run_dir, "out")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{run_dir}/inputs/tables/{t}.parquet'")
    oracle = _load(os.path.join(out, "oracle_sql.json"))
    ops = {o["id"]: o for o in run["ops"]}
    res = {}
    for cid in ids:
        key = cid.split("/", 1)[1]
        files = glob.glob(f"{out}/checks/qk/{key}/*.parquet")
        try:
            if not files:
                res[cid] = "no result written"
                continue
            got = con.sql(f"SELECT * FROM '{out}/checks/qk/{key}/*.parquet'")
            want = con.sql(oracle[key])
            want_rows = want.fetchall()
            res[cid] = compare(got.columns, got.fetchall(),
                               want.columns, want_rows, got.types, want.types)
            counts = {ops[i]["attrs"].get("rows") for i in run["checks"][cid]}
            if res[cid] is None and counts != {len(want_rows)}:
                res[cid] = f"timed ops materialized {sorted(counts)} rows, " \
                           f"oracle has {len(want_rows)}"
        except Exception as e:  # an oracle error is a failed check
            res[cid] = f"error: {str(e).splitlines()[0]}"
    return res


# latest version of every customer key across the landed batches
LATEST = """SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
  ORDER BY batch_id DESC) AS rn FROM customers) WHERE rn = 1"""
CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"

DBT_EXPECT = {
    "dim_customers": (
        f"SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, "
        f"is_deleted, batch_id FROM ({LATEST}) ORDER BY c_custkey"),
    "cust_balances": (
        f"SELECT c_custkey, c_acctbal, batch_id FROM ({LATEST}) "
        f"WHERE NOT is_deleted ORDER BY c_custkey"),
    "fct_orders": (
        f"SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, "
        f"o_orderpriority, loaded_at, {CENTS} AS total_cents FROM orders "
        f"ORDER BY o_orderkey"),
    "orders_by_day": (
        f"SELECT count(*) AS orders, sum({CENTS})::BIGINT AS total_cents, "
        f"max(loaded_at) AS max_loaded_at, "
        f"strftime(o_orderdate, '%Y-%m-%d') AS order_day FROM orders "
        f"GROUP BY order_day ORDER BY order_day"),
    "events_daily": (
        "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts, event_type, count(*) AS events, "
        "CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value "
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    "segment_revenue": (
        f"SELECT s.segment_name, s.tier, count(*) AS orders, "
        f"sum({CENTS})::BIGINT AS total_cents FROM orders f "
        f"JOIN ({LATEST}) c ON f.o_custkey = c.c_custkey "
        f"JOIN segments s ON c.c_mktsegment = s.segment_code "
        f"GROUP BY 1, 2 ORDER BY 1, 2"),
    "segments": "SELECT * FROM segments ORDER BY segment_code",
}


def snapshot_rows(con, cycles):
    """SCD2 rows of the check-strategy snapshot over dim_customers,
    taken once per cycle at noon of the cycle's day."""
    rows, open_ = [], {}
    for k in range(cycles):
        at = datetime.datetime(2024, 1, 1, 12) + datetime.timedelta(days=k)
        state = con.sql(
            f"SELECT c_custkey, c_acctbal, c_mktsegment FROM "
            f"(SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY "
            f"batch_id DESC) AS rn FROM customers WHERE batch_id <= {k}) "
            f"WHERE rn = 1").fetchall()
        for key, bal, seg in state:
            cur = open_.get(key)
            if cur is not None and (cur[1], cur[2]) == (bal, seg):
                continue
            if cur is not None:
                cur[4] = at
            row = [key, bal, seg, at, None]
            open_[key] = row
            rows.append(row)
    return sorted(rows, key=lambda r: (r[0], r[3]))


def _dbt(run_dir, ids, cycles):
    if not ids:
        return {}
    con = duckdb.connect()
    src = f"{run_dir}/inputs/dbt_batches"
    for t in ("customers", "orders", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}/{t}/*.parquet'")
    con.sql(f"CREATE VIEW segments AS SELECT * FROM read_csv("
            f"'{run_dir}/inputs/dbt_project/seeds/segments.csv', header=true, "
            f"columns={{'segment_code': 'VARCHAR', 'segment_name': 'VARCHAR', "
            f"'tier': 'INTEGER'}})")
    snap = None
    res = {}
    for cid in ids:
        table = cid.rsplit("/", 1)[1]
        path = f"{run_dir}/out/checks/{cid}"
        try:
            if not glob.glob(f"{path}/*.parquet"):
                res[cid] = "table not written"
                continue
            got_rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
            if table == "customers_snap":
                snap = snap or snapshot_rows(con, cycles)
                got = con.sql(
                    f"SELECT c_custkey, c_acctbal, c_mktsegment, valid_from, "
                    f"valid_to FROM '{path}/*.parquet' "
                    f"ORDER BY c_custkey, valid_from")
                cols = ["c_custkey", "c_acctbal", "c_mktsegment",
                        "valid_from", "valid_to"]
                res[cid] = compare(got.columns, got.fetchall(), cols, snap)
                continue
            want = con.sql(DBT_EXPECT[table])
            cols = ", ".join(want.columns)
            order = ", ".join(str(i + 1) for i in range(len(want.columns)))
            got = con.sql(f"SELECT {cols} FROM '{path}/*.parquet' "
                          f"ORDER BY {order}")
            want = con.sql(f"SELECT * FROM ({DBT_EXPECT[table]}) "
                           f"ORDER BY {order}")
            extra = set(got_rel.columns) - set(want.columns)
            res[cid] = (f"unexpected columns {sorted(extra)}" if extra else
                        compare(got.columns, got.fetchall(),
                                want.columns, want.fetchall()))
        except Exception as e:
            res[cid] = f"error: {str(e).splitlines()[0]}"
    return res


def thrift_expect(table):
    day = "strftime(o_orderdate, '%Y-%m-%d')"
    by_day = (f"SELECT {day} AS order_day, count(*) AS n, sum({CENTS}) AS cents "
              f"FROM orders GROUP BY 1 ORDER BY 1")
    ts = lambda c: f"strftime({c}, '%Y-%m-%d %H:%M:%S')"
    return {
        "v_orders": "SELECT count(*), sum(o_orderkey) FROM orders",
        "t_customers": (f"SELECT c_custkey, c_acctbal, c_mktsegment, batch_id "
                        f"FROM ({LATEST}) ORDER BY c_custkey"),
        "d_orders_day": by_day,
        "i_orders_day": by_day,
        "a_orders": f"SELECT count(*), sum(o_orderkey), sum({CENTS}) FROM orders",
        "o_orders_day": by_day,
        "m_cust": (f"SELECT c_custkey, c_name, c_acctbal, c_mktsegment, "
                   f"is_deleted, batch_id FROM ({LATEST}) ORDER BY c_custkey"),
        "snap_cust": (
            f"SELECT c_custkey, c_acctbal, c_mktsegment, {ts('updated_at')}, "
            f"{ts('lead(updated_at) OVER (PARTITION BY c_custkey ORDER BY updated_at)')} "
            f"FROM customers ORDER BY c_custkey, updated_at"),
    }[table]


def _thrift(run_dir, ids):
    if not ids:
        return {}
    con = duckdb.connect()
    src = f"{run_dir}/inputs/thrift_batches"
    for t in ("customers", "orders"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}/{t}/*.parquet'")
    res = {}
    for cid in ids:
        path = f"{run_dir}/out/checks/{cid}.json"
        try:
            if not os.path.exists(path):
                res[cid] = "no read-back"
                continue
            got = _load(path)
            want = [list(r) for r in
                    con.sql(thrift_expect(cid.rsplit("/", 1)[1])).fetchall()]
            want = [[int(v) if isinstance(v, int) else v for v in r] for r in want]
            cols = [str(i) for i in range(len(want[0]) if want else 0)]
            res[cid] = compare(cols, got, cols, want) if got or want else None
        except Exception as e:
            res[cid] = f"error: {str(e).splitlines()[0]}"
    return res


def check(run_dir, run):
    ids = list(run["checks"])
    cycles = run["provenance"]["cycles"]
    return {**_query_keys(run_dir, [i for i in ids if i.startswith("qk/")], run),
            **_dbt(run_dir, [i for i in ids if i.startswith("dbt/")], cycles),
            **_thrift(run_dir, [i for i in ids if i.startswith("thrift/")])}
