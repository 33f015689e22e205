"""Correctness checks of one benchmark run, made apart from the program.

Every query's check-pass output is compared with its DuckDB oracle SQL run
over the same parquet inputs, with the comparison rules of the project's
tools/check_oracle.py (row count, column set, exact values after a dtype
lint). The taxi ETL output is checked against properties read with DuckDB.
"""
import glob
import importlib.util
import os

import duckdb

LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]


def load_rules(root):
    """The project's oracle comparison module (tools/check_oracle.py)."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def connect(data, tables, tmp):
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tmp}'")
    for t in tables:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_query(rules, con, name, sql, out_dir):
    """None if the output in `out_dir` equals the oracle's, else why not."""
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return f"{name}: no output"
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
    try:
        rel = con.sql(sql)
        lint = rules.dtype_lint(got, rel.columns, [str(t) for t in rel.types])
        exp = rel.df()
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"{name}: oracle error: {e}"
    if lint:
        return f"{name}: {lint}"
    ok, msg = rules.compare(got, exp)
    return None if ok else f"{name}: {msg}"


def check_etl(con, out_dir, returned_rows, ts, n_out):
    """Problems with a TaxiEtl output: the row count, the lineitem column
    multiset, the timestamp literal and the number of files."""
    files = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    if not files:
        return ["taxi_etl: no output files"]
    out = f"read_parquet({files!r})"
    problems = []
    n_line = con.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    n_got = con.execute(f"SELECT count(*) FROM {out}").fetchone()[0]
    if not n_got == n_line == returned_rows:
        problems.append(f"taxi_etl: {n_got} rows written, lineitem has "
                        f"{n_line}, run returned {returned_rows}")
    cols = ", ".join(LINEITEM_COLS)
    for a, b in ((out, "lineitem"), ("lineitem", out)):
        extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {a} "
                            f"EXCEPT ALL SELECT {cols} FROM {b})").fetchone()[0]
        if extra:
            problems.append(f"taxi_etl: {extra} rows of {a} not in {b}")
    bad_ts = con.execute(
        f"SELECT count(*) FROM {out} WHERE current_ts IS NULL OR "
        f"epoch_us(current_ts) <> epoch_us(TIMESTAMP '{ts}')").fetchone()[0]
    if bad_ts:
        problems.append(f"taxi_etl: {bad_ts} rows with current_ts != {ts}")
    if len(files) != n_out:
        problems.append(f"taxi_etl: {len(files)} files, expected {n_out}")
    return problems


def check_run(root, data, work, r):
    """All problems found in a run: every operation that raised in any pass
    (a failed operation must not read as a fast one), then the check-pass
    outputs of the operations that did not raise."""
    rules = load_rules(root)
    failed = {e.split(":", 1)[0] for e in r["errors"]}
    problems = [f"operation raised: {e}" for e in r["errors"]]
    tmp = os.path.join(work, "tmp", "duckdb")
    con = connect(data, rules.TABLES, tmp)
    check = os.path.join(work, "check")
    for name, sql in sorted(r["oracle"].items()):
        if name not in failed:
            p = check_query(rules, con, name, sql, os.path.join(check, name))
            if p:
                problems.append(p)
    if "taxi_etl" in r["ops"] and "taxi_etl" not in failed:
        out = os.path.join(check, "taxi_etl")
        with open(out + ".rows") as f:
            rows = int(f.read())
        problems += check_etl(con, out, rows, r["etl_ts"],
                              int(r["etl_files"]))
    con.close()
    return problems
