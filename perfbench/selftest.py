#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks: each check must pass
on a correct output and fail on a corrupted one.

  python3 perfbench/selftest.py      # from the repository root; no JVM

- Oracle comparison: an output equal to the oracle passes; the same output
  with one row dropped, or with one value changed, fails.
- TaxiEtl check: a correct two-file output passes; the same output with
  one file truncated fails, and so does a wrong timestamp.
- Run verdict: a run in which an operation raised fails, even when that
  operation's check output equals the oracle.
"""
import os
import shutil
import sys

import checks

BENCH = os.path.dirname(os.path.abspath(__file__))
ORACLE = ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
          "sum(l_quantity) AS qty, min(l_shipdate) AS first_ship "
          "FROM lineitem GROUP BY l_returnflag, l_linestatus "
          "ORDER BY l_returnflag, l_linestatus")
TS = "2022-01-01 00:00:00"


def write(con, sql, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def main():
    root = os.getcwd()
    work = os.path.join(BENCH, ".run", f"selftest-{os.getpid()}")
    failures = []

    def expect(what, problems, should_fail):
        bad = bool(problems) != should_fail
        print(f"{'FAIL' if bad else 'ok  '} {what}: "
              f"{problems if problems else 'no problem found'}")
        if bad:
            failures.append(what)

    try:
        data = os.path.join(BENCH, "data", "sf0.01")
        rules = checks.load_rules(root)
        con = checks.connect(data, rules.TABLES, os.path.join(work, "duck"))

        def query(variant, sql):
            out = os.path.join(work, "check", variant)
            write(con, sql, os.path.join(out, "part-0.parquet"))
            p = checks.check_query(rules, con, variant, ORACLE, out)
            return [p] if p else []

        expect("oracle: exact output", query("exact", ORACLE), False)
        expect("oracle: one row dropped", query(
            "dropped", f"SELECT * FROM ({ORACLE}) OFFSET 1"), True)
        expect("oracle: one value changed", query(
            "changed", f"SELECT * REPLACE (CASE WHEN l_returnflag = 'A' AND "
                       f"l_linestatus = 'F' THEN n + 1 ELSE n END AS n) "
                       f"FROM ({ORACLE}) ORDER BY l_returnflag, l_linestatus"), True)

        n = con.execute("SELECT count(*) FROM lineitem").fetchone()[0]
        etl = f"SELECT *, TIMESTAMP '{TS}' AS current_ts FROM lineitem"

        def etl_out(variant, second_half):
            out = os.path.join(work, variant)
            write(con, f"SELECT * FROM ({etl}) WHERE l_orderkey % 2 = 0",
                  os.path.join(out, "part-00000.parquet"))
            write(con, second_half, os.path.join(out, "part-00001.parquet"))
            return checks.check_etl(con, out, n, TS, 2)

        odd = f"SELECT * FROM ({etl}) WHERE l_orderkey % 2 = 1"
        expect("taxi_etl: correct output", etl_out("etl_ok", odd), False)
        expect("taxi_etl: truncated output",
               etl_out("etl_truncated", f"{odd} LIMIT 10"), True)
        expect("taxi_etl: wrong timestamp", etl_out(
            "etl_ts", f"SELECT * REPLACE (TIMESTAMP '2022-01-01 00:00:01' "
                      f"AS current_ts) FROM ({odd})"), True)
        con.close()

        # The "exact" output above is where a run's check pass puts it.
        run = {"oracle": {"exact": ORACLE}, "ops": ["exact"], "errors": [],
               "etl_ts": TS, "etl_files": 2}
        expect("run: no operation raised", checks.check_run(root, data, work, run), False)
        run["errors"] = ["exact: IllegalStateException: raised in pass 3"]
        expect("run: an operation raised", checks.check_run(root, data, work, run), True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest:", "FAILED " + ", ".join(failures) if failures else "ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
