"""DuckDB-oracle check of the query catalogue.

For every entry in __spark_entry__.queries(): run the Spark query and the
oracle SQL at the same sf, compare row count, schema (column names), and an
order-insensitive value hash. Usage:

    python tools/check.py [--json OUT.json] [sf_dir] [query ...]

--json additionally writes one record per query, so a full-catalogue run
can be committed as a ``CHECK_r*.json`` snapshot (``tools/preflight.py``
re-checks only the entries missing from the newest one).

``check_entry`` is the one per-entry comparison; tests/test_oracle_parity.py
runs it on the entries whose operators the CLI jobs reach.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "supplier part lineitem events documents".split()


def normalize(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def _row_lines(rows: list[tuple], cols: list[str]) -> list[str]:
    """Rows as sorted strings with the columns in name order, so the
    comparison ignores row and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(normalize(row[i]) for i in order) for row in rows)


def table_hash(rows: list[tuple], cols: list[str]) -> str:
    h = hashlib.md5()
    for line in _row_lines(rows, cols):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per synthetic table of sf_dir."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def check_entry(spark, con, name: str, sf_dir: str) -> dict:
    """Run catalogue entry ``name`` on Spark and its oracle SQL on
    ``con``; compare column names, row counts and ``table_hash``.

    Returns one record: ``ok``, ``err`` (a Spark or oracle failure, else
    None), the three match flags, both row counts, and ``detail`` (lines
    that show the first mismatch)."""
    import __spark_entry__ as entrymod

    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        return {"ok": False, "err": "no oracle", "detail": []}
    try:
        sdf = entrymod.queries()[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:
        return {"ok": False, "err": f"spark: {exc}"[:300], "detail": []}
    try:
        res = con.execute(oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as exc:
        return {"ok": False, "err": f"oracle: {exc}"[:300], "detail": []}
    schema_ok = sorted(scols) == sorted(ocols)
    count_ok = len(srows) == len(orows)
    hash_ok = (
        schema_ok
        and count_ok
        and table_hash(srows, scols) == table_hash(orows, ocols)
    )
    detail = []
    if not schema_ok:
        detail = [f"spark cols:  {sorted(scols)}", f"oracle cols: {sorted(ocols)}"]
    elif count_ok and not hash_ok:
        # the first differing row pair
        for a, b in zip(_row_lines(srows, scols), _row_lines(orows, ocols)):
            if a != b:
                detail = [f"spark : {a[:200]}", f"oracle: {b[:200]}"]
                break
    return {
        "ok": hash_ok,
        "err": None,
        "rows_match": count_ok,
        "schema_match": schema_ok,
        "hash_match": hash_ok,
        "spark_rows": len(srows),
        "oracle_rows": len(orows),
        "detail": detail,
    }


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    records: dict[str, dict] = {}

    import __spark_entry__ as entrymod
    from impresso_ta.session import get_spark

    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_confs={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection(sf_dir)

    failures = 0
    for name in entrymod.queries():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = check_entry(spark, con, name, sf_dir)
        detail = rec.pop("detail")
        ok = rec.pop("ok")
        records[name] = rec
        if not ok:
            failures += 1
        if rec["err"]:
            print(f"FAIL  {name}: {rec['err']}")
            continue
        print(
            f"{'OK   ' if ok else 'FAIL '} {name}: "
            f"rows {rec['spark_rows']}/{rec['oracle_rows']} "
            f"schema={'Y' if rec['schema_match'] else 'N'} "
            f"hash={'Y' if rec['hash_match'] else 'N'} "
            f"[{time.time() - t0:.1f}s]"
        )
        for line in detail:
            print(f"  {line}")
    spark.stop()
    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "n": len(records), "failures": failures,
                 "queries": records},
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
