"""Correctness checks against DuckDB, run outside every timed region.

Fixture queries are hashed against their declared DuckDB oracle over the
same directory with the engine's own comparison helpers
(``tools/check_correctness``). Loans tasks 1-3 are re-read from the CSV
sink and hashed against DuckDB SQL over the same input CSV.
"""

from __future__ import annotations

import glob
import os
import time

from perfbench.workloads import MIN_AUC


def _fingerprint_duckdb(con, sql):
    from tools.check_correctness import table_fingerprint

    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    return table_fingerprint(cols, rel.fetchall())


def check_fixture(spark, qs, oracles, names, sf_dir):
    """Returns (mismatched query names, DuckDB seconds)."""
    import duckdb

    from tools.check_correctness import register_views, table_fingerprint

    con = duckdb.connect()
    register_views(con, sf_dir)
    bad, duck_s = [], 0.0
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            got = table_fingerprint(sdf.columns, [tuple(r) for r in sdf.collect()])
            t0 = time.perf_counter()
            want = _fingerprint_duckdb(con, oracles[name])
            duck_s += time.perf_counter() - t0
        except Exception as exc:  # a raising query or oracle is a mismatch
            bad.append(f"{name}: {exc!r}"[:300])
            continue
        if got != want:
            bad.append(f"{name}: spark {got} != oracle {want}")
    con.close()
    return bad, duck_s


_DUCK_TYPES = {"IntegerType": "INTEGER", "DoubleType": "DOUBLE",
               "StringType": "VARCHAR"}

#: DuckDB SQL for loans tasks 1-3 over view ``loans``.
LOANS_ORACLE = {
    "task1": "SELECT industry, count(*) AS cnt FROM loans GROUP BY industry",
    "task2": """
        SELECT '(' || CAST(e AS VARCHAR) || ',' || CAST(e + 1000 AS VARCHAR)
               || ')' AS bucket, count(*) AS cnt
        FROM (SELECT CAST(floor(total_loan / 1000) * 1000 AS BIGINT) AS e
              FROM loans)
        GROUP BY e""",
    "task3_1": """
        SELECT employer_type,
               round_even(CAST(count(*) AS DOUBLE)
                          / (SELECT count(*) FROM loans), 4) AS share
        FROM loans GROUP BY employer_type""",
    "task3_2": """
        SELECT user_id,
               CAST(CAST(year_of_loan AS REAL) * CAST(monthly_payment AS REAL)
                    * CAST(12 AS REAL) - CAST(total_loan AS REAL) AS DOUBLE)
               AS total_money
        FROM loans""",
    "task3_3": """
        SELECT user_id, year_of_loan, work_year FROM loans
        WHERE CASE WHEN work_year IS NULL THEN -1
                   WHEN contains(work_year, '10+') THEN 11
                   WHEN contains(work_year, '<') THEN 0
                   ELSE CAST(split_part(work_year, ' ', 1) AS INTEGER) END > 5""",
}

#: Column types of the CSV sink outputs, as DuckDB reads them back.
_SINK_TYPES = {
    "task1": {"industry": "VARCHAR", "cnt": "BIGINT"},
    "task2": {"bucket": "VARCHAR", "cnt": "BIGINT"},
    "task3_1": {"employer_type": "VARCHAR", "share": "DOUBLE"},
    "task3_2": {"user_id": "INTEGER", "total_money": "DOUBLE"},
    "task3_3": {"user_id": "INTEGER", "year_of_loan": "INTEGER",
                "work_year": "VARCHAR"},
}


def _read_csv_sql(pattern: str, types: dict[str, str]) -> str:
    cols = ", ".join(f"'{k}': '{v}'" for k, v in types.items())
    return (f"read_csv('{pattern}', header = true, columns = {{{cols}}}, "
            "auto_detect = false)")


def check_loans(csv_path, out_dir, aucs_per_batch):
    """Returns (mismatches, DuckDB seconds)."""
    import duckdb

    from financial_big_data_exp_4_spark.sources.loans import loans_schema

    con = duckdb.connect()
    types = {f.name: _DUCK_TYPES[type(f.dataType).__name__]
             for f in loans_schema().fields}
    con.execute("CREATE VIEW loans AS SELECT * FROM "
                + _read_csv_sql(os.path.join(csv_path, "*.csv"), types))
    bad, duck_s = [], 0.0
    for name, sql in LOANS_ORACLE.items():
        parts = glob.glob(os.path.join(out_dir, name, "part-*.csv"))
        if len(parts) != 1:
            bad.append(f"{name}: expected one sink file, found {len(parts)}")
            continue
        try:
            got = _fingerprint_duckdb(
                con, "SELECT * FROM " + _read_csv_sql(parts[0], _SINK_TYPES[name]))
            t0 = time.perf_counter()
            want = _fingerprint_duckdb(con, sql)
            duck_s += time.perf_counter() - t0
        except duckdb.Error as exc:
            bad.append(f"{name}: {exc!r}"[:300])
            continue
        if got != want:
            bad.append(f"{name}: sink {got} != oracle {want}")
    con.close()
    for batch, aucs in aucs_per_batch:
        for clf in ("lr", "rf"):
            if aucs.get(clf, 0.0) < MIN_AUC:
                bad.append(f"batch {batch} auc_{clf} {aucs.get(clf)} < {MIN_AUC}")
    return bad, duck_s
