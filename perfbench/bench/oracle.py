"""Expected results from the DuckDB oracle.

The registry's oracle SQL (``SparkEntry.oracleSql``) runs here over the
same parquet tables the engine reads; each result is written as parquet
so the harness can digest it exactly like the engine's own output.
"""
import os

import duckdb

from . import datagen


def run(data_dir, sql_by_name, out_dir, work_dir, threads):
    """Write each oracle result to ``out_dir/<name>.parquet``; returns the
    names whose oracle could not run (their calls then have no expected
    output and fail)."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work_dir}/duckdb_tmp'")
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='2GB'")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    failed = []
    for name, sql in sorted(sql_by_name.items()):
        try:
            con.execute(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' "
                        "(FORMAT PARQUET)")
        except duckdb.Error:
            failed.append(name)
    con.close()
    return failed
