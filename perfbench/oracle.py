"""DuckDB side of the output check.

Each check carries a query's DuckDB oracle SQL and the fingerprint graft's
output gave (see graftbench/Fingerprint.scala). The oracle runs over the
same generated parquet tables, its result is fingerprinted by the same law,
and the two must be equal: same column names, row count, md5 sum and xor.
"""
from pathlib import Path

import duckdb

INTEGRAL = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
            "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")
FLOATING = ("FLOAT", "REAL", "DOUBLE")


def _canon(name: str, typ: str) -> str:
    c = '"' + name.replace('"', '""') + '"'
    t = typ.upper()
    if t in INTEGRAL or t in ("BOOLEAN", "VARCHAR"):
        return f"CAST({c} AS VARCHAR)"
    if t in FLOATING or t.startswith("DECIMAL"):
        d = f"CAST({c} AS DOUBLE)"
        return (f"CASE WHEN isnan({d}) THEN 'NaN' "
                f"WHEN {d} = 'inf'::DOUBLE THEN 'inf' "
                f"WHEN {d} = '-inf'::DOUBLE THEN '-inf' "
                f"ELSE CAST(CAST(floor({d} * 1000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) "
                f"AS VARCHAR) END")
    raise ValueError(f"output column {name} has type {typ}, which the check cannot compare")


def fingerprint(con, sql: str):
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_out AS {sql}")
    cols = sorted((r[0], r[1]) for r in con.execute("DESCRIBE oracle_out").fetchall())
    row = ", ".join(f"COALESCE({_canon(n, t)}, '\\N')" for n, t in cols)
    n, s, x = con.execute(f"""
        SELECT count(*)::BIGINT,
               COALESCE(sum(('0x' || substr(m, 1, 8))::BIGINT), 0)::BIGINT,
               COALESCE(bit_xor(('0x' || substr(m, 9, 15))::BIGINT), 0)
        FROM (SELECT md5(concat_ws('|', {row})) AS m FROM oracle_out)""").fetchone()
    return [c[0] for c in cols], int(n), int(s), int(x)


def _connect(data_dir: Path, tmp_dir: Path):
    """A DuckDB connection with one view per parquet table in `data_dir`."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    for table in sorted(data_dir.glob("*.parquet")):
        files = f"{table}/*.parquet" if table.is_dir() else str(table)
        con.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM read_parquet('{files}')")
    return con


def check(tmp_dir: Path, checks: list) -> list:
    """Runs every check's oracle over the tables of its `data` directory.
    Returns one error string per failed check (empty when all agree)."""
    cons = {}
    errors = []
    for c in checks:
        name = c["name"]
        if c["data"] not in cons:
            cons[c["data"]] = _connect(Path(c["data"]), tmp_dir)
        con = cons[c["data"]]
        if "error" in c:
            errors.append(f"{name}: graft failed: {c['error']}")
            continue
        try:
            cols, n, s, x = fingerprint(con, c["oracle"])
        except Exception as e:  # an oracle that cannot run is a failed check
            errors.append(f"{name}: oracle failed: {e}")
            continue
        got = (c["columns"], int(c["count"]), int(c["sum"]), int(c["xor"]))
        if got != (cols, n, s, x):
            errors.append(f"{name}: graft {got} != oracle {(cols, n, s, x)}")
    for con in cons.values():
        con.close()
    return errors
