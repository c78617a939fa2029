"""DuckDB side of the output check: replay each gate's `SparkEntry.oracleSql`
over the generated tables and fingerprint the result with the same rules
as `Canon.scala` (columns sorted by name, rows as a multiset, doubles by
their IEEE bits, DECIMAL output never matches — the rules of the
repository's oracle checker, `tools/check_oracles.py`).
"""
import datetime
import decimal
import hashlib
import os
import re
import struct

import duckdb

from gen import TABLES

_EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        if v != v:
            return "dNaN"
        return "d%x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t%d" % ((v - _EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "D" + v.isoformat()
    if isinstance(v, decimal.Decimal):
        return "DEC" + format(v, "f")
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "?" + str(v)


def _sha(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def fingerprint(columns, rows, decimal_typed=False):
    if decimal_typed:
        return "decimal-output"
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    digests = sorted(_sha("\x1f".join(canon(r[i]) for i in order)) for r in rows)
    return "rows:%d:%s" % (len(rows), _sha("\x1e".join(sorted(columns)) + "\n" +
                                           "\n".join(digests))[:32])


_PLAIN_CTE = re.compile(r"\b(\w+) AS \(")


def materialized(sql):
    """The recursive gates' oracles (cluster resolution, BFS) name plain
    CTEs that DuckDB re-evaluates on every recursion step. Marking them
    MATERIALIZED changes no result and makes the replay several times
    faster; recursive CTEs carry a column list and are left as they are."""
    if not sql.lstrip().upper().startswith("WITH RECURSIVE"):
        return sql
    return _PLAIN_CTE.sub(lambda m: f"{m.group(1)} AS MATERIALIZED (", sql)


def fingerprints(data_dir, oracle_sql, gates, temp_dir):
    """{gate: fingerprint} for `gates` over the tables in `data_dir`."""
    os.makedirs(temp_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{temp_dir}'")
        con.execute("SET memory_limit='2GB'")
        con.execute("SET threads=4")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for g in gates:
            try:
                rel = con.sql(materialized(oracle_sql[g]))
            except duckdb.Error:
                rel = con.sql(oracle_sql[g])
            dec = any(str(t).upper().startswith("DECIMAL") for t in rel.types)
            out[g] = fingerprint(list(rel.columns), rel.fetchall(), dec)
        return out
    finally:
        con.close()
