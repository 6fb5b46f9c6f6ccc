"""Order-insensitive result fingerprints, computed in DuckDB.

A fingerprint is the row count plus the sum (mod 2^64) of one hash per row,
so row order does not matter and any changed value changes it. Before
hashing, every value is put in one canonical form, so that the engine's
parquet output and the DuckDB oracle's result agree when their values agree
but their types differ: numbers become `%.10g` text of their DOUBLE value
(negative zero folded to zero), dates and timestamps become zone-less
timestamp text (DuckDB types some truncated timestamps as DATE), and
anything else is rendered as text. Columns are taken in name order.
"""
import duckdb

NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
           "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT", "FLOAT", "DOUBLE",
           "DECIMAL")


def _is_numeric(t):
    return t.startswith(NUMERIC)


def _num(x):
    return f"printf('%.10g', CAST({x} AS DOUBLE) + 0.0)"


def _canon(col, typ):
    c = '"' + col.replace('"', '""') + '"'
    if typ.endswith("[]"):
        if _is_numeric(typ[:-2]):
            return f"list_transform({c}, x -> {_num('x')})"
        return f"CAST({c} AS VARCHAR)"
    if _is_numeric(typ):
        return _num(c)
    if typ == "DATE" or typ.startswith("TIMESTAMP"):
        return f"CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
    return f"CAST({c} AS VARCHAR)"


def fingerprint_sql(con, relation):
    """Fingerprint of any DuckDB relation expression (a table function call,
    a view name or a parenthesised query): 'rows:hash:columns-hash'."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    cols = sorted((c[0], c[1]) for c in cols)
    names = ",".join(n for n, _ in cols)
    exprs = ", ".join(_canon(n, t) for n, t in cols)
    rows, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({exprs})), 0) FROM {relation}").fetchone()
    name_hash = con.execute("SELECT hash(?)", [names]).fetchone()[0]
    return f"{rows}:{int(h) % 2**64:016x}:{name_hash:016x}"


def parquet_relation(path, partitioned=False):
    if partitioned:
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"
    return f"read_parquet('{path}/*.parquet')"


def connect():
    return duckdb.connect(config={"threads": 4})
