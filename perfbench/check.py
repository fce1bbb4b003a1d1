"""Result checks against DuckDB, run after the timed phase."""

from __future__ import annotations

import duckdb
import pyarrow as pa

from data_lake_staging_engine_spark.testing import compare


def frame_vs_sql(name: str, df, con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """Spark DataFrame vs DuckDB SQL, order-insensitive, with the
    engine's own strict canonicalization (testing.compare)."""
    res = compare(name, df, con, sql)
    if res.ok:
        return []
    return [f"{name}: {res.detail} {res.mismatches[:2]}"]


def _arrow_kind(t: pa.DataType) -> str:
    """The value class testing._canon_value tags a cell of type ``t`` with."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "list"
    return str(t)


def _naive(table: pa.Table) -> pa.Table:
    """Time zone dropped from timestamp columns (the instants stay UTC),
    as testing._canon_value does."""
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            table = table.set_column(i, f.name, table.column(i).cast(pa.timestamp(f.type.unit)))
    return table


def rows_vs_sql(name: str, table: pa.Table, con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """An Arrow result vs DuckDB SQL, as multisets of rows.  Each column
    must hold the same class of value testing._canon_value tags (an int
    never matches a float, nor a decimal a double); the rows are then
    compared exactly, in DuckDB, with EXCEPT ALL both ways."""
    want = con.execute(f"SELECT * FROM ({sql})").arrow()
    if isinstance(want, pa.RecordBatchReader):
        want = want.read_all()
    if sorted(table.column_names) != sorted(want.column_names):
        return [f"{name}: columns {sorted(table.column_names)} != {sorted(want.column_names)}"]
    cols = sorted(want.column_names)
    kinds = {c: (_arrow_kind(table.schema.field(c).type), _arrow_kind(want.schema.field(c).type))
             for c in cols}
    bad = {c: k for c, k in kinds.items() if k[0] != k[1] and table.column(c).null_count < len(table)}
    if bad:
        return [f"{name}: column value classes differ {bad}"]
    con.register("perfbench_got", _naive(table.select(cols)))
    con.register("perfbench_want", want.select(cols))
    try:
        extra, missing = (
            con.execute(f"SELECT COUNT(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})").fetchone()[0]
            for a, b in (("perfbench_got", "perfbench_want"), ("perfbench_want", "perfbench_got"))
        )
    finally:
        con.unregister("perfbench_got")
        con.unregister("perfbench_want")
    if extra or missing:
        return [f"{name}: {table.num_rows} rows vs {want.num_rows}; "
                f"{extra} not in the oracle, {missing} missing"]
    return []


def counts_match(name: str, got: dict[str, int], want: dict[str, int]) -> list[str]:
    keys = sorted(set(got) | set(want))
    diff = {k: (got.get(k, 0), want.get(k, 0)) for k in keys if got.get(k, 0) != want.get(k, 0)}
    return [f"{name}: got != want {diff}"] if diff else []
