"""Order-insensitive output check of registry lanes against their DuckDB
oracles (``__spark_entry__.oracle_sql()``) over the same generated tables.

Cells are stringified the way a cross-engine compare needs: floats rounded
to 9 significant digits (summation order differs between engines and
between runs), -0.0 folded into 0.0, decimals as floats, timestamps in ISO
form.  Oracle-backed lanes return scalar columns only, so no other types
need a rule.  Rows are sorted, columns are matched by name, and the result is a
row count plus a hash of the sorted rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _cell(v) -> str:
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            return "0"
        return f"{float(f'{v:.9g}')!r}".removesuffix(".0")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return str(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, hash of the sorted stringified rows, columns by name)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return len(lines), h.hexdigest()


def spark_digest(df) -> tuple[int, str]:
    return digest(df.columns, [tuple(r) for r in df.collect()])


class Oracle:
    """DuckDB views over the generated tables."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def digest(self, sql: str) -> tuple[int, str]:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        return digest(cols, res.fetchall())

    def close(self) -> None:
        self.con.close()
