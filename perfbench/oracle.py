"""Output check: each gate's result against its DuckDB oracle.

The expected result comes from the gate's ``ORACLES`` SQL run by DuckDB
over the same parquet files.  Both sides are compared as order-free
multisets of canonical rows: columns by name, floats rounded to 6
places, integral numbers as ints, timestamps as naive ISO strings.
Gates without an oracle get a row-count check (a non-empty result).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import pyarrow as pa


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and math.isnan(v):
            return None
        if isinstance(v, float) and math.isinf(v):
            return v
        if v == int(v):
            return int(v)
        return round(float(v), 6)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat(sep=" ")
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def canonical_rows(table: pa.Table) -> tuple[tuple[str, ...], list[tuple]]:
    cols = tuple(sorted(table.column_names))
    rows = [
        tuple(_canon(r[c]) for c in cols)
        for r in table.select(list(cols)).to_pylist()
    ]
    rows.sort(key=repr)
    return cols, rows


class Oracle:
    """DuckDB views over one data directory; checks results by gate name."""

    def __init__(self, data_dir: str, tables: tuple[str, ...], oracles: dict[str, str]):
        import duckdb

        self._oracles = oracles
        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        self._expected: dict[str, tuple] = {}

    def close(self) -> None:
        self._con.close()

    def check(self, name: str, got: pa.Table) -> str | None:
        """None when ``got`` is correct, else a one-line reason."""
        sql = self._oracles.get(name)
        if sql is None:
            return None if got.num_rows > 0 else "row-count check: empty result"
        if name not in self._expected:
            self._expected[name] = canonical_rows(self._con.execute(sql).arrow())
        want_cols, want_rows = self._expected[name]
        got_cols, got_rows = canonical_rows(got)
        if got_cols != want_cols:
            return f"columns {list(got_cols)} != oracle {list(want_cols)}"
        if len(got_rows) != len(want_rows):
            return f"{len(got_rows)} rows != oracle {len(want_rows)}"
        if got_rows != want_rows:
            bad = next(i for i, (a, b) in enumerate(zip(got_rows, want_rows)) if a != b)
            return f"row {bad} differs: {got_rows[bad]!r} != {want_rows[bad]!r}"[:300]
        return None
