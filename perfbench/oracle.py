"""Output check: each query's collected Spark result against its DuckDB
oracle (``betl_spark.contract.ORACLES``) run on the same generated
parquet, normalized as ``tests/test_oracle_parity.py`` does (columns
sorted by name, then rows; values rendered the way a hash compare sees
them). A 0-row result is vacuous and never passes."""

from __future__ import annotations

import datetime
import decimal


def _norm_val(v):
    # DuckDB returns DECIMAL/HUGEINT aggregates as Decimal/int; render
    # them as the float/int Spark produces so only values can differ
    if isinstance(v, decimal.Decimal):
        v = int(v) if v == v.to_integral_value() and v.as_tuple().exponent >= 0 else float(v)
    if isinstance(v, float):
        return f"{v!r}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return repr(v)


def normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm_val(r[i]) for i in order) for r in rows)


class Oracle:
    """Expected results for a set of queries, computed once per run on
    the generated inputs, outside any timed region."""

    def __init__(self, data_dir: str, tables, sql_by_name: dict[str, str]):
        import duckdb

        con = duckdb.connect()
        try:
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            self.expected = {}
            for name, sql in sql_by_name.items():
                res = con.execute(sql)
                self.expected[name] = normalize(
                    [d[0] for d in res.description], res.fetchall())
        finally:
            con.close()

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the result matches; otherwise why it does not."""
        if not rows:
            return "vacuous: 0 rows"
        exp_cols, exp_rows = self.expected[name]
        got_cols, got_rows = normalize(cols, rows)
        if got_cols != exp_cols:
            return f"columns {got_cols} != {exp_cols}"
        if len(got_rows) != len(exp_rows):
            return f"row count {len(got_rows)} != {len(exp_rows)}"
        bad = [i for i, (a, b) in enumerate(zip(got_rows, exp_rows)) if a != b]
        if bad:
            return f"{len(bad)} rows differ; first spark={got_rows[bad[0]]} oracle={exp_rows[bad[0]]}"
        return None
