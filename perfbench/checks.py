"""Output checks. All of them run untimed, between timed ops.

- The ETL pipeline's Delta output is reduced to a fingerprint of exact
  integer and decimal aggregates, computed by the same SQL in Spark and,
  over the input parquet, in DuckDB.
- A curation pipeline's output is compared cell by cell with its
  registered DuckDB oracle (``queries.ORACLES``), order-insensitively.
- An upserts table is checked against a model the benchmark keeps
  itself: row count after every op, full content at the end.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb
from tools.check_correctness import _normalize

#: exact fingerprint of the ETL output view ``win``, valid in Spark SQL
#: and DuckDB alike; every column takes part in at least one aggregate
ETL_FINGERPRINT = """
select count(*) as n_rows,
       sum(n_lines) as n_lines,
       sum(revenue) as revenue,
       sum(cum_revenue) as cum_revenue,
       sum(seg_rank) as ranks,
       sum(o_custkey * seg_rank) as key_rank,
       sum((year(order_month) * 100 + month(order_month)) * seg_rank) as month_rank,
       sum(revenue * seg_rank) as revenue_rank,
       count(distinct c_mktsegment) as segments
from win
"""


def canon_row(row) -> tuple:
    """Numbers compared by value: ints, floats and decimals all become
    Decimal, so the two engines' integer widths do not matter."""
    return tuple(None if v is None else Decimal(str(v)) for v in row)


class Oracle:
    """DuckDB over the generated parquet inputs; each query runs once."""

    def __init__(self, data_dir: str, tables: list[str]) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._memo: dict[str, object] = {}

    def etl_fingerprint(self, agg_sql: str, win_sql: str) -> tuple:
        key = agg_sql + win_sql
        if key not in self._memo:
            sql = f"WITH agg AS ({agg_sql}), win AS ({win_sql}) {ETL_FINGERPRINT}"
            self._memo[key] = canon_row(self.con.execute(sql).fetchone())
        return self._memo[key]

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        if sql not in self._memo:
            df = self.con.execute(sql).df()
            self._memo[sql] = normalize(df)
        return self._memo[sql]

    def close(self) -> None:
        self.con.close()


def normalize(pdf) -> tuple[list[str], list[tuple]]:
    """pandas frame -> (column names sorted, sorted rows of cell tokens),
    canonicalised as the package's oracle sweep does."""
    cols = list(pdf.columns)
    return sorted(cols), _normalize(list(pdf.itertuples(index=False, name=None)), cols)
