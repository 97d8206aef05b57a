"""Untimed result checks. Each returns None when the result is right
and a one-line reason when it is not; a reason counts the operation as
failed. Nothing here retries, re-seeds or resizes an input."""

from __future__ import annotations

import math
import os
import re

import duckdb

_CTE = re.compile(r"\b([a-z_][a-z_0-9]*) AS \(")


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def canonical_rows(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted, floats rounded to 9 dp —
    the order-insensitive form both engines are compared in."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    key = [columns[i] for i in idx]
    out = [tuple(_canon(r[i]) for i in idx) for r in rows]
    return key, sorted(out, key=lambda t: tuple((x is None, str(type(x)), x if x is not None else 0) for x in t))


class Oracle:
    """DuckDB over one generated table directory (a view per parquet
    file); each registry query's twin runs once and its canonical rows
    are reused for every later check of that query."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                self.con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{sf_dir}/{f}'")
        self._memo: dict[str, tuple[list[str], list[tuple]]] = {}
        self._have_pairs = False

    def expected(self, name: str, sql: str) -> tuple[list[str], list[tuple]]:
        if name not in self._memo:
            res = self.con.execute(self._shared(sql))
            cols = [d[0] for d in res.description]
            self._memo[name] = canonical_rows(cols, res.fetchall())
        return self._memo[name]

    def _shared(self, sql: str) -> str:
        """The same query, cheaper to evaluate: the n-gram Jaccard pair set
        several twins embed is computed once into a table, and every
        named CTE is materialized instead of re-evaluated at each
        reference. The twins are deterministic, so neither changes a
        result."""
        from crypto_data_pipeline_spark.plans.extension_queries import _NGRAM_JACCARD_ORACLE

        if _NGRAM_JACCARD_ORACLE in sql:
            if not self._have_pairs:
                self.con.execute(f"CREATE TEMP TABLE jaccard_pairs AS {_NGRAM_JACCARD_ORACLE}")
                self._have_pairs = True
            sql = sql.replace(_NGRAM_JACCARD_ORACLE, "SELECT * FROM jaccard_pairs")
        return _CTE.sub(r"\1 AS MATERIALIZED (", sql)

    def close(self) -> None:
        self.con.close()


def _compare(want: tuple[list[str], list[tuple]], columns: list[str], rows: list[tuple],
             what: str) -> str | None:
    want_cols, want_rows = want
    got_cols, got = canonical_rows(columns, rows)
    if got_cols != want_cols:
        return f"{what}: columns {got_cols} != expected {want_cols}"
    if got != want_rows:
        return f"{what}: {len(got)} rows differ from the expected {len(want_rows)}"
    return None


def check_query(oracle: Oracle, name: str, sql: str, columns: list[str], rows: list[tuple]) -> str | None:
    return _compare(oracle.expected(name, sql), columns, rows, name)


def recall_at_k(truth_rows: list[tuple], got_rows: list[tuple]) -> float:
    """Recall of (query_id, vec_id) pairs against the exact top-k."""
    truth: dict[int, set] = {}
    for q, v in truth_rows:
        truth.setdefault(q, set()).add(v)
    got: dict[int, set] = {}
    for q, v in got_rows:
        got.setdefault(q, set()).add(v)
    total = sum(len(s) for s in truth.values())
    hits = sum(len(got.get(q, set()) & s) for q, s in truth.items())
    return hits / total if total else 0.0


# ---------------------------------------------------------------------------
# DuckDB twins over landed coin-history parquet (entity, date, price,
# market cap columns named by the caller)


def silver_monthly_avg_sql(src: str, entity: str, date: str, price: str) -> str:
    return f"""
SELECT {entity}, CAST(year({date}) AS INT) AS year, CAST(month({date}) AS INT) AS month,
       round(avg({price}) + 1e-9, 2) AS avg_price
FROM {src} WHERE {price} IS NOT NULL GROUP BY 1, 2, 3
"""


def silver_gold_sql(src: str, entity: str, date: str, price: str) -> str:
    return f"""
SELECT {entity}, CAST(year({date}) AS INT) AS year, CAST(month({date}) AS INT) AS month,
       min({price}) AS min_{price}, max({price}) AS max_{price}
FROM {src} WHERE {price} IS NOT NULL GROUP BY 1, 2, 3
"""


def silver_recovery_sql(src: str) -> str:
    """Reference Query 2 over (entity_id, fetch_date, price,
    market_cap_usd): >= 3 consecutive down days, the recovery rows after
    them, average gain per entity, latest market cap formatted T/B."""
    w = "(PARTITION BY entity_id ORDER BY fetch_date)"
    return f"""
WITH history AS (SELECT entity_id, fetch_date, price, market_cap_usd FROM {src}),
changes AS (
  SELECT entity_id, fetch_date, price,
         CASE WHEN price < lag(price) OVER {w} THEN 1 ELSE 0 END AS is_drop_day
  FROM history WHERE price IS NOT NULL
),
seqs AS (
  SELECT *, SUM(1 - is_drop_day) OVER ({w[1:-1]} ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS grp
  FROM changes
),
drops AS (
  SELECT entity_id, grp, min(price) AS lowest_price, max(fetch_date) AS end_date
  FROM seqs WHERE is_drop_day = 1 GROUP BY 1, 2 HAVING count(*) >= 3
),
incr AS (
  SELECT d.entity_id, d.lowest_price, d.end_date, h.price AS recovery_price
  FROM drops d JOIN history h
    ON h.entity_id = d.entity_id AND h.fetch_date > d.end_date AND h.price > d.lowest_price
  GROUP BY 1, 2, 3, 4
),
caps AS (
  SELECT entity_id, market_cap_usd AS market_cap,
         CASE WHEN market_cap_usd >= 1e12
              THEN CAST(round(market_cap_usd / 1e12, 2) AS VARCHAR) || 'T'
              WHEN market_cap_usd IS NOT NULL
              THEN CAST(round(market_cap_usd / 1e9, 2) AS VARCHAR) || 'B' END
           AS market_cap_formatted
  FROM (SELECT *, row_number() OVER (PARTITION BY entity_id ORDER BY fetch_date DESC) AS rn
        FROM history) WHERE rn = 1
)
SELECT g.entity_id, g.avg_price_increase_pct, c.market_cap, c.market_cap_formatted
FROM (SELECT entity_id,
             round(avg((recovery_price - lowest_price) / lowest_price * 100) + 1e-9, 2)
               AS avg_price_increase_pct
      FROM incr GROUP BY 1) g
LEFT JOIN caps c USING (entity_id)
"""


def compare_sql(con, sql: str, columns: list[str], rows: list[tuple], what: str) -> str | None:
    res = con.execute(sql)
    return _compare(canonical_rows([d[0] for d in res.description], res.fetchall()),
                    columns, rows, what)
