"""Independent expected outputs, computed in DuckDB.

The parse contract here is the full-array one documented in
``functions/tokens.py``: the first marker of each kind anywhere in the token
array wins.  Nothing in this module calls the package's Spark code, so a
defect in the pipeline cannot cancel out of the comparison.
"""

from __future__ import annotations

import duckdb

_PARSED = """
parsed AS (
  SELECT *,
    ['debug','info','warn','error','fatal'][list_filter(tokens, x -> x >= 10 AND x < 15)[1] - 9] AS severity,
    'svc-' || CAST(list_filter(tokens, x -> x >= 100 AND x < 120)[1] - 100 AS VARCHAR) AS resource,
    'scope-' || CAST(list_filter(tokens, x -> x >= 200 AND x < 208)[1] - 200 AS VARCHAR) AS scope,
    ['debug','info','warn','error','fatal'][list_filter(tokens[1:3], x -> x >= 10 AND x < 15)[1] - 9] AS h_severity,
    'svc-' || CAST(list_filter(tokens[1:3], x -> x >= 100 AND x < 120)[1] - 100 AS VARCHAR) AS h_resource,
    'scope-' || CAST(list_filter(tokens[1:3], x -> x >= 200 AND x < 208)[1] - 200 AS VARCHAR) AS h_scope
  FROM seq
), dim AS (
  SELECT 'svc-' || CAST(r AS VARCHAR) AS resource,
         'team-' || CAST(r % 5 AS VARCHAR) AS team,
         CASE r % 3 WHEN 0 THEN 'gold' WHEN 1 THEN 'silver' ELSE 'bronze' END AS tier
  FROM range(0, 20) t(r)
), enriched AS (
  SELECT p.*, dim.team, dim.tier FROM parsed p LEFT JOIN dim USING (resource)
)
"""
_ROUTES = """
logs AS (
  SELECT * FROM enriched WHERE severity IN ('warn', 'error', 'fatal')
), traces AS (
  SELECT * FROM enriched
  WHERE scope IN ('scope-0', 'scope-1', 'scope-2') AND source <> 'webhook'
)
"""

# sink name -> the rows the pipeline must write there
SINK_SQL = {
    "logs": "SELECT count(*) FROM logs",
    "traces": "SELECT count(*) FROM traces",
    "metrics": "SELECT source, severity, count(*) AS seq_count, sum(n_tok) AS tok_count "
    "FROM enriched GROUP BY ALL",
    "logs_agg": "SELECT team, severity, count(*) AS log_count FROM logs GROUP BY ALL",
    "traces_agg": "SELECT scope, tier, count(*) AS span_count FROM traces GROUP BY ALL",
}


def _enrich(con: duckdb.DuckDBPyConnection, seq_sql: str) -> None:
    """Materialize the parsed + enriched input once as temp table `enriched`."""
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE enriched AS "
        f"WITH seq AS ({seq_sql}), {_PARSED} SELECT * FROM enriched"
    )


def sink_rows(con: duckdb.DuckDBPyConnection, seq_sql: str) -> dict[str, list[tuple]]:
    """Expected rows of every sink, sorted; the row sinks as a 1-tuple count."""
    _enrich(con, seq_sql)
    return {
        name: sorted(con.sql(f"WITH {_ROUTES} {sql}").fetchall(), key=repr)
        for name, sql in SINK_SQL.items()
    }


def sink_counts(expected: dict[str, list[tuple]]) -> dict[str, int]:
    """What count-only `run_pipeline` returns: rows per sink."""
    return {
        name: rows[0][0] if name in ("logs", "traces") else len(rows)
        for name, rows in expected.items()
    }


def misparsed_rows(con: duckdb.DuckDBPyConnection) -> int:
    """Rows of the last `sink_rows` input whose attributes from the 3-token
    head differ from the full-array contract: the rows a head-only parse
    gets wrong."""
    return con.sql(
        "SELECT count(*) FROM enriched WHERE severity IS DISTINCT FROM h_severity "
        "OR resource IS DISTINCT FROM h_resource OR scope IS DISTINCT FROM h_scope"
    ).fetchall()[0][0]


def written_rows(con: duckdb.DuckDBPyConnection, sink_dir: str, name: str) -> list[tuple]:
    """The rows a sink wrote, in the shape of `sink_rows`."""
    src = f"read_parquet('{sink_dir}/**/*.parquet', hive_partitioning = true)"
    if name in ("logs", "traces"):
        sql = f"SELECT count(*) FROM {src}"
    else:
        cols = {
            "metrics": "source, severity, seq_count, tok_count",
            "logs_agg": "team, severity, log_count",
            "traces_agg": "scope, tier, span_count",
        }[name]
        sql = f"SELECT {cols} FROM {src}"
    return sorted(con.sql(sql).fetchall(), key=repr)


def lineage_total(con: duckdb.DuckDBPyConnection, lineage_dir: str) -> int:
    return con.sql(
        f"SELECT coalesce(sum(row_count), 0) FROM "
        f"read_parquet('{lineage_dir}/**/*.parquet', hive_partitioning = true)"
    ).fetchall()[0][0]
