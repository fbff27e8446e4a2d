"""Output check against the DuckDB oracle: each checked key's Spark result
(parquet) must equal its oracle SQL run by DuckDB on the same tables,
columns sorted by name and rows by value — the rules of tools/compare.py,
kept here so a change to the repo's tools cannot change what the
benchmark accepts.
"""
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype) == "object":
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def diff(expected, got):
    """None when equal, else a one-line reason."""
    exp, got = _norm(expected), _norm(got)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(exp.columns)} != {list(got.columns)}"
    if len(exp) != len(got):
        return f"rows {len(exp)} != {len(got)}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        if str(e.dtype).startswith("float") or str(g.dtype).startswith("float"):
            eq = (e.isna() & g.isna()) | (e == g)
        else:
            eq = (e.isna() & g.isna()) | (e.astype(str) == g.astype(str))
        if not eq.all():
            i = int((~eq).idxmax())
            return f"col {c} row {i}: oracle={e.iloc[i]!r} spark={g.iloc[i]!r}"
    return None


def check(data_dir, results_dir, oracle_sql, keys):
    """{key: reason} for every checked key whose result is wrong or missing."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    wrong = {}
    for k in keys:
        if k not in oracle_sql:
            wrong[k] = "no oracle SQL"
            continue
        try:
            got = pd.read_parquet(f"{results_dir}/{k}")
        except Exception as e:  # noqa: BLE001 - any unreadable result is a failure
            wrong[k] = f"result missing: {str(e)[:200]}"
            continue
        try:
            why = diff(con.sql(oracle_sql[k]).df(), got)
        except Exception as e:  # noqa: BLE001
            why = f"oracle error: {str(e)[:200]}"
        if why:
            wrong[k] = why
    con.close()
    return wrong
