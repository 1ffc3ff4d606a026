"""DuckDB oracle check: each op's Spark result (a parquet dir written by
the check pass) against its `oracleSql` run by DuckDB over the same
generated tables. Columns are sorted by name and rows by all columns,
then values compared exactly, as tools/compare.py does."""
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if type(v).__name__ == "Decimal":
        return float(v)
    return v


def canon(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], rows


def compare(data_dir, checks, tmp_dir):
    """[(name, ok, message)] for every {"name", "dir", "sql"} check."""
    if not any("sql" in c for c in checks):
        return []
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")

    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = []
    for c in checks:
        if "sql" not in c:
            continue
        try:
            s_cols, s_rows = canon(con.sql(
                f"SELECT * FROM read_parquet('{c['dir']}/*.parquet')"))
            o_cols, o_rows = canon(con.sql(c["sql"]))
        except Exception as e:  # an oracle that cannot run is a failure
            out.append((c["name"], False, str(e).splitlines()[0]))
            continue
        if s_cols != o_cols:
            out.append((c["name"], False, f"columns {s_cols} != {o_cols}"))
        elif s_rows != o_rows:
            out.append((c["name"], False,
                        f"{len(s_rows)} rows vs {len(o_rows)} oracle rows differ"))
        else:
            out.append((c["name"], True, f"{len(s_rows)} rows"))
    return out
