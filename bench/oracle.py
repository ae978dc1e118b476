"""DuckDB oracle check for catalog outputs, the same comparison the repo's
tools/check_oracle.py makes: each dumped entry is compared with its oracle
SQL run over the generated tables, columns sorted by name and rows by all
columns, cell by cell as strings."""
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(con, sql):
    df = con.execute(sql).fetch_df()
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df.astype(str)


def compare(tables_dir, out_dir):
    """Returns one problem line per entry whose output differs."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    problems = []
    for name, sql in sorted(oracle.items()):
        try:
            mine = _canon(con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            ref = _canon(con, sql)
        except Exception as e:  # a failing oracle query is a failed check
            problems.append(f"{name}: oracle compare raised {type(e).__name__}: {e}")
            continue
        if list(mine.columns) != list(ref.columns):
            problems.append(f"{name}: columns {list(mine.columns)} vs oracle {list(ref.columns)}")
        elif len(mine) != len(ref):
            problems.append(f"{name}: {len(mine)} rows vs oracle {len(ref)}")
        elif not mine.equals(ref):
            problems.append(f"{name}: {int((mine != ref).any(axis=1).sum())} rows differ from oracle")
    con.close()
    return problems
