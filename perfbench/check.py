"""Output checks: typed, canonical comparison of result tables.

`canon` and the comparison rules are those of the repository's DuckDB
oracle check: columns sorted by name, rows sorted, object columns as
strings, timestamps at microsecond precision, and a dtype mismatch is a
failure even when the values agree.
"""
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, exp: pd.DataFrame):
    """None if equal, else a one-line reason."""
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    if [str(t) for t in got.dtypes] != [str(t) for t in exp.dtypes]:
        return f"dtypes {list(map(str, got.dtypes))} != {list(map(str, exp.dtypes))}"
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + " ".join(str(e).split())[:200]
    return None


def read_dir(con, path):
    return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()


def run_checks(checks, data_dir):
    """Each check names a `got` parquet directory and either an oracle
    `sql` over the input tables in `data_dir` or an `exp` directory.
    Returns {name: reason} for every failed check."""
    con = duckdb.connect()
    for t in TABLES if any(c.get("sql") for c in checks) else []:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    failed = {}
    for c in checks:
        try:
            got = read_dir(con, c["got"])
            if c.get("exp"):
                exp = read_dir(con, c["exp"])
            elif c.get("sql"):
                exp = con.execute(c["sql"]).df()
            else:
                failed[c["name"]] = "no oracle"
                continue
            reason = compare(got, exp)
        except Exception as e:  # a check that cannot run is a failed check
            reason = f"{type(e).__name__}: {e}"
        if reason:
            failed[c["name"]] = reason
    return failed
