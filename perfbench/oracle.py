"""DuckDB oracle comparison of the benchmark's warm-up results: each query's
parquet copy against its `SparkEntry.oracleSql` statement over the same
generated tables. Both sides are canonicalized the way the repo's
correctness gate does it (columns sorted by name, rows sorted, floats
rounded to 6 places) before comparing. The benchmark keeps its own copy
so that its check does not change with the repository's tools."""
import glob
import os

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64").round(6)
        elif str(df[c].dtype).startswith("datetime"):
            import pandas as pd
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(results):
    """Return {query name: failure message} for every result with an oracle
    that does not match it (empty when all match). Each result names the
    tables directory its query read."""
    todo = {n: r for n, r in results.items() if r.get("oracle")}
    if not todo:
        return {}
    import duckdb
    import pandas as pd
    failed = {}
    for tables_dir in sorted({r["tables"] for r in todo.values()}):
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        for name, r in sorted(todo.items()):
            if r["tables"] == tables_dir:
                msg = compare(con, pd, r)
                if msg:
                    failed[name] = msg
        con.close()
    return failed


def compare(con, pd, r):
    """Failure message for one result against its oracle, or None."""
    files = glob.glob(os.path.join(r["dir"], "*.parquet"))
    try:
        mine = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
        want = canon(con.execute(r["oracle"]).fetchdf())
        if list(mine.columns) != list(want.columns):
            return f"columns {list(mine.columns)} vs {list(want.columns)}"
        if len(mine) != len(want):
            return f"rows {len(mine)} vs {len(want)}"
        if not len(mine):
            return "empty result"
        kind = [c for c in mine.columns
                if {mine[c].dtype.kind, want[c].dtype.kind} == {"i", "f"}
                and not mine[c].isna().any() and not want[c].isna().any()]
        if kind:
            return f"int vs float columns {kind}"
        pd.testing.assert_frame_equal(mine, want, check_dtype=False,
                                      check_exact=False, rtol=1e-9, atol=1e-9)
    except AssertionError as e:
        return f"value mismatch: {str(e)[:300]}"
    except Exception as e:  # a broken oracle run is a failed check too
        return f"{type(e).__name__}: {str(e)[:300]}"
    return None
