"""Output checks, run once per benchmark run after the JVM has exited.

* Query workloads: each answer the untimed pass wrote is compared with DuckDB
  running the query's ``SparkEntry.oracleSql`` over the same tables, by the
  rule of tools/check_oracle.py: columns sorted by name, rows sorted, values
  exact, and the dtype kind must agree. An entry without oracle SQL must be
  non-empty.
* sparkify_etl: table row counts and the four README answers are compared
  with the generator's ground truth.

Each function returns a list of (check name, error or None).
"""
import glob
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _compare(got, exp):
    import pandas as pd
    g, e = _norm(got), _norm(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    kind_bad = [c for c in g.columns if g[c].dtype.kind != e[c].dtype.kind]
    if kind_bad:
        return f"dtype kind differs on {kind_bad}"
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return str(ex).splitlines()[0][:300] if str(ex) else "values differ"
    return None


def check_queries(data_dir, check_dir, queries, oracle_sql, harness_errors, tmp_dir):
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = []
    for name in queries:
        if name in harness_errors:
            out.append((name, "untimed pass failed: " + harness_errors[name]))
            continue
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        if not files:
            out.append((name, "no output written"))
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle_sql:
            out.append((name, None if len(got) > 0 else "rows-only entry is empty"))
            continue
        try:
            exp = con.sql(oracle_sql[name]).df()
        except Exception as ex:  # an oracle that cannot run is a failed check
            out.append((name, f"oracle failed: {ex}"[:300]))
            continue
        out.append((name, _compare(got, exp)))
    con.close()
    return out


def check_sparkify(checks, errors, truth):
    out = [(n, "check query failed: " + e) for n, e in errors.items()]

    def expect(name, got, want):
        if name in errors:
            return
        out.append((name, None if got == want else f"got {got!r:.300} want {want!r:.300}"))

    expect("rows", checks.get("rows"), truth["rows"])
    expect("topSongs", checks.get("topSongs"), truth["top_songs"])
    expect("topUsers", checks.get("topUsers"), truth["top_users"])
    got_ids = checks.get("topUserId")
    expect("topUserId", sorted(r[0] for r in got_ids) if got_ids is not None else None,
           truth["top_user_ids"])
    rows = checks.get("topSessionsForUser")
    if "topSessionsForUser" not in errors:
        # session_id may be any of the sessions tied on (song_count, date)
        ok = rows is not None and [r[1:] for r in rows] == truth["top_sessions"] and all(
            r[0] in truth["session_choices"][f"{r[1]}|{r[3]}"] for r in rows)
        out.append(("topSessionsForUser", None if ok else
                    f"got {rows!r:.300} want {truth['top_sessions']!r:.300}"))
    return out
