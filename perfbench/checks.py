"""Oracle check of registry ops: the output the harness wrote in its warm
pass against DuckDB running the op's `SparkEntry.oracleSql` on the same
fixture. Values compare as `tools/verify_local.py` compares them: columns
sorted by name, floats exactly (NaN equals NaN), everything else as text."""
import glob

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canonical(df):
    return df[sorted(df.columns)].reset_index(drop=True)


def _difference(got, exp):
    """The first difference verify_local.py would report, or None."""
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    if sorted(got.columns) != sorted(exp.columns):
        return f"cols {sorted(got.columns)} vs {sorted(exp.columns)}"
    g, e = _canonical(got), _canonical(exp)
    for c in g.columns:
        gs, es = g[c], e[c]
        if gs.dtype.kind == "f" or es.dtype.kind == "f":
            bad = ~((gs.isna() & es.isna()) | (gs == es))
            if bad.any():
                return f"col {c}: {int(bad.sum())} diffs (max abs {(gs[bad] - es[bad]).abs().max()})"
        else:
            bad = ~((gs.isna() & es.isna()) | (gs.astype(str) == es.astype(str)))
            if bad.any():
                i = bad.idxmax()
                return f"col {c}: {int(bad.sum())} diffs, first {gs[i]!r} vs {es[i]!r}"
    return None


def oracle_checks(fixture_dir, check_dir, oracles):
    """`oracles`: (name, sql) pairs. Returns {name: problem or None}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    out = {}
    for name, sql in oracles:
        try:
            files = sorted(glob.glob(f"{check_dir}/{name}/*.parquet"))
            if not files:
                out[name] = "no output written"
                continue
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            exp = con.sql(sql).df()
            out[name] = _difference(got, exp)
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"{type(e).__name__}: {str(e).splitlines()[0]}"
    con.close()
    return out
