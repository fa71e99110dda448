"""Result checks for the query suite.

`compare` runs a query's oracle SQL in DuckDB over the same parquet tables
and compares it with the Spark output the way tools/check_oracle.py does:
columns sorted by name, rows sorted, dtype kinds equal, values compared by
their string form. `digest` hashes a rows-only output the same way, for
comparison with the digests recorded in rows_only_digests.json.
"""
import glob
import hashlib
import os


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def _normal(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _strings(col):
    if col.dtype.kind in "fO":
        return col.map(lambda v: "<NA>" if v is None or v != v else str(v))
    return col.astype(str)


def _read(con, out_dir):
    return con.execute(f"SELECT * FROM '{out_dir}/*.parquet'").fetchdf()


def compare(con, sql, out_dir):
    """None when the Spark output equals the oracle, else the difference."""
    exp = _normal(con.execute(sql).fetchdf())
    got = _normal(_read(con, out_dir))
    if list(exp.columns) != list(got.columns):
        return f"columns oracle={list(exp.columns)} spark={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows oracle={len(exp)} spark={len(got)}"
    for c in exp.columns:
        a, b = exp[c], got[c]
        if (a.dtype.kind in "iu") != (b.dtype.kind in "iu") or \
                (a.dtype.kind == "f") != (b.dtype.kind == "f"):
            return f"{c}: dtype oracle={a.dtype} spark={b.dtype}"
        eq = _strings(a) == _strings(b)
        if not eq.all():
            i = (~eq).idxmax()
            return f"{c}[{i}]: oracle={a[i]!r} spark={b[i]!r}"
    return None


def digest(con, out_dir):
    """Row count and order-independent content hash of one output."""
    df = _normal(_read(con, out_dir))
    h = hashlib.sha256()
    h.update(",".join(df.columns).encode())
    for c in df.columns:
        h.update("\x1f".join(_strings(df[c])).encode())
    return f"{len(df)}:{h.hexdigest()[:32]}"
