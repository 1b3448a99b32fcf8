"""Compare one Spark output with its DuckDB oracle, exactly the way the
repo's correctness gate (`tools/check.py`) does: same row count, same
column names (sorted), then both frames sorted on every column and
compared cell for cell with strict dtypes. The only normalization is
datetime resolution (ns vs us), as in that gate."""
import hashlib
import os

import duckdb
import pandas as pd


class Oracle:
    """DuckDB views over one input directory, plus a cache of oracle
    results keyed by the SQL text (the inputs are fixed per directory)."""

    def __init__(self, input_dir, tables):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
        self.cache = os.path.join(input_dir, "oracle")
        os.makedirs(self.cache, exist_ok=True)

    def result(self, sql):
        path = os.path.join(
            self.cache, hashlib.sha256(sql.encode()).hexdigest()[:24] + ".parquet")
        if not os.path.exists(path):
            self.con.execute(sql).fetchdf().to_parquet(path + ".tmp")
            os.replace(path + ".tmp", path)
        # always the stored copy, so cached and fresh runs compare alike
        return pd.read_parquet(path)


def compare(oracle, sql, spark_dir):
    """Returns None when the outputs match, else a one-line reason."""
    try:
        sdf = pd.read_parquet(spark_dir)
        odf = oracle.result(sql)
    except Exception as e:  # noqa: BLE001 - any failure is a mismatch
        return f"error: {type(e).__name__}: {str(e).splitlines()[0][:200]}"
    if len(sdf) != len(odf):
        return f"rows spark={len(sdf)} oracle={len(odf)}"
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        return f"columns spark={scols} oracle={ocols}"
    a = sdf[scols].sort_values(scols).reset_index(drop=True)
    b = odf[ocols].sort_values(ocols).reset_index(drop=True)
    bad = []
    for c in scols:
        da, db = a[c].dtype, b[c].dtype
        if da == db:
            continue
        if str(da).startswith("datetime64") and str(db).startswith("datetime64") \
                and getattr(da, "tz", None) == getattr(db, "tz", None):
            b[c] = b[c].astype(da)
        else:
            bad.append(f"{c}: spark={da} oracle={db}")
    if bad:
        return "dtype " + "; ".join(bad)
    if not a.equals(b):
        neq = ((a != b) & ~(a.isna() & b.isna())).any(axis=1)
        return f"values differ in {int(neq.sum())} of {len(a)} rows"
    return None
