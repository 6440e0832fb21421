"""Oracle check: engine results against DuckDB over the same inputs.

The comparison is the repository's canonical one (tools/check.py):
columns sorted by name, rows sorted by value, then column names, row
count, pandas dtypes and an md5 of the CSV rendering (floats at %.6f)
must all agree. Engine results arrive as JSON rows with the Spark schema
(see Harness.scala); they are rebuilt as Arrow tables of the types Spark
writes to parquet, so the pandas frame matches what reading the engine's
parquet output would give.
"""
import hashlib
import json
import os

import duckdb
import pandas as pd
import pyarrow as pa

_ATOMIC = {
    "integer": pa.int32(), "long": pa.int64(), "short": pa.int16(), "byte": pa.int8(),
    "double": pa.float64(), "float": pa.float32(), "string": pa.string(),
    "boolean": pa.bool_(), "timestamp_ntz": pa.timestamp("us"),
    "timestamp": pa.timestamp("us", tz="UTC"), "date": pa.date32(), "binary": pa.binary(),
}


def arrow_type(t):
    if isinstance(t, str):
        if t.startswith("decimal("):
            p, s = t[8:-1].split(",")
            return pa.decimal128(int(p), int(s))
        return _ATOMIC[t]
    if t["type"] == "array":
        return pa.list_(arrow_type(t["elementType"]))
    if t["type"] == "struct":
        return pa.struct([(f["name"], arrow_type(f["type"])) for f in t["fields"]])
    if t["type"] == "map":
        return pa.map_(arrow_type(t["keyType"]), arrow_type(t["valueType"]))
    raise ValueError(f"unsupported result type {t}")


def _value(v, t):
    """JSON value -> Python value Arrow accepts for Spark type `t`."""
    if v is None:
        return None
    if isinstance(t, str):
        if t in ("double", "float") and isinstance(v, str):
            return float(v)
        if t.startswith("timestamp"):
            return pd.Timestamp(v.rstrip("Z")).to_pydatetime()
        if t == "date":
            return pd.Timestamp(v).date()
        if t.startswith("decimal("):
            import decimal
            return decimal.Decimal(v)
        return v
    if t["type"] == "array":
        return [_value(x, t["elementType"]) for x in v]
    if t["type"] == "struct":
        return {f["name"]: _value(x, f["type"]) for f, x in zip(t["fields"], v)}
    return [(_value(k, t["keyType"]), _value(x, t["valueType"])) for k, x in v]


def engine_frame(schema_json, rows):
    fields = json.loads(schema_json)["fields"]
    cols = {}
    for i, f in enumerate(fields):
        cols[f["name"]] = pa.array([_value(r[i], f["type"]) for r in rows],
                                   arrow_type(f["type"]))
    return pa.table(cols).to_pandas()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _hash(df):
    return hashlib.md5(df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()


def compare(got, want):
    """None when equal, else a one-line description of the first issue."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    gt, wt = [str(t) for t in g.dtypes], [str(t) for t in w.dtypes]
    if gt != wt:
        return f"dtypes {gt} vs {wt}"
    if _hash(g) != _hash(w):
        diff = (g != w) & ~(g.isna() & w.isna())
        for c in g.columns:
            if diff[c].any():
                i = diff[c].idxmax()
                return f"values differ: col={c} row={i}: {g[c][i]!r} vs {w[c][i]!r}"
        return "hash mismatch"
    return None


def connect(data_dir, tables=None):
    """DuckDB with one view per fixture table (plus extra arrow tables)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)) if data_dir else []:
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, f)}'")
    for name, t in (tables or {}).items():
        con.register(name, t)
    return con


def check(con, sql, schema_json, rows):
    """Compare one engine result with the oracle SQL; None when equal."""
    try:
        want = con.execute(sql).df()
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle error {type(e).__name__}: {e}"[:300]
    return compare(engine_frame(schema_json, rows), want)
