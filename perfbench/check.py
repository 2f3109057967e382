"""Output fingerprints and the DuckDB oracle answers they are checked against.

A fingerprint is (row count, sorted column names, column kinds, sha256 of
the rows in canonical order): order-insensitive and exact, with the same
canonicalization as the engine's oracle-parity tool. Oracle fingerprints
are cached per input directory, which is already per seed.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pandas as pd

from .gen import TABLES


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None else None)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def fingerprint(df: pd.DataFrame) -> dict:
    canon = _canonical(df)
    digest = hashlib.sha256(canon.to_csv(index=False).encode()).hexdigest()
    return {
        "rows": len(df),
        "columns": sorted(df.columns),
        "kinds": [_kind(df[c]) for c in sorted(df.columns)],
        "sha256": digest,
    }


def oracle_fingerprints(data_dir: str, sqls: dict[str, str]) -> dict[str, dict]:
    """DuckDB answers for ``sqls`` over ``data_dir``; cached beside the data."""
    path = os.path.join(data_dir, "_oracle.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    missing = [n for n in sqls if n not in cached]
    if missing:
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        for name in missing:
            cached[name] = fingerprint(con.execute(sqls[name]).df())
        con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: cached[n] for n in sqls}


def mismatch(got: dict, want: dict) -> str | None:
    """None when the fingerprints agree, else a one-line reason."""
    for key in ("columns", "kinds", "rows", "sha256"):
        if got[key] != want[key]:
            return f"{key} differ: got {got[key]!r} want {want[key]!r}"[:300]
    return None
