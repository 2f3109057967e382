"""Self-tests of the benchmark's inputs and checks (no Spark needed).

    python3 perfbench/selftest.py

1. The same seed yields byte-identical input files.
2. A different seed yields different input files.
3. A planted wrong row in a checked output is caught, for an oracle answer
   of each pinned batch query.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

sys.path.insert(0, os.getcwd())

from perfbench import batch, check, gen, harness  # noqa: E402


def _digests(directory: str) -> dict[str, str]:
    return {t: hashlib.sha256(open(os.path.join(directory, f"{t}.parquet"), "rb")
                              .read()).hexdigest() for t in gen.TABLES}


def main() -> int:
    root = os.path.join(harness.WORK, "selftest")
    shutil.rmtree(root, ignore_errors=True)
    a = _digests(gen.materialize(os.path.join(root, "a"), 7, **batch.INPUT))
    b = _digests(gen.materialize(os.path.join(root, "b"), 7, **batch.INPUT))
    c = _digests(gen.materialize(os.path.join(root, "c"), 8, **batch.INPUT))
    failures = []
    if a != b:
        failures.append(f"same seed, different bytes: {[t for t in a if a[t] != b[t]]}")
    same = [t for t in ("orders", "lineitem", "events", "documents", "embeddings")
            if a[t] == c[t]]
    if same:
        failures.append(f"different seed, identical facts: {same}")
    if [t for t in ("region", "nation", "customer", "supplier", "part") if a[t] != c[t]]:
        failures.append("dims changed with the seed")

    import duckdb
    from gmall_flink_realtime4_spark.plans.catalog import oracles

    data_dir = os.path.join(root, "a", os.listdir(os.path.join(root, "a"))[0])
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    sqls = oracles()
    names = [n for qs in batch.WORKLOADS.values() for n in qs]
    for name in names:
        df = con.execute(sqls[name]).df()
        want = check.fingerprint(df)
        if check.mismatch(check.fingerprint(df.sample(frac=1, random_state=1)), want):
            failures.append(f"{name}: row order changed the fingerprint")
        bad = df.copy()
        col = bad.columns[-1]
        bad.at[bad.index[0], col] = _perturb(bad.at[bad.index[0], col])
        if check.mismatch(check.fingerprint(bad), want) is None:
            failures.append(f"{name}: planted wrong row not caught")
        if check.mismatch(check.fingerprint(df.iloc[1:]), want) is None:
            failures.append(f"{name}: dropped row not caught")
    for f in failures:
        print(f"FAIL {f}")
    print(f"{len(failures)} failures ({len(names)} queries, 3 input checks)")
    shutil.rmtree(root, ignore_errors=True)
    return 1 if failures else 0


def _perturb(v):
    if isinstance(v, str):
        return v + "x"
    if v is None:
        return 1
    try:
        return v + 1
    except TypeError:
        return None


if __name__ == "__main__":
    sys.exit(main())
