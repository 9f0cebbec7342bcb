"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and an order-insensitive value hash.

Usage: python tools/parity_check.py [names...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
SF_DIR = "/root/testdata/sf0.01"


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
            # duckdb's .df() renders HUGEINT (int128 sums) as float64;
            # fold integral floats back to int64 so the repr-hash agrees
            # with Spark's genuine int64 columns (applies symmetrically
            # to both frames; non-integral float columns are untouched)
            vals = df[c].dropna()
            if len(vals) and (vals == vals.astype("int64")).all() and not df[c].isna().any():
                df[c] = df[c].astype("int64")
        # normalize ints to int64 where possible
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    # NOTE: no list-cell stringification here — the driver's canonicalization
    # sorts raw cells and dies on unhashable lists (CORRECTNESS_r01
    # ordered_dedup_first), so queries must emit driver-sortable scalars.
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    from hashlib import blake2b

    h = blake2b(digest_size=12)
    for row in df.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()


def main() -> int:
    import __spark_entry__ as entry_mod
    from biomedical_entity_linking_spark.session import get_spark

    spark = get_spark(app_name="parity")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    args = sys.argv[1:]
    do_flagship = "--flagship" in args
    wanted = [a for a in args if not a.startswith("--")] or (
        [] if do_flagship else list(qs)
    )
    failures = 0
    for name in wanted:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows, {t_spark:.1f}s")
            if len(sdf) == 0:
                print(f"  WARNING: zero rows")
            continue
        t0 = time.time()
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        t_duck = time.time() - t0
        a, b = norm_frame(sdf), norm_frame(odf)
        status = []
        if len(a) != len(b):
            status.append(f"ROWS {len(a)} vs {len(b)}")
        if list(a.columns) != list(b.columns):
            status.append(f"COLS {list(a.columns)} vs {list(b.columns)}")
        if not status and value_hash(a) != value_hash(b):
            diff = a.compare(b) if a.shape == b.shape else None
            status.append("HASH mismatch")
            if diff is not None and len(diff):
                status.append(f"first diffs:\n{diff.head(5)}")
        if status:
            print(f"FAIL {name}: {'; '.join(str(s) for s in status)}")
            failures += 1
        else:
            print(
                f"OK   {name}: {len(a)} rows, spark {t_spark:.1f}s duck {t_duck:.1f}s"
            )

    if do_flagship:
        # VERDICT r3 #7: rows+hash parity for the flagship's deterministic
        # prefix checkpoints against a single-process pandas/DuckDB oracle
        import os

        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import flagship_prefix

        for name, got, want in flagship_prefix.run(spark):
            a, b = norm_frame(got), norm_frame(want)
            status = []
            if len(a) != len(b):
                status.append(f"ROWS {len(a)} vs {len(b)}")
            if list(a.columns) != list(b.columns):
                status.append(f"COLS {list(a.columns)} vs {list(b.columns)}")
            if not status and value_hash(a) != value_hash(b):
                diff = a.compare(b) if a.shape == b.shape else None
                status.append("HASH mismatch")
                if diff is not None and len(diff):
                    status.append(f"first diffs:\n{diff.head(5)}")
            if status:
                print(f"FAIL {name}: {'; '.join(str(s) for s in status)}")
                failures += 1
            else:
                print(f"OK   {name}: {len(a)} rows")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
