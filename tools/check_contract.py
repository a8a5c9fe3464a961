"""Local replica of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() twin on DuckDB, compare row count + column names +
order-insensitive value hash."""

from __future__ import annotations

import os
import sys
import hashlib

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].round(6)
    rows = sorted(tuple(str(v) for v in row) for row in pdf.itertuples(index=False))
    return hashlib.md5(str(rows).encode()).hexdigest()


def main(sf_dir: str, only: list[str] | None = None):
    import __spark_entry__ as entry_mod
    from folkscope_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # the driver records at most 50 contract queries; an entry past that
    # budget silently falls out of CORRECTNESS_r{N} (it happened to
    # fs_multimodal_features in round 3) — fail loudly instead
    assert len(qs) <= 50, (
        f"queries() has {len(qs)} entries but the driver checks only 50 — "
        "merge or drop entries so nothing silently escapes the gate"
    )
    unknown = set(oracles) - set(qs)
    assert not unknown, f"oracle_sql() keys without a queries() entry: {unknown}"
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"[SPARK-ERR] {name}: {ex}")
            fails.append(name)
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY] {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"[ORACLE-ERR] {name}: {ex}")
            fails.append(name)
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_rows and ok_cols and value_hash(sdf) == value_hash(odf)
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "MISMATCH"
        print(
            f"[{status}] {name}: spark={len(sdf)} oracle={len(odf)} "
            f"cols={'ok' if ok_cols else (sorted(sdf.columns), sorted(odf.columns))} "
            f"hash={'ok' if ok_hash else 'DIFF'}"
        )
        if status != "OK":
            fails.append(name)
            if ok_rows and ok_cols:
                # show a few differing rows
                s = sdf[sorted(sdf.columns)].astype(str).apply(tuple, axis=1)
                o = odf[sorted(odf.columns)].astype(str).apply(tuple, axis=1)
                only_s = set(s) - set(o)
                only_o = set(o) - set(s)
                print("   spark-only:", list(only_s)[:3])
                print("   oracle-only:", list(only_o)[:3])
    print("\nFAILING:", fails if fails else "none")
    return 1 if fails else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    sys.exit(main(sf, only))
