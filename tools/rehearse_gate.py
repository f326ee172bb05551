"""Local rehearsal of the driver's correctness gate: run every queries()
entry at sf0.01 and diff against oracle_sql() via DuckDB (row count, column
names, order-insensitive values)."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

sys.path.insert(0, str(ROOT))

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], (list, np.ndarray)):
            df[c] = df[c].apply(lambda v: tuple(v) if v is not None else None)
        try:
            if str(df[c].dtype).startswith("datetime"):
                df[c] = df[c].astype("datetime64[us]")
        except Exception:
            pass
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str:
    if sorted(got.columns) != sorted(want.columns):
        return f"COLS got={sorted(got.columns)} want={sorted(want.columns)}"
    if len(got) != len(want):
        return f"ROWS got={len(got)} want={len(want)}"
    g, w = normalize(got), normalize(want)
    for c in g.columns:
        gv, wv = g[c], w[c]
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            atol = 0.0 if os.environ.get("REHEARSE_EXACT") else 1e-9
            ok = np.allclose(
                gv.astype(float).fillna(-9e99),
                wv.astype(float).fillna(-9e99),
                rtol=0, atol=atol,
            )
        else:
            ok = gv.astype(str).equals(wv.astype(str))
        if not ok:
            bad = (gv.astype(str) != wv.astype(str))
            i = int(np.argmax(bad.values))
            return f"VALUES col={c} row{i}: got={gv.iloc[i]} want={wv.iloc[i]}"
    return "OK"


def main(sf_dir: str = os.environ.get("REHEARSE_SF", "/root/testdata/sf0.01"), only: list[str] | None = None):
    import __spark_entry__ as e
    from sourmash_spark.session import get_spark

    spark = get_spark("rehearse", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs, os_ = e.queries(), e.oracle_sql()
    n_ok = n_bad = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"{name:28s} SPARK-ERROR {str(ex).splitlines()[0][:120]}")
            results[name] = {"status": "spark_error", "err": str(ex)[:300]}
            n_bad += 1
            continue
        if name not in os_:
            print(f"{name:28s} rows-only   {len(got):6d} rows  {time.time()-t0:5.1f}s")
            results[name] = {"status": "rows_only", "rows": len(got)}
            continue
        try:
            want = con.sql(os_[name]).df()
        except Exception as ex:
            print(f"{name:28s} ORACLE-ERROR {str(ex).splitlines()[0][:120]}")
            results[name] = {"status": "oracle_error", "err": str(ex)[:300]}
            n_bad += 1
            continue
        verdict = compare(got, want)
        flag = "ok " if verdict == "OK" else "BAD"
        if verdict == "OK":
            n_ok += 1
        else:
            n_bad += 1
        results[name] = {
            "status": "exact" if verdict == "OK" else "mismatch",
            "rows": len(got),
            "oracle_rows": len(want),
            "detail": None if verdict == "OK" else verdict,
        }
        print(f"{name:28s} {flag} {len(got):6d} rows  {time.time()-t0:5.1f}s  {verdict if verdict != 'OK' else ''}")
    print(f"\n{n_ok} ok, {n_bad} bad")
    # full-run evidence artifact: the driver's CORRECTNESS file caps at the
    # first 50 registered gates; this records ALL of them
    if not only:
        import json

        out = {
            "sf_dir": sf_dir,
            "exact_mode": bool(os.environ.get("REHEARSE_EXACT")),
            "n_gates": len(results),
            "n_ok": n_ok,
            "n_bad": n_bad,
            "gates": results,
        }
        with open(ROOT / "CORRECTNESS_FULL_LOCAL.json", "w") as f:
            json.dump(out, f, indent=1)
        print("wrote CORRECTNESS_FULL_LOCAL.json")
    spark.stop()
    return n_bad


if __name__ == "__main__":
    sys.exit(1 if main(only=sys.argv[1:] or None) else 0)
