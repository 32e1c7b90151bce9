#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column
names, and (column-name-sorted, row-sorted) values EXACTLY. Stricter
than any plausible value-hash: if this passes, a hash comparison passes.

Usage: python tools/check_oracles.py [--sf DIR] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbasewd_spark.sources.loaders import TABLES  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # driver testdata ships single files; tools/make_sf.py derives
        # scale dirs as Spark parquet DIRECTORIES — glob those
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            # tz-aware columns (DuckDB reads make_sf's UTC-adjusted
            # TIMESTAMP_MICROS parquet as TIMESTAMPTZ) carry the same
            # epoch micros — strip the zone, astype refuses it otherwise
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif s.dtype == object:
            import datetime as _dt

            df[c] = s.map(
                lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else (
                    tuple(v) if isinstance(v, (list, tuple)) else (
                        # date/datetime objects -> epoch micros, matching
                        # the datetime64 branch (Spark DateType lands as
                        # object(datetime.date); DuckDB DATE as datetime64)
                        int(pd.Timestamp(v).value // 1000)
                        if isinstance(v, (_dt.date, _dt.datetime))
                        else v
                    )
                )
            )
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _canon_duck_type(t: str) -> str:
    """DuckDB logical type -> the canonical family the driver's
    value-hash distinguishes. Calibrated against driver
    history: i32-vs-i64 oracles (ext_sim_brute_topk's BIGINT rank vs
    Spark's int) and DATE-vs-TIMESTAMP (rel_date_gallery's month_start)
    both hashed GREEN on the driver, so integer width <= 64 bits and
    date/timestamp are NOT distinguished; HUGEINT (int128, which pandas
    renders as float/object) IS — it caused all five r3 hash-red rows."""
    t = t.upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.startswith("TIMESTAMP"):
        return "datetime"
    if t.endswith("[]") or t.startswith("STRUCT") or t.startswith("MAP"):
        return "nested"
    return {
        "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
        "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int", "UBIGINT": "int",
        "HUGEINT": "int128", "UHUGEINT": "int128",
        "FLOAT": "float", "DOUBLE": "float", "VARCHAR": "str", "BOOLEAN": "bool",
        "DATE": "datetime", "BLOB": "binary", "INTERVAL": "interval",
    }.get(t, t.lower())


def _canon_spark_type(t: str) -> str:
    t = t.lower()
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith("timestamp"):
        return "datetime"
    if t.startswith(("array", "struct", "map")):
        return "nested"
    return {
        "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
        "float": "float", "double": "float", "string": "str", "boolean": "bool",
        "date": "datetime", "binary": "binary",
    }.get(t, t)


def compare_types(spark_dtypes: list[tuple[str, str]], duck_cols: list[str], duck_types: list) -> list[str]:
    """Fail on canonical type-FAMILY mismatch BEFORE value comparison —
    pandas coerces DuckDB HUGEINT to float, so the value path
    structurally cannot see it, but the driver's canonical hash can
    (round-3 lesson: 5 hash-red rows with correct values). Same-family
    width differences (INTEGER vs BIGINT) are driver-green and pass."""
    errs = []
    sp = dict(spark_dtypes)
    dk = dict(zip(duck_cols, [str(t) for t in duck_types]))
    for c in sorted(set(sp) & set(dk)):
        a, b = _canon_spark_type(sp[c]), _canon_duck_type(dk[c])
        if a != b:
            errs.append(f"dtype col {c!r}: spark={sp[c]} ({a}) vs duck={dk[c]} ({b})")
    return errs


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        errs.append(f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return errs
    if len(spark_pdf) != len(duck_pdf):
        errs.append(f"row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) != len(b):
        return errs
    for c in a.columns:
        ca, cb = a[c], b[c]
        if pd.api.types.is_float_dtype(ca) or pd.api.types.is_float_dtype(cb):
            ca = ca.astype(float)
            cb = cb.astype(float)
            neq = ~((ca == cb) | (ca.isna() & cb.isna()))
            if neq.any():
                idx = neq.idxmax()
                maxdiff = (ca - cb).abs().max()
                errs.append(
                    f"float col {c!r}: {int(neq.sum())} mismatches, max|Δ|={maxdiff:.3e}, "
                    f"first at row {idx}: spark={ca[idx]!r} duck={cb[idx]!r}"
                )
        else:
            eq = (ca == cb) | (ca.isna() & cb.isna())
            if not eq.all():
                idx = (~eq).idxmax()
                errs.append(
                    f"col {c!r}: {int((~eq).sum())} mismatches, first at row {idx}: "
                    f"spark={ca[idx]!r} duck={cb[idx]!r}"
                )
    return errs


def eval_tolerance_gate(
    gate: dict, spark_pdf: pd.DataFrame, con: duckdb.DuckDBPyConnection
) -> tuple[bool, str]:
    """Evaluate one tolerance gate (VERDICT r7 #4 / r8 #2): run the
    gate SQL on DuckDB to get per-group exact [lo, hi] envelopes, and
    assert EVERY Spark value lands inside its envelope. Returns
    (passed, record) where record is the human-readable outcome stored
    in the result row's ``err`` field (the gate-attested shape
    ``attested()`` recognizes for designated oracle-less queries)."""
    env = con.sql(gate["sql"]).df()
    keys = gate["keys"]
    if sorted(spark_pdf[keys].itertuples(index=False)) != sorted(
        env[keys].itertuples(index=False)
    ):
        return False, (
            f"gate: group keys differ: spark={sorted(map(tuple, spark_pdf[keys].values))} "
            f"envelope={sorted(map(tuple, env[keys].values))}"
        )
    merged = spark_pdf.merge(env, on=keys, how="inner", validate="one_to_one")
    checked, fails = 0, []
    for val_col, lo_col, hi_col in gate["checks"]:
        for _, r in merged.iterrows():
            checked += 1
            v, lo, hi = float(r[val_col]), float(r[lo_col]), float(r[hi_col])
            if not (lo <= v <= hi) or math.isnan(v):
                fails.append(
                    f"{val_col}@{tuple(r[k] for k in keys)}: {v!r} outside [{lo!r}, {hi!r}]"
                )
    if fails:
        return False, f"gate: {len(fails)}/{checked} values OUTSIDE envelope: " + "; ".join(fails[:3])
    return True, f"gate: pass ({checked}/{checked} values in exact DuckDB envelopes)"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument(
        "--json",
        default=None,
        help="write per-query results in the driver's CORRECTNESS_r*.json "
        "schema (rows/schema/hash match booleans) — the committed "
        "SELFCHECK_r*.json full-surface attestation (VERDICT r5 #8)",
    )
    args = ap.parse_args()

    from hbasewd_spark.session import get_spark
    import importlib
    entry_mod = importlib.import_module("__spark_entry__")

    spark = get_spark(app_name="check_oracles", cpus=args.cpus)
    con = duck_con(args.sf)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    gates = getattr(entry_mod, "tolerance_gates", dict)() or {}
    only = set(args.only.split(",")) if args.only else None

    n_fail = n_rows_only = n_ran = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_ran += 1
        t0 = time.time()
        try:
            spark_df = fn(spark, args.sf)
            spark_dtypes = spark_df.dtypes
            spark_pdf = spark_df.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark side raised: {e}")
            n_fail += 1
            results[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None,
                "err": f"spark: {e}"[:300],
            }
            continue
        if name not in oracles:
            if name in gates:
                # by-design oracle-less (engine-specific sketch) but
                # value-GATED: exact DuckDB envelopes, every Spark
                # value inside (VERDICT r8 #2 — previously dead plumbing)
                try:
                    ok, record = eval_tolerance_gate(gates[name], spark_pdf, con)
                except Exception as e:
                    ok, record = False, f"gate: raised {type(e).__name__}: {e}"[:300]
                if ok:
                    print(f"gate  {name}: {record} [{time.time()-t0:.1f}s]")
                    n_rows_only += 1
                    results[name] = {
                        "rows_match": True, "schema_match": None, "hash_match": None,
                        "spark_rows": len(spark_pdf), "oracle_rows": None,
                        "err": record[:300],
                    }
                else:
                    print(f"FAIL  {name}: {record} [{time.time()-t0:.1f}s]")
                    n_fail += 1
                    results[name] = {
                        "rows_match": False, "schema_match": None, "hash_match": False,
                        "spark_rows": len(spark_pdf), "oracle_rows": None,
                        "err": record[:300],
                    }
                continue
            print(f"rows  {name}: {len(spark_pdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            results[name] = {
                "rows_match": True, "schema_match": None, "hash_match": None,
                "spark_rows": len(spark_pdf), "oracle_rows": None, "err": None,
            }
            continue
        try:
            duck_rel = con.sql(oracles[name])
            duck_cols, duck_types = duck_rel.columns, duck_rel.types
            duck_pdf = duck_rel.df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb oracle raised: {e}")
            n_fail += 1
            results[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": len(spark_pdf), "oracle_rows": None,
                "err": f"duckdb: {e}"[:300],
            }
            continue
        type_errs = compare_types(spark_dtypes, duck_cols, duck_types)
        val_errs = compare(name, spark_pdf, duck_pdf)
        errs = type_errs + val_errs
        results[name] = {
            "rows_match": len(spark_pdf) == len(duck_pdf),
            "schema_match": not type_errs
            and sorted(spark_pdf.columns) == sorted(duck_pdf.columns),
            "hash_match": not errs,
            "spark_rows": len(spark_pdf),
            "oracle_rows": len(duck_pdf),
            "err": "; ".join(errs)[:300] or None,
        }
        if errs:
            n_fail += 1
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for e in errs[:5]:
                print(f"      {e}")
        else:
            print(f"ok    {name}: {len(spark_pdf)} rows [{time.time()-t0:.1f}s]")
    # ran-count, NOT the registry size: a --only run must not read as
    # a full-gate attestation
    print(
        f"\n{n_ran} ran (of {len(qs)} registered), "
        f"{n_fail} failed, {n_rows_only} rows-only"
    )
    if args.json:
        import json as _json

        with open(args.json, "w") as f:
            _json.dump(results, f, indent=1, sort_keys=True)
        print(f"wrote {args.json}: {len(results)} queries")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
