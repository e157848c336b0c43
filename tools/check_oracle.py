"""Local mimic of the driver's Spark-vs-DuckDB correctness gate.

Runs every suite query on Spark (sf dir from argv, default sf0.01), runs its
DuckDB oracle over the same parquet, and compares:
row count, sorted column names, an order-insensitive value multiset
(floats rounded to 6 decimals), and — because the driver hashes values
through pandas, where dtype is part of the value — the per-column pandas
dtype KIND (int vs float vs object). The dtype check is what catches the
round-4 `kg_triple_evidence` class of bug: DuckDB `sum(BIGINT)` returns
HUGEINT, which lands in pandas as float64 while Spark returns int64 —
values equal, driver hash different. It also rejects non-atomic cells
(list/dict/ndarray), which crash the driver's canonicalizer (round-4
`kg_paths`). Exit 1 on any mismatch.

Usage: python tools/check_oracle.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

from chatvector_ai_spark.session import get_spark
from chatvector_ai_spark.suite import TABLES, all_oracles, all_queries


def canon(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return (1, "")  # sortable against any (0, x) non-null
        if isinstance(v, bool):
            return (0, v)
        if isinstance(v, float):
            if math.isnan(v):
                return (0, "NaN")
            return (0, round(v, 6))
        if isinstance(v, list):
            return (0, tuple(norm(x) for x in v))
        return (0, v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def dtype_kinds(pdf) -> dict[str, str]:
    """Column → pandas dtype kind ('i' int, 'f' float, 'O' object, 'b'
    bool, 'M' datetime, 'u' uint folded into 'i'). The driver's value hash
    runs over pandas frames, so a kind mismatch IS a driver hash mismatch
    even when the Python values compare equal."""
    out = {}
    for c in pdf.columns:
        k = pdf[c].dtype.kind
        out[c] = "i" if k == "u" else k
    return out


_SPARK_KIND = {
    "tinyint": "i", "smallint": "i", "int": "i", "bigint": "i",
    "float": "f", "double": "f",
    "string": "O", "boolean": "b", "timestamp": "M", "timestamp_ntz": "M",
    "date": "O", "binary": "O",
}


def spark_kinds(sdf) -> dict[str, str]:
    """Column → the pandas dtype kind the driver's toPandas() will produce
    for a null-free column, derived from the Spark schema (no second job).
    Non-atomic Spark types (array/map/struct) map to 'X' — a contract
    violation regardless of the oracle side."""
    out = {}
    for f in sdf.schema.fields:
        s = f.dataType.simpleString()
        if s.startswith(("array", "map", "struct")):
            out[f.name] = "X"
        elif s.startswith("decimal"):
            # toPandas renders decimals as object columns of decimal.Decimal
            # — NOT float64 — so a decimal-emitting query would hash
            # differently in the driver even when values match; flag it the
            # same as the DuckDB HUGEINT class of bug (kind 'O' will
            # mismatch a float/int oracle and force an explicit CAST)
            out[f.name] = "O"
        else:
            out[f.name] = _SPARK_KIND.get(s, "O")
    return out


def non_atomic_cols(pdf) -> list[str]:
    """Columns holding list/dict/ndarray cells — unhashable for the
    driver's canonicalizer; every suite query must serialize these."""
    bad = []
    for c in pdf.columns:
        if pdf[c].dtype.kind != "O":
            continue
        for v in pdf[c]:
            if v is None:
                continue
            if isinstance(v, (list, tuple, dict, set)) or type(v).__name__ == "ndarray":
                bad.append(c)
            break
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]
    # no console progress bar: it redraws with \r over the ok/FAIL lines,
    # so a captured log loses verdicts
    spark = get_spark(master="local[8]", extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries, oracles = all_queries(), all_oracles()
    failed = []
    for name, fn in sorted(queries.items()):
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            skinds = spark_kinds(sdf)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failed.append(name)
            continue
        bad_atomic = [c for c, k in skinds.items() if k == "X"]
        if bad_atomic:
            print(f"FAIL {name}: non-atomic output columns {bad_atomic} "
                  "(driver canonicalizer cannot hash list/map/struct cells)")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            if not srows:
                print(f"WARN {name}: zero rows")
            continue
        try:
            # run the twin once into a temp table; each fetch from a
            # relation re-executes it, so both fetches read the table
            con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_result AS {oracles[name]}")
            rel = con.table("oracle_result")
            dcols = [d[0] for d in rel.description]
            dpdf = rel.fetchdf()
            drows = [tuple(r) for r in rel.fetchall()]
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            failed.append(name)
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: cols spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            dkinds = dtype_kinds(dpdf)
            dbad = non_atomic_cols(dpdf)
            if dbad:
                print(f"FAIL {name}: oracle emits non-atomic columns {dbad}")
                ok = False
            for c in scols:
                sk, dk = skinds[c], dkinds.get(c)
                if sk == dk or dk is None:
                    continue
                col_has_null = any(
                    r[scols.index(c)] is None for r in srows
                ) or bool(dpdf[c].isna().any())
                if col_has_null:
                    # null promotion (int64→float64/object) differs by
                    # engine version; values still compare below
                    print(f"WARN {name}: col {c} kind spark={sk} duck={dk} "
                          "(has nulls — promotion ambiguity, verify driver)")
                else:
                    print(f"FAIL {name}: col {c} pandas dtype kind "
                          f"spark={sk} duck={dk} — driver value-hash will "
                          "differ even on equal values")
                    ok = False
        if ok:
            cs, cd = canon(srows, scols), canon(drows, dcols)
            if cs != cd:
                diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
                print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
                ok = False
        if ok:
            print(f"ok   {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")
        else:
            failed.append(name)
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
