#!/usr/bin/env python3
"""Local replica of the driver's DuckDB correctness compare.

Usage: python3 tools/check_oracle.py <verifyOutDir> <sfDir> [prefixes] [--tol]

Reads each <name>.parquet result written by graft.Verify plus
oracle_sql.json, runs the oracle SQL in DuckDB against the sf tables,
and compares: schema (sorted column names), row count, and values
(columns sorted by name, rows sorted).

MODES — the r4 lesson: the driver hashes EXACT value reprs, so a
tolerance compare is blind to exactly the failure class that kept
recurring (shuffle-order double accumulation straddling an r6 rounding
boundary). Therefore:
  * DEFAULT = exact-repr mode: every cell must match by repr()
    (bit-exact for floats, like the driver's hash). Values are fetched
    through Arrow so SQL NULL and float NaN stay distinct per cell
    (fetchdf() coerced both to NaN in float columns — ADVICE r5);
    DuckDB DECIMAL/DATE are normalized to the float64/midnight-datetime
    coercions the driver applies. This is THE receipt instrument.
  * --tol   = legacy 1e-9 float tolerance (useful only to localize a
    failure as "tiny float drift" vs "wrong values").
"""
import sys, json, glob, os
import duckdb


def cell_repr(x):
    # one canonical repr per cell: numpy scalars normalized to python
    # types (np.int32(5) and np.int64(5) must both read "5"); SQL NULL
    # ("NULL") and float NaN ("NaN") stay DISTINCT, like the driver's hash
    import numpy as np
    import decimal
    import datetime as _dt
    if x is None:
        return "NULL"
    if isinstance(x, (bool, np.bool_)):
        return repr(bool(x))
    # DuckDB DECIMAL literals / HUGEINT sums reach Arrow as Decimal; the
    # driver (like fetchdf) reads them as float64 — match that coercion so
    # a decimal literal 0.50 == double 0.5 (r5 all-true on these queries),
    # while HUGEINT 7949 -> "7949.0" still fails against int64 "7949".
    # The coercion is exact only while the float's shortest repr reads back
    # as the same decimal (integers up to 2^53, ~15 significant digits);
    # beyond that two different decimals can share one float repr, so keep
    # the exact Decimal repr and warn.
    if isinstance(x, decimal.Decimal):
        f = float(x)
        if not x.is_finite() or decimal.Decimal(repr(f)) == x:
            return cell_repr(f)
        print(f"[check_oracle] warning: decimal {x} is not exact as float64 "
              f"({f!r}); comparing its exact repr", file=sys.stderr)
        return repr(x)
    # DuckDB DATE vs Spark TIMESTAMP_NTZ midnight: fetchdf coerced both to
    # datetime64[ns]; replicate by promoting date to midnight datetime
    if isinstance(x, _dt.date) and not isinstance(x, _dt.datetime):
        return repr(_dt.datetime(x.year, x.month, x.day))
    if isinstance(x, (float, np.floating)):
        x = float(x)
        if x != x:
            return "NaN"
        return repr(x)
    if isinstance(x, (int, np.integer)):
        return repr(int(x))
    return repr(x)


def repr_frame(rel):
    """DuckDB relation -> DataFrame of exact cell-repr strings.

    Fetches via Arrow: `fetchdf()` materializes nullable numeric columns as
    float64, where `where(notna, None)` coerces None straight back to NaN —
    so SQL NULL and float NaN both rendered "NaN" and the local receipt was
    more lenient than the driver's hash (ADVICE r5). Arrow's `to_pylist()`
    yields None for NULL and float('nan') for NaN per cell, so the two
    repr differently ("NULL" vs "NaN"). Decimal cells (DuckDB DECIMAL,
    HUGEINT sums) are normalized to their float64 repr, the coercion the
    reference compare applies, except where float64 cannot hold the decimal
    exactly (see cell_repr). Int-vs-float dtype drift still fails cell-wise:
    int64 5 reprs "5", float64 5.0 reprs "5.0".
    """
    import pandas as pd
    tbl = rel.arrow()
    cols = [f.name for f in tbl.schema]
    data = {name: pd.Series([cell_repr(v) for v in tbl.column(i).to_pylist()],
                            dtype=object)
            for i, name in enumerate(cols)}
    return pd.DataFrame(data, columns=cols)


def main():
    args = [a for a in sys.argv[1:] if a != "--tol"]
    tol_mode = "--tol" in sys.argv
    out_dir, sf_dir = args[0], args[1]
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    # optional 3rd arg: comma-separated name prefixes (subset check after a
    # filtered graft.Verify run)
    if len(args) > 2:
        prefixes = tuple(args[2].split(","))
        oracle = {k: v for k, v in oracle.items() if k.startswith(prefixes)}
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        res_dir = os.path.join(out_dir, name)
        try:
            if tol_mode:
                got = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'").fetchdf()
                want = con.sql(sql).fetchdf()
            else:
                # exact-repr mode compares repr strings cell-for-cell, so
                # fetch through Arrow to keep NULL distinct from NaN
                got = repr_frame(con.sql(f"SELECT * FROM '{res_dir}/*.parquet'"))
                want = repr_frame(con.sql(sql))
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc:
            print(f"FAIL {name}: columns {gc} != {wc}")
            n_fail += 1
            continue
        got, want = got[gc], want[wc]
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        gs = got.sort_values(gc, na_position="first").reset_index(drop=True)
        ws = want.sort_values(wc, na_position="first").reset_index(drop=True)
        bad = []
        for c in gc:
            a, b = gs[c], ws[c]
            # the driver hashes exact value REPRs: a dtype mismatch (e.g.
            # DuckDB HUGEINT -> float64 "7949.0" vs Spark int64 "7949") fails
            # there even when values are numerically equal (round-1 q06).
            # In exact-repr mode the cells are already repr strings, so any
            # dtype drift fails the repr compare cell-wise instead.
            if tol_mode and a.dtype.kind != b.dtype.kind and {a.dtype.kind, b.dtype.kind} & {"f"}:
                bad.append(f"{c}: dtype {a.dtype} != {b.dtype} (driver repr-hash would fail)")
                continue
            try:
                if tol_mode and (a.dtype.kind == "f" or b.dtype.kind == "f"):
                    af, bf = a.astype(float), b.astype(float)
                    ok = ((af - bf).abs() <= 1e-9) | (af.isna() & bf.isna())
                    if not ok.all():
                        i = ok.idxmin()
                        bad.append(f"{c}[{i}]: {a[i]!r} != {b[i]!r}")
                elif tol_mode:
                    import pandas as pd
                    av = a.where(pd.notna(a), None).map(cell_repr)
                    bv = b.where(pd.notna(b), None).map(cell_repr)
                    ok = av == bv
                    if not ok.all():
                        i = ok.idxmin()
                        bad.append(f"{c}[{i}]: {av[i]} != {bv[i]} (exact-repr)")
                else:
                    # exact-repr mode (default): mirror the driver's hash —
                    # cells are repr strings from repr_frame (NULL != NaN)
                    ok = a == b
                    if not ok.all():
                        i = ok.idxmin()
                        bad.append(f"{c}[{i}]: {a[i]} != {b[i]} (exact-repr)")
            except Exception as e:
                bad.append(f"{c}: compare error {e}")
        if bad:
            print(f"FAIL {name}: {bad[:3]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    mode = "tol-1e-9" if tol_mode else "exact-repr"
    print(f"== {n_pass} pass, {n_fail} fail [{mode} mode] ==")
    sys.exit(1 if n_fail else 0)


main()
