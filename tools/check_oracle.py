#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs
the matching oracle SQL from oracle_sql.json in DuckDB with views named
after the parquet tables in <sfDir>, then compares: columns sorted by
name, rows sorted, values compared exactly (floats bit-compared, with a
1e-9-relative fallback report so near-misses are distinguishable from
hard mismatches).
"""
import sys, os, json, glob, math
import duckdb

try:
    import pandas as pd
except ImportError:  # pandas is driver-side tooling; degrade to value mode
    pd = None


def pandas_compare(files, odf):
    """Emulate the pandas-path compare of the CORRECTNESS hash gate:
    spark output read via pyarrow->pandas, the oracle result `odf` read
    via duckdb .df() (this is where e.g. HUGEINT becomes float64), columns
    sorted by name, rows sorted by all columns, then dtype-strict exact
    equality — the local stand-in for the sorted-row hash. Returns
    (status, detail).
    """
    sdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    # Equal-instant timestamps pass the real driver's hash whatever the
    # storage unit (r4: q_events_tumbling, datetime64[ns] vs [us], green),
    # so normalize datetime units before the strict dtype check below —
    # which exists to catch VALUE-representation drift like int64 vs
    # float64 (the real r5 t_mix_domains failure).
    for df in (sdf, odf):
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].astype("datetime64[ns]")
    if sorted(sdf.columns) != sorted(odf.columns):
        return "FAIL", f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}"
    cols = sorted(sdf.columns)
    try:
        sdf = sdf[cols].sort_values(cols).reset_index(drop=True)
        odf = odf[cols].sort_values(cols).reset_index(drop=True)
    except TypeError as e:  # what the driver reports as `err` (ndarray cells)
        return "ERR", f"pandas sort failed (driver would err): {e}"
    if len(sdf) != len(odf):
        return "FAIL", f"rowcount {len(sdf)} != {len(odf)}"
    dt = [(c, str(sdf[c].dtype), str(odf[c].dtype)) for c in cols
          if str(sdf[c].dtype) != str(odf[c].dtype)]
    if dt:
        return "FAIL", f"dtype mismatch (hash would differ): {dt}"
    if not sdf.equals(odf):
        for c in cols:
            neq = sdf[c] != odf[c]
            # NaN != NaN; treat both-NaN as equal like a hash of the bits
            both_nan = sdf[c].isna() & odf[c].isna()
            neq = neq & ~both_nan
            if neq.any():
                i = int(neq.idxmax())
                return "FAIL", (f"row {i} col {c}: "
                                f"{sdf[c].iloc[i]!r} != {odf[c].iloc[i]!r}")
        return "FAIL", "frames differ (no cell located?)"
    return "PASS", ""

def canon(v):
    if v is None:
        return ("none",)
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, (int,)):
        return ("i", int(v))
    return ("s", str(v))

def rows_of(rel_rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rel_rows:
        out.append(tuple(canon(r[i]) for i in order))
    out.sort(key=lambda t: json.dumps(t, default=str))
    return [tuple(x[1] if len(x) > 1 else None for x in t) for t in out], \
           [colnames[i] for i in order]

def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        # both-NaN is equal, like a hash of the bits — the driver's
        # pandas-path compare (pandas_compare) and the real hash gate
        # both treat it so; before this the value gate alone FAILed a
        # both-NaN cell the driver would pass (r14 gate-tooling sweep)
        if math.isnan(a) and math.isnan(b):
            return True, False
        if a == b:
            return True, False
        if math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
            return False, True
        return False, False
    return (a == b), False

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_near = n_fail = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        got = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchall()
        got_cols = [c[0] for c in con.description]
        if name not in oracle:
            # the driver's rows-only fallback REQUIRES rows > 0 — an empty
            # result must fail the exit code, not just print (r14 sweep:
            # this path previously exited 0 on a broken non-SQL operator)
            ok = len(got) > 0
            if not ok:
                n_fail += 1
            print(f"[{'rows-only' if ok else 'FAIL'}] {name}: {len(got)} rows "
                  f"{'OK' if ok else 'EMPTY!'}")
            continue
        # The oracle SQL runs once, into a temp table both gates read:
        # the value gate through fetchall, the pandas gate through .df().
        # (Each Spark output keeps its two readers, duckdb and pyarrow:
        # those are what the two gates compare, and both reads together
        # take well under a second for all outputs.)
        con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_result AS {oracle[name]}")
        exp = con.execute("SELECT * FROM oracle_result").fetchall()
        exp_cols = [c[0] for c in con.description]
        g_rows, g_names = rows_of(got, got_cols)
        e_rows, e_names = rows_of(exp, exp_cols)
        status, detail = "PASS", ""
        if g_names != e_names:
            status, detail = "FAIL", f"cols {g_names} != {e_names}"
        elif len(g_rows) != len(e_rows):
            status, detail = "FAIL", f"rowcount {len(g_rows)} != {len(e_rows)}"
        else:
            near = 0
            for i, (gr, er) in enumerate(zip(g_rows, e_rows)):
                for gv, ev in zip(gr, er):
                    eq, nr = close(gv, ev)
                    if nr:
                        near += 1
                    elif not eq:
                        status, detail = "FAIL", f"row {i}: {gr} != {er}"
                        break
                if status == "FAIL":
                    break
            if status == "PASS" and near:
                status, detail = "NEAR", f"{near} float near-misses (not bit-equal)"
        # Second gate: the driver-faithful pandas-path compare. A value-
        # equal result can still hash-mismatch driver-side when the two
        # readers disagree on dtype (t_mix_domains r5: HUGEINT->float64).
        if status == "PASS" and pd is not None:
            dstat, ddetail = pandas_compare(
                files, con.execute("SELECT * FROM oracle_result").df())
            if dstat != "PASS":
                # keep ERR distinct from FAIL — the real driver records
                # `err` as its own field and the round discipline demands
                # "zero err anywhere"; both count toward the exit code
                status, detail = dstat, f"driver-path: {ddetail}"
        if status == "PASS":
            n_pass += 1
        elif status == "NEAR":
            n_near += 1
        else:
            n_fail += 1
        print(f"[{status}] {name} ({len(g_rows)} rows) {detail}")
    print(f"\n{n_pass} pass, {n_near} near, {n_fail} fail")
    sys.exit(1 if n_fail or n_near else 0)

if __name__ == "__main__":
    main()
