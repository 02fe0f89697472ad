#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: read each
outDir/<name>/ parquet (Spark result), run outDir/oracle_sql.json in DuckDB
over the sfDir parquet tables, compare row-by-row with exact equality
(reporting near-misses separately so fp issues are visible).

Usage: check.py [sfDir] [outDir] [filter]
filter: comma-separated name substrings (graft.Measure.patterns' rule);
only the oracle entries it matches are checked, so a subset Verify run
can be checked. A filter that matches no entry exits non-zero."""
import sys, json, glob, math
import duckdb

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
if len(sys.argv) > 3:
    pats = [p.strip() for p in sys.argv[3].split(",") if p.strip()]
    oracle = {n: q for n, q in oracle.items() if any(p in n for p in pats)}
    if not oracle:
        sys.exit(f"filter '{sys.argv[3]}' matches no oracle entry")
ok = bad = 0
for name, sql in sorted(oracle.items()):
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); bad += 1; continue
    try:
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        want = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: {e}"); bad += 1; continue
    # driver sorts columns by name before hashing
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
        bad += 1; continue
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); bad += 1; continue
    # order-insensitive compare: sort by all columns
    cols = list(got.columns)
    g = got.sort_values(cols, kind="mergesort").reset_index(drop=True)
    w = want.sort_values(cols, kind="mergesort").reset_index(drop=True)
    details = []
    for c in cols:
        gv, wv = g[c], w[c]
        try:
            eq = (gv == wv) | (gv.isna() & wv.isna())
        except Exception:
            eq = gv.astype(str) == wv.astype(str)
        if not eq.all():
            i = (~eq).idxmax()
            a, b = gv[i], wv[i]
            d = f"col={c} row={i}: spark={a!r} oracle={b!r}"
            if isinstance(a, float) and isinstance(b, float) and \
               math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
                d += " (NEAR: fp ulp)"
            details.append(d)
    if not details:
        # driver hashes *string representations*: a dtype KIND mismatch
        # (e.g. DuckDB HUGEINT->float64 "3.0" vs Spark int64 "3") passes ==
        # but fails the driver hash. Width differences (int32 vs int64)
        # stringify identically and are fine (q35/q51/... are driver-green).
        drisk = [f"{c}: spark={g[c].dtype} oracle={w[c].dtype}"
                 for c in cols if g[c].dtype.kind != w[c].dtype.kind]
        if drisk:
            print(f"FAIL {name}: dtype/hash risk [{'; '.join(drisk)}]")
            bad += 1
        else:
            print(f"PASS {name} ({len(got)} rows)"); ok += 1
    else:
        print(f"FAIL {name}: " + "; ".join(details)); bad += 1
print(f"\n{ok}/{ok+bad} pass")
sys.exit(1 if bad else 0)
