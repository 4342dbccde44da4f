#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: read each query's
parquet dump from Verify, run its oracle SQL in DuckDB over the same
testdata, sort columns by name + rows, and hash-compare values."""
import sys, json, glob, os, shutil, tempfile
import duckdb
import pandas as pd

repo_target = os.path.normpath(os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "target"))
sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(repo_target, "verify")

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: ints -> int64, floats -> float64 strings
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]): df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]): df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]): df[c] = df[c].astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

# DuckDB spills to a directory this run owns under target/, removed on
# the way out, never to `.tmp/` in the working directory
os.makedirs(repo_target, exist_ok=True)
spill_dir = tempfile.mkdtemp(prefix="compare_duckdb_", dir=repo_target)
try:
    con = duckdb.connect(config={"temp_directory": spill_dir})
    for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

    results = {}
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path): continue
        files = glob.glob(f"{path}/*.parquet")
        if not files:
            results[name] = "NO_OUTPUT"; continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            results[name] = f"ROWS_ONLY({len(got)})"; continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            results[name] = f"ORACLE_ERR: {str(e)[:120]}"; continue
        try:
            g, e = canon(got), canon(exp)
            if list(g.columns) != list(e.columns):
                results[name] = f"COLS got={list(g.columns)} exp={list(e.columns)}"
            elif len(g) != len(e):
                results[name] = f"ROWS got={len(g)} exp={len(e)}"
            else:
                eq = g.equals(e)
                if not eq:
                    # find first differing cell for debugging
                    diff = None
                    for c in g.columns:
                        neq = ~((g[c] == e[c]) | (g[c].isna() & e[c].isna()))
                        if neq.any():
                            i = neq.idxmax()
                            diff = f"col={c} row={i} got={g[c][i]!r} exp={e[c][i]!r}"
                            break
                    results[name] = f"HASH_MISMATCH {diff}"
                else:
                    results[name] = "OK"
        except Exception as ex:
            results[name] = f"CMP_ERR: {str(ex)[:120]}"

    ok = sum(1 for v in results.values() if v == "OK")
    for k, v in results.items(): print(f"{'PASS' if v=='OK' else 'INFO' if v.startswith('ROWS_ONLY') else 'FAIL':<5} {k}: {v}")
    print(f"\n{ok}/{len([k for k in results if not results[k].startswith('ROWS_ONLY')])} oracle-checked queries OK")

    # optional 3rd arg: write the per-query result map as a JSON artifact
    # (the sf0.1 one-time sweep commits CORRECTNESS_sf0.1_r{N}.json this way)
    if len(sys.argv) > 3:
        checked = [k for k in results if not results[k].startswith("ROWS_ONLY")]
        json.dump({"sf_dir": sf_dir, "n_checked": len(checked),
                   "n_ok": ok, "results": results},
                  open(sys.argv[3], "w"), indent=1)
finally:
    shutil.rmtree(spill_dir, ignore_errors=True)
