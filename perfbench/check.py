"""Output check against the program's DuckDB oracles.

The reference result of each job is its registered oracle SQL run by
DuckDB over the same generated input, computed before the harness starts
and cached as a canonical frame. The cache file is keyed by the input
directory (itself keyed by seed and generator) and by a hash of the SQL
and of this file, so a changed oracle or canon rule is never reused. A job's written parquet output is
canonicalized by the rule of tools/compare.py (columns sorted by name,
ints to Int64, floats to float64, timestamps to microseconds, rows
sorted) and must equal it exactly.
"""
import glob
import hashlib
import os
import pickle

import duckdb
import pandas as pd

# the nested EP1 document, flattened exactly as the registry's q_outbound_*
# wrappers do before their oracle compare
FLATTEN_DOC = """
SELECT prospect_id, leadid,
  administration.channel AS admin_channel,
  administration.createdDate AS created_date,
  administration.sourceCode AS source_code,
  customerDetails.name AS cust_name,
  customerDetails.segment AS cust_segment,
  customerDetails.nation AS nation_name,
  customerDetails.region AS region_name,
  customerDetails.balance AS balance,
  CAST(dealerDetails.dealerCode AS BIGINT) AS dealer_code,
  dealerDetails.dealerName AS dealer_name,
  dealerDetails.dealerScore AS dealer_score,
  purchaseDetails.totalPrice AS total_price,
  purchaseDetails.status AS status,
  purchaseDetails.prospectType AS prospect_type,
  vehicleDetails.modelDesc AS model_desc,
  vehicleDetails.modelCode AS model_code,
  vehicleDetails.variantDesc AS variant_desc,
  vehicleDetails.queryDescription AS query_description,
  enrollmentDetails.interests[1].questionId AS q0_id,
  enrollmentDetails.interests[2].response[2] AS q1_resp2,
  enrollmentDetails IS NULL AS enrollment_null
FROM read_parquet('{out}/*.parquet')"""

# benchmark job -> (registry oracle, SQL reading the job's output or None
# for a plain parquet read)
SPECIAL = {
    "outbound_push": ("q_outbound_push", FLATTEN_DOC),
}

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def oracle_name(job):
    return SPECIAL.get(job, (job, None))[0]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def connect(input_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        p = f"{input_dir}/{t}.parquet"
        if os.path.isdir(p):
            p += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def oracles(jobs, input_dir, cache_dir, oracle_sql, threads):
    """Canonical reference frame per job, computed once per cache key."""
    os.makedirs(cache_dir, exist_ok=True)
    with open(__file__, "rb") as fh:
        rule = fh.read()
    con = None
    out = {}
    for job in jobs:
        sql = oracle_sql[oracle_name(job)]
        key = hashlib.sha256(rule + sql.encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{job}-{key}.pkl")
        if not os.path.exists(path):
            con = con or connect(input_dir, threads)
            frame = canon(con.execute(sql).df())
            with open(path + ".tmp", "wb") as fh:
                pickle.dump(frame, fh)
            os.replace(path + ".tmp", path)
        with open(path, "rb") as fh:
            out[job] = pickle.load(fh)
    if con:
        con.close()
    return out


def read_output(job, out_dir):
    sql = SPECIAL.get(job, (None, None))[1]
    if sql is not None:
        con = duckdb.connect()
        try:
            return con.execute(sql.format(out=out_dir)).df()
        finally:
            con.close()
    files = sorted(glob.glob(f"{out_dir}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet output under {out_dir}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(job, out_dir, expected):
    """None when the output equals the oracle, else a one-line reason."""
    try:
        got = canon(read_output(job, out_dir))
    except Exception as e:  # unreadable or missing output is a mismatch
        return f"READ_ERR {type(e).__name__}: {str(e)[:120]}"
    if list(got.columns) != list(expected.columns):
        return f"COLS got={list(got.columns)} exp={list(expected.columns)}"
    if len(got) != len(expected):
        return f"ROWS got={len(got)} exp={len(expected)}"
    if not got.equals(expected):
        for c in got.columns:
            neq = ~((got[c] == expected[c]) | (got[c].isna() & expected[c].isna()))
            if neq.any():
                i = neq.idxmax()
                return f"HASH_MISMATCH col={c} row={i} got={got[c][i]!r} exp={expected[c][i]!r}"
        return "HASH_MISMATCH"
    return None
