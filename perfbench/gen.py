"""Seeded input generator. Derives one workload input directory from the
base tables in perfbench/data (the deterministic sf0.01 synthetic star
schema, events, documents and embeddings), so the program receives only
generated files and the same seed always gives the same inputs:

- fact keys (orders/lineitem order keys, customer keys in customer,
  orders and events, event ids, document and embedding ids) move by one
  seed-keyed offset, a multiple of every key modulus the program uses
  (2, 3, 4, 5, 7, 10, 11, 50, 100, 150, 2000), so every modulo join,
  sample and split sees the same residues and does the same work for
  every seed; dimension keys stay fixed, as the modulo decode joins must
  keep landing on them;
- every table's row order is a seed-keyed permutation;
- document tokens are rewritten by a seed-keyed permutation of the
  vocabulary within each token length, stopwords fixed: a function of
  (token, seed) only, so every within-corpus near-duplicate pair,
  n-gram overlap, token length and character count is kept;
- embeddings rotate cyclically by a seed-keyed number of dimensions,
  which keeps every norm and distance;
- events are written as a directory of part files, cut in time order.

`tiny` keeps a hash-chosen tenth of the facts and a fifth of the
documents, for the self-test.

    python3 perfbench/gen.py OUT_DIR SEED [tiny]
"""
import os
import shutil
import sys

import duckdb

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is",
             "el", "la", "de", "que", "y", "en",
             "der", "die", "das", "und", "ist",
             "le", "les", "et", "est", "une"]
EVENT_PARTS = 8
KEY_UNIT = 2000 * 3 * 7 * 11


def key_offset(seed):
    return KEY_UNIT * (1 + seed % 1000)


def rotation(seed, dim):
    return 1 + seed % (dim - 1)


def generate(out, seed, tiny=False):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    off = key_offset(seed)
    s = int(seed)
    for t in TABLES:
        con.execute(f"CREATE VIEW base_{t} AS SELECT * FROM '{BASE}/{t}.parquet'")
    # subsets for the tiny variant, chosen on the base keys
    keep_fact = "hash(o_orderkey, 7) % 10 = 0" if tiny else "TRUE"
    keep_event = "hash(event_id, 7) % 10 = 0" if tiny else "TRUE"
    keep_doc = "hash(doc_id, 7) % 5 = 0" if tiny else "TRUE"

    def write(name, sql):
        con.execute(f"COPY ({sql}) TO '{tmp}/{name}.parquet' (FORMAT parquet)")

    for t in ["region", "nation", "supplier", "part"]:
        key = {"region": "r_regionkey", "nation": "n_nationkey",
               "supplier": "s_suppkey", "part": "p_partkey"}[t]
        write(t, f"SELECT * FROM base_{t} ORDER BY hash({key}, {s})")
    write("customer", f"""
        SELECT * REPLACE (c_custkey + {off} AS c_custkey)
        FROM base_customer ORDER BY hash(c_custkey, {s})""")
    write("orders", f"""
        SELECT * REPLACE (o_orderkey + {off} AS o_orderkey,
                          o_custkey + {off} AS o_custkey)
        FROM base_orders WHERE {keep_fact} ORDER BY hash(o_orderkey, {s})""")
    write("lineitem", f"""
        SELECT l.* REPLACE (l.l_orderkey + {off} AS l_orderkey)
        FROM base_lineitem l
        WHERE l.l_orderkey IN (SELECT o_orderkey FROM base_orders WHERE {keep_fact})
        ORDER BY hash(l.l_orderkey, l.l_linenumber, {s})""")

    # events: time-ordered part files, rows permuted within each part
    os.makedirs(f"{tmp}/events.parquet")
    con.execute(f"""
        CREATE TABLE ev AS
        SELECT * REPLACE (event_id + {off} AS event_id, user_id + {off} AS user_id),
          ntile({EVENT_PARTS}) OVER (ORDER BY ts, event_id) - 1 AS part
        FROM base_events WHERE {keep_event}""")
    for p in range(EVENT_PARTS):
        con.execute(f"""
            COPY (SELECT * EXCLUDE (part) FROM ev WHERE part = {p}
                  ORDER BY hash(event_id, {s}))
            TO '{tmp}/events.parquet/part-{p:05d}.parquet' (FORMAT parquet)""")

    # documents: vocabulary permutation within each token length
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    con.execute(f"""
        CREATE TABLE docs AS SELECT * FROM base_documents WHERE {keep_doc}""")
    con.execute(f"""
        CREATE TABLE vocab AS
        WITH v AS (SELECT DISTINCT tok FROM
                     (SELECT unnest(string_split(text, ' ')) AS tok FROM docs)
                   WHERE tok <> '' AND tok NOT IN ({stops})),
        r AS (SELECT tok, length(tok) AS n,
                row_number() OVER (PARTITION BY length(tok) ORDER BY tok) AS i,
                row_number() OVER (PARTITION BY length(tok) ORDER BY hash(tok, {s}), tok) AS j
              FROM v)
        SELECT a.tok AS src, b.tok AS dst FROM r a JOIN r b ON a.n = b.n AND a.i = b.j""")
    pairs = con.execute("SELECT src, dst FROM vocab WHERE src <> dst ORDER BY src").fetchall()
    case = " ".join(f"WHEN '{a}' THEN '{b}'" for a, b in pairs)
    rewrite = (f"array_to_string(list_transform(string_split(text, ' '), "
               f"t -> CASE t {case} ELSE t END), ' ')" if pairs else "text")
    write("documents", f"""
        SELECT doc_id + {off} AS doc_id, {rewrite} AS text, lang, source, n_chars
        FROM docs ORDER BY hash(doc_id, {s})""")
    dim = con.execute("SELECT len(embedding) FROM base_embeddings LIMIT 1").fetchone()[0]
    r = rotation(seed, dim)
    write("embeddings", f"""
        SELECT vec_id + {off} AS vec_id,
          list_concat(embedding[{r + 1}:{dim}], embedding[1:{r}]) AS embedding,
          label
        FROM base_embeddings
        WHERE vec_id IN (SELECT doc_id FROM docs) OR {'FALSE' if tiny else 'TRUE'}
        ORDER BY hash(vec_id, {s})""")
    con.close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def row_counts(d):
    con = duckdb.connect()
    out = {}
    for t in TABLES:
        p = f"{d}/{t}.parquet" + ("/*.parquet" if os.path.isdir(f"{d}/{t}.parquet") else "")
        out[t] = con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0]
    con.close()
    return out


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), tiny=len(sys.argv) > 3 and sys.argv[3] == "tiny")
    print(row_counts(sys.argv[1]))
