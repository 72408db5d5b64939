"""Seeded inputs and the output check.

relabel(): the seeded bijection over key columns, consistent across
tables (x -> (a*x + b) mod N per key family, a coprime to N; seed 0 is
the identity). The join structure, and so the work, is the same for
every seed; the labels, and so the results, differ.

expected()/compare(): each catalog job's result is compared with the
DuckDB run of SparkEntry.oracleSql over the same inputs, with the rules
of tools/compare_oracle.py (same columns, same row count, row-sorted
values equal; floats exactly). Expected results are computed once per
input directory and oracle SQL, and cached.
"""
import hashlib
import math
import os
import random
import shutil

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

# key family -> (owning table, [(table, column), ...])
FAMILIES = {
    "orderkey": ("orders", [("orders", "o_orderkey"), ("lineitem", "l_orderkey")]),
    "partkey": ("part", [("part", "p_partkey"), ("lineitem", "l_partkey")]),
    "suppkey": ("supplier", [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")]),
    "custkey": ("customer", [("customer", "c_custkey"), ("orders", "o_custkey")]),
    "doc_id": ("documents", [("documents", "doc_id")]),
    "vec_id": ("embeddings", [("embeddings", "vec_id")]),
}


def relabel(base, out, seed):
    """Write the seed's inputs to `out` from the GenSf output in `base`."""
    if os.path.isfile(os.path.join(out, ".done")):
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tables = {t: pq.read_table(os.path.join(base, t + ".parquet")) for t in TABLES}
    for fam, (owner, cols) in sorted(FAMILIES.items()):
        n = tables[owner].num_rows
        rnd = random.Random(f"{seed}:{fam}")
        a, b = 1, 0
        if seed != 0 and n > 1:
            a = rnd.randrange(1, n)
            while math.gcd(a, n) != 1:
                a = rnd.randrange(1, n)
            b = rnd.randrange(0, n)
        for t, c in cols:
            tab = tables[t]
            i = tab.schema.get_field_index(c)
            col = tab.column(i)
            mapped = pc.cast(pc.add(pc.multiply(pc.cast(col, pa.int64()), a), b), pa.int64())
            mapped = pc.subtract(mapped, pc.multiply(pc.divide(mapped, n), n))  # mod for x >= 0
            tables[t] = tab.set_column(i, tab.schema.field(i), pc.cast(mapped, col.type))
    for t, tab in tables.items():
        pq.write_table(tab, os.path.join(out, t + ".parquet"))
    open(os.path.join(out, ".done"), "w").close()


def expected(data, queries, oracle_sql, cache):
    """The DuckDB result of each query over `data`, cached as parquet
    under a name that carries a hash of the query's SQL. Returns
    {query: parquet file}."""
    files = {q: os.path.join(cache, f"{q}-{hashlib.sha256(oracle_sql[q].encode()).hexdigest()[:12]}.parquet")
             for q in queries}
    todo = [q for q in queries if not os.path.isfile(files[q])]
    if not todo:
        return files
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=4")
    tmp = os.path.join(cache, ".duck")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for q in todo:
        tab = con.execute(oracle_sql[q]).arrow()
        pq.write_table(tab, files[q] + ".tmp")
        os.replace(files[q] + ".tmp", files[q])
    con.close()
    shutil.rmtree(tmp, ignore_errors=True)
    return files


def compare(got_dir, exp_file):
    """None when equal, else a one-line reason."""
    files = [os.path.join(got_dir, f) for f in sorted(os.listdir(got_dir)) if f.endswith(".parquet")]
    got = pa.concat_tables([pq.read_table(f) for f in files]).to_pandas() if files else None
    exp = pq.read_table(exp_file).to_pandas()
    if got is None:
        return "no output"
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns {gc} vs {ec}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    if len(got) == 0:
        return None
    g = got[gc].sort_values(by=gc, kind="mergesort").reset_index(drop=True)
    e = exp[ec].sort_values(by=ec, kind="mergesort").reset_index(drop=True)
    for c in gc:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            bad = [i for i, (x, y) in enumerate(zip(gv, ev)) if not (x == y or (pd.isna(x) and pd.isna(y)))]
        else:
            try:
                eq = (gv.astype(object) == ev.astype(object)) | (gv.isna() & ev.isna())
                bad = [i for i, ok in enumerate(eq) if not ok]
            except Exception:
                bad = [i for i, (x, y) in enumerate(zip(gv, ev)) if str(x) != str(y)]
        if bad:
            return f"column {c}: {len(bad)} rows differ, first {gv.iloc[bad[0]]!r} vs {ev.iloc[bad[0]]!r}"
    return None
