#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query in
oracle_sql.json, run its oracle SQL in DuckDB against the sf parquet tables,
then compare to the Spark parquet dump under outDir (columns sorted by name,
rows sorted, values compared with small float tolerance). A dump directory
with no oracle entry fails with NO_ORACLE.

Column types are checked before values (DTYPE): a DuckDB HUGEINT or DECIMAL
result column fails, and so does an integral column on one side against a
floating one on the other. Types come from DuckDB's result types and the
Parquet schema of the Spark dump, not from pandas, which reads nullable ints
and HUGEINT as float64 and would hide both."""
import sys, json, glob, os, time
import duckdb
import pandas as pd
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DUCK_INTEGRAL = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                 "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}


def duck_kind(t):
    t = str(t)
    if t in DUCK_INTEGRAL:
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    return None


def arrow_kind(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    return None


def dtype_error(spark_schema, duck_types):
    """First type mismatch between the Spark dump and the DuckDB result."""
    for c in sorted(duck_types):
        dt = str(duck_types[c])
        if dt.startswith(("HUGEINT", "UHUGEINT", "DECIMAL")):
            return f"DTYPE col={c}: duck={dt} (cast the oracle column to BIGINT or DOUBLE)"
        st = spark_schema.field(c).type
        sk, dk = arrow_kind(st), duck_kind(dt)
        if sk and dk and sk != dk:
            return f"DTYPE col={c}: spark={st} duck={dt}"
    return None

sfdir, outdir = sys.argv[1], sys.argv[2]
only, exclude = None, None
if len(sys.argv) > 3:
    if sys.argv[3].startswith("^"):       # run the COMPLEMENT (gate mode)
        exclude = set(sys.argv[3][1:].split(","))
    else:
        only = sys.argv[3].split(",")
con = duckdb.connect()
# the iterative-CTE oracles thrash at high thread counts (sys time ~=
# user time at 32 threads); the sf0.1 gate caps them (2.2x less CPU for
# ~17% wall on the heaviest row)
if os.environ.get("GRAFT_ORACLE_THREADS"):
    con.execute(f"SET threads={int(os.environ['GRAFT_ORACLE_THREADS'])}")
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = f"{sfdir}/{t}.parquet"
    if os.path.isdir(p):  # Spark directory layout (e.g. SeedGen output)
        p = f"{p}/*.parquet"
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
results = {}
oracle_secs = {}


def check(name, sql):
    """The verdict for one query: OK, or the first failure found."""
    pdir = f"{outdir}/{name}"
    if not os.path.isdir(pdir):
        return "MISSING_SPARK_OUTPUT"
    try:
        files = sorted(glob.glob(f"{pdir}/*.parquet"))
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        spark_schema = pq.read_schema(files[0])
        t0 = time.time()
        rel = con.sql(sql)
        duck_types = dict(zip(rel.columns, rel.types))
        duck_df = rel.fetchdf()
        oracle_secs[name] = time.time() - t0
    except Exception as e:
        return f"ERROR: {str(e)[:200]}"
    s = spark_df.reindex(sorted(spark_df.columns), axis=1)
    d = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(s.columns) != list(d.columns):
        return f"SCHEMA: spark={list(s.columns)} duck={list(d.columns)}"
    err = dtype_error(spark_schema, duck_types)
    if err:
        return err
    if len(s) != len(d):
        return f"ROWS: spark={len(s)} duck={len(d)}"
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    d = d.sort_values(by=list(d.columns)).reset_index(drop=True)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(dv.dtype, np.floating):
            sv = pd.to_numeric(sv, errors="coerce").astype(float)
            dv = pd.to_numeric(dv, errors="coerce").astype(float)
            bad = ~(np.isclose(sv, dv, rtol=0, atol=1e-9) | (sv.isna() & dv.isna()))
        else:
            try:
                bad = ~((sv == dv) | (sv.isna() & dv.isna()))
            except Exception:
                bad = sv.astype(str) != dv.astype(str)
        if bad.any():
            i = bad.idxmax()
            return f"VALUE col={c} row={i}: spark={s[c][i]!r} duck={d[c][i]!r} (n_bad={bad.sum()})"
    return f"OK ({len(s)} rows)"


# a dumped query with no oracle entry is never compared: fail it
dumped = {e.name for e in os.scandir(outdir) if e.is_dir()}
for name in sorted(set(oracle) | dumped):
    if only and name not in only: continue
    if exclude and name in exclude: continue
    results[name] = check(name, oracle[name]) if name in oracle else "NO_ORACLE"
    print(f"[progress] {name}: {results[name]}"
          + (f" [{oracle_secs[name]:.1f}s oracle]" if name in oracle_secs else ""),
          flush=True)

width = max(len(k) for k in results)
nok = sum(1 for v in results.values() if v.startswith("OK"))
for k, v in sorted(results.items()):
    print(f"{k:<{width}}  {v}")
print(f"\n{nok}/{len(results)} OK (DuckDB {duckdb.__version__})")
if nok < len(results):
    print("\nNON-OK ROWS:")
    for k, v in sorted(results.items()):
        if not v.startswith("OK"):
            print(f"  {k:<{width}}  {v}")
if oracle_secs:
    total = sum(oracle_secs.values())
    print(f"\noracle wall total: {total:.1f} s; 15 heaviest:")
    for k, v in sorted(oracle_secs.items(), key=lambda kv: -kv[1])[:15]:
        print(f"  {k:<{width}}  {v:7.1f} s")
sys.exit(0 if nok == len(results) else 1)
