#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: compare Verify's
parquet dumps against the DuckDB oracle SQL on the same tables."""
import sys, os, json, glob, shutil, tempfile
import duckdb
import numpy as np
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/vout"

# DuckDB's own cap is 80% of RAM. The sf0.1 peak is one oracle,
# ann_recall_report, whose PQ and IVF-PQ subqueries take ~3 GB each.
# Its `tagged` CTE is MATERIALIZED, so they run once: the sf0.1 check
# peaks at 6.2 GB (9.4 GB when DuckDB inlined `tagged` and ran them
# twice). Over the 8 GB cap DuckDB spills to `spill` and returns the
# same rows. The per-entry pandas frames are at most ~20 MB.
ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
spill = tempfile.mkdtemp(prefix="check-duckdb-")
con = duckdb.connect(config={"memory_limit": f"{min(8 << 30, int(ram * 0.8)) >> 20}MB",
                             "temp_directory": spill})
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
names = sorted(os.path.basename(p) for p in glob.glob(f"{outdir}/*") if os.path.isdir(p))

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails, passes, rows_only = [], [], []
for name in names:
    spark_df = pd.read_parquet(f"{outdir}/{name}")
    if name not in oracle:
        rows_only.append((name, len(spark_df)))
        continue
    try:
        duck_df = con.execute(oracle[name]).df()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}"))
        continue
    s, d = canon(spark_df.copy()), canon(duck_df.copy())
    if list(s.columns) != list(d.columns):
        fails.append((name, f"columns differ: spark={list(s.columns)} duck={list(d.columns)}"))
        continue
    if len(s) != len(d):
        fails.append((name, f"row count: spark={len(s)} duck={len(d)}"))
        continue
    # Dtype-strict gate (the r10 failure class): the driver hashes values
    # AFTER dtype rendering, so a DuckDB HUGEINT sum landing as float64
    # ("4116.0") against Spark's int64 ("4116") is a driver hash-FAIL even
    # though assert_frame_equal(check_dtype=False) calls the values equal.
    # Flag any column where one engine yields an integer dtype and the
    # other a float — the oracle needs CAST(... AS BIGINT) (SURVEY §5).
    drift = [c for c in s.columns
             if {s[c].dtype.kind, d[c].dtype.kind} == {"i", "f"}]
    if drift:
        fails.append((name, "dtype drift (int vs float — driver hash would "
                      f"fail; CAST the oracle column to BIGINT): {drift}"))
        continue
    try:
        pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=True)
    except AssertionError as e:
        msg = str(e).split("\n")[0:6]
        fails.append((name, " | ".join(msg)))
        continue
    # Bit-level float gate (the r11 failure class): the driver hashes
    # RENDERED values, so −0.0 vs +0.0 (pandas check_exact calls them
    # equal) or any last-ulp divergence is a driver hash-FAIL. Compare
    # float columns by their raw float64 bit pattern (NaN-vs-NaN
    # excluded — both engines emit the canonical quiet NaN).
    bitdrift = []
    for c in s.columns:
        if s[c].dtype.kind == "f" and d[c].dtype.kind == "f":
            sv = s[c].to_numpy(dtype="float64")
            dv = d[c].to_numpy(dtype="float64")
            diff = (sv.view("uint64") != dv.view("uint64")) \
                   & ~(np.isnan(sv) & np.isnan(dv))
            if diff.any():
                i = int(np.argmax(diff))
                bitdrift.append(f"{c}[{int(diff.sum())} rows, e.g. "
                                f"{sv[i]!r} vs {dv[i]!r}]")
    if bitdrift:
        fails.append((name, "float bit drift (values equal but driver hash "
                      "would fail — signed zero or last-ulp; canonicalize "
                      f"with '+ 0.0' in BOTH engines): {bitdrift}"))
        continue
    passes.append(name)

print(f"PASS ({len(passes)}): {', '.join(passes)}")
print(f"ROWS-ONLY ({len(rows_only)}): {', '.join(f'{n}[{r}]' for n, r in rows_only)}")
print(f"FAIL ({len(fails)}):")
for n, m in fails:
    print(f"  {n}: {m[:500]}")
con.close()
shutil.rmtree(spill, ignore_errors=True)
sys.exit(1 if fails else 0)
