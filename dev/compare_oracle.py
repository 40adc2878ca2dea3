import duckdb, json, glob, os, sys
import pandas as pd
sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/vout"
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
oracle = json.load(open(f"{out}/oracle_sql.json"))
ok, bad = [], []
for name in sorted(os.listdir(out)):
    p = os.path.join(out, name)
    if not os.path.isdir(p): continue
    files = glob.glob(p + "/*.parquet")
    if not files:
        bad.append((name, "no spark output")); continue
    spark_df = con.sql(f"SELECT * FROM '{p}/*.parquet'").df()
    if name not in oracle:
        ok.append((name, f"rows-only ({len(spark_df)})")); continue
    try:
        odf = con.sql(oracle[name]).df()
    except Exception as e:
        bad.append((name, f"oracle error: {e}")); continue
    a = spark_df.reindex(sorted(spark_df.columns), axis=1)
    b = odf.reindex(sorted(odf.columns), axis=1)
    if list(a.columns) != list(b.columns):
        bad.append((name, f"schema: {list(a.columns)} vs {list(b.columns)}")); continue
    # The driver's comparator sort_values-crashes on array cells and
    # value-hashes rendered values ("0.0" != "0") — so the replica must
    # be exactly as strict (r14 verdict: 6 rounds of silent leniency
    # here shipped red rows). HARD-FAIL any array-typed output column
    # and any float-vs-integer dtype split between the two sides.
    import numpy as np
    arrcols = [c for df in (a, b) for c in df.columns
               if df[c].map(lambda x: isinstance(x, (list, tuple, np.ndarray))).any()]
    if arrcols:
        bad.append((name, f"array-typed output column(s) {sorted(set(arrcols))}: "
                    "driver comparator crashes on these — flatten (array_join/"
                    "array_to_string) on both sides")); continue
    dtmix = [c for c in a.columns
             if (pd.api.types.is_float_dtype(a[c]) != pd.api.types.is_float_dtype(b[c]))
             and pd.api.types.is_numeric_dtype(a[c]) and pd.api.types.is_numeric_dtype(b[c])]
    if dtmix:
        bad.append((name, f"float-vs-integer dtype mismatch on {dtmix}: "
                    "driver value-hash renders 0.0 != 0 — CAST the oracle side")); continue
    try:
        a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
        b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    except Exception as e:
        bad.append((name, f"sort error: {e}")); continue
    if len(a) != len(b):
        bad.append((name, f"rows: {len(a)} vs {len(b)}")); continue
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        ok.append((name, f"match ({len(a)} rows)"))
    except Exception as e:
        bad.append((name, "values differ: " + str(e).splitlines()[-1][:200]))
# A query that throws inside Verify (e.g. the flat-schema require) writes no
# output dir at all and would otherwise vanish from the gate — surface it.
seen = {name for name in os.listdir(out) if os.path.isdir(os.path.join(out, name))}
only = os.environ.get("SPARK_GRAFT_VERIFY_ONLY")
expected = set(only.split(",")) if only else set(oracle)
for name in sorted(expected - seen):
    bad.append((name, "no spark output dir (query failed inside Verify?)"))
for n, m in ok: print("OK  ", n, m)
for n, m in bad: print("BAD ", n, m)
print(f"== {len(ok)} ok, {len(bad)} bad")
sys.exit(1 if bad else 0)

# Usage (replicates the driver's correctness gate locally):
#   sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/vout"
#   python3 dev/compare_oracle.py /root/testdata/sf0.01 /tmp/vout
# or both in one step, with the output dir cleared first: dev/oracle.sh
