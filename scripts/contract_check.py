#!/usr/bin/env python3
"""Driver-style contract check: run every __spark_entry__.py query
against its DuckDB oracle and report mismatches.

Usage: python scripts/contract_check.py [/root/testdata/sf0.01] [query ...]
(optional trailing args restrict the check to the named queries)
"""
import importlib.util, math, os, sys
import duckdb
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)  # noqa
spec = importlib.util.spec_from_file_location("spark_entry", os.path.join(REPO, "__spark_entry__.py"))
m = importlib.util.module_from_spec(spec); spec.loader.exec_module(m)
from ocr_spark.pipeline.session import get_spark
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
spark = get_spark("local[16]")
con = duckdb.connect()
for t in ["customer", "orders", "documents"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
def canon(v):
    # DuckDB-side values come through pandas itertuples as numpy
    # scalars whose repr changes across numpy versions — unwrap to
    # plain Python values before comparing.
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if v is None: return (0, "")
    if isinstance(v, float) and math.isnan(v): return (2, "nan")
    return (1, repr(v))
qs, os_ = m.queries(), m.oracle_sql()
only = set(sys.argv[2:])
if only:
    unknown = only - set(qs)
    if unknown:  # a typo must not report a false all-clear
        print(f"BAD: unknown query name(s) {sorted(unknown)}", flush=True)
        sys.exit(2)
    qs = {k: v for k, v in qs.items() if k in only}
bad = []
for name in sorted(qs):
    sdf = qs[name](spark, SF)
    cols = sorted(sdf.columns)
    got = sorted(tuple(canon(v) for v in r) for r in sdf.select(*cols).collect())
    odf = con.execute(os_[name]).df()
    if sorted(odf.columns) != cols:
        bad.append((name, "cols")); continue
    want = sorted(tuple(canon(v) for v in r) for r in odf[cols].itertuples(index=False, name=None))
    if got != want:
        bad.append((name, f"values {len(got)} vs {len(want)}"))
print("BAD:", bad if bad else "none", flush=True)
spark.stop()
