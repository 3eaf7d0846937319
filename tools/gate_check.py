"""Local replica of the driver's correctness gate: run every queries()
entry and its oracle_sql() twin at sf0.01, compare row counts, schema
column names, and sorted stringified values."""
import json, os, sys
sys.path.insert(0, "/root/repo"); os.chdir("/root/repo")
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "2147483648")
import duckdb
import pandas as pd
import __spark_entry__ as em
from datasketches_java_spark.session import get_spark

SF = "/root/testdata/sf0.01"
spark = get_spark(app="gate-check", cores=16)
spark.sparkContext.setLogLevel("ERROR")
con = duckdb.connect()
for t in ("region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"):
    p = os.path.join(SF, f"{t}.parquet")
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

def canon(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        out[c] = out[c].map(lambda v: f"{v:.9g}" if isinstance(v, float) else str(v))
    return out.sort_values(cols).reset_index(drop=True)

qs, oras = em.queries(), em.oracle_sql()
only = sys.argv[1:] if len(sys.argv) > 1 else list(qs)
results = {}
for name in only:
    try:
        sp = qs[name](spark, SF).toPandas()
        if name not in oras:
            results[name] = {"rows": len(sp), "oracle": None}
        else:
            o = con.execute(oras[name]).fetchdf()
            a, b = canon(sp), canon(o)
            match = (len(a) == len(b)) and list(a.columns) == list(b.columns) and a.equals(b)
            results[name] = {"rows": len(sp), "oracle_rows": len(o), "match": bool(match)}
            if not match and len(a) == len(b) and list(a.columns) == list(b.columns):
                neq = (a != b).any(axis=1)
                results[name]["first_diff"] = {
                    "spark": a[neq].head(2).to_dict("records"),
                    "oracle": b[neq].head(2).to_dict("records"),
                }
    except Exception as e:
        results[name] = {"error": str(e)[:300]}
    print(name, "->", json.dumps(results[name])[:400], flush=True)
spark.stop()
bad = [k for k, v in results.items() if v.get("match") is False or "error" in v]
print("FAILED:" if bad else "ALL OK:", bad)
