#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate: run graft.Verify
output against DuckDB oracles on the same parquet tables, compare row sets
(columns sorted by name, rows sorted, exact values). An oracle query with no
output directory (its run failed) counts as MISSING. Exits 1 unless every
query is OK."""
import sys, os, json, glob
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(v):
    if isinstance(v, float):
        if v != v:  # NaN (incl. pandas null-int coercion) == null
            return None
        return round(v, 9)
    return v

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        if name not in oracle:
            results[name] = f"ROWS_ONLY rows={got.df().shape[0]}"
            continue
        exp = con.sql(oracle[name])
        gdf, edf = got.df(), exp.df()
        gcols, ecols = sorted(gdf.columns), sorted(edf.columns)
        if gcols != ecols:
            results[name] = f"SCHEMA_MISMATCH got={gcols} exp={ecols}"
            continue
        g = sorted([tuple(norm(v) for v in r) for r in gdf[gcols].itertuples(index=False)])
        e = sorted([tuple(norm(v) for v in r) for r in edf[ecols].itertuples(index=False)])
        if len(g) != len(e):
            results[name] = f"ROWCOUNT got={len(g)} exp={len(e)}"
        elif g != e:
            bad = next(i for i in range(len(g)) if g[i] != e[i])
            results[name] = f"VALUE_MISMATCH first at sorted row {bad}: got={g[bad]} exp={e[bad]}"
        else:
            results[name] = f"OK rows={len(g)}"
    for name in oracle:
        if name not in results:
            results[name] = "MISSING no output directory"
    width = max(len(k) for k in results)
    nok = 0
    for k, v in sorted(results.items()):
        print(f"{k:<{width}}  {v}")
        if v.startswith("OK") or v.startswith("ROWS_ONLY"):
            nok += 1
    print(f"== {nok}/{len(results)} ok")
    return 0 if nok == len(results) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
