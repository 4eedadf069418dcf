#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB correctness compare.

Usage: python3 scripts/local_verify.py <sfDir> <outDir> [q1,q2,...]
Run `sbt "runMain graft.Verify <sfDir> <outDir> [subset]"` first. Compares
each <outDir>/<name> parquet against the oracle SQL in
<outDir>/oracle_sql.json executed by DuckDB over the sfDir tables, the
driver way: sort columns by name, hash row values. Exits 1 when any oracle
fails.
"""
import sys, os, json, glob
import duckdb
import pyarrow.parquet as pq

def norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, bytes):
        return v.hex()
    return v

def table_rows(tbl):
    cols = sorted(tbl.column_names)
    if not cols:
        return cols, []
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, [tuple(norm(x) for x in row) for row in zip(*data)]

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(',')) if len(sys.argv) > 3 else None
    with open(os.path.join(out_dir, 'oracle_sql.json')) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, '*.parquet')):
        name = os.path.basename(p)[:-len('.parquet')]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')"
                    if os.path.isdir(p) else
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    results = {}
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        spath = os.path.join(out_dir, name)
        if not os.path.isdir(spath):
            results[name] = {'err': 'missing spark output'}
            continue
        try:
            spark_tbl = pq.read_table(spath)
            ora_tbl = con.execute(sql).arrow()
            sc, srows = table_rows(spark_tbl)
            oc, orows = table_rows(ora_tbl)
            res = {
                'rows_match': len(srows) == len(orows),
                'schema_match': sc == oc,
                'hash_match': srows == orows,
                'spark_rows': len(srows), 'oracle_rows': len(orows), 'err': None}
            if not res['hash_match'] and res['rows_match'] and res['schema_match']:
                diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
                res['first_diffs'] = [[list(map(str, a)), list(map(str, b))] for a, b in diffs]
            if sc != oc:
                res['spark_cols'], res['oracle_cols'] = sc, oc
        except Exception as e:
            res = {'err': str(e)[:500]}
        results[name] = res
        ok = res.get('hash_match') and res.get('schema_match') and res.get('rows_match')
        print(('PASS ' if ok else 'FAIL ') + name + ('' if ok else ' ' + json.dumps(res)[:600]))
    bad = [k for k, v in results.items() if not (v.get('hash_match') and v.get('schema_match'))]
    print(f"== {len(results)-len(bad)}/{len(results)} green" + (f"; failing: {bad}" if bad else ""))
    return 1 if bad else 0

if __name__ == '__main__':
    sys.exit(main())
