#!/usr/bin/env python3
"""Dev-only replica of the driver's t2 correctness gate (not part of the
engine): run each oracle SQL in DuckDB against the sf parquet tables, load the
Spark result parquet dumped by graft.Verify, sort columns by name and rows by
value, and diff.

The compare is dtype-STRICT (arrow schema, not just values): the driver's hash
is dtype-sensitive, so a DuckDB HUGEINT (bare integer sum()) vs Spark BIGINT
divergence must FAIL here even when every value compares equal — that exact
class cost q79/q80/q83 in round 5. A lint also flags any top-level uncast
integer sum() in the oracle SQL before running anything.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob, math, re
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def lint_uncast_sums(oracle):
    """Warn on bare sum( not wrapped in CAST( — DuckDB yields HUGEINT for
    integer sums, which hash-diverges from Spark's BIGINT."""
    warns = []
    for name, sql in sorted(oracle.items()):
        for m in re.finditer(r"(?<![_A-Za-z])sum\s*\(", sql, re.IGNORECASE):
            prefix = sql[max(0, m.start() - 8):m.start()].replace(" ", "").upper()
            if not prefix.endswith("CAST("):
                line = sql[:m.start()].count("\n") + 1
                warns.append(f"LINT {name}: uncast sum() at line {line} "
                             f"(context: ...{sql[m.start():m.start()+40]!r})")
    return warns

def norm_type(t):
    """Arrow type string with harmless spellings collapsed; HUGEINT
    (decimal128(38,0)) is deliberately NOT collapsed into int64."""
    s = str(t)
    s = s.replace("large_string", "string").replace("large_list", "list")
    s = re.sub(r"timestamp\[(us|ns|ms)(, tz=UTC)?\]", "timestamp", s)
    return s

def norm(tbl):
    cols = sorted(tbl.column_names)
    tbl = tbl.select(cols)
    types = [norm_type(f.type) for f in tbl.schema]
    df = tbl.to_pandas()
    def key(row):
        return tuple("" if v is None or (isinstance(v, float) and math.isnan(v))
                     else repr(v) for v in row)
    rows = sorted((tuple(r) for r in df.itertuples(index=False, name=None)), key=key)
    return cols, types, rows

def cmp_vals(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b

def main(sf_dir, out_dir):
    con = duckdb.connect()
    # views only for the tables present, so a one-table fixture directory is
    # checkable (a Spark-written table is a directory of part files); an
    # oracle that reads a missing table still FAILs below
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        elif not os.path.exists(path):
            continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    for w in lint_uncast_sums(oracle):
        print(w)
    n_pass = n_fail = 0
    for name in sorted(oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            spark_tbl = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").arrow()
            duck_tbl = con.sql(oracle[name]).arrow()
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:200]}"); n_fail += 1; continue
        sc, st, sr = norm(spark_tbl)
        dc, dt, dr = norm(duck_tbl)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc}"); n_fail += 1; continue
        if st != dt:
            diffs = [f"{c}: spark={a} duck={b}" for c, a, b in zip(sc, st, dt) if a != b]
            print(f"FAIL {name}: dtypes differ — " + "; ".join(diffs)); n_fail += 1; continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rows {len(sr)} vs {len(dr)}"); n_fail += 1; continue
        bad = None
        for i, (r1, r2) in enumerate(zip(sr, dr)):
            if not all(cmp_vals(a, b) for a, b in zip(r1, r2)):
                bad = (i, r1, r2); break
        if bad:
            print(f"FAIL {name}: row {bad[0]}\n  spark={bad[1]}\n  duck ={bad[2]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sr)} rows)"); n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
