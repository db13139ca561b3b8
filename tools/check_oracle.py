#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
       python3 tools/check_oracle.py <sfDir> <verifyOutDir> --same-as <otherVerifyOutDir>

Reads each <out>/<name>/ parquet written by graft.Verify, runs the matching
oracle_sql.json query in DuckDB over the sfDir tables, sorts columns by name,
and compares row sets. This is a builder-side pre-flight, not the judge.

--same-as compares every query output of <verifyOutDir> with the one of the
same name in <otherVerifyOutDir> (e.g. a Verify run of the parent commit),
row for row after the same normalization, queries without oracle SQL
included. A change meant to keep behaviour must show every output the same.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize dtypes for compare
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64").round(6)
        if str(df[c].dtype) in ("int32", "int8", "int16", "uint32", "Int32"):
            df[c] = df[c].astype("int64")
    return df.reset_index(drop=True)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # spark-written table = directory of parts
            # recursive glob: a partitionBy layout nests part files under
            # key=value subdirectories, which a top-level glob would miss
            # (silently creating an empty view); assert non-empty so any
            # layout change fails loud instead
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/**/*.parquet')")
            n = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            assert n > 0, f"table view {t} over {p} is empty"
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
            want = norm(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
            n_fail += 1; continue
        # pre-normalization dtype check (driver compare may be stricter)
        raw_got = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        raw_want = con.execute(sql).fetchdf()
        for c in sorted(raw_got.columns):
            dg, dw = str(raw_got[c].dtype), str(raw_want[c].dtype)
            if dg != dw:
                print(f"  WARN {name}.{c}: spark dtype {dg} vs duckdb {dw}")
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); n_fail += 1; continue
        if not got.equals(want):
            neq = (got != want) & ~(got.isna() & want.isna())
            bad = neq.any(axis=1)
            print(f"FAIL {name}: value mismatch in {int(bad.sum())}/{len(got)} rows")
            print("  spark:", got[bad].head(3).to_dict("records"))
            print("  duck :", want[bad].head(3).to_dict("records"))
            n_fail += 1; continue
        print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

def outputs(out_dir):
    """Query name -> its parquet part files, for every query dir Verify wrote."""
    return {os.path.basename(os.path.dirname(f)): sorted(glob.glob(f"{os.path.dirname(f)}/*.parquet"))
            for f in glob.glob(f"{out_dir}/*/*.parquet")}

def cell(v):
    """A hashable, NaN-equal canonical form of one value (arrays → tuples)."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, cell(x)) for k, x in v.items()))
    if v is None or v is pd.NA or (isinstance(v, float) and v != v):
        return None
    return v

def rows(files):
    df = norm(pd.concat([pd.read_parquet(f) for f in files]))
    return list(df.columns), [tuple(cell(v) for v in r) for r in df.itertuples(index=False)]

def same_as(out_dir, other_dir):
    mine, theirs = outputs(out_dir), outputs(other_dir)
    n_same = n_diff = 0
    for name in sorted(set(mine) | set(theirs)):
        if name not in mine or name not in theirs:
            side = out_dir if name not in mine else other_dir
            print(f"DIFF {name}: no output in {side}"); n_diff += 1; continue
        (cg, got), (cw, want) = rows(mine[name]), rows(theirs[name])
        if cg != cw:
            print(f"DIFF {name}: columns {cg} vs {cw}"); n_diff += 1; continue
        if got != want:
            bad = [i for i, (a, b) in enumerate(zip(got, want)) if a != b]
            first = bad[0] if bad else min(len(got), len(want))
            print(f"DIFF {name}: rows {len(got)} vs {len(want)}, first difference at row {first}")
            print("  this :", got[first:first + 2])
            print("  other:", want[first:first + 2])
            n_diff += 1; continue
        print(f"SAME {name} ({len(got)} rows)"); n_same += 1
    print(f"== {n_same} same, {n_diff} differ ==")
    return 1 if n_diff else 0

if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[3] == "--same-as":
        sys.exit(same_as(sys.argv[2], sys.argv[4]))
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
