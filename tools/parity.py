#!/usr/bin/env python3
"""Dev-only parity harness: mimics the driver's DuckDB-oracle compare.

Usage: after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
    python3 tools/parity.py <sfDir> <outDir> [jsonOut]

Every key of oracle_sql.json (in subset mode: every name in
_subset.json) counts toward the total; one with no result dir is
reported as MISSING. Exits non-zero unless every query passes.

The optional third argument writes the machine-readable per-query
record (PARITY_FULL_r{N}.json at seal): one entry per compared query
with its status and row count, plus the pass/total counts — the
builder-side correctness artifact that keeps a round auditable even
when the driver's CORRECTNESS file arrives empty (round 14).

Not part of the shipped library (the Scala engine never calls this);
it exists so oracle mismatches are caught before the driver runs.
"""
import sys, os, glob, json
import duckdb, pandas as pd, numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main(sfdir, outdir, json_out=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = 0
    record = {}

    def rec(name, status, rows=None):
        record[name] = {"status": status} if rows is None else {
            "status": status, "rows": int(rows)}
    # A subset Verify run marks WHICH queries it re-executed; result
    # dirs outside the marker are leftovers of older code — comparing
    # them against the fresh oracle dump would report pass/fail for
    # queries that never ran. Flag, don't compare.
    subset = None
    if os.path.exists(f"{outdir}/_subset.json"):
        subset = set(json.load(open(f"{outdir}/_subset.json")))
    names = sorted(d for d in os.listdir(outdir) if os.path.isdir(f"{outdir}/{d}"))
    stale = [n for n in names if subset is not None and n not in subset]
    if stale:
        print(f"[subset   ] comparing only {sorted(subset)}; "
              f"{len(stale)} stale result dir(s) skipped")
        names = [n for n in names if n not in stale]
    # Every expected query counts, also one whose Verify write left no
    # result dir: it fails as MISSING instead of dropping out of both
    # the pass count and the total.
    expected = subset if subset is not None else set(oracle)
    missing = sorted(expected - set(names))
    for name in missing:
        print(f"[MISSING  ] {name}: no result dir (query failed or never ran?)")
        rec(name, "missing")
    for name in names:
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"[FAIL-read] {name}: no parquet output (query failed?)")
            rec(name, "fail-read")
            continue
        got = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
        if name not in oracle:
            print(f"[rows-only] {name}: rows={len(got)} {'OK' if len(got) > 0 else 'EMPTY!'}")
            rec(name, "rows-only" if len(got) > 0 else "rows-only-empty", len(got))
            n_ok += 1 if len(got) > 0 else 0
            continue
        try:
            want = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"[FAIL-sql ] {name}: oracle error: {e}")
            rec(name, "fail-sql")
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"[FAIL-cols] {name}: spark={list(g.columns)} duck={list(w.columns)}")
            rec(name, "fail-cols")
            continue
        if len(g) != len(w):
            print(f"[FAIL-rows] {name}: spark={len(g)} duck={len(w)}")
            rec(name, "fail-rows")
            continue
        # Mirror the driver's hash: it is dtype-sensitive (int64 78 vs
        # float64 78.0 hash differently), so dtype mismatch = FAIL even
        # when coerced values would be equal.
        dbad = [
            (c, str(g[c].dtype), str(w[c].dtype))
            for c in g.columns
            if g[c].dtype.kind != w[c].dtype.kind
        ]
        if dbad:
            print(f"[FAIL-type] {name}: dtype mismatch {dbad}")
            rec(name, "fail-type")
            continue
        bad = []
        for c in g.columns:
            a, b = g[c], w[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                eq = np.isclose(a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True)
                exact = eq.all()
            else:
                exact = (a.astype(str) == b.astype(str)).all()
            if not exact:
                bad.append(c)
        if bad:
            print(f"[FAIL-vals] {name}: mismatched cols {bad}")
            for c in bad[:2]:
                m = ~(g[c].astype(str) == w[c].astype(str))
                print(g[m].head(3))
                print(w[m].head(3))
            rec(name, "fail-vals", len(g))
        else:
            print(f"[OK       ] {name}: rows={len(g)}")
            rec(name, "ok", len(g))
            n_ok += 1
    total = len(names) + len(missing)
    print(f"== {n_ok}/{total} pass")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sfdir, "total": total, "pass": n_ok,
                       "queries": record}, f, indent=1, sort_keys=True)
        print(f"== wrote {json_out}")
    return n_ok == total


if __name__ == "__main__":
    ok = main(sys.argv[1], sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)
    sys.exit(0 if ok else 1)
