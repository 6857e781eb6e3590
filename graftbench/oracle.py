"""Correctness checks, outside every timed region.

Query results are compared with expected values recorded once from the
DuckDB oracle (`SparkEntry.oracleSql` run on the benchmark's inputs)
in `expected.json`: a row count and an order-insensitive content hash
after the canonicalisation graft's parity tooling uses. Seeded lookups
are compared with the answer DuckDB gives on the flat tables.

    python3 graftbench/oracle.py      # re-record expected.json

Recording runs every oracle in DuckDB, which takes about a minute.
"""
import glob
import hashlib
import json
import os
import subprocess
import sys
import time

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# The haversine of graft's `areaspec_circle`, in the same operation
# order, so both engines compute the same double.
RAD = "0.017453292519943295"
DEG = "57.29577951308232"


def connect(data: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """graft's parity canonicalisation: columns sorted by name, strings
    and timestamps as text, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _text(kind: str, v) -> str:
    if kind == "f":
        return repr(float(v) + 0.0)  # exact, with -0.0 as 0.0
    if kind in "iu":
        return str(int(v))
    return str(v)


def summary(df: pd.DataFrame) -> dict:
    """Row count and order-insensitive content hash of a result. The
    hash covers the column names, each column's kind (an integer and a
    float column differ, as in graft's parity check) and every value,
    floats exactly."""
    df = canon(df)
    kinds = ["i" if df[c].dtype.kind == "u" else df[c].dtype.kind for c in df.columns]
    h = hashlib.sha256(repr(list(zip(df.columns, kinds))).encode())
    for row in df.itertuples(index=False):
        h.update("\x1f".join(_text(k, v) for k, v in zip(kinds, row)).encode() + b"\n")
    return {"rows": len(df), "hash": h.hexdigest()[:32]}


def check_queries(results: str, expected: dict, names) -> tuple:
    """Compare each named query's parquet result with its expected
    summary. Returns the failure messages."""
    bad = []
    for name in names:
        files = glob.glob(os.path.join(results, name, "*.parquet"))
        if not files:
            bad.append(f"{name}: no result written")
            continue
        if name not in expected:
            bad.append(f"{name}: no expected value recorded")
            continue
        got = summary(pd.concat([pd.read_parquet(p) for p in files], ignore_index=True))
        want = expected[name]
        if got["rows"] != want["rows"]:
            bad.append(f"{name}: rows {got['rows']} != {want['rows']}")
        elif got["hash"] != want["hash"]:
            bad.append(f"{name}: content hash {got['hash']} != {want['hash']}")
    return bad


LC_COLS = ("user_id, event_id, epoch_us(ts) AS tus, "
           "CAST(ROUND(value*100) AS BIGINT) AS xc, event_type")


def expected_lookup(con, lk: dict) -> list:
    kind = lk["kind"]
    if kind == "one":
        q = (f"SELECT {LC_COLS} FROM events WHERE user_id = {lk['id']} "
             "ORDER BY tus, event_id")
    elif kind == "many":
        ids = ", ".join(str(i) for i in lk["ids"])
        q = (f"SELECT {LC_COLS} FROM events WHERE user_id IN ({ids}) "
             "ORDER BY user_id, tus, event_id")
    else:
        ra, dec, r = lk["ra"], lk["dec"], lk["r"]
        q = f"""SELECT k FROM (
              SELECT c_custkey AS k, (c_custkey*137 % 36000)/100.0 AS ra,
                     (c_custkey*97 % 17000)/100.0 - 85.0 AS decl FROM customer)
            WHERE (2*ASIN(SQRT(
              SIN((decl - {dec})*{RAD}/2) * SIN((decl - {dec})*{RAD}/2)
              + COS(decl*{RAD}) * COS({dec}*{RAD})
                * SIN((ra - {ra})*{RAD}/2) * SIN((ra - {ra})*{RAD}/2)))*{DEG}) < {r}
            ORDER BY k"""
        return [[k] for (k,) in con.execute(q).fetchall()]
    return [list(t) for t in con.execute(q).fetchall()]


def check_lookups(con, lookups_file: str, plan_lookups: list) -> list:
    """Compare every recorded lookup reply with the flat-table answer."""
    bad = []
    if not os.path.exists(lookups_file):
        return bad
    with open(lookups_file) as fh:
        for line in fh:
            rec = json.loads(line)
            lk = plan_lookups[rec["i"]]
            got = rec["rows"]
            if lk["kind"] == "cone":
                got = sorted([r[0]] for r in got)
            if got != expected_lookup(con, lk):
                bad.append(f"lookup {rec['i']} ({lk['kind']}): "
                           f"{len(got)} rows differ from the flat-table answer")
    return bad


def record(root: str, jar: str, jars: str, queries: dict) -> dict:
    """{scale: {query: summary}} from the DuckDB oracle on every input
    scale under data/."""
    out = os.path.join(os.path.dirname(jar), "oracle_sql.json")
    names = sorted({q for qs in queries.values() for q in qs})
    subprocess.run(["java", "-XX:-UsePerfData", "-cp",
                    os.pathsep.join([jar, os.path.join(jars, "*")]),
                    "graftbench.OracleSql", out] + names, check=True, cwd=root)
    with open(out) as fh:
        sql = json.load(fh)
    expected = {}
    for scale in sorted(os.listdir(DATA)):
        con = connect(os.path.join(DATA, scale))
        expected[scale] = {}
        for q in names:
            t = time.monotonic()
            expected[scale][q] = summary(con.execute(sql[q]).df())
            print(f"{scale} {q}: {expected[scale][q]} ({time.monotonic() - t:.1f} s)",
                  file=sys.stderr)
    return expected


if __name__ == "__main__":
    import build
    import run
    root = os.getcwd()
    jar = build.ensure(root, os.path.join(root, ".bench_build", "graftbench"))
    exp = record(root, jar, build.spark_jars(),
                 {w: qs for w, qs in run.WORKLOADS.items() if w != "catalog_store"})
    with open(EXPECTED, "w") as fh:
        json.dump(exp, fh, indent=1, sort_keys=True)
        fh.write("\n")
