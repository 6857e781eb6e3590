#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 graftbench/run.py --workload pair_stream --seed 7 --seconds 10 --trace 0

Run from the root of a graft checkout. The script builds graft and the
harness from source (`build.py`), runs the workload on the fixed inputs
in `data/` in one JVM at local[nproc] from a single closed-loop client
thread (`scala/graftbench/Main.scala`), checks every result
(`oracle.py`) and prints the metrics as the last line of stdout. The
seed fixes the order of the queries in each pass and the lookups. See
README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = {
    # pair-generating and iterative: shuffle volume, pins, the CC loop
    # and the motion linker
    "pair_stream": ["q_nearest_nbr", "q_dedup_clusters", "q_track_motion"],
    # the ingest phase of catalog_store: the director index maintained
    # by a streaming query over the nightly event files
    "catalog_store": ["director_index"],
}
# graft's seeded test tables (1 500 objects, 10 000 sources over 150
# light-curve objects, 60 000 line items), and those of the smoke mode
SCALE = "sf0.01"
SMOKE_SCALE = "sf0.001"
SETUPS = 3            # session set-ups per run; setup_s is their median
# unmeasured passes after the checked pass 0: the control-plane loops
# of pair_stream (many small jobs inside `SparkEntry.queries`) are still
# getting faster over the first three passes
WARMUP_PASSES = 2
MIN_PASSES = 5        # least measured passes of pair_stream
INGEST_ROUNDS = 3     # cold ingests of catalog_store; pass_s is their median
MAX_PASSES = 40
LOOKUP_WARMUP = 5     # unmeasured lookups before the measured ones
LOOKUPS = 100         # least measured lookups of catalog_store
MAX_LOOKUPS = 1000
INDEX_BUCKETS = 16    # director-index buckets, ~10 objects each
# every block of four lookups holds these kinds, in seeded order
LOOKUP_BLOCK = ("one", "one", "many", "cone")
MANY_K = 8
DEADLINE_S = 170      # the whole run, build and class-data archive excluded
ARCHIVE_DEADLINE_S = 600
JVM_HEAP = "2g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def make_lookup(rng, kind, users):
    if kind == "one":
        return {"kind": kind, "id": int(rng.integers(0, users))}
    if kind == "many":
        ids = rng.choice(users, MANY_K, replace=False)
        return {"kind": kind, "ids": sorted(int(i) for i in ids)}
    return {"kind": kind, "ra": round(float(rng.uniform(0, 360)), 4),
            "dec": round(float(rng.uniform(-80, 80)), 4),
            "r": round(float(rng.uniform(1, 5)), 3)}


def make_plan(args, work, data, counts, rng):
    """Everything the seed decides: the order of the operations in each
    pass and the lookups."""
    ops = WORKLOADS[args.workload]
    catalog = args.workload == "catalog_store"
    n = 0 if catalog else 1 + WARMUP_PASSES + MAX_PASSES
    plan = {
        "workload": args.workload, "seconds": args.seconds,
        "trace": args.trace == 1, "cpus": os.cpu_count() or 1,
        "setups": 1 if args.smoke else SETUPS,
        "warmup_passes": 0 if args.smoke else WARMUP_PASSES,
        "min_passes": 4 if args.trace else 1 if args.smoke else MIN_PASSES,
        "work": work, "data": data,
        "events": counts["events"], "index_buckets": INDEX_BUCKETS,
        "orders": [[ops[i] for i in rng.permutation(len(ops))] for _ in range(n)],
    }
    if catalog:
        plan["nights"] = os.path.join(work, "nights")
        plan["ingest_rounds"] = 1 if args.smoke else INGEST_ROUNDS
        plan["lookup_warmup"] = 2 if args.smoke else LOOKUP_WARMUP
        plan["min_lookups"] = 10 if args.smoke else LOOKUPS
        kinds = [k for _ in range(MAX_LOOKUPS // len(LOOKUP_BLOCK))
                 for k in rng.permutation(LOOKUP_BLOCK)]
        plan["lookups"] = [make_lookup(rng, str(k), counts["users"]) for k in kinds]
    return plan


def write_nights(data, out, nights=2):
    """Split `events` by time into `nights` arrival files, with `ts` as
    epoch nanoseconds (graft's `events.ts` contract), for the streaming
    ingest. Returns the event count and the number of light-curve
    objects (user ids run from 0)."""
    os.makedirs(out)
    ev = pq.read_table(os.path.join(data, "events.parquet"))
    ns = ev.column("ts").cast(pa.timestamp("us")).cast(pa.int64()).to_numpy() * 1000
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts", pa.array(ns))
    day = ns // 1_000_000_000 // 86_400
    edges = np.linspace(day.min(), day.max() + 1, nights + 1)
    for i in range(nights):
        mask = (day >= edges[i]) & (day < edges[i + 1])
        pq.write_table(ev.filter(pa.array(mask)), os.path.join(out, f"night-{i}.parquet"))
    return {"events": ev.num_rows,
            "users": int(ev.column("user_id").to_numpy().max()) + 1}


def run_jvm(jar, work, plan_file, out_file, deadline, cds):
    jars = build.spark_jars()
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           # a fixed heap: no resizing during the run, which made
           # passes vary; no hsperfdata file outside the checkout
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", cds, "-XX:-UsePerfData",
            "-Duser.language=en", "-Duser.country=US",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", os.pathsep.join([jar, os.path.join(jars, "*")]),
            "graftbench.Main", plan_file, out_file])
    os.makedirs(os.path.join(work, "tmp"))
    # graft reads SPARK_GRAFT_* and Spark reads SPARK_LOCAL_DIRS: drop
    # them so every store and scratch file lands in this run's work dir
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=logf)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out_file):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"harness JVM failed ({code}):\n{tail}")
    with open(out_file) as fh:
        return json.load(fh)


def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q))


def geomean(xs):
    return math.exp(statistics.fmean(math.log(max(x, 1e-9)) for x in xs))


def op_s(o):
    return o["build_s"] + o["exec_s"]


def pass_s(p):
    return sum(op_s(o) for o in p["ops"])


def lookups_of(passes, traced):
    return [lk for p in passes for lk in p.get("lookups", [])
            if lk["measured"] and lk["traced"] == traced]


def end_to_end(res, catalog):
    measured = [p for p in res["passes"] if p["measured"] and not p["traced"]]
    heap = statistics.median(
        max([o["heap_mb"] for o in p["ops"]] + [p.get("heap_mb", 0.0)]) for p in measured)
    m = {"setup_s": (statistics.median(res["setup_s"]), "s"),
         "pass_s": (statistics.median(pass_s(p) for p in measured), "s")}
    if catalog:
        lat = [1000 * op_s(lk) for lk in lookups_of(res["passes"], False)]
        m["op_geomean_ms"] = (geomean(lat), "ms")
        m["op_p50_ms"] = (pct(lat, 50), "ms")
        log(f"lookup latency over {len(lat)} measured lookups: p50 {pct(lat, 50):.1f} ms, "
            f"p90 {pct(lat, 90):.1f} ms")
    else:
        # each query's median over the measured passes, so one slow
        # pass moves no metric
        by_op = {}
        for p in measured:
            for o in p["ops"]:
                by_op.setdefault(o["name"], []).append(op_s(o))
        med_op = [statistics.median(t) for t in by_op.values()]
        m["pass_s"] = (sum(med_op), "s")
        ms = [1000 * t for t in med_op]
        m["op_geomean_ms"] = (geomean(ms), "ms")
        m["op_p50_ms"] = (pct(ms, 50), "ms")
    m["live_heap_peak_mb"] = (heap, "MB")
    return m


def per_layer(res, catalog, cpus, input_bytes):
    """Per-layer counters of the traced samples, as medians over traced
    passes. On catalog_store the traced pass is one ingest round and
    half the lookups: `queries.*` and `exec.*` describe the lookups
    (the read path), the other counters the ingest and lookups
    together. The `trace.*` ratios compare traced with untraced
    samples of the same run."""
    passes = [p for p in res["passes"] if p["measured"]]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    lk_traced = lookups_of(passes, True)
    lk_layers = next((p["lookup_layers"] for p in passes if p.get("lookup_layers")), None)

    def med(f):
        return statistics.median(f(p) for p in traced)

    def layers(p, layer):
        return lk_layers[layer] if catalog else p["layers"][layer]

    def total(p, key):
        return p["layers"]["all"][key] + (lk_layers["all"][key] if catalog else 0)

    def calls(p):
        return lk_traced if catalog else p["ops"]

    def exec_s(p):
        return sum(o["exec_s"] for o in calls(p))

    def rows_out(p):
        # rows the calls returned: collected by the lookups, written to
        # the noop sink by the queries
        if catalog:
            return sum(max(lk["rows"], 0) for lk in lk_traced)
        return sum(o["rows"] for o in p["ops"])

    def samples_p50(ps):
        return statistics.median(pct([op_s(o) for o in p["ops"]], 50) for p in ps)

    if catalog:
        p50_ratio = (pct([op_s(lk) for lk in lk_traced], 50)
                     / pct([op_s(lk) for lk in lookups_of(passes, False)], 50))
    else:
        p50_ratio = samples_p50(traced) / samples_p50(plain)
    return {
        "queries.build_s": (med(lambda p: sum(o["build_s"] for o in calls(p))), "s"),
        "queries.build_jobs": (med(lambda p: layers(p, "build")["jobs"]), "count"),
        "exec.run_s": (med(exec_s), "s"),
        "exec.jobs": (med(lambda p: layers(p, "exec")["jobs"]), "count"),
        "exec.stages": (med(lambda p: layers(p, "exec")["stages"]), "count"),
        "exec.tasks": (med(lambda p: layers(p, "exec")["tasks"]), "count"),
        "exec.cpu_s": (med(lambda p: layers(p, "exec")["cpu_ns"] / 1e9), "s"),
        "exec.core_util": (med(lambda p: layers(p, "exec")["run_ms"] / 1000.0
                               / max(exec_s(p) * cpus, 1e-9)), "ratio"),
        "exec.task_skew": (med(lambda p: layers(p, "exec")["task_skew"]), "ratio"),
        "shuffle.write_bytes": (med(lambda p: total(p, "shuffle_write_bytes")), "bytes"),
        "shuffle.read_bytes": (med(lambda p: total(p, "shuffle_read_bytes")), "bytes"),
        "shuffle.records": (med(lambda p: total(p, "shuffle_records")), "count"),
        "shuffle.fetch_wait_s": (med(lambda p: total(p, "fetch_wait_ms") / 1000.0), "s"),
        "pins.count": (med(lambda p: sum(o["pins"] for o in p["ops"])), "count"),
        "pins.peak_bytes": (med(lambda p: max(o["pin_bytes"] for o in p["ops"])), "bytes"),
        "spill.memory_bytes": (med(lambda p: total(p, "spill_memory_bytes")), "bytes"),
        "spill.disk_bytes": (med(lambda p: total(p, "spill_disk_bytes")), "bytes"),
        "jvm.gc_s": (med(lambda p: sum(o["gc_ms"] for o in p["ops"]) / 1000.0), "s"),
        "jvm.gc_count": (med(lambda p: sum(o["gc_count"] for o in p["ops"])), "count"),
        "sources.rows_read": (med(lambda p: total(p, "rows_read")), "count"),
        "sources.bytes_read": (med(lambda p: total(p, "bytes_read")), "bytes"),
        "sources.rows_read_per_row_out": (
            med(lambda p: layers(p, "all")["rows_read"] / max(rows_out(p), 1)), "ratio"),
        "sources.bytes_written": (med(lambda p: total(p, "bytes_written")), "bytes"),
        "sources.files_written": (med(lambda p: p.get("store_files", 0)), "count"),
        "sources.store_bytes_per_input_byte": (
            med(lambda p: p.get("store_bytes", 0) / input_bytes), "ratio"),
        "streaming.batches": (med(lambda p: p["layers"]["streaming_batches"]), "count"),
        "streaming.batch_s": (med(lambda p: p["layers"]["streaming_batch_ms"] / 1000.0), "s"),
        "host.calib_s": (statistics.fmean(res["calib_s"]), "s"),
        "trace.pass_s_ratio": (med(pass_s) / statistics.median(pass_s(p) for p in plain),
                               "ratio"),
        "trace.op_p50_ratio": (p50_ratio, "ratio"),
    }


def prepare(args, work, build_dir):
    """Inputs and plan of one run in `work`: returns the plan file, the
    plan, the input directory and its scale."""
    os.makedirs(work, exist_ok=True)
    scale = SMOKE_SCALE if args.smoke else SCALE
    data = os.path.join(HERE, "data", scale)
    counts = (write_nights(data, os.path.join(work, "nights"))
              if args.workload == "catalog_store" else {"events": 0, "users": 0})
    plan = make_plan(args, work, data, counts, np.random.default_rng([args.seed, 7]))
    if args.trace:
        os.makedirs(os.path.join(build_dir, "trace"), exist_ok=True)
        plan["spans_out"] = os.path.join(
            build_dir, "trace", f"{args.workload}-seed{args.seed}.json")
    plan_file = os.path.join(work, "plan.json")
    with open(plan_file, "w") as fh:
        json.dump(plan, fh)
    return plan_file, plan, data, scale


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf 0.001), one set-up and one measured pass")
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    args = ap.parse_args()
    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                             "graftbench")
    try:
        jar = build.ensure(root, build_dir)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jsa = build.jsa_path(build_dir)
    try:
        if not os.path.exists(jsa):
            # once per build, an unmeasured smoke run of catalog_store
            # writes the class-data archive every measured JVM starts from
            warm = argparse.Namespace(workload="catalog_store", seed=args.seed, seconds=0,
                                      trace=0, smoke=True)
            plan_file, _, _, _ = prepare(warm, os.path.join(work, "archive"), build_dir)
            try:
                run_jvm(jar, os.path.dirname(plan_file), plan_file,
                        os.path.join(os.path.dirname(plan_file), "out.json"),
                        time.monotonic() + ARCHIVE_DEADLINE_S,
                        f"-XX:ArchiveClassesAtExit={jsa}")
            except RuntimeError as e:
                log(str(e))
                return 3
        deadline = time.monotonic() + DEADLINE_S
        catalog = args.workload == "catalog_store"
        plan_file, plan, data, scale = prepare(args, work, build_dir)
        try:
            res = run_jvm(jar, work, plan_file, os.path.join(work, "out.json"), deadline,
                          f"-XX:SharedArchiveFile={jsa}")
        except RuntimeError as e:
            log(str(e))
            return 3
        # correctness, outside every timed region; the director index
        # is checked by its row count (in the JVM) and by every lookup
        bad = []
        if catalog:
            bad = oracle.check_lookups(oracle.connect(data),
                                       os.path.join(work, "lookups.jsonl"), plan["lookups"])
        else:
            with open(oracle.EXPECTED) as fh:
                expected = json.load(fh)[scale]
            ran_ok = {o["name"] for o in res["passes"][0]["ops"] if o["ok"]}
            bad = oracle.check_queries(
                os.path.join(work, "results"), expected,
                [q for q in WORKLOADS[args.workload] if q in ran_ok])
        for msg in bad:
            log(f"WRONG {msg}")
        failed = len(res["failures"]) + len(bad)
        attempted = res["attempted"]
        if args.trace:
            inputs = os.path.getsize(os.path.join(data, "events.parquet"))
            metrics = per_layer(res, catalog, plan["cpus"], inputs)
        else:
            metrics = end_to_end(res, catalog)
        log(f"{args.workload} seed={args.seed}: workload {res['workload_s']:.1f} s, "
            f"ops_failed_frac={failed / max(attempted, 1):.4f}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        return 0
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    code = main()
    # skip interpreter teardown: the C++ thread pools of pyarrow and
    # DuckDB can abort the process while it exits
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
