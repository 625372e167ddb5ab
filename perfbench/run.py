#!/usr/bin/env python3
"""Benchmark of the graft operator registry: one closed-loop client, three
workloads, each query timed end to end and split into layers.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload graph_pairs --seed 1 --seconds 10 --trace 0

The first run builds the program together with the benchmark's Scala
sources (sbt, into .bench_build/) and later runs reuse the build while the
sources are unchanged. Each run starts a fresh JVM (`local[nproc]`), sets
up three times, runs a cold pass and warm passes over the workload's keys
in an order drawn from --seed, fingerprints every key's result against the
pins in perfbench/pins.json, and prints one JSON object as its last line.
With --trace 1 it adds two passes with the Spark listener ledger attached
and reports the per-layer metrics instead; the spans go to
.bench_build/perfbench/<run>/trace.jsonl. See perfbench/README.md.
"""
import argparse
import collections
import datetime
import decimal
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.01"
PINS = HERE / "pins.json"

# Keys, the offline indexes they serve from, and the nominal length of one
# warm pass on a 4-core box. A run makes ceil(--seconds / pass_s) warm
# passes, so every seed does the same work. README.md says why the key
# lists are what they are.
WORKLOADS = {
    "graph_analytics": {
        "keys": ["graph_katz", "graph_sssp", "graph_jaccard_nodes", "graph_triangles"],
        "indexes": [],
        "pass_s": 8.0,
    },
    "oltp_mix": {
        "keys": ["graph_neighbors_1hop", "stream_edge_upsert", "sink_merge_upsert",
                 "llm_dedup_minhash_idx", "sql_q3", "join_asof_exec",
                 "join_theta_rule", "fn_math"],
        "indexes": ["minhash_sig"],
        "pass_s": 5.5,
    },
}
SETUP_ROUNDS = 3
TRACED_PASSES = 2
RUN_LIMIT_S = 170
JVM_HEAP = "-Xmx2g"
# The module opens spark-submit passes to a JDK 17 JVM.
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---------------------------------------------------------------- build

def source_stamp(root):
    h = hashlib.sha256()
    files = [root / "build.sbt", root / "project" / "build.properties"]
    for d in (root / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root, work):
    """Compile the program plus perfbench/src; returns the runtime classpath."""
    stamp = source_stamp(root)
    stamp_file = work / "build.json"
    if stamp_file.exists():
        done = json.loads(stamp_file.read_text())
        if done.get("stamp") == stamp:
            return done["classpath"]
    target = root / ".bench_build" / "target"
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = [env.get("SBT_OPTS", ""), "-Xmx2g", "-Dsbt.offline=true",
            f"-Dsbt.global.base={root / '.bench_build' / 'sbt-global'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           'set Compile / unmanagedSourceDirectories += baseDirectory.value / "perfbench" / "src"',
           'set target := baseDirectory.value / ".bench_build" / "target"',
           "compile", "export Runtime/fullClasspath"]
    log = work / "build.log"
    with open(log, "w") as f:
        rc = subprocess.run(cmd, cwd=root, env=env, stdout=f, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=700).returncode
    lines = log.read_text().splitlines()
    cp = [l for l in lines if l.startswith(str(target))]
    if rc != 0 or not cp:
        die(f"build failed (exit {rc}), see {log}")
    stamp_file.write_text(json.dumps({"stamp": stamp, "classpath": cp[-1]}))
    return cp[-1]


# ---------------------------------------------------------- fingerprint

def norm_cell(v):
    """One cell as text, normalized the way tools/check_oracle.py compares
    cells: numbers compare by value across int/float/decimal, NaN equals
    NaN, timestamps compare as UTC wall time."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        v = int(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f.is_integer() and abs(f) < 2 ** 53:
            return str(int(f))
        return repr(f)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{norm_cell(k)}:{norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def fingerprint(table):
    """Row count, column names and an order-independent row hash (the sum of
    per-row digests mod 2^64) of a pyarrow table."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    total = 0
    for row in zip(*data):
        d = hashlib.sha256("\x1e".join(norm_cell(v) for v in row).encode()).digest()
        total = (total + int.from_bytes(d[:8], "little")) % (1 << 64)
    return {"rows": table.num_rows, "cols": cols, "hash": f"{total:016x}"}


# ------------------------------------------------------------------ run

def run_jvm(root, cp, run_dir, keys_per_pass, indexes, traced, deadline):
    """Set up and run the passes in one JVM; returns (result, launch time, cpus)."""
    data_dirs = []
    for i in range(SETUP_ROUNDS):
        d = run_dir / f"data{i}"
        shutil.copytree(DATA, d)
        data_dirs.append(str(d))
    orders = run_dir / "orders.txt"
    orders.write_text("\n".join(",".join(p) for p in keys_per_pass) + "\n")
    tmp = run_dir / "tmp"
    tmp.mkdir()
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", JVM_HEAP, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-cp", cp, "graft.perfbench.PerfBench",
            "--out", str(run_dir), "--data", ",".join(data_dirs),
            "--orders", str(orders), "--cpus", str(cpus),
            "--traced", ",".join(map(str, traced)),
            "--indexes", ",".join(indexes)]
    launch = time.time()
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {RUN_LIMIT_S} s, see {run_dir / 'jvm.log'}")
    if rc != 0 or not (run_dir / "result.json").exists():
        die(f"JVM exited {rc}, see {run_dir / 'jvm.log'}")
    return json.loads((run_dir / "result.json").read_text()), launch, cpus


def tail(values):
    """The highest percentile with a sample beyond it: the second-largest
    latency, so one outlier does not set it. Returns (value, percentile)."""
    s = sorted(values)
    return s[-2], 100 * (len(s) - 1) / len(s)


def layer_metrics(res, p, cpus, result_rows):
    """Per-layer metrics of traced pass `p`, and its deterministic counters."""
    phase = collections.defaultdict(collections.Counter)
    for c in res["phase_counters"]:
        if c["pass"] == p:
            phase[c["phase"]].update({k: v for k, v in c.items() if k not in ("pass", "key", "phase")})
    plan = collections.Counter()
    for q in res["plans"]:
        if q["pass"] == p:
            plan.update({k: v for k, v in q.items() if k not in ("pass", "key")})
    qs = [q for q in res["queries"] if q["pass"] == p]
    b, e = phase["ops.build"], phase["exec.run"]
    every = sum(phase.values(), collections.Counter())
    mb = 1e6
    build_s = sum(q["build_s"] for q in qs)
    exec_s = sum(q["exec_s"] for q in qs)
    m = {
        "ops.build_s": build_s,
        "ops.build_jobs": b["jobs"],
        "ops.build_stages": b["stages"],
        "ops.build_tasks": b["tasks"],
        "ops.build_task_s": b["task_ms"] / 1000,
        "ops.build_busy_frac": b["task_ms"] / 1000 / (build_s * cpus),
        "ops.build_shuffle_write_mb": b["shuffle_write_bytes"] / mb,
        "ops.build_result_mb": b["result_bytes"] / mb,
        "ops.build_stored_mb": b["stored_bytes"] / mb,
        "catalyst.plan_s": sum(q["plan_s"] for q in qs),
        "catalyst.exchanges": plan["exchanges"],
        "catalyst.bhj_joins": plan["bhj_joins"],
        "catalyst.smj_joins": plan["smj_joins"],
        "catalyst.nl_joins": plan["nl_joins"],
        "exec.s": exec_s,
        "exec.jobs": e["jobs"],
        "exec.stages": e["stages"],
        "exec.tasks": e["tasks"],
        "exec.task_s": e["task_ms"] / 1000,
        "exec.busy_frac": e["task_ms"] / 1000 / (exec_s * cpus),
        "exec.shuffle_write_mb": e["shuffle_write_bytes"] / mb,
        "exec.shuffle_read_mb": e["shuffle_read_bytes"] / mb,
        "exec.spill_mb": e["spill_bytes"] / mb,
        "exec.join_out_rows": plan["join_out_rows"],
        "exec.output_rows": result_rows,
        "exec.rows_examined_per_result": plan["join_out_rows"] / max(1, result_rows),
        "tables.scan_mb": plan["scan_bytes"] / mb,
        "tables.scan_rows": plan["scan_rows"],
    }
    det = {
        "ops.build_jobs": b["jobs"],
        "exec.jobs": e["jobs"],
        "shuffle_write_records": every["shuffle_write_records"],
        "shuffle_write_bytes": every["shuffle_write_bytes"],
        "shuffle_read_bytes": every["shuffle_read_bytes"],
        "exec.join_out_rows": plan["join_out_rows"],
    }
    return m, det


def same_count(name, a, b):
    """Counts must repeat exactly, except shuffle bytes: the same shuffle
    records compress to a few hundred bytes more or less from pass to pass
    (fn_math, graph_sssp, join_asof_exec, ...), so bytes may differ by 1%."""
    if name.endswith("_bytes"):
        return abs(a - b) <= 1e-2 * max(a, b)
    return a == b


UNITS = {"_s": "s", "_mb": "MB", "_frac": "fraction", "_per_result": "ratio"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "s" if name == "exec.s" else "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala").is_dir():
        die(f"{root} holds no graft sources (build.sbt, src/main/scala); "
            "run from the root of a checkout")
    if not DATA.is_dir() or not PINS.is_file():
        die(f"missing {DATA} or {PINS}")
    work = root / ".bench_build" / "perfbench"
    work.mkdir(parents=True, exist_ok=True)
    cp = build(root, work)
    deadline = time.time() + RUN_LIMIT_S

    wl = WORKLOADS[args.workload]
    keys = wl["keys"]
    # The seed only permutes the per-pass key order; the program sees the
    # ordered key list and nothing else.
    rng = random.Random(f"{args.workload}/{args.seed}")
    warm = max(1, math.ceil(args.seconds / wl["pass_s"]))
    # Pass 0 is the cold pass. A traced run interleaves its traced passes
    # with the untraced ones, so JIT warming does not favour either side of
    # trace.overhead_frac.
    kinds = ["cold"] + ["warm"] * warm
    if args.trace:
        for i in range(TRACED_PASSES):
            kinds.insert(2 + 2 * i, "traced")
    orders = [rng.sample(keys, len(keys)) for _ in kinds]
    warm_passes = [p for p, k in enumerate(kinds) if k == "warm"]
    traced = [p for p, k in enumerate(kinds) if k == "traced"]

    run_dir = work / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    res, launch, cpus = run_jvm(root, cp, run_dir, orders, wl["indexes"],
                                traced, deadline)

    # ---- correctness: one fingerprint per key, from the cold pass
    pins = json.loads(PINS.read_text())
    queries = res["queries"]
    threw = [q for q in queries if q["error"]]
    mismatched = []
    for k in keys:
        d = run_dir / "dump" / k
        got = fingerprint(pq.read_table(str(d))) if d.is_dir() else None
        if got != {x: pins[k][x] for x in ("rows", "cols", "hash")}:
            mismatched.append(k)
            print(f"perfbench: {k} result fingerprint {got} != pin {pins[k]}", file=sys.stderr)
    for sub in ["dump", "tmp", "warehouse"] + [f"data{i}" for i in range(SETUP_ROUNDS)]:
        shutil.rmtree(run_dir / sub, ignore_errors=True)
    attempted = len(queries)
    failed = len(threw) + len(mismatched)

    # ---- end-to-end metrics (untraced passes)
    rounds = res["setup_rounds"]
    totals = [sum(r.values()) for r in rounds]
    mid = sorted(range(len(rounds)), key=lambda i: totals[i])[len(rounds) // 2]
    setup_s = (res["main_ms"] / 1000 - launch) + res["session_s"] + totals[mid]
    lat = lambda q: q["build_s"] + q["plan_s"] + q["exec_s"]
    cold = [lat(q) for q in queries if q["pass"] == 0]
    warm_lat = [lat(q) for q in queries if q["pass"] in warm_passes]
    t_val, t_pct = tail(warm_lat)
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": sum(cold),
        "queries_per_min": 60 * len(warm_lat) / sum(warm_lat),
        "query_p50_s": statistics.median(warm_lat),
        "query_tail_s": t_val,
    }
    units = {"setup_s": "s", "cold_pass_s": "s", "queries_per_min": "1/min",
             "query_p50_s": "s", "query_tail_s": "s"}

    print(json.dumps({"workload": args.workload, "seed": args.seed, "cpus": cpus,
                      "pass_orders": orders}))
    for k, v in e2e.items():
        print(f"{k} = {v:.4f} {units[k]}" + (
            f"  (p{t_pct:.1f} of {len(warm_lat)} warm queries, 1 beyond it)"
            if k == "query_tail_s" else ""))
    print(f"failed_frac = {failed / attempted:.4f}  ({failed} of {attempted}: "
          f"{len(threw)} threw, {len(mismatched)} fingerprint mismatches)")

    correct = failed == 0
    if args.trace:
        result_rows = sum(pins[k]["rows"] for k in keys)
        views = [layer_metrics(res, p, cpus, result_rows) for p in traced]
        metrics = {k: statistics.fmean(v[0][k] for v in views) for k in views[0][0]}
        walls = {p["pass"]: p["wall_s"] for p in res["passes"]}
        metrics.update({
            "jvm.gc_s": statistics.fmean(j["gc_s"] for j in res["jvm"]),
            "jvm.heap_peak_mb": max(j["heap_peak_mb"] for j in res["jvm"]),
            "setup.session_s": res["session_s"],
            "setup.index_build_s": sum(v for k, v in rounds[mid].items() if k != "warmup_s"),
            # against the untraced passes between and after the traced ones:
            # the first warm pass still pays JIT
            "trace.overhead_frac": statistics.fmean(walls[p] for p in traced)
            / statistics.fmean(walls[p] for p in warm_passes[1:] or warm_passes) - 1,
        })
        # The deterministic counters must repeat across passes and across
        # runs of the same build; if they drift, the ledger mis-attributes
        # work or the program is nondeterministic.
        counters = views[0][1]
        drift = [k for _, det in views for k in det if not same_count(k, det[k], counters[k])]
        ref_file = work / f"counters-{args.workload}.json"
        stamp = json.loads((work / "build.json").read_text())["stamp"]
        if ref_file.exists():
            ref = json.loads(ref_file.read_text())
            if ref["stamp"] == stamp:
                drift += [k for k in counters
                          if not same_count(k, ref["counters"].get(k, -1), counters[k])]
        ref_file.write_text(json.dumps({"stamp": stamp, "counters": counters}))
        if drift:
            die(f"deterministic counters drifted: {sorted(set(drift))}; "
                f"per traced pass: {[det for _, det in views]}")
        for k in sorted(metrics):
            print(f"{k} = {metrics[k]:.6g} {unit_of(k)}")
        print(f"trace spans: {run_dir / 'trace.jsonl'}")
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
