#!/usr/bin/env python3
"""Product-level benchmark of the graft warehouse engine.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--sf 0.1]

Builds the engine from source (`build.py`), generates the workload's inputs
from the seed (`gen.py`), runs the workload in a fresh JVM, checks every
timed operation's output (`oracle.py`) and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With `--trace 0` the metrics are the end-to-end ones. With `--trace 1` they
are the per-layer ones and the tracing overhead. The line before it records
the environment. `perfbench/README.md` describes workloads and metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402

# workload -> (tables it reads, default scale factor, kind of its batch-phase ops,
#              kind of its window ops)
WORKLOADS = {
    "etl_dashboards": (["nation", "customer", "supplier", "part", "orders", "lineitem"],
                       0.1, "etl", "query"),
    "ingest_operators": (["events", "region", "nation", "customer", "supplier", "part", "orders",
                          "lineitem", "documents", "embeddings"], 0.01, "query", "batch"),
}
# operator-family queries of the ingest_operators batch phase (IngestOperators.mix)
MIX = ["q59_dedup_clusters", "q322_filtered_ann", "q252_bpe_encode", "q271_recursive_closure",
       "q238_sketch_order_exec", "q79_train_test_split"]
STREAM_CHUNKS = 64
JVM_TIMEOUT_S = 170


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, help="scale factor (default: the workload's)")
    # self-test hook: alter one checked result before the oracle sees it
    p.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def write_chunks(events_dir, out_dir, seed, n_chunks):
    """Split the events into `n_chunks` files landed with increasing
    modification times, so file-source batch b reads chunk b. The seed sets
    how many event_type partitions each chunk touches (every run of as many
    chunks as there are types covers each count once, in seeded order),
    which ones, and which of those chunks each row goes to."""
    import numpy as np
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed + 7919)
    t = pq.read_table(events_dir)
    types = sorted(set(t.column("event_type").to_pylist()))
    sizes = np.concatenate([rng.permutation(len(types)) + 1
                            for _ in range(n_chunks // len(types) + 1)])[:n_chunks]
    touched = [set(rng.choice(types, size=int(k), replace=False)) for k in sizes]
    for ty in types:
        if not any(ty in s for s in touched):
            touched[int(rng.integers(0, n_chunks))].add(ty)
    et = t.column("event_type").to_numpy(zero_copy_only=False)
    chunk = np.empty(t.num_rows, dtype=np.int64)
    for ty in types:
        owners = np.array([i for i in range(n_chunks) if ty in touched[i]])
        idx = np.nonzero(et == ty)[0]
        chunk[idx] = owners[rng.integers(0, len(owners), len(idx))]
    os.makedirs(out_dir)
    base = time.time() - 10 * n_chunks
    for i in range(n_chunks):
        path = os.path.join(out_dir, f"chunk-{i:05d}.parquet")
        pq.write_table(t.filter(chunk == i), path)
        os.utime(path, (base + 10 * i, base + 10 * i))


def make_inputs(work, workload, sf, seed):
    """Generate the workload's inputs; returns their row counts. (The data
    libraries load here, once the engine's JVM is starting.)"""
    import gen
    counts = gen.write_inputs(os.path.join(work, "data"), sf, seed, WORKLOADS[workload][0])
    if workload == "ingest_operators":
        write_chunks(os.path.join(work, "data", "events.parquet"),
                     os.path.join(work, "data", "events_chunks"), seed, STREAM_CHUNKS)
    return counts


def start_jvm(classes, work, args):
    """Start the engine's JVM; it waits for `data.ready` before reading
    inputs, so the session starts while the inputs are written."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jars = build.spark_jars()
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", os.path.join(work, "data"),
            "--work", os.path.join(work, "jvm"), "--out", os.path.join(work, "result.json")]
    # pin the engine's parallelism to the cores at hand (it defaults to 32)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    log = open(os.path.join(work, "jvm.log"), "w")
    return subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)


def finish_jvm(proc, work):
    """Load the JVM's result file once it is complete; the JVM's shutdown
    overlaps the checks, and `main` waits for its exit before returning."""
    out = os.path.join(work, "result.json")
    deadline = time.time() + JVM_TIMEOUT_S
    while not os.path.exists(out) and proc.poll() is None and time.time() < deadline:
        time.sleep(0.05)
    if not os.path.exists(out):
        if proc.poll() is None:
            proc.kill()
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: engine run failed ({proc.wait()})")
    with open(out) as f:
        return json.load(f)


def corrupt(workload, checks):
    """Falsify one checked result, as a wrong engine answer would."""
    if workload == "etl_dashboards":
        checks["etl"]["counts"]["Fact_Spending"] += 1
    else:
        checks["stream"]["final"][0][1] += 1


def verify(work, workload, sf, res, input_rows):
    """Apply the oracle; returns (ops with failures marked, extra stats)."""
    import oracle
    con = oracle.connect(os.path.join(work, "data"), WORKLOADS[workload][0])
    cache = os.path.join(build.BUILD, "oracle", f"sf{sf}")
    stats = {}
    if workload == "etl_dashboards":
        fails, stats = oracle.check_etl_dashboards(con, res["checks"], input_rows, cache)
    else:
        fails = oracle.check_ingest_operators(
            con, res["checks"], os.path.join(work, "data", "events_chunks"), cache)
    con.close()
    for key, reason in fails.items():
        print(f"perfbench: check failed for {key}: {reason}", file=sys.stderr)
    ops = [dict(op, ok=False, err=fails[op["key"]]) if op["ok"] and op["key"] in fails else op
           for op in res["ops"]]
    return ops, stats


def tail_pct(n):
    """Highest percentile with at least ten samples beyond it (the median
    when a run has too few samples for any higher one)."""
    return max(50.0, 100.0 * (1 - 10 / n)) if n else 50.0


def percentile(xs, pct):
    xs = sorted(xs)
    k = (len(xs) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def phase_ops(workload, ops):
    """(batch-phase ops, window ops of the workload's request kind)."""
    _, _, batch_kind, op_kind = WORKLOADS[workload]
    return [o for o in ops if o["kind"] == batch_kind], [o for o in ops if o["kind"] == op_kind]


def end_to_end(workload, res, ops):
    """(End-to-end metrics, or None when the batch phase or every window
    operation failed; the number of window samples.) The window's request latency is the mean, over the
    request types of the window (each dashboard query; the stream's
    micro-batches, whose chunks cover every partition count once in every
    five), of each type's median: every type weighs the same in every run
    whichever requests the window's end cut off, and one slow request (a GC
    pause, a co-tenant's burst) does not move it."""
    batch, window = phase_ops(workload, ops)
    done = [o for o in window if o["ok"]]
    if not done or not all(o["ok"] for o in batch):
        return None, 0
    by_key = {}
    for o in done:
        by_key.setdefault(o["key"], []).append(o["ms"])
    return {
        "setup_s": (res["setup_s"], "s"),
        "batch_s": (sum(o["ms"] for o in batch) / 1000.0, "s"),
        "op_ms": (statistics.mean(statistics.median(xs) for xs in by_key.values()), "ms"),
        "ops_per_s": (len(done) / res["window_s"], "1/s"),
        "heap_live_mb": (res["env"]["heap_live_mb"], "MB"),
    }, len(done)


COUNTERS = ["plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms", "sched.jobs",
            "sched.stages", "sched.tasks", "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms",
            "scan.bytes", "scan.rows", "shuffle.write_bytes", "shuffle.read_bytes",
            "shuffle.fetch_wait_ms", "spill.bytes"]


def phase_layers(prefix, totals, n, cpus):
    """Collector totals of one phase, per operation."""
    n = max(n, 1)
    m = {f"{prefix}.{k}": totals.get(k, 0.0) / n for k in COUNTERS}
    tasks = totals.get("sched.tasks", 0.0)
    m[f"{prefix}.sched.empty_task_ratio"] = totals.get("sched.empty_tasks", 0.0) / tasks if tasks else 0.0
    m[f"{prefix}.sched.driver_gap_ms"] = totals.get("driver_gap_ms", 0.0) / n
    wall = totals.get("wall_ms", 0.0)
    m[f"{prefix}.exec.busy_ratio"] = totals.get("exec.task_run_ms", 0.0) / (wall * cpus) if wall else 0.0
    return m


def self_times(spans):
    """Span name -> list of self times (ms): duration minus the part of it
    that child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    out = {}
    for sid, _, name, t0, t1 in spans:
        covered, hi = 0, t0
        for a, b in sorted((max(c[3], t0), min(c[4], t1)) for c in kids.get(sid, [])):
            if b > hi:
                covered += b - max(a, hi)
                hi = b
        out.setdefault(name, []).append((t1 - t0 - covered) / 1e6)
    return out


def per_layer(workload, res, ops, stats):
    """Per-layer metrics of a traced run: collector counters per phase,
    span self times, workload counts and the tracing overhead."""
    batch, window = phase_ops(workload, ops)
    traced = [o for o in window if o["traced"]]
    cpus = res["env"]["spark_graft_cpus"]
    phases = res["phases"]
    m = phase_layers("batch", phases.get("batch", {}), 1, cpus)
    m.update(phase_layers("op", phases.get("op", {}), len(traced), cpus))
    op_totals = phases.get("op", {})
    n_batches = op_totals.get("stream.batches", 0.0)
    for k in ("latest_offset_ms", "query_planning_ms", "add_batch_ms", "wal_commit_ms",
              "commit_offsets_ms"):
        m[f"stream.{k}"] = op_totals.get(f"stream.{k}", 0.0) / n_batches if n_batches else 0.0
    m["write.rows"] = phases.get("batch", {}).get("write.rows", 0.0)
    reads = [o for o in ops if o["kind"] == "read"]
    for k in ("scan.bytes", "scan.rows"):
        m[f"read.{k}"] = phases.get("read", {}).get(k, 0.0) / max(len(reads), 1)
    selfs = self_times(res["spans"])

    def mean(name):
        xs = selfs.get(name, [])
        return sum(xs) / len(xs) if xs else 0.0

    for step in ("read", "clean", "dims", "fact", "dq", "sink", "charts", "readback"):
        m[f"etl.{step}_ms"] = mean(f"etl.{step}")
    m["dash.sql_ms"] = mean("dash.sql")
    m["table.commit_ms"] = mean("table.commit")
    m["table.read_ms"] = mean("table.read")
    for k in ("etl.accounts_dropped", "etl.tx_dropped", "etl.fact_rows"):
        m[k] = float(stats.get(k, 0))
    for k in ("write.bytes", "write.files", "cache.bytes", "cache.scan_ratio", "table.versions",
              "table.files", "table.write_amp"):
        m[k] = float(res["extra"].get(k, 0))
    m["rss_peak_mb"] = res["env"]["rss_peak_mb"]
    for q in MIX:
        m[f"mix.{q}_ms"] = next((o["ms"] for o in batch if o["key"] == q and o["ok"]), 0.0)
    done = [o["ms"] for o in window if o["ok"]]
    m["op.tail_ms"] = percentile(done, tail_pct(len(done))) if done else 0.0
    base = [o["ms"] for o in window if o["ok"] and not o["traced"]]
    with_trace = [o["ms"] for o in traced if o["ok"]]
    if base and with_trace:
        m["trace.overhead_ms"] = statistics.median(with_trace) - statistics.median(base)
        m["trace.overhead_ratio"] = statistics.median(with_trace) / statistics.median(base) - 1
    else:
        m["trace.overhead_ms"] = m["trace.overhead_ratio"] = 0.0
    return {k: (v, unit_of(k)) for k, v in sorted(m.items())}


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("_ratio", "write_amp")):
        return "ratio"
    return "count"


def main():
    args = parse()
    if args.sf is None:
        args.sf = WORKLOADS[args.workload][1]
    t_start = time.time()
    classes = build.build()
    work = os.path.join(build.BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        proc = start_jvm(classes, work, args)
        try:
            input_rows = make_inputs(work, args.workload, args.sf, args.seed)
            open(os.path.join(work, "data.ready"), "w").close()
            res = finish_jvm(proc, work)
            if args.corrupt:
                corrupt(args.workload, res["checks"])
            ops, stats = verify(work, args.workload, args.sf, res, input_rows)
            code = proc.wait(timeout=JVM_TIMEOUT_S)
            if code != 0:
                raise SystemExit(f"perfbench: engine exited {code}")
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        e2e, samples = end_to_end(args.workload, res, ops)
        if e2e is None:
            metrics = {}
        elif args.trace:
            metrics = per_layer(args.workload, res, ops, stats)
        else:
            metrics = e2e
        failed = sum(1 for o in ops if not o["ok"])
        env = dict(res["env"], workload=args.workload, seed=args.seed, sf=args.sf,
                   seconds=args.seconds, input_rows=input_rows, window_samples=samples,
                   wall_s=round(time.time() - t_start, 3))
        print(json.dumps({"env": env}))
        print(json.dumps({
            "correct": failed == 0 and bool(metrics),
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
