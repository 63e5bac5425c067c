"""The benchmark's one command.

    python3 perfbench/run.py --workload backfill|steady|query --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the benchmark's
JVM driver from source (`perfbench/build.py`), generates the workload's
inputs from the seed (`perfbench/gen.py`), runs the workload in one JVM at
`local[nproc]`, checks every read-back and query result against DuckDB
(`perfbench/oracle.py`), and prints one JSON object as the last line of
stdout: the end-to-end metrics with `--trace 0`, the per-layer metrics
(`perfbench/report.py`) with `--trace 1`. The lines before it print the
same figures under workload-specific names (`copy_p50_ms`, `drain_p50_ms`,
`query_mix_s`, ...). A correctness mismatch or failed operation makes the
exit code 1.

Everything it writes stays under `.bench_work/` and the build directory.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

# Months of history per workload (see README.md for the resulting sizes).
MONTHS = {"backfill": 8, "steady": 3, "query": 33}
WARM_MONTHS = 1          # backfill warm-up input
FUTURE_WAVES = 64        # steady: months available to land after the history
SETUP_REPS = 3           # equal set-up stages per run; setup_s uses their median
HEAP = "2g"
JVM_BUDGET_S = 165       # the whole command must end within 180 s

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def generate(workload, seed, inputs):
    """Write the workload's inputs; return (seconds, summary)."""
    t0 = time.perf_counter()
    if workload == "backfill":
        summary = gen.generate(inputs, seed, MONTHS[workload])
        gen.generate(os.path.join(inputs, "warm"), seed + 1, WARM_MONTHS)
    elif workload == "steady":
        summary = gen.generate(inputs, seed, MONTHS[workload] + FUTURE_WAVES,
                               tables=(), waves=True)
    else:
        summary = gen.generate(inputs, seed, MONTHS[workload], tables=("orders", "customer"))
        gen.write_stages(inputs, MONTHS[workload], SETUP_REPS)
    return time.perf_counter() - t0, summary


def run_jvm(args, cp, inputs, work, cores, deadline):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--inputs", inputs, "--work", work,
            "--cores", str(cores), "--reps", str(SETUP_REPS),
            "--months", str(MONTHS[args.workload])]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: JVM exited with {code}")


def pct(values, q):
    """Linear-interpolated q-th percentile (0-100) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def med(values):
    return statistics.median(values) if values else 0.0


# Tail percentile of each workload's operation latency, fixed so a run at the
# seed's speed has at least ten samples beyond it (README.md lists counts).
TAIL = {"backfill": 90, "steady": 75, "query": 85}


def copy_cycles(stamps):
    """Gaps between consecutive completion stamps of each table in each
    backfill pass; each table's first partition (which also pays its
    discovery) has no gap and is excluded."""
    out = []
    for s in stamps:
        ms = s["end_ms"]
        out += [b - a for a, b in zip(ms, ms[1:])]
    return out


def end_to_end(w, r, gen_s):
    """The end-to-end metrics of one run: the bounded, workload-generic set
    (for BENCHMARK.json) and the same values under workload-specific names."""
    ops = r["ops"]
    setup_s = gen_s + r["session_ready_s"] + len(r["prep_s"]) * med(r["prep_s"])
    pass_s = med([p["wall_s"] for p in r["passes"]])
    idle = [o["dur_ms"] for o in ops if o["kind"] == "idle"]
    st = r["store"]
    files_pp = st["data_files"] / st["partitions"]
    ratio = st["data_bytes"] / st["source_bytes"]
    heap = max(r["heap_mb"])
    if w == "backfill":
        samples = copy_cycles(r["stamps"])
        tail_pool = samples
        named = {"backfill_s": (pass_s, "s"), "copy_p50_ms": (med(samples), "ms"),
                 "copy_p90_ms": (pct(samples, 90), "ms"),
                 "idle_rerun_p50_ms": (med(idle), "ms"),
                 "stored_bytes_ratio": (ratio, "ratio"),
                 "files_per_partition": (files_pp, "count")}
    elif w == "steady":
        drains = [o for o in ops if o["kind"] == "drain"]
        samples = [o["dur_ms"] for o in drains
                   if o["copied_expected"] == 1 and not o["checkpoint"]]
        idle = [o["dur_ms"] for o in drains
                if o["copied_expected"] == 0 and not o["checkpoint"]]
        tail_pool = [o["dur_ms"] for o in drains]
        named = {"steady_s": (pass_s, "s"), "drain_p50_ms": (med(samples), "ms"),
                 "idle_drain_p50_ms": (med(idle), "ms"),
                 f"drain_tail_ms(p{TAIL[w]})": (pct(tail_pool, TAIL[w]), "ms"),
                 "files_per_partition": (files_pp, "count")}
    else:
        samples = [o["dur_ms"] for o in ops if o["kind"] == "query"]
        tail_pool = samples
        named = {"query_mix_s": (pass_s, "s"), "query_p50_ms": (med(samples), "ms"),
                 f"query_tail_ms(p{TAIL[w]})": (pct(samples, TAIL[w]), "ms"),
                 "absent_month_p50_ms": (med(idle), "ms")}
    named["setup_s"] = (setup_s, "s")
    named["heap_peak_mb"] = (heap, "MB")
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (med(samples), "ms"),
        "op_tail_ms": (pct(tail_pool, TAIL[w]), "ms"),
        "pass_s": (pass_s, "s"),
        "idle_p50_ms": (med(idle), "ms"),
        "files_per_partition": (files_pp, "count"),
        "stored_bytes_ratio": (ratio, "ratio"),
        "heap_peak_mb": (heap, "MB"),
    }
    info = {"op_samples": len(samples), "tail_samples": len(tail_pool),
            "tail_percentile": TAIL[w], "passes": len(r["passes"])}
    return metrics, named, info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MONTHS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + JVM_BUDGET_S
    root = os.getcwd()
    cp = build.ensure_built(root)
    # the first build may take minutes; the run itself gets the full budget
    deadline = max(deadline, time.monotonic() + 150)
    cores = os.cpu_count() or 4
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    base = os.path.join(root, ".bench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        gen_s, summary = generate(args.workload, args.seed, inputs)
        run_jvm(args, cp, inputs, work, cores, deadline)
        with open(os.path.join(work, "result.json")) as fh:
            r = json.load(fh)
        n_checks, mismatches = oracle.check(args.workload, inputs, r)
        metrics, named, info = end_to_end(args.workload, r, gen_s)
        layers = {}
        if args.trace:
            trace = os.path.join(work, "trace.jsonl")
            layers = report.per_layer(args.workload, r, report.load(trace), cores)
            os.makedirs(os.path.join(base, "results"), exist_ok=True)
            shutil.copy(trace, os.path.join(base, "results",
                                            f"{args.workload}-s{args.seed}.trace.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failures = r["failures"] + mismatches
    attempted = r["attempted"] + n_checks
    failed = min(len(failures), attempted)
    correct = not failures
    named["error_rate"] = (failed / attempted, "ratio")
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    env = dict(r["env"], nproc=cores, inputs=summary.get("tables") or summary.get("waves"))
    print(f"# {args.workload} seed={args.seed} trace={args.trace} {json.dumps(info)}")
    print(f"# env {json.dumps(env)}")
    for k, (v, u) in sorted(named.items()):
        print(f"# {args.workload} {k} = {v:.6g} {u}")
    out_metrics = layers if args.trace else metrics
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "end_to_end": {k: v for k, (v, _) in metrics.items()},
              "named": {k: v for k, (v, _) in named.items()},
              "per_layer": {k: v for k, (v, _) in layers.items()}, "info": info, "env": env}
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{args.workload}-t{args.trace}-s{args.seed}.json"),
              "w") as fh:
        json.dump(record, fh)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in out_metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
