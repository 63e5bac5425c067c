#!/usr/bin/env python3
"""Per-operation job map of a traced benchmark run.

Reads the spans a traced run writes (`perfbench/run.py --trace 1` keeps them
as `.bench_work/results/<workload>-s<seed>.trace.jsonl`) and prints:

- one line per operation: id, class, tick, checkpoint flag, duration, Spark
  jobs, filesystem ops (all areas, and the manifest's);
- per class, the job counts of its operations in order, and their median
  duration;
- the SQL executions of the slowest operation of each class, with the jobs
  each ran.

A steady drain's class is `due` (the reconcile-and-checkpoint drain),
`copy` (a month landed before it) or `idle`; other operations keep their
kind (`backfill`, `query`, `ingest`, ...).

With `--max-jobs CLASS=N` (repeatable) it exits 1, naming the operations,
when any operation of that class ran more than N Spark jobs, or when the
trace holds no operation of that class.

Usage: python3 tools/drain_map.py TRACE.jsonl [--max-jobs CLASS=N ...]
"""
import argparse
import json
import statistics
import sys

FS_OPS = ("create", "rename", "delete", "mkdirs", "open", "list", "stat")


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def op_class(op):
    if op["kind"] != "drain":
        return op["kind"]
    if op.get("checkpoint"):
        return "due"
    return "copy" if op.get("copied_expected", 0) else "idle"


def fs_ops(op, area=None):
    return sum(n for k, n in op["fs"].items()
               if k.rsplit(".", 1)[-1] in FS_OPS
               and (area is None or k.split(".", 1)[0] == area))


def job_limit(text):
    cls, sep, n = text.partition("=")
    if not sep or not cls or not n.isdigit():
        raise argparse.ArgumentTypeError(f"expected CLASS=N, got {text!r}")
    return cls, int(n)


def over_limits(by_class, jobs_of_op, limits):
    """One message per limit broken: an op over it, or no op of its class."""
    bad = []
    for cls, n in limits:
        ops = by_class.get(cls, [])
        if not ops:
            bad.append(f"--max-jobs {cls}={n}: no {cls} operation in the trace")
        for o in ops:
            ran = len(jobs_of_op.get(o["id"], []))
            if ran > n:
                bad.append(f"--max-jobs {cls}={n}: op {o['id']} (pass {o['pass']}) ran {ran} jobs")
    return bad


def main(path, limits=()):
    spans = load(path)
    ops = sorted((s for s in spans if s["type"] == "op"), key=lambda o: o["id"])
    sqls = [s for s in spans if s["type"] == "sql"]
    jobs = [s for s in spans if s["type"] == "job"]
    jobs_of_op, jobs_of_sql = {}, {}
    for j in jobs:
        jobs_of_op.setdefault(j["op"], []).append(j)
        if j["sql"] is not None:
            jobs_of_sql.setdefault(j["sql"], []).append(j)

    print(f"{'op':>4s} {'class':8s} {'pass':>4s} {'tick':>4s} {'ckpt':>4s} "
          f"{'ms':>8s} {'jobs':>4s} {'fs':>5s} {'fs.mf':>5s}")
    by_class = {}
    for o in ops:
        c = op_class(o)
        by_class.setdefault(c, []).append(o)
        tick = o.get("tick", "-")
        ckpt = "y" if o.get("checkpoint") else "-"
        print(f"{o['id']:4d} {c:8s} {o['pass']:4d} {tick!s:>4s} {ckpt:>4s} "
              f"{o['dur_ms']:8.1f} {len(jobs_of_op.get(o['id'], [])):4d} "
              f"{fs_ops(o):5d} {fs_ops(o, 'manifest'):5d}")

    print()
    for c, os_ in by_class.items():
        counts = "/".join(str(len(jobs_of_op.get(o["id"], []))) for o in os_)
        p50 = statistics.median(o["dur_ms"] for o in os_)
        print(f"{c:8s} n={len(os_):<3d} jobs {counts}  p50 {p50:.1f} ms")

    for c, os_ in by_class.items():
        slow = max(os_, key=lambda o: o["dur_ms"])
        mine = sorted((q for q in sqls if q["op"] == slow["id"]), key=lambda q: q["id"])
        print(f"\nslowest {c}: op {slow['id']}, {slow['dur_ms']:.1f} ms, "
              f"{len(mine)} SQL executions")
        for q in mine:
            qj = jobs_of_sql.get(q["id"], [])
            ms = q["end_ms"] - q["start_ms"] if q["end_ms"] >= 0 else -1
            print(f"  sql {q['id']:5d} {ms:6d} ms  jobs {len(qj):2d}  "
                  f"plan {q['plan_ms']:4d} ms  {q['description'][:70]}")
        loose = [j for j in jobs_of_op.get(slow["id"], []) if j["sql"] is None]
        if loose:
            print(f"  jobs outside any SQL execution: {len(loose)}")

    bad = over_limits(by_class, jobs_of_op, limits)
    for line in bad:
        print(line, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(usage=__doc__)
    ap.add_argument("trace")
    ap.add_argument("--max-jobs", type=job_limit, action="append", default=[],
                    metavar="CLASS=N")
    a = ap.parse_args()
    sys.exit(main(a.trace, a.max_jobs))
