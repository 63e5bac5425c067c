"""Per-layer metrics and self times from a traced run's spans.

The traced run (`run.py --trace 1`) writes its spans as JSON lines: one
`op` per benchmark operation (backfill pass, idle re-run, drain, ingest
record, query), one `sql` per Spark SQL execution and one `job` per Spark
job, each linked to the operation that caused it, plus the completion
stamps of every backfilled partition and the sizes at rest. This module
turns them into the per-layer metrics (`per_layer`), and as a script prints
self times per layer and the tracing overhead:

    python3 perfbench/report.py TRACE.jsonl                # self times
    python3 perfbench/report.py --overhead UNTRACED.json TRACED.json

(`.bench_work/results/` holds each run's record and trace.)
"""
import json
import statistics
import sys

# op kind of each workload's main operation
MAIN = {"backfill": "backfill", "steady": "drain", "query": "query"}
MUTATIONS = ("create", "rename", "delete", "mkdirs")
OPS = MUTATIONS + ("open", "list", "stat")


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def med(v):
    return statistics.median(v) if v else 0.0


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] >= i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Trace:
    def __init__(self, spans):
        self.ops = [s for s in spans if s["type"] == "op"]
        self.sqls = [s for s in spans if s["type"] == "sql"]
        self.jobs = [s for s in spans if s["type"] == "job"]
        self.stamps = [s for s in spans if s["type"] == "stamps"]
        self.jobs_of_op, self.sqls_of_op, self.jobs_of_sql = {}, {}, {}
        for j in self.jobs:
            self.jobs_of_op.setdefault(j["op"], []).append(j)
            if j["sql"] is not None:
                self.jobs_of_sql.setdefault(j["sql"], []).append(j)
        for q in self.sqls:
            self.sqls_of_op.setdefault(q["op"], []).append(q)

    def kind(self, k):
        return [o for o in self.ops if o["kind"] == k]

    def jobs_in(self, ops):
        return [j for o in ops for j in self.jobs_of_op.get(o["id"], [])]

    def sqls_in(self, ops):
        return [q for o in ops for q in self.sqls_of_op.get(o["id"], [])]

    def sql_jobs(self, q):
        """Jobs of an SQL execution, including those of executions nested in it."""
        ids = {x["id"] for x in self.sqls if x["root"] == q["id"]} | {q["id"]}
        return [j for i in ids for j in self.jobs_of_sql.get(i, [])]

    def is_write(self, q):
        return q["root"] == q["id"] and any(j["out_bytes"] > 0 for j in self.sql_jobs(q))

    def self_times(self):
        """Self time of each span kind: its duration minus the part of it its
        children cover (op -> SQL executions and jobs; SQL -> jobs)."""
        out = {}
        for o in self.ops:
            kids = [(q["start_ms"], q["end_ms"]) for q in self.sqls_of_op.get(o["id"], [])
                    if q["root"] == q["id"]]
            kids += [(j["start_ms"], j["end_ms"]) for j in self.jobs_of_op.get(o["id"], [])
                     if j["sql"] is None]
            out.setdefault(f"op:{o['kind']}", []).append(
                o["dur_ms"] - union_ms(kids))
        for q in self.sqls:
            if q["root"] != q["id"] or q["end_ms"] < 0 or q["op"] is None:
                continue
            kind = "sql:write" if self.is_write(q) else "sql:read"
            out.setdefault(kind, []).append(
                q["end_ms"] - q["start_ms"] -
                union_ms([(j["start_ms"], j["end_ms"]) for j in self.sql_jobs(q)]))
        for j in self.jobs:
            out.setdefault("job", []).append(j["end_ms"] - j["start_ms"])
        return out


def fs_sum(ops, cat, names=OPS):
    return sum(o["fs"].get(f"{cat}.{n}", 0) for o in ops for n in names)


def copy_cycles(t):
    """Split each backfilled partition's copy cycle (the gap between its
    table's consecutive completion stamps) into the write SQL execution,
    the union of that execution's jobs, and the rest (driver)."""
    writes = sorted((q for q in t.sqls_in(t.kind("backfill")) if t.is_write(q)),
                    key=lambda q: q["end_ms"])
    rows = []
    for s in t.stamps:
        ms = s["end_ms"]
        for a, b in zip(ms, ms[1:]):
            inside = [q for q in writes if q["start_ms"] >= a and q["end_ms"] <= b]
            if not inside:
                continue
            q = inside[-1]
            write = q["end_ms"] - q["start_ms"]
            jobs = union_ms([(j["start_ms"], j["end_ms"]) for j in t.sql_jobs(q)])
            rows.append({"cycle": b - a, "write": write, "jobs": jobs,
                         "commit": write - jobs, "driver": (b - a) - write})
    return rows


def per_layer(workload, result, spans, cores):
    """The per-layer metrics of a traced run, as {name: (value, unit)}.
    A metric that does not apply to the workload (nothing of its kind
    happens in it) reads 0."""
    t = Trace(spans)
    main = t.kind(MAIN[workload])
    n_main = max(len(main), 1)
    jobs = t.jobs_in(main)
    sqls = t.sqls_in(main)
    wall = sum(o["dur_ms"] for o in main)
    st = result["store"]

    def tot(field, js=jobs):
        return sum(j[field] for j in js)

    if workload == "backfill":
        copied = len(main) * st["partitions"]
    elif workload == "steady":
        copied = sum(o["copied_expected"] for o in main)
    else:
        copied = 0
    queries = len(main) if workload == "query" else 0
    drains = len(main) if workload == "steady" else 0
    per_copy = 1.0 / copied if copied else 0.0
    per_query = 1.0 / queries if queries else 0.0
    per_drain = 1.0 / drains if drains else 0.0

    cyc = copy_cycles(t) if workload == "backfill" else []
    listing = [j for j in jobs if j["description"].startswith("Listing leaf files")]
    drain_spark = [union_ms([(j["start_ms"], j["end_ms"])
                             for j in t.jobs_of_op.get(o["id"], [])]) for o in main] \
        if workload == "steady" else []
    discover = []
    if workload == "backfill":
        for o in main:
            discover.append(sum(q["end_ms"] - q["start_ms"]
                                for q in t.sqls_of_op.get(o["id"], [])
                                if q["root"] == q["id"] and not t.is_write(q)))
    out_rows = tot("out_records")
    m = {
        "spark.jobs_per_partition": (len(jobs) * per_copy, "count"),
        "spark.jobs_per_drain": (len(jobs) * per_drain, "count"),
        "spark.plan_ms_per_partition": (sum(q["plan_ms"] for q in sqls) * per_copy, "ms"),
        "spark.executor_busy_share": (tot("run_ms") / (wall * cores) if wall else 0.0, "ratio"),
        "spark.executor_cpu_ms": (tot("cpu_ms") / n_main, "ms"),
        "spark.gc_ms": (tot("gc_ms") / n_main, "ms"),
        "spark.tasks_per_job": (tot("tasks") / len(jobs) if jobs else 0.0, "count"),
        "spark.input_rows_per_output_row":
            (tot("in_records") / out_rows if out_rows and copied else 0.0, "ratio"),
        "spark.input_mb_per_query": (tot("in_bytes") / 1e6 * per_query, "MB"),
        "spark.listing_jobs_per_query": (len(listing) * per_query, "count"),
        "spark.shuffle_mb": ((tot("shuffle_read_bytes") + tot("shuffle_write_bytes"))
                             / 1e6 / n_main, "MB"),
        "etl.copy_write_ms_p50": (med([c["write"] for c in cyc]), "ms"),
        "etl.copy_jobs_ms_p50": (med([c["jobs"] for c in cyc]), "ms"),
        "etl.copy_commit_ms_p50": (med([c["commit"] for c in cyc]), "ms"),
        "etl.copy_driver_ms_p50": (med([c["driver"] for c in cyc]), "ms"),
        "etl.copy_cycle_ms_p50": (med([c["cycle"] for c in cyc]), "ms"),
        "etl.discover_ms": (med(discover), "ms"),
        "etl.drain_driver_ms_p50":
            (med([o["dur_ms"] - s for o, s in zip(main, drain_spark)]), "ms"),
        "etl.drain_spark_ms_p50": (med(drain_spark), "ms"),
        "etl.status_rows": (st.get("status_rows", st["partitions"]), "count"),
        "sources.ingest_record_ms": (med([o["dur_ms"] for o in t.kind("ingest")]), "ms"),
        "fs.status.ops_per_mark": (fs_sum(main, "status") * per_copy, "count"),
        "fs.status.mutations_per_mark":
            (fs_sum(main, "status", MUTATIONS) * per_copy, "count"),
        "fs.status.bytes_written_per_mark":
            (fs_sum(main, "status", ("bytes_written",)) * per_copy, "bytes"),
        "fs.manifest.ops_per_drain": (fs_sum(main, "manifest") * per_drain, "count"),
        "fs.ingest.ops_per_drain": (fs_sum(main, "ingest") * per_drain, "count"),
        "fs.lake.lists_per_drain": (fs_sum(main, "lake", ("list",)) * per_drain, "count"),
        "fs.data.ops_per_partition": (fs_sum(main, "data", MUTATIONS) * per_copy, "count"),
        "fs.query.opens_per_query": (fs_sum(main, "query", ("open",)) * per_query, "count"),
        "fs.query.lists_per_query": (fs_sum(main, "query", ("list",)) * per_query, "count"),
        "store.data_files": (st["data_files"], "count"),
        "store.metadata_files": (st.get("metadata_files", 0), "count"),
        "store.metadata_bytes": (st.get("metadata_bytes", 0), "bytes"),
        "jvm.gc_ms": (result["jvm_gc_ms"] / n_main, "ms"),
    }
    return m


def overhead(untraced, traced):
    """Traced minus untraced end-to-end, per metric, from two run records."""
    a, b = untraced["end_to_end"], traced["end_to_end"]
    return {k: (b[k] - a[k], (b[k] - a[k]) / a[k] if a[k] else 0.0) for k in a if k in b}


def main(argv):
    if argv and argv[0] == "--overhead":
        a, b = (json.load(open(p)) for p in argv[1:3])
        for k, (d, r) in sorted(overhead(a, b).items()):
            print(f"{k:24s} {d:+12.3f} ({r:+.1%})")
        return
    t = Trace(load(argv[0]))
    print(f"{'span':14s} {'n':>5s} {'self p50 ms':>12s} {'self sum ms':>12s}")
    for k, v in sorted(t.self_times().items()):
        print(f"{k:14s} {len(v):5d} {med(v):12.1f} {sum(v):12.1f}")
    cyc = copy_cycles(t)
    if cyc:
        print("backfill copy cycle p50 ms: " + ", ".join(
            f"{k} {med([c[k] for c in cyc]):.1f}"
            for k in ("cycle", "write", "jobs", "commit", "driver")))


if __name__ == "__main__":
    main(sys.argv[1:])
