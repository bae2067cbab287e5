"""Per-layer metrics of a traced run.

The harness records one span per op and child spans around each call
into a layer (construct, ddl_execute, exec). ChSql.translate runs
inside ddl_execute, where no span can reach it; it is timed by
translating each traced read once more, outside the op. Spark's own
events are attached here: jobs and their stages by the span label the
driver thread set as a local property, Catalyst phases by time interval.
Self time is a span's duration minus what its children cover."""
from collections import defaultdict

from stats import median, self_time, tail

MB = 1024.0 * 1024.0


def _mean(total, n):
    return total / n if n else 0.0


def layer_metrics(res):
    spans = {s["id"]: s for s in res["spans"]}
    ev = res["events"]
    ops = [o for o in res["ops"] if o["traced"] and o["ok"]]
    op_seqs = {o["seq"] for o in ops}
    n = len(ops)
    cores = res["cores"]

    # harness spans of traced ops, grouped by op
    by_op = defaultdict(list)
    for s in spans.values():
        if s["op"] in op_seqs:
            by_op[s["op"]].append(s)
    span_op = {s["id"]: s["op"] for s in spans.values()}

    def iv(s):
        return (s["start_us"], s["end_us"])

    # Spark jobs and stages, tied to the span that was open on the
    # driver thread when the job started
    stages = {st["id"]: st for st in ev["stages"]}
    children = defaultdict(list)  # span id -> intervals of its children
    job_in = defaultdict(list)  # span id -> jobs
    for j in ev["jobs"]:
        if not j["label"].isdigit():
            continue
        sid = int(j["label"])
        job_in[sid].append(j)
        children[sid].append((j["start_ms"] * 1000, j["end_ms"] * 1000))
    for s in spans.values():
        if s["parent"] >= 0:
            children[s["parent"]].append(iv(s))

    # Catalyst phases: attach each to the innermost span of a traced op
    # that contains the phase's start
    phase_ms = defaultdict(float)
    rule_ms = 0.0
    op_spans = sorted((s for s in spans.values() if s["op"] in op_seqs),
                      key=lambda s: s["start_us"])
    for q in ev["qes"]:
        placed = False
        for name, (a, b) in q["phases"].items():
            start = a * 1000
            inner = [s for s in op_spans if s["start_us"] <= start <= s["end_us"]]
            if not inner:
                continue
            host = min(inner, key=lambda s: s["end_us"] - s["start_us"])
            children[host["id"]].append((a * 1000, b * 1000))
            phase_ms[name] += b - a
            placed = True
        if placed:
            rule_ms += q["graft_rule_ns"] / 1e6

    def span_total(name):
        return sum(s["end_us"] - s["start_us"] for s in spans.values()
                   if s["name"] == name and s["op"] in op_seqs) / 1000.0

    def self_total(name):
        return sum(self_time(iv(s), children[s["id"]]) for s in spans.values()
                   if s["name"] == name and s["op"] in op_seqs) / 1000.0

    op_jobs = [j for sid, js in job_in.items() if span_op.get(sid) in op_seqs for j in js]
    op_stage_ids = [sid for j in op_jobs for sid in j["stages"] if sid in stages]
    op_stages = [stages[s] for s in op_stage_ids]

    def stage_sum(key):
        return sum(st[key] for st in op_stages)

    def jobs_under(names):
        ids = {s["id"] for s in spans.values() if s["name"] in names and s["op"] in op_seqs}
        return [j for sid in ids for j in job_in.get(sid, [])]

    construct_jobs = jobs_under({"construct"})
    exec_names = {"exec", "ddl_execute"}
    exec_stage = [stages[s] for j in jobs_under(exec_names) for s in j["stages"] if s in stages]
    exec_wall_ms = span_total("exec") + span_total("ddl_execute")
    op_ms = span_total("op")
    ntasks = stage_sum("tasks")

    resolve = res["resolve"]
    resolve_spans = [s for s in spans.values() if s["name"].startswith("resolve:")]
    resolve_jobs = sum(len(job_in.get(s["id"], [])) for s in resolve_spans)

    writes = [o for o in ops if o["cls"] in ("insert", "mutation")]
    write_seqs = {o["seq"] for o in writes}
    write_out = sum(stages[s]["output"] for sid, js in job_in.items()
                    if span_op.get(sid) in write_seqs for j in js for s in j["stages"]
                    if s in stages)
    files = [f["new_files"] for f in res["ddl_files"]]
    residue = [r for r in res["residue"] if r["seq"] in op_seqs]
    construct_ops = sum(1 for o in by_op.values() if any(s["name"] == "construct" for s in o))
    ddl_ops = sum(1 for o in by_op.values() if any(s["name"] == "ddl_execute" for s in o))
    probes = [t["ms"] for t in res["translate"] if t["seq"] in op_seqs]

    m = {
        "sources.resolve_ms": (_mean(sum(r["ms"] for r in resolve), len(resolve)), "ms"),
        "sources.resolve_jobs": (_mean(resolve_jobs, len(resolve_spans)), "count"),
        "queries.construct_ms": (_mean(span_total("construct"), construct_ops), "ms"),
        "queries.construct_jobs": (_mean(len(construct_jobs), construct_ops), "count"),
        "queries.construct_share": (_mean(span_total("construct"), op_ms), "ratio"),
        "functions.translate_ms": (_mean(sum(probes), len(probes)), "ms"),
        "spark.analysis_ms": (_mean(phase_ms["analysis"], n), "ms"),
        "spark.optimization_ms": (_mean(phase_ms["optimization"], n), "ms"),
        "spark.planning_ms": (_mean(phase_ms["planning"], n), "ms"),
        "plans.rule_ms": (_mean(rule_ms, n), "ms"),
        "spark.jobs": (_mean(len(op_jobs), n), "count"),
        "spark.stages": (_mean(len(op_stages), n), "count"),
        "spark.tasks": (_mean(ntasks, n), "count"),
        "spark.tasks_per_stage": (_mean(ntasks, len(op_stages)), "count"),
        "spark.exec_ms": (_mean(span_total("exec"), n), "ms"),
        "spark.parallel_eff": (_mean(sum(st["run_ms"] for st in exec_stage),
                                     exec_wall_ms * cores), "ratio"),
        "spark.task_cpu_ms": (_mean(stage_sum("cpu_ns") / 1e6, n), "ms"),
        "spark.gc_ms": (_mean(stage_sum("gc_ms"), n), "ms"),
        "spark.shuffle_write_bytes": (_mean(stage_sum("shuffle_write"), n), "B"),
        "spark.input_bytes": (_mean(stage_sum("input"), n), "B"),
        "spark.spill_bytes": (_mean(stage_sum("spill"), n), "B"),
        "spark.peak_exec_mem_mb": (max((st["peak_mem"] for st in op_stages), default=0) / MB,
                                   "MB"),
        "operators.residue_rdds": (_mean(sum(r["rdds"] for r in residue), len(residue)),
                                   "count"),
        "operators.residue_mb": (_mean(sum(r["bytes"] for r in residue) / MB, len(residue)),
                                 "MB"),
        "functions.ddl_execute_ms": (_mean(span_total("ddl_execute"), ddl_ops), "ms"),
        "functions.ddl_bytes_written": (_mean(write_out, len(writes)), "B"),
        "functions.ddl_files": (_mean(sum(files), len(files)), "count"),
        "self.op_ms": (_mean(self_total("op"), n), "ms"),
        "self.construct_ms": (_mean(self_total("construct"), construct_ops), "ms"),
        "self.exec_ms": (_mean(self_total("exec"), n), "ms"),
        "self.ddl_execute_ms": (_mean(self_total("ddl_execute"), ddl_ops), "ms"),
    }
    return m


def class_latencies(ops):
    """ddl_ingest latencies by statement class, from untraced warm ops."""
    by = defaultdict(list)
    for o in ops:
        by[o["cls"]].append(o["ms"])
    out = {}
    for cls, name in (("insert", "ddl.insert_p50_ms"), ("mutation", "ddl.mutation_p50_ms"),
                      ("read", "ddl.read_p50_ms")):
        out[name] = (median(by[cls]) or 0.0, "ms", len(by[cls]))
    writes = by["insert"] + by["mutation"]
    t = tail(writes)
    out["ddl.write_tail_ms"] = ((t[1] if t else 0.0), "ms", len(writes),
                                f"p{t[0]}" if t else "none")
    return out
