#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Builds graft and the harness from this checkout on first use (sbt,
offline), generates the workload's inputs from the seed, runs the
harness, checks the outputs, and prints the metrics. The last line of
standard output is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. See README.md for what each measures.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from stats import gmean_of_medians, median, space_amp, tail  # noqa: E402

WORKLOADS = ("olap_mix", "curation_corpus", "ddl_ingest")
LAUNCHES = 2        # fresh-JVM set-ups per untraced run; setup_s is their median
RUN_LIMIT_S = 170   # a run, build excluded, ends within this
JVM_HEAP = "3g"
ORDERS_PER_RUN = 64  # seeded key orders handed to the harness
OLAP_TABLES = "region,nation,customer,supplier,part,orders,lineitem,events"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "op_gmean_ms": "ms", "ops_per_s": "1/s",
    "cpu_per_op_ms": "ms", "retained_heap_mb": "MB",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(msg, flush=True)


# ---------- build ----------

def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("SPARK_HOME is unset and spark-submit is not on PATH")
    return str(Path(submit).resolve().parent.parent)


def source_digest():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((HERE / "src").rglob("*.scala"))
    files += sorted(p for p in (ROOT / "src" / "main").rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles graft's main sources with the harness into
    perfbench/target once per source state; returns the classpath."""
    target = HERE / "target"
    stamp, cp_file = target / "perfbench.stamp", target / "perfbench.classpath"
    digest = source_digest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    target.mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = Path("~/.sbt/repositories").expanduser()
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building graft and the harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    (target / "build.log").write_text(p.stdout)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode})")
    cp = [ln for ln in p.stdout.splitlines()
          if ln and not ln.startswith("[") and "scala-2.13/classes" in ln]
    if not cp:
        fail("build printed no classpath")
    cp_file.write_text(cp[-1].strip())
    stamp.write_text(digest)
    log(f"perfbench: build done in {time.time() - t0:.1f} s")
    return cp[-1].strip()


# ---------- inputs ----------

def make_plan(workload, seed, seconds, traced, data, work):
    """The harness plan, the data directory graft reads, and the inputs
    the check needs."""
    lines = [("workload", workload), ("work", str(work)), ("seconds", str(seconds)),
             ("trace", "1" if traced else "0"), ("cores", str(cores()))]
    info = {}
    if workload == "olap_mix":
        keys = gen.OLAP_KEYS
        lines += [("data", str(data)), ("check_data", str(data)), ("tables", OLAP_TABLES)]
        lines += [("pass", ",".join(o)) for o in gen.key_orders(keys, seed, ORDERS_PER_RUN)]
        info = {"keys": keys, "data": data,
                "params": {"keys": len(keys), "data": data.name}}
    elif workload == "curation_corpus":
        keys = gen.CURATION_KEYS
        corpus, small = work / "data", work / "check_data"
        gen.write_corpus(corpus, seed, data, gen.CORPUS)
        gen.write_corpus(small, seed, data, dict(gen.CORPUS, docs=gen.CHECK_DOCS))
        lines += [("data", str(corpus)), ("check_data", str(small)), ("tables", "documents")]
        lines += [("pass", ",".join(o)) for o in gen.key_orders(keys, seed, ORDERS_PER_RUN)]
        info = {"keys": keys, "data": small,
                "params": dict(gen.CORPUS, check_docs=gen.CHECK_DOCS, keys=len(keys))}
    else:
        script = gen.ddl_script(seed, **gen.DDL)
        lines += [("data", str(data)), ("tables", "orders"),
                  ("view", f"src_orders\t{gen.SRC_VIEW}"),
                  ("stored", f"{gen.TABLE},{gen.MV}")]
        lines += [("stmt", f"{cls}\t{sql}") for cls, sql, _ in script]
        info = {"script": script, "data": data,
                "params": dict(gen.DDL, statements=sum(c != "dump" for c, _, _ in script))}
    return "".join(f"{k}\t{v}\n" for k, v in lines), info


def cores():
    return len(os.sched_getaffinity(0))


# ---------- run ----------

def run_harness(cp, plan_file, result_file, work, deadline):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") \
        else "java"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = [str(java), f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", str(plan_file), str(result_file)]
    err = work / "jvm.log"
    launch = time.time()
    with open(err, "w") as e:
        try:
            p = subprocess.run(cmd, stdout=e, stderr=subprocess.STDOUT, cwd=work,
                               timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            sys.stderr.write(err.read_text()[-4000:])
            fail("harness exceeded the run's time limit")
    if p.returncode != 0 or not result_file.exists():
        sys.stderr.write(err.read_text()[-4000:])
        fail(f"harness failed (exit {p.returncode})")
    return launch, json.loads(result_file.read_text())


def launch_setups(cp, plan, work, deadline, n):
    """Seconds from JVM launch until the first op is ready, in `n` more
    JVMs that only set up and exit."""
    plan_file = work / "setup_plan.tsv"
    plan_file.write_text(plan + "setup_only\t1\n")
    out = []
    for i in range(n):
        launch, res = run_harness(cp, plan_file, work / f"setup{i}.json", work, deadline)
        out.append(res["ready_epoch_ms"] / 1000.0 - launch)
    return out


def steal_share(res):
    """Mean share of CPU time stolen by the hypervisor in the measured
    passes; timings of a pass with a high share are inflated."""
    p = [x["steal_share"] for x in res["passes"]]
    return sum(p) / len(p) if p else 0.0


def measured_passes(res, traced):
    return [p for p in res["passes"] if p["traced"] == traced]


def measured_ops(res, traced):
    ids = {p["pass"] for p in measured_passes(res, traced)}
    return [o for o in res["ops"] if o["pass"] in ids and o["ok"]]


def end_to_end(res, setups):
    warm = measured_ops(res, traced=False)
    ok = [o["ms"] for o in warm]
    passes = measured_passes(res, traced=False)
    wall = sum(p["wall_s"] for p in passes)
    cpu = sum(p["cpu_s"] for p in passes)
    return {
        "setup_s": (median(setups), len(setups)),
        "cold_pass_s": (res["cold_pass_s"], 1),
        "op_gmean_ms": (gmean_of_medians(warm), len(ok)),
        "ops_per_s": (len(ok) / wall if wall else 0.0, len(ok)),
        "cpu_per_op_ms": (1000.0 * cpu / len(ok) if ok else 0.0, len(ok)),
        "retained_heap_mb": (res["retained_heap_mb"], 1),
    }, ok, wall


def main():
    # a terminated run still stops its JVM: subprocess.run kills the
    # child when the exception raised here unwinds through it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        fail(f"graft sources not found under {ROOT}; run from a graft checkout")
    data = Path(os.environ.get("GRAFT_TESTDATA", "~/testdata/sf0.1")).expanduser()
    if not (data / "orders.parquet").exists():
        fail(f"test data not found at {data} (set GRAFT_TESTDATA)")
    cp = build()

    start = time.time()
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        plan, info = make_plan(args.workload, args.seed, args.seconds, args.trace == 1,
                               data, work)
        plan_file = work / "plan.tsv"
        plan_file.write_text(plan)
        deadline = start + RUN_LIMIT_S - 15
        launch, res = run_harness(cp, plan_file, work / "result.json", work, deadline)
        harness_s = time.time() - launch
        setups = [res["ready_epoch_ms"] / 1000.0 - launch]
        if args.trace == 0:
            setups += launch_setups(cp, plan, work, deadline, LAUNCHES - 1)
        check_t0 = time.time()
        if "keys" in info:
            bad = check.check_keys(info["data"], work / "check", info["keys"], cores())
        else:
            bad = check.check_ddl(info["data"], work / "check", info["script"],
                                  gen.SRC_VIEW, res["reads"], gen.TABLE, cores())
        check_s = time.time() - check_t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(res["ops"]) + res["check_attempted"]
    failed = len(res["failures"]) + len(bad)
    for f in res["failures"]:
        log(f"FAILED {f['name']} (pass {f['pass']}): {f['error']}")
    for b in bad:
        log(f"MISMATCH {b}")

    log(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} cores={res['cores']}")
    log("inputs " + " ".join(f"{k}={v}" for k, v in info["params"].items()))
    e2e, ok, wall = end_to_end(res, setups)
    log(f"error_rate = {failed / attempted:.4f} ({failed} failed or mismatched "
        f"of {attempted} attempted)")
    for name, (v, n) in e2e.items():
        log(f"metric {name} = {v:.4f} {END_TO_END[name]} (n={n})")
    log(f"timing harness {harness_s:.1f} s, set-up JVMs {check_t0 - launch - harness_s:.1f} s, "
        f"check pass {res['check_pass_s']:.1f} s, "
        f"oracle check {check_s:.1f} s, run {time.time() - start:.1f} s")
    log("set-ups from JVM launch until the first op is ready: "
        + ", ".join(f"{s:.4f}" for s in setups) + " s")
    log(f"metric op_p50_ms = {median(ok) or 0.0:.4f} ms (n={len(ok)})")
    log(f"metric peak_rss_mb = {res['peak_rss_mb']:.4f} MB (n=1, with a fixed {JVM_HEAP} heap)")
    log(f"host steal_share = {steal_share(res):.4f} of CPU time during the measured passes")
    t = tail(ok)
    log(f"metric op_tail_ms = " + (f"{t[1]:.4f} ms (p{t[0]}, n={t[2]})" if t
                                   else f"n/a (n={len(ok)}: fewer than 21 samples)"))
    if args.workload == "curation_corpus":
        docs = info["params"]["docs"]
        log(f"metric docs_per_s = {docs * len(ok) / wall:.1f} docs/s (n={len(ok)} pipelines)")
    warm = measured_ops(res, traced=False)
    ddl = layers.class_latencies(warm) if args.workload == "ddl_ingest" else {}
    amp = space_amp(res["space"].get("stored_bytes", 0), res["space"].get("plain_bytes", 0))
    for name, v in ddl.items():
        log(f"metric {name} = {v[0]:.4f} {v[1]} (n={v[2]}" +
            (f", {v[3]})" if len(v) > 3 else ")"))
    if amp is not None:
        log(f"metric ddl.space_amp = {amp:.4f} ({res['space']['stored_bytes']} stored bytes "
            f"/ {res['space']['plain_bytes']} plain bytes)")

    if args.trace == 1:
        metrics = layers.layer_metrics(res)
        traced_ms = [o["ms"] for o in measured_ops(res, traced=True)]
        untraced = sum(ok) / len(ok) if ok else 0.0
        overhead = (sum(traced_ms) / len(traced_ms) / untraced - 1.0) \
            if traced_ms and untraced else 0.0
        metrics["trace.overhead_share"] = (overhead, "ratio")
        for name in ("ddl.insert_p50_ms", "ddl.mutation_p50_ms", "ddl.read_p50_ms",
                     "ddl.write_tail_ms"):
            metrics[name] = (ddl[name][0] if name in ddl else 0.0, "ms")
        metrics["ddl.space_amp"] = (amp or 0.0, "ratio")
        metrics["setup.launch_s"] = (setups[0], "s")
        metrics["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
        metrics["host.steal_share"] = (steal_share(res), "ratio")
        for name, (v, unit) in metrics.items():
            if name == "functions.translate_ms" and args.workload != "ddl_ingest":
                # the keys' ClickHouse SQL is inside graft, out of the probe's reach
                log(f"layer {name} = not measured on {args.workload} (0 in the JSON line)")
            else:
                log(f"layer {name} = {v:.4f} {unit}")
    else:
        metrics = {k: (v, END_TO_END[k]) for k, (v, _) in e2e.items()}

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


if __name__ == "__main__":
    main()
