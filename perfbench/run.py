#!/usr/bin/env python3
"""The repository's benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from source (first run only), generates
the seeded inputs, drives the engine through the JVM harness, checks every
output, and prints the record. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer ones
from a traced run, and the run's spans are written to
perfbench/.work/trace-<workload>-<seed>.json. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402

SF = 0.1                  # the scale of the catalog's sf0.1 test tables
WORKLOADS = ("curation", "relational", "operators")
SERVE_CALLS = 4           # closed-loop calls in a serve lifecycle
DEADLINE_S = 60           # per operation; a hang counts as a failure
JVM_BUDGET_S = 170        # the whole run must end within 180 s
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def info(msg):
    print(msg, flush=True)


# ---------------------------------------------------------------- build

def _sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, files in os.walk(base):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HARNESS, "build.sbt")


def build():
    """Compile the engine and the harness with sbt, unless the classes are
    already built from these exact sources."""
    h = hashlib.sha256()
    for p in sorted(_sources()):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp_path = os.path.join(WORK, "build.stamp")
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=840)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp_path, "w") as f:
        f.write(stamp)


# ---------------------------------------------------------------- plan

def load_workloads():
    """workloads.json: per workload, the catalog jobs a run times, the
    jobs it runs warm only (their outputs are checked too), and the
    workload's other member queries, which a run does not execute. Together
    the lists hold every declared query exactly once; the harness refuses a
    plan where that does not hold. `known_wrong` lists the run jobs known
    to fail their oracle check: they are reported as wrong results on
    every run, but do not make the run incorrect."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def members(spec):
    return spec["timed"] + spec["warm_only"] + spec["other_members"]


# ---------------------------------------------------------------- run

def run_jvm(plan_path, log_path, deadline):
    cpus = str(os.cpu_count() or 4)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += ["-Duser.timezone=UTC", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            f"-Dspark.local.dir={tmp}",
            "-cp", f"{CLASSES}:{os.path.join(os.environ['SPARK_HOME'], 'jars', '*')}",
            "perfbench.Harness", plan_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS=cpus)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def read_records(path):
    recs = []
    with open(path) as f:
        for line in f:
            if line.strip():
                recs.append(json.loads(line))
    return recs


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # the job lists in workloads.json, not --seconds, set what a run times
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a wurzelspark checkout "
                         "(src/main/scala/graft not found)")
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("perfbench: SPARK_HOME must name the Spark installation")
    os.makedirs(WORK, exist_ok=True)
    build()
    deadline = time.time() + JVM_BUDGET_S  # the first run's build is not run time

    data = os.path.join(WORK, "data")
    shutil.rmtree(data, ignore_errors=True)
    t0 = time.perf_counter()
    gen.generate(a.seed, SF, data)
    gen_s = time.perf_counter() - t0

    specs = load_workloads()
    spec = specs[a.workload]
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan = {
        "workload": a.workload, "seed": a.seed, "trace": bool(a.trace),
        "cpus": os.cpu_count() or 4, "data": data, "work": run_dir,
        "out": os.path.join(run_dir, "records.jsonl"),
        "catalog": spec["timed"], "warm": spec["timed"] + spec["warm_only"],
        "membership": {w: members(s) for w, s in specs.items()},
        "legs": a.workload == "operators",
        "serve_calls": SERVE_CALLS, "known_wrong": spec["known_wrong"],
        "deadline_s": DEADLINE_S,
    }
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    rc = run_jvm(plan_path, os.path.join(run_dir, "harness.log"), deadline)
    if rc != 0:
        sys.stderr.write(open(os.path.join(run_dir, "harness.log")).read()[-4000:])
        raise SystemExit(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}")
    recs = read_records(plan["out"])
    result = summarize(a, plan, recs, gen_s)
    print(json.dumps(result), flush=True)


def summarize(a, plan, recs, gen_s):
    by = lambda t: [r for r in recs if r["t"] == t]
    conf = by("conf")[0]
    ops = by("op")
    info("perfbench: workload=%s seed=%d N=%d timed catalog jobs=%d of %d (%s), warm-only %s" % (
        a.workload, a.seed, conf["cpus"], len(plan["catalog"]),
        len(plan["membership"][a.workload]), ",".join(plan["catalog"]) or "none",
        ",".join(n for n in plan["warm"] if n not in plan["catalog"]) or "none"))
    info("perfbench: session conf " + " ".join(conf["conf"]))

    # output checks: catalog outputs against the DuckDB oracle, plus the
    # harness's own checks (graph references, serve rebuild equivalence)
    sql = {n: s for n, s in by("oracle_sql")[0]["sql"]}
    warm_ok = {o["name"] for o in ops if o["pass"] == "warm" and o["ok"] and o["kind"] == "catalog"}
    verdicts = oracle.check(os.path.join(plan["data"], "tables"),
                            os.path.join(plan["work"], "out"),
                            {n: s for n, s in sql.items() if n in warm_ok})
    for c in by("check"):
        verdicts[c["name"]] = None if c["ok"] else c["detail"]
    wrong = sorted(n for n, v in verdicts.items() if v is not None)
    known = set(plan["known_wrong"])
    for n in wrong:
        info(f"perfbench: WRONG {n}: {verdicts[n]}" +
             (" (a known failure, listed in workloads.json)" if n in known else ""))
    for n in sorted(known & set(verdicts) - set(wrong)):
        info(f"perfbench: {n} is listed as a known failure but now matches its oracle")

    failed = [o for o in ops if not o["ok"]]
    for o in failed:
        info(f"perfbench: FAILED {o['pass']} {o['name']}: {o['err']}")
    info("perfbench: fail_ratio=%.4f (%d of %d operations) wrong_results=%d (%d known; %d checked)" % (
        len(failed) / len(ops), len(failed), len(ops), len(wrong), len(known & set(wrong)),
        len(verdicts)))

    timed = [o for o in ops if o["pass"] == "timed"]
    wall = lambda o: (o["end"] - o["start"]) / 1e3
    batch = batch_seconds(timed)
    # set-up: input generation, JVM and session start, the harness's own
    # set-up up to its first operation (plan and cutover checks), and the
    # warm runs
    setup = gen_s + (ops[0]["start"] - conf["jvm_start_ms"]) / 1e3 + \
        sum(wall(o) for o in ops if o["pass"] == "warm")
    if plan["legs"]:
        serve_detail(timed)

    if not a.trace:
        out = {"setup_s": (setup, "s"), "batch_s": (batch, "s")}
    else:
        out = per_layer(a, plan, recs, ops, timed, conf["cpus"])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer" if a.trace else "end_to_end"]}
    if declared != {k: u for k, (_, u) in out.items()}:
        raise SystemExit("perfbench: metrics %s do not match BENCHMARK.json" % sorted(
            set(declared.items()) ^ {(k, u) for k, (_, u) in out.items()}))
    for k, (v, u) in out.items():
        if v != v:  # a probe whose operation failed; the failure is counted
            info(f"perfbench: {k} not measured")
            out[k] = (-1.0, u)
    return {
        "correct": not set(wrong) - known and not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }


def batch_seconds(timed):
    """Wall time of the timed operations: each catalog job's one timed run,
    and on operators the graph calls and the serve lifecycle."""
    return sum(o["end"] - o["start"] for o in timed) / 1e3


def serve_detail(timed):
    lat = lambda name: [(o["end"] - o["start"]) / 1e3 for o in timed if o["name"] == name]
    serves = lat("serve.query") + lat("serve.query_loaded")
    muts = lat("serve.upsert") + lat("serve.remove")
    tail = M.tail_percentile(serves)
    info("perfbench: serve build_s=%.4f serve_p50_ms=%.2f (n=%d) %s mutate_p50_s=%.4f (n=%d) "
         "publish_s=%.4f" % (
             sum(lat("serve.build")), 1e3 * M.median(serves), len(serves),
             "serve_p%g_ms=%.2f (n=%d)" % (tail[0], 1e3 * tail[1], tail[2]) if tail
             else "serve_tail_ms=n/a (fewer than 20 calls)",
             M.median(muts), len(muts), sum(lat("serve.publish"))))


# ---------------------------------------------------------------- trace

def per_layer(a, plan, recs, ops, timed, cpus):
    by = lambda t: [r for r in recs if r["t"] == t]
    jobs, stages, qes = by("job"), by("stage"), by("qe")
    traced = [o for o in ops if o["pass"] == "traced"]
    # layer probes, and the graph calls or serve lifecycle of the traced pass
    probes = [o for o in ops if o["pass"] == "probe" or
              (o["pass"] == "traced" and o["kind"] != "catalog")]
    job_of = M.attribute(jobs, traced)
    qe_of = M.attribute(qes, traced, at=lambda q: q["at"])
    my_jobs = [j for js in job_of for j in js]
    stage_ids = {s for j in my_jobs for s in j["stages"]}
    my_stages = [s for s in stages if s["id"] in stage_ids]
    my_qes = [q for qs in qe_of for q in qs]
    wall = lambda o: (o["end"] - o["start"]) / 1e3
    op_wall = sum(wall(o) for o in traced)
    ssum = lambda k: sum(s[k] for s in my_stages)
    gap = sum(wall(o) - M.union_length([(j["start"], j["end"]) for j in js], o["start"], o["end"]) / 1e3
              for o, js in zip(traced, job_of))
    skews = [s["task_max_s"] / s["task_median_s"] for s in my_stages
             if s["tasks"] >= 2 and s["task_median_s"] > 0]
    phase_sum = lambda name: sum((b - a_) / 1e3 for o in traced for n, a_, b in o["phases"] if n == name)
    untraced = batch_seconds(timed)
    mb = 1024.0 * 1024.0
    out = {
        "spark.jobs": (len(my_jobs), "count"),
        "spark.stages": (len(my_stages), "count"),
        "spark.tasks": (ssum("tasks"), "count"),
        "spark.task_busy_s": (ssum("busy_s"), "s"),
        "spark.task_cpu_s": (ssum("cpu_s"), "s"),
        "spark.slot_busy_ratio": (ssum("busy_s") / (op_wall * cpus), "ratio"),
        "spark.max_task_skew": (max(skews, default=1.0), "ratio"),
        "spark.driver_gap_s": (gap, "s"),
        "spark.gc_s": (ssum("gc_s"), "s"),
        "spark.input_mb": (ssum("input_b") / mb, "MB"),
        "spark.shuffle_read_mb": (ssum("shuffle_read_b") / mb, "MB"),
        "spark.shuffle_write_mb": (ssum("shuffle_write_b") / mb, "MB"),
        "spark.spill_mb": (ssum("spill_b") / mb, "MB"),
        "spark.failed_tasks": (ssum("failed"), "count"),
        "plans.actions": (len(my_qes), "count"),
        "plans.analysis_s": (sum(q["analysis_s"] for q in my_qes), "s"),
        "plans.optimize_s": (sum(q["optimize_s"] for q in my_qes), "s"),
        "plans.planning_s": (sum(q["planning_s"] for q in my_qes), "s"),
        "queries.build_s": (phase_sum("queries.build"), "s"),
        "queries.exec_s": (phase_sum("queries.exec"), "s"),
        "trace.overhead_ratio": (op_wall / untraced - 1.0, "ratio"),
    }
    for r in by("metric"):
        out[r["name"]] = (r["value"], r["unit"])

    # probes: one call per layer
    pjobs = M.attribute(jobs, probes)
    njobs = {}
    pwall = {}
    for o, js in zip(probes, pjobs):
        njobs.setdefault(o["name"], []).append(len(js))
        pwall.setdefault(o["name"], []).append(wall(o))
    first = lambda d, n: d[n][0] if n in d else float("nan")
    med = lambda d, n: M.median(d[n]) if n in d else float("nan")
    for g in ("cc", "pagerank"):
        out[f"operators.{g}.small_s"] = (first(pwall, f"operators.{g}.small"), "s")
        out[f"operators.{g}.large_s"] = (first(pwall, f"operators.{g}.large"), "s")
        out[f"operators.{g}.large_jobs"] = (first(njobs, f"operators.{g}.large"), "count")
    out["operators.dedup.minhash_pairs_s"] = (first(pwall, "operators.dedup.minhash_pairs"), "s")
    out["operators.rank.champion_index_s"] = (first(pwall, "operators.rank.champion_index"), "s")
    pipe = [(o, js) for o, js in zip(probes, pjobs) if o["name"] == "pipeline.run"]
    out["pipeline.run_s"] = (first(pwall, "pipeline.run"), "s")
    out["pipeline.driver_wait_s"] = (sum(
        wall(o) - M.union_length([(j["start"], j["end"]) for j in js], o["start"], o["end"]) / 1e3
        for o, js in pipe), "s")
    out["operators.serve.build_s"] = (first(pwall, "serve.build"), "s")
    out["operators.serve.build_jobs"] = (first(njobs, "serve.build"), "count")
    out["operators.serve.query_ms"] = (1e3 * med(pwall, "serve.query"), "ms")
    out["operators.serve.query_jobs"] = (med(njobs, "serve.query"), "count")
    for k in ("upsert", "remove"):
        out[f"operators.serve.{k}_s"] = (med(pwall, f"serve.{k}"), "s")
        out[f"operators.serve.{k}_jobs"] = (med(njobs, f"serve.{k}"), "count")
    pub = [o for o in probes if o["name"] == "serve.publish"][:1]
    for k in ("save", "load"):
        out[f"sinks.{k}_s"] = (sum((b - a_) / 1e3 for o in pub for n, a_, b in o["phases"]
                                   if n == f"sinks.{k}"), "s")
    index_dir = os.path.join(plan["work"], "index_traced" if plan["legs"] else "index_probe")
    out["sinks.bytes_written_mb"] = (dir_bytes(index_dir) / mb, "MB")

    write_spans(a, traced, job_of, untraced)
    return out


def write_spans(a, traced, job_of, untraced_s):
    """Spans of the traced runs (workload > job > phase > Spark job), kept
    in memory and written once at the end; each layer's self time is its
    spans' duration minus what their children cover. The traced runs are
    interleaved with the untraced ones, which appear as `untraced` spans."""
    run_id = f"{a.workload}-{a.seed}-{os.getpid()}"
    spans = [{"id": 0, "parent": None, "name": "workload", "layer": "workload",
              "start": traced[0]["start"], "end": traced[-1]["end"]}]
    for prev, nxt in zip(traced, traced[1:]):
        if nxt["start"] > prev["end"]:
            spans.append({"id": len(spans), "parent": 0, "name": "untraced", "layer": "untraced",
                          "start": prev["end"], "end": nxt["start"]})
    for o, js in zip(traced, job_of):
        oid = len(spans)
        spans.append({"id": oid, "parent": 0, "name": o["name"], "layer": "job",
                      "start": o["start"], "end": o["end"]})
        phases = []
        for n, s, e in o["phases"]:
            phases.append(len(spans))
            spans.append({"id": len(spans), "parent": oid, "name": n,
                          "layer": n.split(".")[0], "start": s, "end": e})
        for j in js:
            parent = next((p for p in phases if spans[p]["start"] <= j["start"] <= spans[p]["end"]), oid)
            spans.append({"id": len(spans), "parent": parent, "name": f"spark.job.{j['id']}",
                          "layer": "spark", "start": j["start"], "end": j["end"]})
    for s in spans:
        s["run"] = run_id
    self_t = M.self_times(spans)
    layers = {}
    for s in spans:
        if s["layer"] != "spark":
            layers[s["layer"]] = layers.get(s["layer"], 0.0) + self_t[s["id"]] / 1e3
    # Spark jobs may run concurrently: their layer time is the union of
    # their intervals inside each parent, so the layers sum to the wall
    kids = {}
    for s in spans:
        if s["layer"] == "spark":
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    layers["spark"] = sum(M.union_length(iv, spans[p]["start"], spans[p]["end"])
                          for p, iv in kids.items()) / 1e3
    # the untraced gaps aside, the layers' self times add up to the traced
    # operations' wall, by construction; set against the untraced wall of
    # the same operations that gives trace.overhead_ratio
    in_ops = sum(t for k, t in layers.items() if k != "untraced")
    info("perfbench: traced self time by layer " + " ".join(
        "%s=%.3fs" % kv for kv in sorted(layers.items())) +
        " (sum without untraced gaps %.3fs; the same operations untraced %.3fs)" % (in_ops, untraced_s))
    with open(os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
        json.dump({"run": run_id, "spans": spans,
                   "self_s_by_layer": layers}, f)


if __name__ == "__main__":
    main()
