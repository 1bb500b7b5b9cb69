#!/usr/bin/env python3
"""Benchmark of the green-taxi pipeline and the query suite.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness with sbt (perfbench/build.sbt) and digests the DuckDB twins; later
runs reuse both until a source file changes. Workloads, metrics and the
layer map are described in perfbench/README.md.

The last line of stdout is one JSON object: the correctness verdict, the
operations attempted and failed, and the metrics (end-to-end ones with
--trace 0, per-layer ones with --trace 1).
"""
import argparse
import hashlib
import json
import os
import re
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ["taxi_pipeline", "query_power", "query_streams"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import oracle  # noqa: E402


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _source_files():
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    for f in ["build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"]:
        yield os.path.join(ROOT, f)


def build():
    """sbt-compiles the program and the harness; returns the classpath."""
    for f in ["build.sbt", "src/main/scala"]:
        if not os.path.exists(os.path.join(ROOT, f)):
            raise BenchError("run from a checkout of the repository: %s is missing" % f)
    h = hashlib.sha256()
    for f in sorted(_source_files()):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.json")
    if os.path.exists(stamp_file):
        saved = json.load(open(stamp_file))
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt (log: perfbench/out/build.log)")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = _run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "export perfbench/Runtime/fullClasspath"],
                  cwd=HERE, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in open(os.path.join(WORK, "build.log")) if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        raise BenchError("sbt build failed (rc=%s), see perfbench/out/build.log" % rc)
    classpath = lines[-1]
    log("built in %.1f s" % (time.time() - t0))
    # the oracle SQL belongs to the program: dump it per build
    res = jvm(classpath, "oracle-sql", 0, 0, 0)
    with open(os.path.join(WORK, "oracle_sql.json"), "w") as f:
        json.dump(res["sql"], f, sort_keys=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def _run(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError("%s timed out after %d s" % (cmd[0], timeout))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ------------------------------------------------------------------ jvm

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def jvm(classpath, workload, seed, passes, trace):
    """Runs perfbench.Main and returns its result JSON."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(WORK, "result-%s.json" % workload)
    if os.path.exists(result):
        os.remove(result)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    # keep the program's scratch inside the checkout, and give it no
    # reference fixture: the flagship_* queries fail and are counted
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "scratch")
    env["SPARK_GRAFT_REF_DIR"] = os.path.join(WORK, "no-reference")
    cmd = ["java", "-Xmx3g", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", workload, str(seed), str(passes),
            str(trace), WORK, DATA, result]
    with open(os.path.join(WORK, "jvm-%s.log" % workload), "w") as err:
        rc = _run(cmd, timeout=JVM_TIMEOUT_S, cwd=WORK, env=env,
                  stdout=err, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(result):
        raise BenchError("JVM failed (rc=%s), see perfbench/out/jvm-%s.log" % (rc, workload))
    return json.load(open(result))


# -------------------------------------------------------------- metrics

def pct(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def check_queries(ops, oracle_cache):
    """Marks each query op failed when its rows or digest miss the twin."""
    for op in ops:
        if not op["ok"]:
            continue
        want = oracle_cache.get(op["name"])
        if want is None:
            op["ok"] = False
            op["error"] = "no DuckDB twin"
        elif want["rows"] != op["rows"] or want["digest"] != op["digest"]:
            op["ok"] = False
            op["error"] = "mismatch: rows %s vs twin %s" % (op["rows"], want["rows"])


def twins(names):
    """DuckDB digests of these queries' twins, computed once per input."""
    sqls = json.load(open(os.path.join(WORK, "oracle_sql.json")))
    path = os.path.join(WORK, "oracle_sql_panel.json")
    with open(path, "w") as f:
        # flagship_* twins read the absent reference fixture: not run
        json.dump({n: sqls[n] for n in names
                   if n in sqls and not n.startswith("flagship_")}, f)
    return oracle.ensure(DATA, path, os.path.join(WORK, "oracle.json"), log)


def latencies(window):
    """Seconds of the operations that produce a result: not the taxi reject
    run, not a failed query."""
    return [o["s"] for o in window["ops"] if o["ok"] and o["name"] != "reject"] or [1e9]


def end_to_end(res, window):
    """op_mean_s covers the operations that produce a result; pass_s and
    ops_ok_ratio cover every operation of a pass."""
    ops = window["ops"]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "op_mean_s": statistics.mean(latencies(window)),
        "pass_s": statistics.median(window["passes"]),
        "peak_heap_mb": window["peak_heap_mb"],
        "ops_ok_ratio": sum(o["ok"] for o in ops) / len(ops),
    }


def _spec():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def ops_objects():
    """Query name -> the object its SparkEntry.queries entry calls."""
    src = open(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")).read()
    block = src[src.index("def queries"):src.index("def oracleSql")]
    found = {}
    entries = re.split(r'\n\s*(?="[a-z0-9_]+"\s*->)', block)
    for e in entries:
        m = re.match(r'"([a-z0-9_]+)"\s*->', e)
        objs = re.findall(r'([A-Z]\w*)\.\w+\s*[_(]', e)
        if m and objs:
            found[m.group(1)] = objs[-1]
    where = {}
    for d, _, files in os.walk(os.path.join(ROOT, "src/main/scala/graft")):
        pkg = os.path.relpath(d, os.path.join(ROOT, "src/main/scala/graft"))
        for f in files:
            where[f[:-len(".scala")]] = "" if pkg == "." else pkg.replace(os.sep, ".") + "."
    return {q: where.get(o, "") + o for q, o in found.items()}


TAXI_LAYERS = ["ingest.validate", "sink.write01", "features.build", "sink.write02"]
ACC_KEYS = ["stages", "tasks", "task_run_s", "task_cpu_s", "task_gc_s", "input_bytes",
            "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
            "spill_memory_bytes", "spill_disk_bytes", "stage_wait_s"]


def taxi_layers(jobs):
    """Job id -> layer of GreenTaxiPipeline.run. A file write is a sink by
    its output directory (01 or 02); any other job is charged by the
    program frames of its call site: Ingest to ingest, Features to features,
    and the rest (the footer read of 01 that feeds Features) to the layer
    it falls in, features after the 01 write, ingest before it."""
    layer = {}
    seen01 = set()
    for j in sorted(jobs, key=lambda j: j["id"]):
        leaf = (j["write_path"] or "").rstrip("/").rsplit("/", 1)[-1]
        frames = " ".join(j["frames"])
        if "01" in leaf:
            name = "sink.write01"
            seen01.add(j["group"])
        elif "02" in leaf:
            name = "sink.write02"
        elif "graft.ingest.Ingest$" in frames:
            name = "ingest.validate"
        elif "graft.features." in frames or j["group"] in seen01:
            name = "features.build"
        else:
            name = "ingest.validate"
        layer[j["id"]] = name
    return layer


def taxi_spans(op, jobs, layer):
    """Splits one traced pipeline run into layer spans by its jobs' end
    times: each job's layer is charged from the previous job's end (or the
    start of the run) to its own end, so driver work before a job (planning,
    file moves) counts with it. Returns the spans and the remainder: the
    time after the last job."""
    spans = dict.fromkeys(TAXI_LAYERS, 0.0)
    prev = op["start_ms"]
    for j in sorted((j for j in jobs if j["group"] == op["group"]),
                    key=lambda j: (j["end_ms"], j["id"])):
        spans[layer[j["id"]]] += max(0, j["end_ms"] - prev) / 1e3
        prev = max(prev, j["end_ms"])
    return spans, (op["end_ms"] - prev) / 1e3


def per_layer(workload, res, traced_e2e, untraced_e2e):
    """Names and normalises the traced passes' counters (per pass)."""
    lay = res["layers"]
    window = res["traced"]
    ops = window["ops"]
    passes = len(window["passes"])
    jobs = lay["jobs"]
    taxi = workload.startswith("taxi")
    if taxi:
        # only the pipeline's own jobs: not the harness's output checks
        jobs = [j for j in jobs if j["group"].startswith(("pipeline:", "reject:"))]
        layer = taxi_layers(jobs)
        key = {j["id"]: ("reject:" if j["group"].startswith("reject") else "") + layer[j["id"]]
               for j in jobs}
    else:
        key = {j["id"]: j["group"] for j in jobs}
    groups = {}
    for j in jobs:
        g = groups.setdefault(key[j["id"]], dict.fromkeys(["jobs"] + ACC_KEYS, 0))
        g["jobs"] += 1
        for k in ACC_KEYS:
            g[k] += j[k]
    zero = dict.fromkeys(["jobs"] + ACC_KEYS, 0)

    def total(k):
        return sum(v[k] for v in groups.values())

    def grp(name):
        return groups.get(name, zero)

    spans, reject_spans = dict.fromkeys(TAXI_LAYERS, 0.0), dict.fromkeys(TAXI_LAYERS, 0.0)
    remainder = 0.0
    if taxi:
        for o in ops:
            s, r = taxi_spans(o, jobs, layer)
            into = reject_spans if o["name"] == "reject" else spans
            for k, v in s.items():
                into[k] += v
            if o["name"] != "reject":
                remainder += r
        build_groups = {"ingest.validate", "features.build"}
        build_s = spans["ingest.validate"] + spans["features.build"]
        exec_s = spans["sink.write01"] + spans["sink.write02"]
    else:
        build_groups = {g for g in groups if g.startswith("build:")}
        build_s = sum(o["build_s"] for o in ops)
        exec_s = sum(o["s"] - o["build_s"] for o in ops)
    plan = lay["plan_s"]
    csv_bytes = res.get("csv_bytes", 0) or 1
    run_s = total("task_run_s")
    m = {
        "input.resolve_s": statistics.median(res["resolve_s"]),
        "build_s": build_s / passes,
        "build_jobs": sum(grp(g)["jobs"] for g in build_groups) / passes,
        "exec_s": exec_s / passes,
        "plan.analysis_s": plan.get("analysis", 0) / passes,
        "plan.optimization_s": plan.get("optimization", 0) / passes,
        "plan.planning_s": plan.get("planning", 0) / passes,
        "sched.jobs": total("jobs") / passes,
        "sched.stages": total("stages") / passes,
        "sched.tasks": total("tasks") / passes,
        "sched.stage_wait_s": total("stage_wait_s") / passes,
        "exec.task_run_s": run_s / passes,
        "exec.task_cpu_s": total("task_cpu_s") / passes,
        "exec.gc_s": total("task_gc_s") / passes,
        "exec.busy_core_share": run_s / (window["wall_s"] * lay["cores"]),
        "shuffle.write_bytes": total("shuffle_write_bytes") / passes,
        "shuffle.read_bytes": total("shuffle_read_bytes") / passes,
        "spill.memory_bytes": total("spill_memory_bytes") / passes,
        "spill.disk_bytes": total("spill_disk_bytes") / passes,
        "cache.persisted_rdds": lay["persisted_rdds"] / passes,
        "log.already_cached": lay["logs"]["already_cached"] / passes,
        "log.block_exists": lay["logs"]["block_exists"] / passes,
        "log.window_no_partition": lay["logs"]["window_no_partition"] / passes,
        "ingest.jobs": grp("ingest.validate")["jobs"] / passes if taxi else 0,
        "ingest.text_scan_ratio": (grp("ingest.validate")["input_bytes"]
                                   + grp("sink.write01")["input_bytes"])
                                  / passes / csv_bytes if taxi else 0,
        "sink.write01_tasks": grp("sink.write01")["tasks"] / passes if taxi else 0,
        "sink.write02_tasks": grp("sink.write02")["tasks"] / passes if taxi else 0,
        "sink.stored_bytes_ratio": statistics.median(o["bytes"] for o in ops
                                                     if o["name"] == "pipeline") / csv_bytes
                                   if taxi else 0,
        "trace.overhead_s": traced_e2e["op_mean_s"] - untraced_e2e["op_mean_s"],
    }
    detail = {"per_layer": m, "passes": passes, "cores": lay["cores"],
              "plan_executions": plan.get("executions", 0) / passes,
              "shuffle.fetch_wait_s": total("fetch_wait_s") / passes}
    if taxi:
        detail["spans_s"] = {k + "_s": v / passes for k, v in spans.items()}
        detail["reject_spans_s"] = {k + "_s": v / passes for k, v in reject_spans.items()}
        detail["jobs_per_layer"] = {k: v["jobs"] / passes for k, v in sorted(groups.items())}
        # no job of its own: the header read is timed as a call in each set-up
        detail["ingest.header_s"] = m["input.resolve_s"]
        detail["reject_s_untraced"] = statistics.median(
            o["s"] for o in res["untraced"]["ops"] if o["name"] == "reject")
        detail["reject.ingest.jobs"] = grp("reject:ingest.validate")["jobs"] / passes
        span_sum = sum(detail["spans_s"].values())
        detail["span_sum_s"] = span_sum
        # what the jobs leave out: the time after the last job of each run
        detail["remainder_s"] = remainder / passes
        detail["pipeline_s_traced"] = traced_e2e["op_mean_s"]
        detail["pipeline_s_untraced"] = untraced_e2e["op_mean_s"]
        detail["untraced_minus_spans_s"] = untraced_e2e["op_mean_s"] - span_sum
    else:
        owners = ops_objects()
        per_q = {}
        for o in ops:
            q = per_q.setdefault(o["name"], {"runs": 0, "s": 0.0, "build_s": 0.0,
                                             "plan.analysis_s": 0.0,
                                             "plan.optimization_s": 0.0,
                                             "plan.planning_s": 0.0})
            q["runs"] += 1
            q["s"] += o["s"]
            q["build_s"] += o["build_s"]
            for k in ["analysis", "optimization", "planning"]:
                q["plan.%s_s" % k] += o["plan"].get(k, 0)
        by_obj = {}
        for name, q in per_q.items():
            b, x = grp("build:" + name), grp("exec:" + name)
            q.update({"build_jobs": b["jobs"], "exec_s": q["s"] - q["build_s"],
                      "sched.jobs": b["jobs"] + x["jobs"],
                      "sched.stages": b["stages"] + x["stages"],
                      "sched.tasks": b["tasks"] + x["tasks"],
                      "shuffle.fetch_wait_s": b["fetch_wait_s"] + x["fetch_wait_s"]})
            obj = by_obj.setdefault(owners.get(name, "?"), {"queries": 0})
            obj["queries"] += 1
            for k, v in q.items():
                if k != "runs":
                    obj[k] = obj.get(k, 0) + v / passes
        detail["per_query"] = per_q
        detail["per_object"] = {"ops." + k if "." not in k else k: v
                                for k, v in sorted(by_obj.items())}
        detail["build_jobs_queries"] = sorted(n for n, q in per_q.items()
                                              if q["build_jobs"] > 0)
        detail["tables.resolve_s"] = m["input.resolve_s"]
    return m, detail


def compose(workload, seed, res, trace):
    """(correct, attempted, failed, metrics, lines) for one run."""
    windows = [res["untraced"]] + ([res["traced"]] if trace else [])
    for w in windows:
        if workload.startswith("query"):
            check_queries(w["ops"], twins(res["panel"]))
    ops = [o for w in windows for o in w["ops"]]
    failed = [o for o in ops if not o["ok"]]
    # without the reference fixture the flagship_* queries must fail; they
    # count as failed operations but not as wrong results
    correct = all(o["name"].startswith("flagship_") for o in failed)
    lat = latencies(res["untraced"])
    lines = ["%s seed=%d cores=%d passes=%d ops=%d failed=%d" % (
                 workload, seed, res["cpus"], len(res["untraced"]["passes"]), len(ops),
                 len(failed)),
             # too few samples for a gated percentile; printed for reading
             "latency p50 %.4f s, p90 %.4f s over %d samples"
             % (statistics.median(lat), pct(lat, 90), len(lat))]
    rejects = [o["s"] for o in res["untraced"]["ops"] if o["name"] == "reject"]
    if rejects:
        lines.append("reject_s (to the typed exception) p50 %.4f s over %d runs"
                     % (statistics.median(rejects), len(rejects)))
    for o in failed:
        lines.append("  failed: %s: %s" % (o["name"], o["error"][:160]))
    spec = _spec()
    e2e = end_to_end(res, res["untraced"])
    if not trace:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        traced = end_to_end(res, res["traced"])
        for x in spec["end_to_end"]:
            k = x["name"]
            d = traced[k] - e2e[k]
            lines.append("tracing overhead %-13s %+.4f %s (%+.1f%%)"
                         % (k, d, x["unit"], 100 * d / e2e[k] if e2e[k] else 0))
        m, detail = per_layer(workload, res, traced, e2e)
        detail.update({"seed": seed, "end_to_end_untraced": e2e,
                       "end_to_end_traced": traced})
        save_trace(workload, detail)
        metrics = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
                   for x in spec["per_layer"]}
        if workload == "query_power":
            lines.append("queries with build_jobs > 0: " +
                         " ".join(detail["build_jobs_queries"]))
        if workload.startswith("taxi"):
            lines.append("spans %s sum %.3f s; traced pipeline_s %.3f s, remainder %.3f s "
                         "after the last job; untraced pipeline_s %.3f s"
                         % (json.dumps({k: round(v, 3) for k, v in detail["spans_s"].items()}),
                            detail["span_sum_s"], detail["pipeline_s_traced"],
                            detail["remainder_s"], detail["pipeline_s_untraced"]))
    for k, v in metrics.items():
        lines.append("  %-26s %14.6f %s" % (k, v["value"], v["unit"]))
    return correct, len(ops), len(failed), metrics, lines


def save_trace(workload, detail):
    path = os.path.join(WORK, "trace.json")
    all_ = json.load(open(path)) if os.path.exists(path) else {}
    all_[workload] = detail
    with open(path + ".tmp", "w") as f:
        json.dump(all_, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def main():
    # a SIGTERM unwinds through _run, which kills the JVM or sbt it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    try:
        classpath = build()
        spec = json.load(open(os.path.join(HERE, "workloads.json")))
        if a.workload.startswith("query"):
            with open(os.path.join(WORK, "panel.txt"), "w") as f:
                f.write("\n".join(spec["panel"]) + "\n")
        # a fixed amount of work per run: the passes the reference box
        # (workloads.json) finishes in --seconds
        passes = max(1, round(a.seconds / spec["pass_s"][a.workload]))
        res = jvm(classpath, a.workload, a.seed, passes, a.trace)
    except BenchError as e:
        log("error: %s" % e)
        return 1
    correct, attempted, failed, metrics, lines = compose(a.workload, a.seed, res, a.trace)
    for line in lines:
        print(line)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
