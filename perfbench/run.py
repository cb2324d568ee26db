#!/usr/bin/env python3
"""The repository benchmark: one command, seeded workloads, checked output.

    python3 perfbench/run.py --workload procedures --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. It compiles ``src/main/scala`` plus the
benchmark's JVM side with the Scala compiler shipped in Spark's jars
(cached by source hash under ``.bench_build/``), generates the seeded
inputs (``gen.py``), runs closed-loop passes of the workload for
``--seconds`` in one JVM against ``local[nproc]``, checks every call's
output (``check.py``) and prints one JSON line last. ``--trace 1`` reports
the per-layer metrics instead of the end-to-end ones and writes the span
tree to ``.bench_build/perfbench/traces/``. See ``perfbench/README.md``.

Exit codes: 0 = every call correct; 1 = a call failed or was wrong (the
JSON line says ``"correct": false``); 2 = the benchmark could not run
(nothing printed on stdout).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("procedures", "stream_state")
MODULES = ("io", "profile", "dq", "security", "catalog", "interp", "orch",
           "exec", "pipeline", "text", "dedup", "sim", "streaming", "graph")
# sf tables each workload reads (the denominator of write_amp)
TABLES = {
    "procedures": ["lineitem", "orders", "events", "customer"],
    "stream_state": ["documents", "embeddings", "lineitem"],
}
BUILD = os.path.join(".bench_build", "perfbench")
MB = 1024.0 * 1024.0
# every run ends well inside the 180 s a run may take
RUN_DEADLINE_S = 175
FIRST_RUN_DEADLINE_S = 890
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class Abort(Exception):
    """The benchmark could not run; nothing goes to stdout."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def spark_jars():
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(
            os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise Abort("no Spark distribution with a Scala compiler found "
                "(set SPARK_HOME)")


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        raise Abort("no src/main/scala sources: run from the repository root")
    own = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                           recursive=True))
    return srcs + own


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(jars.encode())
    out = os.path.join(BUILD, f"classes-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(os.path.abspath(p) for p in srcs))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    log(f"compiling {len(srcs)} sources")
    res = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", cp, "-d", out, "-nowarn", f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(res.stdout[-4000:])
        raise Abort("compilation failed")
    open(os.path.join(out, ".ok"), "w").close()
    log(f"compiled in {time.time() - t0:.1f}s")
    return out


# -------------------------------------------------------------------- run

def driver_mem():
    """Tier-1's SPARK_DRIVER_MEM: half the host memory, 2g..8g."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cpus():
    return str(len(os.sched_getaffinity(0)))


def run_jvm(classes, jars, args, run_dir, deadline):
    work_tmp = os.path.abspath(os.path.join(run_dir, "work", "tmp"))
    os.makedirs(work_tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = env.get("SPARK_GRAFT_CPUS") or cpus()
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # a fixed heap: the full collection between calls (Main.scala)
        # must not shrink it
        f"-Xms{driver_mem()}", f"-Xmx{driver_mem()}",
        "-XX:ReservedCodeCacheSize=1g",
        f"-Djava.io.tmpdir={work_tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work_tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={work_tmp}",
        "-Dspark.sql.warehouse.dir="
        f"{os.path.abspath(os.path.join(run_dir, 'work', 'warehouse'))}",
        "-Dderby.system.home="
        f"{os.path.abspath(os.path.join(run_dir, 'work', 'derby'))}",
        "-cp", f"{os.path.abspath(classes)}:{os.path.join(jars, '*')}",
        "graft.perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise Abort("the JVM did not finish in time")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        raise Abort(f"the JVM exited with code {rc}")
    with open(os.path.join(run_dir, "report.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    ivs = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                 if b > a and min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in ivs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def input_bytes(workload, sf_dir, gen_dir):
    n = sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
            for t in TABLES[workload])
    with open(os.path.join(gen_dir, "manifest.json")) as f:
        n += sum(v["bytes"] for v in json.load(f)["inputs"].values())
    return n


def end_to_end(workload, rep):
    calls = rep["calls"]
    measured = sum(p["dur_s"] for p in rep["passes"])
    if workload == "stream_state":
        # input documents per second of the stream's own calls; the
        # other calls count in wall_s only
        lat = [b["ms"] / 1e3 for b in rep["batches"] if b["call"] >= 0]
        items = sum(b["rows"] for b in rep["batches"] if b["call"] >= 0)
        busy = sum(c["dur_s"] for c in calls if c["stream"])
    else:
        lat = [c["dur_s"] for c in calls]
        items = len(calls)
        busy = measured
    if not lat or busy <= 0:
        raise Abort("the run measured no calls")
    return {
        "setup_s": (rep["setup_s"], "s"),
        "wall_s": (statistics.median(p["dur_s"] for p in rep["passes"]),
                   "s"),
        "items_per_s": (items / busy, "items/s"),
        "call_p50_s": (statistics.median(lat), "s"),
    }, len(lat)


def per_layer(rep, failed, attempted, in_bytes):
    calls = rep["calls"]
    stats = rep.get("call_stats", {})
    jobs_by_call = {}
    for j in rep.get("jobs", []):
        if j["end_ms"] > 0:
            jobs_by_call.setdefault(j["call"], []).append(
                (j["start_ms"], j["end_ms"]))
    zero = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "task_ms": 0, "cpu_ns": 0, "gc_ms": 0, "sched_wait_ms": 0,
            "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0,
            "output_b": 0}
    m = {}
    for mod in MODULES:
        for k, u in (("calls", "count"), ("busy_s", "s"), ("driver_s", "s"),
                     ("jobs", "count"), ("task_s", "s")):
            m[f"{mod}.{k}"] = [0.0, u]
    tot = dict(zero)
    driver_total = 0.0
    for c in calls:
        s = stats.get(str(c["id"]), zero)
        for k in tot:
            tot[k] += s[k]
        covered = union_ms(jobs_by_call.get(c["id"], []),
                           c["start_ms"], c["end_ms"]) / 1e3
        drv = max(0.0, c["dur_s"] - covered)
        driver_total += drv
        mod = c["module"]
        m[f"{mod}.calls"][0] += 1
        m[f"{mod}.busy_s"][0] += c["dur_s"]
        m[f"{mod}.driver_s"][0] += drv
        m[f"{mod}.jobs"][0] += s["jobs"]
        m[f"{mod}.task_s"][0] += s["task_ms"] / 1e3
    measured = sum(p["dur_s"] for p in rep["passes"])
    windows = [(c["start_ms"], c["end_ms"]) for c in calls]
    plan_ms = sum(b - a for a, b in
                  ((p["start_ms"], p["end_ms"])
                   for p in rep.get("plan_phases", []))
                  if any(lo <= a and b <= hi for lo, hi in windows))
    sp = {
        "plan_s": (plan_ms / 1e3, "s"),
        "jobs": (tot["jobs"], "count"), "stages": (tot["stages"], "count"),
        "tasks": (tot["tasks"], "count"),
        "task_s": (tot["task_ms"] / 1e3, "s"),
        "cpu_s": (tot["cpu_ns"] / 1e9, "s"),
        "gc_s": (tot["gc_ms"] / 1e3, "s"),
        "sched_wait_s": (tot["sched_wait_ms"] / 1e3, "s"),
        "driver_s": (driver_total, "s"),
        "core_util": (tot["task_ms"] / 1e3 / (measured * rep["cores"]),
                      "ratio"),
        "shuffle_read_mb": (tot["shuffle_read_b"] / MB, "MB"),
        "shuffle_write_mb": (tot["shuffle_write_b"] / MB, "MB"),
        "spill_mb": (tot["spill_b"] / MB, "MB"),
        "failed_tasks": (tot["failed_tasks"], "count"),
    }
    for k, v in sp.items():
        m[f"spark.{k}"] = list(v)
    # streaming state: micro-batches, compactions, persisted state
    stream_ids = {c["id"]: c["key"] for c in calls if c["stream"]}
    samples = [b for b in rep["batches"] if b["call"] in stream_ids]
    compacting = {(x["key"], x["batch"]) for x in rep["compacting_batches"]}
    comp_s = 0.0
    for key in set(stream_ids.values()):
        mine = [b for b in samples if stream_ids[b["call"]] == key]
        plain = [b["ms"] for b in mine if (key, b["batch"]) not in compacting]
        base = statistics.median(plain) if plain else 0.0
        comp_s += sum(max(0.0, b["ms"] - base) / 1e3 for b in mine
                      if (key, b["batch"]) in compacting)
    last = {}
    for s in rep["stream_state"]:
        last[s["key"]] = s
    state_b = sum(s["bytes"] for s in last.values())
    stream_out = sum(stats.get(str(i), zero)["output_b"] for i in stream_ids)
    m.update({
        "streaming.batches": [len(samples), "count"],
        "streaming.input_rows": [sum(b["rows"] for b in samples), "count"],
        "streaming.compactions": [len(rep["compacting_batches"]), "count"],
        "streaming.compaction_s": [comp_s, "s"],
        "streaming.state_files": [sum(s["files"] for s in last.values()),
                                  "count"],
        "streaming.state_write_mb": [stream_out / MB, "MB"],
        "run.write_amp": [tot["output_b"] / in_bytes if in_bytes else 0.0,
                          "ratio"],
        "run.state_mb": [state_b / MB, "MB"],
        "run.peak_rss_mb": [rep["peak_rss_mb"], "MB"],
        "run.error_rate": [failed / attempted, "ratio"],
        "run.traced_wall_s": [
            statistics.median(p["dur_s"] for p in rep["passes"]), "s"],
    })
    return {k: (v[0], v[1]) for k, v in m.items()}


def spans(workload, rep):
    """workload → pass → call → job → stage; self time = own duration
    minus the union of the children's."""
    out = []
    passes = rep["passes"]
    root = {"id": "w", "parent": None, "name": workload, "call": None,
            "start_ms": min(p["start_ms"] for p in passes),
            "end_ms": max(p["end_ms"] for p in passes)}
    out.append(root)
    for i, p in enumerate(passes):
        out.append({"id": f"p{i}", "parent": "w", "name": f"pass {i}",
                    "call": None, "start_ms": p["start_ms"],
                    "end_ms": p["end_ms"]})
    for c in rep["calls"]:
        out.append({"id": f"c{c['id']}", "parent": f"p{c['pass']}",
                    "name": f"{c['module']}:{c['key']}", "call": c["id"],
                    "start_ms": c["start_ms"], "end_ms": c["end_ms"]})
    stage_job = {}
    for j in rep.get("jobs", []):
        if j["call"] < 0:
            continue
        out.append({"id": f"j{j['id']}", "parent": f"c{j['call']}",
                    "name": f"job {j['id']}", "call": j["call"],
                    "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
        for sid in j["stages"]:
            stage_job.setdefault(int(sid), j["id"])
    for s in rep.get("stages", []):
        if s["call"] < 0 or s["id"] not in stage_job:
            continue
        out.append({"id": f"s{s['id']}", "parent": f"j{stage_job[s['id']]}",
                    "name": f"stage {s['id']}", "call": s["call"],
                    "start_ms": s["start_ms"], "end_ms": s["end_ms"]})
    kids = {}
    for s in out:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in out:
        s["self_ms"] = (s["end_ms"] - s["start_ms"]) - union_ms(
            kids.get(s["id"], []), s["start_ms"], s["end_ms"])
    return out


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="record the regression fingerprints of this "
                         "commit's results into perfbench/fingerprints.json")
    a = ap.parse_args()
    t_start = time.time()
    sf = os.environ.get("PERFBENCH_SF_DIR") or os.environ.get(
        "SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")
    # The warm-up runs the measured calls on inputs made from sf0.001.
    # Warming up on the sf0.1 inputs, or on sf0.01, cost 10-20 s more per
    # run on 4 cores without steadying the measured pass.
    warm_sf = os.path.join(os.path.dirname(sf.rstrip("/")), "sf0.001")
    try:
        first_build = not glob.glob(os.path.join(BUILD, "classes-*", ".ok"))
        deadline = t_start + (FIRST_RUN_DEADLINE_S if first_build
                              else RUN_DEADLINE_S)
        jars = spark_jars()
        classes = build(jars)
        for d in (sf, warm_sf):
            if not os.path.isfile(os.path.join(d, "events.parquet")):
                raise Abort(f"source tables not found under {d} "
                            "(set PERFBENCH_SF_DIR)")
        inputs = os.path.join(BUILD, "inputs")
        gen_dir = gen.generate(a.workload, sf, inputs, a.seed)
        warm_dir = gen.generate(a.workload, warm_sf, inputs, a.seed,
                                warm=True)
        with open(os.path.join(gen_dir, "manifest.json")) as f:
            manifest = json.load(f)
        run_dir = os.path.join(BUILD, "runs",
                               f"{a.workload}-{a.seed}-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        rep = run_jvm(classes, jars, [
            a.workload, os.path.abspath(sf), os.path.abspath(gen_dir),
            os.path.abspath(warm_sf), os.path.abspath(warm_dir),
            str(a.seed), manifest["split"], str(manifest["merge_mod"]),
            str(a.seconds), str(a.trace),
            os.path.abspath(run_dir)], run_dir, deadline)
    except Abort as e:
        log(f"error: {e}")
        return 2

    # ---- output checks (outside every timed window) ----
    checker = check.Checker(sf, gen_dir, os.path.join(BUILD, "oracle"),
                            rep["oracle_sql"])
    wrong_keys = {}
    for key in sorted({c["key"] for c in rep["calls"]}):
        c = next(x for x in rep["calls"] if x["key"] == key)
        dump = os.path.join(run_dir, "results", f"{key}.json")
        if a.record_fingerprints and c["check"] == "fingerprint":
            with open(dump) as f:
                rows = json.load(f)["rows"]
            check.record_fingerprint(key, checker.stamp, rows)
            continue
        if not os.path.exists(dump):
            continue  # every call of the key failed: counted below
        reason = checker.check(key, c["check"], dump)
        if reason:
            wrong_keys[key] = reason
    failed = 0
    for c in rep["calls"]:
        if c["error"] or c["key"] in wrong_keys:
            failed += 1
    for key, why in wrong_keys.items():
        log(f"WRONG {key}: {why}")
    for c in rep["calls"]:
        if c["error"]:
            log(f"FAILED {c['key']} (pass {c['pass']}): {c['error']}")
    attempted = len(rep["calls"])

    try:
        e2e, n_lat = end_to_end(a.workload, rep)
    except Abort as e:
        log(f"error: {e}")
        return 2
    in_bytes = input_bytes(a.workload, sf, gen_dir)
    if a.trace:
        metrics = per_layer(rep, failed, attempted, in_bytes)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        tpath = os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json")
        with open(tpath, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "spans": spans(a.workload, rep)}, f)
        log(f"trace written to {tpath}")
    else:
        metrics = e2e
    log(f"workload={a.workload} seed={a.seed} passes={len(rep['passes'])} "
        f"calls={attempted} failed={failed} latency_samples={n_lat} "
        f"error_rate={failed / attempted:.4f} "
        f"setup_s={rep['setup_s']} session_s={rep['session_s']} "
        f"warm_up_s={sum(rep['warm_up_s'].values()):.2f} "
        f"inputs={json.dumps(manifest['inputs'], sort_keys=True)}")
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    shutil.copy(os.path.join(run_dir, "report.json"), os.path.join(
        reports, f"{a.workload}-{a.seed}-t{a.trace}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
