#!/usr/bin/env python3
"""Run one benchmark workload end to end and print its metrics.

    python3 perfbench/run.py --workload graph_oltp --seed 1 --seconds 10 --trace 0

Workloads: graph_oltp, graph_analytics, llm_curation (see README.md).
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics; `--trace 1` reports the per-layer metrics and writes the
span report to perfbench/.work/trace-<workload>-<seed>.json. The exit code is
non-zero when any output check fails or the engine cannot be built.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("graph_oltp", "graph_analytics", "llm_curation")
JVM_TIMEOUT_S = 150


def spark_home():
    """SPARK_HOME, else the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return home


CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# end-to-end metrics in the result line: name -> unit. Throughput, read and
# write latencies are printed too; at one pass per run throughput is the
# pass's op count over wall_s, and the latency medians of one pass spread
# too much from run to run to gate on.
END_TO_END = {"setup_s": "s", "wall_s": "s", "live_heap_peak_mb": "MB"}
# per-layer metrics every workload reports, in the result line: name -> unit
# (the trace report and the printed lines carry every per-layer metric)
PER_LAYER = {"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
             "spark.exec_run_s": "s", "spark.exec_cpu_s": "s", "spark.gc_s": "s",
             "spark.shuffle_write_mb": "MB", "spark.result_mb": "MB", "spark.idle_s": "s",
             "spark.core_util": "ratio", "model.session.s": "s", "model.tables.s": "s",
             "model.graph.s": "s", "model.cache_mb": "MB"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of everything the JVM build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine plus the harness unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources not found next to perfbench/; run from a full checkout")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return digest
    # sbt's temporary files stay inside the checkout
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), TMPDIR=tmp, JAVA_TOOL_OPTIONS=(
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"))
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true",
                              "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
                              "compile"],
                             cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (see {log})")
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


def primed_cache(workload, digest):
    """The workload's primed derived cache (empty for a workload without
    prime steps), filled in a JVM of its own once per build and fixture;
    every setup of every run opens a copy of it."""
    h = hashlib.sha256(digest.encode())
    h.update(gen.FIXTURE.encode())  # the engine keys its cache on the data path
    for f in sorted(os.listdir(gen.FIXTURE)):
        st = os.stat(os.path.join(gen.FIXTURE, f))
        h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}".encode())
    done = os.path.join(HERE, "target", f"prime-{workload}-{h.hexdigest()[:16]}")
    if not os.path.isdir(done):
        for old in glob.glob(os.path.join(HERE, "target", f"prime-{workload}-*")):
            shutil.rmtree(old, ignore_errors=True)  # of earlier builds
        work = f"{done}.{os.getpid()}"
        try:
            jvm(work, "prime", workload)
        except SystemExit:
            shutil.rmtree(work, ignore_errors=True)
            raise
        os.rename(work, done)
    return os.path.join(done, "tmp", "prime")


def jvm(work, mode, workload, extra=(), timeout=JVM_TIMEOUT_S, data=gen.FIXTURE):
    """Run the JVM half; exit non-zero if it fails or outlives `timeout`."""
    tmp = os.path.join(work, "tmp", "s1" if mode == "run" else mode)
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC", *ADD_OPENS,
            "-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Main",
            "--mode", mode, "--workload", workload, "--data", data,
            "--work", work, "--launched-ms", str(int(time.time() * 1000)), *extra])
    log_path = os.path.join(work, f"jvm-{mode}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # never leave the JVM behind, whatever ends the wait
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc is None:
        fail(f"{mode} JVM exceeded {timeout} s (log {log_path})")
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"{mode} JVM exited with {rc}:\n{tail}")


def load_plan(work):
    with open(os.path.join(work, "plan.tsv")) as f:
        return [l.rstrip("\n").split("\t", 3) for l in f if l.strip()]


def measured(res):
    """Untraced passes and ops, leaving out warm-up passes."""
    return ([p for p in res["passes"] if not p["traced"] and not p["warmup"]],
            [o for o in res["ops"] if not o["traced"] and not o["warmup"]])


def end_to_end(res):
    passes = measured(res)[0]
    heap = [s["live_heap_mb"] for s in res["setups"] if s["live_heap_mb"] is not None]
    heap += [p["live_heap_mb"] for p in passes]
    return {
        "setup_s": res["setups"][0]["total_s"],  # the first setup, untraced
        "wall_s": stats.median([p["seconds"] for p in passes]),
        "live_heap_peak_mb": max(heap),
    }


def report_lines(res):
    """Human-readable lines: workload-specific latencies, tails and layers."""
    passes, ops = measured(res)
    lines = [f"ops_per_s {len(ops) / sum(p['seconds'] for p in passes):.6g} 1/s"]
    for label, sel in (("read", [o for o in ops if not o["write"]]),
                       ("write", [o for o in ops if o["write"]])):
        if not sel:
            continue
        secs = [o["seconds"] for o in sel]
        t = stats.tail(secs)
        tail_txt = (f"{label}_tail_s {t[0]:.4f} s (p{t[1] * 100:g}, {t[2]} samples beyond)"
                    if t else f"{label}_tail_s n/a ({len(secs)} samples)")
        lines.append(f"{label}_p50_s {stats.median(secs):.4f} s; {tail_txt}")
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["seconds"])
    for n, secs in sorted(by_name.items()):
        lines.append(f"  op {n}: n={len(secs)} p50 {stats.median(secs):.4f} s")
    lines.append(f"derived_disk_mb {res['derived_disk_mb']:.3f} MB")
    return lines


def per_layer(res):
    """Per-layer metrics from the traced setup and traced passes."""
    m = {}
    s0 = ([s for s in res["setups"] if s["traced"]] or res["setups"])[-1]
    for k, v in s0["steps"].items():
        m[f"model.{k}.s"] = v
    m["model.cache_built"] = s0["cache_built"]
    m["model.cache_hit"] = s0["cache_hit"]
    m["model.cache_mb"] = res["derived_disk_mb"]
    tpasses = [p for p in res["passes"] if p["traced"]]
    n = max(1, len(tpasses))
    tot = {k: 0.0 for k in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
                            "shuffle_write_mb", "spill_mb", "result_mb", "busy_s", "seconds")}
    per_op = {}
    self_s = {}  # layer -> span time not covered by child spans
    for s in s0["spans"]:
        if s["layer"] == "model":
            self_s["model"] = self_s.get("model", 0.0) + s["self_s"]
    for p in tpasses:
        root = [s for s in p["spans"] if s["parent"] == -1][0]
        for k in tot:
            tot[k] += root[k]
        for s in p["spans"]:
            if s["parent"] == root["id"]:
                per_op.setdefault((s["layer"], s["name"]), []).append(s)
            self_s[s["layer"]] = self_s.get(s["layer"], 0.0) + s["self_s"] / n
    for layer, v in self_s.items():
        m[f"self.{layer}.s"] = v
    for k in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
              "shuffle_write_mb", "spill_mb", "result_mb"):
        m[f"spark.{k}"] = tot[k] / n
    m["spark.idle_s"] = (tot["seconds"] - tot["busy_s"]) / n
    m["spark.core_util"] = tot["exec_run_s"] / (tot["seconds"] * res["cores"]) if tot["seconds"] else 0.0
    for (layer, name), spans in per_op.items():
        med = lambda k: stats.median([s[k] for s in spans])
        if layer == "ops.analytics":
            m[f"analytics.{name}.s"] = med("seconds")
            m[f"analytics.{name}.jobs"] = med("jobs")
            m[f"analytics.{name}.stages"] = med("stages")
            m[f"analytics.{name}.shuffle_mb"] = med("shuffle_write_mb")
        elif layer == "ops.llm":
            m[f"llm.{name}.s"] = med("seconds")
            m[f"llm.{name}.cpu_s"] = med("exec_cpu_s")
            m[f"llm.{name}.jobs"] = med("jobs")
            m[f"llm.{name}.stages"] = med("stages")
        elif layer == "ops.point":
            m[f"oltp.{name}.p50_s"] = med("seconds")
            m[f"oltp.{name}.jobs"] = med("jobs")
            m[f"oltp.{name}.idle_s"] = stats.median([s["seconds"] - s["busy_s"] for s in spans])
        elif layer == "ingest":
            m["ingest.batch.jobs"] = med("jobs")
            m["ingest.batch.shuffle_mb"] = med("shuffle_write_mb")
            m["ingest.batch.exec_s"] = med("exec_run_s")
    m.update(res["layers"])
    return m


def overhead(res):
    """Traced minus untraced, on each end-to-end metric measurable both ways."""
    out = {}
    for traced in (False, True):
        passes = [p for p in res["passes"] if p["traced"] == traced and not p["warmup"]]
        ops = [o for o in res["ops"] if o["traced"] == traced and not o["warmup"]]
        reads = [o["seconds"] for o in ops if not o["write"]]
        if not passes or not reads:
            return {}
        out[traced] = {
            "wall_s": stats.median([p["seconds"] for p in passes]),
            "ops_per_s": len(ops) / sum(p["seconds"] for p in passes),
            "read_p50_s": stats.median(reads),
            "live_heap_peak_mb": max(p["live_heap_mb"] for p in passes)}
    o = {k: out[True][k] - out[False][k] for k in out[True]}
    # setup 2 is traced, setup 3 untraced; both follow a first setup
    o["setup_s"] = res["setups"][1]["total_s"] - res["setups"][2]["total_s"]
    return o


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()

    digest = build()
    extra = ["--seconds", str(a.seconds), "--trace", str(a.trace),
             "--primed", primed_cache(a.workload, digest)]
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        side = gen.generate(a.seed, a.workload, work)
        jvm(work, "run", a.workload, extra)
        out = os.path.join(work, "out")
        res = json.load(open(os.path.join(out, "result.json")))
        plan = load_plan(work)
        for o in res["ops"]:
            o["arg"] = plan[o["i"]][3]
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        if a.workload == "graph_oltp":
            checks += check.oltp(gen.FIXTURE, out, res["ops"], side["search_sql"])
        else:
            checks += check.inventory(gen.FIXTURE, out)
        bad_checks = [c for c in checks if not c[1]]
        errors = [o for o in res["ops"] if o["error"] is not None]
        for o in errors:
            print(f"FAILED op {o['name']} #{o['i']}: {o['error']}")
        for name, _, detail in bad_checks:
            print(f"FAILED check {name}: {detail}")
        # an op fails when it threw or its output failed a check
        failed_ops = {o["i"] for o in errors}
        for name, _, _ in bad_checks:
            idx = name.rsplit("#", 1)[-1]
            failed_ops |= {o["i"] for o in res["ops"]
                           if (idx.isdigit() and o["i"] == int(idx)) or o["name"] == name}
        if bad_checks and not failed_ops:
            failed_ops = {-1}  # a run-level check (the final snapshot)
        attempted = len(res["ops"])
        print(f"workload {a.workload} seed {a.seed}: {attempted} ops, "
              f"{len(checks)} checks, error_rate {len(failed_ops) / attempted:.4f}")
        e2e = end_to_end(res)
        for k, v in e2e.items():
            print(f"{k} {v:.6g} {END_TO_END[k]}")
        for l in report_lines(res):
            print(l)
        if a.trace:
            layers = per_layer(res)
            over = overhead(res)
            for k, v in sorted(layers.items()):
                print(f"layer {k} {v:.6g}")
            for k, v in over.items():
                print(f"trace_overhead {k} {v:+.6g}")
            trace_file = os.path.join(HERE, ".work", f"trace-{a.workload}-{a.seed}.json")
            with open(trace_file, "w") as f:
                json.dump({"per_layer": layers, "overhead": over,
                           "setups": res["setups"], "passes": res["passes"]}, f, indent=1)
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        correct = not bad_checks and not errors
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": len(failed_ops), "metrics": metrics}))
        return 0 if correct else 1
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
