#!/usr/bin/env python3
"""graft benchmark: one run of one workload, reported as one JSON line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
harness in perfbench/ with sbt into $CARGO_TARGET_DIR (default
.bench_build) and generates the registry tables there; later runs reuse
both. Workload parameters, the frozen query list and the expected result
digests are in perfbench/workloads.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CONFIG = os.path.join(HERE, "workloads.json")
RUN_BUDGET_S = 170  # a run, after the build, ends within this
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

SELF_LAYERS = {"run": "harness", "phase": "harness", "source": "sources",
               "trigger": "streaming", "trigger_phase": "streaming", "sink": "sink",
               "query": "queries", "build": "queries", "plan": "catalyst",
               "execute": "execution", "stage": "execution", "job": "scheduler"}
KIND_LEVEL = {"run": 0, "phase": 1, "trigger": 2, "query": 2, "trigger_phase": 3, "build": 3,
              "execute": 3, "sink": 4, "plan": 4, "source": 5, "job": 6, "stage": 7}


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")))


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(out):
    """Compiles graft and the harness once per source state; returns the classpath."""
    stamp, cp_file = source_stamp(), os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    env = dict(os.environ, CARGO_TARGET_DIR=out)
    proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], cwd=HERE, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip()


def java_cmd(cfg, classpath, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    return (["java"] + opens + ["-Xmx" + cfg["jvm_heap"], "-Djava.io.tmpdir=" + work,
                                "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main"]
            + [str(a) for a in args])


def run_jvm(cmd, log, deadline):
    """Runs one JVM to completion by `deadline` (epoch s); returns its spawn time."""
    t0 = time.time()
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - t0))
        except subprocess.TimeoutExpired:
            fail("JVM timed out; log tail:\n" + tail(log))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        fail("JVM exited with %d; log tail:\n%s" % (code, tail(log)))
    return t0


def tail(path, n=40):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def ensure_tables(cfg, classpath, out, params):
    tables = os.path.join(out, "tables-sf%s-seed%s" % (params["reg.sf"], params["reg.data_seed"]))
    if not os.path.exists(os.path.join(tables, ".complete")):
        shutil.rmtree(tables, ignore_errors=True)
        work = os.path.join(out, "gen-%d" % os.getpid())
        os.makedirs(work)
        try:
            run_jvm(java_cmd(cfg, classpath, work, ["--gen-tables", tables, "--sf", params["reg.sf"],
                                                    "--data-seed", params["reg.data_seed"],
                                                    "--work", work]),
                    os.path.join(work, "gen.log"), time.time() + BUILD_TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        open(os.path.join(tables, ".complete"), "w").close()
    return tables


def write_params(path, params):
    """A properties file: lists comma-joined, a map as one key per entry
    (reg.digest: {name: d} becomes reg.digest.name=d)."""
    with open(path, "w") as fh:
        for k, v in params.items():
            if isinstance(v, dict):
                for n, x in v.items():
                    fh.write("%s.%s=%s\n" % (k, n, x))
            else:
                fh.write("%s=%s\n" % (k, ",".join(v) if isinstance(v, list) else v))


def measure(cfg, classpath, work, workload, seed, seconds, trace, tables, cores, tag, deadline):
    """One JVM run; returns its result dict and spawn time."""
    out = os.path.join(work, tag + ".json")
    args = ["--workload", workload, "--seed", seed, "--seconds", seconds, "--trace", trace,
            "--cores", cores, "--params", os.path.join(work, "params.properties"),
            "--work", os.path.join(work, tag), "--out", out, "--tables", tables or "-"]
    os.makedirs(os.path.join(work, tag))
    t0 = run_jvm(java_cmd(cfg, classpath, os.path.join(work, tag), args),
                 os.path.join(work, tag + ".log"), deadline)
    with open(out) as fh:
        return json.load(fh), t0


# ---- trace analysis -------------------------------------------------------

def resolve_parents(spans):
    """Parent of each span: the one it names, else the smallest span of a
    lower level that contains its start (same group id, or a group-less
    one), else the run span."""
    by_level = sorted(spans, key=lambda s: KIND_LEVEL[s["kind"]])
    root = next(s for s in spans if s["kind"] == "run")
    placed = []
    for s in by_level:
        if s is root:
            s["depth"] = 0
            placed.append(s)
            continue
        parent = None
        if s["parent"] > 0:
            parent = next((p for p in placed if p["id"] == s["parent"]), None)
        if parent is None:
            best = None
            for p in placed:
                if KIND_LEVEL[p["kind"]] >= KIND_LEVEL[s["kind"]]:
                    continue
                if p["gid"] and s["gid"] and p["gid"] != s["gid"]:
                    continue
                if p["start_us"] - 2000 <= s["start_us"] <= p["end_us"] + 2000:
                    if best is None or (p["end_us"] - p["start_us"]) < (best["end_us"] - best["start_us"]):
                        best = p
            parent = best or root
        s["depth"] = parent["depth"] + 1
        placed.append(s)


def self_times(spans):
    """Exclusive time per layer: each instant of the run goes to the
    deepest spans active then, split equally among them, so the layers
    sum to the run's wall time."""
    resolve_parents(spans)
    root = next(s for s in spans if s["kind"] == "run")
    lo, hi = root["start_us"], root["end_us"]
    events = []
    for i, s in enumerate(spans):
        a, b = max(s["start_us"], lo), min(s["end_us"], hi)
        if b > a:
            events.append((a, 1, i))
            events.append((b, 0, i))
    events.sort()
    active, out, last = set(), {}, lo
    for t, kind, i in events:
        if t > last and active:
            deepest = max(spans[j]["depth"] for j in active)
            top = [j for j in active if spans[j]["depth"] == deepest]
            for j in top:
                layer = SELF_LAYERS[spans[j]["kind"]]
                out[layer] = out.get(layer, 0.0) + (t - last) / len(top) / 1e6
        last = max(last, t)
        if kind == 1:
            active.add(i)
        else:
            active.discard(i)
    return out, (hi - lo) / 1e6


# ---- reporting ------------------------------------------------------------

def pick(values, names, skip, lenient, what):
    """The named metrics from `values`. A name in `skip` (it does not apply
    to the workload) reads 0. Any other that is missing or not a number
    fails the run, unless the run already failed its checks (`lenient`):
    then it reads 0 too, next to "correct": false."""
    num = lambda k: isinstance(values.get(k), (int, float))
    bad = [k for k, _ in names if k not in skip and not num(k)]
    if bad and not lenient:
        fail("%s not reported: %s" % (what, ", ".join(bad)))
    return {k: {"value": values[k] if k not in skip and num(k) else 0.0, "unit": u}
            for k, u in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--print-digests", action="store_true",
                    help="print the registry digests of this run (to record them)")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    with open(CONFIG) as fh:
        cfg = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    end_to_end = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    per_layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    if a.workload not in cfg["workloads"]:
        fail("unknown workload %s" % a.workload)
    params = cfg["workloads"][a.workload]
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    classpath = build(out)
    tables = ensure_tables(cfg, classpath, out, params) if a.workload == "registry_sweep" else None
    deadline = time.time() + RUN_BUDGET_S

    work = os.path.join(out, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        write_params(os.path.join(work, "params.properties"), params)
        cores, trace, seconds = cfg["cores"], a.trace, a.seconds
        res, t0 = measure(cfg, classpath, work, a.workload, a.seed, seconds, trace, tables,
                          cores, "main", deadline)
        e2e = dict(res["e2e"], setup_s=res["setup_done_us"] / 1e6 - t0)
        attempted, failed = res["attempted"], res["failed"]
        if a.print_digests:
            print(json.dumps(res["digests"], sort_keys=True))
        if trace:
            layers = dict(res["layers"])
            selfs, wall = self_times(res["spans"])
            layers.update(("self.%s_s" % layer, v) for layer, v in selfs.items())
            layers["trace.wall_s"] = wall
            layers["trace.spans"] = len(res["spans"])
            layers.update(("traced." + k, v) for k, v in e2e.items())
            if a.workload == "wordcount_stream":
                base, _ = measure(cfg, classpath, work, a.workload, a.seed, 1, 0, tables, 1,
                                  "baseline1", deadline)
                layers["baseline1.throughput_per_s"] = base["e2e"]["throughput_per_s"]
            metrics = pick(layers, per_layer, cfg["not_applicable"][a.workload], failed > 0,
                           "per-layer metrics")
            traces = os.path.join(out, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, "%s-seed%d.json" % (a.workload, a.seed)), "w") as fh:
                json.dump({"spans": res["spans"], "self_s": selfs, "wall_s": wall}, fh)
        else:
            metrics = pick(e2e, end_to_end, [], failed > 0, "end-to-end metrics")
        for k, v in sorted(res.get("info", {}).items()):
            if not isinstance(v, dict):
                print("%-28s %s" % (k, v))
        print("%-28s %d/%d" % ("error_rate", failed, attempted))
        for name, why in sorted(res.get("errors", {}).items()):
            print("failed %s: %s" % (name, why))
        for k, m in sorted(metrics.items()):
            print("%-28s %.6g %s" % (k, m["value"], m["unit"]))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
