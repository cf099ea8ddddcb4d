#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. Builds the library and the
benchmark harness (perfbench/build.sbt) when their sources changed, with
the class-data-sharing archive every benchmark JVM maps, generates the
workload's inputs from the seed, runs one JVM (set-up and warm-up, then
the timed untraced phase, or the traced phase when --trace 1), checks every operation's outputs with DuckDB apart from the
program, and prints one JSON result line last.

    python3 perfbench/run.py --self-test

shows that each output check fires on a perturbed copy of real outputs.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing beside the sources

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(WORK, "classes.jsa")
# The benchmark's workloads; each traced run also runs one operation of
# its companion, so every layer is measured (see README.md, "Time budget").
COMPANIONS = {"ecom_sync": ["ecom_export"], "item_neighbours": ["corpus_curation"]}
# The companions can be run on their own too, outside the benchmark.
WORKLOADS = ["ecom_sync", "item_neighbours", "ecom_export", "corpus_curation"]
HEAP = "3g"
# Warm-up runs `warmup_rounds` whole rounds, which ends where the measured
# curves level off (README.md, "Warm-up"). The timed phase runs whole
# rounds for at least --seconds and at least `min_ops` operations.
PARAMS = {
    "cap": gen.ITEM_CAP, "k": gen.ITEM_K, "pack_budget": gen.PACK_BUDGET,
    "rates": gen.RATES,
}
PER_WORKLOAD = {
    "ecom_sync": {"warmup_rounds": 4, "min_ops": 3},
    "item_neighbours": {"warmup_rounds": 2, "min_ops": 2},
    "ecom_export": {"warmup_rounds": 4, "min_ops": 4},
    "corpus_curation": {"warmup_rounds": 3, "min_ops": 3},
}


def _per_layer():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)["per_layer"]


PER_LAYER = _per_layer()
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            for f in fs:
                yield os.path.join(d, f)
    for f in ("build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"):
        yield os.path.join(ROOT, f)


def run_child(cmd, cwd, env, stderr, timeout):
    """Run cmd in its own process group; on timeout kill the whole group
    (sbt's launcher starts a JVM of its own) and wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=stderr,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return -1, out
    return p.returncode, out


def build():
    """Compile when the sources changed, pack the two class directories
    into jars and train the class-data-sharing archive; returns the JVM
    classpath."""
    need = ["build.sbt", "src/main/scala/graft", "perfbench/build.sbt"]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail("not a graft checkout (missing %s); run from the repository root"
             % ", ".join(missing))
    h = hashlib.sha256()
    for f in sorted(source_files()):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(ARCHIVE):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as lf:
        rc, out = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
            os.path.join(ROOT, "perfbench"), env, lf, 850)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if rc != 0 or not lines or "[error]" in lines[-1]:
        with open(log, "a") as lf:
            lf.write(out)
        fail("build failed, see %s" % log)
    cp = ":".join(jar(p) if os.path.isdir(p) else p for p in lines[-1].strip().split(":"))
    train(cp)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def jar(classes):
    """Pack a class directory into a jar under WORK: the archive below
    covers classes from jars only."""
    path = os.path.join(WORK, "jars", os.path.relpath(classes, ROOT).replace("/", "_") + ".jar")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for d, dirs, fs in os.walk(classes):
            dirs.sort()
            for f in sorted(fs):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))
    return path


def train(cp):
    """Class-data-sharing archive: one JVM starts a session and runs the
    set-up and one operation of each benchmark workload on the seed-0
    inputs, and dumps every class it loaded at exit. Benchmark runs map
    the archive instead of loading and verifying those classes again."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    inputs = {w: gen.generate(w, 0, os.path.join(WORK, "inputs"))
              for w in ("ecom_sync", "item_neighbours")}
    out = os.path.join(WORK, "train")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = jvm_cmd(cp, out, ["-XX:ArchiveClassesAtExit=" + ARCHIVE]) + [
        "perfbench.Train", json.dumps(inputs), out, json.dumps(PARAMS)]
    with open(os.path.join(WORK, "train.log"), "w") as lf:
        rc, _ = run_child(cmd, out, jvm_env(out), lf, 400)
    shutil.rmtree(out, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        fail("training the class archive failed (exit %d), see %s"
             % (rc, os.path.join(WORK, "train.log")))


def jvm_env(out):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    return env


def jvm_cmd(cp, out, flags):
    """The java command line shared by every JVM the benchmark starts."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xms" + HEAP, "-Xmx" + HEAP] + flags +
            ["-Djava.io.tmpdir=" + tmp,
             "-Dspark.sql.warehouse.dir=" + os.path.join(out, "warehouse")] +
            [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            ["-cp", cp])


def run_jvm(cp, workload, inputs, out, seconds, trace, overrides=None):
    params = dict(PARAMS, companions=COMPANIONS.get(workload, []) if trace else [],
                  **PER_WORKLOAD[workload])
    params.update(overrides or {})
    # -Xshare:on: a run that cannot map the archive fails instead of
    # silently loading every class again
    cmd = jvm_cmd(cp, out, ["-XX:SharedArchiveFile=" + ARCHIVE, "-Xshare:on"]) + [
        "perfbench.Main", workload, json.dumps(inputs), out, str(seconds), str(trace),
        json.dumps(params)]
    cmd.append("%.3f" % (time.time() * 1e3))
    with open(os.path.join(out, "jvm.log"), "w") as lf:
        rc, stdout = run_child(cmd, out, jvm_env(out), lf, 170)
    res = [ln for ln in stdout.splitlines() if ln.startswith("PERFBENCH ")]
    if rc != 0 or not res:
        fail("the benchmark JVM failed (exit %d), see %s" %
             (rc, os.path.join(out, "jvm.log")), 1)
    return json.loads(res[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    if a.self_test:
        sys.exit(self_test(cp))
    if not a.workload:
        fail("--workload is required")
    inputs = {w: gen.generate(w, a.seed, os.path.join(WORK, "inputs"))
              for w in [a.workload] + (COMPANIONS.get(a.workload, []) if a.trace else [])}
    out = os.path.join(WORK, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        t_gen = time.time()
        jvm = run_jvm(cp, a.workload, inputs, out, a.seconds, a.trace)
        t_jvm = time.time()
        verdict = checks.check_run(inputs, jvm)
        print("perfbench: inputs %.1f s, jvm %.1f s, checks %.1f s" % (
            t_gen - T0, t_jvm - t_gen, time.time() - t_jvm), file=sys.stderr)
        last = os.path.join(WORK, "last", a.workload)
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        for f in ("trace.json", "jvm.log"):
            if os.path.exists(os.path.join(out, f)):
                shutil.copy(os.path.join(out, f), last)
        with open(os.path.join(last, "run.json"), "w") as fh:
            json.dump({"jvm": jvm, "checks": verdict}, fh, indent=1)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    metrics = jvm["metrics"]
    if a.trace:
        # a layer that neither the workload nor its companion calls spent
        # no time and did no work: report it as 0
        for m in PER_LAYER:
            metrics.setdefault(m["name"], {"value": 0.0, "unit": m["unit"]})
    for msg in verdict["problems"]:
        print("perfbench: check failed: " + msg, file=sys.stderr)
    print(json.dumps({
        "correct": verdict["correct"], "attempted": verdict["attempted"],
        "failed": verdict["failed"], "metrics": metrics}))


def self_test(cp):
    """Run each workload briefly, then perturb copies of its outputs and
    show that every check fails on them."""
    bad = 0
    for w in WORKLOADS:
        inputs = {w: gen.generate(w, 1, os.path.join(WORK, "inputs"))}
        out = os.path.join(WORK, "selftest", w)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        jvm = run_jvm(cp, w, inputs, out, 0, 0,
                      {"warmup_rounds": 1, "min_ops": 1})
        for line, ok in checks.self_test(w, inputs[w], jvm, os.path.join(out, "perturbed")):
            print(("ok   " if ok else "MISS ") + line)
            bad += 0 if ok else 1
        shutil.rmtree(out, ignore_errors=True)
    print("self-test: %s" % ("every check fired" if bad == 0 else "%d checks did not fire" % bad))
    return 1 if bad else 0


T0 = time.time()

if __name__ == "__main__":
    main()
