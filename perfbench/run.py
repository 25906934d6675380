#!/usr/bin/env python3
"""Lakehouse benchmark: run one workload with one seed, check its
outputs, print one JSON result line last.

    python3 perfbench/run.py --workload etl_month --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine
(src/main/scala) and the workload runner (perfbench/src) with the Scala
compiler shipped in the Spark distribution, into $CARGO_TARGET_DIR
(default .bench_build); later runs reuse that build while the sources
are unchanged. Workloads, metrics and the warm-up policy are described
in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from fractions import Fraction

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("etl_month", "corpus_ops")
# layer prefixes a workload does not exercise: their per-layer metrics
# are reported as measured, i.e. 0
IDLE_LAYERS = {"etl_month": ("queries.", "operators."),
               "corpus_ops": ("cli.", "pipeline.", "quality.", "core.")}
# A fixed heap and young generation: with adaptive sizing, when G1
# grows the heap depends on GC timing, and VmHWM varied by +-15%
# between identical runs.
HEAP_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
GEN_REPEATS = 2
RUN_LIMIT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def _rank(n, p):
    """1-based nearest rank of percentile p among n samples."""
    return max(1, math.ceil(Fraction(n) * Fraction(str(p)) / 100))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    return s[_rank(len(s), p) - 1]


def tail_percentile(n):
    """Highest of p50/p90/p99/p99.9 with at least ten of n samples
    beyond it (the reporting rule for timings), or None."""
    ok = [p for p in (50, 90, 99, 99.9) if n - _rank(n, p) >= 10]
    return ok[-1] if ok else None


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        raise BenchError("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


# --- build -----------------------------------------------------------

def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the
    first spark-submit on PATH that sits in a full distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        found = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if home and any("scala-compiler-" in j for j in found):
            return found
    raise BenchError("no Spark distribution found: set SPARK_HOME")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    if not main:
        raise BenchError("no engine sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Compile engine + runner once per source digest; return the
    classes directory and the digest."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    digest = h.hexdigest()[:16]
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                                  ".bench_build"))
    out = os.path.join(build_dir, "classes-" + digest)
    if os.path.isfile(os.path.join(out, ".ok")):
        return out, digest, build_dir
    os.makedirs(build_dir, exist_ok=True)
    tmp = "%s.tmp%d" % (out, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    log("compiling %d sources into %s" % (len(srcs), out))
    t = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
         "-classpath", ":".join(jars), "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".ok"), "w").close()
    os.replace(tmp, out)
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    log("compiled in %.1f s" % (time.time() - t))
    return out, digest, build_dir


# --- one run ---------------------------------------------------------

def make_inputs(workload, seed, input_dir):
    """Generate the inputs GEN_REPEATS times; return (median seconds,
    sizes). Every repetition must produce identical bytes."""
    times, digests, sizes = [], set(), None
    for _ in range(GEN_REPEATS):
        shutil.rmtree(input_dir, ignore_errors=True)
        t = time.time()
        if workload == "etl_month":
            sizes = gen.flights(input_dir, seed)
        else:
            sizes = gen.corpus(input_dir, seed)
        times.append(time.time() - t)
        h = hashlib.sha256()
        for p in sorted(os.listdir(input_dir)):
            with open(os.path.join(input_dir, p), "rb") as f:
                h.update(p.encode() + f.read())
        digests.add(h.hexdigest())
    if len(digests) != 1:
        raise BenchError("input generation is not deterministic")
    return statistics.median(times), sizes, digests.pop()


def run_jvm(classes, workload, input_dir, work, seconds, trace, deadline):
    jars = spark_jars()
    threads = min(4, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += HEAP_OPTS + ["-XX:ReservedCodeCacheSize=1g",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + ":" + ":".join(jars), "perfbench.Runner",
            workload, input_dir, work, str(seconds), str(trace), out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(threads),
               SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                env=env, cwd=work)
        try:
            proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("JVM exceeded the run time limit")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError("JVM failed (exit %s):\n%s" % (proc.returncode, tail))
    with open(out) as f:
        res = json.load(f)
    for c in res["checks"]:
        if c["name"] == "workload":
            raise BenchError("workload aborted: " + c["detail"])
    res["launched_epoch_s"] = launched
    return res


def mart_hash_check(build_dir, digest, seed, hashes):
    """Marts of one seed must hash the same in every run of one build:
    the first run records them under the build dir, later runs compare."""
    state = os.path.join(build_dir, "state")
    os.makedirs(state, exist_ok=True)
    path = os.path.join(state, "mart-hashes-%s-%d.json" % (digest, seed))
    if os.path.isfile(path):
        with open(path) as f:
            want = json.load(f)
        return want == hashes, "%s vs recorded %s" % (hashes, want)
    with open(path, "w") as f:
        json.dump(hashes, f)
    return True, "recorded"


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def summarize(workload, res, checks):
    """End-to-end metrics plus the workload's report numbers for one run."""
    ops = res["ops"]
    ms = [o["ms"] for o in ops]
    report = {}
    if workload == "etl_month":
        by = {o["name"]: o["ms"] / 1000 for o in ops}
        pass_s = sum(by.values())
        report["etl_build_rows_per_s"] = res["month_rows"] / by["build"]
        report["etl_fold_s"] = by["fold"]
        report["etl_refold_s"] = by["refold"]
    else:
        pass_s = statistics.median(res["passes_s"])
        report["corpus_pass_s"] = pass_s
        report["corpus_p50_ms"] = statistics.median(ms)
    p = tail_percentile(len(ms))
    if p is not None and p > 50:
        report["op_p%g_ms" % p] = percentile(ms, p)
    report["op_samples"] = len(ms)
    failed = sum(1 for o in ops if not o["ok"]) + sum(
        1 for c in checks if not c["ok"])
    metrics = {"pass_s": pass_s, "op_p50_ms": statistics.median(ms),
               "peak_rss_mb": res["peak_rss_mb"]}
    return metrics, report, len(ops), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = spec()
    classes, digest, build_dir = build()

    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(ROOT, ".bench_work", "%s-%d-%d" % (
        a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        input_dir = os.path.join(work, "input")
        gen_s, sizes, input_sha = make_inputs(a.workload, a.seed, input_dir)
        res = run_jvm(classes, a.workload, input_dir, work, a.seconds,
                      a.trace, deadline)
        setup_s = gen_s + res["first_op_epoch_ms"] / 1000.0 - \
            res["launched_epoch_s"]
        checks = list(res["checks"])
        if a.workload == "etl_month":
            ok, detail = mart_hash_check(build_dir, digest, a.seed,
                                         res["mart_hashes"])
            checks.append({"name": "mart_hashes_match_earlier_runs",
                           "ok": ok, "detail": detail})
        else:
            checks += oracle.compare_outputs(
                input_dir, os.path.join(work, "out"), res["oracles"],
                input_sha, os.path.join(build_dir, "oracle-cache"))
        if a.workload == "etl_month":
            res["month_rows"] = sizes["month"][0]
        metrics, report, attempted, failed = summarize(a.workload, res,
                                                       checks)
        metrics["setup_s"] = setup_s
        report.update(setup_s=setup_s, peak_rss_mb=res["peak_rss_mb"],
                      failed_frac=failed / attempted)
        for c in checks:
            if not c["ok"]:
                log("CHECK FAILED %s: %s" % (c["name"], c["detail"]))

        if a.trace:
            layer = dict(res.get("per_layer", {}))
            names = [m["name"] for m in bench["per_layer"]]
            extra = sorted(set(layer) - set(names))
            if extra:
                raise BenchError("per-layer metrics missing from "
                                 "BENCHMARK.json: %s" % extra)
            for n in names:
                if n not in layer:
                    if n.startswith(IDLE_LAYERS[a.workload]):
                        layer[n] = 0.0
                    else:
                        raise BenchError("traced run did not measure " + n)
            emit = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                    for m in bench["per_layer"]}
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(res["spans_file"], os.path.join(
                traces, "%s-%d.json" % (a.workload, a.seed)))
        else:
            emit = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in bench["end_to_end"]}
        print(json.dumps({"report": report, "run": {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "input": sizes, "input_sha256": input_sha,
            "nproc": os.cpu_count(), "spark_threads": res["threads"],
            "heap_mb": res["heap_mb"], "jvm": res["jvm"],
            "spark": res["spark"], "git_commit": git_commit(),
            "source_digest": digest}}))
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": emit}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log("error: %s" % e)
        sys.exit(2)
