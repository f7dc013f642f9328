#!/usr/bin/env python3
"""Benchmark of the graft engine's query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness from
source on first use (scalac, into perfbench/.work/classes), runs one
JVM (`perfbench.Harness`) on the workload's committed corpus and prints,
as the last line of stdout, one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. The full record of the run (self-certification, per-query
timings and layers, fingerprints) goes to a sidecar under
perfbench/.work/runs/. Exit code: 0 when every output matched its
recorded fingerprint and no query failed, 1 otherwise, 2 when the
benchmark could not run.

    python3 perfbench/run.py --record SCALE

re-records the expected fingerprints of every registered query at SCALE,
dumps the outputs and checks them with tools/check_oracle.py.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
import metrics  # noqa: E402
import selfcert  # noqa: E402

with open(os.path.join(BENCH, "workloads.json")) as f:
    WORKLOADS = json.load(f)
# the corpora: copies of the generator's, one directory per scale
DATA = os.path.join(BENCH, "data")
SETUPS = 3
# Timed passes per run, at least. The first after the cold verify pass
# runs about 1.4 times as long as the later ones; each query's median
# over three executions leaves it out. A traced run alternates untraced
# and traced passes, starting and ending untraced.
MIN_PASSES = {0: 3, 1: 5}
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 300
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def root_build_setting(key):
    """The string value of `key := ...` in the root build.sbt, if any."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(key + r'\s*:=\s*(?:file\()?"([^"]+)"', f.read())
    return m.group(1) if m else None


def spark_jars():
    """The Spark jars the root build compiles against (its unmanagedBase),
    else $SPARK_HOME/jars. They include the Scala compiler."""
    d = root_build_setting("unmanagedBase") or os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        raise RuntimeError(f"Spark jars not found at {d!r}")
    return d


def source_files(d, exts=(".scala", ".java")):
    return sorted(p for p in glob.glob(os.path.join(d, "**", "*"), recursive=True)
                  if p.endswith(exts) and os.path.isfile(p))


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.abspath(__file__)]
    files += source_files(os.path.join(ROOT, "src", "main")) + source_files(os.path.join(BENCH, "src"))
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, sources, options=()):
    """Compiles Scala sources with the compiler among the Spark jars, at
    the root build's scalaVersion."""
    version = root_build_setting("scalaVersion")
    compiler = [os.path.join(jars, f"scala-{m}-{version}.jar") for m in ("compiler", "library", "reflect")]
    missing = [c for c in compiler if not os.path.exists(c)]
    if missing:
        raise RuntimeError(f"Scala {version} compiler not found: {missing}")
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss4m", "-Xmx2g", f"-Djava.io.tmpdir={WORK}",
           "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-usejavacp:false",
           "-classpath", ":".join(classpath), "-d", out] + list(options) + sources
    with open(os.path.join(WORK, "build.log"), "a") as log_file:
        code, _ = wait(subprocess.Popen(cmd, cwd=ROOT, stdout=log_file, stderr=subprocess.STDOUT,
                                        stdin=subprocess.DEVNULL, start_new_session=True),
                       BUILD_TIMEOUT_S, "scalac")
    if code != 0:
        raise RuntimeError(f"compiling {os.path.relpath(out, ROOT)} failed; see {WORK}/build.log")


def build():
    """Compiles engine and harness into perfbench/.work/classes (once per
    source state) with scalac, writing nothing outside the checkout;
    returns the runtime classpath."""
    classes = os.path.join(WORK, "classes")
    engine, harness = os.path.join(classes, "engine"), os.path.join(classes, "perfbench")
    jars = spark_jars()
    resources = [d for d in (os.path.join(ROOT, "src", "main", "resources"),) if os.path.isdir(d)]
    classpath = [harness, engine] + resources + [os.path.join(jars, "*")]
    stamp_file = os.path.join(classes, "stamp.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if json.load(f)["stamp"] == stamp:
                return ":".join(classpath)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    open(os.path.join(WORK, "build.log"), "w").close()
    log("building engine and harness (scalac)")
    t0 = time.time()
    scalac(jars, resources + [os.path.join(jars, "*")], engine,
           source_files(os.path.join(ROOT, "src", "main")))
    scalac(jars, [engine] + resources + [os.path.join(jars, "*")], harness,
           source_files(os.path.join(BENCH, "src")), ["-deprecation", "-feature"])
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "build_s": time.time() - t0}, f)
    return ":".join(classpath)


_children = []


def _stop_children(signum, frame):
    for proc in _children:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    sys.exit(128 + signum)


def wait(proc, timeout, what):
    """Waits for a process started in its own session; on timeout, or when
    this process is told to stop, kills its whole process group and reaps
    it. Returns (exit code, stdout)."""
    _children.append(proc)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
        return proc.returncode, stdout
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError(f"{what} timed out after {timeout} s")
    finally:
        _children.remove(proc)


def heap():
    """The engine's own default driver heap (the root build.sbt): a
    quarter of machine memory, clamped to 8 to 16 GB."""
    total_gb = selfcert.meminfo_mb("MemTotal") // 1024
    return f"{max(8, min(16, total_gb // 4)) if total_gb > 0 else 8}g"


def task_slots():
    """Spark task threads: half the cores. The JVM's C2 compiler and G1
    threads run beside the tasks; with a task thread on every core they
    contend for the cores and the timings follow the scheduler."""
    return max(1, selfcert.nproc() // 2)


def young():
    """A fixed young generation, an eighth of the heap: small enough that
    every run fills it."""
    return f"{int(heap()[:-1]) * 1024 // 8}m"


def java(classpath, main, args, logfile, tmpdir, timeout):
    """Runs one JVM to completion (killed and reaped on timeout)."""
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # The engine's JVM: default JIT (C2) and its heap rule. The heap and
    # its young generation have fixed sizes: with G1 resizing either, peak
    # RSS follows GC timing. No perf-data file outside the checkout.
    cmd += ["-XX:-UsePerfData", f"-Xms{heap()}", f"-Xmx{heap()}", f"-Xmn{young()}",
            f"-Djava.io.tmpdir={tmpdir}", "-cp", classpath, main] + args
    os.makedirs(tmpdir, exist_ok=True)
    # the local session binds to loopback, whatever the host name resolves to
    env = dict(os.environ, SPARK_LOCAL_IP=os.environ.get("SPARK_LOCAL_IP", "127.0.0.1"))
    with open(logfile, "w") as out:
        code, _ = wait(subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                                        stdin=subprocess.DEVNULL, start_new_session=True),
                       timeout, f"{main} (log: {logfile})")
    if code != 0:
        raise RuntimeError(f"{main} exited {code}; see {logfile}")


def run_harness(classpath, data, orders, seconds, trace, run_dir, dump=None):
    order_file = os.path.join(run_dir, "order.txt")
    with open(order_file, "w") as f:
        f.write("\n".join(",".join(o) for o in orders) + "\n")
    raw_file = os.path.join(run_dir, "raw.json")
    args = ["--data", data, "--order", order_file, "--seconds", str(seconds),
            "--trace", str(trace), "--setups", str(SETUPS), "--min-passes", str(MIN_PASSES[trace]),
            "--cpus", str(task_slots()), "--out", raw_file]
    if dump:
        args += ["--dump", dump]
    tmp = os.path.join(run_dir, "tmp")
    try:
        java(classpath, "perfbench.Harness", args, os.path.join(run_dir, "jvm.log"), tmp,
             JVM_TIMEOUT_S + (600 if dump else 0))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(raw_file) as f:
        return json.load(f)


def check(verify, expected):
    """Compares verify-pass fingerprints with the recorded ones: row count
    and row hash for oracled queries, row count for the rest."""
    report = {}
    for q, got in verify.items():
        exp = expected.get(q)
        ok = ("error" not in got and exp is not None and got["rows"] == exp["rows"]
              and (not exp["oracled"] or got["hash"] == exp["hash"]))
        report[q] = {"ok": ok, "got": got, "expected": exp}
    return report


def write_json(path, obj):
    try:
        with open(path, "w") as f:
            json.dump(obj, f, indent=1, sort_keys=True)
        return True
    except OSError as e:
        log(f"could not write {path}: {e}")
        return False


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", choices=sorted(os.listdir(DATA)))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    if not a.record and not a.workload:
        ap.error("--workload or --record is required")
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"engine source missing: {need} (run from a full checkout)")
            return 2
    try:
        classpath = build()
        if a.record:
            return record(classpath, a.record)
        return bench(classpath, a)
    except (RuntimeError, subprocess.TimeoutExpired, OSError, ValueError, KeyError) as e:
        log(f"error: {e}")
        return 2


def bench(classpath, a):
    wl = WORKLOADS[a.workload]
    data = os.path.join(DATA, wl["scale"])
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    cert_start = selfcert.snapshot()
    orders = metrics.permutations(wl["queries"], f"{a.workload}:{a.seed}", 65)
    raw = run_harness(classpath, data, orders, a.seconds, a.trace, run_dir)
    cert_end = selfcert.snapshot()

    with open(os.path.join(BENCH, "expected", f"{wl['scale']}.json")) as f:
        expected = json.load(f)
    checks = check(raw["verify"], expected)
    timed = [e for p in raw["passes"] for e in p["executions"]]
    attempted = len(timed) + len(checks)
    failed = sum(1 for e in timed if "error" in e) + sum(1 for r in raw["verify"].values() if "error" in r)
    correct_frac = sum(r["ok"] for r in checks.values()) / len(checks)
    sidecar = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "data": os.path.relpath(data, ROOT), "orders": orders[:1 + len(raw["passes"])],
        "selfcert": selfcert.certify(cert_start, cert_end, heap()),
        "correct_frac": correct_frac, "failed_frac": failed / attempted,
        "checks": checks, "setup_s": raw["setup_s"], "verify_s": raw["verify_s"],
        "passes": raw["passes"], "batches": raw["batches"],
        "batches_drained": raw["batches_drained"],
    }
    lat = [(e["end_ms"] - e["start_ms"]) / 1000 for e in metrics.untraced_executions(raw["passes"])]
    if lat:
        sidecar["query_medians_s"] = metrics.query_medians(raw["passes"])
        sidecar["executions"] = {"samples": len(lat),
                                 "tail_percentile": metrics.tail_percentile(len(lat))}
    trig = [b["trigger_ms"] for b in raw["batches"]]
    if trig:
        sidecar["batch_p50_ms"] = metrics.percentile(trig, 50)
        sidecar["batch_p90_ms"] = metrics.percentile(trig, 90)
    if a.trace:
        values, per_query = metrics.per_layer(raw)
        units = {k: u for k, (u, _) in metrics.PER_LAYER.items()}
        sidecar.update(trace_drained=raw["trace_drained"], per_query_layers=per_query,
                       opens=raw["opens"], jobs=raw["jobs"], phases=raw["phases"])
        if not (raw["trace_drained"] and raw["batches_drained"]):
            log("listener bus did not drain in time: the trace is incomplete")
            failed += 1
    else:
        values = metrics.end_to_end(raw)
        units = metrics.END_TO_END
    result = {"correct": correct_frac == 1 and failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    sidecar["result"] = result
    if write_json(os.path.join(run_dir, "result.json"), sidecar):
        log(f"sidecar: {os.path.relpath(run_dir, ROOT)}/result.json")
    if sidecar["selfcert"]["contended"]:
        log("contended run (kept): " + json.dumps(sidecar["selfcert"]["reasons"]))
    for q, r in checks.items():
        if not r["ok"]:
            log(f"output mismatch: {q}: got {r['got']} expected {r['expected']}")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def oracle_check(data, dump, report):
    """Runs tools/check_oracle.py; returns the oracled queries that failed."""
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                           data, dump, report], capture_output=True, text=True)
    print(proc.stdout[-1500:], file=sys.stderr)
    with open(report) as f:
        rep = json.load(f)
    # keep the committed report free of this machine's absolute paths
    for k in ("sf_dir", "verify_dir"):
        rep["_meta"][k] = os.path.relpath(rep["_meta"][k], ROOT)
    write_json(report, rep)
    return sorted(q for q, r in rep.items() if q != "_meta" and r.get("hash_match") is False)


def record(classpath, scale):
    """Records the expected fingerprint of every registered query at a
    scale and certifies them against the DuckDB oracle."""
    data = os.path.join(DATA, scale)
    run_dir = os.path.join(WORK, "record", f"{scale}-{os.getpid()}")
    dump = os.path.join(run_dir, "outputs")
    os.makedirs(dump)
    raw = run_harness(classpath, data, [["*"]], 0, 0, run_dir, dump=dump)
    failed = {q: r["error"] for q, r in raw["verify"].items() if "error" in r}
    if failed:
        raise RuntimeError(f"queries failed while recording: {failed}")
    failing = oracle_check(data, dump, os.path.join(BENCH, "results", f"oracle_{scale}.json"))
    if failing:
        raise RuntimeError(f"oracle check failed on {failing}; expected fingerprints not recorded")
    expected = {q: {"rows": r["rows"], "hash": r["hash"], "oracled": r["oracled"]}
                for q, r in sorted(raw["verify"].items())}
    write_json(os.path.join(BENCH, "expected", f"{scale}.json"), expected)
    log(f"recorded {len(expected)} fingerprints at {scale}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
