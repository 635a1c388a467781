#!/usr/bin/env python3
"""cdcbench: end-to-end CDC pipeline benchmark.

Run from the repository root:

  python3 cdcbench/run.py --workload cdc_short --seed 1 --seconds 20 --trace 0

It builds the engine and the harness (sbt, offline) when their sources
changed, starts the open-loop generator (gen.py) and the JVM harness
(cdcbench.Main) as separate processes, checks the delivered output against
a batch replay of the same feed, writes a per-run artifact under
cdcbench/results/, and prints every metric by name and unit. The last
stdout line is one JSON object: correct, attempted, failed, metrics.

--trace 0 reports the end-to-end metrics; --trace 1 makes a separate traced
run (listeners, spans, staged replay, local[1] baseline) and reports the
per-layer metrics. See cdcbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
RESULTS = os.path.join(HERE, "results")
HEAP = "2g"

WORKLOADS = ("cdc_short", "cdc_straddle")
# Samples a p99 needs beyond it to be more than the run's maximum; runs
# below this are flagged (in the printout and as info.p99_tail_short).
MIN_BEYOND_P99 = 10

# JDK 17 module opens Spark needs outside spark-submit (same list as the
# engine's build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("cdcbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when sources changed; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("engine sources not found next to cdcbench/ (run from the repository root)")
    stamp = source_stamp()
    stamp_f = os.path.join(BUILD, "cdcbench.stamp")
    cp_f = os.path.join(BUILD, "cdcbench.classpath")
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as fh:
            if fh.read() == stamp:
                with open(cp_f) as fc:
                    return fc.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export cdcbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=fh, stdin=subprocess.DEVNULL, text=True, timeout=850)
        fh.write(p.stdout)
    if p.returncode != 0:
        fail("build failed, see " + log)
    cp = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cp:
        fail("no classpath in build output, see " + log)
    with open(cp_f, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip()


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "tree:" + source_stamp()[:16]


# Per workload: warm-up events (cdc_short; cdc_straddle's warm-up is the
# pre-aged pool of `active` open-transaction slots), nominal phase and
# backlog in run lengths (of time, of feed). A backlog of at least 301
# files (50 ms each) gives the drain the four batches `sustained_eps` needs.
SHAPE = {"cdc_short": {"warm": 6000, "active": 0, "nominal": 0.85, "backlog": 1.0},
         "cdc_straddle": {"warm": 0, "active": 60, "nominal": 0.8, "backlog": 0.75}}


def phases(workload, seconds, rates):
    """Phase sizes from the run length: the nominal phase takes 0.8-0.85
    of it; the backlog is as much feed as the nominal rate
    makes in 0.75-1 run lengths, which drains in about half a run length at
    twice that rate (the nominal rate is about half the capacity); set-up
    and replay come on top."""
    sh = SHAPE[workload]
    return dict(sh, rate=rates[workload], nominal_s=sh["nominal"] * seconds,
                backlog_s=sh["backlog"] * seconds)


def calibrate():
    """Seconds for a fixed single-core loop: a host-speed reference stored
    with each result, to tell a slow host from a slow program."""
    t = time.perf_counter()
    s = 0
    for i in range(3_000_000):
        s += i
    return time.perf_counter() - t


def run_once(a, cp, rates, trace):
    cores = len(os.sched_getaffinity(0))
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = "%s-s%d-t%d-%s-%d" % (a.workload, a.seed, trace, stamp, os.getpid())
    rd = os.path.join(HERE, "runs", name)
    os.makedirs(rd)
    ph = phases(a.workload, a.seconds, rates)
    load_before = loadavg()
    calib_before = calibrate()
    info = {}
    if trace:
        st = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--selftest"],
                            capture_output=True, text=True, timeout=120)
        info["gen_selftest"] = st.stdout.strip().splitlines()
        info["gen_selftest_ok"] = st.returncode == 0
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
         "--seed", str(a.seed), "--run-dir", rd, "--rate", str(ph["rate"]),
         "--nominal-s", str(ph["nominal_s"]), "--backlog-s", str(ph["backlog_s"]),
         "--warm-events", str(ph["warm"]), "--active", str(ph["active"])],
        stdout=subprocess.DEVNULL, stderr=open(os.path.join(rd, "gen.log"), "w"))
    tmp = os.path.join(rd, "tmp")
    os.makedirs(tmp)
    # fixed heap (-Xms = -Xmx) keeps peak RSS from following the GC's
    # heap-sizing decisions
    jvm = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    jvm += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "cdcbench.Main", "--workload", a.workload, "--run-dir", rd,
            "--trace", str(trace), "--cores", str(cores)]
    t = time.time()
    with open(os.path.join(rd, "jvm.log"), "w") as log:
        proc = subprocess.Popen(jvm, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    wall = time.time() - t
    with open(os.path.join(rd, "abort"), "w"):
        pass
    try:
        gen.wait(timeout=10)
    except subprocess.TimeoutExpired:
        gen.kill()
        gen.wait()
    res_f = os.path.join(rd, "result.json")
    if rc != 0 or not os.path.exists(res_f):
        with open(os.path.join(rd, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        print(tail, file=sys.stderr)
        fail("harness failed (exit %s) in %s" % (rc, rd))
    with open(res_f) as fh:
        res = json.load(fh)
    gen_done = {}
    if os.path.exists(os.path.join(rd, "gen_done.json")):
        with open(os.path.join(rd, "gen_done.json")) as fh:
            gen_done = json.load(fh)
    res["info"].update(info)
    res["info"]["gen"] = gen_done
    res["host"] = {
        "nproc": cores, "loadavg_before": load_before, "loadavg_after": loadavg(),
        "calib_s_before": calib_before, "calib_s_after": calibrate(),
        "heap": HEAP, "seed": a.seed, "commit": commit_id(), "workload": a.workload,
        "seconds": a.seconds, "trace": trace, "phases": ph, "wall_s": wall,
        "run": name,
    }
    res["info"]["p99_tail_short"] = \
        res["info"].get("latency_samples_beyond_p99", 0) < MIN_BEYOND_P99
    os.makedirs(RESULTS, exist_ok=True)
    if os.path.exists(os.path.join(rd, "spans.jsonl")):
        shutil.copy(os.path.join(rd, "spans.jsonl"), os.path.join(RESULTS, name + ".spans.jsonl"))
    shutil.rmtree(rd, ignore_errors=True)
    return res, name


def untraced_median(workload, seconds, metric):
    vals = []
    if os.path.isdir(RESULTS):
        for f in os.listdir(RESULTS):
            if not f.endswith(".json") or not f.startswith(workload + "-") or "-t0-" not in f:
                continue
            with open(os.path.join(RESULTS, f)) as fh:
                r = json.load(fh)
            if r.get("host", {}).get("seconds") == seconds and r.get("correct"):
                v = r["metrics"].get(metric)
                if v is not None:
                    vals.append(v)
    return statistics.median(vals) if vals else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    # nominal offered rates, events/s; BENCHMARK.json's command holds them
    ap.add_argument("--short-rate", type=float, required=True)
    ap.add_argument("--straddle-rate", type=float, required=True)
    a = ap.parse_args()
    rates = {"cdc_short": a.short_rate, "cdc_straddle": a.straddle_rate}
    bench_f = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_f):
        fail("BENCHMARK.json not found at the repository root")
    with open(bench_f) as fh:
        bench = json.load(fh)
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    units = {x["name"]: x["unit"] for x in wanted}
    cp = build()

    res, name = run_once(a, cp, rates, a.trace)
    m = res["metrics"]
    info = res["info"]
    if a.trace:
        # the traced run's own end-to-end numbers against this checkout's
        # untraced runs, when there are some (the in-run replay comparison
        # is the per-layer metric trace.overhead_replay_pct)
        for k in ("sustained_eps", "latency_p50_ms", "latency_p99_ms", "replay_eps"):
            base = untraced_median(a.workload, a.seconds, k)
            if base and m.get(k) is not None:
                info["trace_vs_untraced_%s_pct" % k] = 100.0 * (m[k] - base) / base
    if info.get("gen_selftest_ok") is False:
        res["correct"] = False
        res["failed"] += 1
    with open(os.path.join(RESULTS, name + ".json"), "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    keys = list(units)
    missing = [k for k in keys if not isinstance(m.get(k), (int, float))]
    if missing:
        fail("run %s produced no value for %s" % (name, ", ".join(missing)))
    print("cdcbench %s seed=%d seconds=%d trace=%d nproc=%d run=%s"
          % (a.workload, a.seed, a.seconds, a.trace, res["host"]["nproc"], name))
    for k in keys:
        print("  %-36s %s %s" % (k, m.get(k), units[k]))
    print("  error_rate %s (lost %s, duplicated %s, mismatched %s of %s expected messages)"
          % (info.get("error_rate"), info.get("lost"), info.get("duplicated"),
             info.get("mismatched"), info.get("expected_msgs")))
    print("  latency samples %s commits (%s messages), %s beyond p99%s"
          % (info.get("latency_samples"), info.get("latency_msgs"),
             info.get("latency_samples_beyond_p99"),
             "" if not info["p99_tail_short"] else
             "  [latency_p99_ms: fewer than %d samples beyond p99, the figure is"
             " close to the run's slowest commit]" % MIN_BEYOND_P99))
    for k in sorted(info):
        if k.startswith("trace_vs_untraced_"):
            print("  %-36s %.2f %%" % (k, info[k]))
    out = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
           "failed": int(res["failed"]),
           "metrics": {k: {"value": m[k], "unit": units[k]} for k in keys}}
    print(json.dumps(out))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
