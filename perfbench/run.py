#!/usr/bin/env python3
"""graft's benchmark: builds graft and the harness from source, runs one
workload in a fresh JVM, checks its outputs, and prints its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all [--seed N] [--seconds S]
    python3 perfbench/run.py --record-goldens

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json, or with --trace 1 its
per-layer metrics). --all runs every workload untraced and traced and
prints every metric by name. See perfbench/README.md.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
GOLDENS = os.path.join(HERE, "goldens.json")
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

WORKLOADS = ["batch", "stream"]
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# the JVMs of one run (a traced stream run has two) must end this long after
# the build, so that the run exits within the contract's 180 s
RUN_BUDGET_S = 170
deadline = None


def start_clock():
    global deadline
    deadline = time.monotonic() + RUN_BUDGET_S


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every input of the build: graft's sources and build
    definition, and the harness's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness with sbt once per source state;
    returns the runtime classpath."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            raise SystemExit("perfbench: %s is missing; run from a graft checkout" % need)
    digest = sources_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt")
    p = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], cwd=HERE, env=env, timeout=850,
                  stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    out = p.stdout.decode(errors="replace").strip().splitlines()
    cp = out[-1].strip() if out else ""
    if p.returncode != 0 or "perfbench" not in cp or ":" not in cp:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def run_child(cmd, timeout, **kw):
    """Runs a child in its own process group; on timeout or interrupt the
    whole group is killed and reaped."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    p.stdout = out
    return p


def cpu_calibration_s():
    """Drift control: median time of a fixed single-threaded CPU loop."""
    def once():
        t = time.perf_counter()
        x = 0
        for i in range(300000):
            x = (x * 31 + i) % 1000003
        return time.perf_counter() - t
    return benchlib.median([once() for _ in range(5)])


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_times():
    """(steal, total) jiffies of all CPUs: the hypervisor's share of this
    machine that other guests took shows as steal."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def run_jvm(cp, workload, seed, seconds, trace, drain=False):
    """One workload in a fresh JVM with its own run directory (temp files,
    Spark local dirs, graft's staged stores), deleted afterwards."""
    os.makedirs(RUNS, exist_ok=True)
    for stale in os.listdir(RUNS):
        shutil.rmtree(os.path.join(RUNS, stale), ignore_errors=True)
    run_dir = os.path.join(RUNS, uuid.uuid4().hex[:12])
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "raw.json")
    cmd = ["java"] + [a for p in OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    cmd += ["-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.local.dir=" + os.path.join(run_dir, "local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--drain", str(int(drain)),
            "--data", os.path.join(BUILD, "data"), "--run-dir", run_dir, "--out", out]
    try:
        with open(os.path.join(run_dir, "jvm.log"), "wb") as logf:
            p = run_child(cmd, timeout=max(1.0, deadline - time.monotonic()), cwd=run_dir,
                          stdout=logf, stderr=subprocess.STDOUT)
        if p.returncode != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "jvm.log"), errors="replace") as fh:
                tail = fh.read().splitlines()[-40:]
            sys.stderr.write("\n".join(tail) + "\n")
            raise SystemExit("perfbench: %s run failed (exit %s)" % (workload, p.returncode))
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def load_goldens():
    with open(GOLDENS) as fh:
        return json.load(fh)


def measure(cp, workload, seed, seconds, trace):
    """One run plus its drift control; returns (raw, summary, drift)."""
    goldens = load_goldens()
    drift = {"loadavg": loadavg(), "cpu_calibration_s": cpu_calibration_s()}
    steal0, total0 = cpu_times()
    # without a recorded reference for this feed length, the stream run
    # drains the feed itself
    raw = run_jvm(cp, workload, seed, seconds, trace,
                  drain=str(seconds) not in goldens["stream"])
    s = benchlib.summary(raw, goldens, seconds)
    drift["loadavg_after"] = loadavg()
    steal1, total1 = cpu_times()
    drift["steal_share"] = (steal1 - steal0) / float(max(1, total1 - total0))
    return raw, s, drift


def save_artifact(name, doc):
    d = os.path.join(BUILD, "artifacts")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "%s-%s.json" % (name, time.strftime("%Y%m%dT%H%M%S")))
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    return path


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def traced_run(cp, workload, seed, seconds):
    """An untraced and a traced measurement with the same seed: (untraced
    summary, traced summary, per-layer figures with the tracing overhead,
    the trace's spans, counters and streaming progress, drift). batch does
    both in one JVM: its untraced laps, the same laps traced, and the same
    laps untraced again, against which the traced ones are compared.
    stream runs untraced, then traced in a second JVM."""
    if workload == "batch":
        raw, s, drift = measure(cp, workload, seed, seconds, 1)
        goldens = load_goldens()
        ts = benchlib.summary(dict(raw, ops=raw["traced_ops"], gate={}), goldens, seconds)
        after = benchlib.summary(dict(raw, ops=raw["after_ops"], gate={}), goldens, seconds)
        ts["attempted"] += after["attempted"]
        ts["failed"] += after["failed"]
        ts["failures"] = ts["failures"] + after["failures"]
        overhead = benchlib.trace_overhead_pct(raw["traced_ops"], raw["ops"] + raw["after_ops"])
    else:
        _, s, drift = measure(cp, workload, seed, seconds, 0)
        raw, ts, _ = measure(cp, workload, seed, seconds, 1)
        overhead = (ts["latency_ms"] / s["latency_ms"] - 1.0) * 100.0
    return s, ts, benchlib.layer_metrics(raw, ts, overhead), raw["trace"], drift


def one(args, cp):
    b = spec()
    if args.trace:
        s, ts, layers, trace, drift = traced_run(cp, args.workload, args.seed, args.seconds)
        doc = {"summary": s, "drift": drift, "trace": trace}
        attempted = s["attempted"] + ts["attempted"]
        failed = s["failed"] + ts["failed"]
        failures = s["failures"] + ts["failures"]
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in b["per_layer"]}
    else:
        _, s, drift = measure(cp, args.workload, args.seed, args.seconds, 0)
        doc = {"summary": s, "drift": drift}
        attempted, failed, failures = s["attempted"], s["failed"], s["failures"]
        metrics = {m["name"]: {"value": s[m["name"]], "unit": m["unit"]}
                   for m in b["end_to_end"]}
    doc["metrics"] = metrics
    path = save_artifact("%s-seed%d-trace%d" % (args.workload, args.seed, args.trace), doc)
    for f in failures:
        log("FAILED: " + f)
    print("drift: loadavg %s, cpu calibration %.4f s, steal %.1f %%; %d samples; artifact %s"
          % (drift["loadavg"], drift["cpu_calibration_s"], 100 * drift["steal_share"],
             s["samples"], os.path.relpath(path, ROOT)))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


# Figures beyond BENCHMARK.json's end-to-end set, printed by --all.
EXTRA_METRICS = {
    "batch": [("lap_s", "s"), ("latency_p50_ms", "ms"), ("latency_p90_ms", "ms")],
    "stream": [("ingest_p50_ms", "ms"), ("ingest_p90_ms", "ms"),
               ("pairscan_file_p50_ms", "ms"), ("pairscan_file_p90_ms", "ms"),
               ("pairscan_p50_ms", "ms"), ("pairscan_p90_ms", "ms"),
               ("store_read_p50_ms", "ms"), ("store_read_p90_ms", "ms"),
               ("ingest_backlog_ratio", "ratio"), ("pairscan_backlog_ratio", "ratio")],
}


def everything(args, cp):
    """Every workload, untraced then traced: every metric by name."""
    report = {}
    ok = True
    for w in WORKLOADS:
        start_clock()
        s, ts, layers, trace, drift = traced_run(cp, w, args.seed, args.seconds)
        failed_ratio = (s["failed"] + ts["failed"]) / float(s["attempted"] + ts["attempted"])
        ok = ok and failed_ratio == 0
        rows = [(m["name"], s[m["name"]], m["unit"]) for m in spec()["end_to_end"]]
        rows += [("failed_ratio", failed_ratio, "ratio")]
        rows += [(n, s[n], u) for n, u in EXTRA_METRICS[w]]
        print("== %s  (seed %d, %d samples, loadavg %s, cpu calibration %.4f s, steal %.1f %%)"
              % (w, args.seed, s["samples"], drift["loadavg"], drift["cpu_calibration_s"],
                 100 * drift["steal_share"]))
        for n, v, u in rows:
            print("  %-34s %14.4f %s" % (n, v, u))
        print("  -- per layer (traced run)")
        for m in spec()["per_layer"]:
            print("  %-34s %14.4f %s" % (m["name"], layers[m["name"]], m["unit"]))
        for f in s["failures"] + ts["failures"]:
            print("  FAILED: " + f)
        report[w] = {"summary": s, "traced_summary": ts, "layers": layers, "drift": drift,
                     "failed_ratio": failed_ratio, "trace": trace}
    print("artifact " + os.path.relpath(save_artifact("all-seed%d" % args.seed, report), ROOT))
    return 0 if ok else 1


def record_goldens(cp, seconds):
    """Records goldens.json at the seed commit: the measured batch queries'
    row counts and checksums, and the opportunities of an AvailableNow
    drain of the stream feed for `seconds`."""
    raw = run_jvm(cp, "goldens", 0, seconds, 0)
    bad = {n: g for n, g in raw["gate"].items() if "error" in g}
    if bad or not raw["reference"]:
        raise SystemExit("perfbench: recording goldens failed: %s" % (bad or "no opportunities"))
    queries = {n: {"rows": g["rows"], "sum": g["sum"]} for n, g in raw["gate"].items()}
    doc = {"queries": queries,
           "stream": {str(seconds): {"count": len(raw["reference"]),
                                     "digest": benchlib.keys_digest(raw["reference"]),
                                     "feed_files": raw["feed_files"]}}}
    with open(GOLDENS, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("recorded %d query goldens and %d opportunities for a %d-file feed"
          % (len(raw["gate"]), len(raw["reference"]), raw["feed_files"]))
    return 0


def main():
    # a terminated run still stops its JVM or sbt (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--record-goldens", action="store_true")
    args = ap.parse_args()
    if not (args.workload or args.all or args.record_goldens):
        ap.error("one of --workload, --all, --record-goldens is required")
    cp = build()
    start_clock()
    if args.record_goldens:
        return record_goldens(cp, spec()["run_seconds"])
    if args.all:
        return everything(args, cp)
    return one(args, cp)


if __name__ == "__main__":
    sys.exit(main())
