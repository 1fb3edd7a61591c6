#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 graftbench/run.py --workload query-floor|matmul|tx-upsert \
        --seed N --seconds S --trace 0|1

Builds the benchmark JVM (graft's sources plus the client under
graftbench/src) with sbt on first use, runs one workload in a fresh JVM,
checks its outputs, and prints as the last stdout line one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it carries every metric the benchmark computes (see README.md).
Everything it writes stays under graftbench/work and graftbench/target.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
WORKLOADS = ("query-floor", "matmul", "tx-upsert")
SETUP_REPS = 3
HEAP = "2g"
MATMUL_N = 320
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
END_TO_END = ("setup_s", "ops_per_s")
# Units of the per-layer metrics whose unit is neither s (names ending
# in _s) nor count.
UNITS = {"exec.empty_task_ratio": "ratio", "tx.rewrite_ratio": "ratio", "tx.write_amp": "ratio",
         "tx.space_amp": "ratio", "exec.input_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
         "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes", "tx.bytes_written": "bytes",
         "tx.log_bytes": "bytes", "jvm.heap_after_gc_mb": "MB", "exec.input_rows": "rows",
         "exec.join_output_rows": "rows"}


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            yield top
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)


def build():
    """Compile graft and the client with sbt unless the classpath file
    is newer than every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not next to the benchmark")
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("sbt build failed")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def spark_home():
    """SPARK_HOME, or the first installation on PATH: a directory with
    spark-submit whose parent holds the Spark jars."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    die("no Spark installation found (set SPARK_HOME)")


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 2
    return max(1, n - 1)


def run_jvm(cp, a, out):
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    launch_ms = time.time() * 1000
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
              f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
              f"-Dderby.system.home={WORK}",
              "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", WORK, "--out", out,
              "--launch-ms", repr(launch_ms), "--cores", str(cores()),
              "--setup-reps", str(SETUP_REPS), "--n", str(MATMUL_N)])
    log = open(os.path.join(WORK, f"{a.workload}.jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=WORK, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        die(f"the {a.workload} JVM ran past {JVM_TIMEOUT_S} s (log: {log.name})")
    finally:
        log.close()
    if rc != 0 or not os.path.exists(out):
        die(f"the {a.workload} JVM failed with code {rc} (log: {log.name})")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    os.makedirs(WORK, exist_ok=True)
    out = os.path.join(WORK, f"{a.workload}-seed{a.seed}-trace{a.trace}.raw.json")
    if os.path.exists(out):
        os.remove(out)
    gen_s = []
    if a.workload == "query-floor":
        # The tables are this workload's input build, repeated like the
        # other workloads' builds; the median counts toward setup_s.
        import gen
        for _ in range(SETUP_REPS):
            t = time.monotonic()
            gen.write(os.path.join(WORK, "query-floor", "data"), a.seed)
            gen_s.append(time.monotonic() - t)
    raw = run_jvm(cp, a, out)
    if gen_s:
        raw["setup"]["gen_s"] = gen_s
        raw["setup"]["setup_s"] += statistics.median(gen_s)

    ops = [o for o in raw["ops"] if o["window"]]
    checks = [o for o in raw["ops"] if not o["window"]]
    wrong = set()
    if a.workload == "query-floor":
        import oracle
        wq = os.path.join(WORK, "query-floor")
        wrong = oracle.compare(os.path.join(wq, "data"), os.path.join(wq, "results"),
                               sorted({o["kind"] for o in ops}))
    attempted, failed, err = metrics.error_ratio(ops, wrong)
    ex = raw.get("extra", {})
    # query-floor: the oracle compare above; matmul: the checked warm-up
    # op; tx-upsert: the final-snapshot check op after the window.
    checks_ran = all(o["ok"] for o in checks) and {
        "query-floor": True, "matmul": "checked" in ex, "tx-upsert": bool(checks)}[a.workload]

    win = raw["window"]
    window_s = (win["end_ms"] - win["start_ms"] - win["paused_ms"]) / 1e3
    lat = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops]
    tl = metrics.tail(lat)
    m = {
        "setup_s": (raw["setup"]["setup_s"], "s"),
        "ops_per_s": (len(ops) / window_s, "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tl[1] if tl else None, "s"),
        "error_ratio": (err, "ratio"),
        "peak_heap_mb": (raw["peak_heap_mb"], "MB"),
    }
    if a.workload == "tx-upsert":
        # Per call kind, never pooled: writes are the merge upserts, reads
        # the range reads (latest and time travel), one sample per call.
        for kind, span in (("write", "tx.merge"), ("read", "tx.snapshot")):
            xs = [(s["end_ms"] - s["start_ms"]) / 1e3 for s in raw["spans"]
                  if s["name"] == span and s["op"] in {o["id"] for o in ops}]
            t = metrics.tail(xs)
            m[f"{kind}_p50_s"] = (statistics.median(xs) if xs else None, "s")
            m[f"{kind}_tail_s"] = (t[1] if t else None, "s")
        listings = ex["listings"]
        m["write_amp"] = (metrics.write_amp(metrics.bytes_written(listings), ex["logical_bytes_written"]), "ratio")
        m["space_amp"] = (metrics.space_amp(sum(listings[-1].values()), ex["live_logical_bytes"]), "ratio")
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": raw["cores"],
        "heap_mb": raw["heap_max_mb"], "window_s": window_s, "ops": len(ops),
        "metrics": {k: {"value": v, "unit": u} for k, v, u in ((k, *m[k]) for k in m)},
        "tail": ({"level": tl[0], "samples_beyond": tl[2]} if tl else
                 {"level": None, "reason": f"fewer than {metrics.TAIL_MIN_BEYOND} samples beyond the median"}),
        "drift_quarters": metrics.drift_quarters(ops, win["start_ms"], win["end_ms"]),
        "setup": raw["setup"], "checks_ran": bool(checks_ran), "wrong_queries": sorted(wrong),
        "errors": sorted({o["error"] for o in ops if o["error"]})[:5],
        "extra": {k: v for k, v in ex.items() if k != "listings"},
    }
    if a.trace:
        layer, self_s, recon = metrics.layers(raw)
        bad = [r for r in recon if not r["ok"]]
        detail["layers"] = layer
        detail["self_s_per_op"] = self_s
        detail["reconcile"] = {
            "tolerance": f"span time outside its op <= {metrics.RECONCILE_TOLERANCE:.0%} of the op's wall time "
                         f"+ {metrics.RECONCILE_SLACK_MS:g} ms",
            "ops": len(recon), "violations": len(bad),
            "max_outside_ms": max((r["outside_ms"] for r in recon), default=0.0),
            "max_self_sum_error_ms": max((abs(r["self_sum_ms"] - r["wall_ms"]) for r in recon), default=0.0)}
        result = {k: {"value": v, "unit": UNITS.get(k, "s" if k.endswith("_s") else "count")}
                  for k, v in layer.items()}
    else:
        result = {k: {"value": m[k][0], "unit": m[k][1]} for k in END_TO_END}
    with open(os.path.join(WORK, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail))
    correct = bool(checks_ran) and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": result}))


if __name__ == "__main__":
    main()
