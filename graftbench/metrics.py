"""Metric arithmetic of the benchmark: percentiles, the tail rule, error
and amplification ratios, drift quarters and the traced run's per-layer
numbers. Pure functions over the JVM's raw artifact, so they are tested
without Spark (test_metrics.py)."""
import math
import statistics

# Percentile levels tried for the tail, highest first.
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A tail needs at least this many samples strictly beyond it.
TAIL_MIN_BEYOND = 10
# Traced-run reconciliation: the layer spans of an op may reach outside
# the op by at most this share of its wall time plus RECONCILE_SLACK_MS
# (Spark stamps listener events in whole milliseconds).
RECONCILE_TOLERANCE = 0.02
RECONCILE_SLACK_MS = 5.0


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values):
    """The highest percentile in TAIL_LEVELS with at least
    TAIL_MIN_BEYOND samples strictly above it, as (level, value,
    samples_beyond); None when even the median has fewer beyond it."""
    for level in TAIL_LEVELS:
        if not values:
            return None
        v = percentile(values, level)
        beyond = sum(1 for x in values if x > v)
        if beyond >= TAIL_MIN_BEYOND:
            return level, v, beyond
    return None


def error_ratio(ops, wrong_kinds=()):
    """(attempted, failed, ratio): an op fails if it raised, if a check
    marked its output wrong, or if its kind is in `wrong_kinds` (a
    query whose checked result disagreed with the oracle)."""
    wrong = set(wrong_kinds)
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["kind"] in wrong)
    return attempted, failed, (failed / attempted if attempted else 1.0)


def bytes_written(listings):
    """Bytes written under a table root, from its file listings ({path:
    size}) taken after set-up and after every op: each file that was not
    in the previous listing was written in between. (TxTable never
    rewrites a file in place; a file written and removed within one op
    is not seen.)"""
    total = 0
    for prev, cur in zip(listings, listings[1:]):
        total += sum(size for path, size in cur.items() if path not in prev)
    return total


def log_bytes(listing):
    """Bytes of the commit log and its checkpoints (`_log/`)."""
    return sum(size for path, size in listing.items() if path.startswith("_log/"))


def write_amp(bytes_written, logical_bytes_written):
    """Bytes the writes put under the table root per logical byte of
    the rows and keys they submitted."""
    return bytes_written / logical_bytes_written


def space_amp(disk_bytes, live_logical_bytes):
    """Bytes on disk under the root per logical byte of the live rows."""
    return disk_bytes / live_logical_bytes


def drift_quarters(ops, start_ms, end_ms):
    """JIT seconds and codegen compiles per quarter of the window, each
    op counted in the quarter its start falls in."""
    q = [{"jit_s": 0.0, "codegen_compiles": 0, "ops": 0} for _ in range(4)]
    span = max(end_ms - start_ms, 1e-9)
    for o in ops:
        i = min(3, max(0, int(4 * (o["start_ms"] - start_ms) / span)))
        q[i]["jit_s"] += o["jit_ms"] / 1e3
        q[i]["codegen_compiles"] += o["compiles"]
        q[i]["ops"] += 1
    return q


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(op_start, op_end, spans):
    """Split an op's wall time over its layer spans.

    `spans` are (name, level, start, end); the op itself is level 0.
    Self time is a span's duration minus the part its children (deeper
    spans) cover: each instant of the op goes to the deepest spans
    active then, split evenly when several run at once, so the self
    times of an op sum to its wall time. Returns (self_ms by name,
    outside_ms): outside_ms is the span time that falls outside the op,
    the reconciliation error."""
    clipped, outside = [], 0.0
    for name, level, s, e in spans:
        cs, ce = max(s, op_start), min(e, op_end)
        outside += max(0.0, e - s) - max(0.0, ce - cs)
        if ce > cs:
            clipped.append((name, level, cs, ce))
    cuts = sorted({op_start, op_end, *[c[2] for c in clipped], *[c[3] for c in clipped]})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        active = [c for c in clipped if c[2] <= a and c[3] >= b]
        if not active:
            out["op"] = out.get("op", 0.0) + (b - a)
            continue
        deepest = max(c[1] for c in active)
        leaves = [c for c in active if c[1] == deepest]
        for c in leaves:
            out[c[0]] = out.get(c[0], 0.0) + (b - a) / len(leaves)
    return out, outside


def layers(raw):
    """Per-layer metrics of a traced run, each a per-op mean over the
    window unless its name says otherwise, plus the reconciliation."""
    ops = [o for o in raw["ops"] if o["window"]]
    n = len(ops)
    by_id = {o["id"]: o for o in ops}
    spans = [s for s in raw.get("spans", []) if s["op"] in by_id]
    jobs = [j for j in raw.get("jobs", []) if j["op"] in by_id]
    job_op = {j["id"]: j["op"] for j in jobs}
    stages = [s for s in raw.get("stages", []) if s["job"] in job_op]

    def owner(ms):
        for o in ops:
            if o["start_ms"] - 1 <= ms <= o["end_ms"] + 1:
                return o["id"]
        return None

    execs = []
    for e in raw.get("execs", []):
        ph = e["phases"]
        anchor = (ph.get("planning") or ph.get("optimization") or ph.get("analysis") or [None, None])[1]
        op = owner(anchor) if anchor is not None else None
        if op is not None:
            execs.append((op, e))

    def dur(xs):
        return sum(x["end_ms"] - x["start_ms"] for x in xs) / 1e3

    def phase_s(name):
        return sum(e["phases"][name][1] - e["phases"][name][0]
                   for _, e in execs if name in e["phases"]) / 1e3

    def stage_sum(k):
        return sum(s[k] for s in stages)

    def call_median(name):
        ds = [(s["end_ms"] - s["start_ms"]) / 1e3 for s in spans if s["name"] == name]
        return statistics.median(ds) if ds else 0.0

    ex = raw.get("extra", {})
    rounds = max(1, ex.get("rounds", n))
    tasks = stage_sum("tasks")
    m = {
        "catalyst.codegen_compiles": sum(o["compiles"] for o in ops) / n,
        "catalyst.codegen_s": sum(o["codegen_ns"] for o in ops) / 1e9 / n,
        "jvm.jit_s": sum(o["jit_ms"] for o in ops) / 1e3 / n,
        "queries.build_s": dur([s for s in spans if s["name"] == "queries.build"]) / n,
        "catalyst.executions": len(execs) / n,
        "catalyst.analysis_s": phase_s("analysis") / n,
        "catalyst.optimizer_s": phase_s("optimization") / n,
        "catalyst.planning_s": phase_s("planning") / n,
        "scheduler.jobs": len(jobs) / n,
        "scheduler.stages": len(stages) / n,
        "scheduler.tasks": tasks / n,
        "scheduler.job_s": dur(jobs) / n,
        "scheduler.task_wait_s": stage_sum("sched_delay_ms") / 1e3 / n,
        "driver.gap_s": sum(
            (o["end_ms"] - o["start_ms"]) - union_ms(
                [(j["start_ms"], j["end_ms"]) for j in jobs if j["op"] == o["id"]],
                o["start_ms"], o["end_ms"]) for o in ops) / 1e3 / n,
        "exec.empty_task_ratio": stage_sum("empty_tasks") / tasks if tasks else 0.0,
        "exec.task_run_s": stage_sum("run_ms") / 1e3 / n,
        "exec.task_cpu_s": stage_sum("cpu_ns") / 1e9 / n,
        "exec.task_gc_s": stage_sum("gc_ms") / 1e3 / n,
        "exec.input_rows": stage_sum("input_rows") / n,
        "exec.input_bytes": stage_sum("input_bytes") / n,
        "exec.shuffle_write_bytes": stage_sum("shuffle_write_bytes") / n,
        "exec.shuffle_read_bytes": stage_sum("shuffle_read_bytes") / n,
        "exec.spill_bytes": stage_sum("spill_bytes") / n,
        "exec.join_output_rows": sum(e["join_rows"] for _, e in execs) / n,
        "ops.matmul_build_s": dur([s for s in spans if s["name"] == "ops.matmul"]) / n,
        "tx.merge_s": call_median("tx.merge"),
        "tx.delete_mor_s": call_median("tx.deleteMor"),
        "tx.snapshot_s": call_median("tx.snapshot"),
        "tx.changefeed_s": call_median("tx.changeFeed"),
        "tx.optimize_s": call_median("tx.optimize"),
        "tx.vacuum_s": call_median("tx.vacuum"),
        "tx.files_rewritten": ex.get("layer.files_rewritten", 0.0) / rounds,
        "tx.files_carried": ex.get("layer.files_carried", 0.0) / rounds,
        "tx.rewrite_ratio": (ex["layer.rows_rewritten"] / ex["layer.rows_changed"]
                             if ex.get("layer.rows_changed") else 0.0),
        "tx.bytes_written": bytes_written(ex.get("listings", [])) / rounds,
        "tx.checkpoint_commits": ex.get("layer.checkpoint_commits", 0.0) / rounds,
        "tx.live_files": ex.get("layer.live_files", 0.0) / rounds,
        "tx.dv_files": ex.get("layer.dv_files", 0.0) / rounds,
        "tx.log_bytes": float(log_bytes(ex["listings"][-1]) if ex.get("listings") else 0),
        "sources.files_discovered": sum(e["files"] for _, e in execs) / n,
        "engine.session_s": raw["setup"]["session_s"],
        "jvm.gc_pause_s": sum(o["gc_ms"] for o in ops) / 1e3 / n,
        "jvm.heap_after_gc_mb": raw["peak_heap_mb"],
    }
    if ex.get("logical_bytes_written"):
        m["tx.write_amp"] = write_amp(bytes_written(ex["listings"]), ex["logical_bytes_written"])
        m["tx.space_amp"] = space_amp(sum(ex["listings"][-1].values()), ex["live_logical_bytes"])
    else:
        m["tx.write_amp"] = m["tx.space_amp"] = 0.0

    # Reconciliation and self time per layer.
    level = {"scheduler.stage": 3, "scheduler.job": 2}
    recon, self_total = [], {}
    for o in ops:
        sp = [(s["name"], 1, s["start_ms"], s["end_ms"]) for s in spans if s["op"] == o["id"]]
        my_jobs = [j for j in jobs if j["op"] == o["id"]]
        sp += [("scheduler.job", level["scheduler.job"], j["start_ms"], j["end_ms"]) for j in my_jobs]
        ids = {j["id"] for j in my_jobs}
        sp += [("scheduler.stage", level["scheduler.stage"], s["start_ms"], s["end_ms"])
               for s in stages if s["job"] in ids]
        sp += [("catalyst." + k, 2, v[0], v[1]) for op, e in execs if op == o["id"]
               for k, v in e["phases"].items() if k in ("analysis", "optimization", "planning")]
        st, outside = self_times(o["start_ms"], o["end_ms"], sp)
        wall = o["end_ms"] - o["start_ms"]
        recon.append({"op": o["id"], "wall_ms": wall, "self_sum_ms": sum(st.values()),
                      "outside_ms": outside,
                      "ok": outside <= RECONCILE_TOLERANCE * wall + RECONCILE_SLACK_MS})
        for k, v in st.items():
            self_total[k] = self_total.get(k, 0.0) + v / 1e3
    return m, {k: v / n for k, v in sorted(self_total.items())}, recon
