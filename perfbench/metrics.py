"""The benchmark's arithmetic: turns the JVM's raw samples (result.json)
and span ledger (trace.json) into the reported metrics. Pure functions,
tested by test_metrics.py."""

import statistics

# Spans the per-layer table reports a median latency for, in order.
LAYER_SPANS = [
    "CommitLog.append", "CommitLog.upsert", "CommitLog.optimize",
    "CommitLog.readFiltered", "CommitLog.history", "CommitLog.read_asof",
    "LakeManager.sql_merge", "LakeManager.sql_delete",
    "LakeManager.sql_select", "LakeWriter.neardup", "LakeWriter.semantic",
    "LakeReader.load", "TimeFly.snapshot", "TimeFly.read_asof",
]

TAIL_BEYOND = 10

# CPU milliseconds of one reference job (perfbench.Reference) on a quiet
# 4-CPU host: the speed op costs are scaled to.
REF_MS = 750.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n). With n samples sorted ascending that
    is the (n - beyond)-th smallest: exactly `beyond` samples rank above
    it, at percentile 100 * (n - beyond) / n. With n <= 2 * beyond that
    percentile would sit at or below the median, which is no tail: the
    90th percentile, interpolated between ranks, is returned instead. It
    weighs the two costliest samples rather than resting on the single
    maximum."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 2 * beyond:
        if n == 1:
            return s[0], 90.0, 1
        return statistics.quantiles(s, n=10, method="inclusive")[-1], 90.0, n
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def failed_frac(failed, attempted):
    """Failed-or-wrong ops over attempted ops; an empty run is all
    failure."""
    return failed / attempted if attempted else 1.0


def ratio(num, den):
    """num / den, or 0 when nothing was measured."""
    return num / den if den else 0.0


def scaled_costs(ops, ref_ms=REF_MS):
    """Each op's CPU cost at the reference host's speed: its CPU
    milliseconds times ref_ms over the median cost of the reference job
    runs interleaved with these ops (an op preceded by one carries its
    cost in ref_cpu_ms, the others 0). Host contention that slows the ops
    slows the reference job beside them alike."""
    near = median([o["ref_cpu_ms"] for o in ops if o["ref_cpu_ms"] > 0])
    return [o["cpu_ms"] * ref_ms / near if near > 0 else 0.0 for o in ops]


def end_to_end(res):
    """The end-to-end metrics of one run, from result.json, and the
    run's raw figures (wall clock, unscaled CPU), which go to the run
    record only. Op costs are scaled CPU milliseconds (scaled_costs)."""
    window = [o for o in res["ops"] if o["phase"] == "window"]
    cost = scaled_costs(window)
    cpu = [o["cpu_ms"] for o in window]
    lat = [o["ms"] for o in window]
    t, pct, n = tail(cost)
    st = res["storage"]
    cost_s = sum(cost) / 1e3
    wall = sum(lat) / 1e3  # the window also runs the reference job
    writes = sum(o["rows_in"] for o in window)
    rows = writes if writes else sum(o["rows_out"] for o in window)
    return {
        "setup_s": (res["setup_s"], "s"),
        "ops_per_cpu_s": (ratio(len(window), cost_s), "op/cpu-s"),
        "op_p50_cpu_ms": (median(cost), "ms"),
        "op_tail_cpu_ms": (t, "ms"),
        "rows_per_cpu_s": (ratio(rows, cost_s), "rows/cpu-s"),
        "write_amp": (ratio(st["fs_bytes_written"], st["user_bytes"]), "ratio"),
        "space_amp": (ratio(st["disk_bytes"], st["live_bytes"]), "ratio"),
        "heap_live_mb": (res["heap_live_mb"], "MiB"),
    }, {"tail_percentile": pct, "tail_samples": n,
        "raw": {"ops_per_s": ratio(len(window), wall),
                "op_p50_ms": median(lat), "op_tail_ms": tail(lat)[0],
                "rows_per_s": ratio(rows, wall),
                "op_p50_unscaled_cpu_ms": median(cpu),
                "ops_per_unscaled_cpu_s": ratio(len(window), sum(cpu) / 1e3),
                "ref_cpu_ms": median([o["ref_cpu_ms"] for o in window
                                      if o["ref_cpu_ms"] > 0]),
                "setup_cpu_s": res.get("setup_cpu_s", 0.0),
                "jit_ms": sum(o.get("jit_ms", 0.0) for o in window)}}


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Ledger:
    """Spans with the jobs and queries Spark reported, each attached to
    the innermost span open when it started."""

    def __init__(self, trace):
        self.spans = trace["spans"]
        self.listener_ms = trace.get("listener_ms", 0.0)
        self.children = {s["id"]: [] for s in self.spans}
        for s in self.spans:
            if s["parent"] >= 0:
                self.children[s["parent"]].append(s["id"])
        self.jobs = {s["id"]: [] for s in self.spans}
        self.queries = {s["id"]: [] for s in self.spans}
        for j in trace["jobs"]:
            self._attach(self.jobs, j, j["t0"])
        for q in trace["queries"]:
            self._attach(self.queries, q, q["t"])

    def _attach(self, into, rec, t):
        # Spark stamps events in whole milliseconds: allow 1 ms of slack
        # at the span edges; the latest-opened (innermost) span wins
        best = None
        for s in self.spans:
            if s["t0"] - 1 <= t <= s["t1"] + 1:
                if best is None or s["t0"] >= best["t0"]:
                    best = s
        if best is not None:
            into[best["id"]].append(rec)

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children[i])
        return out

    def wall(self, sid):
        s = self.spans[sid]
        return s["t1"] - s["t0"]

    def self_ms(self, sid):
        """Wall time not covered by child spans or, for a leaf, by the
        jobs it launched."""
        s = self.spans[sid]
        covered = [(self.spans[c]["t0"], self.spans[c]["t1"])
                   for c in self.children[sid]]
        covered += [(j["t0"], j["t1"]) for j in self.jobs[sid]]
        return self.wall(sid) - union_ms(covered, s["t0"], s["t1"])

    def op_stats(self, sid):
        """One op's split: jobs, tasks, time inside jobs, driver gap,
        Catalyst, Janino, GC, shuffle and bytes written."""
        s = self.spans[sid]
        ids = self.subtree(sid)
        jobs = [j for i in ids for j in self.jobs[i]]
        qs = [q for i in ids for q in self.queries[i]]
        job_ms = union_ms([(j["t0"], j["t1"]) for j in jobs], s["t0"], s["t1"])
        return {
            "jobs": len(jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "job_ms": job_ms,
            "gap_ms": self.wall(sid) - job_ms,
            "plan_ms": sum(q["analysis_ms"] + q["optimization_ms"]
                           + q["planning_ms"] for q in qs),
            "compiles": s["compiles"],
            "compile_ms": s["compile_ms"],
            "gc_ms": s["gc_ms"],
            "shuffle_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
            "bytes_written": s["fs_bytes_written"],
        }

    def scans(self, sid):
        """(files, bytes) listed by the scans under span `sid`."""
        qs = [q for i in self.subtree(sid) for q in self.queries[i]]
        return (sum(q["scan_files"] for q in qs),
                sum(q["scan_bytes"] for q in qs))

    def self_times(self, phase):
        """Per span name in `phase`: count, wall and self milliseconds."""
        out = {}
        for s in self.spans:
            if s["phase"] != phase:
                continue
            e = out.setdefault(s["name"], {"count": 0, "wall_ms": 0.0,
                                           "self_ms": 0.0})
            e["count"] += 1
            e["wall_ms"] += self.wall(s["id"])
            e["self_ms"] += self.self_ms(s["id"])
        return out


def per_layer(res, trace):
    """The per-layer metrics of one traced run.

    Per-op figures average over the window's ops. A layer the workload
    never calls in its window is taken from the sweep that follows it
    (small instances of the other workloads), so every metric is
    measured; `sources` says which."""
    led = Ledger(trace)
    window_ops = [s for s in led.spans
                  if s["phase"] == "window" and s["name"].startswith("op.")]
    n = len(window_ops)
    per_op = [led.op_stats(s["id"]) for s in window_ops]

    def avg(key):
        return ratio(sum(p[key] for p in per_op), n)

    def window_else_sweep(names):
        """Spans named in `names` from the window, else from the sweep."""
        for phase in ("window", "sweep"):
            found = [s for s in led.spans
                     if s["phase"] == phase and s["name"] in names]
            if found:
                return found, phase
        return [], "sweep"

    out, sources = {}, {}
    for name in LAYER_SPANS:
        spans, sources[name] = window_else_sweep((name,))
        out[f"{name}.p50_ms"] = (median([led.wall(s["id"]) for s in spans]),
                                 "ms")

    extra = res.get("extra", {})
    sweep = res.get("sweep_extra", {})
    src = extra if extra.get("gate_offered") else sweep
    out["LakeWriter.kept_ratio"] = (
        ratio(src.get("gate_kept", 0), src.get("gate_offered", 0)), "ratio")
    sources["LakeWriter.kept_ratio"] = "window" if src is extra else "sweep"

    lookups, phase = window_else_sweep(("op.point", "op.miss"))
    files = [led.scans(s["id"])[0] for s in lookups]
    nbytes = [led.scans(s["id"])[1] for s in lookups]
    live = (extra if phase == "window" else sweep).get("lookup_live_files", 0)
    out["FileStats.files_per_lookup"] = (ratio(sum(files), len(files)), "files")
    out["FileStats.prune_ratio"] = (
        ratio(ratio(sum(files), len(files)), live), "ratio")
    out["scan.bytes_per_lookup"] = (ratio(sum(nbytes), len(nbytes)), "bytes")
    sources["FileStats"] = phase

    out["spark.jobs_per_op"] = (avg("jobs"), "jobs")
    out["spark.tasks_per_op"] = (avg("tasks"), "tasks")
    out["spark.job_ms_per_op"] = (avg("job_ms"), "ms")
    out["driver.gap_ms_per_op"] = (avg("gap_ms"), "ms")
    out["catalyst.plan_ms_per_op"] = (avg("plan_ms"), "ms")
    out["codegen.compiles_per_op"] = (avg("compiles"), "compiles")
    out["codegen.compile_ms_per_op"] = (avg("compile_ms"), "ms")
    out["shuffle.bytes_per_op"] = (avg("shuffle_bytes"), "bytes")
    out["io.bytes_written_per_op"] = (avg("bytes_written"), "bytes")
    out["jvm.gc_ms_per_op"] = (avg("gc_ms"), "ms")
    st = res["storage"]
    out["storage.files_live"] = (st["files_live"], "files")
    out["storage.files_on_disk"] = (st["files_on_disk"], "files")
    out["storage.commits"] = (st["commits"], "commits")
    out["trace.listener_ms_per_op"] = (ratio(led.listener_ms, n), "ms")
    return out, {"sources": sources, "self_ms": led.self_times("window")}
