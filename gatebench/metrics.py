"""Arithmetic of the gate benchmark: percentiles, span self time, counter
attribution and the reported metrics. Pure functions over the raw run
file that gatebench.Main writes; tests/test_metrics.py covers them."""

import hashlib
import statistics
import time

CORES = 4
UNITS = {
    "wall_s": "s", "gate_midmean_s": "s", "gate_tail_s": "s", "setup_s": "s",
    "peak_rss_mb": "MB",
    "tables.resolve_s": "s", "tables.resolve_jobs": "count",
    "queries.construct_s": "s", "queries.eager_jobs": "count", "queries.eager_share": "frac",
    "plans.plan_s": "s", "plans.exchanges": "count", "plans.reused_exchanges": "count",
    "plans.scans": "count",
    "operators.exec_s": "s", "operators.jobs": "count", "operators.stages": "count",
    "operators.tasks": "count", "operators.task_run_s": "s", "operators.task_cpu_s": "s",
    "operators.core_util": "frac", "operators.shuffle_write_bytes": "B",
    "operators.shuffle_read_bytes": "B", "operators.spill_bytes": "B",
    "operators.peak_exec_mem_bytes": "B", "operators.gc_s": "s",
    "operators.rows_examined_per_row": "ratio",
    "sources.bytes_written": "B", "sources.bytes_read": "B",
    "sources.bytes_written_per_row": "B/row", "sources.tmp_bytes_left": "B",
    "jvm.read_syscalls": "count", "jvm.write_syscalls": "count",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.batch_tail_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.outside_batch_s": "s", "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "stateful.cold_s": "s", "stateful.steady_s": "s",
    "trace.overhead_frac": "frac",
    "box.cpu_probe_s": "s", "box.membw_gbps": "GB/s", "box.bg_cpu_cores": "cores",
    "box.steal_frac": "frac",
}
PHASES = ("construct", "plan", "execute")
# gates whose state carries over between executions: cold and steady
# time are reported apart
STATEFUL = ("t99_incremental_lsh_dedup", "v48_incremental_ivf",
            "v49_incremental_semdedup", "v51_hnsw_incremental")


# ---------------------------------------------------------------- order

def gate_order(seed, pass_no, gates):
    """The order of `gates` in one pass: a permutation that depends on
    the seed and the pass number only."""
    key = lambda g: hashlib.sha256(f"{seed}:{pass_no}:{g}".encode()).hexdigest()
    return sorted(gates, key=key)


def cold_order(gates):
    """The cold pass's order, the same whatever the seed: the other gates
    by name, then the stateful ones. The JVM's warm-up lands on the same
    gates in every run, and not on a stateful gate, so a stateful gate's
    cold time is its own first-call cost."""
    return sorted(g for g in gates if g not in STATEFUL) + [g for g in STATEFUL if g in gates]


# --------------------------------------------------------------- sample

def draw_sample(survey, rule):
    """A workload's gates, drawn from the survey's per-gate figures
    ({gate: {"group", "warm_s", ...}}) by the rule in workloads.json.
    The gates of each group named in rule["strata"], sorted by warm wall
    (then name), are cut into that many strata of equal count. A stratum
    that holds stateful gates is represented by them (their cold and
    steady times are reported); any other stratum by its median gate,
    the lower of two. Each pick thus stands for about the same number of
    the set's gates."""
    picked = []
    for group, k in sorted(rule["strata"].items()):
        xs = sorted((g for g, v in survey.items() if v["group"] == group),
                    key=lambda g: (survey[g]["warm_s"], g))
        n, k = len(xs), min(k, len(xs))
        for i in range(k):
            stratum = xs[i * n // k:(i + 1) * n // k]
            forced = [g for g in stratum if g in STATEFUL]
            picked += forced or [stratum[(len(stratum) - 1) // 2]]
    return sorted(picked)


# ---------------------------------------------------------- percentiles

def median(values):
    return statistics.median(values) if values else 0.0


def tail_rank(n, beyond=10):
    """Index, in n sorted samples, of the highest-percentile sample that
    still has at least `beyond` samples above it, or a quarter of the
    samples when that is fewer (so a small sample's tail starts at its
    upper quartile, never lower)."""
    return n - min(beyond, n // 4) - 1


def tail(values, beyond=10):
    """The mean of the samples from the tail rank up, as (value,
    percentile of the tail rank, sample count); None without samples.
    A mean over every sample in the tail, not one order statistic, so
    that no tail figure rests on a single gate."""
    xs = sorted(values)
    n = len(xs)
    if not n:
        return None
    i = tail_rank(n, beyond)
    return statistics.fmean(xs[i:]), int(100 * (i + 1) / n), n


# ----------------------------------------------------------------- spans

def self_time(span, children):
    """A span's duration minus the part of it its children cover (the
    children may overlap each other and stick out of the parent)."""
    s0, s1 = span["start_ms"], span["end_ms"]
    ivs = sorted((max(c["start_ms"], s0), min(c["end_ms"], s1)) for c in children)
    covered, cur0, cur1 = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur1 is None or a > cur1:
            if cur1 is not None:
                covered += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        covered += cur1 - cur0
    return (s1 - s0) - covered


def build_spans(gate_trace, jobs, batches):
    """Spans of one traced gate run: the gate, its three phases, and each
    job and micro-batch as a child of the phase that launched it. All
    carry the gate run id; self time is filled in."""
    run = gate_trace["gate_run"]
    marks = gate_trace["marks_ms"]
    spans = [{"id": run, "parent": None, "name": "gate",
              "start_ms": marks[0], "end_ms": marks[-1]}]
    for i, ph in enumerate(PHASES[:len(marks) - 1]):
        spans.append({"id": f"{run}|{ph}", "parent": run, "name": ph,
                      "start_ms": marks[i], "end_ms": marks[i + 1]})
    phase_ids = {s["id"] for s in spans}
    for j in jobs:
        if j["span"] in phase_ids and "end_ms" in j:
            spans.append({"id": f"job{j['job']}", "parent": j["span"], "name": "job",
                          "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    for b in batches:
        if b["gate_run"] != run:
            continue
        start = b["start_ms"]
        parent = next((s["id"] for s in spans[1:] if s["name"] in PHASES
                       and s["start_ms"] <= start < s["end_ms"]), f"{run}|construct")
        spans.append({"id": f"batch:{b['query']}:{b['batch']}", "parent": parent,
                      "name": "batch", "start_ms": start,
                      "end_ms": start + b["duration_ms"].get("triggerExecution", 0)})
    for s in spans:
        s["gate_run"] = run
        s["self_ms"] = self_time(s, [c for c in spans if c["parent"] == s["id"]])
    return spans


# ------------------------------------------------------------- counters

STAGE_FIELDS = ("tasks", "run_ms", "cpu_ns", "shuffle_write_bytes",
                "shuffle_read_bytes", "mem_spill_bytes", "disk_spill_bytes",
                "gc_ms", "input_records", "input_bytes", "failed_tasks")


def _no_counters():
    return dict({f: 0 for f in STAGE_FIELDS}, jobs=0, stages=0, peak_exec_mem_bytes=0)


def attribute(jobs, stages):
    """Job and stage counters per span ("<gate run>|<phase>"). A stage
    belongs to the first job that lists it; peak execution memory is a
    maximum, every other counter a sum."""
    owner = {}
    for j in jobs:
        for s in j["stages"]:
            owner.setdefault(s, j["span"])
    out = {}

    for j in jobs:
        out.setdefault(j["span"], _no_counters())["jobs"] += 1
    for st in stages:
        c = out.setdefault(owner.get(st["stage"], ""), _no_counters())
        c["stages"] += 1
        for f in STAGE_FIELDS:
            c[f] += st[f]
        c["peak_exec_mem_bytes"] = max(c["peak_exec_mem_bytes"], st["peak_exec_mem_bytes"])
    return out


# bytes through the local Hadoop file system; the whole JVM's read and
# write syscalls
FS_FIELDS = ("bytes_read", "bytes_written", "read_syscalls", "write_syscalls")


def fs_diff(before, after):
    """I/O counters gained between two snapshots."""
    return {f: after[i] - before[i] for i, f in enumerate(FS_FIELDS)}


# -------------------------------------------------------------- checks

def check(samples, expected):
    """Names of failed gate runs: the gate threw, or its row count is
    not DuckDB's count for the gate's oracle SQL."""
    bad = []
    for s in samples:
        if s["error"] is not None:
            bad.append((s["gate"], s["error"]))
        elif s["rows"] != expected.get(s["gate"]):
            bad.append((s["gate"], f"rows {s['rows']} != oracle {expected.get(s['gate'])}"))
    return bad


def wall_s(sample):
    return (sample["end_ms"] - sample["start_ms"]) / 1000.0


def pass_walls(samples):
    """{pass: seconds from its first gate's start to its last gate's end}."""
    by = {}
    for s in samples:
        a, b = by.get(s["pass"], (s["start_ms"], s["end_ms"]))
        by[s["pass"]] = (min(a, s["start_ms"]), max(b, s["end_ms"]))
    return {p: (b - a) / 1000.0 for p, (a, b) in by.items()}


# ------------------------------------------------------------ end to end

def midmean(values):
    """The mean of the middle half of the samples (the interquartile
    mean): a typical value that, unlike the median of a small sample,
    does not rest on one or two samples."""
    xs = sorted(values)
    q = len(xs) // 4
    return statistics.fmean(xs[q:len(xs) - q]) if xs else 0.0


def end_to_end(raw):
    """The user-facing metrics, from the untraced timed passes; the info
    part adds the plain median gate wall, which no bound covers."""
    timed = [s for s in raw["samples"] if s["pass"] >= 0 and not s["traced"]]
    walls = [wall_s(s) for s in timed]
    t = tail(walls)
    return {
        "wall_s": median(list(pass_walls(timed).values())),
        "gate_midmean_s": midmean(walls),
        "gate_tail_s": t[0] if t else 0.0,
        "setup_s": raw["setup_s"],
        "peak_rss_mb": raw["vmhwm_bytes"] / 2**20,
    }, {"gate_samples": len(walls), "gate_tail_pct": t[1] if t else 0,
        "gate_p50_s": median(walls), "passes": len(pass_walls(timed))}


# ------------------------------------------------------------- per layer

def per_layer(raw):
    """Layer metrics from the traced passes (medians over passes of
    per-pass totals), the table-resolution reps and the stateful gates.
    Returns (metrics, spans)."""
    counters = attribute(raw["jobs"], raw["stages"])
    zero = _no_counters()
    traced = raw["gates"]
    passes = sorted({g["pass"] for g in traced})
    spans = []
    per_pass = []
    for p in passes:
        gs = [g for g in traced if g["pass"] == p]
        tot = {k: 0.0 for k in (
            "construct_s", "plan_s", "exec_s", "eager_jobs", "exchanges",
            "reused_exchanges", "scans", "rows", "input_records", "jobs", "stages",
            "tasks", "run_ms", "cpu_ns", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "gc_ms", "bytes_read", "bytes_written", "read_syscalls",
            "write_syscalls", "batches", "commit_ms", "trigger_ms", "stream_construct_s",
            "state_rows", "state_bytes")}
        peak = 0
        batch_ms = []
        for g in gs:
            sp = build_spans(g, raw["jobs"], raw["batches"])
            spans.extend(sp)
            ph = {s["name"]: (s["end_ms"] - s["start_ms"]) / 1000.0
                  for s in sp if s["name"] in PHASES}
            tot["construct_s"] += ph.get("construct", 0.0)
            tot["plan_s"] += ph.get("plan", 0.0)
            tot["exec_s"] += ph.get("execute", 0.0)
            run = g["gate_run"]
            tot["eager_jobs"] += counters.get(f"{run}|construct", zero)["jobs"]
            ex = counters.get(f"{run}|execute", zero)
            for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
                      "shuffle_write_bytes", "shuffle_read_bytes", "input_records"):
                tot[k] += ex[k]
            tot["spill_bytes"] += ex["disk_spill_bytes"]
            peak = max(peak, ex["peak_exec_mem_bytes"])
            for k in ("exchanges", "reused_exchanges", "scans"):
                tot[k] += g[k]
            tot["rows"] += max(g["rows"], 0)
            for k, v in fs_diff(g["fs"][0], g["fs"][-1]).items():
                tot[k] += v
            bs = [b for b in raw["batches"] if b["gate_run"] == run]
            if bs:
                trig = [b["duration_ms"].get("triggerExecution", 0) for b in bs]
                batch_ms.extend(trig)
                tot["batches"] += len(bs)
                tot["trigger_ms"] += sum(trig)
                tot["commit_ms"] += sum(b["duration_ms"].get("walCommit", 0)
                                        + b["duration_ms"].get("commitOffsets", 0) for b in bs)
                tot["stream_construct_s"] += ph.get("construct", 0.0)
                last = {}
                for b in bs:
                    last[b["query"]] = b
                tot["state_rows"] += sum(b["state_rows"] for b in last.values())
                tot["state_bytes"] += sum(b["state_bytes"] for b in last.values())
        tot["peak_exec_mem_bytes"] = peak
        tot["batch_ms"] = batch_ms
        per_pass.append(tot)

    def med(key):
        return median([t[key] for t in per_pass])

    samples = raw["samples"]
    traced_walls = pass_walls([s for s in samples if s["pass"] >= 0 and s["traced"]])
    plain_walls = pass_walls([s for s in samples if s["pass"] >= 0 and not s["traced"]])
    wall_traced = median(list(traced_walls.values()))
    wall_plain = median(list(plain_walls.values()))
    batch_ms = [x for t in per_pass for x in t["batch_ms"]]
    bt = tail(batch_ms)
    exec_s, rows = med("exec_s"), med("rows")

    tables = raw["tables"]
    res_s = [(t["end_ms"] - t["start_ms"]) / 1000.0 for t in tables]
    res_jobs = [counters.get(f"tables.{t['rep']}|resolve", zero)["jobs"] for t in tables]

    def stateful(sel):
        by_pass = {}
        for s in samples:
            if s["gate"] in STATEFUL and sel(s):
                by_pass[s["pass"]] = by_pass.get(s["pass"], 0.0) + wall_s(s)
        return by_pass
    cold = stateful(lambda s: s["pass"] < 0)
    steady = stateful(lambda s: s["pass"] >= 0 and not s["traced"])

    m = {
        "tables.resolve_s": median(res_s),
        "tables.resolve_jobs": median(res_jobs),
        "queries.construct_s": med("construct_s"),
        "queries.eager_jobs": med("eager_jobs"),
        "queries.eager_share": med("construct_s") / wall_traced if wall_traced else 0.0,
        "plans.plan_s": med("plan_s"),
        "plans.exchanges": med("exchanges"),
        "plans.reused_exchanges": med("reused_exchanges"),
        "plans.scans": med("scans"),
        "operators.exec_s": exec_s,
        "operators.jobs": med("jobs"),
        "operators.stages": med("stages"),
        "operators.tasks": med("tasks"),
        "operators.task_run_s": med("run_ms") / 1000.0,
        "operators.task_cpu_s": med("cpu_ns") / 1e9,
        "operators.core_util": med("run_ms") / 1000.0 / (exec_s * CORES) if exec_s else 0.0,
        "operators.shuffle_write_bytes": med("shuffle_write_bytes"),
        "operators.shuffle_read_bytes": med("shuffle_read_bytes"),
        "operators.spill_bytes": med("spill_bytes"),
        "operators.peak_exec_mem_bytes": med("peak_exec_mem_bytes"),
        "operators.gc_s": med("gc_ms") / 1000.0,
        "operators.rows_examined_per_row": med("input_records") / rows if rows else 0.0,
        "sources.bytes_written": med("bytes_written"),
        "sources.bytes_read": med("bytes_read"),
        "sources.bytes_written_per_row": med("bytes_written") / rows if rows else 0.0,
        "jvm.read_syscalls": med("read_syscalls"),
        "jvm.write_syscalls": med("write_syscalls"),
        "streaming.batches": med("batches"),
        "streaming.batch_p50_ms": median(batch_ms),
        "streaming.batch_tail_ms": bt[0] if bt else 0.0,
        "streaming.commit_ms": med("commit_ms"),
        "streaming.outside_batch_s": med("stream_construct_s") - med("trigger_ms") / 1000.0,
        "streaming.state_rows": med("state_rows"),
        "streaming.state_bytes": med("state_bytes"),
        "stateful.cold_s": sum(cold.values()),
        "stateful.steady_s": median(list(steady.values())),
        "trace.overhead_frac": wall_traced / wall_plain - 1.0 if wall_plain else 0.0,
    }
    return m, spans


def box_probe(triad_elems=16 << 20):
    """Box calibration, run before and after the measured JVM: seconds
    for a fixed single-thread SHA-256 over 4 x 32 MiB (best of 3), and a
    STREAM-style triad a = b + s*c over three arrays of 16 Mi doubles
    (384 MiB together, more than the last-level cache), best of 4, in
    GB/s. numpy does the triad in two passes, which move 40 bytes per
    element."""
    import numpy as np
    data = bytes(32 << 20)
    cpu = []
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(4):
            hashlib.sha256(data).digest()
        cpu.append(time.perf_counter() - t0)
    a, b, c = np.empty(triad_elems), np.ones(triad_elems), np.full(triad_elems, 2.0)
    bw = []
    for _ in range(4):
        t0 = time.perf_counter()
        np.multiply(c, 3.0, out=a)
        np.add(a, b, out=a)
        bw.append(time.perf_counter() - t0)
    return {"cpu_probe_s": min(cpu), "membw_gbps": 40.0 * triad_elems / min(bw) / 1e9}


def box(raw, probe_start, probe_end):
    """Box calibration over the measured JVM's lifetime."""
    j0, j1 = raw["jiffies_start"], raw["jiffies_end"]
    el = (j1["at_ms"] - j0["at_ms"]) / 1000.0
    others = (j1["busy"] - j0["busy"]) - (j1["self"] - j0["self"])
    total = j1["total"] - j0["total"]
    return {
        "box.cpu_probe_s": (probe_start["cpu_probe_s"] + probe_end["cpu_probe_s"]) / 2,
        "box.membw_gbps": (probe_start["membw_gbps"] + probe_end["membw_gbps"]) / 2,
        "box.bg_cpu_cores": max(0.0, others / 100.0 / el) if el > 0 else 0.0,
        "box.steal_frac": (j1["steal"] - j0["steal"]) / total if total > 0 else 0.0,
    }
