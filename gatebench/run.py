#!/usr/bin/env python3
"""Gate benchmark: runs one workload of graft's oracle-gated Spark
programs ("gates") in one JVM on local[4] and prints its metrics.

    python3 gatebench/run.py --workload corpus --seed 1 --seconds 20 --trace 0
    python3 gatebench/run.py --workload store_stream --seed 1 --seconds 20 --trace 1
    python3 gatebench/run.py --workload corpus --seed 1 --seconds 20 --full-check

One client in a closed loop: one thread runs one gate at a time
(the gate function, then its plan's `toRdd.count()`), the next starting
when the previous result is complete. Set-up is the session bring-up
plus one untimed cold pass over the workload's gates, in a fixed order;
then comes one timed pass, whose sample is sized so that it takes about
`--seconds`. The seed only permutes the gate order of the timed pass.
Every gate's row count is checked against DuckDB's count for its oracle
SQL (oracle_counts.json).

`--trace 0` prints the end-to-end metrics; `--trace 1` follows the
untraced pass with a traced one and prints the per-layer metrics. Each run
writes an immutable record to gatebench/runs/<run id>.json. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

FIXTURES = HERE / "fixtures" / "sf0.01"
BUILD = HERE / ".build"
RUNS = HERE / "runs"
WORK = HERE / ".work"
DEADLINE_S = 170
BUILD_TIMEOUT_S = 600
# -Xms = -Xmx with every page touched at start: the heap's share of peak
# RSS is the same in every run, so peak RSS moves with off-heap and
# native memory only
JVM_HEAP = "2g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"gatebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def commit_id(src_hash):
    """The checkout's git commit, marked "-dirty" when the engine or the
    benchmark differs from it; outside git, "src-" and the source hash."""
    if (ROOT / ".git").exists():
        try:
            head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                  capture_output=True, text=True, timeout=10)
            status = subprocess.run(["git", "status", "--porcelain", "--", "build.sbt",
                                     "project", "src", "gatebench"], cwd=ROOT,
                                    capture_output=True, text=True, timeout=10)
            if head.returncode == 0 and status.returncode == 0:
                return head.stdout.strip()[:12] + ("-dirty" if status.stdout.strip() else "")
        except (OSError, subprocess.SubprocessError):
            pass
    return "src-" + src_hash[:12]


_children = set()


def _stop_children(signum, _frame):
    for pid in list(_children):
        try:
            os.killpg(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    die(f"stopped by signal {signum}", 1)


def run_child(cmd, timeout, **kw):
    """Runs a child in its own process group and kills the whole group
    if it outlives `timeout` or this script is stopped, so nothing it
    started stays behind."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.add(proc.pid)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{cmd[0]} timed out after {timeout:.0f} s", 1)
    finally:
        _children.discard(proc.pid)


def ensure_built(src_hash):
    """Compiles engine and harness through sbt once per source state and
    caches the runtime classpath and SparkEntry's gate sets."""
    stamp, cp_file, list_file = BUILD / "stamp", BUILD / "classpath", BUILD / "gates.json"
    if (stamp.exists() and stamp.read_text() == src_hash and cp_file.exists()
            and list_file.exists()):
        return cp_file.read_text().strip(), json.loads(list_file.read_text())
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # offline, from the repositories sbt is configured with (~/.sbt/repositories)
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = BUILD / "sbt.log"
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, cwd=HERE,
                       env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    lines = log.read_text().splitlines()
    if rc != 0 or not lines:
        die(f"build failed (rc={rc}); see {log}", 1)
    cp_file.write_text(lines[-1].strip())
    rc = run_child(java_cmd(lines[-1].strip(), "1g") + ["list", str(list_file)], 120,
                   cwd=BUILD, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if rc != 0:
        die("listing the gates failed", 1)
    stamp.write_text(src_hash)
    return cp_file.read_text().strip(), json.loads(list_file.read_text())


def java_cmd(classpath, heap, props=()):
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch"] + opens +
            [f"-D{k}={v}" for k, v in props] +
            ["-cp", classpath, "gatebench.Main"])


def workload_spec(name):
    spec = json.loads((HERE / "workloads.json").read_text())["workloads"]
    if name not in spec:
        die(f"unknown workload {name!r}; choose from {', '.join(spec)}")
    return spec[name]


def set_members(w, listing):
    """The gates of the SparkEntry set a workload is drawn from, each
    with its group: "batch" (SparkEntry.queries minus the next two),
    "streaming" (streamingQueries) or "sink_bound" (sinkBoundQueries)."""
    groups = {g: "batch" for g in listing["queries"]}
    groups.update({g: "sink_bound" for g in listing["sink_bound"]})
    groups.update({g: "streaming" for g in listing["streaming"]})
    allowed = {"batch": {"batch"}, "store_stream": {"streaming", "sink_bound"}}[w["from"]]
    return {g: grp for g, grp in groups.items()
            if grp in allowed and g[0] in w["prefixes"]}


def workload_gates(name, listing):
    """The workload's gates, checked against SparkEntry's own sets."""
    w = workload_spec(name)
    members = set_members(w, listing)
    stray = [g for g in w["gates"] if g not in members]
    if stray:
        die(f"workload {name}: not in SparkEntry's {w['from']} set with prefix "
            f"{w['prefixes']}: {', '.join(stray)}", 1)
    return list(w["gates"]), len(members)


def write_plan(path, cold, passes, trace):
    """The run plan gatebench.Main reads: the cold-pass order, then one
    gate order per timed pass."""
    lines = [f"fixtures {FIXTURES}", f"trace {int(trace)}", "cold " + " ".join(cold)]
    lines += ["pass " + " ".join(order) for order in passes]
    path.write_text("\n".join(lines) + "\n")


def dir_bytes(path):
    return sum(p.stat().st_size for p in Path(path).rglob("*")
               if p.is_file() and not p.is_symlink())


def full_check(classpath, gates, work, props):
    """Dumps every gate's output and compares full values with
    tools/check_oracle.py. Returns the names of gates that failed."""
    out = work / "dump"
    rc = run_child(java_cmd(classpath, JVM_HEAP, props) +
                   ["dump", str(FIXTURES), str(out)] + gates, DEADLINE_S, cwd=work,
                   env=jvm_env(), stdout=subprocess.DEVNULL,
                   stderr=open(work / "dump.log", "w"))
    if rc != 0:
        return list(gates)
    report = work / "check_oracle.txt"
    with open(report, "w") as f:
        rc = run_child([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                        str(FIXTURES), str(out)], DEADLINE_S, stdout=f,
                       stderr=subprocess.STDOUT,
                       env=dict(os.environ, SPARK_GRAFT_ONLY=",".join(gates)))
    lines = report.read_text().splitlines()
    print("\n".join(lines))
    failed = [ln.split()[1].rstrip(":") for ln in lines if ln.startswith("FAIL")]
    return failed or ([] if rc == 0 else list(gates))


def jvm_env():
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(metrics.CORES)
    return env


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full-check", action="store_true",
                    help="also compare every gate's full output with its DuckDB oracle")
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _stop_children)

    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft" /
                 "SparkEntry.scala", FIXTURES / "lineitem.parquet",
                 HERE / "oracle_counts.json", HERE / "workloads.json"):
        if not need.exists():
            die(f"missing {need.relative_to(ROOT)}: run from a full checkout of the repo")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")

    src_hash = source_hash()
    classpath, listing = ensure_built(src_hash)
    t_start = time.monotonic()  # the run's deadline excludes the build
    gates, pool_size = workload_gates(args.workload, listing)
    # one timed pass takes about --seconds; a traced run adds a traced pass
    passes = 2 if args.trace else 1
    expected = json.loads((HERE / "oracle_counts.json").read_text())["counts"]

    commit = commit_id(src_hash)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    run_id = (f"{stamp}-{commit}-{args.workload}-s{args.seed}"
              f"-t{args.trace}-{os.getpid()}")
    work = WORK / run_id
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    try:
        props = [("java.io.tmpdir", tmp), ("spark.local.dir", tmp),
                 ("spark.sql.warehouse.dir", work / "warehouse"),
                 ("derby.system.home", work)]
        write_plan(work / "plan.txt", metrics.cold_order(gates),
                   [metrics.gate_order(args.seed, p, gates) for p in range(passes)],
                   args.trace)

        probe_start = metrics.box_probe()
        budget = DEADLINE_S - (time.monotonic() - t_start) - 10
        with open(work / "jvm.log", "w") as log:
            rc = run_child(java_cmd(classpath, JVM_HEAP, props) +
                           ["run", str(work / "plan.txt"), str(work / "raw.json")],
                           budget, cwd=work, env=jvm_env(), stdout=log,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0:
            tail = (work / "jvm.log").read_text().splitlines()[-20:]
            die(f"benchmark JVM failed (rc={rc}):\n" + "\n".join(tail), 1)
        probe_end = metrics.box_probe()
        raw = json.loads((work / "raw.json").read_text())
        tmp_left = dir_bytes(tmp)
        full_failed = full_check(classpath, gates, work, props) if args.full_check else []
    finally:
        shutil.rmtree(work, ignore_errors=True)

    bad = metrics.check(raw["samples"], expected)
    attempted = len(raw["samples"]) + (len(gates) if args.full_check else 0)
    e2e, e2e_info = metrics.end_to_end(raw)
    layer, spans = metrics.per_layer(raw) if args.trace else ({}, [])
    layer["sources.tmp_bytes_left"] = tmp_left
    layer.update(metrics.box(raw, probe_start, probe_end))
    failed_names = sorted({g for g, _ in bad} | set(full_failed))

    record = {
        "run_id": run_id, "commit": commit, "source_hash": src_hash,
        "time_utc": stamp, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "master": raw["master"],
        "gates": gates, "workload_pool_size": pool_size, "fixtures": "sf0.01",
        "attempted": attempted, "failed": len(bad), "failures": bad,
        "full_check_failed": full_failed if args.full_check else None,
        "end_to_end": e2e, "end_to_end_info": e2e_info, "per_layer": layer,
        "session_s": raw["session_s"], "timed_s": raw["timed_s"],
        "passes": raw["passes"], "probe_start": probe_start, "probe_end": probe_end,
        "gate_walls_s": {g: [metrics.wall_s(s) for s in raw["samples"] if s["gate"] == g]
                         for g in gates},
        "spans": spans,
        # jobs of traced passes that carried no span (0 when attribution works)
        "unattributed_jobs": sum(1 for j in raw["jobs"] if not j["span"]),
    }
    RUNS.mkdir(exist_ok=True)
    with open(RUNS / f"{run_id}.json", "x") as f:
        json.dump(record, f)

    units = metrics.UNITS
    print(f"run {run_id}: workload {args.workload} ({len(gates)} of {pool_size} gates), "
          f"{raw['passes']} timed pass(es) in {raw['timed_s']:.1f} s")
    for k, v in e2e.items():
        extra = ""
        if k == "gate_midmean_s":
            extra = f"  (median {fmt(e2e_info['gate_p50_s'])} s)"
        if k == "gate_tail_s":
            extra = f"  (from p{e2e_info['gate_tail_pct']} of {e2e_info['gate_samples']} gate runs)"
        print(f"  {k} = {fmt(v)} {units[k]}{extra}")
    n_failed = len(bad) + len(full_failed)
    print(f"  failed_frac = {n_failed / attempted:.6g} ({n_failed} of {attempted} gate runs)")
    for k, v in sorted(layer.items()):
        print(f"  {k} = {fmt(v)} {units[k]}")
    verdict = "PASS" if not failed_names else "FAIL " + ", ".join(failed_names)
    print(f"output check (DuckDB oracle row counts{', full values' if args.full_check else ''}):"
          f" {verdict}")

    shown = layer if args.trace else e2e
    print(json.dumps({
        "correct": not failed_names, "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))


if __name__ == "__main__":
    main()
