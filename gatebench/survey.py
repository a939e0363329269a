#!/usr/bin/env python3
"""Measures every gate of the SparkEntry set a workload is drawn from,
at the benchmark's fixtures and core count, and writes the figures the
workload samples are drawn from to gatebench/survey.json.

    python3 gatebench/survey.py corpus      # or etl, store_stream

One JVM runs the whole set: a cold pass, then an untraced, a traced and
an untraced warm pass, each in name order. Per gate it records the cold
wall, the warm wall (mean of the two untraced passes), the traced
construct/plan/execute split and the jobs launched in construction
(eager jobs) and in execution. `metrics.draw_sample` turns these figures
and the rule in workloads.json into the workload's gates.
"""

import json
import shutil
import subprocess
import sys
import time

import metrics
import run

SURVEY = run.HERE / "survey.json"
TIMEOUT_S = 1800


def survey(name):
    src_hash = run.source_hash()
    classpath, listing = run.ensure_built(src_hash)
    w = run.workload_spec(name)
    members = run.set_members(w, listing)
    gates = sorted(members)
    work = run.WORK / f"survey-{name}-{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    props = [("java.io.tmpdir", tmp), ("spark.local.dir", tmp),
             ("spark.sql.warehouse.dir", work / "warehouse"), ("derby.system.home", work)]
    run.write_plan(work / "plan.txt", gates, [gates] * 3, trace=True)
    with open(work / "jvm.log", "w") as log:
        rc = run.run_child(run.java_cmd(classpath, run.JVM_HEAP, props) +
                           ["run", str(work / "plan.txt"), str(work / "raw.json")],
                           TIMEOUT_S, cwd=work, env=run.jvm_env(), stdout=log,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        run.die(f"survey JVM failed (rc={rc}); its log stays in {work}", 1)
    raw = json.loads((work / "raw.json").read_text())
    shutil.rmtree(work, ignore_errors=True)

    counters = metrics.attribute(raw["jobs"], raw["stages"])
    walls = {}
    for s in raw["samples"]:
        walls.setdefault((s["gate"], s["pass"], s["traced"]), metrics.wall_s(s))
    per_gate = {}
    for t in raw["gates"]:
        g, m = t["gate"], t["marks_ms"]
        warm = [walls[(g, p, False)] for p in (0, 2)]
        per_gate[g] = {
            "group": members[g],
            "cold_s": round(walls[(g, -1, False)], 4),
            "warm_s": round(sum(warm) / len(warm), 4),
            "construct_s": round((m[1] - m[0]) / 1000.0, 4),
            "plan_s": round((m[2] - m[1]) / 1000.0, 4),
            "execute_s": round((m[3] - m[2]) / 1000.0, 4),
            "eager_jobs": counters.get(f"{t['gate_run']}|construct", {}).get("jobs", 0),
            "execute_jobs": counters.get(f"{t['gate_run']}|execute", {}).get("jobs", 0),
            "ok": t["error"] is None,
        }
    doc = json.loads(SURVEY.read_text()) if SURVEY.exists() else {}
    doc[name] = {
        "source_hash": src_hash,
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "fixtures": "sf0.01", "master": raw["master"], "set_size": len(gates),
        "gates": per_gate,
    }
    SURVEY.write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    tot = {k: sum(v[k] for v in per_gate.values())
           for k in ("warm_s", "construct_s", "plan_s", "execute_s", "eager_jobs")}
    print(f"{name}: {len(gates)} gates, warm pass {tot['warm_s']:.1f} s, "
          f"eager jobs {tot['eager_jobs']}, failed "
          f"{[g for g, v in per_gate.items() if not v['ok']]}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        run.die("usage: survey.py <workload>")
    survey(sys.argv[1])
