"""Tests of the gate benchmark's own arithmetic.

    python3 -m unittest discover -s gatebench/tests
"""

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import metrics  # noqa: E402


def span(a, b, **kw):
    return dict(start_ms=a, end_ms=b, **kw)


class TailRule(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        for n in (40, 85, 94, 125, 400):
            self.assertEqual(n - 1 - metrics.tail_rank(n), 10)

    def test_percentile_labels_of_the_full_workloads(self):
        # etl has 94 gates, corpus 125, store_stream 85
        self.assertEqual(metrics.tail(range(94))[1], 89)
        self.assertEqual(metrics.tail(range(125))[1], 92)
        self.assertEqual(metrics.tail(range(85))[1], 88)

    def test_small_samples_start_at_the_upper_quartile(self):
        for n, beyond in ((4, 1), (9, 2), (14, 3), (20, 5), (32, 8), (39, 9)):
            self.assertEqual(n - 1 - metrics.tail_rank(n), beyond)
            self.assertGreaterEqual(metrics.tail(range(n))[1], 75)

    def test_value_is_the_mean_from_the_tail_rank_up(self):
        value, pct, count = metrics.tail(range(125))
        self.assertEqual((value, count), (119, 125))  # mean of 114..124
        self.assertEqual(metrics.tail([1, 1, 1, 1, 1, 1, 1, 2, 6])[0], 3)

    def test_no_samples(self):
        self.assertIsNone(metrics.tail([]))
        self.assertEqual(metrics.tail([3.0])[0], 3.0)

    def test_order_of_input_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4] * 10), metrics.tail(sorted([5, 1, 4] * 10)))


class Midmean(unittest.TestCase):
    def test_mean_of_the_middle_half(self):
        self.assertEqual(metrics.midmean([100, 1, 2, 3, 4, 5, 6, 0]), 3.5)  # 2..5
        self.assertEqual(metrics.midmean([9, 1, 2, 3, 4, 5, 6, 7, 0]), 4)  # 2..6
        self.assertEqual(metrics.midmean([5.0]), 5.0)
        self.assertEqual(metrics.midmean([]), 0.0)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time(span(0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time(span(0, 10), [span(1, 3), span(5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time(span(0, 10), [span(1, 5), span(3, 7)]), 4)

    def test_children_clipped_to_parent(self):
        self.assertEqual(metrics.self_time(span(0, 10), [span(-5, 2), span(8, 20)]), 6)

    def test_child_outside_parent_ignored(self):
        self.assertEqual(metrics.self_time(span(0, 10), [span(11, 12)]), 10)

    def test_gate_spans_add_up(self):
        trace = {"gate_run": "p1.0.g", "marks_ms": [0.0, 4.0, 5.0, 9.0]}
        jobs = [{"job": 1, "span": "p1.0.g|construct", "start_ms": 1.0, "end_ms": 3.0,
                 "stages": [1]},
                {"job": 2, "span": "p1.0.g|execute", "start_ms": 5.5, "end_ms": 8.5,
                 "stages": [2]}]
        spans = {s["id"]: s for s in metrics.build_spans(trace, jobs, [])}
        gate = spans["p1.0.g"]
        phases = [spans[f"p1.0.g|{p}"] for p in metrics.PHASES]
        self.assertEqual(sum(p["end_ms"] - p["start_ms"] for p in phases),
                         gate["end_ms"] - gate["start_ms"])
        self.assertEqual(gate["self_ms"], 0)
        self.assertEqual(spans["p1.0.g|construct"]["self_ms"], 2)
        self.assertEqual(spans["p1.0.g|execute"]["self_ms"], 1)
        self.assertEqual(spans["job2"]["parent"], "p1.0.g|execute")
        self.assertTrue(all(s["gate_run"] == "p1.0.g" for s in spans.values()))


def stage(sid, **kw):
    row = {f: 0 for f in metrics.STAGE_FIELDS}
    row.update(stage=sid, attempt=0, peak_exec_mem_bytes=0)
    row.update(kw)
    return row


class CounterAttribution(unittest.TestCase):
    """A synthetic listener event stream: two gates, each with an eager
    job during construction and a job for the returned plan."""

    jobs = [
        {"job": 0, "span": "p1.0.a|construct", "start_ms": 0, "end_ms": 1, "stages": [0]},
        {"job": 1, "span": "p1.0.a|execute", "start_ms": 2, "end_ms": 3, "stages": [1, 2]},
        {"job": 2, "span": "p1.1.b|construct", "start_ms": 4, "end_ms": 5, "stages": [3]},
        # a later job lists stage 2 again (skipped, reused shuffle)
        {"job": 3, "span": "p1.1.b|execute", "start_ms": 6, "end_ms": 7, "stages": [2, 4]},
    ]
    stages = [
        stage(0, tasks=4, run_ms=40, input_records=100),
        stage(1, tasks=8, run_ms=80, shuffle_write_bytes=1000, peak_exec_mem_bytes=64),
        stage(2, tasks=8, run_ms=20, shuffle_read_bytes=1000, peak_exec_mem_bytes=128),
        stage(3, tasks=1, run_ms=5),
        stage(4, tasks=2, run_ms=6, disk_spill_bytes=7),
    ]

    def test_per_span_sums(self):
        c = metrics.attribute(self.jobs, self.stages)
        self.assertEqual(c["p1.0.a|construct"]["jobs"], 1)
        self.assertEqual(c["p1.0.a|construct"]["input_records"], 100)
        a = c["p1.0.a|execute"]
        self.assertEqual((a["jobs"], a["stages"], a["tasks"], a["run_ms"]), (1, 2, 16, 100))
        self.assertEqual(a["shuffle_write_bytes"], 1000)
        self.assertEqual(a["peak_exec_mem_bytes"], 128)
        b = c["p1.1.b|execute"]
        # stage 2 stays with the first job that listed it
        self.assertEqual((b["stages"], b["tasks"], b["disk_spill_bytes"]), (1, 2, 7))

    def test_totals_are_conserved(self):
        c = metrics.attribute(self.jobs, self.stages)
        self.assertEqual(sum(v["tasks"] for v in c.values()),
                         sum(s["tasks"] for s in self.stages))
        self.assertEqual(sum(v["jobs"] for v in c.values()), len(self.jobs))

    def test_fs_diff(self):
        self.assertEqual(metrics.fs_diff([10, 20, 3, 4], [15, 20, 5, 9]),
                         {"bytes_read": 5, "bytes_written": 0, "read_syscalls": 2,
                          "write_syscalls": 5})

    def test_per_layer_from_synthetic_run(self):
        gates = [
            {"gate_run": "p1.0.a", "gate": "a", "pass": 1, "seq": 0,
             "marks_ms": [0, 1.5, 1.8, 3.5], "fs": [[0, 0, 0, 0], [0, 10, 0, 1],
                                                   [0, 10, 0, 1], [50, 10, 2, 1]],
             "rows": 4, "error": None, "scans": 1, "exchanges": 2,
             "reused_exchanges": 1},
            {"gate_run": "p1.1.b", "gate": "b", "pass": 1, "seq": 1,
             "marks_ms": [3.6, 5.5, 5.8, 7.5], "fs": [[50, 10, 2, 1]] * 4,
             "rows": 6, "error": None, "scans": 2, "exchanges": 0,
             "reused_exchanges": 0}]
        samples = [
            {"gate": "a", "pass": 0, "seq": 0, "traced": False, "start_ms": 0,
             "end_ms": 3000, "rows": 4, "error": None},
            {"gate": "b", "pass": 0, "seq": 1, "traced": False, "start_ms": 3000,
             "end_ms": 7000, "rows": 6, "error": None}] + [
            {"gate": g["gate"], "pass": 1, "seq": g["seq"], "traced": True,
             "start_ms": 10000 + g["marks_ms"][0] * 1000,
             "end_ms": 10000 + g["marks_ms"][-1] * 1000, "rows": g["rows"],
             "error": None} for g in gates]
        raw = {"gates": gates, "jobs": self.jobs, "stages": self.stages,
               "batches": [], "tables": [], "samples": samples}
        m, spans = metrics.per_layer(raw)
        self.assertEqual(m["queries.eager_jobs"], 2)
        self.assertEqual(m["operators.jobs"], 2)
        self.assertEqual(m["operators.tasks"], 18)
        self.assertEqual(m["plans.exchanges"], 2)
        self.assertEqual(m["sources.bytes_read"], 50)
        self.assertEqual(m["sources.bytes_written"], 10)
        self.assertAlmostEqual(m["queries.construct_s"], (1.5 + 1.9) / 1000)
        self.assertAlmostEqual(m["operators.rows_examined_per_row"], 0 / 10)
        self.assertAlmostEqual(m["trace.overhead_frac"], 7.5 / 7.0 - 1)


class MetricNames(unittest.TestCase):
    """Every reported metric has a unit, and BENCHMARK.json lists exactly
    the metrics the two modes print."""

    def test_names_match_benchmark_json(self):
        import json
        spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
        raw = {"gates": [], "jobs": [], "stages": [], "batches": [], "tables": [],
               "samples": [], "setup_s": 1.0, "vmhwm_bytes": 1}
        e2e, _ = metrics.end_to_end(raw)
        layer, _ = metrics.per_layer(raw)
        jif = {"at_ms": 0, "busy": 0, "steal": 0, "total": 0, "self": 0}
        probe = {"cpu_probe_s": 1.0, "membw_gbps": 1.0}
        layer.update(metrics.box({"jiffies_start": jif, "jiffies_end": jif}, probe, probe))
        layer["sources.tmp_bytes_left"] = 0
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(e2e))
        self.assertEqual(sorted(m["name"] for m in spec["per_layer"]), sorted(layer))
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertEqual(metrics.UNITS[m["name"]], m["unit"], m["name"])


class GateOrder(unittest.TestCase):
    gates = [f"q{i}" for i in range(40)]

    def test_same_seed_same_order(self):
        self.assertEqual(metrics.gate_order(7, 3, self.gates),
                         metrics.gate_order(7, 3, list(reversed(self.gates))))

    def test_is_a_permutation(self):
        self.assertEqual(sorted(metrics.gate_order(7, 3, self.gates)), sorted(self.gates))

    def test_seed_and_pass_change_the_order(self):
        base = metrics.gate_order(7, 3, self.gates)
        self.assertNotEqual(base, metrics.gate_order(8, 3, self.gates))
        self.assertNotEqual(base, metrics.gate_order(7, 4, self.gates))

    def test_pinned_order(self):
        # the order must not depend on the Python version or process
        self.assertEqual(metrics.gate_order(1, 0, ["a", "b", "c", "d"]),
                         metrics.gate_order(1, 0, ["d", "c", "b", "a"]))
        self.assertEqual(metrics.gate_order(1, 0, ["a", "b", "c", "d"]), PINNED)


PINNED = ["a", "d", "b", "c"]


class ColdOrder(unittest.TestCase):
    def test_fixed_and_stateful_last(self):
        gates = ["v51_hnsw_incremental", "t9", "t99_incremental_lsh_dedup", "a1"]
        order = metrics.cold_order(gates)
        self.assertEqual(order, metrics.cold_order(list(reversed(gates))))
        self.assertEqual(order, ["a1", "t9", "t99_incremental_lsh_dedup",
                                 "v51_hnsw_incremental"])


def fake_survey(n, group="batch", eager=None):
    eager = eager or {}
    return {f"g{i:02d}": {"group": group, "warm_s": 0.1 * i, "eager_jobs": eager.get(i, 0)}
            for i in range(n)}


class SampleRule(unittest.TestCase):
    def test_one_median_gate_per_stratum(self):
        # 20 gates by wall, 4 strata of 5: positions 2, 7, 12, 17
        got = metrics.draw_sample(fake_survey(20), {"strata": {"batch": 4}})
        self.assertEqual(got, ["g02", "g07", "g12", "g17"])

    def test_uneven_strata_take_the_lower_median(self):
        # 10 gates, 4 strata: [0, 1], [2, 3, 4], [5, 6], [7, 8, 9]
        got = metrics.draw_sample(fake_survey(10), {"strata": {"batch": 4}})
        self.assertEqual(got, ["g00", "g03", "g05", "g08"])

    def test_stateful_gates_represent_their_stratum(self):
        sv = fake_survey(8)
        sv["v48_incremental_ivf"] = {"group": "batch", "warm_s": 0.05, "eager_jobs": 3}
        sv["t99_incremental_lsh_dedup"] = {"group": "batch", "warm_s": 0.15, "eager_jobs": 2}
        # by wall: g00 v48 g01 t99 g02 | g03 g04 g05 g06 g07
        self.assertEqual(metrics.draw_sample(sv, {"strata": {"batch": 2}}),
                         ["g05", "t99_incremental_lsh_dedup", "v48_incremental_ivf"])

    def test_more_strata_than_gates_takes_every_gate(self):
        got = metrics.draw_sample(fake_survey(3), {"strata": {"batch": 5}})
        self.assertEqual(got, ["g00", "g01", "g02"])

    def test_groups_are_stratified_apart(self):
        sv = fake_survey(6, group="streaming")
        sv.update({g: {"group": "sink_bound", "warm_s": 1.0, "eager_jobs": 0}
                   for g in ("s1", "s2", "s3")})
        got = metrics.draw_sample(sv, {"strata": {"streaming": 2, "sink_bound": 1}})
        self.assertEqual(got, ["g01", "g04", "s2"])

    def test_workloads_follow_the_rule(self):
        import json
        here = Path(__file__).resolve().parents[1]
        survey = json.loads((here / "survey.json").read_text())
        spec = json.loads((here / "workloads.json").read_text())["workloads"]
        for name, w in spec.items():
            self.assertIn(name, survey)
            self.assertEqual(sorted(w["gates"]),
                             metrics.draw_sample(survey[name]["gates"], w["sample"]), name)


if __name__ == "__main__":
    unittest.main()
