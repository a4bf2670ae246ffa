"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py      # from the checkout root

The end-to-end cases run every workload at scale factor 0.001 with and
without tracing (about four minutes on four cores) and check that each run
prints every metric BENCHMARK.json names, with its unit, that its outputs
pass the check, and that the traced run's per-layer self times add up to each
query's wall time within RESIDUAL.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import run  # noqa: E402

# Share of a query's (or micro-batch's) wall time by which the sum of its
# layers' self times may differ from it in the span file.
RESIDUAL = 0.05


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def covered(intervals):
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


class DatagenTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_same_sizes(self):
        a = datagen.make_tables(5, 0.001)
        b = datagen.make_tables(5, 0.001)
        c = datagen.make_tables(6, 0.001)
        for name in datagen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
            self.assertEqual(a[name].num_rows, c[name].num_rows, name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_stream_delivers_out_of_order_late_and_repeated_events(self):
        ev = datagen.make_tables(5, 0.001)["events"]
        args = dict(batches=8, ooo_share=0.2, late_share=0.05, late_batches=4, dup_share=0.1)
        st = datagen.make_stream(5, ev, **args)
        self.assertTrue(st.equals(datagen.make_stream(5, ev, **args)))
        rows = st.to_pylist()
        self.assertGreater(len(rows), ev.num_rows)
        self.assertEqual({r["batch"] for r in rows}, set(range(8)))
        # every event of the log is delivered, with its microsecond event time
        self.assertEqual({(r["user_id"], r["ts"]) for r in rows},
                         set(zip(ev.column("user_id").to_pylist(), ev.column("ts").to_pylist())))
        self.assertTrue(any(r["ts"].microsecond % 1000 for r in rows))
        # some on-time event arrives after a later event of the same user
        self.assertTrue(any(
            not a["late"] and b["user_id"] == a["user_id"] and b["ts"] > a["ts"]
            and b["batch"] < a["batch"] for a in rows for b in rows))
        # late events arrive late_batches after the batch of their event time
        order = sorted(set(ev.column("ts").to_pylist()))
        home = {t: i * 8 // len(order) for i, t in enumerate(order)}
        late = [r for r in rows if r["late"]]
        self.assertTrue(late)
        for r in late:
            self.assertEqual(r["batch"], home[r["ts"]] + 4)


class EndToEndTest(unittest.TestCase):
    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "2", "--trace", str(trace), "--sf", "0.001"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        return lines[:-1], json.loads(lines[-1])

    def check_metrics(self, out, names):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], out)
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(set(out["metrics"]), {m["name"] for m in names})
        for m in names:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_workload_end_to_end(self):
        s = spec()
        for w in s["workloads"]:
            with self.subTest(workload=w["name"]):
                report, out = self.run_bench(w["name"], 0)
                self.check_metrics(out, s["end_to_end"])
                text = "\n".join(report)
                for m in s["end_to_end"]:
                    self.assertRegex(text, rf"{m['name']}\s+\S+\s+{m['unit']}\s+\(n=\d+\)")
                for m in (["query_s_p50", "query_s_p90"] if w["name"] != "stream_replay"
                          else ["events_per_s", "batch_ms_p50", "batch_ms_p95"]):
                    self.assertIn(m, text)
                self.assertIn("failed_frac", text)
                self.assertIn("session_cache_mb", text)

    def test_every_workload_traced(self):
        s = spec()
        for w in s["workloads"]:
            with self.subTest(workload=w["name"]):
                _, out = self.run_bench(w["name"], 1)
                self.check_metrics(out, s["per_layer"])
                self.assertLessEqual(out["metrics"]["trace.residual_frac"]["value"], RESIDUAL)
                self.check_span_file(w["name"])

    def check_span_file(self, workload):
        path = os.path.join(ROOT, ".bench_build", "runs", f"{workload}-seed7-trace1",
                            "spans.jsonl")
        with open(path) as fh:
            spans = [json.loads(x) for x in fh]
        kids = {}
        for sp in spans:
            kids.setdefault(sp["parent"], []).append(sp)
        units = [sp for sp in spans if sp["kind"] in ("query", "pipeline")]
        self.assertTrue(units)
        for u in units:
            wall = u["end_ms"] - u["start_ms"]
            parts = kids.get(u["id"], []) if u["kind"] == "query" else [u]
            total = 0.0
            for part in parts:
                jobs = [(j["start_ms"], j["end_ms"]) for j in kids.get(part["id"], [])
                        if j["kind"] == "job"]
                inside = covered([(max(a, part["start_ms"]), min(b, part["end_ms"]))
                                  for a, b in jobs if b > a])
                driver_self = (part["end_ms"] - part["start_ms"]) - inside
                total += driver_self + covered(jobs)
            if wall > 0:
                self.assertLessEqual(abs(total - wall) / wall, RESIDUAL, u["name"])


class BenchmarkSpecTest(unittest.TestCase):
    def test_spec_matches_the_runner(self):
        s = spec()
        self.assertEqual({w["name"] for w in s["workloads"]}, set(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in s["end_to_end"]], run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in s["per_layer"]}, run.PER_LAYER_UNITS)

    def test_refuses_a_directory_without_the_program(self):
        empty = os.path.join(ROOT, ".bench_build", "empty")
        os.makedirs(empty, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=empty) as d:
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                                "batch_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
