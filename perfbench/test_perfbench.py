"""Self-tests of the benchmark's own logic.

    python3 perfbench/test_perfbench.py

The last test builds the benchmark (as a run does) and runs its JVM
self-test: the output checksum does not depend on row order, and a query
that throws is recorded as failed.
"""

import bz2
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest
import xml.etree.ElementTree as ET

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_dump  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def scratch_dir():
    """A temporary directory inside the checkout's benchmark work area."""
    base = os.path.join(HERE, ".work")
    os.makedirs(base, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=base)


class Names(unittest.TestCase):
    def test_names_are_plain(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        names = ([w["name"] for w in bench["workloads"]]
                 + [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
                 + list(run.WORKLOADS))
        for n in names:
            self.assertRegex(n, NAME)
            self.assertTrue(NAME.fullmatch(n), n)

    def test_benchmark_json_matches_run_py(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        for w in bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class Percentiles(unittest.TestCase):
    def test_p95_needs_ten_samples_above_it(self):
        self.assertIsNone(run.p95_if_supported([float(i) for i in range(199)]))
        self.assertIsNone(run.p95_if_supported([1.0]))
        xs = [float(i) for i in range(400)]
        p95 = run.p95_if_supported(xs)
        self.assertIsNotNone(p95)
        self.assertGreaterEqual(sum(x > p95 for x in xs), 10)

    def test_ties_do_not_count_as_above(self):
        self.assertIsNone(run.p95_if_supported([1.0] * 500))


class FailureAccounting(unittest.TestCase):
    golden = {"queries": {"q": {"rows": 3, "hash": "1:2", "fsum": [1.5], "fabs": [1.5]},
                          "r": {"rows": 4, "hash": "9:9", "fsum": [], "fabs": []}},
              "rows_only": ["r"]}

    def item(self, **kw):
        it = {"name": "q", "slot": 0, "ok": True, "error": None, "wall_s": 1.0, "rows": 3,
              "hash": "1:2", "fsum": [1.5], "fabs": [1.5]}
        it.update(kw)
        return it

    def test_thrown_query_counts_failed_and_is_not_timed(self):
        items = [self.item(), self.item(slot=1, ok=False, error="boom", wall_s=0.01)]
        run.check_items(items, self.golden)
        self.assertEqual([it["ok"] for it in items], [True, False])
        res = {"passes": [{"wall_s": 2.0, "items": items}],
               "session_s": 1.0, "setup_s": [1.0], "peak_rss_mb": 100.0}
        self.assertEqual(run.end_to_end(res, items, 0.0)["op_p50_s"], 1.0)

    def test_output_mismatch_counts_failed(self):
        items = [self.item(rows=2), self.item(hash="1:3"), self.item(fsum=[1.6]),
                 self.item(fsum=[1.5 + 1e-12])]
        run.check_items(items, self.golden)
        self.assertEqual([it["ok"] for it in items], [False, False, False, True])
        self.assertIn("output mismatch", items[0]["error"])

    def test_rows_only_queries_skip_the_checksum(self):
        items = [self.item(name="r", rows=4, hash="0:0", fsum=[]), self.item(name="r", rows=5)]
        run.check_items(items, self.golden)
        self.assertEqual([it["ok"] for it in items], [True, False])

    def test_queries_without_golden_are_reported_unchecked(self):
        items = [self.item(name="new_query")]
        self.assertEqual(run.check_items(items, self.golden), ["new_query"])
        self.assertTrue(items[0]["ok"])


class DumpGenerator(unittest.TestCase):
    def test_same_seed_same_dump_and_truth_holds(self):
        with scratch_dir() as d:
            a, b = os.path.join(d, "a.osm.bz2"), os.path.join(d, "b.osm.bz2")
            truth = gen_dump.write(5, 5000, a, os.path.join(d, "ta.json"))
            gen_dump.write(5, 5000, b, os.path.join(d, "tb.json"))
            with open(a, "rb") as fa, open(b, "rb") as fb:
                raw = fa.read()
                self.assertEqual(raw, fb.read())
            self.assertGreater(raw.count(b"BZh9"), 1, "not a multistream file")
            root = ET.fromstring(bz2.decompress(raw))
        cs = root.findall("changeset")
        self.assertEqual(len(cs), truth["rows"])
        self.assertEqual(sum(int(c.get("id")) for c in cs), truth["id_sum"])
        self.assertEqual(sum(c.get("min_lat") is None for c in cs), truth["null_bbox"])
        self.assertEqual(max(c.get("created_at") for c in cs), truth["max_created_at"])
        self.assertTrue(any(c.get("open") == "true" and c.get("closed_at") is None for c in cs))
        self.assertTrue(any(c.find("discussion") is not None for c in cs))
        self.assertTrue(any(len(c.findall("tag")) >= 3 for c in cs))
        self.assertTrue(any(c.findall("tag") and all(t.get("k") != "comment" for t in c.findall("tag"))
                            for c in cs), "no changeset with tags but no comment")
        self.assertTrue(any(not c.get("user").isascii() for c in cs))
        self.assertTrue(any("&" in (t.get("v") or "") for c in cs for t in c.findall("tag")))


class JvmSide(unittest.TestCase):
    def test_jvm_selftest(self):
        cp, _ = run.build()
        with scratch_dir() as d:
            cmd = (["java"]
                   + [x for p in run.JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                   + [f"-Djava.io.tmpdir={d}",
                      f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                      "-cp", cp, "perfbench.SelfTest", d])
            env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_LOCAL_DIRS=d)
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=300, env=env)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-3000:])
        self.assertIn("selftest ok", p.stdout)


if __name__ == "__main__":
    unittest.main()
