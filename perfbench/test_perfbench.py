"""Tests for the benchmark itself (not for the program it measures).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import glob
import hashlib
import json
import math
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def file_hashes(d):
    return {os.path.basename(p): hashlib.sha256(checks.read_bytes(p)).hexdigest()
            for p in sorted(glob.glob(os.path.join(d, "*")))}


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, name, seed):
        d = os.path.join(self.tmp, name)
        gen.generate(d, seed, probes=4000)
        return d

    def test_same_seed_gives_identical_files(self):
        a, b = self.gen("a", 7), self.gen("b", 7)
        ha, hb = file_hashes(a), file_hashes(b)
        self.assertEqual(set(ha), {"series_matrix.txt.gz", "probe_mapping.csv", "ensembl.csv",
                                   "opentargets.json", "truth.json"})
        self.assertEqual(ha, hb)

    def test_other_seed_gives_other_files(self):
        ha, hb = file_hashes(self.gen("a", 7)), file_hashes(self.gen("b", 8))
        for f in ha:
            self.assertNotEqual(ha[f], hb[f], f)

    def test_planted_genes_go_both_ways_in_modules(self):
        truth = json.loads(checks.read_bytes(os.path.join(self.gen("a", 3), "truth.json")))
        dirs = [d for _, d in truth["planted"].values()]
        self.assertGreater(dirs.count(1), 0)
        self.assertGreater(dirs.count(-1), 0)
        modules = {m for m, _ in truth["planted"].values()}
        self.assertGreaterEqual(len(modules), 2)
        self.assertGreater(truth["missing_cells"], 0)
        self.assertGreater(truth["dropped_rows"], 0)


class PercentileTest(unittest.TestCase):

    def test_tail_is_p90_at_100_samples(self):
        self.assertEqual(checks.tail_rank(100), (90, 90.0))
        self.assertEqual(checks.percentile(list(range(1, 101)), 90.0), 90)
        self.assertEqual(checks.percentile(list(range(1, 101)), 50), 50)

    def test_tail_keeps_ten_samples_beyond(self):
        for n in (11, 24, 40, 100, 250):
            k, pct = checks.tail_rank(n)
            self.assertEqual(n - k, 10)
            self.assertEqual(checks.percentile(list(range(1, n + 1)), pct), k)

    def test_failures_count_as_infinite_latency(self):
        expected = {f"q{i}": {"rows": 1, "digest": "5"} for i in range(100)}
        records = [{"name": f"q{i}", "pass": "cold", "ms": float(i), "rows": 1, "digest": "5"}
                   for i in range(100)]
        records[3] = {"name": "q3", "pass": "cold", "ms": 0.1, "error": "boom"}
        records[4]["rows"] = 2
        lat = checks.latencies(records, "cold", expected)
        self.assertEqual(len(lat), 100)
        self.assertEqual(lat.count(math.inf), 2)
        # with 11 failures the p90 itself is a failure, never a dropped sample
        for i in range(5, 14):
            records[i]["digest"] = "6"
        lat = checks.latencies(records, "cold", expected)
        self.assertEqual(checks.percentile(lat, 90.0), math.inf)


class CatalogSampleTest(unittest.TestCase):

    def test_seed_orders_the_fixed_query_set(self):
        a, b = run.catalog_sample(1), run.catalog_sample(2)
        self.assertEqual(a, run.catalog_sample(1))
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a), sorted(run.CATALOG_QUERIES))
        self.assertEqual(sorted(b), sorted(run.CATALOG_QUERIES))
        self.assertTrue(set(a) <= set(run.catalog_expected()))


class TraceBaselineTest(unittest.TestCase):

    def setUp(self):
        self.build, run.BUILD = run.BUILD, tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(run.BUILD)
        run.BUILD = self.build

    def test_traced_run_needs_an_untraced_run_first(self):
        with self.assertRaises(run.BenchError):
            run.untraced_wall("catalog_session", 1)
        run.record_untraced("catalog_session", 2, 30.0)
        run.record_untraced("catalog_session", 3, 40.0)
        run.record_untraced("pipeline_ref", 1, 60.0)
        self.assertEqual(run.untraced_wall("catalog_session", 1), 35.0)
        self.assertEqual(run.untraced_wall("catalog_session", 3), 40.0)


class PipelineCheckTest(unittest.TestCase):
    """Builds a small output directory that is consistent with a planted
    truth, then corrupts it one way at a time."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.out = os.path.join(self.tmp, "out")
        self.truth = {
            "samples": 6, "case": 4, "control": 2, "probes": 10, "dropped_rows": 1,
            "planted": {"A1": [0, 1], "A2": [0, 1], "A3": [0, 1], "B1": [1, -1], "B2": [1, -1]},
        }
        self.sig = [("A1", 1.5), ("A2", 1.6), ("A3", 1.4), ("B1", -1.5), ("B2", -1.2)]
        self.edges = [("A1", "A2"), ("A2", "A3"), ("B1", "B2")]
        self.write_all()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def table(self, name, header, rows):
        d = os.path.join(self.out, "data", name)
        os.makedirs(d, exist_ok=True)
        for p in glob.glob(os.path.join(d, "part-*.csv")):
            os.remove(p)
        with open(os.path.join(d, "part-00000-x-c000.csv"), "w") as f:
            f.write(",".join(header) + "\n" + "".join(",".join(map(str, r)) + "\n" for r in rows))

    def write_gexf(self):
        nodes = sorted({g for e in self.edges for g in e})
        ids = {g: i for i, g in enumerate(nodes)}
        with open(os.path.join(self.out, "data", "gene_network.gexf"), "w") as f:
            f.write("".join(f'<node id="{ids[g]}" label="{g}" />\n' for g in nodes))
            f.write("".join(f'<edge source="{ids[a]}" target="{ids[b]}" id="{i}" weight="0.9" />\n'
                            for i, (a, b) in enumerate(self.edges)))

    def write_summary(self, **over):
        nodes = len({g for e in self.edges for g in e})
        v = dict(samples="6 (4 case / 2 control)", probes=9, genes=2, sig=len(self.sig),
                 up=sum(fc > 0 for _, fc in self.sig), down=sum(fc < 0 for _, fc in self.sig),
                 nodes=nodes, edges=len(self.edges))
        v.update(over)
        with open(os.path.join(self.out, "summary.txt"), "w") as f:
            f.write(f"Samples: {v['samples']}\nProbes: {v['probes']}\n"
                    f"Genes after mapping: {v['genes']}\nSignificant genes: {v['sig']}\n"
                    f"Up-regulated: {v['up']}\nDown-regulated: {v['down']}\n"
                    f"Nodes: {v['nodes']}\nEdges: {v['edges']}\n")

    def write_all(self):
        for t in checks.PIPELINE_TABLES:
            self.table(t, ["gene", "x"], [("A1", 1), ("B1", 2)])
        self.table("significant_genes", ["gene", "log2FC", "pvalue", "adjusted_pvalue"],
                   [(g, fc, 0.001, 0.01) for g, fc in self.sig])
        self.write_gexf()
        self.write_summary()
        os.makedirs(os.path.join(self.out, "figures"), exist_ok=True)
        for f in checks.PIPELINE_FILES:
            if f.endswith(".png"):
                with open(os.path.join(self.out, f), "wb") as fh:
                    fh.write(b"png")

    def errors(self):
        return checks.pipeline_errors(self.out, self.truth)

    def test_consistent_output_passes(self):
        self.assertEqual(self.errors(), [])

    def test_unplanted_significant_gene_is_rejected(self):
        self.sig.append(("Z9", 2.0))
        self.write_all()
        self.assertTrue(any("not planted" in e for e in self.errors()))

    def test_gene_moving_against_its_plant_is_rejected(self):
        self.sig[0] = ("A1", -1.5)
        self.write_all()
        self.assertTrue(any("against" in e for e in self.errors()))

    def test_cross_module_edge_is_rejected(self):
        self.edges.append(("A1", "B1"))
        self.write_all()
        self.assertTrue(any("different modules" in e for e in self.errors()))

    def test_summary_count_mismatch_is_rejected(self):
        self.write_summary(sig=4)
        self.assertTrue(any("summary significant" in e for e in self.errors()))

    def test_degraded_stage_is_a_failed_operation(self):
        # construct_network failed: its stage reports it and its outputs are absent
        shutil.rmtree(os.path.join(self.out, "data", "correlation_matrix"))
        os.remove(os.path.join(self.out, "data", "gene_network.gexf"))
        res = {"out": self.out,
               "stages": [{"name": n, "s": 1.0} for n in ("preprocess_and_map", "construct_network")],
               "failures": [{"name": "construct_network", "error": "boom"}]}
        errors = []
        attempted, failed = run.check_pipeline(
            res, self.truth, os.path.join(self.tmp, "digest"), errors)
        self.assertEqual(attempted, 3)
        self.assertEqual(failed, 2)
        self.assertTrue(any("construct_network" in e for e in errors))
        self.assertTrue(any("missing table correlation_matrix" in e for e in errors))

    def test_output_digest_must_repeat_across_runs_of_a_seed(self):
        res = {"out": self.out, "stages": [], "failures": []}
        digest = os.path.join(self.tmp, "digest")
        errors = []
        self.assertEqual(run.check_pipeline(res, self.truth, digest, errors), (1, 0))
        self.assertEqual(run.check_pipeline(res, self.truth, digest, errors), (1, 0))
        self.table("final_targets", ["gene", "x"], [("A1", 3)])
        self.assertEqual(run.check_pipeline(res, self.truth, digest, errors), (1, 1))
        self.assertTrue(any("digest differs" in e for e in errors))


class CatalogCheckTest(unittest.TestCase):

    def test_wrong_rows_digest_or_error_are_rejected(self):
        expected = {"q1": {"rows": 10, "digest": "123"}, "q2": {"rows": 5, "digest": None}}
        ok = {"name": "q1", "pass": "warm", "ms": 1.0, "rows": 10, "digest": "123"}
        self.assertEqual(checks.catalog_record_errors(ok, expected), [])
        self.assertTrue(checks.catalog_record_errors(dict(ok, rows=11), expected))
        self.assertTrue(checks.catalog_record_errors(dict(ok, digest="124"), expected))
        self.assertTrue(checks.catalog_record_errors(
            {"name": "q1", "pass": "cold", "ms": 1.0, "error": "x"}, expected))
        rows_only = {"name": "q2", "pass": "cold", "ms": 1.0, "rows": 5, "digest": "9"}
        self.assertEqual(checks.catalog_record_errors(rows_only, expected), [])


if __name__ == "__main__":
    unittest.main()
