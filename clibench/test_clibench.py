"""Tests of the benchmark's own code (no JVM needed):

    python3 -m unittest discover -s clibench -p 'test_*.py'
"""

import hashlib
import json
import tempfile
import unittest
from pathlib import Path
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
import run

SMALL = {
    "flagship_batch": {"turns": 3000, "files": 3},
    "wide_nested": {"rows": 400, "files": 2, "copies": 1},
    "corpus_dedup": {"docs": 600},
}


def digest(d):
    h = hashlib.sha256()
    for f in sorted(Path(d).rglob("*")):
        if f.is_file():
            h.update(f.relative_to(d).as_posix().encode())
            h.update(f.read_bytes())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_input_other_seed_other_input(self):
        with mock.patch.dict(gen.SIZES, SMALL), tempfile.TemporaryDirectory() as tmp:
            for workload in gen.GENERATORS:
                a, b, c = (Path(tmp) / f"{workload}-{i}" for i in range(3))
                gen.generate(workload, 7, str(a))
                gen.generate(workload, 7, str(b))
                gen.generate(workload, 8, str(c))
                self.assertEqual(digest(a), digest(b), workload)
                self.assertNotEqual(digest(a), digest(c), workload)

    def test_inputs_carry_footer_null_counts(self):
        with mock.patch.dict(gen.SIZES, SMALL), tempfile.TemporaryDirectory() as tmp:
            for workload in gen.GENERATORS:
                gen.generate(workload, 1, f"{tmp}/{workload}")
                self.assertTrue(run.footer_null_counts_complete(f"{tmp}/{workload}/input"), workload)


def write_table_output(out, violations, dups, orphans):
    """A ValidateTableMain output directory with the given rows."""
    (out / "violations" / "unit=u").mkdir(parents=True)
    rows = [(f"c{i}", i, f"/c{i}/{i}/{col}", constraint, "x")
            for i, (col, constraint) in enumerate(violations)]
    pq.write_table(pa.table({
        "conv_id": [r[0] for r in rows], "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "pointer": [r[2] for r in rows], "constraint": [r[3] for r in rows], "actual": [r[4] for r in rows],
    }), out / "violations" / "unit=u" / "part-0.parquet")
    for name, n in (("uniqueness_violations", dups), ("referential_violations", orphans)):
        (out / name).mkdir()
        pq.write_table(pa.table({"conv_id": [f"c{i}" for i in range(n)]}, schema=pa.schema([("conv_id", pa.string())])),
                       out / name / "part-0.parquet")


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.out = Path(self.tmp.name)
        write_table_output(self.out, [("role", "enum"), ("role", "enum"), ("tool", "pattern")], 2, 3)
        self.expected = {"violations": {"role|enum": 2, "tool|pattern": 1}, "duplicate_keys": 2, "orphan_rows": 3}
        self.verdict = "invalid table at in: 3 row violations, 2 duplicate keys, 3 orphan rows"

    def tearDown(self):
        self.tmp.cleanup()

    def test_matching_output_passes(self):
        self.assertEqual(checks.check_table(self.expected, str(self.out), 2, self.verdict), [])

    def test_wrong_expected_count_fails(self):
        wrong = json.loads(json.dumps(self.expected))
        wrong["violations"]["role|enum"] = 3
        self.assertIn("violations:role|enum", checks.check_table(wrong, str(self.out), 2, self.verdict))
        wrong = dict(self.expected, orphan_rows=4)
        self.assertIn("orphan_rows", checks.check_table(wrong, str(self.out), 2, self.verdict))

    def test_wrong_exit_code_fails(self):
        self.assertEqual(checks.check_table(self.expected, str(self.out), 0, self.verdict), ["exit_code"])

    def test_dedup_removing_an_unplanted_document_fails(self):
        with mock.patch.dict(gen.SIZES, SMALL):
            meta = gen.generate("corpus_dedup", 3, str(self.out / "corpus"))
        docs = pq.read_table(self.out / "corpus" / "input").to_pydict()
        first = {}
        for d, t in sorted(zip(docs["doc_id"], docs["text"])):
            first.setdefault(t, d)
        by_cluster = {}
        for d in first.values():
            c = meta["cluster"].get(str(d), d)
            by_cluster[c] = min(by_cluster.get(c, d), d)
        survivors = sorted(by_cluster.values())

        def check(ids):
            out = self.out / f"run{len(ids)}"
            (out / "survivors").mkdir(parents=True)
            pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), out / "survivors" / "part-0.parquet")
            return checks.check_dedup(meta, str(out), 0, str(self.out / "corpus" / "input"), 2, 12)

        self.assertEqual(check(survivors), [])
        unplanted = next(d for d in survivors if str(d) not in meta["cluster"])
        self.assertIn("removed_unplanted", check([d for d in survivors if d != unplanted]))


class OutputTest(unittest.TestCase):
    def test_every_benchmark_metric_is_reported(self):
        spec = json.loads((Path(run.__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        runs = [{"wall": 2.0, "cpu": 3.0, "rss_mb": 100.0, "output_bytes": 10, "failed": []}]
        self.assertEqual(set(run.end_to_end(1.1, runs, 1000)),
                         {m["name"] for m in spec["end_to_end"]})
        trace = {"spans": [{"name": n, "path": True, "start_ms": 0, "end_ms": 1000, "metrics": {"job_s": 0.5}}
                           for n in ("compile.schema", "checkpoint", "pipeline.minhash")],
                 "run": {"held_bytes": 0}}
        values = run.per_layer({"rows": 10, "input_bytes": 100}, 5.0, trace, Path("/nonexistent"), runs)
        self.assertEqual(set(values), {m["name"] for m in spec["per_layer"]})


if __name__ == "__main__":
    unittest.main()
