#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the repository root:

    python3 perfbench/test_bench.py

- the seeded generator is deterministic and seed-sensitive;
- on sf0.01 the traced pipeline's digest equals the `PipelineOracle`
  literal (run through DuckDB) and the digest recorded in bench.json;
- a histogram with one row changed, and a registry result with one value
  changed, are both reported as failures;
- the registry mode keeps each pass's results apart, so each is checked.
"""
import copy
import json
import pathlib
import shutil
import sys
import tempfile
import unittest

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def scratch() -> pathlib.Path:
    d = build.build_dir() / "tests"
    d.mkdir(parents=True, exist_ok=True)
    return d


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_corpus(self):
        with tempfile.TemporaryDirectory(dir=scratch()) as d:
            d = pathlib.Path(d)
            a = inputs.fleet_dense8(d / "a", 3).read_bytes()
            b = inputs.fleet_dense8(d / "b", 3).read_bytes()
            self.assertEqual(a, b)
            # same shift variant, other row order
            self.assertNotEqual(a, inputs.fleet_dense8(d / "c", 3 + inputs.VARIANTS).read_bytes())
            other = pq.read_table(inputs.fleet_dense8(d / "e", 4))
            self.assertNotEqual(pq.read_table(d / "a" / "events.parquet").sort_by("event_id"),
                                other.sort_by("event_id"))
            self.assertEqual(other.num_rows, inputs.COPIES * inputs.SF01_CLICKS)


class OutputCheckTest(unittest.TestCase):
    """One harness run of the registry mode on sf0.01 with the pipeline
    query as the slice, traced, so it also runs the traced pipeline."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = pathlib.Path(tempfile.mkdtemp(dir=scratch()))
        cls.dumps = cls.tmp / "dumps"
        names = cls.tmp / "names.txt"
        names.write_text("pipeline_blindzone\n")
        cls.res = run.launch(run.settings(), cls.tmp, [
            "--mode", "registry", "--data", str(inputs.SF001_DIR), "--names", str(names),
            "--dumps", str(cls.dumps), "--seconds", "0", "--trace", "1"])
        con = duckdb.connect()
        for p in inputs.SF001_DIR.glob("*.parquet"):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        sql = json.loads((cls.dumps / "oracle_sql.json").read_text())["pipeline_blindzone@0"]
        cls.literal = [list(r) for r in con.sql(sql).fetchall()]

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_pipeline_digest_equals_oracle_literal(self):
        self.assertEqual(self.res["failures"], [])
        rows = self.res["pipeline_rows"]
        self.assertEqual(checks.digest(rows), checks.digest(self.literal))
        self.assertEqual(checks.digest_failures([rows], run.settings()["digests"]["registry_sf001"]["pipeline"]), [])

    def test_changed_histogram_row_fails(self):
        rows = copy.deepcopy(self.literal)
        rows[0][-1] += 1
        expected = {"sha256": checks.digest(self.literal), "rows": len(self.literal)}
        self.assertEqual(checks.digest_failures([self.literal], expected), [])
        self.assertEqual(len(checks.digest_failures([self.literal, rows], expected)), 1)

    def test_changed_registry_value_fails(self):
        root = pathlib.Path.cwd()
        # the cold, the timed and the traced pass each kept their results
        results = sorted(d.name for d in self.dumps.iterdir() if d.is_dir())
        self.assertEqual(results, [f"pipeline_blindzone@{k}" for k in range(3)])
        self.assertEqual(checks.oracle_failures(root, inputs.SF001_DIR, self.dumps), [])
        tampered = self.tmp / "tampered"
        shutil.copytree(self.dumps, tampered)
        f = next(f for f in sorted((tampered / "pipeline_blindzone@1").glob("*.parquet"))
                 if pq.read_metadata(f).num_rows > 0)
        t = pq.read_table(f)
        cnt = t.schema.get_field_index("cnt")
        pq.write_table(t.set_column(cnt, "cnt", pc.add(t["cnt"], 1)), f)
        fails = checks.oracle_failures(root, inputs.SF001_DIR, tampered)
        self.assertEqual(len(fails), 1)
        self.assertIn("pipeline_blindzone@1", fails[0])


if __name__ == "__main__":
    unittest.main()
