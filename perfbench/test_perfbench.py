"""Self-tests of the benchmark.

    python3 perfbench/test_perfbench.py            # all, incl. two short runs
    python3 perfbench/test_perfbench.py -k Inputs  # generator only

The end-to-end cases build the program and run the cheapest workload for a
couple of seconds, so they take a minute or two.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

# Physical schema of each fixture table, as its parquet footer stores it.
FIXTURE_SCHEMA = {
    "region": [("r_regionkey", "int32"), ("r_name", "string")],
    "nation": [("n_nationkey", "int32"), ("n_name", "string"), ("n_regionkey", "int32")],
    "supplier": [("s_suppkey", "int64"), ("s_name", "string"), ("s_nationkey", "int32"),
                 ("s_acctbal", "double")],
    "customer": [("c_custkey", "int64"), ("c_name", "string"), ("c_nationkey", "int32"),
                 ("c_acctbal", "double"), ("c_mktsegment", "string")],
    "part": [("p_partkey", "int64"), ("p_name", "string"), ("p_brand", "string"),
             ("p_type", "string"), ("p_size", "int32"), ("p_retailprice", "double")],
    "orders": [("o_orderkey", "int64"), ("o_custkey", "int64"), ("o_orderstatus", "string"),
               ("o_totalprice", "double"), ("o_orderdate", "timestamp[us]"),
               ("o_orderpriority", "string")],
    "lineitem": [("l_orderkey", "int64"), ("l_partkey", "int64"), ("l_suppkey", "int64"),
                 ("l_linenumber", "int32"), ("l_quantity", "double"),
                 ("l_extendedprice", "double"), ("l_discount", "double"), ("l_tax", "double"),
                 ("l_returnflag", "string"), ("l_linestatus", "string"),
                 ("l_shipdate", "timestamp[us]")],
    "events": [("event_id", "int64"), ("ts", "timestamp[us]"), ("user_id", "int64"),
               ("event_type", "string"), ("value", "double"), ("props", "string")],
    "documents": [("doc_id", "int64"), ("text", "string"), ("lang", "string"),
                  ("source", "string"), ("n_chars", "int64")],
    "embeddings": [("vec_id", "int64"), ("embedding", "list<element: float>"),
                   ("label", "int32")],
}


def parquet_schema(path):
    if os.path.isdir(path):
        path = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    return [(f.name, str(f.type)) for f in pq.read_schema(path)]

TINY = dict(supplier=20, customer=50, part=40, orders=200, lineitem=800,
            events=300, documents=60, embeddings=30, dup_rate=0.1)


def tree_digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class InputsTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.CACHE, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.CACHE, prefix="test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def gen(self, shape, seed, tag, params=TINY):
        return tree_digest(inputs.generate(shape, seed, params, os.path.join(self.tmp, tag)))

    def test_same_seed_gives_identical_inputs(self):
        for shape, params in [("base", TINY), ("etl", dict(TINY, copies=2)),
                              ("long", dict(documents=10, min_words=50,
                                            max_words=80, dup_rate=0.2))]:
            self.assertEqual(self.gen(shape, 7, shape + "a", params),
                             self.gen(shape, 7, shape + "b", params), shape)

    def test_other_seed_gives_other_inputs(self):
        self.assertNotEqual(self.gen("base", 7, "a"), self.gen("base", 8, "b"))

    def test_generated_schemas_match_the_fixtures(self):
        for shape, params in [("base", TINY), ("etl", dict(TINY, copies=2)),
                              ("long", dict(documents=10, min_words=50,
                                            max_words=80, dup_rate=0.2))]:
            d = inputs.generate(shape, 5, params, os.path.join(self.tmp, shape))
            tables = [t for t in FIXTURE_SCHEMA
                      if os.path.exists(os.path.join(d, f"{t}.parquet"))]
            self.assertEqual(len(tables), 1 if shape == "long" else len(FIXTURE_SCHEMA), shape)
            for t in tables:
                self.assertEqual(parquet_schema(os.path.join(d, f"{t}.parquet")),
                                 FIXTURE_SCHEMA[t], f"{shape}/{t}")

    @unittest.skipUnless(os.environ.get("SPARK_GRAFT_SF_DIR"),
                         "set SPARK_GRAFT_SF_DIR to a fixture directory to check it")
    def test_fixture_schema_is_current(self):
        sf = os.environ["SPARK_GRAFT_SF_DIR"]
        for t, want in FIXTURE_SCHEMA.items():
            self.assertEqual(parquet_schema(os.path.join(sf, f"{t}.parquet")), want, t)

    def test_etl_replicas_offset_order_keys(self):
        d = inputs.generate("etl", 3, dict(TINY, copies=3), os.path.join(self.tmp, "e"))
        man = json.load(open(os.path.join(d, "manifest.json")))
        self.assertEqual(man["orders"]["rows"], 3 * TINY["orders"])
        self.assertEqual(man["lineitem"]["rows"], 3 * TINY["lineitem"])


def call(query, digest, ok=True, err=None):
    return {"query": query, "dir": "d", "ok": ok, "err": err, "digest": digest,
            "rows": 1, "head": ""}


class CheckTest(unittest.TestCase):
    def test_injected_bad_digest_is_flagged(self):
        calls = [call("q_a", "aa" * 16), call("q_b", "bb" * 16)]
        exp = {("q_a", "d"): "aa" * 16, ("q_b", "d"): "bb" * 16}
        self.assertEqual(run.check(calls, exp, {}), [])
        exp[("q_b", "d")] = "cc" * 16
        bad = run.check(calls, exp, {})
        self.assertEqual(len(bad), 1)
        self.assertIn("q_b: wrong result", bad[0])

    def test_errors_and_recorded_digests(self):
        rec = {}
        calls = [call("q_n", "11" * 16), call("q_n", "22" * 16),
                 call("q_e", "", ok=False, err="boom")]
        bad = run.check(calls, {("q_n", "d"): None}, rec)
        self.assertEqual(rec, {("q_n", "d"): "11" * 16})
        self.assertEqual(len(bad), 2)


def git_status():
    p = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                       capture_output=True, text=True)
    return p.stdout if p.returncode == 0 else None


class EndToEndTest(unittest.TestCase):
    WORKLOAD, SEED = "serve_mix", 99

    def bench(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", self.WORKLOAD, "--seed", str(self.SEED),
                            "--seconds", "2", "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "null"
        return p.returncode, json.loads(last), p.stderr

    def test_run_checks_outputs_and_leaves_repo_untouched(self):
        before = git_status()
        rc, res, err = self.bench()
        self.assertEqual(rc, 0, err[-3000:])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        if before is not None:
            self.assertEqual(git_status(), before)

        # tamper with one cached oracle digest: the run must flag it and fail
        exp_files = sorted((os.path.join(r, "expected.json")
                            for r, _, fs in os.walk(os.path.join(run.CACHE, "inputs"))
                            if "expected.json" in fs and r.endswith(f"-seed{self.SEED}")),
                           key=os.path.getmtime)
        self.assertTrue(exp_files)
        exp_files.reverse()  # the one this run just used first
        with open(exp_files[0]) as fh:
            saved = fh.read()
        exp = json.loads(saved)
        key = sorted(exp)[0]
        exp[key] = "0" * 32
        try:
            with open(exp_files[0], "w") as fh:
                json.dump(exp, fh)
            rc, res, _ = self.bench()
        finally:
            with open(exp_files[0], "w") as fh:
                fh.write(saved)
        self.assertEqual(rc, 1)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)


if __name__ == "__main__":
    unittest.main()
