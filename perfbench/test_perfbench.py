"""Self-tests of the benchmark's input generator and output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need only Python, numpy, pyarrow and DuckDB, not the JVM.
"""
import hashlib
import tempfile
import unittest
from pathlib import Path

import duckdb

import check
import gen


def digests(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            t = Path(t)
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen.gen_tables(t / name, seed, 500)
                gen.gen_corpus(t / name, seed, 400)
            a, b, c = digests(t / "a"), digests(t / "b"), digests(t / "c")
            self.assertEqual(a, b)
            self.assertEqual(set(a), set(c))
            for f in a:
                self.assertNotEqual(a[f], c[f], f)

    def test_tables_have_the_stated_shape(self):
        with tempfile.TemporaryDirectory() as t:
            sizes = gen.gen_tables(Path(t), 1, 500)
            con = check.connect(Path(t))
            per_nation = con.sql("SELECT min(n), max(n) FROM (SELECT count(*) AS n "
                                 "FROM customer GROUP BY c_nationkey)").fetchone()
            self.assertEqual(per_nation, (20, 20))
            self.assertEqual(con.sql("SELECT count(*) FROM lineitem").fetchone()[0],
                             sizes["lineitems"])
            orphans = con.sql("SELECT count(*) FROM lineitem LEFT JOIN part "
                              "ON l_partkey = p_partkey WHERE p_partkey IS NULL").fetchone()[0]
            self.assertEqual(orphans, 0)

    def test_corpus_plants(self):
        with tempfile.TemporaryDirectory() as t:
            sizes = gen.gen_corpus(Path(t), 3, 1000)
            self.assertGreater(sizes["exact"], 50)
            self.assertGreater(sizes["near"], 50)
            self.assertGreater(sizes["contaminated"], 5)
            con = duckdb.connect()
            docs = f"read_parquet('{t}/documents.parquet')"
            planted = f"read_parquet('{t}/planted.parquet')"
            exact_ok = con.sql(f"SELECT bool_and(d.text = s.text) FROM {planted} p "
                               f"JOIN {docs} d ON d.doc_id = p.doc_id "
                               f"JOIN {docs} s ON s.doc_id = p.source_id "
                               f"WHERE p.kind = 'exact'").fetchone()[0]
            self.assertTrue(exact_ok)
            evals_planted = con.sql(f"SELECT count(*) FROM {planted} "
                                    f"WHERE doc_id % {gen.EVAL_MODULUS} = 0").fetchone()[0]
            self.assertEqual(evals_planted, 0)


class CheckTest(unittest.TestCase):
    """A planted wrong row fails the check; the untouched output passes."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.t = Path(self.tmp.name)
        gen.gen_tables(self.t / "data", 2, 300)
        self.con = check.connect(self.t / "data")

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, sql: str, out: Path, csv: bool = False):
        out.mkdir(parents=True)
        fmt = "(FORMAT csv, HEADER true)" if csv else "(FORMAT parquet)"
        self.con.execute(f"COPY ({sql}) TO '{out}/part-0.{'csv' if csv else 'parquet'}' {fmt}")

    def test_peer_report_wrong_row(self):
        oracle = {q: f"SELECT c_custkey, c_acctbal, '{q}' AS q FROM customer"
                  for q in check.PEER_QUERIES}
        for job in (0, 1):
            for q in check.PEER_QUERIES:
                sql = oracle[q]
                if job == 1 and q == "q13_confidence":
                    sql += " WHERE c_custkey <> 7 UNION ALL SELECT 7, 0.5, 'q13_confidence'"
                self.write(sql, self.t / f"job_{job}" / q, csv=q == "q44_peer_search_flow")
        fails = check.check_peer_report(self.con, oracle,
                                        {j: self.t / f"job_{j}" for j in (0, 1)})
        self.assertEqual(fails[0], [])
        self.assertEqual(fails[1], ["q13_confidence: 1 unexpected rows, 1 missing rows"])

    def als_output(self, job: int, tamper: str = "") -> Path:
        recs = f"""SELECT CAST(u.cust AS INTEGER) AS userId, CAST(r AS INTEGER) AS itemId,
                          CAST(1.0 / r AS FLOAT) AS score, CAST(r AS INTEGER) AS rec_rank
                   FROM (SELECT DISTINCT o_custkey AS cust FROM orders
                         JOIN lineitem ON o_orderkey = l_orderkey) u,
                        range(1, 6) t(r) {tamper}"""
        self.write(recs, self.t / f"job_{job}" / "q40_als_recommend")
        return self.t / f"job_{job}"

    def test_als_wrong_row(self):
        oracle = {"q40_als_recommend": """
            WITH u AS (SELECT DISTINCT o_custkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
            SELECT 0, CAST((SELECT count(*) FROM u) AS BIGINT)"""}
        good = self.als_output(0)
        dup_item = self.als_output(1, "WHERE NOT (u.cust = (SELECT min(o_custkey) FROM orders) "
                                      "AND r = 5) UNION ALL SELECT CAST((SELECT min(o_custkey) "
                                      "FROM orders) AS INTEGER), 1, 0.1, 5")
        fails = check.check_als(self.con, oracle, {0: good, 1: dup_item})
        self.assertEqual(fails[0], [])
        self.assertTrue(fails[1] and "distinct items" in fails[1][0], fails[1])

    def test_corpus_admitted_duplicate(self):
        data, work = self.t / "data", self.t / "work"
        gen.gen_corpus(data, 4, 250)
        planted = self.con.sql(f"SELECT doc_id FROM read_parquet('{data}/planted.parquet') "
                               f"WHERE kind = 'exact' ORDER BY doc_id LIMIT 1").fetchone()[0]
        packs = "SELECT doc_id, 0 AS pack_id, 1 AS n_pack_tokens, 0 AS offset_in_pack " \
                f"FROM read_parquet('{data}/documents.parquet')"
        self.write(packs, work / "check" / "oneshot")
        self.write(packs + " WHERE doc_id < 125", work / "stream" / "packs" / "batch=0")
        self.write(packs + " WHERE doc_id >= 125", work / "stream" / "packs" / "batch=1")
        self.write(f"SELECT doc_id AS id, doc_id NOT IN (SELECT doc_id FROM "
                   f"read_parquet('{data}/planted.parquet')) OR doc_id = {planted} AS admitted, "
                   f"NULL::BIGINT AS dup_of FROM read_parquet('{data}/documents.parquet')",
                   work / "check" / "decisions")
        fails, admit = check.check_corpus(self.con, data, work, 125, [0, 1])
        bad = planted // 125
        self.assertEqual(fails[bad], [f"doc {planted}: planted exact duplicate admitted"])
        self.assertEqual(fails[1 - bad], [])
        self.assertGreater(admit, 0.5)


if __name__ == "__main__":
    unittest.main()
