"""Output checks of the benchmark, run with DuckDB outside the timed region.

Each check returns {job index: [failure reason, ...]}; a job with any
reason counts as failed.
"""
import re
from pathlib import Path

import duckdb

TABLES = ["customer", "orders", "lineitem", "part"]
PEER_QUERIES = ["q41_feature_pipeline", "q44_peer_search_flow", "q13_confidence",
                "q14_penetration"]
PACK_COLS = ["doc_id", "pack_id", "n_pack_tokens", "offset_in_pack"]


def connect(data_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        if (data_dir / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    # Spark rounds a double half-up on its shortest decimal form; DuckDB's
    # round() works on the binary value, so an exact decimal midpoint such
    # as the mean 1089.96375 rounds to ...38 in Spark and ...37 in DuckDB.
    con.execute("CREATE MACRO spark_round(x, n) AS CAST(round(CAST(CAST(CAST(x AS DOUBLE) "
                "AS VARCHAR) AS DECIMAL(38, 18)), n) AS DOUBLE)")
    return con


def oracle_sql(sql: str) -> str:
    """A registered oracle SQL with round() evaluated the way Spark does."""
    return re.sub(r"\bround\(", "spark_round(", sql)


def multiset_diff(con, got: str, want: str) -> list[str]:
    """Reasons why relation `got` differs from `want` as a row multiset,
    columns matched by name and values compared exactly.
    """
    g_cols = sorted(c for c in con.sql(f"SELECT * FROM {got}").columns)
    w_cols = sorted(c for c in con.sql(f"SELECT * FROM {want}").columns)
    if g_cols != w_cols:
        return [f"columns {g_cols} != {w_cols}"]
    cols = ", ".join(f'"{c}"' for c in w_cols)
    extra = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {got} EXCEPT ALL "
                    f"SELECT {cols} FROM {want})").fetchone()[0]
    missing = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {want} EXCEPT ALL "
                      f"SELECT {cols} FROM {got})").fetchone()[0]
    if extra or missing:
        return [f"{extra} unexpected rows, {missing} missing rows"]
    return []


def _read(out: Path) -> str:
    """A sink directory as a DuckDB relation expression."""
    if list(out.glob("*.csv")):
        return f"read_csv('{out}/*.csv', header = true)"
    return f"read_parquet('{out}/*.parquet')"


def check_peer_report(con, oracles: dict, job_dirs: dict[int, Path]) -> dict[int, list[str]]:
    """Each output of each job equals its registered oracle SQL."""
    for q in PEER_QUERIES:
        con.execute(f"CREATE OR REPLACE TABLE want_{q} AS {oracle_sql(oracles[q])}")
    fails = {}
    for job, d in job_dirs.items():
        reasons = []
        for q in PEER_QUERIES:
            out = d / q
            if not out.exists():
                reasons.append(f"{q}: no output")
                continue
            reasons += [f"{q}: {r}" for r in multiset_diff(con, _read(out), f"want_{q}")]
        fails[job] = reasons
    return fails


def check_als(con, oracle: dict, job_dirs: dict[int, Path]) -> dict[int, list[str]]:
    """q40's structural invariants: every user with usage gets exactly 5
    distinct items ranked 1-5 with finite scores, and the user count equals
    the one DuckDB computes from the inputs (the registered q40 oracle).
    """
    want = con.sql(oracle["q40_als_recommend"]).fetchone()
    n_users = want[1]
    fails = {}
    for job, d in job_dirs.items():
        out = d / "q40_als_recommend"
        if not out.exists():
            fails[job] = ["q40: no output"]
            continue
        row = con.sql(f"""
            WITH r AS (SELECT * FROM read_parquet('{out}/*.parquet')),
            u AS (SELECT userId, count(*) AS c, count(DISTINCT itemId) AS di,
                         min(rec_rank) AS mn, max(rec_rank) AS mx,
                         count(DISTINCT rec_rank) AS dr,
                         sum(CASE WHEN score IS NULL OR isnan(score) OR isinf(score)
                                  THEN 1 ELSE 0 END) AS bad
                  FROM r GROUP BY userId)
            SELECT count(*), min(c), max(c), min(di), min(mn), max(mx), min(dr),
                   coalesce(sum(bad), 0)
            FROM u""").fetchone()
        users, cmin, cmax, dimin, rmin, rmax, drmin, bad = row
        reasons = []
        if users != n_users:
            reasons.append(f"q40: {users} users, inputs have {n_users}")
        if users and (cmin != 5 or cmax != 5 or dimin != 5):
            reasons.append(f"q40: per-user rows {cmin}..{cmax}, distinct items >= {dimin}")
        if users and (rmin != 1 or rmax != 5 or drmin != 5):
            reasons.append(f"q40: ranks {rmin}..{rmax}")
        if bad:
            reasons.append(f"q40: {bad} non-finite scores")
        fails[job] = reasons
    return fails


def check_corpus(con, data_dir: Path, work: Path, slice_docs: int,
                 jobs: list[int]) -> tuple[dict[int, list[str]], float]:
    """The streamed packs equal the one-shot TrainingPrep.run over the same
    docs; every planted exact duplicate is rejected; no planted
    near-duplicate pair is admitted together. Failures are charged to the
    slice (job) that ingested the offending doc. Also returns the
    admission ratio.
    """
    fails: dict[int, list[str]] = {j: [] for j in jobs}

    def charge(doc_ids, reason):
        for d in doc_ids:
            fails.setdefault(int(d) // slice_docs, []).append(f"doc {d}: {reason}")

    packs = work / "stream" / "packs"
    cols = ", ".join(PACK_COLS)
    con.execute(f"CREATE OR REPLACE VIEW oneshot AS SELECT {cols} FROM "
                f"read_parquet('{work}/check/oneshot/*.parquet')")
    files = [str(p) for p in packs.glob("batch=*/*.parquet")]
    if files:
        con.execute(f"CREATE OR REPLACE VIEW streamed AS SELECT {cols} FROM "
                    f"read_parquet({files!r}, hive_partitioning = false)")
    else:
        con.execute("CREATE OR REPLACE VIEW streamed AS SELECT * FROM oneshot LIMIT 0")
    for a, b, what in (("streamed", "oneshot", "packed but not in the one-shot run"),
                       ("oneshot", "streamed", "in the one-shot run but not packed")):
        bad = con.sql(f"SELECT DISTINCT doc_id FROM (SELECT {cols} FROM {a} EXCEPT ALL "
                      f"SELECT {cols} FROM {b}) LIMIT 50").fetchall()
        charge([r[0] for r in bad], what)

    con.execute(f"CREATE OR REPLACE VIEW dec AS SELECT * FROM "
                f"read_parquet('{work}/check/decisions/*.parquet')")
    ingested = (max(jobs) + 1) * slice_docs
    con.execute(f"CREATE OR REPLACE VIEW planted AS SELECT * FROM "
                f"read_parquet('{data_dir}/planted.parquet') WHERE doc_id < {ingested}")
    n_docs = con.sql(f"SELECT count(*) FROM read_parquet('{data_dir}/documents.parquet') "
                     f"WHERE doc_id < {ingested}").fetchone()[0]
    n_dec, n_ids = con.sql("SELECT count(*), count(DISTINCT id) FROM dec").fetchone()
    if n_dec != n_docs or n_ids != n_docs:
        missing = con.sql(f"SELECT doc_id FROM read_parquet('{data_dir}/documents.parquet') "
                          f"WHERE doc_id < {ingested} AND doc_id NOT IN (SELECT id FROM dec) "
                          f"LIMIT 50").fetchall()
        charge([r[0] for r in missing], "no admission decision")
        if n_dec != n_ids:
            charge([r[0] for r in con.sql("SELECT id FROM dec GROUP BY id HAVING count(*) > 1 "
                                          "LIMIT 50").fetchall()], "several decisions")
    admitted_dups = con.sql("SELECT p.doc_id FROM planted p JOIN dec d ON d.id = p.doc_id "
                            "WHERE p.kind = 'exact' AND d.admitted").fetchall()
    charge([r[0] for r in admitted_dups], "planted exact duplicate admitted")
    both = con.sql("SELECT p.doc_id FROM planted p JOIN dec a ON a.id = p.doc_id "
                   "JOIN dec s ON s.id = p.source_id "
                   "WHERE p.kind = 'near' AND a.admitted AND s.admitted").fetchall()
    charge([r[0] for r in both], "planted near-duplicate admitted with its source")
    admitted = con.sql("SELECT avg(CASE WHEN admitted THEN 1.0 ELSE 0.0 END) FROM dec").fetchone()[0]
    return fails, float(admitted or 0.0)
