#!/usr/bin/env python3
"""Benchmark of the graft library: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source on first use (sbt,
offline), generates the seeded inputs, runs one JVM that times the cold
job (set-up) and then closed-loop warm jobs for the given seconds, checks
every job's outputs with DuckDB, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits nonzero when a job fails or an output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import check  # noqa: E402
import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

# Inputs. 3,000 customers over 25 nations give ~360k same-nation peer
# pairs for q44 per job; the full sf0.1 size (15,000) makes one cold and
# one warm job alone take a minute on 4 cores, beyond a run's budget.
CUSTOMERS = 3000
CORPUS_DOCS = 2000
SLICE_DOCS = 125  # must match CorpusStream.SliceDocs
HEAP = "3g"
RUN_TIMEOUT_S = 170  # for a run once the build exists

WORKLOADS = {
    "peer_report": ["feature.build", "flows.peer_search", "queries.confidence",
                    "queries.penetration", "io.sink_csv", "io.sink_parquet"],
    "als_rec": ["io.usage_scan", "rec.accumulate", "rec.indexed_triples", "rec.train",
                "rec.recommend", "io.sink_parquet"],
    "corpus_stream": ["streaming.prep_batch", "streaming.dedup_batch", "streaming.compact"],
}
SPAN_FIELDS = {"wall_s": "s", "task_s": "s", "queue_s": "s", "serial_task_s": "s", "gc_s": "s",
               "shuffle_mb": "MB", "spill_mb": "MB"}
COUNTS = ["engine.blend_evals", "ops.topk.out_rows", "ops.topk.keep_ratio", "io.scan.rows",
          "io.scan.mb", "rec.ratings", "streaming.live_batches_max", "streaming.compactions",
          "streaming.store_files", "streaming.history_read_mb", "streaming.dedup.admit_ratio"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg: str, code: int = 2):
    print(json.dumps({"event": "benchmark_error", "error": msg}), file=sys.stderr)
    sys.exit(code)


def spark_home() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution: set SPARK_HOME")
    return home


def source_digest() -> str:
    h = hashlib.sha256()
    files = sorted([*(ROOT / "src" / "main").rglob("*"), *(BENCH / "src").rglob("*"),
                    BENCH / "build.sbt", BENCH / "project" / "build.properties"])
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(digest: str) -> tuple[str, str | None]:
    """Compiles library + benchmark once per source digest, then archives
    the classes a cold job of every workload loads (AppCDS), so each run's
    JVM maps them instead of loading them one by one. Returns the
    classpath and the archive (None when the JVM could not write one).
    """
    target = BENCH / "target"
    stamp = target / "bench-build.json"
    if stamp.exists():
        s = json.loads(stamp.read_text())
        if s.get("digest") == digest:
            return s["classpath"], s["archive"]
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    target.mkdir(exist_ok=True)
    log = target / "build.log"
    with open(log, "w") as out:
        # sbt keeps its own state (boot jars, global settings) under target/.
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            f"-Dsbt.global.base={target / 'sbt-global'}",
                            f"-Dsbt.boot.directory={target / 'sbt-boot'}",
                            "compile", "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                           stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=840)
    jar = str(target / "scala-2.13" / "graft-perfbench")
    classpath = next((ln for ln in reversed(log.read_text().splitlines()) if ln.startswith(jar)),
                     None)
    if r.returncode != 0 or classpath is None:
        fail(f"build failed, see {log}")

    archive = target / "classes.jsa"
    archive.unlink(missing_ok=True)
    warm = target / "warmup"
    shutil.rmtree(warm, ignore_errors=True)
    gen.gen_tables(warm / "data", 1, 300)
    gen.gen_corpus(warm / "data", 1, 2 * SLICE_DOCS)
    code = java(classpath, None, [f"-XX:ArchiveClassesAtExit={archive}"],
                ["--warmup-archive", "1", "--data", str(warm / "data"), "--work", str(warm),
                 "--docs", str(2 * SLICE_DOCS)], warm, time.monotonic() + 600)
    shutil.rmtree(warm, ignore_errors=True)
    archived = str(archive) if code == 0 and archive.exists() else None
    stamp.write_text(json.dumps({"digest": digest, "classpath": classpath, "archive": archived}))
    return classpath, archived


def java(classpath: str, archive: str | None, flags: list[str], args: list[str], work: Path,
         deadline: float) -> int:
    """Runs graftbench.Main with its output in work/jvm.log; returns the exit code."""
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", *flags,
           *([f"-XX:SharedArchiveFile={archive}"] if archive else []),
           "-cp", classpath, "graftbench.Main", *args]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("benchmark process timed out", 3)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"library sources not found under {ROOT / 'src' / 'main' / 'scala'}")

    digest = source_digest()
    classpath, archive = build(digest)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    work = BENCH / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    t_gen0 = time.monotonic()
    try:
        if a.workload == "corpus_stream":
            sizes = gen.gen_corpus(data, a.seed, CORPUS_DOCS)
        else:
            sizes = gen.gen_tables(data, a.seed, CUSTOMERS)
        t_gen = time.monotonic()
        code = java(classpath, archive, [],
                    ["--workload", a.workload, "--data", str(data), "--work", str(work),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--docs", str(CORPUS_DOCS)], work, deadline)
        if code != 0:
            tail = (work / "jvm.log").read_text().strip().splitlines()[-5:]
            fail(f"benchmark process exited {code}: {' | '.join(tail)}", 3)
        t_jvm = time.monotonic()
        res = json.loads((work / "result.json").read_text())
        result, context = evaluate(a, res, data, work, job_inputs(a.workload, data, sizes))
        context.update(build_s=t_gen0 - t_start, gen_s=t_gen - t_gen0, jvm_s=t_jvm - t_gen,
                       check_s=time.monotonic() - t_jvm)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    context.update(seed=a.seed, nproc=len(os.sched_getaffinity(0)), cores=res["cores"],
                   heap_max_mb=res["heap_max_mb"], cal=res["cal"], inputs=sizes,
                   class_archive=archive is not None, source_digest=digest,
                   git_commit=git_commit())
    if a.trace:
        print(json.dumps({"spans": res["spans"]}))
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def job_inputs(workload: str, data: Path, sizes: dict):
    """(records, input bytes) of job i: the workload's tables for a batch job,
    the slice's documents and text bytes for a corpus job.
    """
    if workload == "corpus_stream":
        t = pq.read_table(data / "documents.parquet", columns=["doc_id", "text"]).to_pydict()
        per = {}
        for d, text in zip(t["doc_id"], t["text"]):
            n, b = per.get(d // SLICE_DOCS, (0, 0))
            per[d // SLICE_DOCS] = (n + 1, b + len(text.encode()))
        return lambda i: per.get(i, (0, 0))
    tables = ["customer", "orders", "lineitem", "part"] if workload == "peer_report" \
        else ["orders", "lineitem", "part"]
    nbytes = sum((data / f"{t}.parquet").stat().st_size for t in tables)
    records = sizes["customers"] if workload == "peer_report" else sizes["lineitems"]
    return lambda i: (records, nbytes)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def evaluate(a, res: dict, data: Path, work: Path, inputs):
    jobs = res["jobs"]
    failures = {j["job"]: [j["error"]] for j in jobs if j["error"]}
    con = check.connect(data)
    oracle = json.loads((work / "oracle_sql.json").read_text())
    dirs = {j["job"]: work / "out" / f"job_{j['job']}" for j in jobs if not j["error"]}
    admit_ratio = None
    if a.workload == "peer_report":
        checked = check.check_peer_report(con, oracle, dirs)
    elif a.workload == "als_rec":
        checked = check.check_als(con, oracle, dirs)
    else:
        checked, admit_ratio = check.check_corpus(con, data, work, SLICE_DOCS,
                                                  [j["job"] for j in jobs])
    for job, reasons in checked.items():
        if reasons:
            failures.setdefault(job, []).extend(reasons)
    for job, reasons in sorted(failures.items()):
        print(json.dumps({"event": "job_failed", "workload": a.workload, "seed": a.seed,
                          "job": job, "reasons": reasons[:5]}), file=sys.stderr)

    ok = [j for j in jobs if j["job"] not in failures and j["phase"] != "cold"]
    untraced = [j["wall_s"] for j in ok if j["phase"] == "untraced"]
    loop = [j for j in jobs if j["phase"] != "cold"]
    context = {"job_samples": len(untraced), "jobs": len(jobs), "loop_s": res["loop_s"]}
    if a.trace == 0:
        loop_records = sum(inputs(j["job"])[0] for j in loop)
        loop_bytes = sum(inputs(j["job"])[1] for j in loop)
        kept_bytes = sum(inputs(j["job"])[1] for j in jobs) if a.workload == "corpus_stream" \
            else inputs(jobs[-1]["job"])[1]
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "job_p50_s": (median(untraced), "s"),
            "records_per_s": (loop_records / res["loop_s"], "1/s"),
            "peak_heap_mb": (max(j["heap_mb"] for j in loop), "MB"),
            "store_bytes_per_input_byte": (res["store_bytes"] / kept_bytes, "ratio"),
            "write_bytes_per_input_byte": (res["written_bytes"] / loop_bytes, "ratio"),
        }
    else:
        metrics = layer_metrics(a.workload, res, ok, admit_ratio)
        context["traced_jobs"] = span_accounting(res["spans"], ok)
    result = {"correct": not failures, "attempted": len(jobs), "failed": len(failures),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return result, context


def span_accounting(spans: list, ok: list) -> list:
    """Per traced job: its wall time, its root span, the root's children and
    the root's self time (root minus children), which add up to the root.
    """
    out = []
    for j in (j for j in ok if j["phase"] == "traced"):
        root = next(s for s in spans if s["job"] == j["job"] and s["parent"] == -1
                    and s["name"] == "job")
        children = sum(s["wall_s"] for s in spans if s["parent"] == root["id"])
        out.append({"job": j["job"], "job_s": j["wall_s"], "span_s": root["wall_s"],
                    "children_s": children, "self_s": root["wall_s"] - children})
    return out


def layer_metrics(workload: str, res: dict, ok: list, admit_ratio):
    traced_jobs = [j for j in ok if j["phase"] == "traced"]
    ids = {j["job"] for j in traced_jobs}
    spans = [s for s in res["spans"] if s["job"] in ids]
    m = {}
    for name in dict.fromkeys(n for ns in WORKLOADS.values() for n in ns):
        for f, unit in SPAN_FIELDS.items():
            per_job = [sum(s[f] for s in spans if s["name"] == name and s["job"] == j)
                       for j in sorted(ids)]
            m[f"{name}.{f}"] = (median(per_job), unit)
    counts = {c: median([j["counts"][c] for j in traced_jobs if c in j["counts"]])
              for c in COUNTS}
    if workload == "corpus_stream":
        counts.update({"streaming.live_batches_max": res["live_batches_max"],
                       "streaming.compactions": res["compactions"],
                       "streaming.store_files": res["store_files"],
                       "streaming.dedup.admit_ratio": admit_ratio})
    count_units = {"io.scan.mb": "MB", "streaming.history_read_mb": "MB",
                   "ops.topk.keep_ratio": "ratio", "streaming.dedup.admit_ratio": "ratio"}
    for c in COUNTS:
        m[c] = (counts[c], count_units.get(c, "count"))
    untraced = [j["wall_s"] for j in ok if j["phase"] == "untraced"]
    traced = [j["wall_s"] for j in traced_jobs]
    m["spark.failed_tasks"] = (sum(s["failed_tasks"] for s in spans), "count")
    m["trace.overhead_s"] = (median(traced) - median(untraced), "s")
    return m


if __name__ == "__main__":
    main()
