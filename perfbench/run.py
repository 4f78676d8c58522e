#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload ndsh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline; perfbench/build.sbt depends on the
program's own build); later runs reuse that build while the sources are
unchanged. Each run:

  1. writes a plan: the workload's queries in a seeded order per pass;
  2. runs perfbench.Harness through spark-submit in one JVM on
     local[nproc]: session build plus a cold pass (set-up), a fixed number
     of warm-up passes and the live-heap reading, closed-loop timed passes
     for --seconds, and a check pass;
  3. compares both the cold-pass and the check-pass results of every query
     with its DuckDB oracle (tools/check.py's canonical sort and cell
     compare);
  4. prints the run record, then as the last line the JSON result with the
     end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).

The build writes sbt's target directories; everything else a run writes
lives under .bench_build/perfbench in the checkout, and the run's scratch
directory is removed at exit. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import benchlib  # noqa: E402
import layers  # noqa: E402

SF_DIR = str(Path.home() / "testdata" / "sf0.1")
# A run must end within 180 s of its start, not counting the build.
RUN_LIMIT_S = 170

# Each workload is a fixed row subset, sized so that a run (session build,
# cold pass, warm-up, timed passes, check pass) stays near a minute and a
# full comparison, 22 runs per workload plus 4, fits in an hour. README.md
# says why each row is in.
NDSH = ["ndsh_q1", "ndsh_q5", "ndsh_q6", "ndsh_q9", "ndsh_q11"]
# Stream rows that replay `documents` and `embeddings`. The rows that
# replay `events` are left out: at this commit Tables.events makes a
# nested ConcurrentHashMap.computeIfAbsent on its reader memo, and in
# about four JVMs of ten every events-based row then fails with
# "Recursive update" (README.md).
STREAMING = ["stream_postings", "stream_decontaminate"]
# (queries, warm-up passes). The warm-up counts come from long runs that
# logged every pass wall (README.md, "Warm-up"); a fixed count, not a
# time, keeps the executions before the heap reading the same on any host.
WORKLOADS = {"ndsh": (NDSH, 8), "streaming": (STREAMING, 7)}

# Generated classes Spark may keep per JVM (see run_jvm).
CODEGEN_CACHE_ENTRIES = 2000

# The end-to-end metrics BENCHMARK.json bounds; query_p50_s, query_p90_s
# and failed_frac are printed in the run record only (see README.md).
E2E_UNITS = {"pass_s": "s", "setup_s": "s", "heap_mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def heap_gb():
    """Half of MemTotal in GiB, clamped to [2, 8]: the tier-1 test sizing."""
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                return min(8, max(2, int(int(line.split()[1]) / 2097152)))
    except OSError:
        pass
    return 2


def source_hash(root):
    """Hash of everything the build reads: both build definitions and
    both source trees."""
    h = hashlib.sha256()
    files = sorted((root / "src" / "main").rglob("*")) + sorted((HERE / "src").rglob("*"))
    files += [root / "build.sbt", root / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def git_commit(root):
    """HEAD of the checkout, or None when it is not a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def spark_submit():
    """$SPARK_HOME/bin/spark-submit, else the spark-submit on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return str(Path(os.environ["SPARK_HOME"]) / "bin" / "spark-submit")
    submit = shutil.which("spark-submit")
    if submit is None:
        fail("set SPARK_HOME or put spark-submit on the PATH")
    return submit


def build(root, state):
    """Build program + harness with sbt once per source state (the
    `benchLaunch` task in build.sbt); returns (harness jar, classpath,
    the program's JVM options)."""
    launch = HERE / "target" / "launch.txt"
    digest = source_hash(root)
    stamp = state / "build.sha"
    if not (stamp.exists() and stamp.read_text() == digest and launch.exists()):
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = Path.home() / ".sbt" / "repositories"
        env.setdefault("SBT_OPTS", " ".join(
            ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
            + ([f"-Dsbt.repository.config={repos}"] if repos.exists() else [])))
        log = state / "build.log"
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "benchLaunch"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env).returncode
        if rc != 0:
            sys.stderr.write("\n".join(log.read_text().splitlines()[-30:]) + "\n")
            fail(f"build failed (rc={rc}); log in {log}")
        stamp.write_text(digest)
    return launch.read_text().splitlines()


def write_plan(path, names, warmup, seed, args, run_dir, cores):
    passes = [benchlib.permutation(names, seed, f"p{k}") for k in range(64)]
    lines = [
        f"sf_dir\t{SF_DIR}", f"run_dir\t{run_dir}", f"cores\t{cores}",
        f"seconds\t{args.seconds}", f"trace\t{args.trace}",
        f"min_passes\t{4 if args.trace else 1}", f"heap_after\t{warmup // 2}",
        "cold\t" + ",".join(benchlib.permutation(names, seed, "cold")),
        "check\t" + ",".join(benchlib.permutation(names, seed, "check")),
    ] + ["warmup\t" + ",".join(benchlib.permutation(names, seed, f"w{k}"))
         for k in range(warmup)] + ["pass\t" + ",".join(p) for p in passes]
    path.write_text("\n".join(lines) + "\n")


def run_jvm(app, plan, run_dir, cores, deadline):
    """Run the harness through spark-submit, which supplies Spark's jars,
    with the program's JVM options and a heap sized from the box's memory;
    every directory Spark writes to is in the run's scratch directory."""
    jar, classpath, jvm_options = app
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    conf = {
        "spark.sql.shuffle.partitions": cores,
        # Spark caches 100 generated classes by default, in a Guava cache
        # that evicts per segment before it is full. The 85 classes of
        # the `ndsh` set already overflow it, and with a new query order
        # every pass a seed-dependent number of them were evicted and
        # compiled again in each timed pass, and then compiled by the JIT
        # anew. With room for every class, each is compiled once, in
        # set-up. Code that is generated anew on every execution is still
        # compiled every time (`codegen.compiles`).
        "spark.sql.codegen.cache.maxEntries": CODEGEN_CACHE_ENTRIES,
        "spark.local.dir": run_dir / "spark-local",
        "spark.sql.warehouse.dir": run_dir / "warehouse",
        "spark.sql.streaming.checkpointLocation": run_dir / "checkpoints",
    }
    cmd = [spark_submit(), "--master", f"local[{cores}]", "--driver-memory", f"{heap_gb()}g",
           "--driver-java-options", f"{jvm_options} -Djava.io.tmpdir={tmp}",
           "--driver-class-path", classpath]
    for k, v in conf.items():
        cmd += ["--conf", f"{k}={v}"]
    cmd += ["--class", "perfbench.Harness", jar, str(plan)]
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            tail = (run_dir / "jvm.log").read_text().splitlines()[-20:]
            sys.stderr.write("\n".join(tail) + "\n")
            fail("harness did not finish in time")
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"harness exited with {rc}")
    return [json.loads(l) for l in (run_dir / "record.jsonl").read_text().splitlines()]


class Oracle:
    """Expected results as hashes of the DuckDB oracle's canonical result
    (tools/check.py `canon`), keyed by the input tables and the oracle
    SQL. oracle_hashes.json holds the recorded ones; a query whose SQL or
    inputs changed is computed in DuckDB once and kept in the checkout's
    build state."""

    def __init__(self, root, state):
        spec = importlib.util.spec_from_file_location("check", root / "tools" / "check.py")
        self.check = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.check)
        self.con = self.check.duckdb.connect()
        for t in self.check.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
        self.inputs = ",".join(f"{p.name}:{p.stat().st_size}"
                               for p in sorted(Path(SF_DIR).glob("*.parquet")))
        self.local = state / "oracle_hashes.json"
        self.known = json.loads((HERE / "oracle_hashes.json").read_text())
        if self.local.exists():
            self.known.update(json.loads(self.local.read_text()))

    def expected(self, name, sql):
        key = hashlib.sha256(f"{self.inputs}\n{sql}".encode()).hexdigest()
        if key not in self.known:
            df = self.check.canon(self.con, sql)
            self.known[key] = {"query": name, "rows": len(df), "sha": benchlib.result_hash(df)}
            local = json.loads(self.local.read_text()) if self.local.exists() else {}
            local[key] = self.known[key]
            self.local.write_text(json.dumps(local, indent=1, sort_keys=True))
        return self.known[key]

    def mismatch(self, name, sql, result_dir):
        """None when the result equals the oracle's, else the reason."""
        if not any(result_dir.glob("*.parquet")):
            return "no result"
        exp = self.expected(name, sql)
        got = self.check.canon(self.con, f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
        if benchlib.result_hash(got) != exp["sha"]:
            return f"result differs from the oracle ({len(got)} rows, oracle {exp['rows']})"
        return None


def end_to_end(records):
    """(metrics, detail): the bounded end-to-end metrics, and for the run
    record every end-to-end figure with its unit and sample count."""
    passes = [r["wall_s"] for r in records if r["type"] == "pass" and r["pass"].startswith("p")]
    lat = [r["wall_s"] for r in records if r["type"] == "exec" and r["pass"].startswith("p")]
    values = {
        "pass_s": benchlib.median(passes),
        "setup_s": next(r["setup_s"] for r in records if r["type"] == "setup"),
        "heap_mb": next(r["heap_mb"] for r in records if r["type"] == "heap"),
    }
    detail = {k: {"value": v, "unit": E2E_UNITS[k], "samples": 1} for k, v in values.items()}
    detail["pass_s"]["samples"] = len(passes)
    detail["query_p50_s"] = {"value": benchlib.percentile(lat, 0.5, beyond=0), "unit": "s",
                             "samples": len(lat)}
    detail["query_p90_s"] = {"value": benchlib.percentile(lat, 0.9), "unit": "s",
                             "samples": len(lat), "valid_from": 100}
    return values, detail


def query_walls(records):
    """Per query: [cold-pass wall, median timed wall] in seconds."""
    out = {}
    for r in records:
        if r["type"] == "exec":
            out.setdefault(r["query"], {}).setdefault(r["pass"][0], []).append(r["wall_s"])
    return {q: [round(w["c"][0], 4), round(benchlib.median(w.get("p", [0.0])), 4)]
            for q, w in out.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    root = Path.cwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py"):
        if not (root / need).is_file():
            fail(f"run from the root of a checkout: {need} is missing")
    if not Path(SF_DIR, "lineitem.parquet").is_file():
        fail(f"input tables not found under {SF_DIR}")
    state = root / ".bench_build" / "perfbench"
    state.mkdir(parents=True, exist_ok=True)
    app = build(root, state)

    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    names, warmup = WORKLOADS[args.workload]
    run_dir = state / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir()
    try:
        plan = run_dir / "plan.tsv"
        write_plan(plan, names, warmup, args.seed, args, run_dir, cores)
        jvm_started = time.time()
        records = run_jvm(app, plan, run_dir, cores, jvm_started + RUN_LIMIT_S - 20)
        jvm_s = time.time() - jvm_started
        oracle_sql = json.loads((run_dir / "oracle_sql.json").read_text())
        oracle = Oracle(root, state)
        execs = [r for r in records if r["type"] == "exec"]
        wrong = []
        for check in ("check1", "check2"):
            for name in names:
                if name not in oracle_sql:
                    wrong.append({"check": check, "query": name, "why": "no oracle"})
                    continue
                why = oracle.mismatch(name, oracle_sql[name], run_dir / check / name)
                if why:
                    wrong.append({"check": check, "query": name, "why": why})
        # Set-up builds every DimCache entry; one built later means work
        # moved out of set-up into the passes it is meant to speed up.
        computes = next(r["computes_timed"] for r in records if r["type"] == "dimcache")
        if computes:
            wrong.append({"check": "dimcache", "query": None,
                          "why": f"{computes} cache entries computed after set-up"})
        threw = [r for r in execs if not r["ok"]]
        failed = len(threw) + len([w for w in wrong if w["why"] != "no result"])
        attempted = len(execs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "stamp": dict({k: v for k, v in next(r for r in records if r["type"] == "stamp").items()
                       if k != "type"},
                      heap_gb=heap_gb(), sf_dir=SF_DIR, commit=git_commit(root),
                      source_sha=source_hash(root)),
        "failed_frac": {"value": failed / attempted, "unit": "ratio", "samples": attempted},
        "threw": [{"pass": r["pass"], "query": r["query"], "error": r["error"]} for r in threw],
        "wrong": wrong,
        "query_walls_s": query_walls(records),
        "passes": {r["pass"]: {"wall_s": round(r["wall_s"], 4), "jit_ms": r["jvm_jit_ms"],
                               "gc_ms": r["jvm_gc_ms"], "classes": r["jvm_classes"],
                               "codegen_compiles": r["codegen_compiles"],
                               "steal_ms": r["host_steal_ms"]}
                   for r in records if r["type"] == "pass"},
        "timed_trend": benchlib.trend([r["wall_s"] for r in records
                                       if r["type"] == "pass" and r["pass"].startswith("p")]),
        "dimcache_computes_timed": computes,
        "conf_drift": [{k: r[k] for k in ("key", "before", "after")}
                       for r in records if r["type"] == "conf_drift"],
    }
    if args.trace:
        metrics, trace = layers.per_layer(records, cores)
        record["trace"] = trace["summary"]
        traces = state / "traces"
        traces.mkdir(exist_ok=True)
        spans_file = traces / f"{args.workload}-seed{args.seed}.jsonl"
        spans_file.write_text("".join(json.dumps(s) + "\n" for s in trace["spans"]))
        record["trace"]["spans_file"] = str(spans_file.relative_to(root))
        units = layers.UNITS
    else:
        metrics, record["end_to_end"] = end_to_end(records)
        units = E2E_UNITS
    record["metrics"] = metrics
    record["jvm_wall_s"] = jvm_s
    record["run_wall_s"] = time.time() - started
    out = json.dumps(record)
    (state / "records").mkdir(exist_ok=True)
    (state / "records" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(out)
    print(out)
    print(json.dumps({
        "correct": failed == 0 and not computes, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
