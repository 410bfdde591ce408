#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client drives LabelMakerJob jobs and
registered queries of the program through its public API.

Usage (from the repo root):
  python3 perfbench/run.py --workload dense-heavy --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source on first use (sbt, offline),
generates the seeded inputs, runs one JVM, checks every output (label jobs
in the JVM, queries here against DuckDB) and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics
are the per-layer ones and the spans go to .bench_build/traces/.
"""
import argparse
import hashlib
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

import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ML_TYPES = ["classification", "object-detection", "segmentation"]
# scale of the generated tables (1 = 6M lineitem rows): the heavy queries
# at sf0.1, where most of their time is Spark jobs doing shuffle and
# streaming-state work; the core queries at sf0.01, where it is per-query
# and per-job overhead
SCALE = {"dense-heavy": 0.1, "imagery-core": 0.01}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_fingerprint(root: Path) -> str:
    h = hashlib.sha256()
    files = [root / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (root / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        st = p.stat()
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root: Path, build_dir: Path) -> str:
    """Compiles program + harness once per source state; returns the classpath."""
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala").is_dir():
        fail("run from the repo root: the program's build.sbt and src/ are missing")
    cp_file, fp_file = build_dir / "classpath.txt", build_dir / "fingerprint.txt"
    fp = sources_fingerprint(root)
    if cp_file.is_file() and fp_file.is_file() and fp_file.read_text() == fp:
        return cp_file.read_text().strip()
    build_dir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log = build_dir / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = log.read_text().splitlines()
    cp = next((l for l in reversed(lines) if "perfbench" in l and "classes" in l
               and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed, see {log}")
    cp_file.write_text(cp)
    fp_file.write_text(fp)
    return cp


def jvm_timeout(seconds: float) -> float:
    """A run is set-up, warm-up, the timed window and the check; the
    timed window runs at least two rounds, which may outlast `seconds`."""
    return 110 + 3 * seconds


def run_jvm(cp: str, args: list, work: Path, timeout: float) -> dict:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main", *map(str, args)]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail("the run did not finish in time")
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not (work / "jvm.json").is_file():
        tail = (work / "jvm.log").read_text()[-3000:]
        fail(f"the JVM run failed (exit {rc}):\n{tail}")
    return json.loads((work / "jvm.json").read_text())


def check_queries(data: Path, results: Path, names) -> dict:
    """Query name -> problem, for every query that differs from the oracle."""
    sql = json.loads((results / "oracle_sql.json").read_text())
    con = oracle.connect(data)
    problems = {}
    for name in names:
        if name not in sql:
            problems[name] = "no oracle SQL"
        elif not (results / name).is_dir():
            problems[name] = "no result"
        else:
            p = oracle.check(con, sql[name], results / name)
            if p:
                problems[name] = p
    return problems


def metric(value, unit):
    return {"value": value, "unit": unit}


def tail_and_heap(r: dict) -> dict:
    """`query_s.p_tail` and `heap_live_mb`: per-layer metrics, as they spread
    too widely from run to run to carry a bound."""
    samples = [s for v in r["queries"].values() for s in v]
    pct, tail_value, n = stats.p_tail(samples)
    print(f"perfbench: query_s.p_tail is p{pct} over {n} samples: {tail_value:.4f} s; "
          f"heap_live_mb {r['heap_live_mb']:.1f}", file=sys.stderr)
    return {"query_s.p_tail": tail_value, "heap_live_mb": r["heap_live_mb"]}


def end_to_end(r: dict) -> dict:
    """End-to-end metric values of an untraced run. An operation that threw
    in every round has no samples: it adds nothing to the times, and a job
    type without a finished job has a throughput of 0."""
    tiles = r["tiles"]
    samples = [s for v in r["queries"].values() for s in v]
    tail_and_heap(r)  # printed on stderr
    # throughput and total take each operation's fastest round (min-of-N,
    # as graft.Bench does): later rounds run warmer code and the minimum
    # is the least disturbed by other load on the host
    m = {"setup_s": stats.median(r["setup_s"])}
    for ml in ML_TYPES:
        m[f"tiles_per_s.{ml}"] = tiles / min(r["jobs"][ml]) if r["jobs"][ml] else 0.0
    m["out_bytes_per_tile"] = r["out_bytes_per_tile"]
    m["query_s.total"] = sum(min(v) for v in r["queries"].values() if v)
    m["query_s.p50"] = stats.median(samples) if samples else 0.0
    return m


def print_split(r: dict) -> None:
    """Where a traced round's time went, jobs apart from queries."""
    for half in ("jobs", "queries"):
        h = r["split"][half]
        print(f"perfbench: traced {half}: wall {h['wall_s']:.2f}s, plan {h['spark.plan_s']:.2f}s, "
              f"execute {h['spark.execute_s']:.2f}s, busy {h['spark.task_busy_frac']:.2f}, "
              f"{h['spark.jobs']:.0f} jobs, {h['spark.tasks']:.0f} tasks, "
              f"shuffle write {h['spark.shuffle_write_bytes'] / 1e6:.2f} MB, "
              f"scan {h['spark.scan_bytes'] / 1e6:.2f} MB"
              + (f", build {h['queries.build_s']:.2f}s" if half == "queries" else ""), file=sys.stderr)
    p = r["split"]["prefixes"]
    print("perfbench: traced prefixes " + ", ".join(f"{k} {v:.2f}s" for k, v in sorted(p.items())),
          file=sys.stderr)


def declared(kind: str) -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((Path.cwd() / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def main() -> None:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = Path.cwd()
    build_dir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    cp = build(root, build_dir)
    work = build_dir / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = work / "data"
        t0 = time.monotonic()
        datagen.write(a.seed, SCALE[a.workload], data)
        t1 = time.monotonic()
        r = run_jvm(cp, [a.workload, a.seed, a.seconds, a.trace, data, work], work, jvm_timeout(a.seconds))
        t2 = time.monotonic()
        query_problems = check_queries(data, work / "results", r["queries"].keys())
        r["phases"].update({"datagen": t1 - t0, "jvm": t2 - t1, "oracle": time.monotonic() - t2})
        for name, msg in list(r["query_errors"].items()) + list(query_problems.items()):
            print(f"perfbench: query {name}: {msg}", file=sys.stderr)
        for ml, probs in r["job_problems"].items():
            for p in probs:
                print(f"perfbench: job {ml}: {p}", file=sys.stderr)
        if a.trace:
            traces = build_dir.parent / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(work / "spans.json", traces / f"{a.workload}-seed{a.seed}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("perfbench: phases " + ", ".join(f"{k} {v:.1f}s" for k, v in r["phases"].items()), file=sys.stderr)
    print("perfbench: query medians " + ", ".join(
        f"{k} {stats.median(v):.2f}s" for k, v in sorted(r["queries"].items()) if v), file=sys.stderr)
    if a.trace:
        print_split(r)
    # a job or query that threw is one failed attempt more; one whose
    # output is wrong is one failure among its attempts
    failed_queries = set(r["query_errors"]) | set(query_problems)
    attempted = (sum(len(v) for v in r["jobs"].values()) + sum(len(v) for v in r["queries"].values())
                 + r["job_errors"] + len(r["query_errors"]))
    failed = r["job_failed"] + len(failed_queries)
    attempted = max(attempted, failed, 1)
    print(f"perfbench: failed_frac {failed / attempted:.4f} ({failed} of {attempted})", file=sys.stderr)
    values = {**r["per_layer"], **tail_and_heap(r)} if a.trace else end_to_end(r)
    units = declared("per_layer" if a.trace else "end_to_end")
    if set(values) != set(units):
        fail(f"metrics {sorted(set(values) ^ set(units))} differ from BENCHMARK.json")
    metrics = {k: metric(values[k], unit) for k, unit in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
