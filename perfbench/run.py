#!/usr/bin/env python3
"""Benchmark front end: builds the program and the benchmark when their
sources changed, makes the seeded inputs, runs one workload in a fresh JVM,
checks every output and prints one JSON result line.

    python3 perfbench/run.py --workload corpus_churn --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --rebuild-oracles

Run from anywhere; all state goes under `.bench_build/` at the repository
root. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SPARK_JARS = Path("/opt/spark/jars")
DEFAULT_DATA = "/root/testdata/sf0.1"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
WORKLOADS = ("etl_files", "corpus_churn")
# the JVM's share of a run's 180 s, counted from the end of the build
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 850

sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import corpusgen  # noqa: E402
import etlgen  # noqa: E402


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change makes the compiled classes stale."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(hashlib.sha256(f.read_bytes()).digest())
    return h.hexdigest()


def class_dirs():
    return [ROOT / "target" / "scala-2.13" / "classes",
            HERE / "target" / "scala-2.13" / "classes"]


def build():
    """Compile the program and the benchmark, only when stale."""
    stamp = BUILD / "build.stamp"
    fp = fingerprint()
    if (stamp.exists() and stamp.read_text() == fp
            and all(d.is_dir() for d in class_dirs())):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (
            "-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log = BUILD / "logs" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile"],
                       cwd=HERE, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}", 1)
    stamp.write_text(fp)


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout and
    wait until it has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def heap_size():
    """-Xms/-Xmx from the machine's memory: a quarter, within 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        gb = kb // (4 * 1024 * 1024)
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{min(8, max(2, gb))}g"


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def java_cmd(work, args):
    heap = heap_size()
    cp = [str(d) for d in class_dirs()] + [
        str(ROOT / "src" / "main" / "resources"), str(SPARK_JARS / "*")]
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.stream.error.file={work / 'derby.log'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def fresh_dirs(work, out):
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out.mkdir(parents=True)


def run_jvm(name, work, out, args, timeout):
    log = BUILD / "logs" / f"{name}.jvm.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as f:
        rc = run_child(java_cmd(work, dict(args, work=work, out=out)),
                       cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                       timeout=timeout)
    if rc != 0:
        fail(f"{name}: JVM exited {rc}; see {log}", 1)


def data_dir():
    d = Path(os.environ.get("PERFBENCH_DATA", DEFAULT_DATA))
    missing = [t for t in TABLES if not (d / f"{t}.parquet").is_file()]
    if missing:
        fail(f"input tables missing under {d}: {missing}")
    return d


def check_layout():
    for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala"):
        if not p.exists():
            fail(f"{p.relative_to(ROOT)} not found: run from a checkout of "
                 "the program")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    if not SPARK_JARS.is_dir():
        fail(f"{SPARK_JARS} not found")


def load_metric_names():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def bench(a):
    check_layout()
    data = data_dir()
    BUILD.mkdir(exist_ok=True)
    build()
    t_start = time.time()
    work, out = BUILD / "work", BUILD / "out"
    e2e_spec, layer_spec = load_metric_names()
    fresh_dirs(work, out)
    truth = None
    if a.workload == "etl_files":
        truth = etlgen.generate(work / "etl", a.seed)
    elif a.workload == "corpus_churn":
        truth = corpusgen.generate(work / "corpus", data, a.seed)
    jvm_args = {"workload": a.workload, "seconds": a.seconds,
                "trace": a.trace, "data": data}
    launch = time.time()
    timeout = JVM_TIMEOUT_S - (launch - t_start)
    try:
        run_jvm(a.workload, work, out, jvm_args, timeout)
    except subprocess.TimeoutExpired:
        fail(f"{a.workload}: JVM did not finish in {timeout:.0f} s", 1)
    t_jvm = time.time()
    res = json.loads((out / "result.json").read_text())

    problems = checks.check(a.workload, res, out, work, data, truth,
                            HERE / "oracles")
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(f"perfbench: jvm {t_jvm - launch:.1f} s, checks "
          f"{time.time() - t_jvm:.1f} s", file=sys.stderr)

    e2e = {"setup_s": res["setup_done_ms"] / 1000.0 - launch,
           "cold_pass_s": res["cold_pass_s"],
           "warm_pass_s": statistics.median(res["warm_pass_s"]),
           "heap_live_mb": res["heap_live_mb"]}
    if a.trace:
        metrics = {m["name"]: {"value": float(res["per_layer"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in layer_spec}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in e2e_spec}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def rebuild_oracles():
    """Recompute every cached oracle answer with DuckDB."""
    check_layout()
    data = data_dir()
    BUILD.mkdir(exist_ok=True)
    build()
    work, out = BUILD / "work", BUILD / "oracle_sql"
    fresh_dirs(work, out)
    names = checks.CHECKED_QUERIES
    run_jvm("oracle_sql", work, out,
            {"mode": "oracle-sql", "queries": ",".join(names)}, 120)
    sqls = json.loads((out / "oracle_sql.json").read_text())
    checks.rebuild_cache(sqls, data, HERE / "oracles")


def main():
    # a terminated front end takes its JVM or sbt child down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rebuild-oracles", action="store_true")
    a = ap.parse_args()
    if a.rebuild_oracles:
        rebuild_oracles()
    elif a.workload is None:
        ap.error("--workload is required")
    else:
        bench(a)


if __name__ == "__main__":
    main()
