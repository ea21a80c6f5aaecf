#!/usr/bin/env python3
"""Benchmark entry point: build the program from source, generate one
workload's inputs from the seed, run them in one JVM, check the outputs and
print one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Everything it writes goes under .bench_build/
(compiled classes, reused while the sources are unchanged) and .bench_run/
(inputs, Spark scratch, trace spans).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

HEAP = "2g"
# seconds a run may take beyond --seconds once the program is built
RUN_SLACK_S = 150
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def fail(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def sources(root: str) -> list:
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no program sources under src/main/scala: run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))


def spark_jars(root: str) -> str:
    """Spark's jar directory: $SPARK_HOME/jars, else the one build.sbt
    compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    if not os.path.exists(sbt):
        fail("no build.sbt: run from the repository root")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        fail("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def build(root: str, jars: str, deadline: float) -> str:
    """Compile the program and the harness with Spark's own Scala compiler;
    the classes are reused while no source changes."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, "perfbench-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    for old in glob.glob(os.path.join(base, "perfbench-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = f"{jars}/*"
    run([
        "java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
        "-cp", cp, "scala.tools.nsc.Main",
        "-usejavacp", "-nowarn", "-d", classes, "@" + argfile], deadline, "compile", out)
    run(["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={out}", "-cp", f"{classes}:{cp}",
         "perfbench.OracleDump",
         os.path.join(out, "oracle.json")], deadline, "oracle dump", out)
    open(os.path.join(out, "ok"), "w").close()
    return out


def run(cmd: list, deadline: float, what: str, cwd: str) -> None:
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=cwd,
                           timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail(f"{what} timed out")
    if r.returncode != 0:
        fail(f"{what} failed with exit code {r.returncode}")


def write_home(src: str, home: str, datasources: dict) -> None:
    shutil.copytree(os.path.join(HERE, "homes", src), home)
    with open(os.path.join(home, "datasource.yml"), "w") as f:
        for name, conf in datasources.items():
            f.write(f"{name}:\n" + "".join(f"  {k}: {v}\n" for k, v in conf.items()))


def oracle_counts(oracle_file: str, fixture: str, scratch: str) -> dict:
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute(f"SET temp_directory='{scratch}'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    with open(oracle_file) as f:
        oracle = json.load(f)
    return {q: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for q, sql in sorted(oracle.items())}


def make_inputs(workload: str, seed: int, inputs: str, work: str, build_dir: str) -> dict:
    spark_ds = {"type": "spark", "schema": "default"}
    if workload == "etl_jobnet":
        meta = gen.etl_inputs(seed, inputs)
        write_home("etl_jobnet", os.path.join(inputs, "home"), {
            "sql": spark_ds, "fs": {"type": "fs", "base": "/"},
            "queuefs": {"type": "fs", "base": work}})
    elif workload == "queue_ingest":
        meta = gen.queue_inputs(seed, inputs)
        write_home("queue_ingest", os.path.join(inputs, "home"), {
            "sql": spark_ds, "queuefs": {"type": "fs", "base": os.path.join(work, "qroot")}})
    else:
        fixture = os.path.join(inputs, "fixture")
        meta = gen.fixture_tables(seed, fixture)
        counts = oracle_counts(os.path.join(build_dir, "oracle.json"), fixture,
                               os.path.join(work, "tmp"))
        with open(os.path.join(inputs, "expected_counts.json"), "w") as f:
            json.dump(counts, f)
    with open(os.path.join(inputs, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def tail(values: list) -> tuple:
    """The highest percentile with at least ten samples above it."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    launch = time.time()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")

    jars = spark_jars(root)
    build_dir = build(root, jars, launch + 900)
    deadline = time.time() + RUN_SLACK_S + args.seconds

    run_dir = os.path.join(root, ".bench_run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    os.makedirs(inputs)
    os.makedirs(os.path.join(work, "tmp"))
    t_gen = time.time()
    make_inputs(args.workload, args.seed, inputs, work, build_dir)
    gen_s = time.time() - t_gen

    cores = len(os.sched_getaffinity(0))
    result_file = os.path.join(run_dir, "result.json")
    cmd = ["java"] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
        "-cp", f"{build_dir}/classes:{jars}/*", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--inputs", inputs, "--work", work, "--out", result_file]
    env = dict(os.environ, SPARK_GRAFT_TMPROOT=os.path.join(work, "tmp"))
    t_launch = time.time()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env, cwd=work)
    status, rusage = None, None
    while status is None:
        pid, st, ru = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            status, rusage = st, ru
        elif time.time() > deadline:
            proc.kill()
            os.wait4(proc.pid, 0)
            fail("benchmark JVM exceeded its time limit")
        else:
            time.sleep(0.05)
    if os.waitstatus_to_exitcode(status) != 0 or not os.path.exists(result_file):
        fail(f"benchmark JVM failed (exit {os.waitstatus_to_exitcode(status)})")
    with open(result_file) as f:
        res = json.load(f)

    units = res["units"]
    everything = res["warmup"] + units
    ok = [u for u in units if u["ok"]]
    if not ok:
        fail("no unit passed its output checks")
    attempted = sum(u["attempted"] for u in everything)
    failed = sum(u["failed"] for u in everything)
    correct = failed == 0 and all(u["ok"] for u in everything)
    ops = [x for u in ok for x in u["ops"]]
    op_tail, op_tail_pct = tail(ops)
    setup = {
        "setup.inputs_s": gen_s,
        "setup.jvm_session_s": res["session_ready_ms"] / 1000.0 - t_launch,
        "setup.prepare_s": statistics.median(res["prepare_s"]),
        "setup.warmup_s": res["warmup_s"],
    }
    values = {
        "setup_s": sum(setup.values()),
        "makespan_s": statistics.median(u["wall_s"] for u in ok),
        "op_p50_s": statistics.median(statistics.median(u["ops"]) for u in ok),
        "op_tail_s": op_tail,
        "cpu_s": statistics.median(u["cpu_s"] for u in ok),
        "peak_rss_mb": rusage.ru_maxrss / 1024.0,
    }
    if args.trace:
        traced = [u for u in ok if u["traced"]]
        plain = [u for u in ok if not u["traced"]]
        values = dict(setup)
        values.update({
            "error_rate": failed / attempted,
            "op_samples": len(ops),
            "op_tail_pct": op_tail_pct,
            "heap_mb": res["heap_mb"],
            "trace.overhead_ratio":
                statistics.median(u["wall_s"] for u in traced)
                / statistics.median(u["wall_s"] for u in plain) - 1.0,
        })
        for m in spec["per_layer"]:
            if m["name"] not in values:
                values[m["name"]] = statistics.median(
                    u["layers"].get(m["name"], 0.0) for u in traced)
        metrics = spec["per_layer"]
        print(f"[perfbench] spans: {res['trace_file']}", file=sys.stderr)
    else:
        metrics = spec["end_to_end"]
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metrics}}))


if __name__ == "__main__":
    main()
