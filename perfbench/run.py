#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload bdqa_loop --seed 1 --seconds 10 --trace 0

Builds the engine from source on first use (see build.py), runs the
workload in one local[N] Spark JVM (N = usable cpus), checks every output
against its committed digest, prints each metric by name with its unit and,
as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a traced run. See perfbench/README.md.

--record writes the observed digests into perfbench/expected/ instead of
checking them (used once, to commit the expected outputs).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("bdqa_loop", "graph_iterate", "quality_scan")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected")
JVM_TIMEOUT_S = 165
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(cmd, env, log, timeout):
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def merge_expected(name, entries):
    path = os.path.join(EXPECTED, name)
    cur = {}
    if os.path.exists(path):
        with open(path) as fh:
            cur = json.load(fh)
    cur.update(entries)
    os.makedirs(EXPECTED, exist_ok=True)
    with open(path, "w") as fh:
        json.dump(dict(sorted(cur.items())), fh, indent=1)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    # a terminated run still takes its JVM down (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not all(os.path.exists(os.path.join(DATA, f"{t}.parquet")) for t in
               ("lineitem", "documents", "events")):
        fail(f"fixture tables missing under {DATA}", 2)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    try:
        classes = build.build(build_dir)
    except build.BuildError as e:
        fail(str(e), 2)

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    result = os.path.join(run_dir, "result.json")
    log = os.path.join(build_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    cmd = (["java"] + [x for p in OPENS for x in
                       ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx4g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            # a fixed set of JIT compiler threads, whose cpu time the
            # driver reads from /proc and waits on (see PerfBench.quiesce)
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={local}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(run_dir, 'hadoop')}",
            "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}",
            "perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--expected", EXPECTED, "--out", result] +
           (["--record"] if a.record else []))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    try:
        rc = run_jvm(cmd, env, log, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(result):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-3000:])
            fail("timed out" if rc is None else f"JVM exited with {rc}, see {log}")
        with open(result) as fh:
            r = json.load(fh)
        spans = result.replace(".json", ".spans.json")
        if os.path.exists(spans):
            dump = os.path.join(build_dir, f"{a.workload}-seed{a.seed}.spans.json")
            shutil.move(spans, dump)
            r["host"]["span_dump"] = os.path.relpath(dump)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.record:
        if a.workload == "bdqa_loop":
            merge_expected("bdqa_loop.json",
                           {f"seed{a.seed}": r["digests"]["active_sampling"]})
        else:
            merge_expected("registry.json", r["digests"])

    for k, v in r["host"].items():
        print(f"# {k}: {v}")
    for f in r["failures"]:
        print(f"# FAIL {f}")
    for k, m in r["metrics"].items():
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}")
    for k, m in r["wall"].items():
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']} (wall clock)")
    print(f"{a.workload} fail_frac = {r['failed'] / r['attempted']:.6g} ratio "
          f"({r['failed']} of {r['attempted']} operations)")
    ok = r["failed"] == 0
    if a.trace == 1:
        ok = ok and r["metrics"]["trace.unbalanced_passes"]["value"] == 0
    print(json.dumps({"correct": ok, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": r["metrics"]}))


if __name__ == "__main__":
    main()
