#!/usr/bin/env python3
"""Benchmark entry point (see BENCHMARK.json at the repository root).

Usage, from the repository root:
  python3 perfbench/run.py --workload <cycle|queries>
      --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (perfbench/build.py),
generates the workload's inputs from the seed, runs the JVM harness
(perfbench/src/graft/perfbench/Harness.scala) for the given number of
seconds, checks the outputs, and prints two lines: a load gauge (nproc,
loadavg, the share of CPU time the hypervisor stole in the timed region,
the process CPU time per pass, Xmx, the Spark conf, the commit), then
the result object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from the span trace. Exits 1 when an output is wrong.

Workloads:
  cycle       ScrapePipeline.runCycle over seeded URE/Trulia pages at the
              reference's scale, then AgentPipeline and the CSV/state
              sinks; event counts are checked against the planted ones.
  queries     six registry bench queries (scan/join/window, iterative
              graph, text/dedup), each pass from a cleared session;
              traced runs also run the two artifact-backed ones with
              persisted artifacts attached. Results are checked against
              their DuckDB oracle SQL.

Everything a run writes stays under the build directory
($CARGO_TARGET_DIR, default .bench_build) and is deleted at exit, except
the span trace of the last traced run of each workload.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("cycle", "queries")
HEAP = "3g"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def declared_metrics(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def source_stamp(root):
    """The commit when the tree is a git checkout, else the source hash."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


T0 = time.perf_counter()


def phase(msg):
    sys.stderr.write(f"[perfbench] {time.perf_counter() - T0:7.2f}s {msg}\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    build_root = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    bench_dir = os.path.join(build_root, "perfbench")
    os.makedirs(bench_dir, exist_ok=True)
    classes, src_hash = build.build(root, bench_dir)
    phase("built")
    expected = declared_metrics(root, a.trace)

    work = os.path.join(bench_dir, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work, d))
    try:
        gen_flags = []
        if a.workload != "cycle":
            t0 = time.perf_counter()
            gen.write(os.path.join(work, "data"), a.seed)
            gen_flags = [f"-Dperfbench.gen_s={time.perf_counter() - t0}"]
        phase("inputs generated")
        result_path = os.path.join(work, "result.json")
        cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + gen_flags
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graft.perfbench.Harness", a.workload, str(a.seed),
                str(a.seconds), str(a.trace), os.path.join(work, "data"), work, result_path]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   TMPDIR=os.path.join(work, "tmp"))
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:  # also when this process is interrupted or terminated
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise RuntimeError(f"harness exited with {rc}")
        with open(log_path) as fh:
            sys.stderr.writelines(l for l in fh if l.startswith("[perfbench]"))
        with open(result_path) as fh:
            res = json.load(fh)
        phase("harness done")

        failed = res["failed"]
        checks = list(res["checks"])
        if res["oracle"]:
            import oracle
            verdicts = oracle.compare(os.path.join(work, "data"), res["oracle"],
                                      os.path.join(work, "tmp"))
            for step, why in verdicts.items():
                if why is not None:
                    failed += res["oracle"][step]["executions"]
                    checks.append(f"{step}: {why}")
            phase("oracle compared")
        failed = min(failed, res["attempted"])
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in res["metrics"].items()}
        if set(metrics) != set(expected) or any(metrics[k]["unit"] != u for k, u in expected.items()):
            raise RuntimeError("harness metrics do not match BENCHMARK.json: "
                               f"missing {sorted(set(expected) - set(metrics))}, "
                               f"extra {sorted(set(metrics) - set(expected))}")
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(bench_dir, f"spans-{a.workload}.jsonl"))
        gauge = dict(res["gauge"], workload=a.workload, seed=a.seed, trace=a.trace,
                     commit=source_stamp(root), source_sha256=src_hash,
                     input_scale=gen.SCALE if a.workload != "cycle" else None,
                     checks=checks)
        print(json.dumps({"gauge": gauge}))
        correct = failed == 0 and not checks
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # a terminated run unwinds like an interrupted one: the JVM is killed
    # and waited for, and the work dir is deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as e:  # no result line on a failed run
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
