"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the repository root. The first run in a checkout builds the
inputs under ``perfbench/.cache``: the sf0.1 tables from
``datagen.py`` and the oracle answers of every op (DuckDB). Each run
then starts a fresh worker process (``worker.py``) that sets up Spark on
``local[<cpus>]`` and runs the workload. Standard output ends with one
JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it names every metric with its unit, the
failed-op ratio and the tail percentile. Spans of a traced run go to
``perfbench/out``. Exits non-zero, printing no result, if the program or
its inputs are missing.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
BUILD = os.path.join(CACHE, "inputs-v1")
WORKER_TIMEOUT_S = 160.0
DRIVER_MEM = "2g"


def build_inputs() -> tuple[str, str]:
    """Generate the tables and oracle answers once per checkout."""
    import datagen
    import oracle
    import workloads
    from dask_lambda_example_spark.registry import QUERIES, _ensure_loaded

    sf_dir = os.path.join(BUILD, "sf0.1")
    answers = os.path.join(BUILD, "oracle.json")
    os.makedirs(CACHE, exist_ok=True)
    with open(os.path.join(CACHE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(answers):
            with open(answers) as f:
                if set(workloads.RELATIONAL_QUERIES) <= set(
                        json.load(f)["queries"]):
                    return sf_dir, answers
        tmp = BUILD + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t = time.monotonic()
        datagen.write_tables(os.path.join(tmp, "sf0.1"), workloads.SF)
        _ensure_loaded()
        sql = {n: QUERIES[n].oracle for n in workloads.RELATIONAL_QUERIES}
        cache = {
            "queries": oracle.duckdb_answers(os.path.join(tmp, "sf0.1"), sql),
            "flagship_day_sums": oracle.flagship_day_sums(),
        }
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump(cache, f)
        shutil.rmtree(BUILD, ignore_errors=True)
        os.rename(tmp, BUILD)
        print(f"perfbench: built inputs in {time.monotonic() - t:.1f} s",
              file=sys.stderr)
    return sf_dir, answers


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the worker's process group (worker, JVM, Python workers)
    and wait until none of its processes is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_worker(args, sf_dir: str, answers: str, work: str,
               deadline: float) -> dict:
    cpus = str(len(os.sched_getaffinity(0)))
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=cpus, SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               SPARK_GRAFT_LOCAL_DIR=local, SPARK_LOCAL_DIRS=local,
               SPARK_GRAFT_SF_DIR=sf_dir, TMPDIR=tmp,
               # every JVM keeps its temp files, perf data included, in tmp
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    spans = os.path.join(HERE, "out",
                         f"spans_{args.workload}_seed{args.seed}.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--sf-dir", sf_dir, "--oracle", answers, "--work", work,
           "--out", out, "--spans", spans, "--t0", repr(time.monotonic())]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _kill_group(proc)
    if code != 0:
        raise RuntimeError(f"worker exited with {code}")
    with open(out) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads
        import dask_lambda_example_spark.registry  # noqa: F401
        import tests.oracle_check  # noqa: F401
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (ImportError, OSError) as exc:
        print(f"perfbench: program not found: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.NOMINAL_PASS_S:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2

    sf_dir, answers = build_inputs()
    work = os.path.join(CACHE, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_worker(args, sf_dir, answers, work,
                         time.monotonic() + WORKER_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for key, lat in res["latency_by_key"].items():
        print(f"perfbench: {key} latency_s {lat}", file=sys.stderr)
    kind = "per_layer" if args.trace else "end_to_end"
    values = res[kind]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in spec[kind]}
    ratio = res["failed"] / res["attempted"]
    shown = " ".join(f"{k}={v['value']:.6g} {v['unit']}"
                     for k, v in metrics.items())
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{shown} failed_ratio={ratio:.4g} "
          f"(failed {res['failed']} of {res['attempted']}, warm-up failed "
          f"{res['warmup_failed']}) latency_tail_s is "
          f"p{res['tail_percentile']:.1f} of {res['samples']} samples, "
          f"{res['tail_beyond']} beyond")
    print(json.dumps({
        "correct": res["failed"] == 0 and res["warmup_failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
