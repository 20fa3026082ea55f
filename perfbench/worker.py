"""One benchmark run of one workload, in a fresh process.

Started by ``run.py``, which builds the inputs first. The run sets up
(registry import, ``session.get_spark``, the flagship warm-up of
``bench.py``), runs the untimed warm-up passes, then the timed passes of
the closed single-client loop. Each op is timed alone; its output is
checked after its timer stops, and between ops ``del df; gc.collect();
System.gc()`` runs off the clock. The run writes its numbers as JSON to
``--out``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]

import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from tracing import NullTracer, Tracer  # noqa: E402

from dask_lambda_example_spark import io  # noqa: E402
from dask_lambda_example_spark.registry import (  # noqa: E402
    QUERIES,
    _ensure_loaded,
)
from dask_lambda_example_spark.sources.producer import (  # noqa: E402
    PARTITION_COLS,
)
from dask_lambda_example_spark.sources.synthetic import (  # noqa: E402
    timeseries,
)
from dask_lambda_example_spark.streaming.pipeline import (  # noqa: E402
    producer_counts_stream,
)

ROWS_PER_DAY = 86_400


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


class Run:
    def __init__(self, spark, tracer: Tracer | None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.slots = self.sc.defaultParallelism
        self.samples: list[dict] = []  # one per timed op
        self.failures: list[str] = []
        self.warmup_failures: list[str] = []
        self.hygiene_s = 0.0

    def hygiene(self) -> None:
        t = time.perf_counter()
        gc.collect()
        self.sc._jvm.System.gc()
        self.hygiene_s += time.perf_counter() - t

    def run_op(self, key: str, body, traced: bool, timed: bool) -> None:
        """Time ``body`` alone; check and trace after the timer stops."""
        tr = self.tracer if traced else NullTracer()
        out = {"key": key, "traced": traced}
        error = None
        t = time.perf_counter()
        try:
            with tr.op(key):
                check = body(tr, out)
            out["latency_s"] = time.perf_counter() - t
            error = check()
        except Exception as exc:  # a failed op is counted, never fatal
            out["latency_s"] = time.perf_counter() - t
            error = f"{type(exc).__name__}: {exc}"
            traceback.print_exc()
        if error is None and traced:
            root = next(s for s in reversed(self.tracer.spans)
                        if s["name"] == "op")
            out["layers"] = self.tracer.op_layers(
                root, self.slots, out.pop("result_df", None))
        out.pop("result_df", None)
        out["ok"] = error is None
        if error is not None:
            print(f"perfbench: {key} failed: {error}", file=sys.stderr)
            (self.failures if timed else self.warmup_failures).append(key)
        if timed:
            self.samples.append(out)
        self.hygiene()


class QueryRun(Run):
    """``relational_short``: one op builds a registered query and
    collects it."""

    def __init__(self, spark, tracer, answers: dict, sf_dir: str):
        super().__init__(spark, tracer)
        self.answers = answers
        self.sf_dir = sf_dir
        self.table_re = re.compile(re.escape(sf_dir) + r"/(\w+)\.parquet")
        self.input_rows: dict[str, int] = {}

    def _read_rows(self, name: str, df) -> None:
        """Input rows of a query: footer row counts of the tables its
        executed plan scans, each table once."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        self.input_rows[name] = sum(
            io.parquet_rowcount(self.sf_dir, t)
            for t in set(self.table_re.findall(plan)))

    @staticmethod
    def index(name: str) -> int:
        return workloads.RELATIONAL_QUERIES.index(name)

    def op(self, name: str, traced: bool, timed: bool) -> None:
        spec = QUERIES[name]

        def body(tr, out):
            with tr.span("build"):
                df = spec.fn(self.spark, self.sf_dir)
            out["module"] = spec.fn.__module__
            with tr.span("action"):
                rows = df.collect()
            out["result_df"] = df
            out["rows"] = len(rows)

            def check():
                if name not in self.input_rows:
                    self._read_rows(name, df)
                out["input_rows"] = self.input_rows[name]
                return oracle.match(self.answers[name], df.columns, rows)
            return check

        self.run_op(name, body, traced, timed)

    def passes(self, seed: int, n: int):
        return workloads.query_passes(seed, n)


class EventRun(Run):
    """``event_flagship``: one op is one producer event end to end."""

    def __init__(self, spark, tracer, work: str,
                 flagship: oracle.FlagshipOracle):
        super().__init__(spark, tracer)
        self.flagship = flagship
        self.data = os.path.join(work, "producer")
        self.ckpt = os.path.join(work, "consumer_ckpt")
        os.makedirs(self.data)
        self.schema = "count bigint, " + ", ".join(
            f"{c} int" for c in PARTITION_COLS)
        self.picked: list[int] = []
        self.stream = None

    def _sink(self, batch_df, batch_id) -> None:
        self.picked.extend(r["count"] for r in batch_df.collect())

    def op(self, ev: workloads.Event, traced: bool, timed: bool) -> None:
        def body(tr, out):
            with tr.span("write"):
                rec = self.spark.createDataFrame(
                    [(ev.count, *workloads.producer_partition(
                        ev.producer_id))], self.schema)
                io.write_hive_partitioned_json(rec, self.data, PARTITION_COLS)
            if self.stream is None:
                # the file source fixes its partition columns when defined,
                # so the consumer is defined once the first key exists
                self.stream = producer_counts_stream(self.spark, self.data)
            before = len(self.picked)
            with tr.span("trigger") as s:
                q = (self.stream.writeStream.foreachBatch(self._sink)
                     .option("checkpointLocation", self.ckpt)
                     .trigger(availableNow=True).start())
                q.awaitTermination()
            got = self.picked[before:]
            if len(got) != 1:
                raise RuntimeError(f"stream delivered {got}, "
                                   f"expected [{ev.count}]")
            days = got[0]
            with tr.span("compute"):
                df = (timeseries(self.spark, n_days=days)
                      .groupBy("name").agg(F.avg("y").alias("y"))
                      .agg(F.stddev_samp("y").alias("y_std")))
                rows = df.collect()
            out["result_df"] = df
            out["rows"] = len(rows)
            out["input_rows"] = days * ROWS_PER_DAY
            if s is not None:  # stream jobs run under the run id's job group
                s["groups"].append(str(q.runId))
                out["stream"] = [p["durationMs"] for p in q.recentProgress]

            def check():
                if days != ev.count:
                    return f"picked count {days} != written {ev.count}"
                return oracle.match(self.flagship.answer(days), df.columns,
                                    rows)
            return check

        self.run_op(f"stratum{ev.stratum}", body, traced, timed)

    def passes(self, seed: int, n: int):
        return workloads.event_passes(seed, n)

    @staticmethod
    def index(ev: workloads.Event) -> int:
        return ev.stratum


def layer_metrics(samples: list[dict]) -> dict[str, float]:
    """Per-op means of the traced ops' layer numbers."""
    traced = [s for s in samples if s["traced"] and s["ok"]]
    n = max(1, len(traced))
    sums: dict[str, float] = {}
    for s in traced:
        for k, v in s["layers"].items():
            sums[k] = sums.get(k, 0.0) + v
        sums["result.rows"] = sums.get("result.rows", 0.0) + s["rows"]
        prog = s.get("stream", [])
        for src, dst in (("addBatch", "stream.add_batch_ms"),
                         ("walCommit", "stream.wal_commit_ms"),
                         ("commitOffsets", "stream.commit_offsets_ms")):
            sums[dst] = sums.get(dst, 0.0) + sum(p.get(src, 0) for p in prog)
        mod = s.get("module")
        if mod:
            key = "build_s.by_module." + mod.removeprefix(
                "dask_lambda_example_spark.")
            sums[key] = sums.get(key, 0.0) + s["layers"].get(
                "span.build_s", 0.0)
    out = {k: v / n for k, v in sums.items()}
    renames = {"span.build_s": "registry.build_s",
               "span.load_table_s": "io.load_table_s",
               "span.write_s": "io.write_s",
               "span.trigger_s": "stream.trigger_s",
               "span.compute_s": "flagship.compute_s"}
    for old, new in renames.items():
        out[new] = out.pop(old, 0.0)
    out.pop("span.action_s", None)
    run = out.get("exec.run_s", 0.0)
    out["exec.cpu_ratio"] = out.get("exec.cpu_s", 0.0) / run if run else 0.0
    out["synthetic.rows"] = (
        sum(s["input_rows"] for s in traced if "stream" in s) / n)
    return out


def overhead_ratio(samples: list[dict]) -> float:
    """Median over op keys of traced / untraced latency, minus one."""
    ratios = []
    for key in {s["key"] for s in samples}:
        t = [s["latency_s"] for s in samples if s["key"] == key
             and s["ok"] and s["traced"]]
        u = [s["latency_s"] for s in samples if s["key"] == key
             and s["ok"] and not s["traced"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return statistics.median(ratios) - 1.0 if ratios else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--oracle", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="time.monotonic() when the process was spawned")
    args = ap.parse_args()

    _ensure_loaded()
    t = time.monotonic()
    from pyspark import SparkContext

    from dask_lambda_example_spark.session import get_spark

    spark = get_spark("perfbench")
    t_spark = time.monotonic()
    QUERIES["flagship_groupby_mean_std"].fn(spark, args.sf_dir).collect()
    t_warm = time.monotonic()
    jvm = SparkContext._gateway.proc

    with open(args.oracle) as f:
        cache = json.load(f)
    tracer = Tracer(spark, time.perf_counter()) if args.trace else None
    if tracer:
        tracer.install()
    if args.workload == "event_flagship":
        run: Run = EventRun(spark, tracer, args.work, oracle.FlagshipOracle(
            cache["flagship_day_sums"]))
    else:
        run = QueryRun(spark, tracer, cache["queries"], args.sf_dir)
    n_pass = workloads.pass_count(args.workload, args.seconds)
    warm, timed = run.passes(args.seed, n_pass)

    t_pass = time.monotonic()
    for p, ops in enumerate(warm):
        for op in ops:
            run.op(op, traced=False, timed=False)
        if p == 0:
            t_cold = time.monotonic()
    t_first = time.monotonic()
    for p, ops in enumerate(timed):
        for op in ops:  # a traced run traces each op key in every other pass
            traced = bool(args.trace) and (run.index(op) + p) % 2 == 1
            run.op(op, traced=traced, timed=True)

    t_end = time.monotonic()
    mem_jvm, mem_py = vm_hwm_mb(jvm.pid), vm_hwm_mb()
    if tracer:
        tracer.uninstall()
        tracer.write_spans(args.spans)
    spark.stop()
    SparkContext._gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits on end of input
    jvm.wait(timeout=60)
    print(f"perfbench: timed passes {t_end - t_first:.1f} s, hygiene "
          f"{run.hygiene_s:.1f} s, teardown {time.monotonic() - t_end:.1f} s",
          file=sys.stderr)

    ok = [s for s in run.samples if s["ok"]] or run.samples
    lat = [s["latency_s"] for s in ok]
    busy = sum(lat)
    tail_v, tail_p, beyond = stats.tail(lat)
    result = {
        "attempted": len(run.samples),
        "failed": len(run.failures),
        "warmup_failed": len(run.warmup_failures),
        "tail_percentile": tail_p, "tail_beyond": beyond,
        "samples": len(lat),
        "latency_by_key": {k: [round(s["latency_s"], 4) for s in run.samples
                               if s["key"] == k]
                           for k in sorted({s["key"] for s in run.samples})},
        "end_to_end": {
            "setup_s": t_first - args.t0,
            "ops_per_s": len(lat) / busy,
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": tail_v,
            "rows_per_s": sum(s.get("input_rows", 0) for s in ok) / busy,
            "rss_peak_mb": mem_jvm + mem_py,
        },
    }
    if args.trace:
        layers = layer_metrics(run.samples)
        layers.update({
            "mem.jvm_rss_peak_mb": mem_jvm,
            "mem.py_rss_peak_mb": mem_py,
            "session.get_spark_s": t_spark - t,
            "session.warmup_s": t_warm - t_spark,
            "warmup.pass_s": t_cold - t_pass,
            "trace.overhead_ratio": overhead_ratio(run.samples),
        })
        result["per_layer"] = layers
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
