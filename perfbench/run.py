"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``workloads.py`` and README.md) on a local Spark
session as wide as the host (``local[nproc]``), checks every output, and
prints as the last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
from spans around the benchmark's calls into each layer and from what
Spark records at the same boundaries.

Everything the run writes goes under ``.perfbench_run/`` in the checkout
and is removed at exit; a traced run also leaves its spans in
``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

END_TO_END = ["setup_s", "latency_p50_s", "items_per_s", "rss_peak_mb"]

PER_LAYER = [
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.latest_offset_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.state_commit_ms",
    "streaming.state_rows", "streaming.state_bytes", "streaming.batches",
    "streaming.rows_per_batch", "streaming.busy_share",
    "streaming.backlog_records_max", "streaming.trigger_wait_ms",
    "streaming.lag_accounted_share", "gen.late_max_ms",
    "cdc.parse_s", "cdc.split_s", "cdc.unwrap_s", "cdc.upsert_s",
    "cdc.dlq_rows", "cdc.live_keys",
    "plan.analysis_ms", "plan.optimization_ms", "plan.physical_ms",
    "queries.jobs_per_query",
    "similarity.train_s", "similarity.train_jobs", "similarity.topk_s",
    "similarity.recall_at_10",
    "dedup.ngram_s", "dedup.ngram_pairs", "dedup.minhash_s",
    "dedup.minhash_pairs", "dedup.lsh_pair_recall", "text.metrics_s",
    "jobs.jvm", "jobs.python", "sched.job_floor_ms",
    "stage.executor_run_s", "stage.executor_cpu_s", "stage.gc_s",
    "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes", "input.bytes",
    "self.op_s", "self.queries_s", "self.cdc_s", "self.dedup_s",
    "self.similarity_s", "self.text_s", "self.streaming_s", "self.plan_s",
    "self.job_s", "trace.overhead_s", "host.nproc", "host.load1",
    "host.steal_share",
]

UNITS = {
    "setup_s": "s", "latency_p50_s": "s", "items_per_s": "1/s", "rss_peak_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name in ("spill.bytes", "input.bytes", "streaming.state_bytes"):
        return "bytes"
    if name.endswith(("_share", "recall", "recall_at_10")):
        return "ratio"
    if name == "host.load1":
        return "load"
    return "count"


class RssSampler:
    """Peak resident memory of this Python process plus the driver JVM,
    sampled from /proc every 50 ms."""

    def __init__(self, pids: list[int]) -> None:
        self.pids = pids
        self.peak = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(0.05):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def _cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _isolate(work: str, nproc: int) -> None:
    """Point every temp and spill location at the run's work dir and size
    the session to the host (before pyspark is imported)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # fixed heap and young-generation sizes: with adaptive sizing, peak RSS
    # depends on when the collector resized the heap rather than on what
    # the program keeps
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms2g -Xmn512m' pyspark-shell"
    )
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")


def _stop_spark(spark) -> None:
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    nproc = os.cpu_count() or 1
    load1 = os.getloadavg()[0]
    cpu0 = _cpu_times()
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _isolate(work, nproc)
    spark = None
    try:
        from perfbench import workloads
        from perfbench.trace import Tracer, job_floor_ms

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        t0 = time.perf_counter()
        from cdc_debezium_kafka_airflow_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer = Tracer() if args.trace else None
        ctx = workloads.Context(spark, args.seed, args.seconds, tracer, work)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        with RssSampler([os.getpid()] + ([jvm.pid] if jvm else [])) as rss:
            res = workloads.WORKLOADS[args.workload](ctx)
        # share of CPU time the hypervisor gave to other guests: on a shared
        # host, the first thing to look at when a run reads slow
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        steal_share = cpu[7] / sum(cpu)
        layer = dict.fromkeys(PER_LAYER, 0.0)
        if tracer is not None:
            layer.update(res.layer)
            layer.update(ctx.engine_metrics(res.job_ids))
            layer["sched.job_floor_ms"] = job_floor_ms(spark)
            for name in ("op", "queries", "cdc", "dedup", "similarity", "text",
                         "streaming", "plan", "job"):
                layer[f"self.{name}_s"] = tracer.self_time(name)
            layer["host.nproc"] = nproc
            layer["host.load1"] = load1
            layer["host.steal_share"] = steal_share
            trace_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        run_dir = os.path.dirname(work)
        if os.path.isdir(run_dir) and not os.listdir(run_dir):
            os.rmdir(run_dir)

    e2e = {
        "setup_s": session_s + statistics.median(res.gen_s) + res.warmup_s,
        "latency_p50_s": res.latency_p50,
        "items_per_s": res.items / res.items_s,
        "rss_peak_mb": rss.peak / 2**20,
    }
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "load1_at_start": load1,
        "steal_share": steal_share,
        "session_s": session_s, "gen_s": res.gen_s, "warmup_s": res.warmup_s,
        "samples": res.samples, "items": res.items, "items_s": res.items_s,
        **res.info,
    }
    print(json.dumps({"run_info": info}))
    metrics = (
        {k: {"value": float(layer[k]), "unit": layer_unit(k)} for k in PER_LAYER}
        if args.trace
        else {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    )
    correct = res.failed == 0
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
