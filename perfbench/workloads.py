"""The two workloads. Each builds its inputs from the seed, warms up,
measures for ``seconds`` and checks its outputs against a reference that
does not use the code under test (DuckDB or numpy).

Every workload returns a ``Result``: its median op latency and sample
count, the items per second, the set-up pieces, the correctness
counts and, when traced, its per-layer figures.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from datetime import datetime

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cdc_debezium_kafka_airflow_spark.operators.cdc import (
    parse_envelope,
    split_dlq,
    unwrap,
    upsert_materialize,
)
from cdc_debezium_kafka_airflow_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from cdc_debezium_kafka_airflow_spark.operators.similarity import (
    clear_model_memos,
    ivf_topk,
    train_ivf_centroids,
)
from cdc_debezium_kafka_airflow_spark.operators.text import text_metrics
from perfbench import gen
from perfbench.trace import (
    Tracer,
    add_plan_spans,
    job_stage_metrics,
    job_start,
    jobs_in_group,
    register_plan_listener,
)
from perfbench.writer import write_part

#: input generation is repeated this many times; set-up counts the median
GEN_REPEATS = 3

CHANGELOG_SCHEMA = (
    "offset long, topic string, partition int, key string, value string, "
    "timestamp timestamp"
)


@dataclass
class Result:
    gen_s: list[float]
    warmup_s: float
    latency_p50: float
    samples: int
    items: float
    items_s: float
    attempted: int
    failed: int
    job_ids: list[int] = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)


class Context:
    def __init__(self, spark, seed: int, seconds: float, tracer: Tracer | None, work: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.listener = register_plan_listener(spark) if tracer is not None else None
        self.traced = tracer is not None

    def rng(self, salt: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, salt])

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str, trace_id):
        return self.tracer.span(name, trace_id) if self.traced else nullcontext()

    @contextmanager
    def untraced(self):
        """Run a block with spans and the plan listener off (warm-up, and
        the untraced half of a traced run's ops)."""
        if not self.traced:
            yield
            return
        manager = self.spark._jsparkSession.listenerManager()
        self.flush_listeners()
        manager.unregister(self.listener)
        self.traced = False
        try:
            yield
        finally:
            self.traced = True
            manager.register(self.listener)

    def alternate(self, i: int):
        """In a traced run, trace every other op so that traced minus
        untraced op latency gives the tracing overhead."""
        return self.untraced() if self.tracer is not None and i % 2 else nullcontext()

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def generate(self, make) -> tuple[object, list[float]]:
        """Run the input generator ``GEN_REPEATS`` times; the same seed
        rebuilds the same inputs, so the last result is kept."""
        times = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            out = make()
            times.append(time.perf_counter() - t)
        return out, times

    def flush_listeners(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def engine_metrics(self, job_ids: list[int]) -> dict:
        """Status-store counters of ``job_ids``; adds the job and planning
        spans to the trace."""
        self.flush_listeners()
        add_plan_spans(self.tracer, self.listener)
        return job_stage_metrics(self.spark, self.tracer, job_ids)

    def plan_medians(self) -> dict:
        """Per-execution median planning phases, from the spans the plan
        listener gave (only executions inside a measured op span)."""
        self.flush_listeners()
        out = {}
        for key, name in (("plan.analysis_ms", "analysis"),
                          ("plan.optimization_ms", "optimization"),
                          ("plan.physical_ms", "planning")):
            d = [e - s for ph, s, e in self.listener.phases if ph == name
                 and self._in_op(s)]
            out[key] = median(d) * 1e3
        return out

    def _in_op(self, t: float) -> bool:
        return any(s["name"] == "op" and s["start"] <= t <= s["end"]
                   for s in self.tracer.spans)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def overhead(latencies: list[float], traced: list[bool]) -> float:
    """Median traced op latency minus median untraced op latency."""
    return (median([x for x, t in zip(latencies, traced) if t])
            - median([x for x, t in zip(latencies, traced) if not t]))


def _mat_oracle(events: pa.Table, n_records: int) -> duckdb.DuckDBPyConnection:
    """DuckDB connection holding ``expected``: the last-write-wins state of
    changelog offsets [0, n_records), by the repo's upsert_materialize
    oracle (queries/cdc_queries.MAT_CTE)."""
    from cdc_debezium_kafka_airflow_spark.queries.cdc_queries import MAT_CTE

    con = duckdb.connect()
    con.register("ev_all", events)
    con.execute(f"CREATE VIEW events AS SELECT * FROM ev_all WHERE event_id < {n_records}")
    con.execute(f"CREATE TABLE expected AS WITH {MAT_CTE} SELECT * FROM mat")
    return con


def _state_mismatches(con: duckdb.DuckDBPyConnection, actual: pa.Table) -> int:
    """Rows in the symmetric difference of the expected and actual state."""
    cols = "table_name, last_offset, event_id, user_id, event_type, value, props, epoch_us(ts)"
    con.register("actual", actual)
    return con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM expected "
        f"EXCEPT ALL SELECT {cols} FROM actual)) + "
        f"(SELECT count(*) FROM (SELECT {cols} FROM actual "
        f"EXCEPT ALL SELECT {cols} FROM expected))"
    ).fetchone()[0]


def _write_changelog(ctx: Context, events: pa.Table, out: str) -> None:
    """Serialize seeded events into Kafka-record-shaped Debezium changelog
    parquet with the program's own emitter."""
    from cdc_debezium_kafka_airflow_spark.sources.cdc_fixture import build_changelog
    from cdc_debezium_kafka_airflow_spark.sources.tables import load_table

    src = ctx.path("src")
    os.makedirs(src, exist_ok=True)
    pq.write_table(events, os.path.join(src, "events.parquet"))
    build_changelog(load_table(ctx.spark, src, "events")).coalesce(4).write.mode(
        "overwrite"
    ).parquet(out)


# --- replicate ----------------------------------------------------------------

RATE = 3000  # records/s; see README.md for why half the reference's rate
FILES_PER_S = 4
BOOT_RECORDS = 3000
WARMUP_S = 3.5
TAIL_S = 0.5
REPLICATE_KEYS = 2000  # user ids; x 5 tables = 10k keys
ZIPF_S = 1.1


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _source_log_batches(checkpoint: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's metadata log."""
    out = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _changelog(spark, path: str):
    return spark.read.schema(CHANGELOG_SCHEMA).parquet(path)


def _upsert_chain(changelog):
    return upsert_materialize(unwrap(split_dlq(parse_envelope(changelog))[0]))


def replicate(ctx: Context) -> Result:
    """Open loop: a writer process publishes changelog files on a fixed
    schedule; a complete-mode ``max_by`` upsert over 8 state partitions
    (the shape of streaming.jobs.streaming_upsert_state) drains them every
    500 ms. Lag of a file = commit of its micro-batch - its due time. The
    final state and the DLQ are checked against every published record."""
    spark = ctx.spark
    duration = WARMUP_S + ctx.seconds + TAIL_S
    n = int(RATE * (duration + 1)) + BOOT_RECORDS
    changelog, landing, staging, ck = (ctx.path(d) for d in ("changelog", "landing", "staging", "ck"))
    stamps_path = ctx.path("stamps.json")

    def make():
        rng = ctx.rng(1)
        return gen.events(rng, gen.zipf_keys(rng, n, REPLICATE_KEYS, ZIPF_S))

    events, gen_s = ctx.generate(make)
    # set-up work done once per run with the program's own code: serialize
    # the envelopes with its emitter, then run the batch chain over them
    # once, so that the stream's first batches do not pay for compiling
    # the shared operators
    t = time.perf_counter()
    _write_changelog(ctx, events, changelog)
    noop(_upsert_chain(_changelog(spark, changelog)))

    os.makedirs(landing)
    os.makedirs(staging)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    q = (
        _upsert_chain(spark.readStream.schema(CHANGELOG_SCHEMA).parquet(landing))
        .writeStream.format("memory")
        .queryName("perfbench_state")
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    # bootstrap: one cold micro-batch before the open loop starts, so the
    # warm-up traffic runs on compiled code rather than queueing behind it
    boot = pq.read_table(changelog).sort_by("offset").slice(0, BOOT_RECORDS)
    write_part(boot, os.path.join(landing, "part-boot.parquet"))
    q.processAllAvailable()
    warmup_s = time.perf_counter() - t
    writer = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "writer.py"),
         changelog, landing, staging, stamps_path, str(BOOT_RECORDS), repr(duration),
         str(RATE), str(FILES_PER_S)]
    )
    try:
        writer.wait(timeout=duration + 60)
        q.processAllAvailable()
    finally:
        if writer.poll() is None:
            writer.kill()
            writer.wait()
        progress = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
    if writer.returncode != 0:
        raise RuntimeError(f"changelog writer exited with {writer.returncode}")
    with open(stamps_path) as f:
        stamps = json.load(f)

    # micro-batch timing: trigger start + triggerExecution = commit
    batches = {}
    for p in progress:
        if p["numInputRows"] > 0:
            start = _epoch(p["timestamp"])
            batches[p["batchId"]] = {
                **p, "start": start,
                "commit": start + p["durationMs"]["triggerExecution"] / 1e3,
            }
    file_batch = _source_log_batches(ck)
    lo = stamps[0]["due"] + WARMUP_S
    hi = lo + ctx.seconds
    for s in stamps:
        b = batches[file_batch[f"part-{s['file']:05d}.parquet"]]
        s["start"], s["commit"] = b["start"], b["commit"]
    steady = [s for s in stamps if lo <= s["due"] < hi]
    lags = [s["commit"] - s["due"] for s in steady]

    # correctness: final state and DLQ over every published record
    n_pub = BOOT_RECORDS + sum(s["records"] for s in stamps)
    con = _mat_oracle(events, n_pub)
    mismatches = _state_mismatches(con, spark.table("perfbench_state").toArrow())
    dlq_rows = split_dlq(parse_envelope(_changelog(spark, landing)))[1].count()
    late_max_ms = max(s["published"] - s["due"] for s in stamps) * 1e3
    res = Result(
        gen_s=gen_s, warmup_s=warmup_s,
        latency_p50=median(lags), samples=len(lags),
        items=sum(s["records"] for s in steady),
        items_s=max(s["commit"] for s in steady) - lo,
        attempted=n_pub,
        failed=mismatches + abs(dlq_rows - gen.malformed_count(n_pub)),
        # the highest percentile with ten samples beyond it (run_info only:
        # end-to-end metrics are reported by every workload, and analytics
        # has no such percentile)
        info={"gen_late_max_ms": late_max_ms,
              f"lag_p{100 * (len(lags) - 10) // len(lags)}_s": sorted(lags)[-11]},
    )
    if ctx.tracer is None:
        return res
    res.job_ids = [j for j in jobs_in_group(spark, str(q.runId))
                   if lo <= job_start(spark, j) < hi]
    res.layer = {
        **_stream_layers(ctx, [b for b in batches.values() if lo <= b["start"] < hi],
                         stamps, steady, lo, hi),
        "gen.late_max_ms": late_max_ms,
        "cdc.dlq_rows": dlq_rows,
        "cdc.live_keys": con.execute("SELECT count(*) FROM expected").fetchone()[0],
        **_cdc_prefix_costs(ctx, lambda: _changelog(spark, landing)),
    }
    return res


def _stream_layers(ctx: Context, batches: list[dict], stamps: list[dict],
                   steady: list[dict], lo: float, hi: float) -> dict:
    """Streaming per-layer figures over the micro-batches that started in
    the window, and one span per batch with its ``durationMs`` parts laid
    end to end in execution order."""
    for b in batches:
        batch_span = ctx.tracer.add("streaming.batch", b["start"], b["commit"],
                                    trace=f"batch-{b['batchId']}")
        t = b["start"]
        for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                      "addBatch", "commitOffsets"):
            d = b["durationMs"].get(phase, 0) / 1e3
            ctx.tracer.add(f"streaming.{phase}", t, t + d, parent=batch_span)
            t += d

    def p50(key: str) -> float:
        return median([b["durationMs"].get(key, 0) for b in batches])

    # backlog: records published but not yet committed, inside the window
    changes = sorted([(s["published"], s["records"]) for s in stamps]
                     + [(s["commit"], -s["records"]) for s in stamps])
    backlog, backlog_max = 0, 0
    for t, d in changes:
        backlog += d
        if lo <= t < hi:
            backlog_max = max(backlog_max, backlog)
    states = [b["stateOperators"][0] for b in batches]
    wait_mean = statistics.fmean(s["start"] - s["due"] for s in steady)
    return {
        "streaming.trigger_ms": p50("triggerExecution"),
        "streaming.add_batch_ms": p50("addBatch"),
        "streaming.latest_offset_ms": p50("latestOffset"),
        "streaming.query_planning_ms": p50("queryPlanning"),
        "streaming.wal_commit_ms": p50("walCommit"),
        "streaming.commit_offsets_ms": p50("commitOffsets"),
        "streaming.state_commit_ms": median([o["commitTimeMs"] for o in states]),
        "streaming.state_rows": states[-1]["numRowsTotal"],
        "streaming.state_bytes": states[-1]["memoryUsedBytes"],
        "streaming.batches": len(batches),
        "streaming.rows_per_batch": median([b["numInputRows"] for b in batches]),
        "streaming.busy_share": sum(b["durationMs"]["triggerExecution"] for b in batches)
        / ((hi - lo) * 1e3),
        "streaming.backlog_records_max": backlog_max,
        "streaming.trigger_wait_ms": wait_mean * 1e3,
        "streaming.lag_accounted_share": (wait_mean + p50("triggerExecution") / 1e3)
        / median([s["commit"] - s["due"] for s in steady]),
    }


def _cdc_prefix_costs(ctx: Context, source) -> dict:
    """Per-operator cost of the batch CDC chain over ``source()``:
    noop-materialize each prefix (scan, +parse_envelope, +split_dlq,
    +unwrap, +upsert_materialize), best of three, and difference
    consecutive prefixes. The noop sink materializes every output column,
    so a step that narrows its output (unwrap drops the raw JSON) can come
    out negative."""
    steps = [parse_envelope, lambda df: split_dlq(df)[0], unwrap, upsert_materialize]
    ctx.group("cdc-prefix")
    cost = []
    for k in range(len(steps) + 1):
        runs = []
        for _ in range(3):
            df = source()
            for step in steps[:k]:
                df = step(df)
            t = time.perf_counter()
            noop(df)
            runs.append(time.perf_counter() - t)
        cost.append(min(runs))
    names = ["cdc.parse_s", "cdc.split_s", "cdc.unwrap_s", "cdc.upsert_s"]
    return {name: cost[i + 1] - cost[i] for i, name in enumerate(names)}


# --- analytics ----------------------------------------------------------------

#: registered queries in the mix: TPC-H decision shapes (scan-aggregate,
#: multi-way join + top-k, filter-aggregate) and the lag / heartbeat
#: monitor twins of the reference's Airflow DAGs. None of them persists
#: artifacts across processes.
WAREHOUSE_MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
    "monitor_lag", "monitor_heartbeat",
]
#: curation operators, run in this order as one unit of the mix: top-k
#: reuses the centroids the training op memoizes under the pass's key
CURATION_OPS = ["dedup.ngram", "dedup.minhash", "similarity.train",
                "similarity.topk", "text.metrics"]
WAREHOUSE_ORDERS = 15_000
CURATE_DOCS = 200
CURATE_VECTORS = 400
CURATE_QUERIES = 40
EMBED_DIM = 32
EMBED_CLUSTERS = 8
JACCARD = 0.6
#: an approximate operator whose recall drops below these fails the check
MIN_RECALL_AT_10 = 0.8
MIN_LSH_PAIR_RECALL = 0.5
#: nominal pass time on a 4-core host; a run makes the whole number of
#: passes nearest to --seconds (at least 1), the same count on every commit
ANALYTICS_PASS_S = 10.0


def analytics(ctx: Context) -> Result:
    import __spark_entry__ as entry

    saved = list(sys.path)  # the gate module prepends its own repo path
    from tools.check_oracles import df_to_multiset

    sys.path[:] = saved

    spark = ctx.spark
    sf, docs_p, corpus_p, queries_p = (ctx.path(d) for d in ("warehouse", "docs", "corpus", "queries"))
    for p in (sf, docs_p, corpus_p, queries_p):
        os.makedirs(p, exist_ok=True)

    def make():
        rng = ctx.rng(3)
        tables = gen.warehouse_tables(rng, WAREHOUSE_ORDERS)
        for name, tbl in tables.items():
            pq.write_table(tbl, os.path.join(sf, f"{name}.parquet"))
        docs = gen.corpus(rng, CURATE_DOCS, dup_share=0.3)
        corpus, qs = gen.mixture_embeddings(rng, CURATE_VECTORS, CURATE_QUERIES,
                                            EMBED_DIM, EMBED_CLUSTERS)
        pq.write_table(docs, os.path.join(docs_p, "part-0.parquet"))
        pq.write_table(pa.table({
            "neighbor_id": pa.array(np.arange(len(corpus), dtype=np.int64)),
            "cvec": pa.array(list(corpus), type=pa.list_(pa.float32())),
        }), os.path.join(corpus_p, "part-0.parquet"))
        pq.write_table(pa.table({
            "query_id": pa.array(np.arange(len(qs), dtype=np.int64) + 10**6),
            "qvec": pa.array(list(qs), type=pa.list_(pa.float32())),
        }), os.path.join(queries_p, "part-0.parquet"))
        return tables, docs, corpus, qs

    (tables, docs_tbl, corpus_np, queries_np), gen_s = ctx.generate(make)
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'")

    def curation_ops(key: str) -> dict:
        docs = spark.read.parquet(docs_p)
        corpus = spark.read.parquet(corpus_p)
        qs = spark.read.parquet(queries_p)
        return {
            "dedup.ngram": lambda: ngram_jaccard_pairs(docs, unit="word", k=3, threshold=JACCARD),
            "dedup.minhash": lambda: minhash_lsh_pairs(docs, max_jaccard_distance=1 - JACCARD),
            "similarity.train": lambda: train_ivf_centroids(corpus, k=EMBED_CLUSTERS, cache_key=key),
            "similarity.topk": lambda: ivf_topk(qs, corpus, k=10, n_centroids=EMBED_CLUSTERS,
                                                cache_key=key),
            "text.metrics": lambda: text_metrics(docs),
        }

    def fresh_models() -> None:
        # a new corpus is always trained from scratch
        spark.catalog.clearCache()
        clear_model_memos()

    # warm-up and check, untimed for the metrics: every query against its
    # DuckDB oracle with the oracle gate's comparator, every curation output
    # against an exact recount
    failed = 0
    t = time.perf_counter()
    for name in WAREHOUSE_MIX:
        try:
            spdf = queries[name](spark, sf).toPandas()
            opdf = con.execute(oracles[name]).df()
            s_cols, s_rows = df_to_multiset(list(spdf.columns),
                                            list(spdf.itertuples(index=False, name=None)))
            o_cols, o_rows = df_to_multiset(list(opdf.columns),
                                            list(opdf.itertuples(index=False, name=None)))
            failed += int(s_cols != o_cols or s_rows != o_rows)
        except Exception as e:  # a query that raises is a failed op
            print(f"analytics check {name}: {e!r}", file=sys.stderr)
            failed += 1
    fresh_models()
    ops = curation_ops("check")
    out = {name: ops[name]() for name in CURATION_OPS}
    out = {name: df if name == "similarity.train" else df.toPandas() for name, df in out.items()}
    checks = _check_curate(docs_tbl, corpus_np, queries_np, out)
    failed += int(not checks["ok"])
    warmup_s = time.perf_counter() - t

    rng = ctx.rng(4)
    lat, names, traced = [], [], []

    def run_op(name: str, build) -> None:
        nonlocal failed
        op = len(lat)
        ctx.group(f"analytics-{op}")
        t = time.perf_counter()
        try:
            with ctx.span("op", op):
                if name in queries:
                    with ctx.span("queries.build", op):
                        df = build()
                    with ctx.span("queries.noop_write", op):
                        noop(df)
                else:
                    with ctx.span(name, op):
                        df = build()
                        if name != "similarity.train":  # trains eagerly
                            noop(df)
        except Exception as e:  # an op that raises is a failed op
            print(f"analytics {name}: {e!r}", file=sys.stderr)
            failed += 1
        lat.append(time.perf_counter() - t)
        names.append(name)
        traced.append(ctx.traced)

    def run_pass(p: int) -> None:
        """The mix once: the queries and the curation unit in a seeded
        order; whole passes keep it balanced."""
        fresh_models()
        ops = curation_ops(f"pass-{p}")
        for unit in rng.permutation(len(WAREHOUSE_MIX) + 1):
            if unit < len(WAREHOUSE_MIX):
                name = WAREHOUSE_MIX[unit]
                run_op(name, lambda: queries[name](spark, sf))
            else:
                for name in CURATION_OPS:
                    run_op(name, ops[name])

    # the op latencies are multimodal (one mode per op kind) with one or two
    # samples per kind in a run, so their median jumps between kinds; the
    # latency reported is that of a whole pass through the mix. A traced
    # run needs a traced and an untraced pass for the overhead.
    passes = []
    for p in range(max(2 if ctx.tracer else 1, round(ctx.seconds / ANALYTICS_PASS_S))):
        with ctx.alternate(p):
            t = time.perf_counter()
            run_pass(p)
            passes.append(time.perf_counter() - t)
    n_ops = len(lat)
    res = Result(gen_s=gen_s, warmup_s=warmup_s,
                 latency_p50=median(passes), samples=len(passes),
                 items=n_ops, items_s=sum(passes),
                 attempted=n_ops + len(WAREHOUSE_MIX) + 1, failed=failed,
                 info={k: v for k, v in checks.items() if k != "ok"})
    if ctx.tracer is None:
        return res
    jobs = [jobs_in_group(spark, f"analytics-{i}") for i in range(n_ops)]
    res.job_ids = [j for js in jobs for j in js]
    d = lambda name: median(ctx.tracer.durations(name))  # noqa: E731
    res.layer = {
        **ctx.plan_medians(),
        "queries.jobs_per_query": median([len(js) for js, n in zip(jobs, names) if n in queries]),
        "similarity.train_s": d("similarity.train"),
        "similarity.train_jobs": median([len(js) for js, n in zip(jobs, names)
                                         if n == "similarity.train"]),
        "similarity.topk_s": d("similarity.topk"),
        "similarity.recall_at_10": checks["recall_at_10"],
        "dedup.ngram_s": d("dedup.ngram"),
        "dedup.ngram_pairs": checks["ngram_pairs"],
        "dedup.minhash_s": d("dedup.minhash"),
        "dedup.minhash_pairs": checks["minhash_pairs"],
        "dedup.lsh_pair_recall": checks["lsh_pair_recall"],
        "text.metrics_s": d("text.metrics"),
        "trace.overhead_s": overhead(lat, traced),
    }
    return res


def _exact_pairs(docs: pa.Table) -> dict[tuple[int, int], float]:
    """Word-3-shingle jaccard >= JACCARD pairs, recounted in DuckDB."""
    con = duckdb.connect()
    con.register("docs", docs)
    rows = con.execute(f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS s
          FROM w),
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY ALL)
        SELECT id_a, id_b, round(k / (sa.n + sb.n - k), 6) AS j
        FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        WHERE k / (sa.n + sb.n - k) >= {JACCARD}
    """).fetchall()
    return {(a, b): j for a, b, j in rows}


def _check_curate(docs: pa.Table, corpus: np.ndarray, queries: np.ndarray, out: dict) -> dict:
    exact = _exact_pairs(docs)
    ng = out["dedup.ngram"]
    ngram = {(int(a), int(b)): float(j) for a, b, j in
             zip(ng["id_a"], ng["id_b"], ng["jaccard"])}
    mh = out["dedup.minhash"]
    minhash = {(int(a), int(b)) for a, b in zip(mh["id_a"], mh["id_b"])}
    lsh_recall = len(minhash & exact.keys()) / len(exact)

    # exact cosine top-10 with the operator's tie-break (neighbor id asc)
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn.astype(np.float64) @ cn.astype(np.float64).T
    truth = np.argsort(-sims, axis=1, kind="stable")[:, :10]
    tk = out["similarity.topk"]
    got: dict[int, set[int]] = {}
    for qid, nid in zip(tk["query_id"], tk["neighbor_id"]):
        got.setdefault(int(qid) - 10**6, set()).add(int(nid))
    recall = statistics.fmean(
        len(got.get(i, set()) & set(truth[i].tolist())) / 10 for i in range(len(queries))
    )
    ok = (
        ngram.keys() == exact.keys()
        and all(abs(ngram[k] - exact[k]) < 1e-9 for k in exact)
        and minhash <= exact.keys()
        and lsh_recall >= MIN_LSH_PAIR_RECALL
        and recall >= MIN_RECALL_AT_10
        and len(out["text.metrics"]) == docs.num_rows
    )
    return {"ok": ok, "ngram_pairs": len(ngram), "minhash_pairs": len(minhash),
            "exact_pairs": len(exact), "lsh_pair_recall": lsh_recall,
            "recall_at_10": recall}


WORKLOADS = {
    "replicate": replicate,
    "analytics": analytics,
}
