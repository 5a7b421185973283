"""The two workloads, and the live feed traced alongside catch-up.

Each takes a ``Run`` and fills ``run.metrics``: end-to-end metrics in an
untraced run, per-layer metrics in a traced one. The engine is reached
only through its public functions, with no engine setting changed
other than the core count of ``local[n]``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from typing import Callable

from pyspark.sql import functions as F

from kafka_flink_spark.operators.candles import ohlcv
from kafka_flink_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs
from kafka_flink_spark.operators.text import quality_scores
from kafka_flink_spark.session import get_session
from kafka_flink_spark.sources.kafka_io import decode_json_envelope
from kafka_flink_spark.sources.kafka_log import append_segment, register_kafka_log
from kafka_flink_spark.streaming.candles_stream import ohlcv_stream, run_available_now

from perfbench import checks, inputs, metrics
from perfbench.measure import (
    covering_batches,
    median,
    peak_rss_mb,
    percentile,
    prefix_self_times,
)
from perfbench.trace import Tracer, poll_progress

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = "1 minute"
WATERMARK = "10 seconds"
# A live due time counts as failed when its candles are staler than the
# lateness the pipeline itself tolerates (the watermark delay).
LATENCY_LIMIT_S = 10.0
SETUP_REPS = 3
MIN_PASSES = 3
# The live window holds this many due times, so p99 has ten samples
# beyond it.
LIVE_SAMPLES = 1000
# Seconds of feed before the live window opens: a new query's batches
# shorten over its first few batches as the JIT warms.
LIVE_WARMUP_S = 6
POLL_S = 1.0
LIVE_QUERY = "perfbench_live"
PREFIXES = ("sources.scan", "sources.decode", "candles.aggregate")


class Run:
    """One benchmark run: its work dir, Spark session, tallies of
    attempted and failed operations, and the metrics it reports."""

    def __init__(
        self, workload: str, seed: int, seconds: int, trace: bool, work: str, cores: tuple[int, str]
    ):
        import duckdb

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cores = cores
        self.master = f"local[{cores[0]}]"
        self.env: dict | None = None
        self.con = duckdb.connect()
        self.spark = None
        self.jvm_pid: int | None = None
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.checks_passed = 0
        self.checks_failed = 0
        self.metrics: dict[str, float] = {}
        self.extra: dict[str, tuple[float, str]] = {}
        self.notes: dict[str, object] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def session(self, master: str | None = None) -> tuple[float, float]:
        """Build the engine session; returns the build's start and end
        wall times."""
        start = time.time()
        self.spark = get_session("perfbench", master=master or self.master)
        register_kafka_log(self.spark)
        end = time.time()
        if self.env is None:
            self.env = self.engine_env()
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return start, end

    def engine_env(self) -> dict:
        """The engine environment this run measures."""
        import pyspark

        conf = self.spark.conf
        return {
            "master": self.master,
            "cores": self.cores[0],
            "cores_from": self.cores[1],
            "spark_graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions", None),
            "adaptive": conf.get("spark.sql.adaptive.enabled", None),
            "state_store": conf.get("spark.sql.streaming.stateStore.providerClass", None),
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this process."""
        return peak_rss_mb(self.jvm_pid) + peak_rss_mb(os.getpid())

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def op(self, fn: Callable[[], object], check: Callable[[object], list[str]]) -> float | None:
        """Run one timed operation and check its output. Returns its
        seconds, or None when it raised or its output was wrong; either
        counts as a failed operation."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        elapsed = time.perf_counter() - t0
        return elapsed if self.checked(check, result) else None

    def checked(self, check: Callable[[object], list[str]], result: object) -> bool:
        try:
            problems = check(result)
        except Exception:
            traceback.print_exc()
            problems = ["output check raised"]
        if problems:
            print(f"check failed: {problems[:5]}", file=sys.stderr)
            self.checks_failed += 1
            self.failed += 1
            return False
        self.checks_passed += 1
        return True

    def setup(self, pass_fn, check) -> None:
        """``setup_s``: session build plus the first, untimed pass. The
        run's first build also launches the JVM and its first pass warms
        the JIT; that launch is only noted. ``setup_s`` is the median of
        ``SETUP_REPS`` more setups (one when traced), each on a fresh
        session in the running JVM. A traced run records its setup's
        build as the ``session.get_session`` span of a fresh tracer."""
        t0 = time.perf_counter()
        self.session()
        self.op(pass_fn, check)
        self.notes["launch_s"] = time.perf_counter() - t0
        times = []
        for _ in range(1 if self.trace else SETUP_REPS):
            self.stop_session()
            start, end = self.session()
            pass_s = self.op(pass_fn, check)
            if pass_s is not None:
                times.append(end - start + pass_s)
        if self.trace:
            self.tracer = Tracer(self.spark)
            self.tracer.add_span("session.get_session", start, end)
        if times:
            self.metrics["setup_s"] = median(times)
        self.notes["setups_s"] = times

    def passes(self, pass_fn, check, traced_fn=None) -> tuple[list[float], list[float]]:
        """Timed passes for ``seconds``, at least ``MIN_PASSES``. A traced
        run alternates untraced passes with ``traced_fn`` ones, at least
        two of each; their difference is the tracing overhead."""
        kinds = [pass_fn, traced_fn] if traced_fn else [pass_fn]
        times: list[list[float]] = [[] for _ in kinds]
        deadline = time.perf_counter() + self.seconds
        i = 0
        while time.perf_counter() < deadline or i < max(MIN_PASSES, 2 * len(kinds)):
            # Order A B B A ...: a warm-up trend then weighs both kinds alike.
            k = (i + 1) // 2 % len(kinds)
            t = self.op(kinds[k], check)
            if t is not None:
                times[k].append(t)
            i += 1
        return times[0], times[-1] if traced_fn else []


def overhead_pct(plain: list[float], traced: list[float]) -> float:
    return 100.0 * (median(traced) - median(plain)) / median(plain)


def spans_named(run: Run, name: str) -> list[dict]:
    return [s for s in run.tracer.spans if s["name"] == name]


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


# --- trades ---------------------------------------------------------------


def typed_trades(wire):
    return decode_json_envelope(wire, inputs.TRADE_FIELDS).withColumn(
        "ts", F.timestamp_millis("ts_ms")
    )


def stream_trades(spark, topic: str):
    return typed_trades(spark.readStream.format("kafka_log").option("path", topic).load())


def candle_check(run: Run, expected):
    """Check a frame of update-mode candles against ``expected``."""

    def check(result) -> list[str]:
        got = result.select(
            F.unix_millis("window_start").alias("w_ms"),
            "product",
            "open",
            "high",
            "low",
            "close",
            "volume",
        ).toArrow()
        n = checks.candle_mismatches(run.con, expected, got)
        return [f"{n} candles differ from the DuckDB OHLCV"] if n else []

    return check


def batch_layers(m: dict, batches: list[dict], waits_ms: list[float], tasks_per_batch: float) -> None:
    """Per-batch layer metrics from the live query's listener records."""
    data = [b for b in batches if b["rows"] > 0]

    def p50(key: str) -> float:
        return median([b["duration_ms"].get(key, 0) for b in data])

    m["streaming.batches"] = len(data)
    m["streaming.batch_ms_p50"] = p50("triggerExecution")
    m["streaming.add_batch_ms_p50"] = p50("addBatch")
    m["streaming.wal_commit_ms_p50"] = p50("walCommit")
    m["streaming.commit_offsets_ms_p50"] = p50("commitOffsets")
    m["streaming.query_planning_ms_p50"] = p50("queryPlanning")
    m["sources.latest_offset_ms_p50"] = p50("latestOffset")
    m["streaming.wait_ms_p50"] = median(waits_ms)
    m["streaming.tasks_per_batch"] = tasks_per_batch


def state_layers(m: dict, batches: list[dict]) -> None:
    """State-store metrics from the catch-up drains' listener records."""
    data = [b for b in batches if b["rows"] > 0]
    m["streaming.state_rows_total"] = max(b["state_rows"] for b in data)
    m["streaming.state_memory_bytes"] = max(b["state_bytes"] for b in data)
    m["streaming.state_commit_ms_p50"] = median([b["state_commit_ms"] for b in data])
    m["streaming.rows_dropped_by_watermark"] = sum(b["dropped"] for b in batches)


def query_tasks(recs: list[dict]) -> int:
    """Tasks of the streaming queries bound to ``recs`` (their run-id
    job groups, not the span's own group)."""
    return sum(
        g["tasks"] for rec in recs for name, g in rec["groups"].items() if name != rec["group"]
    )


# --- ohlcv_catchup ----------------------------------------------------------


def ohlcv_catchup(run: Run) -> None:
    """Closed loop: drain a pre-written backlog with ``run_available_now``,
    pass after pass."""
    topic = run.path("catchup-topic")
    n_events = inputs.write_catchup_log(topic, run.seed)
    candles_ok = candle_check(run, checks.oracle_candles(run.con, checks.log_files(topic)))

    def check(result) -> list[str]:
        try:
            return candles_ok(result)
        finally:
            result.unpersist()

    def drain():
        stream = ohlcv_stream(stream_trades(run.spark, topic), WINDOW, WATERMARK)
        return run_available_now(stream, "update")

    def traced_drain():
        with run.tracer.listening(), run.tracer.span("streaming.replay"):
            return drain()

    run.setup(drain, check)
    plain, traced = run.passes(drain, check, traced_drain if run.trace else None)
    if not run.trace:
        if not plain:
            raise RuntimeError("no timed drain succeeded")
        run.metrics["latency_p50_s"] = median(plain)
        run.metrics["latency_p99_s"] = max(plain)
        run.extra["events_per_s"] = (n_events / median(plain), "1/s")
        run.notes["drains"] = len(plain)
        return

    m = run.metrics
    m["trace.overhead_pct"] = overhead_pct(plain, traced)
    # Layer self times from batch prefix runs to a noop sink: scan,
    # + decode, + OHLCV aggregate; the fastest of two of each.
    wire = lambda: run.spark.read.format("kafka_log").option("path", topic).load()  # noqa: E731
    builds = {
        "sources.scan": wire,
        "sources.decode": lambda: typed_trades(wire()),
        "candles.aggregate": lambda: ohlcv(typed_trades(wire()), WINDOW, seq_col="seq"),
    }
    for _ in range(2):
        for name in PREFIXES:
            with run.tracer.span(name):
                builds[name]().write.format("noop").mode("overwrite").save()
    prefix = [(n, min(duration(r) for r in spans_named(run, n))) for n in PREFIXES]
    for name, t in prefix_self_times(prefix).items():
        m[f"{name}_s"] = t
    m["streaming.replay_self_s"] = median(traced) - prefix[-1][1]
    recs = spans_named(run, "streaming.replay")
    state_layers(m, [b for rec in recs for b in run.tracer.span_batches(rec)])
    live_probe(run)

    # Single-threaded base for parallel-speedup claims: the same drain
    # at local[1], after one warm-up drain.
    run.stop_session()
    run.session(master="local[1]")
    for _ in range(2):
        t0 = time.perf_counter()
        drain().unpersist()
        one_core_s = time.perf_counter() - t0
    m["streaming.catchup_1core_events_per_s"] = n_events / one_core_s


# --- dedup_corpus -------------------------------------------------------------


def keep_best(labels, docs):
    """The highest-quality doc of each cluster (ties to the lower id)."""
    q = quality_scores(docs).select("doc_id", "quality_score")
    return (
        labels.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.min_by(
                "doc_id", F.struct((-F.col("quality_score")).alias("nq"), F.col("doc_id"))
            ).alias("keep_id")
        )
    )


def dedup_pipeline(docs, tracer: Tracer | None = None):
    """pipe10's shape: LSH pairs -> connected components -> keep the
    highest-quality doc per cluster. Returns ``(keep, labels)``, keep
    collected as Arrow. Traced, each call runs in its own span; the
    plan is the same either way."""
    span = tracer.span if tracer else (lambda name: nullcontext())
    with span("dedup.lsh_pairs"):
        pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    with span("dedup.clusters"):
        labels = dedup_clusters(docs.select("doc_id"), pairs)
    with span("text.quality_select"):
        keep = keep_best(labels, docs).toArrow()
    return keep, labels


def dedup_corpus(run: Run) -> None:
    """Closed loop, batch: the near-dup pipeline over a seeded corpus
    with planted families, pass after pass."""
    corpus_dir = run.path("corpus")
    docs, families = inputs.corpus(run.seed)
    inputs.write_corpus(corpus_dir, docs)
    doc_ids = [d for d, _ in docs]

    def check(result) -> list[str]:
        keep, labels = result
        lab = labels.toArrow()
        label_map = dict(zip(lab["doc_id"].to_pylist(), lab["cluster_id"].to_pylist()))
        keeps = list(zip(keep["cluster_id"].to_pylist(), keep["keep_id"].to_pylist()))
        return checks.dedup_violations(label_map, keeps, families, doc_ids)

    read = lambda: run.spark.read.parquet(corpus_dir)  # noqa: E731
    plain = lambda: dedup_pipeline(read())  # noqa: E731
    traced = lambda: dedup_pipeline(read(), run.tracer)  # noqa: E731
    run.setup(plain, check)
    plain_s, traced_s = run.passes(plain, check, traced if run.trace else None)
    if not run.trace:
        if not plain_s:
            raise RuntimeError("no timed pass succeeded")
        run.metrics["latency_p50_s"] = median(plain_s)
        run.metrics["latency_p99_s"] = max(plain_s)
        run.extra["docs_per_s"] = (len(docs) / median(plain_s), "1/s")
        run.notes["passes"] = plain_s
        return

    m = run.metrics
    m["trace.overhead_pct"] = overhead_pct(plain_s, traced_s)
    # The pair join inside minhash_lsh_pairs is lazy and runs in
    # dedup_clusters' first job, so the layer self times come from
    # prefix runs, as for catch-up: LSH pairs to a noop sink, then
    # + connected components, then + the quality pick; the fastest of
    # two of each. The per-call spans above give the counters.
    pairs = lambda: minhash_lsh_pairs(read()).select("doc_a", "doc_b")  # noqa: E731
    labels = lambda: dedup_clusters(read().select("doc_id"), pairs())  # noqa: E731
    builds = {
        "dedup.lsh_pairs": pairs,
        "dedup.clusters": labels,
        "text.quality_select": lambda: keep_best(labels(), read()),
    }
    for _ in range(2):
        for name, build in builds.items():
            with run.tracer.span(f"prefix:{name}"):
                build().write.format("noop").mode("overwrite").save()
    prefix = [(n, min(duration(r) for r in spans_named(run, f"prefix:{n}"))) for n in builds]
    for name, t in prefix_self_times(prefix).items():
        m[f"{name}_s"] = t
    m["dedup.candidate_pairs"] = minhash_lsh_pairs(read(), min_jaccard=0.0).count()
    m["dedup.verified_pairs"] = minhash_lsh_pairs(read()).count()
    m["dedup.verified_ratio"] = m["dedup.verified_pairs"] / max(1, m["dedup.candidate_pairs"])
    run.tracer.finish()
    m["dedup.clusters_jobs"] = median(
        [sum(g["jobs"] for g in r["groups"].values()) for r in spans_named(run, "dedup.clusters")]
    )


# --- live feed (traced in ohlcv_catchup) --------------------------------------


def start_live(spark, topic: str):
    """The resident update-mode candle query over a topic."""
    return (
        ohlcv_stream(stream_trades(spark, topic), WINDOW, WATERMARK)
        .writeStream.format("memory")
        .queryName(LIVE_QUERY)
        .outputMode("update")
        .option("checkpointLocation", topic + "-checkpoint")
        .start()
    )


def first_batch_end(query, timeout_s: float = 120.0) -> float:
    """Wall time at which the query's first non-empty batch committed."""
    seen: dict[int, dict] = {}
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        poll_progress(query, seen)
        data = [b for b in seen.values() if b["rows"] > 0]
        if data:
            return min(data, key=lambda b: b["batch_id"])["end_s"]
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        time.sleep(0.05)
    raise TimeoutError("no micro-batch committed")


def live_probe(run: Run) -> None:
    """The live feed, traced in the ohlcv_catchup traced run on its warm
    session. Open loop: a producer process appends seeded segments at a
    fixed rate while a resident update-mode query reads them. After
    ``LIVE_WARMUP_S`` of feed, a window of ``LIVE_SAMPLES`` due times
    (8 s) is measured with the listener on."""
    seg_per_s = inputs.LIVE_SEGMENTS_PER_S
    window = LIVE_SAMPLES
    warm = LIVE_WARMUP_S * seg_per_s
    prefill = inputs.live_segments(run.seed, inputs.LIVE_PARTITIONS)
    topic = run.path("live-topic")
    for partition, lines in prefill:
        append_segment(os.path.join(topic, f"partition={partition}"), lines)
    query = start_live(run.spark, topic)
    first_batch_end(query)

    records_path = run.path("live-records.json")
    producer = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "perfbench.producer",
            "--topic",
            topic,
            "--seed",
            str(run.seed),
            "--first",
            str(len(prefill)),
            "--count",
            str(warm + window),
            "--out",
            records_path,
        ],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
        env=dict(os.environ, PYTHONPATH=ROOT),
    )
    seen: dict[int, dict] = {}
    try:
        if producer.stdout.readline().strip() != "READY":
            raise RuntimeError("producer failed to start")
        start = time.time() + 0.5
        producer.stdin.write(f"{start!r}\n")
        producer.stdin.close()
        poll_until(query, seen, start + warm / seg_per_s)
        live_rec = run.tracer.add_span("streaming.live", time.time())
        run.tracer.bind_run(str(query.runId), live_rec)
        with run.tracer.listening():
            follow_live(query, producer, seen, records_path)
            query.stop()
        live_rec["end"] = time.time()
    finally:
        if producer.poll() is None:
            producer.kill()
        producer.wait()
    with open(records_path, encoding="utf-8") as f:
        records = json.load(f)
    score_live(run, records[warm:], seen, topic, live_rec)


def poll_until(query, seen: dict[int, dict], until: float) -> None:
    while time.time() < until:
        poll_progress(query, seen)
        time.sleep(max(0.0, min(POLL_S, until - time.time())))


def follow_live(query, producer, seen: dict[int, dict], records_path: str) -> None:
    """Poll progress until the producer is done and the query has
    covered every segment it appended, or the latency limit has passed
    since the last due time."""
    while producer.poll() is None:
        poll_progress(query, seen)
        time.sleep(POLL_S)
    if producer.returncode != 0:
        raise RuntimeError(f"producer exited with {producer.returncode}")
    with open(records_path, encoding="utf-8") as f:
        records = json.load(f)
    final: dict[int, int] = {}
    for partition, end, _due, _appended in records:
        final[partition] = max(final.get(partition, 0), end)
    deadline = records[-1][2] + LATENCY_LIMIT_S
    while time.time() < deadline:
        poll_progress(query, seen)
        latest = max(seen.values(), key=lambda b: b["batch_id"])["end_offsets"] if seen else {}
        if all(latest.get(p, 0) >= end for p, end in final.items()):
            return
        time.sleep(0.1)


def score_live(run: Run, records, seen, topic: str, live_rec) -> None:
    m = run.metrics
    batches = sorted(seen.values(), key=lambda b: b["batch_id"])
    segs = [(p, end, due) for p, end, due, _ in records]
    cover = covering_batches(segs, [(b["end_s"], b["end_offsets"]) for b in batches])
    lat = [None if i is None else batches[i]["end_s"] - due for (_, _, due), i in zip(segs, cover)]
    run.attempted += len(lat)
    run.failed += sum(1 for x in lat if x is None or x > LATENCY_LIMIT_S)
    run.attempted += 1
    expected = checks.oracle_candles(run.con, checks.log_files(topic))
    run.checked(candle_check(run, expected), run.spark.table(LIVE_QUERY))

    ok = [x for x in lat if x is not None]
    m["live.latency_p50_s"] = median(ok)
    m["live.latency_p99_s"] = percentile(ok, 99)
    m["gen.late_ms_max"] = max(1000 * (appended - due) for _p, _e, due, appended in records)
    run.notes["live_samples"] = len(lat)
    run.tracer.finish()
    traced = run.tracer.span_batches(live_rec)
    by_id = {b["batch_id"]: b for b in traced}
    waits = []
    for (_, _, due), i in zip(segs, cover):
        b = by_id.get(batches[i]["batch_id"]) if i is not None else None
        if b is not None:
            waits.append(1000 * (b["end_s"] - due) - b["duration_ms"].get("triggerExecution", 0))
    # The query's jobs span its whole life, so tasks per batch divides
    # by every batch it ran.
    batch_layers(m, traced, waits, query_tasks([live_rec]) / len(batches))


WORKLOAD_FNS = {
    metrics.CATCHUP: ohlcv_catchup,
    metrics.DEDUP: dedup_corpus,
}
