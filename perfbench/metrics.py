"""What each per-layer metric should move, and which layers each
workload never calls.

Every metric's name, unit, direction and bound lives in
``BENCHMARK.json``; ``run.py`` reads them from there. The tests check
that every per-layer metric there has an entry in ``MOVES``.
"""

from __future__ import annotations

import json
import os

CATCHUP = "ohlcv_catchup"
DEDUP = "dedup_corpus"
WORKLOADS = (CATCHUP, DEDUP)

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

ALL = f"{CATCHUP}, {DEDUP}"
LIVE = f"the live feed traced in the {CATCHUP} traced run"
PER_EVENT = f"latency_p50_s (drain time) on {CATCHUP}; little on live latency"
PER_BATCH = f"live.latency_p*_s ({LIVE}); about none on {CATCHUP}"
STATE = f"latency_p50_s and peak RSS on {CATCHUP}; a little on live latency"
PIPELINE = f"latency_p50_s (pass time) on {DEDUP}; none on {CATCHUP}"

# Spans whose Spark counters are reported, with what they should move.
SPANS = {
    "sources.scan": PER_EVENT,
    "sources.decode": PER_EVENT,
    "candles.aggregate": PER_EVENT,
    "streaming.replay": PER_EVENT,
    "streaming.live": PER_BATCH,
    "dedup.lsh_pairs": PIPELINE,
    "dedup.clusters": PIPELINE,
    "text.quality_select": PIPELINE,
}
SPAN_COUNTERS = ("jobs", "tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_bytes")

MOVES = {
    "session.get_session_s": f"setup_s on {ALL}",
    "sources.scan_s": PER_EVENT,
    "sources.decode_s": PER_EVENT,
    "candles.aggregate_s": PER_EVENT,
    "streaming.replay_self_s": PER_EVENT,
    "streaming.batches": PER_BATCH,
    "streaming.batch_ms_p50": PER_BATCH,
    "streaming.add_batch_ms_p50": PER_BATCH,
    "streaming.wal_commit_ms_p50": PER_BATCH,
    "streaming.commit_offsets_ms_p50": PER_BATCH,
    "streaming.query_planning_ms_p50": PER_BATCH,
    "sources.latest_offset_ms_p50": PER_BATCH,
    "streaming.wait_ms_p50": PER_BATCH,
    "streaming.tasks_per_batch": PER_BATCH,
    "streaming.state_rows_total": STATE,
    "streaming.state_memory_bytes": STATE,
    "streaming.state_commit_ms_p50": STATE,
    "streaming.rows_dropped_by_watermark": "must be 0 (correctness)",
    "streaming.catchup_1core_events_per_s": "single-threaded base for speedup",
    "dedup.lsh_pairs_s": PIPELINE,
    "dedup.candidate_pairs": PIPELINE,
    "dedup.verified_pairs": PIPELINE,
    "dedup.verified_ratio": PIPELINE,
    "dedup.clusters_s": PIPELINE,
    "dedup.clusters_jobs": PIPELINE,
    "text.quality_select_s": PIPELINE,
    "live.latency_p50_s": f"freshness at 5k ev/s, {LIVE} (not bounded)",
    "live.latency_p99_s": f"freshness at 5k ev/s, {LIVE} (not bounded)",
    "gen.late_ms_max": "validity of the live generator, not a program metric",
    "trace.overhead_pct": "tracing cost: traced minus untraced latency_p50_s",
}
for _span, _moves in SPANS.items():
    for _counter in SPAN_COUNTERS:
        MOVES[f"{_span}.{_counter}"] = _moves

# Per-layer metrics (by name prefix) of the layers a workload's traced
# run never calls: they report 0 there. Any other missing metric is an
# error.
NOT_CALLED = {
    CATCHUP: ("dedup.", "text."),
    DEDUP: ("sources.", "candles.", "streaming.", "live.", "gen."),
}


def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path, encoding="utf-8") as f:
        return json.load(f)
