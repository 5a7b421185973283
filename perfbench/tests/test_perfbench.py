"""The benchmark's own tests, on tiny inputs and without Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, metrics  # noqa: E402
from perfbench.measure import (  # noqa: E402
    core_count,
    covering_batches,
    percentile,
    prefix_self_times,
)


def test_latency_join_maps_due_time_to_covering_batch():
    # Two partitions; batch end offsets only grow.
    batches = [
        (10.0, {0: 100, 1: 0}),
        (11.5, {0: 100, 1: 50}),
        (13.0, {0: 300, 1: 120}),
    ]
    segments = [
        (0, 100, 9.0),  # covered by batch 0
        (1, 50, 10.2),  # partition 1 reaches 50 in batch 1
        (1, 60, 10.4),  # needs 60 > 50: batch 2
        (0, 200, 12.0),  # batch 2
        (0, 400, 12.5),  # never covered
    ]
    cover = covering_batches(segments, batches)
    assert cover == [0, 1, 2, 2, None]
    lat = [batches[i][0] - due for (_p, _o, due), i in zip(segments[:4], cover)]
    assert lat == pytest.approx([1.0, 1.3, 2.6, 1.0])


def test_percentile_is_nearest_rank():
    values = list(range(1, 1001))
    assert percentile(values, 99) == 990
    assert percentile(values, 50) == 500
    assert percentile([3.0], 99) == 3.0


def test_prefix_self_times_subtract_the_previous_prefix():
    got = prefix_self_times([("scan", 1.0), ("decode", 1.75), ("aggregate", 3.0)])
    assert got == pytest.approx({"scan": 1.0, "decode": 0.75, "aggregate": 1.25})


def _write_log(tmp_path, events):
    part = tmp_path / "partition=0"
    part.mkdir()
    with open(part / "segment-00000000000000000000.jsonl", "w") as f:
        for seq, ts_ms, product, price, qty in events:
            f.write(
                json.dumps(
                    {"seq": seq, "ts_ms": ts_ms, "product": product, "price": price, "qty": qty}
                )
                + "\n"
            )
    return checks.log_files(str(tmp_path))


def _updates(rows):
    cols = ["w_ms", "product", "open", "high", "low", "close", "volume"]
    return pa.table(
        {c: [r[i] for r in rows] for i, c in enumerate(cols)},
        schema=pa.schema(
            [
                ("w_ms", pa.int64()),
                ("product", pa.string()),
                ("open", pa.float64()),
                ("high", pa.float64()),
                ("low", pa.float64()),
                ("close", pa.float64()),
                ("volume", pa.int64()),
            ]
        ),
    )


def test_candle_check_passes_last_update_and_fails_on_a_planted_wrong_candle(tmp_path):
    base = inputs.BASE_TS_MS
    files = _write_log(
        tmp_path,
        [
            (0, base + 1000, "P1", 10.0, 1),
            (1, base + 1000, "P1", 12.0, 2),  # same ts: seq breaks the tie, so close = 12
            (2, base + 500, "P1", 11.0, 3),  # out of order: becomes the open
            (3, base + 61_000, "P1", 20.0, 4),  # next window
            (4, base + 2000, "P2", 5.0, 5),
        ],
    )
    con = duckdb.connect()
    expected = checks.oracle_candles(con, files)
    right = [
        (base, "P1", 10.0, 12.0, 10.0, 12.0, 3),  # an earlier update of the same key
        (base, "P1", 11.0, 12.0, 10.0, 12.0, 6),
        (base + 60_000, "P1", 20.0, 20.0, 20.0, 20.0, 4),
        (base, "P2", 5.0, 5.0, 5.0, 5.0, 5),
    ]
    assert checks.candle_mismatches(con, expected, _updates(right)) == 0

    wrong_close = list(right)
    wrong_close[1] = (base, "P1", 11.0, 12.0, 10.0, 10.0, 6)
    assert checks.candle_mismatches(con, expected, _updates(wrong_close)) == 1
    missing = right[:3]
    assert checks.candle_mismatches(con, expected, _updates(missing)) == 1


def test_dedup_check_fails_on_a_merged_or_split_family():
    families = [[1, 2, 3], [4, 5]]
    docs = [1, 2, 3, 4, 5, 6, 7]
    labels = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 7}
    keeps = [(1, 2), (4, 5), (6, 6), (7, 7)]
    assert checks.dedup_violations(labels, keeps, families, docs) == []

    merged = {**labels, 4: 1, 5: 1}
    problems = checks.dedup_violations(merged, [(1, 2), (6, 6), (7, 7)], families, docs)
    assert any("also holds [4, 5]" in p for p in problems)

    split = {**labels, 3: 3}
    problems = checks.dedup_violations(split, [*keeps, (3, 3)], families, docs)
    assert any("split" in p for p in problems)

    stray_keep = [(1, 4), (4, 5), (6, 6), (7, 7)]
    problems = checks.dedup_violations(labels, stray_keep, families, docs)
    assert any("not a member" in p for p in problems)

    no_keep = keeps[:-1]
    assert checks.dedup_violations(labels, no_keep, families, docs) != []
    assert checks.dedup_violations({d: c for d, c in labels.items() if d != 7}, keeps[:-1],
                                   families, docs) != []


def test_dedup_check_fails_on_a_doc_outside_the_families_merged():
    families = [[1, 2, 3], [4, 5]]
    docs = [1, 2, 3, 4, 5, 6, 7]
    # A random doc swallowed by a family's cluster.
    into_family = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 1, 7: 7}
    problems = checks.dedup_violations(into_family, [(1, 2), (4, 5), (7, 7)], families, docs)
    assert any("also holds [6]" in p for p in problems)
    assert any("doc 6 outside the families" in p for p in problems)
    # Two random docs merged with each other.
    together = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6}
    problems = checks.dedup_violations(together, [(1, 2), (4, 5), (6, 7)], families, docs)
    assert any("doc 7 outside the families" in p for p in problems)


def test_inputs_are_a_function_of_the_seed():
    assert inputs.live_segments(7, 3) == inputs.live_segments(7, 3)
    assert inputs.live_segments(7, 3) != inputs.live_segments(8, 3)
    docs, families = inputs.corpus(7)
    assert (docs, families) == inputs.corpus(7)
    ids = [d for d, _ in docs]
    assert ids == list(range(len(docs)))
    members = [d for fam in families for d in fam]
    assert len(members) == len(set(members))


def test_live_event_time_disorder_stays_inside_the_watermark():
    from perfbench.workloads import WATERMARK

    delay_ms = int(WATERMARK.split()[0]) * 1000
    assert inputs.LIVE_MAX_DISORDER_MS < delay_ms


def test_core_count_survives_a_malformed_env(monkeypatch):
    monkeypatch.setenv("PATH", "")  # no nproc
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8.0")
    n, source = core_count()
    assert source == "os.cpu_count" and n >= 1
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " 3 ")
    assert core_count() == (3, "SPARK_GRAFT_CPUS")


def test_every_per_layer_metric_says_what_it_should_move():
    spec = metrics.load_spec()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(metrics.WORKLOADS)
    assert {m["name"] for m in spec["per_layer"]} == set(metrics.MOVES)
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}
