"""Open-loop load generator for ``ohlcv_live``: one process, one thread.

Run as ``python3 -m perfbench.producer --topic DIR --seed N --first K
--count M --out FILE``. It pre-builds segments ``K .. K+M-1`` of the seeded live
schedule, prints ``READY``, reads the clock start (epoch seconds) from
stdin, then appends segment ``K+i`` with ``append_segment`` at
``start + i / LIVE_SEGMENTS_PER_S`` whether or not the stream keeps up.
At the end it writes one JSON list to ``--out``: per segment its
partition, end offset, due time and append-complete time.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--topic", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from kafka_flink_spark.sources.kafka_log import append_segment
    from perfbench.inputs import LIVE_SEGMENTS_PER_S, live_segments

    segments = live_segments(args.seed, args.first + args.count)[args.first :]
    print("READY", flush=True)
    start = float(sys.stdin.readline())
    records = []
    for i, (partition, lines) in enumerate(segments):
        due = start + i / LIVE_SEGMENTS_PER_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        base = append_segment(os.path.join(args.topic, f"partition={partition}"), lines)
        records.append([partition, base + len(lines), due, time.time()])
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(records, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
