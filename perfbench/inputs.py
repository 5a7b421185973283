"""Seeded inputs: the two workloads' trade logs and the dedup corpus.

Every input is a pure function of ``(workload, seed)`` and the sizes
below: the same seed writes byte-identical logs and corpora. The
engine only ever sees the files written.
"""

from __future__ import annotations

import os

import numpy as np

# Wall-clock-free event time anchor (2024-01-01T00:00:00Z).
BASE_TS_MS = 1_704_067_200_000

TRADE_FIELDS = "seq long, ts_ms long, product string, price double, qty long"

# ohlcv_live: 5k ev/s over 2,000 products (2.5x the reference's design
# load, old/gen.py:13,36), 4 topic partitions, 125 segments/s of 40 events.
# At 5k ev/s the query stays well under its drain capacity on 4 cores.
LIVE_RATE = 5_000
LIVE_PRODUCTS = 2_000
LIVE_PARTITIONS = 4
LIVE_SEGMENTS_PER_S = 125
LIVE_SEGMENT_ROWS = LIVE_RATE // LIVE_SEGMENTS_PER_S
# Event time lags the schedule by up to this much; the stream's
# watermark delay is larger, so no event is ever dropped.
LIVE_MAX_DISORDER_MS = 3_000

# ohlcv_catchup: a backlog with candle state far above the live
# workload's (>= 20k distinct products).
CATCHUP_EVENTS = 100_000
CATCHUP_PRODUCTS = 25_000
CATCHUP_PARTITIONS = 4
CATCHUP_SEGMENT_ROWS = 12_500
CATCHUP_SPAN_MS = 120_000  # two 1-minute windows of event time

# The dedup pipeline traced in ohlcv_catchup's traced run: planted
# near-duplicate families among random documents.
CORPUS_RANDOM_DOCS = 1_500
CORPUS_FAMILIES = 60
CORPUS_FILES = 8
VOCAB_SIZE = 6_000
DOC_WORDS = (40, 90)


def rng_for(workload: str, seed: int) -> np.random.Generator:
    salt = int.from_bytes(workload.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, salt])


def trade_lines(
    seq: np.ndarray, ts_ms: np.ndarray, product: np.ndarray, price_cents: np.ndarray, qty: np.ndarray
) -> list[str]:
    """JSON wire records, one per event (prices carry two decimals)."""
    return [
        f'{{"seq":{s},"ts_ms":{t},"product":"P{p:05d}","price":{c // 100}.{c % 100:02d},"qty":{q}}}'
        for s, t, p, c, q in zip(
            seq.tolist(), ts_ms.tolist(), product.tolist(), price_cents.tolist(), qty.tolist()
        )
    ]


def _random_trades(rng: np.random.Generator, n: int, n_products: int):
    product = rng.integers(0, n_products, n)
    price_cents = rng.integers(100, 100_000, n)
    qty = rng.integers(1, 101, n)
    return product, price_cents, qty


def live_segments(seed: int, n_segments: int) -> list[tuple[int, list[str]]]:
    """``(partition, lines)`` for segments ``0 .. n_segments-1`` of the
    live schedule. Segment ``k`` is due ``k / LIVE_SEGMENTS_PER_S`` s
    after the clock starts, goes to partition ``k % LIVE_PARTITIONS``,
    and its events' time is the schedule position minus a seeded lag."""
    rng = rng_for("ohlcv_live", seed)
    n = n_segments * LIVE_SEGMENT_ROWS
    seq = np.arange(n, dtype=np.int64)
    sched_ms = seq * 1000 // LIVE_RATE
    ts_ms = BASE_TS_MS + sched_ms - rng.integers(0, LIVE_MAX_DISORDER_MS, n)
    lines = trade_lines(seq, ts_ms, *_random_trades(rng, n, LIVE_PRODUCTS))
    return [
        (k % LIVE_PARTITIONS, lines[k * LIVE_SEGMENT_ROWS : (k + 1) * LIVE_SEGMENT_ROWS])
        for k in range(n_segments)
    ]


def write_catchup_log(topic: str, seed: int) -> int:
    """Write the catch-up backlog as a 4-partition ``kafka_log`` topic;
    returns the event count."""
    from kafka_flink_spark.sources.kafka_log import append_segment

    rng = rng_for("ohlcv_catchup", seed)
    n = CATCHUP_EVENTS
    seq = np.arange(n, dtype=np.int64)
    ts_ms = BASE_TS_MS + seq * CATCHUP_SPAN_MS // n - rng.integers(0, LIVE_MAX_DISORDER_MS, n)
    lines = trade_lines(seq, ts_ms, *_random_trades(rng, n, CATCHUP_PRODUCTS))
    per_part = [lines[p::CATCHUP_PARTITIONS] for p in range(CATCHUP_PARTITIONS)]
    for p, part_lines in enumerate(per_part):
        for lo in range(0, len(part_lines), CATCHUP_SEGMENT_ROWS):
            append_segment(
                os.path.join(topic, f"partition={p}"), part_lines[lo : lo + CATCHUP_SEGMENT_ROWS]
            )
    return n


def _doc(words: np.ndarray) -> str:
    return " ".join(words.tolist())


def corpus(seed: int) -> tuple[list[tuple[int, str]], list[list[int]]]:
    """``(docs, families)``: docs as ``(doc_id, text)``, families as the
    member id lists of each planted near-duplicate family.

    Half the families are stars (every member one word away from a
    shared base) and half are chains (each member one word away from
    the previous), so connected components needs several rounds to
    join a chain's ends. One substituted word changes at most three of
    ~60 word 3-shingles, so every planted link has Jaccard ~0.9: far
    above the 0.5 verification threshold, and above LSH's detection
    S-curve (8 bands x 2 rows) with a miss chance near 1e-6 per link.
    Random documents share no 3-shingle with one another in practice.
    """
    rng = rng_for("dedup", seed)
    vocab = np.array(
        ["the", "of", "and", "to", "in", "a", "is", "it"]
        + [f"w{i:04d}x" for i in range(VOCAB_SIZE)]
    )
    texts: list[str] = []
    families: list[list[int]] = []

    def fresh() -> np.ndarray:
        return vocab[rng.integers(0, len(vocab), int(rng.integers(*DOC_WORDS)))]

    def mutate(words: np.ndarray) -> np.ndarray:
        out = words.copy()
        out[int(rng.integers(0, len(out)))] = vocab[int(rng.integers(8, len(vocab)))]
        return out

    for f in range(CORPUS_FAMILIES):
        size = int(rng.integers(3, 9))
        base = fresh()
        members = [base]
        for _ in range(size - 1):
            members.append(mutate(members[-1] if f % 2 else base))
        ids = []
        for words in members:
            ids.append(len(texts))
            texts.append(_doc(words))
        families.append(ids)
    for _ in range(CORPUS_RANDOM_DOCS):
        texts.append(_doc(fresh()))
    # Shuffle ids so families are not contiguous id ranges.
    perm = rng.permutation(len(texts))
    new_id = np.empty_like(perm)
    new_id[perm] = np.arange(len(texts))
    docs = sorted((int(new_id[i]), t) for i, t in enumerate(texts))
    families = [sorted(int(new_id[i]) for i in fam) for fam in families]
    return docs, families


def write_corpus(path: str, docs: list[tuple[int, str]]) -> None:
    """Write the corpus as ``CORPUS_FILES`` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for f in range(CORPUS_FILES):
        part = docs[f::CORPUS_FILES]
        table = pa.table(
            {
                "doc_id": pa.array([d for d, _ in part], pa.int64()),
                "text": pa.array([t for _, t in part], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))
