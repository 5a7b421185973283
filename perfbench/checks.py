"""Output checks: candles against a DuckDB OHLCV over the same log, and
dedup clusters against the planted families."""

from __future__ import annotations

import glob
import os

CANDLE_COLS = "w_ms, product, open, high, low, close, volume"


def log_files(topic: str) -> list[str]:
    return sorted(glob.glob(os.path.join(topic, "partition=*", "segment-*.jsonl")))


def oracle_candles(con, files: list[str], window_ms: int = 60_000):
    """Reference 1-minute OHLCV per (window, product) over the JSONL
    log, with open and close ordered by (ts_ms, seq); an Arrow table."""
    file_list = ", ".join(f"'{f}'" for f in files)
    order = "CAST(ts_ms AS HUGEINT) * 4294967296 + seq"  # (ts_ms, seq); seq < 2^32
    return con.execute(
        f"""
        SELECT (ts_ms // {window_ms}) * {window_ms} AS w_ms, product,
               arg_min(price, {order}) AS open,
               max(price) AS high, min(price) AS low,
               arg_max(price, {order}) AS close,
               CAST(sum(qty) AS BIGINT) AS volume
        FROM read_json([{file_list}], format = 'newline_delimited',
             columns = {{'seq': 'BIGINT', 'ts_ms': 'BIGINT', 'product': 'VARCHAR',
                        'price': 'DOUBLE', 'qty': 'BIGINT'}})
        GROUP BY ALL
        """
    ).arrow()


def candle_mismatches(con, expected, updates) -> int:
    """Number of (window, product) keys whose last update differs from
    ``expected`` or exists on one side only. ``updates`` holds every
    update-mode row emitted (``CANDLE_COLS``); volume only grows with
    each update of a key, so the last update is the max-volume row."""
    con.register("_expected", expected)
    con.register("_updates", updates)
    try:
        return con.execute(
            f"""
            WITH last AS (
                SELECT {CANDLE_COLS} FROM _updates
                QUALIFY row_number() OVER (PARTITION BY w_ms, product ORDER BY volume DESC) = 1
            ),
            diff AS (
                (SELECT * FROM last EXCEPT SELECT {CANDLE_COLS} FROM _expected)
                UNION ALL
                (SELECT {CANDLE_COLS} FROM _expected EXCEPT SELECT * FROM last)
            )
            SELECT count(DISTINCT (w_ms, product)) FROM diff
            """
        ).fetchone()[0]
    finally:
        con.unregister("_expected")
        con.unregister("_updates")


def dedup_violations(
    labels: dict[int, int],
    keeps: list[tuple[int, int]],
    families: list[list[int]],
    doc_ids: list[int],
) -> list[str]:
    """Problems with a dedup result, empty when it is right.

    ``labels`` maps doc id to cluster id, ``keeps`` lists ``(cluster_id,
    keep_id)`` per cluster, ``doc_ids`` is the whole corpus. Each planted
    family must come back as one cluster holding exactly its members;
    every other doc shares no 3-shingle with any doc, so it must be a
    cluster of its own. Each cluster keeps one doc, a member of it."""
    problems = []
    members: dict[int, set[int]] = {}
    for d, cluster in labels.items():
        members.setdefault(cluster, set()).add(d)
    missing = sorted(set(doc_ids) - labels.keys())
    if missing:
        problems.append(f"{len(missing)} docs have no cluster, e.g. {missing[:3]}")
    in_family = set()
    for f, fam in enumerate(families):
        in_family.update(fam)
        clusters = {labels.get(d) for d in fam}
        if len(clusters) != 1 or None in clusters:
            problems.append(f"family {f} split over clusters {sorted(map(str, clusters))}")
            continue
        (cluster,) = clusters
        extra = sorted(members[cluster] - set(fam))
        if extra:
            problems.append(f"family {f}'s cluster {cluster} also holds {extra[:5]}")
    for d in doc_ids:
        if d not in in_family and d in labels and members[labels[d]] != {d}:
            problems.append(f"doc {d} outside the families is merged into cluster {labels[d]}")
    kept = [cluster for cluster, _ in keeps]
    if sorted(kept) != sorted(members):
        problems.append(f"{len(kept)} kept docs for {len(members)} clusters")
    for cluster, keep in keeps:
        if labels.get(keep) != cluster:
            problems.append(f"keep_id {keep} is not a member of cluster {cluster}")
    return problems
