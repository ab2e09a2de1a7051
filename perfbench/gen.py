"""Seeded input generator for the CDC benchmark.

Writes the engine's input contract -- an ``events`` parquet table
(event_id, ts, user_id, event_type, value, props) -- from a seed and a
workload shape. It never imports the engine: the program under test only
sees the generated file, which ``airbyte_spark.sources.changelog`` maps to
the page change stream (url from user_id, tombstone from event_type, page
body from props, LSN from event_id, binlog segment from event_id // span).

The shape knobs and what they control in that mapping:

- ``n_keys``: distinct user_ids, i.e. distinct page urls.
- ``base_events``: leading events, one per key in random order -- the
  base table a steady stream updates (0 for a pure backlog).
- ``update_factor``: stream events per key on average (stream size is
  ``n_keys * update_factor``).
- ``zipf_s``: hot-key skew of stream keys (0 = every key equally likely).
- ``tombstone_share``: share of events with ``event_type = 'error'``,
  which the changelog turns into soft-delete tombstones.
- ``page_bytes``: length of ``props``, which becomes the page body.
- ``out_of_order_share``: share of events whose ``ts`` is pushed back by
  up to ``late_s`` seconds, so they can lose LWW to an older LSN.
- ``segment_events``: events per binlog segment (the changelog's
  ``batch_span``); not part of the file, recorded for the reader.

Run standalone:
    python3 perfbench/gen.py --workload steady_cow --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in microseconds
_TYPES = np.array(["view", "click", "purchase", "signup"])


@dataclass(frozen=True)
class Shape:
    n_keys: int
    base_events: int
    update_factor: float
    zipf_s: float
    tombstone_share: float
    page_bytes: int
    out_of_order_share: float
    segment_events: int
    late_s: int = 600

    @property
    def n_stream(self) -> int:
        return int(round(self.n_keys * self.update_factor))

    @property
    def n_events(self) -> int:
        return self.base_events + self.n_stream


# One reason per setting lives in DESIGN.md; the short form:
SHAPES: dict[str, Shape] = {
    # A large base table updated by small Zipf-skewed segments: the
    # per-commit serial floor, not the data volume, sets commit latency.
    "steady_cow": Shape(
        n_keys=5_000, base_events=5_000, update_factor=8.0, zipf_s=1.1,
        tombstone_share=0.2, page_bytes=96, out_of_order_share=0.05,
        segment_events=1_000,
    ),
}
# Same input as steady_cow on a merge-on-read table.
SHAPES["steady_mor_read"] = SHAPES["steady_cow"]


def _word_pool(rng: np.random.Generator, n_chars: int) -> tuple[str, np.ndarray, np.ndarray]:
    """A text of lowercase pseudo-words joined by single spaces, with the
    start and end offset of every word. Pages are slices of it that start
    and end on word boundaries, so tag-stripping and whitespace collapsing
    leave them unchanged (the oracle's expected text is the raw slice)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(rng.choice(letters, size=int(n)))
        for n in rng.integers(2, 11, size=4096)
    ]
    words = [vocab[i] for i in rng.integers(0, len(vocab), size=n_chars // 6 + 16)]
    lengths = np.fromiter((len(w) for w in words), dtype=np.int64, count=len(words))
    starts = np.concatenate([[0], np.cumsum(lengths + 1)[:-1]])
    return " ".join(words), starts, starts + lengths


def _pages(rng: np.random.Generator, n: int, page_bytes: int) -> list[str]:
    text, starts, ends = _word_pool(rng, max(1 << 20, 8 * page_bytes))
    last = int(np.searchsorted(starts, len(text) - 2 * page_bytes - 16))
    first = rng.integers(0, max(1, last), size=n)
    stop = np.searchsorted(ends, starts[first] + page_bytes)
    s, e = starts[first], ends[np.minimum(stop, len(ends) - 1)]
    return [text[a:b] for a, b in zip(s.tolist(), e.tolist())]


def _stream_keys(rng: np.random.Generator, shape: Shape) -> np.ndarray:
    n = shape.n_stream
    # Zipf ranks mapped onto a random key order, so hot keys land in
    # different buckets instead of all being low user_ids.
    w = 1.0 / np.arange(1, shape.n_keys + 1, dtype=np.float64) ** shape.zipf_s
    ranks = rng.choice(shape.n_keys, size=n, p=w / w.sum())
    return rng.permutation(shape.n_keys)[ranks]


def generate(shape: Shape, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    base = rng.permutation(shape.n_keys)[: shape.base_events]
    user_id = np.concatenate([base, _stream_keys(rng, shape)]).astype(np.int64)
    n = len(user_id)
    event_id = np.arange(n, dtype=np.int64)
    ts = T0_US + event_id * 1_000_000 + rng.integers(0, 1_000_000, size=n)
    late = rng.random(n) < shape.out_of_order_share
    late[: shape.base_events] = False
    ts = ts - np.where(late, rng.integers(1, shape.late_s + 1, size=n) * 1_000_000, 0)
    tomb = rng.random(n) < shape.tombstone_share
    tomb[: shape.base_events] = False  # the base is all live pages
    event_type = np.where(tomb, "error", _TYPES[rng.integers(0, len(_TYPES), size=n)])
    value = np.round(rng.random(n) * 100, 2)
    return pa.table(
        {
            "event_id": pa.array(event_id),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user_id),
            "event_type": pa.array(event_type.tolist(), type=pa.string()),
            "value": pa.array(value),
            "props": pa.array(_pages(rng, n, shape.page_bytes), type=pa.string()),
        }
    )


def write(workload: str, seed: int, out_dir: str) -> dict:
    """Generate the workload's events into ``out_dir/events.parquet`` and
    return its description (also written as ``out_dir/shape.json``)."""
    shape = SHAPES[workload]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        generate(shape, seed), os.path.join(out_dir, "events.parquet"),
        row_group_size=shape.segment_events,
    )
    info = {"workload": workload, "seed": seed, **asdict(shape), "n_events": shape.n_events}
    with open(os.path.join(out_dir, "shape.json"), "w") as fh:
        json.dump(info, fh, indent=1)
    return info


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(write(a.workload, a.seed, a.out)))


if __name__ == "__main__":
    main()
