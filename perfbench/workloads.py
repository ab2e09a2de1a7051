"""The benchmark's two workloads, each one caller in a closed loop.

Every workload drives the engine through its public API
(``CdcPipeline.create_target`` / ``replay`` / ``apply_batch`` /
``final_state``) and starts the next operation only after the previous one
returned. Outputs are checked against the DuckDB oracle between
operations, outside every timed region.

``steady_cow`` and ``steady_mor_read`` run the same steps on a
copy-on-write or a merge-on-read table:

1. set-up, once on the cold JVM and then ``SETUP_REPS`` times, the median
   of those reported: create the target table and drain the base backlog
   with ``replay`` into one grouped commit (planning pass included);
2. warm-up, untimed: ``WARM_CYCLES`` cycles on a copy of the base table;
3. timed epochs of ``EPOCH_CYCLES`` cycles, each from a fresh copy of the
   base table, until ``seconds`` of timed operations and at least
   ``MIN_EPOCHS`` epochs. A cycle commits the next binlog segment with
   ``apply_batch`` and point-reads up to ``READ_URLS`` of that segment's
   urls (read-your-writes). Whole epochs keep the merge-on-read file count
   at each cycle position the same in every run.

The segments each step uses are fixed by the shape alone, so every run
with a given seed times the same inputs.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback
from collections import Counter
from dataclasses import dataclass, field
from time import perf_counter

import numpy as np
import pyspark.sql.functions as F

from airbyte_spark.sources.changelog import read_changelog
from airbyte_spark.streaming.pipeline import CdcPipeline

SETUP_REPS = 2
WARM_CYCLES = 6
EPOCH_CYCLES = 5
MIN_EPOCHS = 2
READ_URLS = 50


@dataclass
class Op:
    kind: str  # "commit" | "read"
    seconds: float
    traced: bool
    ok: bool = True
    events: int = 0
    files: int = 0  # reads: live files scanned


@dataclass
class Run:
    """What one workload run measured; ``run.py`` turns it into metrics."""

    setup_s: list[float] = field(default_factory=list)
    warm_s: list[float] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    checks: int = 0
    winners: dict = field(default_factory=dict)  # commit keys -> distinct urls


class Bench:
    def __init__(self, spark, shape, input_dir, work, oracle, tracer, trace, seed):
        self.spark = spark
        self.shape = shape
        self.input_dir = input_dir
        self.work = work
        self.oracle = oracle
        self.tracer = tracer
        self.trace = trace
        self.rng = np.random.default_rng(seed)
        self.run = Run()
        self.span = shape.segment_events

    # ---- helpers ----

    def lsn_where(self, ranges: list[tuple[int, int]]) -> str:
        """SQL predicate for events of the given [lo, hi) segment ranges."""
        parts = [
            f"(event_id >= {lo * self.span} AND event_id < {hi * self.span})"
            for lo, hi in ranges
        ]
        return " OR ".join(parts) or "FALSE"

    def timed(self, kind: str, traced: bool, fn, **attrs) -> tuple[object, Op]:
        """Run one operation, timed; a raised error marks it failed."""
        op = Op(kind, 0.0, traced, **attrs)
        self.tracer.op = len(self.run.ops)
        self.tracer.enabled = traced
        t = perf_counter()
        out = None
        try:
            with self.tracer.span(f"op.{kind}"):
                out = fn()
        except Exception:  # noqa: BLE001 - a failed op is a measured outcome
            traceback.print_exc(file=sys.stderr)
            op.ok = False
        op.seconds = perf_counter() - t
        self.tracer.enabled = False
        self.run.ops.append(op)
        return out, op

    def check(self, op: Op, expected: Counter, got: Counter) -> None:
        """Rows compare as multisets: a row stored twice is a wrong result."""
        self.run.checks += 1
        if expected != got:
            op.ok = False
            n = sum(((expected - got) + (got - expected)).values())
            print(f"check failed after {op.kind}: {n} rows differ", file=sys.stderr)

    def point_read(self, pipe, urls: list[str], traced: bool, expected: Counter) -> None:
        from perfbench.oracle import point_rows

        files = len(pipe.table.files())
        rows, op = self.timed(
            "read", traced,
            lambda: pipe.final_state().filter(F.col("url").isin(urls)).collect(),
            files=files,
        )
        if op.ok:
            self.check(op, expected, point_rows(rows))

    def full_check(self, pipe, op: Op, expected: Counter) -> None:
        from perfbench.oracle import engine_rows

        if op.ok:
            self.check(op, expected, engine_rows(pipe.final_state()))

    # ---- steady stream, copy-on-write or merge-on-read ----

    def steady(self, seconds: float, write_mode: str) -> Run:
        spark, span = self.spark, self.span
        n_base = self.shape.base_events // span
        n_segs = self.shape.n_events // span
        changelog = read_changelog(spark, self.input_dir, span)
        lsn = F.col("_ab_cdc_lsn")

        def segments(lo: int, hi: int):
            return changelog.filter((lsn >= lo * span) & (lsn < hi * span))

        def set_up(name: str) -> tuple[str, CdcPipeline, float]:
            path = os.path.join(self.work, name)
            t = perf_counter()
            pipe = CdcPipeline.create_target(spark, path, write_mode=write_mode)
            pipe.replay(segments(0, n_base), max_catchup_commits=1)
            return path, pipe, perf_counter() - t

        def commit(pipe, k: int) -> None:
            pipe.apply_batch(segments(k, k + 1), f"ckpt-{k}")

        # The first set-up runs on a cold JVM (class loading, code
        # generation, Python worker start) and is not reported.
        self.tracer.op, self.tracer.enabled = None, self.trace
        base = None
        for rep in range(1 + SETUP_REPS):
            path, _, took = set_up(f"base-{rep}")
            if rep:
                self.run.setup_s.append(took)
            if base is not None:
                shutil.rmtree(base)
            base = path
        self.tracer.enabled = False

        # Warm-up: the first commits and reads of a fresh JVM run slower.
        path = os.path.join(self.work, "warm")
        shutil.copytree(base, path)
        pipe = CdcPipeline.create_target(spark, path, write_mode=write_mode)
        for k in range(n_base, n_base + WARM_CYCLES):
            t = perf_counter()
            commit(pipe, k)
            self.run.warm_s.append(perf_counter() - t)
            urls = self.oracle.urls(self.lsn_where([(k, k + 1)]))[:READ_URLS]
            pipe.final_state().filter(F.col("url").isin(urls)).collect()
        shutil.rmtree(path)

        next_seg = n_base + WARM_CYCLES
        timed_total, epoch = 0.0, 0
        while (timed_total < seconds or epoch < MIN_EPOCHS) and next_seg + EPOCH_CYCLES <= n_segs:
            traced = self.trace and epoch % 2 == 0
            path = os.path.join(self.work, f"epoch-{epoch}")
            shutil.copytree(base, path)
            pipe = CdcPipeline.create_target(spark, path, write_mode=write_mode)
            first = next_seg
            for _ in range(EPOCH_CYCLES):
                k = next_seg
                where = self.lsn_where([(0, n_base), (first, k + 1)])
                seg_urls = self.oracle.urls(self.lsn_where([(k, k + 1)]))
                self.run.winners[(k, k)] = len(seg_urls)
                _, op = self.timed("commit", traced, lambda: commit(pipe, k), events=span)
                next_seg += 1
                timed_total += op.seconds
                if not op.ok:
                    break
                pick = self.rng.choice(len(seg_urls), min(READ_URLS, len(seg_urls)), replace=False)
                urls = sorted(seg_urls[i] for i in pick)
                self.point_read(pipe, urls, traced, self.oracle.state(where, urls))
                timed_total += self.run.ops[-1].seconds
            commits = [o for o in self.run.ops if o.kind == "commit"]
            self.full_check(pipe, commits[-1], self.oracle.state(where))
            shutil.rmtree(path)
            epoch += 1
            if not commits[-1].ok:
                break
        shutil.rmtree(base)
        return self.run


def run_workload(name: str, bench: Bench, seconds: float) -> Run:
    return bench.steady(seconds, "mor" if name == "steady_mor_read" else "cow")
