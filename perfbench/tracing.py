"""In-memory span tracer that wraps ``airbyte_spark`` entry points from
outside the package.

Nothing under ``airbyte_spark/`` is edited: ``install()`` replaces a fixed
list of functions and methods with wrappers that record a span (name,
start, end, parent, op) when tracing is on, and call straight through when
it is off. Spans and counts stay in memory; ``Tracer.dump`` writes them out
once, at the end of the run.

Span tree of one copy-on-write commit (merge-on-read has ``merge.append``
in place of ``merge.upsert`` and no ``merge.prune``)::

    pipeline.apply_batch
      merge.upsert
        format.manifest        (every LakeTable.manifest call)
        spark.collect          (the winner pre-pass job + collect)
        merge.prune
        format.stage_write
          format.write_job     (DataFrameWriter.parquet: the merge job)
        format.commit

Self time of a span is its duration minus its direct children's.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Spans that only group other spans; the driver time left over after their
# layer children is what ``pipeline.unattributed_s`` reports.
CONTAINERS = {"pipeline.apply_batch", "merge.upsert", "merge.append"}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.enabled = False
        self.op: int | None = None
        self._thread = threading.get_ident()

    def active(self) -> bool:
        return self.enabled and threading.get_ident() == self._thread

    def open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.perf_counter(), parent, self.op))
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def close(self, i: int) -> None:
        self.spans[i].end = time.perf_counter()
        self.stack.pop()

    @contextmanager
    def span(self, name: str):
        if not self.active():
            yield None
            return
        i = self.open(name)
        try:
            yield self.spans[i]
        finally:
            self.close(i)

    @contextmanager
    def paused(self):
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def count(self, name: str, n: float = 1) -> None:
        if self.active():
            self.counts[name] += n
            if self.stack:
                a = self.spans[self.stack[-1]].attrs
                a[name] = a.get(name, 0) + n

    # ---- queries over the recorded tree ----

    def children(self, i: int) -> list[Span]:
        return [s for s in self.spans if s.parent == i]

    def self_time(self, i: int) -> float:
        return self.spans[i].dur - sum(c.dur for c in self.children(i))

    def layer_time(self, i: int) -> float:
        """Time of span i covered by non-container descendants."""
        total = 0.0
        for j, s in enumerate(self.spans):
            if s.parent == i:
                total += self.layer_time(j) if s.name in CONTAINERS else s.dur
        return total

    def descendants(self, i: int) -> list[int]:
        out, todo = [], [i]
        while todo:
            k = todo.pop()
            kids = [j for j, s in enumerate(self.spans) if s.parent == k]
            out.extend(kids)
            todo.extend(kids)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "counts": dict(self.counts),
                    "spans": [
                        {"name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "op": s.op, **s.attrs}
                        for s in self.spans
                    ],
                },
                fh,
            )


def _wrap(tracer: Tracer, owner, attr: str, name: str, after=None, before=None) -> None:
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if not tracer.active():
            return orig(*args, **kwargs)
        ctx = None
        if before is not None:
            with tracer.paused():
                ctx = before(args, kwargs)
        i = tracer.open(name)
        try:
            out = orig(*args, **kwargs)
        finally:
            tracer.close(i)
        if after is not None:
            with tracer.paused():
                after(tracer.spans[i], args, out, ctx)
        return out

    setattr(owner, attr, wrapper)


def _seq(x) -> list:
    """A Scala Seq seen through py4j, as a Python list."""
    return [x.apply(i) for i in range(x.size())]


def _duration_s(text: str) -> float:
    """Total of a Spark SQL timing metric: '3.8 s (1.9 s, ...)' -> 3.8."""
    first = text.splitlines()[-1].split("(")[0].split()
    scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
    return float(first[0].replace(",", "")) * scale.get(first[1], 1.0)


class SparkCounters:
    """Per-commit Spark counts read from outside the engine: jobs, stages
    and tasks through ``statusTracker()`` for a job group the benchmark
    sets, and rows through the Python UDF from the SQL plan metrics of the
    ``ArrowEvalPython`` nodes of the executions the commit ran."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.n = 0

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def begin(self) -> tuple[str, int, str | None]:
        self._drain()
        self.n += 1
        group = f"perfbench-commit-{self.n}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, group)
        return group, int(self.store.executionsCount()), prev

    def end(self, ctx) -> dict:
        group, n0, prev = ctx
        if prev is not None:
            self.sc.setJobGroup(prev, prev)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._drain()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = {s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds}
        tasks = sum(
            info.numTasks for s in stages if (info := st.getStageInfo(s)) is not None
        )
        udf_rows, udf_s = 0, 0.0
        n1 = int(self.store.executionsCount())
        for ex in _seq(self.store.executionsList(n0, n1 - n0)) if n1 > n0 else []:
            eid = ex.executionId()
            vals = self.store.executionMetrics(eid)
            for node in _seq(self.store.planGraph(eid).allNodes()):
                if "EvalPython" not in node.name():
                    continue
                for m in _seq(node.metrics()):
                    v = vals.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if m.name() == "number of output rows":
                        udf_rows += int(v.get().replace(",", ""))
                    elif m.name() == "time to run Python workers":
                        udf_s += _duration_s(v.get())
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
                "udf_rows": udf_rows, "udf_s": udf_s}


def manifest_bytes(table) -> int:
    """Size of the current manifest head plus the segment files it refers to."""
    head = table._manifest_path(table.current_version())
    with open(head) as fh:
        raw = json.load(fh)
    refs = [r["path"] for sec in ("file_segments", "committed_segments")
            for r in raw.get(sec) or []]
    return os.path.getsize(head) + sum(
        os.path.getsize(os.path.join(table.path, p)) for p in refs
    )


def install(tracer: Tracer, spark) -> None:
    """Wrap the engine's layer entry points (once per process)."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import airbyte_spark.lake.merge as merge
    import airbyte_spark.streaming.pipeline as pipeline
    from airbyte_spark.lake.bloom import KeyBloom
    from airbyte_spark.lake.format import LakeTable

    counters = SparkCounters(spark)

    def before_batch(args, kwargs):
        pipe = args[0]
        key = args[2] if len(args) > 2 else kwargs["checkpoint_key"]
        keys = [key] if isinstance(key, str) else list(key)
        return {
            "keys": sorted(int(k.rsplit("-", 1)[1]) for k in keys),
            "files_live": len(pipe.table.files()),
            "spark": counters.begin(),
        }

    def after_batch(span, args, out, ctx):
        span.attrs.update(counters.end(ctx.pop("spark")), **ctx)

    def after_prune(span, args, out, ctx):
        span.attrs["candidate_files"] = len(out)

    def after_commit(span, args, out, ctx):
        table, added = args[0], args[1]
        span.attrs["rows_written"] = sum(e.rows for e in added)
        span.attrs["bytes_written"] = sum(e.bytes for e in added)
        span.attrs["files_added"] = len(added)
        span.attrs["manifest_bytes"] = manifest_bytes(table)

    P = pipeline.CdcPipeline
    _wrap(tracer, P, "_plan_replay", "pipeline.plan")
    _wrap(tracer, P, "apply_batch", "pipeline.apply_batch", after_batch, before_batch)
    _wrap(tracer, pipeline, "merge_upsert", "merge.upsert")
    _wrap(tracer, pipeline, "append_winners", "merge.append")
    _wrap(tracer, pipeline, "resolve_stored", "merge.resolve_plan")
    _wrap(tracer, merge, "_prune_candidates", "merge.prune", after_prune)
    _wrap(tracer, LakeTable, "_stage_write", "format.stage_write")
    _wrap(tracer, LakeTable, "commit", "format.commit", after_commit)
    _wrap(tracer, LakeTable, "manifest", "format.manifest")
    _wrap(tracer, DataFrameWriter, "parquet", "format.write_job")
    _wrap(tracer, DataFrame, "collect", "spark.collect")

    probe = KeyBloom.might_contain_any

    @functools.wraps(probe)
    def counted_probe(self, pairs):
        out = probe(self, pairs)
        tracer.count("bloom.probes")
        if not out:
            tracer.count("bloom.skipped")
        return out

    KeyBloom.might_contain_any = counted_probe
