"""Per-layer metrics of a traced run, computed from the recorded spans.

Each commit-level metric is the median over the traced commits
(``pipeline.apply_batch`` spans, one per commit); read-level metrics are medians over traced point reads.
A layer a workload never enters reports 0.
"""

from __future__ import annotations

import statistics
from time import perf_counter

from perfbench.tracing import Tracer


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _first(tr: Tracer, i: int, name: str) -> int | None:
    return next((j for j in tr.descendants(i) if tr.spans[j].name == name), None)


def _sum(tr: Tracer, ids: list[int], name: str) -> float:
    return sum(tr.spans[j].dur for j in ids if tr.spans[j].name == name)


def commit_sample(tr: Tracer, i: int, winners: dict) -> dict[str, float]:
    s = tr.spans[i]
    desc = tr.descendants(i)
    upsert = _first(tr, i, "merge.upsert")
    append = _first(tr, i, "merge.append")
    writer = upsert if upsert is not None else append
    prune = _first(tr, i, "merge.prune")
    stage = _first(tr, i, "format.stage_write")
    commit = _first(tr, i, "format.commit")
    prune_attrs = tr.spans[prune].attrs if prune is not None else {}
    commit_attrs = tr.spans[commit].attrs if commit is not None else {}
    keys = s.attrs.get("keys") or []
    n_win = winners.get((keys[0], keys[-1])) if keys else None
    rows = commit_attrs.get("rows_written", 0)
    return {
        "pipeline.apply_batch_s": s.dur,
        "pipeline.unattributed_s": s.dur - tr.layer_time(i),
        "merge.upsert_self_s": tr.self_time(upsert) if upsert is not None else 0.0,
        "merge.append_self_s": tr.self_time(append) if append is not None else 0.0,
        "merge.prepass_s": sum(
            c.dur for c in tr.children(writer) if c.name == "spark.collect"
        ) if writer is not None else 0.0,
        "merge.prune_s": tr.spans[prune].dur if prune is not None else 0.0,
        "merge.files_live": s.attrs.get("files_live", 0),
        "merge.candidate_files": prune_attrs.get("candidate_files", 0),
        "merge.bloom_skipped_files": prune_attrs.get("bloom.skipped", 0),
        "merge.rows_rewritten": rows,
        "merge.rewrite_amplification": rows / n_win if n_win else 0.0,
        "extract.rows": s.attrs.get("udf_rows", 0),
        "extract.python_s": s.attrs.get("udf_s", 0.0),
        "format.write_job_s": _sum(tr, desc, "format.write_job"),
        "format.stats_bloom_s": tr.self_time(stage) if stage is not None else 0.0,
        "format.commit_s": tr.spans[commit].dur if commit is not None else 0.0,
        "format.manifest_reads": sum(tr.spans[j].name == "format.manifest" for j in desc),
        "format.manifest_bytes": commit_attrs.get("manifest_bytes", 0),
        "format.bytes_written": commit_attrs.get("bytes_written", 0),
        "format.files_added": commit_attrs.get("files_added", 0),
        "bloom.probes": prune_attrs.get("bloom.probes", 0),
        "spark.jobs_per_commit": s.attrs.get("jobs", 0),
        "spark.stages_per_commit": s.attrs.get("stages", 0),
        "spark.tasks_per_commit": s.attrs.get("tasks", 0),
    }


UNITS = {
    "pipeline.plan_s": "s",
    "pipeline.apply_batch_s": "s",
    "pipeline.unattributed_s": "s",
    "merge.upsert_self_s": "s",
    "merge.append_self_s": "s",
    "merge.prepass_s": "s",
    "merge.prune_s": "s",
    "merge.files_live": "count",
    "merge.candidate_files": "count",
    "merge.bloom_skipped_files": "count",
    "merge.rows_rewritten": "count",
    "merge.rewrite_amplification": "ratio",
    "merge.resolve_read_s": "s",
    "extract.us_per_row": "us",
    "extract.rows": "count",
    "extract.python_s": "s",
    "format.write_job_s": "s",
    "format.stats_bloom_s": "s",
    "format.commit_s": "s",
    "format.manifest_reads": "count",
    "format.manifest_bytes": "bytes",
    "format.bytes_written": "bytes",
    "format.files_added": "count",
    "format.read_files": "count",
    "bloom.probes": "count",
    "bloom.skip_ratio": "ratio",
    "spark.jobs_per_commit": "count",
    "spark.stages_per_commit": "count",
    "spark.tasks_per_commit": "count",
    "trace.commits": "count",
    "trace.reads": "count",
}


def extract_us_per_row(spark, input_dir: str, span: int, rows: int = 20_000) -> float:
    """``extract_text_udf`` over a cached sample of the workload's pages,
    minus a plain scan of the same column, per row (median of 3 each)."""
    import pyspark.sql.functions as F

    from airbyte_spark.functions.extract import extract_text
    from airbyte_spark.sources.changelog import read_changelog

    pages = (
        read_changelog(spark, input_dir, span).select("html").limit(rows)
        .repartition(spark.sparkContext.defaultParallelism).cache()
    )
    n = pages.count()

    def best(col) -> float:
        times = []
        for _ in range(3):
            t = perf_counter()
            pages.select(col.alias("o")).write.format("noop").mode("overwrite").save()
            times.append(perf_counter() - t)
        return statistics.median(times)

    udf = best(extract_text(F.col("html")))
    scan = best(F.length(F.col("html")))
    pages.unpersist()
    return max(0.0, udf - scan) / max(1, n) * 1e6


def layer_metrics(tr: Tracer, run, spark, input_dir, shape) -> dict:
    # set-up spans (op None) only feed the planning-pass metric
    commits = [
        i for i, s in enumerate(tr.spans)
        if s.name == "pipeline.apply_batch" and s.op is not None
    ]
    samples = [commit_sample(tr, i, run.winners) for i in commits]
    plans = [s.dur for s in tr.spans if s.name == "pipeline.plan"]
    reads = [i for i, s in enumerate(tr.spans) if s.name == "op.read"]
    resolve = [
        tr.spans[i].dur for i in reads
        if any(tr.spans[j].name == "merge.resolve_plan" for j in tr.descendants(i))
    ]
    read_files = [run.ops[tr.spans[i].op].files for i in reads]
    probes = tr.counts.get("bloom.probes", 0)
    out = {k: _median(s[k] for s in samples) for k in (samples[0] if samples else {})}
    out.update({
        "pipeline.plan_s": _median(plans),
        "merge.resolve_read_s": _median(resolve),
        "format.read_files": _median(read_files),
        "bloom.skip_ratio": tr.counts.get("bloom.skipped", 0) / probes if probes else 0.0,
        "extract.us_per_row": extract_us_per_row(spark, input_dir, shape.segment_events),
        "trace.commits": len(samples),
        "trace.reads": len(reads),
    })
    return {k: (out.get(k, 0.0), unit) for k, unit in UNITS.items()}
