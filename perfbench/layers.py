"""Per-layer metrics of a traced run.

Unless noted, each value is per unit of work: the run's total divided
by its timed units (commits for coin_etl, corpus calls for llm_corpus,
queries for registry), so runs that completed different numbers of
units compare. ``.s`` is the inclusive duration of the layer's spans.
``.jobs`` counts Spark jobs whose innermost open span was that layer's,
so a job counts once, under the deepest layer that launched it. A layer
a workload never calls reports 0 there.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .trace import Job, Span, attribute, union_seconds

UNITS: dict[str, str] = {
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.shuffle_read_bytes": "bytes",
    "engine.shuffle_write_bytes": "bytes",
    "engine.spill_bytes": "bytes",
    "engine.driver_gap_s": "s",
    "engine.peak_rss_mb": "MB",
    "engine.live_heap_mb": "MB",
    "session.import_s": "s",
    "session.cold_start_s": "s",
    "session.get_spark_s": "s",
    "catalog.table.calls": "count",
    "catalog.table.s": "s",
    "catalog.table.jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "queries.exec_jobs": "count",
    "queries.sql_p50_s": "s",
    "queries.decode_p50_s": "s",
    "spread.calls": "count",
    "spread.s": "s",
    "spread.jobs": "count",
    "spread.repartitioned_ratio": "ratio",
    "coins.run_batch_pipeline.s": "s",
    "coins.upsert_batch.s": "s",
    "coins.non_merge_s": "s",
    "coins.compact.s": "s",
    "coins.vacuum.s": "s",
    "coins.fact_snapshot.s": "s",
    "coins.fresh_read_p50_s": "s",
    "table.upsert.s": "s",
    "table.upsert.jobs": "count",
    "table.buckets_touched": "count",
    "table.files_per_partition_max": "count",
    "table.files_per_partition_mean": "count",
    "table.live_files": "count",
    "table.write_amp": "ratio",
    "manifest.latest.calls": "count",
    "manifest.latest.s": "s",
    "manifest.publish.calls": "count",
    "manifest.publish.lost": "ratio",
    "manifest.stage_commit_files.s": "s",
    "manifest.stage_commit_files.bytes": "bytes",
    "manifest.snapshot_read.s": "s",
    "manifest.vacuum.files_deleted": "count",
    "corpus.prepare.s": "s",
    "corpus.extend.s": "s",
    "corpus.materialize.calls": "count",
    "corpus.materialize.s": "s",
    "corpus.materialize.jobs": "count",
    "dedup.minhash_candidate_pairs.s": "s",
    "dedup.connected_components.s": "s",
    "dedup.cc_rounds": "count",
    "dedup.decontaminate.s": "s",
    "dedup.incremental_dedup_pairs.s": "s",
    "dedup.write_fingerprint_index.s": "s",
    "dedup.index_bytes": "bytes",
    "textops.corpus_filter.s": "s",
    "textops.pack_sequences.s": "s",
    "decode.exec_s": "s",
    "decode.executor_run_minus_cpu_s": "s",
    "trace.op_p50_s": "s",
}

# Not per unit: means per call, gauges read at the end of the run, or
# figures the workload or the session set-up computes itself.
_PER_CALL = {"corpus.prepare.s": "corpus.prepare", "corpus.extend.s": "corpus.extend"}


def compute(
    spans: list[Span],
    jobs: list[Job],
    units: int,
    decode_queries: set[str],
    given: dict[str, float],
) -> dict[str, float]:
    owner = attribute(spans, jobs)
    timed = [i for i, s in enumerate(spans) if s.op is not None]
    by_name: dict[str, list[int]] = defaultdict(list)
    for i in timed:
        by_name[spans[i].name].append(i)
    u = max(1, units)

    def dur(name: str) -> float:
        return sum(spans[i].dur for i in by_name[name])

    def njobs(name: str) -> int:
        return sum(len(owner.get(i, [])) for i in by_name[name])

    def attr_sum(name: str, key: str) -> float:
        return sum(spans[i].attrs.get(key, 0) for i in by_name[name])

    op_jobs = [j for i in timed for j in owner.get(i, [])]
    by_op: dict[int, list[Job]] = defaultdict(list)
    for i in timed:
        by_op[spans[i].op].extend(owner.get(i, []))
    gap = 0.0
    for i in timed:
        s = spans[i]
        if s.parent is None:
            ivs = [(max(j.submit, s.start), min(j.end, s.end)) for j in by_op[s.op]]
            gap += s.dur - union_seconds([iv for iv in ivs if iv[1] > iv[0]])

    m: dict[str, float] = {
        "engine.jobs": len(op_jobs) / u,
        "engine.stages": sum(j.n_stages for j in op_jobs) / u,
        "engine.tasks": sum(j.tasks for j in op_jobs) / u,
        "engine.executor_run_s": sum(j.run_s for j in op_jobs) / u,
        "engine.executor_cpu_s": sum(j.cpu_s for j in op_jobs) / u,
        "engine.gc_s": sum(j.gc_s for j in op_jobs) / u,
        "engine.shuffle_read_bytes": sum(j.shuffle_read for j in op_jobs) / u,
        "engine.shuffle_write_bytes": sum(j.shuffle_write for j in op_jobs) / u,
        "engine.spill_bytes": sum(j.spill for j in op_jobs) / u,
        "engine.driver_gap_s": gap / u,
    }
    for name in (
        "catalog.table",
        "spread",
        "manifest.latest",
        "manifest.publish",
        "corpus.materialize",
    ):
        m[f"{name}.calls"] = len(by_name[name]) / u
    for name in (
        "catalog.table",
        "spread",
        "coins.run_batch_pipeline",
        "coins.upsert_batch",
        "coins.compact",
        "coins.vacuum",
        "coins.fact_snapshot",
        "table.upsert",
        "manifest.latest",
        "manifest.stage_commit_files",
        "manifest.snapshot_read",
        "corpus.materialize",
        "dedup.minhash_candidate_pairs",
        "dedup.connected_components",
        "dedup.decontaminate",
        "dedup.incremental_dedup_pairs",
        "dedup.write_fingerprint_index",
        "textops.corpus_filter",
        "textops.pack_sequences",
    ):
        m[f"{name}.s"] = dur(name) / u
    for name in ("catalog.table", "spread", "table.upsert", "corpus.materialize"):
        m[f"{name}.jobs"] = njobs(name) / u
    for key, name in _PER_CALL.items():
        m[key] = dur(name) / max(1, len(by_name[name]))
    m["queries.build_s"] = dur("queries.build") / u
    m["queries.build_jobs"] = njobs("queries.build") / u
    m["queries.exec_s"] = dur("queries.exec") / u
    m["queries.exec_jobs"] = njobs("queries.exec") / u
    calls = len(by_name["spread"])
    m["spread.repartitioned_ratio"] = attr_sum("spread", "repartitioned") / max(1, calls)
    m["coins.non_merge_s"] = m["coins.run_batch_pipeline.s"] - m["coins.upsert_batch.s"]
    touched = [
        spans[i].attrs["buckets"]
        for i in by_name["manifest.publish"]
        if "buckets" in spans[i].attrs
    ]
    m["table.buckets_touched"] = statistics.mean(touched) if touched else 0.0
    pubs = len(by_name["manifest.publish"])
    m["manifest.publish.lost"] = (
        sum(1 for i in by_name["manifest.publish"] if not spans[i].attrs.get("won"))
        / max(1, pubs)
    )
    m["manifest.stage_commit_files.bytes"] = (
        attr_sum("manifest.stage_commit_files", "bytes") / u
    )
    m["manifest.vacuum.files_deleted"] = attr_sum("manifest.vacuum", "files_deleted") / u
    m["dedup.cc_rounds"] = attr_sum("dedup.connected_components", "rounds") / u

    # decode kernels: the exec span of each decode-family query
    execs, py = [], []
    for i in by_name["queries.exec"]:
        s = spans[i]
        if spans[s.parent].attrs.get("label") in decode_queries:
            execs.append(s.dur)
            py.append(sum(j.run_s - j.cpu_s for j in owner.get(i, [])))
    m["decode.exec_s"] = statistics.mean(execs) if execs else 0.0
    m["decode.executor_run_minus_cpu_s"] = statistics.mean(py) if py else 0.0

    for name in UNITS:
        m.setdefault(name, 0.0)
    m.update(given)
    return {name: m[name] for name in UNITS}
