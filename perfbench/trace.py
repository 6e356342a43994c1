"""Spans around calls into the package's public functions, plus an
offline reader of Spark's event log.

The traced run patches the functions ``install`` lists where their
callers look them up, records one span per call (name, start, end,
parent), and after the session stops parses the event log.
With one client, every job can be attributed to the innermost span open
at its submission time. The package itself is not edited.

Units, checked against the event log written by this Spark: task
``Executor Run Time`` and ``JVM GC Time`` are milliseconds, ``Executor
CPU Time`` is nanoseconds, job and stage times are epoch milliseconds.
All executor figures are task-seconds summed over tasks, not wall time:
on ``local[N]`` they can exceed wall time by up to N. The mapInPandas
accumulators "time to run Python workers" and "time to initialize
Python workers" are milliseconds too, but on two executions of
pdf_text_extract_aes they summed to 57.4 s and 56.3 s against 38.4 s of
task run time: they overlap each other and the tasks' own time, so they
are not reported. Python-side time is task run time minus JVM CPU time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans of one timed operation share its
    ``op`` number; nested spans name their parent by index."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._op: int | None = None
        self._ops = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent, op=self._op, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def operation(self, name: str, **attrs):
        """A timed operation of the workload: the root of its spans."""
        self._op, self._ops = self._ops, self._ops + 1
        try:
            with self.span(name, **attrs) as s:
                yield s
        finally:
            self._op = None

    def open_names(self) -> list[str]:
        return [self.spans[i].name for i in self._stack]

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a function that records span
        ``name`` around each call; ``on_result(span, args, kwargs,
        result)`` may attach attributes."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, kwargs, out)
                return out

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, fn) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


# ------------------------------------------------------------ patching
def _staged_bytes(span, args, kwargs, out) -> None:
    root = args[1] if len(args) > 1 else kwargs["root"]
    span.attrs["bytes"] = sum(
        os.path.getsize(os.path.join(root, rel, f))
        for rel, files in out.items()
        for f in files
    )


def install(tracer: Tracer) -> None:
    """Patch every measured public function of the package."""
    from cryptocoininsights_data_engineer_project_spark import catalog, queries
    from cryptocoininsights_data_engineer_project_spark.operators import dedup, textops
    from cryptocoininsights_data_engineer_project_spark.pipeline import (
        coins,
        corpus,
        manifest,
        table,
    )

    w = tracer.wrap
    w(catalog, "table", "catalog.table")

    def spread_result(span, args, kwargs, out):
        span.attrs["repartitioned"] = out is not args[0]

    # spread is imported by name, so patch each importer's binding; no
    # workload reaches operators.similarity, so its binding is left alone
    w(queries, "_spread", "spread", spread_result)
    for mod in (textops, dedup):
        w(mod, "spread", "spread", spread_result)

    w(coins, "run_batch_pipeline", "coins.run_batch_pipeline")
    for meth in ("upsert_batch", "compact", "vacuum", "fact_snapshot"):
        w(coins.CoinWarehouse, meth, f"coins.{meth}")
    w(table.BucketedTable, "upsert", "table.upsert")

    latest = manifest.latest_manifest
    w(manifest, "latest_manifest", "manifest.latest")
    publish = manifest.publish_manifest

    def traced_publish(spark, root, version, m):
        # buckets an upsert rewrote: diff against the previous snapshot,
        # read unpatched and outside the span so it is not counted
        old = None
        if "table.upsert" in tracer.open_names():
            old = (latest(spark, root)[1] or {}).get("partitions", {})
        with tracer.span("manifest.publish") as s:
            won = publish(spark, root, version, m)
        s.attrs["won"] = won
        if won and old is not None:
            new = m["partitions"]
            changed = {d for d in new if new[d] != old.get(d)} | (set(old) - set(new))
            s.attrs["buckets"] = len({table._bucket_of(d) for d in changed})
        return won

    tracer.patch(manifest, "publish_manifest", traced_publish)
    w(manifest, "stage_commit_files", "manifest.stage_commit_files", _staged_bytes)
    w(manifest, "snapshot_read", "manifest.snapshot_read")

    def vacuumed(span, args, kwargs, out):
        span.attrs["files_deleted"] = out.get("data_files", 0)

    w(manifest, "vacuum", "manifest.vacuum", vacuumed)

    w(corpus, "prepare_training_corpus", "corpus.prepare")
    w(corpus, "extend_training_corpus", "corpus.extend")
    w(corpus, "_materialize", "corpus.materialize")

    def cc_rounds(span, args, kwargs, out):
        span.attrs["rounds"] = out[1]

    for fn in (
        "minhash_candidate_pairs",
        "decontaminate",
        "incremental_dedup_pairs",
        "write_fingerprint_index",
    ):
        w(dedup, fn, f"dedup.{fn}")
    w(dedup, "connected_components", "dedup.connected_components", cc_rounds)
    w(textops, "corpus_filter", "textops.corpus_filter")
    w(textops, "pack_sequences", "textops.pack_sequences")


# ----------------------------------------------------------- event log
@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float
    stages: list[int]
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    n_stages: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs of the newest application log in ``log_dir`` (uncompressed,
    non-rolling), each with the task metrics of the stages it ran."""
    logs = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not logs:
        raise FileNotFoundError(f"no Spark event log in {log_dir}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_done: set[int] = set()
    tasks: list[dict] = []
    with open(logs[-1]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                j = Job(e["Job ID"], e["Submission Time"] / 1e3, 0.0, e["Stage IDs"])
                jobs[j.id] = j
                for s in j.stages:
                    stage_job.setdefault(s, j.id)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                stage_done.add(e["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                tasks.append(e)
    for s in stage_done:
        if s in stage_job:
            jobs[stage_job[s]].n_stages += 1
    for e in tasks:
        j = jobs.get(stage_job.get(e["Stage ID"], -1))
        if j is None:
            continue
        m = e["Task Metrics"]
        rd = m.get("Shuffle Read Metrics", {})
        j.tasks += 1
        j.run_s += m.get("Executor Run Time", 0) / 1e3
        j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        j.gc_s += m.get("JVM GC Time", 0) / 1e3
        j.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        j.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.submit)


def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Map span index -> jobs whose innermost open span it was at job
    submission (one client, so submission order is call order)."""
    out: dict[int, list[Job]] = {}
    for j in jobs:
        best = None
        for i, s in enumerate(spans):
            if s.start <= j.submit <= s.end and (best is None or s.start >= spans[best].start):
                best = i
        if best is not None:
            out.setdefault(best, []).append(j)
    return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
