"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one returns.

A workload generates its inputs from the seed before the session
starts (``generate``), may run untimed warm-up work that also checks
outputs (``warm``), runs timed operations until the run's seconds are
spent (``loop``), and checks its outputs afterwards (``check``). Every
timed operation goes through ``Run.op``, which times it and, in a
traced run, opens the root span its layer spans nest under.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import os
import random
import statistics
import time
from dataclasses import dataclass, field

from . import inputs

@dataclass
class Op:
    kind: str
    name: str
    seconds: float
    items: int = 0
    timed: bool = False


@dataclass
class Run:
    """State one run hands to its workload."""

    spark: object
    seconds: float
    tracer: object = None  # trace.Tracer in a traced run
    ops: list[Op] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)  # one per failed operation
    attempted: int = 0
    timing: bool = False  # set while the timed loop runs

    @contextlib.contextmanager
    def op(self, kind: str, name: str = "", items: int = 0):
        """Time one operation; an exception propagates to the workload,
        which records it with ``fail``. In a traced run a timed
        operation roots the spans the layer metrics count."""
        self.attempted += 1
        if self.tracer is None:
            span = contextlib.nullcontext()
        elif self.timing:
            span = self.tracer.operation(kind, label=name)
        else:
            span = self.tracer.span(kind, label=name)
        t0 = time.perf_counter()
        with span:
            yield
        self.ops.append(Op(kind, name, time.perf_counter() - t0, items, self.timing))

    def span(self, name: str):
        """A benchmark-side layer span; a no-op when not tracing."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def times(self, kind: str, timed: bool | None = None) -> list[float]:
        return [
            o.seconds
            for o in self.ops
            if o.kind == kind and (timed is None or o.timed == timed)
        ]

    def fail(self, problem: str) -> None:
        self.problems.append(problem)


def _row_hash(rows) -> tuple[int, int]:
    """(count, order-insensitive hash) of an iterable of tuples."""
    n, acc = 0, 0
    for r in rows:
        n += 1
        acc += int.from_bytes(
            hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest(), "big"
        )
    return n, acc % (1 << 64)


# =============================================================== coin_etl
class CoinEtl:
    """The paper's dataflow: DAG runs of ``run_batch_pipeline`` into a
    fresh ``CoinWarehouse``, each followed by a fresh time-windowed read
    and, every few commits, compaction and vacuum."""

    primary = "commit"
    first = "first_commit"
    N_BATCHES = 12
    N_COINS = 1000
    MAINTAIN_EVERY = 2
    TOP_N = 10

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.raw = os.path.join(work, "raw")
        self.root = os.path.join(work, "warehouse")
        self.raw_bytes = 0
        self.written: dict[str, int] = {}  # data file -> bytes, by listing
        self.dim: dict[str, tuple] = {}
        self.fact: dict[str, tuple] = {}
        self.reads: list[tuple[int, list, list]] = []
        self.counts: list[tuple[int, dict]] = []

    def generate(self) -> None:
        os.makedirs(self.raw, exist_ok=True)
        self.batches = inputs.coin_batches(self.seed, self.N_BATCHES, self.N_COINS)

    def warm(self, run: Run) -> None:
        pass

    # -- expected state: a pure-Python keep-latest reduction ------------
    def _apply(self, rows: list[dict]) -> None:
        for c in rows:
            key = c["symbol"]
            self.dim[key] = (key, c["name"], key, c["image"])
            self.fact[key] = (
                key,
                c["current_price"],
                c["market_cap"],
                c["market_cap_rank"],
                c["total_volume"],
                c["price_change_percentage_24h"],
                c["market_cap_change_percentage_24h"],
                c["high_24h"],
                c["low_24h"],
                c["price_change_24h"],
                c["circulating_supply"],
                c["total_supply"],
                c["max_supply"],
                c["last_updated"][:19],
            )

    def _expected_top(self, lo: str) -> list[tuple]:
        live = [f for f in self.fact.values() if f[13][:10] >= lo]
        live.sort(key=lambda f: (-f[5], f[0]))
        return [(f[0], self.dim[f[0]][1], f[5]) for f in live[: self.TOP_N]]

    def _list_files(self) -> None:
        for dirpath, _, files in os.walk(self.root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    self.written.setdefault(p, os.path.getsize(p))

    def loop(self, run: Run) -> None:
        from pyspark.sql import functions as F

        from cryptocoininsights_data_engineer_project_spark.pipeline import coins

        spark = run.spark
        wh = coins.CoinWarehouse(spark, self.root)
        glob = os.path.join(self.raw, "raw_coins_batch*.json")
        archive = os.path.join(self.work, "archive")
        t_end = time.perf_counter() + run.seconds
        for b, rows in enumerate(self.batches):
            if time.perf_counter() >= t_end and run.times(self.primary):
                break
            self.raw_bytes += inputs.write_coin_batch(
                rows, os.path.join(self.raw, f"raw_coins_batch{b}.json")
            )
            kind = self.first if b == 0 else self.primary
            with run.op(kind, f"batch{b}", items=len(rows)):
                out = coins.run_batch_pipeline(
                    spark, glob, wh, archive_dir=archive, purge=True
                )
            self._apply(rows)
            self.counts.append((b, out))
            lo = (
                max(dt.date.fromisoformat(c["last_updated"][:10]) for c in rows)
                - dt.timedelta(days=1)
            ).isoformat()
            with run.op("read", f"batch{b}"):
                got = (
                    wh.fact_snapshot()
                    .filter(F.col("p_date") >= F.lit(lo).cast("date"))
                    .join(wh.dim().select("id", "name"), "id")
                    .orderBy(F.desc("price_change_percentage_24h"), "id")
                    .limit(self.TOP_N)
                    .select("id", "name", "price_change_percentage_24h")
                    .collect()
                )
            self.reads.append((b, [tuple(r) for r in got], self._expected_top(lo)))
            if (b + 1) % self.MAINTAIN_EVERY == 0:
                with run.op("maintain", f"batch{b}"):
                    wh.compact(wh.dim_path)
                    wh.compact(wh.fact_path)
                self._list_files()  # before vacuum deletes superseded files
                with run.op("maintain", f"batch{b}"):
                    wh.vacuum(keep=2, retain_seconds=0.0)
        self._list_files()
        self.wh = wh

    def check(self, run: Run) -> None:
        from pyspark.sql import functions as F

        for b, out in self.counts:
            if out["raw_rows"] != self.N_COINS:
                run.fail(f"batch{b}: raw_rows {out['raw_rows']} != {self.N_COINS}")
        for b, got, want in self.reads:
            if got != want:
                run.fail(f"batch{b}: top movers differ: {got[:2]} vs {want[:2]}")
        dim = self.wh.dim().select("id", "name", "symbol", "image_url").collect()
        fact = self.wh.fact().withColumn(
            "last_updated", F.date_format("last_updated", "yyyy-MM-dd'T'HH:mm:ss")
        )
        from cryptocoininsights_data_engineer_project_spark.pipeline.coins import (
            METRIC_COLS,
        )

        fact = fact.select(*METRIC_COLS).collect()
        for name, got, want in (("dim", dim, self.dim), ("fact", fact, self.fact)):
            g, w = _row_hash(tuple(r) for r in got), _row_hash(want.values())
            if g != w:
                run.fail(f"{name}: (rows, hash) {g} != expected {w}")

    def extra(self, run: Run) -> dict:
        commits = run.times(self.primary) + run.times(self.first)
        return {
            "commit_p50_s": (_median(run.times(self.primary)), "s"),
            "commit_tail_s": (_tail(run.times(self.primary))[0], "s"),
            "read_p50_s": (_median(run.times("read")), "s"),
            "etl_rows_per_s": (
                sum(o.items for o in run.ops if o.timed) / max(1e-9, _timed_wall(run)),
                "rows/s",
            ),
            "write_amp": (sum(self.written.values()) / max(1, self.raw_bytes), "ratio"),
            "commits": (len(commits), "count"),
        }

    def gauges(self, run: Run) -> dict:
        from cryptocoininsights_data_engineer_project_spark.pipeline import manifest

        counts = []
        for path in (self.wh.dim_path, self.wh.fact_path):
            _, m = manifest.latest_manifest(run.spark, path)
            counts += [len(fl) for fl in (m or {}).get("partitions", {}).values()]
        return {
            "table.files_per_partition_max": max(counts, default=0),
            "table.files_per_partition_mean": _mean(counts),
            "table.live_files": sum(counts),
            "table.write_amp": sum(self.written.values()) / max(1, self.raw_bytes),
            "coins.fresh_read_p50_s": _median(run.times("read")),
        }


# ============================================================= llm_corpus
class LlmCorpus:
    """Corpus preparation: ``prepare_training_corpus`` on the base slice
    (building the fingerprint index), then ``extend_training_corpus``
    batches probing and growing that index. Packs go to the noop sink."""

    primary = "extend"
    first = "prepare"
    N_BASE = 300
    N_BATCH = 120
    N_BATCHES = 8

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.index = os.path.join(work, "index")
        self.results: list[tuple[str, set, dict, set]] = []

    def generate(self) -> None:
        from cryptocoininsights_data_engineer_project_spark.functions.textnorm import (
            STOPWORDS,
        )
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = self.N_BASE + self.N_BATCH * self.N_BATCHES
        rows, self.planted, bench = inputs.corpus(
            self.seed, n, STOPWORDS["en"], STOPWORDS["es"]
        )
        cols = ["doc_id", "text", "lang", "source", "n_chars"]

        def write(name, part):
            t = pa.table({c: [r[i] for r in part] for i, c in enumerate(cols)})
            pq.write_table(t, os.path.join(self.work, f"{name}.parquet"))

        write("benchmark", bench)
        write("base", rows[: self.N_BASE])
        self.slices = [("base", rows[: self.N_BASE])]
        for k in range(self.N_BATCHES):
            part = rows[self.N_BASE + k * self.N_BATCH : self.N_BASE + (k + 1) * self.N_BATCH]
            write(f"batch{k}", part)
            self.slices.append((f"batch{k}", part))

    def _read(self, run: Run, name: str):
        return run.spark.read.parquet(os.path.join(self.work, f"{name}.parquet"))

    def warm(self, run: Run) -> None:
        pass

    def loop(self, run: Run) -> None:
        from cryptocoininsights_data_engineer_project_spark.pipeline import corpus

        bench = self._read(run, "benchmark")
        t_end = time.perf_counter() + run.seconds
        for name, part in self.slices:
            if time.perf_counter() >= t_end and run.times(self.primary):
                break
            docs = self._read(run, name)
            kind = self.first if name == "base" else self.primary
            with run.op(kind, name, items=len(part)):
                if kind == self.first:
                    packs, stats = corpus.prepare_training_corpus(
                        docs, bench, index_dir=self.index
                    )
                else:
                    packs, stats = corpus.extend_training_corpus(docs, bench, self.index)
                packs.write.format("noop").mode("overwrite").save()
            ids = {r["doc_id"] for r in packs.select("doc_id").collect()}
            st = {r["stage"]: r["n"] for r in stats.collect()}
            self.results.append((name, ids, st, {r[0] for r in part}))

    def check(self, run: Run) -> None:
        packed: set[int] = set()
        gate = self.results[0][2]["after_quality_gate"] if self.results else 0
        if gate * 2 <= self.N_BASE:  # else dedup and packing have too little to do
            run.fail(f"quality gate kept {gate} of {self.N_BASE} base docs")
        for name, ids, st, inp in self.results:
            order = [st.get(k) for k in ("input", "batch_input")]
            first = next(v for v in order if v is not None)
            chain = [
                first,
                st["after_quality_gate"],
                st["after_near_dup"],
                st["after_decontaminate"],
            ]
            if first != len(inp) or any(a < b for a, b in zip(chain, chain[1:])):
                run.fail(f"{name}: lineage not monotone from {len(inp)}: {st}")
            if st["after_decontaminate"] != len(ids):
                run.fail(f"{name}: {len(ids)} packed docs, stats say {st}")
            if not ids <= inp:
                run.fail(f"{name}: {len(ids - inp)} packed doc ids not in the input")
            packed |= ids
        both = [p for p in self.planted if p[0] in packed and p[1] in packed]
        if both:
            run.fail(f"{len(both)} planted duplicate pairs fully packed, e.g. {both[:3]}")

    def extra(self, run: Run) -> dict:
        return {
            "prepare_s": (_median(run.times(self.first)), "s"),
            "extend_p50_s": (_median(run.times(self.primary)), "s"),
            "corpus_docs_per_s": (
                sum(o.items for o in run.ops if o.timed) / max(1e-9, _timed_wall(run)),
                "docs/s",
            ),
            "extends": (len(run.times(self.primary)), "count"),
        }

    def gauges(self, run: Run) -> dict:
        total = 0
        for dirpath, _, files in os.walk(self.index):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return {"dedup.index_bytes": total}


# =============================================================== registry
# Short analytical queries where fixed per-query cost dominates: one each
# from TPC-H, the market-analytics family and the MERGE family. The run
# budget (a fresh JVM per run, 22 runs per workload) allows three.
SQL_QUERIES = ("q3_shipping_priority", "rsi_14", "merge_fact")
# Decode queries whose time sits in Python row kernels in mapInPandas:
# image (PNG), PDF text behind AES, and web archive (WARC) records.
DECODE_QUERIES = ("multimodal_png_pixels", "pdf_text_extract_aes", "warc_extract")
# The TPC-H-ish test tables at scale 0.01, shipped with the benchmark and
# only ever read.
REGISTRY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class _Collected:
    """A collected result with the DataFrame surface the oracle
    comparison reads, so the warm pass executes each query once."""

    def __init__(self, df, rows):
        self.columns, self.dtypes, self._rows = df.columns, df.dtypes, rows

    def collect(self):
        return self._rows


class Registry:
    """Registry queries over the shipped tables: an untimed warm pass
    that also checks every result against its DuckDB twin and a second
    untimed pass (the first repeat of a query is still JIT-warming), then
    timed passes of (registry fn call + noop write) until the run's
    seconds are spent, at least ``MIN_PASSES``. The seed only permutes
    the order of each pass."""

    primary = "query"
    first = "cold_query"
    decode_queries = frozenset(DECODE_QUERIES)
    MIN_PASSES = 2

    def __init__(self, seed: int, work: str):
        self.rng = random.Random(seed)
        self.sf = REGISTRY_DATA
        self.names = list(SQL_QUERIES + DECODE_QUERIES)

    def _order(self) -> list[str]:
        names = list(self.names)
        self.rng.shuffle(names)
        return names

    def generate(self) -> None:
        pass  # the tables are shipped

    def warm(self, run: Run) -> None:
        from tests.oracle_compare import compare, duck_connection

        from cryptocoininsights_data_engineer_project_spark import queries

        fns, oracle = queries.queries(), queries.oracle_sql()
        con = duck_connection(self.sf)
        try:
            for name in self._order():
                try:
                    with run.op(self.first, name):
                        df = fns[name](run.spark, self.sf)
                        rows = df.collect()
                except Exception as e:  # a query that raises fails its check
                    run.fail(f"{name}: raised {type(e).__name__}: {e}"[:400])
                    continue
                problems = compare(_Collected(df, rows), con, oracle[name], name)
                if problems:
                    run.fail("; ".join(problems))
        finally:
            con.close()
        self._pass(run, fns, "warm_query")

    def _pass(self, run: Run, fns, kind: str) -> None:
        for name in self._order():
            with run.op(kind, name, items=1):
                with run.span("queries.build"):
                    df = fns[name](run.spark, self.sf)
                with run.span("queries.exec"):
                    df.write.format("noop").mode("overwrite").save()

    def loop(self, run: Run) -> None:
        from cryptocoininsights_data_engineer_project_spark import queries

        fns = queries.queries()
        t_end = time.perf_counter() + run.seconds
        passes = 0
        while passes < self.MIN_PASSES or time.perf_counter() < t_end:
            passes += 1
            self._pass(run, fns, self.primary)

    def check(self, run: Run) -> None:
        pass  # done against DuckDB in the warm pass

    def _family(self, run: Run, family) -> list[float]:
        return [o.seconds for o in run.ops if o.kind == self.primary and o.name in family]

    def extra(self, run: Run) -> dict:
        q = run.times(self.primary)
        return {
            "query_p50_s": (_median(q), "s"),
            "query_tail_s": (_tail(q)[0], "s"),
            "queries_per_min": (60.0 * len(q) / max(1e-9, sum(q)), "1/min"),
            "sql_query_p50_s": (_median(self._family(run, SQL_QUERIES)), "s"),
            "decode_query_p50_s": (_median(self._family(run, DECODE_QUERIES)), "s"),
            "queries": (len(q), "count"),
        }

    def gauges(self, run: Run) -> dict:
        return {
            "queries.sql_p50_s": _median(self._family(run, SQL_QUERIES)),
            "queries.decode_p50_s": _median(self._family(run, DECODE_QUERIES)),
        }


WORKLOADS = {"coin_etl": CoinEtl, "llm_corpus": LlmCorpus, "registry": Registry}


# ------------------------------------------------------------- helpers
def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _tail(xs) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, or
    the maximum when the sample is too small for any."""
    xs = sorted(xs)
    if not xs:
        return 0.0, "none"
    for p in (99, 95, 90):
        if len(xs) * (100 - p) / 100 >= 10:
            return statistics.quantiles(xs, n=100, method="inclusive")[p - 1], f"p{p}"
    return xs[-1], "max"


def _timed_wall(run: Run) -> float:
    return sum(o.seconds for o in run.ops if o.timed)
