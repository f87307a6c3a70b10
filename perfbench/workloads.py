"""The benchmark workloads.

Each workload is a closed loop with one client on ``local[nproc]``:

- ``bi_suite`` — the analyst read path: registered headline queries
  over generated query tables, each materialized through the noop sink.
  One operation is one query; the seed permutes query order per pass.
  The warm pass is the output check: every query's collected rows
  against its registered DuckDB oracle.
- ``warehouse_build`` — the reference's ELT: land the bronze reviews as
  micro-batches through ``incremental_exact_dedup_batch`` (many small
  appends and a compaction), ``build_warehouse`` over the landed corpus
  (cache policy), then ``Warehouse.publish`` into a fresh snapshot root
  (a few large overwrites).  One operation is one landing micro-batch;
  only the last batch compacts, so the median batch is a plain append.
  Every pass, the warm one included, starts from empty tables and is
  checked afterwards.

A workload writes its inputs before Spark starts (:meth:`prepare`),
loads what it needs in the session (:meth:`load`), runs one untimed
warm pass (:meth:`warm`, with its checks), then timed passes
(:meth:`run_pass`), each followed by untimed checks (:meth:`check_pass`).
In traced runs :meth:`install` wraps the layer entry points and
:meth:`layers` turns one pass's spans into per-layer numbers.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
from common import count_manifest_files, cpu_between, dir_mb, median

# Headline queries the bi_suite runs: the subset of bench.py's HEADLINE
# list that keeps a run under a minute on a 4-core box.  One query each
# of scan + aggregate, joins, windows, exact dedup, vector top-k and
# sessionization, plus the build-heavy LLM-prep pipeline (eager gate,
# count and pin jobs before it returns a DataFrame).  An odd count keeps the median latency on one
# query rather than between two.
BI_QUERIES = (
    "q_a1_pricing_summary",
    "q_j5_regional_revenue",
    "q_w3_lag_monthly_trend",
    "q_dedup_exact_content",
    "q_ann_cosine_topk",
    "q_stream_sessionize",
    "q_llm_prep_pipeline",
)

SCALES = {
    "run": {"bi_suite": {"sf": 0.01},
            "warehouse_build": {"reviews": 4_000, "batches": 6,
                                "compact_every": 5}},
    "smoke": {"bi_suite": {"sf": 0.001},
              "warehouse_build": {"reviews": 2_000, "batches": 3,
                                  "compact_every": 2}},
}


def _canon(v):
    import datetime as dt

    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def result_digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and an order-insensitive value hash: columns sorted by
    name, cells canonicalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)
    return len(canon), hashlib.sha256(repr(canon).encode()).hexdigest()


class Workload:
    name = ""
    # typical wall time of one timed pass on a 4-core box: a run makes
    # round(seconds / PASS_S) timed passes (at least one).  The count
    # depends on nothing but --seconds, so every run of a workload does
    # the same work whatever the machine's speed.
    PASS_S: float

    def __init__(self, run_dir: str, seed: int, scale: dict):
        self.run_dir = run_dir
        self.seed = seed
        self.scale = scale
        self.spark = self.tracer = None
        self.dest, self.inputs = None, {}

    def span(self, name, **kw):
        return self.tracer.span(name, **kw) if self.tracer else contextlib.nullcontext()

    def passes_for(self, seconds: float) -> int:
        return max(1, round(seconds / self.PASS_S))

    def prepare(self, dest: str) -> None:
        """Write the seeded inputs into ``dest`` (no Spark needed) and
        record their sizes in ``inputs``."""
        raise NotImplementedError

    def load(self, spark, tracer=None) -> None:
        """Session-side set-up before the warm pass."""
        self.spark, self.tracer = spark, tracer

    def install(self) -> None:
        """Wrap the layer entry points this workload reaches."""
        from data_warehouse_morrocan_banks_spark.operators import lifecycle

        self.tracer.wrap(lifecycle, "pin", "operators.lifecycle.pin")
        self.tracer.wrap(lifecycle, "pin_local_checkpoint", "operators.lifecycle.pin")

    def warm(self) -> tuple[int, list[str]]:
        """The untimed pass before the timed ones, with the checks a
        timed pass gets: (operations and checks made, failures)."""
        raise NotImplementedError

    def run_pass(self, i: int) -> list[float]:
        """One timed pass; returns the operation latencies."""
        raise NotImplementedError

    def check_pass(self, i: int) -> tuple[int, list[str]]:
        return 0, []

    def stored_mb(self, i: int) -> float:
        raise NotImplementedError

    def layers(self, pass_span, i: int) -> dict:
        """Per-layer numbers of one traced pass."""
        raise NotImplementedError

    def detail(self) -> dict:
        raise NotImplementedError


class BiSuite(Workload):
    name = "bi_suite"
    PASS_S = 5.0

    def prepare(self, dest):
        rows = datagen.write_tpch_tables(dest, self.seed, self.scale["sf"])
        self.dest = dest
        self.inputs = {"sf": self.scale["sf"], "rows": rows, "mb": dir_mb(dest)}

    def load(self, spark, tracer=None):
        super().load(spark, tracer)
        from data_warehouse_morrocan_banks_spark import registry

        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()

    def install(self):
        from data_warehouse_morrocan_banks_spark.sources import readers

        super().install()
        self.tracer.wrap(readers, "table", "sources.readers.table", jobs=True)

    def warm(self):
        """The output check: run every query once, collecting its rows,
        and compare them with the DuckDB oracle on the same files.  It
        pays the JIT and code-generation cost of the plans the timed
        passes run, which differ from these only in the sink."""
        import duckdb

        con = duckdb.connect()
        for t in datagen.TPCH_TABLES:
            path = os.path.join(self.dest, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        failures = []
        self.digests = {}
        for q in BI_QUERIES:
            df = self.queries[q](self.spark, self.dest)
            got = result_digest(df.columns, [tuple(r) for r in df.collect()])
            rel = con.sql(self.oracles[q])
            want = result_digest(list(rel.columns), rel.fetchall())
            self.digests[q] = {"rows": got[0], "hash": got[1][:16],
                               "match": got == want}
            if got != want:
                failures.append(f"{q}: spark rows={got[0]} hash={got[1][:12]} "
                                f"oracle rows={want[0]} hash={want[1][:12]}")
        con.close()
        return len(BI_QUERIES), failures

    def run_pass(self, i):
        order = np.random.default_rng([self.seed, 10, i + 10]).permutation(len(BI_QUERIES))
        lat = []
        for k in order:
            q = BI_QUERIES[k]
            fn = self.queries[q]
            if self.tracer is None:
                t0 = time.perf_counter()
                fn(self.spark, self.dest).write.format("noop").mode("overwrite").save()
                lat.append(time.perf_counter() - t0)
                continue
            tr = self.tracer
            with tr.span("query", query=q) as qs:
                s0 = tr.snapshot()
                with tr.span("queries.build", jobs=True) as b:
                    df = fn(self.spark, self.dest)
                s1 = tr.snapshot()
                with tr.span("queries.exec", jobs=True) as e:
                    df.write.format("noop").mode("overwrite").save()
                s2 = tr.snapshot()
                b.attrs["cpu_s"] = cpu_between(s0, s1)
                e.attrs["cpu_s"] = cpu_between(s1, s2)
                with tr.overhead():
                    e.attrs["catalyst_ms"] = catalyst_ms(df)
            lat.append(tr.busy(qs))
        return lat

    def stored_mb(self, i):
        # the noop sink stores nothing: the suite's stored bytes are its
        # input tables, which only a change to the generator moves
        return self.inputs["mb"]

    def layers(self, ps, i):
        tr = self.tracer
        sub = tr.subtree(ps)
        reads = [s for s in sub if s.name == "sources.readers.table"]
        builds = [s for s in sub if s.name == "queries.build"]
        execs = [s for s in sub if s.name == "queries.exec"]
        build_cpu = [s.attrs["cpu_s"] for s in builds]
        exec_cpu = [s.attrs["cpu_s"] for s in execs]
        return {
            "sources.readers.calls": len(reads),
            "sources.readers.s": sum(tr.busy(s) for s in reads),
            "sources.readers.jobs": sum(s.attrs["jobs"] for s in reads),
            "queries.build_s": sum(tr.busy(s) for s in builds),
            "queries.build_jobs": sum(s.attrs["jobs"] for s in builds + reads),
            "queries.build_cpu_s": None if None in build_cpu else sum(build_cpu),
            "queries.exec_s": sum(tr.busy(s) for s in execs),
            "queries.exec_cpu_s": None if None in exec_cpu else sum(exec_cpu),
            "plans.catalyst_ms": sum(s.attrs["catalyst_ms"] for s in execs),
        }

    def detail(self):
        return {"queries": list(BI_QUERIES), "oracle": self.digests}


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s plan, from
    Spark's ``QueryExecution`` phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for p in ("analysis", "optimization", "planning"):
        o = phases.get(p)
        if o.isDefined():
            total += o.get().durationMs()
    return total


class WarehouseBuild(Workload):
    name = "warehouse_build"
    PASS_S = 17.0

    def prepare(self, dest):
        os.makedirs(dest)
        batches, counts = datagen.landing_batches(
            self.seed, self.scale["reviews"], self.scale["batches"])
        for j, b in enumerate(batches):
            pq.write_table(b, os.path.join(dest, f"batch{j:03d}.parquet"))
        self.dest = dest
        self.inputs = {**self.scale, **counts, "mb": dir_mb(dest)}

    def warm(self):
        """One full pass, checked like a timed one: it pays the JIT and
        code-generation cost the timed passes then skip."""
        lat = self.run_pass(-1)
        n, fails = self.check_pass(-1)
        return len(lat) + n, fails

    def root(self, i):
        return os.path.join(self.run_dir, "data", "pass", str(i))

    def install(self):
        from data_warehouse_morrocan_banks_spark.plans.pipeline import Stage
        from data_warehouse_morrocan_banks_spark.sources import snapshot_table
        from data_warehouse_morrocan_banks_spark.star import warehouse
        from data_warehouse_morrocan_banks_spark.streaming import incremental_dedup

        super().install()
        tr = self.tracer
        tr.wrap(snapshot_table, "append_stream_batch", "sources.snapshot_table.append")
        tr.wrap(snapshot_table, "compact", "sources.snapshot_table.compact")
        tr.wrap(incremental_dedup, "compact_history_sorted",
                "streaming.incremental_dedup.compact_history")
        tr.wrap(snapshot_table, "publish", "sources.snapshot_table.publish")
        tr.wrap(snapshot_table, "_write_data_files", "sources.snapshot_table.write_files",
                after=_note_files)

        def traced_stage(name, fn, *args, **kwargs):
            def run(outputs):
                before = tr.snapshot()
                with tr.span("plans.pipeline.stage", stage=name) as s:
                    out = fn(outputs)
                s.attrs["cpu_s"] = cpu_between(before, tr.snapshot())
                return out
            return Stage(name, run, *args, **kwargs)

        # build_warehouse constructs its stages through this name
        tr.replace(warehouse, "Stage", traced_stage)

    def run_pass(self, i):
        from data_warehouse_morrocan_banks_spark.sources.snapshot_table import read
        from data_warehouse_morrocan_banks_spark.star.warehouse import build_warehouse
        from data_warehouse_morrocan_banks_spark.streaming import incremental_dedup as inc

        root = self.root(i)
        corpus, hashes = os.path.join(root, "bronze"), os.path.join(root, "bronze_hashes")
        batch = lambda j: self.spark.read.parquet(  # noqa: E731
            os.path.join(self.dest, f"batch{j:03d}.parquet"))
        inc.init_incremental_dedup(self.spark, corpus, hashes, batch(0))
        lat, self.gates = [], {}
        for j in range(self.scale["batches"]):
            t0 = time.perf_counter()
            with self.span("streaming.incremental_dedup.batch", jobs=True) as s:
                inc.incremental_exact_dedup_batch(
                    self.spark, corpus, hashes, batch(j), j, "text", "review_id",
                    app_id="landing", compact_every=self.scale["compact_every"])
            lat.append(time.perf_counter() - t0 if s is None else self.tracer.busy(s))
            gate = inc.LAST_HISTORY_GATE.get(corpus, {})
            key = f"join={gate.get('history_join')},read={gate.get('history_read')}"
            self.gates[key] = self.gates.get(key, 0) + 1
        with self.span("star.build_call", jobs=True):
            wh = build_warehouse(self.spark, read(self.spark, corpus))
        wh.publish(self.spark, os.path.join(root, "publish"))
        self.last, self.corpus, self.hashes = wh, corpus, hashes
        return lat

    def check_pass(self, i):
        from pyspark.sql import functions as F

        from data_warehouse_morrocan_banks_spark.sources.snapshot_table import (
            load_publication,
            read,
        )

        fails = []
        landed = read(self.spark, self.corpus).count()
        fp = read(self.spark, self.hashes).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("content_md5").alias("distinct")).first()
        want = self.inputs["distinct_contents"]
        if landed != want:
            fails.append(f"landed rows {landed} != distinct contents offered {want}")
        if fp["distinct"] != fp["n"]:
            fails.append(f"{fp['n'] - fp['distinct']} fingerprint digests appear twice")
        if fp["n"] != landed:
            fails.append(f"fingerprint rows {fp['n']} != landed rows {landed}")
        self.kept = landed

        wh = self.last
        if wh.manifest.status != "ok":
            fails.append(f"manifest status {wh.manifest.status}")
        if not wh.quality.passed:
            fails.append(f"quality checks failed: {wh.quality.failures()}")
        # what publish wrote: footer row counts of each table's files (a
        # fresh root holds exactly one version per table)
        pub = os.path.join(self.root(i), "publish")
        self.published = {}
        for name in sorted(os.listdir(pub)):
            data = os.path.join(pub, name, "data")
            if os.path.isdir(data):
                self.published[name] = sum(
                    pq.ParquetFile(os.path.join(base, f)).metadata.num_rows
                    for base, _, files in os.walk(data)
                    for f in files if f.endswith(".parquet"))
        want = self.inputs["expected_fact_rows"]
        if self.published.get("fact_reviews") != want:
            fails.append(f"fact rows {self.published.get('fact_reviews')} != {want} "
                         "derived from the generator")
        loaded = _row_counts(load_publication(self.spark, pub))
        if loaded != self.published:
            fails.append(f"publication rows {loaded} != published {self.published}")
        return 7, fails

    def stored_mb(self, i):
        return dir_mb(self.root(i))

    def layers(self, ps, i):
        tr = self.tracer
        sub = tr.subtree(ps)
        named = lambda n: [s for s in sub if s.name == n]  # noqa: E731
        build = named("star.build_call")[0]
        stages = named("plans.pipeline.stage")
        silver = next(s for s in stages if s.attrs["stage"] == "silver")
        writes = named("sources.snapshot_table.write_files")
        # the sorted history compaction calls snapshot_table.compact: count
        # each compaction once, at its outermost span
        kinds = ("sources.snapshot_table.compact",
                 "streaming.incremental_dedup.compact_history")
        compacts = [s for s in sub if s.name in kinds
                    and tr.spans[s.parent].name not in kinds]
        build_s = tr.busy(build)
        busy = lambda n: sum(tr.busy(s) for s in named(n))  # noqa: E731
        return {
            "star.build_call_s": build_s,
            "star.silver_s": tr.busy(silver),
            "star.silver_cpu_s": silver.attrs["cpu_s"],
            "plans.quality_s": build_s - sum(tr.busy(s) for s in stages),
            "plans.pipeline.attempts": sum(
                v["attempts"] for v in self.last.manifest.stages.values()),
            "sources.snapshot_table.publish_s": busy("sources.snapshot_table.publish"),
            "sources.snapshot_table.files_written": sum(s.attrs["files"] for s in writes),
            "sources.snapshot_table.mb_written": sum(s.attrs["mb"] for s in writes),
            "sources.snapshot_table.append_s": busy("sources.snapshot_table.append"),
            "sources.snapshot_table.appends": len(named("sources.snapshot_table.append")),
            "sources.snapshot_table.compact_s": sum(tr.busy(s) for s in compacts),
            "sources.snapshot_table.manifest_files": count_manifest_files(self.root(i)),
            "streaming.incremental_dedup.batch_s": median(
                [tr.busy(s) for s in named("streaming.incremental_dedup.batch")]),
            "streaming.incremental_dedup.kept_ratio": self.kept / self.inputs["offered"],
            "streaming.incremental_dedup.gate_decisions": sum(self.gates.values()),
        }

    def detail(self):
        return {"manifest": self.last.manifest.stages,
                "published_rows": self.published,
                "gate_decisions": self.gates,
                "kept_ratio_expected": self.inputs["distinct_contents"] / self.inputs["offered"]}


def _row_counts(frames: dict) -> dict[str, int]:
    """Row count of every frame, in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    tagged = [df.select(F.lit(name).alias("t")) for name, df in frames.items()]
    rows = reduce(lambda a, b: a.unionByName(b), tagged).groupBy("t").count().collect()
    counts = {name: 0 for name in frames}
    counts.update({r["t"]: r["count"] for r in rows})
    return counts


def _note_files(span, args, kwargs, files):
    path = args[1] if len(args) > 1 else kwargs["path"]
    span.attrs["files"] = len(files)
    span.attrs["mb"] = sum(os.path.getsize(os.path.join(path, f)) for f in files) / 2**20


WORKLOADS = {w.name: w for w in (BiSuite, WarehouseBuild)}
