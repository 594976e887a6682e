"""The two workloads and the run loop they share.

A run: generate the seeded inputs, start a session and prepare the
program in it several times, then run units of work in a closed loop
(each operation starts when the previous one returns). Unit 0 is the
cold unit; warm units follow until ``seconds`` have gone by and at
least ``MIN_WARM`` have run. A unit is a pass over the queries
(``queries``) or one hourly tick (``ingest``: a delta cycle of the ETL
pipeline, whose unit 0 is the backfill, then one stream micro-batch).
Outputs are checked after every operation, outside the timed region. A
traced run alternates traced and untraced warm units, so it also
measures its own overhead.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import datagen, spec
from .harness import (
    Meter,
    Tracer,
    Workspace,
    dir_stats,
    environment,
    event_log_metrics,
    start_session,
    stop_jvm,
)

SETUPS = 3  # preparations of the program per run
MIN_WARM = 2  # warm units per run, at least
# Inputs are generated for MIN_WARM units plus one per MIN_UNIT_S of the
# run's seconds, so a program fast enough to exhaust them ends the warm
# loop early (and reports fewer warm units) rather than failing.
MIN_UNIT_S = 1.0
HEAP = "1g"


@dataclass
class Sizes:
    sf: float = 0.1  # scale factor of the generated tables
    # ``documents`` rows of the query workload: the DuckDB oracle of the
    # connected-components query grows steeply with the corpus (on a
    # 4-core host 24 s at sf 0.1's 5000 docs, 9 s at 1500, 5 s at 600),
    # and a whole run has about a minute
    query_docs: int = 600
    # a delta cycle loads 10% x 100 x 1000 = 10k rows into a warehouse of
    # 100k rows and more. Every cycle rescans every raw file, so the
    # number of hotels adds to the cycle's cost: on a 4-core host 500
    # hotels of 200 rows took 20 s to backfill and 11-13 s a delta cycle,
    # too long for a run of about a minute.
    hotels: int = 100
    report_rows: int = 1000
    delta_frac: float = 0.1
    noop_cycles: int = 1
    docs_per_batch: int = 200
    planted_frac: float = 0.1
    # fold the stream's index in every batch after the first, so every
    # warm tick carries the same fold work however many ticks a run has
    compact_every: int = 1


TINY = Sizes(sf=0.001, query_docs=500, hotels=6, report_rows=5, delta_frac=0.34, noop_cycles=1,
             docs_per_batch=8, planted_frac=0.25)


@dataclass
class Outcome:
    """What one unit produced: its seconds, timed operations and checks."""

    seconds: float = 0.0
    ops: list[float] = field(default_factory=list)
    split: dict[str, float] = field(default_factory=dict)  # seconds per query family
    items: float = 0.0  # work units done in the timed operations
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    parts: dict[str, Outcome] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def absorb(self, other: Outcome) -> None:
        """Count ``other``'s checks as this outcome's."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.errors += other.errors


class Workload:
    def __init__(self, ws: Workspace, seed: int, sizes: Sizes, units: int):
        """``units``: warm units to generate inputs for."""
        self.ws, self.seed, self.sizes, self.units = ws, seed, sizes, units
        self.tracer: Tracer | None = None
        self.meter = Meter()

    def generate(self) -> None:
        """Write the seeded inputs (not timed)."""

    def has_unit(self, i: int) -> bool:
        """Whether inputs for unit ``i`` were generated."""
        return i <= self.units

    def prepare(self, spark) -> None:
        """One-time program preparation, timed as part of set-up."""

    def install(self, tracer: Tracer) -> None:
        """Wrap the engine functions this workload's layers go through."""

    def unit(self, spark, i: int) -> Outcome:
        raise NotImplementedError

    def finish(self, spark) -> Outcome:
        """Work and checks after the timed units."""
        return Outcome()

    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    def layer_metrics(self, tracer: Tracer, units: list[int]) -> dict[str, float]:
        return {}

    def exec_groups(self, tracer: Tracer, units: list[int]) -> set[str]:
        """Job groups whose executor metrics the event log should sum."""
        return set()

    def report(self, cold: Outcome, warm: list[Outcome], end: Outcome) -> dict[str, tuple[float, str]]:
        return {}


# --- query workloads --------------------------------------------------------


class _Fetched:
    """Hands an already-fetched result to the oracle comparator, so the
    check never runs the query a second time."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the comparator's expected name
        return self._pdf


class QueryWorkload(Workload):
    """Each unit is a pass over every family's queries, in a seeded order."""

    def __init__(self, *args):
        super().__init__(*args)
        self.family = {q: fam for fam, qs in spec.QUERIES.items() for q in qs}
        self.queries = list(self.family)
        self.data = self.ws.sub("data")

    def generate(self) -> None:
        from tests.oracle_compare import duckdb_con
        from webscrap_datapipeline_spark.plans import REGISTRY

        datagen.write_tables(self.data, self.sizes.sf, self.seed, docs=self.sizes.query_docs)
        # each query's DuckDB oracle result, computed once before the
        # program starts; every result of the query is checked against it
        self.con = duckdb_con(self.data)
        for name in self.queries:
            sql = REGISTRY[name].oracle.strip().rstrip(";")
            self.con.execute(f"CREATE TABLE oracle_{name} AS SELECT * FROM ({sql})")

    def install(self, tr: Tracer) -> None:
        tr.wrap("webscrap_datapipeline_spark.catalog", "load_table", "catalog.load_table")
        tr.wrap("webscrap_datapipeline_spark.catalog", "ensure_min_parallelism",
                "catalog.ensure_min_parallelism", jobs=True)
        for op in spec.EAGER_OPERATORS:
            mod, fn = op.rsplit(".", 1)
            tr.wrap(f"webscrap_datapipeline_spark.{mod}", fn, op, jobs=True)

    def unit(self, spark, i: int) -> Outcome:
        from tests.oracle_compare import compare_hashed
        from webscrap_datapipeline_spark.plans import REGISTRY

        out = Outcome()
        order = [str(q) for q in np.random.default_rng([self.seed, 5, i]).permutation(self.queries)]
        tr = self.tracer
        for name in order:
            q = REGISTRY[name]
            fam = self.family[name]
            with self.meter.op() as t:
                if self.traced():
                    with tr.span("plans.query", query=name, family=fam):
                        with tr.span("plans.build", jobs=True, family=fam):
                            df = q.fn(spark, self.data)
                        with tr.span("plans.plan", family=fam):
                            df._jdf.queryExecution().executedPlan()
                        with tr.span("plans.exec", jobs=True, family=fam):
                            pdf = df.toPandas()
                else:
                    pdf = q.fn(spark, self.data).toPandas()
            out.ops.append(t.seconds)
            out.split[fam] = out.split.get(fam, 0.0) + t.seconds
            # checks: outside the timed region
            res = compare_hashed(_Fetched(pdf), self.con, f"SELECT * FROM oracle_{name}")
            out.check(res["ok"], f"{name}: result differs from its DuckDB oracle: {res}")
        out.seconds = sum(out.ops)
        out.items = len(order)
        return out

    def layer_metrics(self, tr: Tracer, units: list[int]) -> dict[str, float]:
        m = {
            "catalog.load_table.calls": tr.per_unit(units, "catalog.load_table", "calls"),
            "catalog.load_table.s": tr.per_unit(units, "catalog.load_table"),
            "catalog.ensure_min_parallelism.calls": tr.per_unit(units, "catalog.ensure_min_parallelism", "calls"),
            "plans.build_s": tr.per_unit(units, "plans.build"),
            "plans.build_jobs": tr.per_unit(units, "plans.build", "jobs"),
            "plans.plan_s": tr.per_unit(units, "plans.plan"),
            "plans.exec_s": tr.per_unit(units, "plans.exec"),
            "plans.exec_jobs": tr.per_unit(units, "plans.exec", "jobs"),
            "plans.exec_stages": tr.per_unit(units, "plans.exec", "stages"),
            "plans.exec_tasks": tr.per_unit(units, "plans.exec", "tasks"),
        }
        for op in ["catalog.ensure_min_parallelism"] + spec.EAGER_OPERATORS:
            m[f"{op}.s"] = tr.per_unit(units, op)
            m[f"{op}.jobs"] = tr.per_unit(units, op, "jobs")
        for fam in spec.QUERIES:
            m[f"plans.{fam}.build_s"] = tr.per_unit(units, "plans.build", family=fam)
            m[f"plans.{fam}.build_jobs"] = tr.per_unit(units, "plans.build", "jobs", family=fam)
            m[f"plans.{fam}.exec_s"] = tr.per_unit(units, "plans.exec", family=fam)
        return m

    def exec_groups(self, tr: Tracer, units: list[int]) -> set[str]:
        return {
            s["group"] for s in tr.spans
            if s["name"] == "plans.exec" and s["unit"] in units and "group" in s
        }

    def report(self, cold: Outcome, warm: list[Outcome], end: Outcome) -> dict[str, tuple[float, str]]:
        ops = [x for o in warm for x in o.ops]
        return {
            "query_p50_s": (statistics.median(ops), "s"),
            "query_p90_s": (float(np.percentile(ops, 90)), "s"),
            "query_samples": (len(ops), "count"),
            **{f"{fam}_pass_s": (statistics.median(o.split[fam] for o in warm), "s") for fam in spec.QUERIES},
        }


# --- hourly ETL -------------------------------------------------------------

# Stage boundaries of pipeline.run_incremental: the call of each of these
# names (as pipeline.py looks them up) starts the named stage, which
# lasts until the next boundary or the end of the cycle.
_STAGES = {
    "read_state": "pipeline.read_state",
    "detect_changes": "pipeline.detect_changes",
    "read_raw_reports": "pipeline.load",
    "build_log_table": "pipeline.log",
    "update_state": "pipeline.commit_state",
}


class HourlyEtl(Workload):
    """Unit 0 is the backfill; each warm unit is one delta cycle in which
    a seeded share of the hotels publish a new report. After the timed
    units come the no-op cycles."""

    def generate(self) -> None:
        s = self.sizes
        self.plan = datagen.hotel_report_plan(s.hotels, self.units, s.delta_frac, s.report_rows, self.seed)
        root = self.ws.sub("etl")
        self.d = {
            "raw": self.ws.sub("etl", "raw"),
            "state": os.path.join(root, "state.json"),
            "warehouse": os.path.join(root, "warehouse.parquet"),
            "log": os.path.join(root, "log.parquet"),
        }
        self.newest: dict[str, datagen.Report] = {}
        self.loaded_rows = 0
        self._marks: list[tuple[str, float]] = []

    def install(self, tr: Tracer) -> None:
        import webscrap_datapipeline_spark.pipeline as pipeline

        for attr, stage in _STAGES.items():
            tr.patch(pipeline, attr, lambda orig, stage=stage: self._marked(tr, stage, orig))

    def _marked(self, tr: Tracer, stage: str, orig):
        def marked(*args, **kwargs):
            if tr.enabled:
                self._marks.append((stage, time.perf_counter()))
            return orig(*args, **kwargs)

        return marked

    def _cycle(self, spark, cycle: int | None) -> tuple[Outcome, int]:
        from webscrap_datapipeline_spark.pipeline import run_incremental

        out = Outcome()
        d = self.d
        arrived = self.plan[cycle] if cycle is not None else []
        for rep in arrived:  # the scrape step (not timed): reports land in the raw dir
            datagen.write_hotel_report(os.path.join(d["raw"], rep.file_name), rep, self.seed)
            self.newest[rep.hotel] = rep
            self.loaded_rows += rep.rows
        listing = spark.createDataFrame(
            sorted((h, r.last_seen_ts) for h, r in self.newest.items()), "key string, last_seen_ts string"
        )
        before = _file_set(d["warehouse"])
        self._marks = []
        with self.meter.op() as t:
            res = run_incremental(spark, listing, d["raw"] + "/*.csv", d["state"], d["warehouse"], d["log"])
        out.seconds = t.seconds
        kind = "backfill" if cycle == 0 else ("noop" if cycle is None else "delta")
        if self.traced():
            self._record(kind, t.start, t.end, before, len(arrived), res.loaded_rows)
        # checks: outside the timed region
        if kind == "backfill" and res.loaded_rows <= 0:
            raise RuntimeError(
                "hourly_etl backfill loaded 0 rows: the report generator and the "
                "engine disagree on hotel codes or file names"
            )
        out.check(res.changed_keys == len(arrived), f"cycle {cycle}: changed_keys {res.changed_keys} != {len(arrived)}")
        self._check_warehouse(out, cycle)
        if kind == "noop":
            out.check(_file_set(d["warehouse"]) == before, "no-op cycle wrote warehouse files")
        return out, sum(r.rows for r in arrived)

    def unit(self, spark, i: int) -> Outcome:
        out, new_rows = self._cycle(spark, i)
        if i > 0:
            out.ops, out.items = [out.seconds], new_rows
        return out

    def finish(self, spark) -> Outcome:
        end = Outcome()
        for _ in range(self.sizes.noop_cycles):
            out, _ = self._cycle(spark, None)
            end.ops.append(out.seconds)
            end.absorb(out)
        return end

    def _check_warehouse(self, out: Outcome, cycle) -> None:
        d = self.d
        wh = pq.read_table(d["warehouse"], columns=["LOC_ID", "SRC_FILENAME", "CURRENT_IND"])
        out.check(wh.num_rows == self.loaded_rows,
                  f"cycle {cycle}: warehouse has {wh.num_rows} rows, loaded files hold {self.loaded_rows}")
        cur = (
            wh.filter(pc.equal(wh["CURRENT_IND"], "Y"))
            .group_by(["LOC_ID", "SRC_FILENAME"])
            .aggregate([("CURRENT_IND", "count")])
            .to_pylist()
        )
        current = {(r["LOC_ID"], r["SRC_FILENAME"]): r["CURRENT_IND_count"] for r in cur}
        want = {(h, r.file_name[:-4] + "_modified.csv"): r.rows for h, r in self.newest.items()}
        out.check(current == want, f"cycle {cycle}: CURRENT_IND='Y' rows differ from each hotel's newest file")
        state = {}
        for path in glob.glob(os.path.join(d["state"], "*.json")):
            with open(path) as fh:
                for line in fh:
                    rec = json.loads(line)
                    state[rec["key"]] = rec["last_seen_ts"]
        out.check(state == {h: r.last_seen_ts for h, r in self.newest.items()},
                  f"cycle {cycle}: state differs from each hotel's newest last_seen_ts")

    def _record(self, kind, t0, t1, before, n_new, total_rows) -> None:
        tr = self.tracer
        cyc = tr.record(f"pipeline.cycle.{kind}", t0, t1)
        marks = self._marks + [("", t1)]
        for (stage, a), (_, b) in zip(marks, marks[1:]):
            tr.record(stage, a, b, parent=cyc)
        scanned = any(stage == "pipeline.load" for stage, _ in self._marks)
        tr.count("pipeline.raw_files_scanned", len(glob.glob(self.d["raw"] + "/*.csv")) if scanned else 0)
        tr.count("pipeline.raw_files_needed", n_new)
        written = sum(size for (_, size, _) in _file_set(self.d["warehouse"]) - before)
        wh_bytes, _ = dir_stats(self.d["warehouse"])
        tr.count("pipeline.warehouse_bytes_written", written)
        # parquet bytes of the new rows, at the warehouse's bytes per row
        tr.count("pipeline.new_rows_bytes", wh_bytes * n_new * self.sizes.report_rows / max(1, total_rows))

    def layer_metrics(self, tr: Tracer, units: list[int]) -> dict[str, float]:
        m = {f"{stage}_s": tr.per_unit(units, stage) for stage in _STAGES.values()}
        for k in ("raw_files_scanned", "raw_files_needed", "warehouse_bytes_written", "new_rows_bytes"):
            m[f"pipeline.{k}"] = tr.counter(units, f"pipeline.{k}")
        m["pipeline.raw_files_useful_frac"] = m["pipeline.raw_files_needed"] / max(1.0, m["pipeline.raw_files_scanned"])
        m["pipeline.write_amp"] = m["pipeline.warehouse_bytes_written"] / max(1.0, m["pipeline.new_rows_bytes"])
        return m

    def report(self, cold: Outcome, warm: list[Outcome], end: Outcome) -> dict[str, tuple[float, str]]:
        ops = [x for o in warm for x in o.ops]
        return {
            "backfill_s": (cold.seconds, "s"),
            "cycle_p50_s": (statistics.median(ops), "s"),
            "rows_per_s": (sum(o.items for o in warm) / sum(o.seconds for o in warm), "rows/s"),
            "noop_cycle_s": (statistics.median(end.ops), "s"),
        }


def _file_set(path: str) -> set[tuple[str, int, int]]:
    """(file, bytes, mtime ns) of every data file under ``path``."""
    out = set()
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                st = os.stat(os.path.join(root, n))
                out.add((os.path.join(root, n), st.st_size, st.st_mtime_ns))
    return out


# --- streaming dedup --------------------------------------------------------


class StreamDedup(Workload):
    """A file stream over an inbox that receives one batch file per
    unit; the unit ends when the stream has processed everything
    available. Unit 0 also starts the stream."""

    def generate(self) -> None:
        s = self.sizes
        self.data = self.ws.sub("data")
        datagen.write_documents(self.data, s.sf, self.seed)
        docs = pq.read_table(os.path.join(self.data, "documents.parquet"), columns=["doc_id", "text"])
        # plant copies of long docs only: their near-dups sit far above
        # the LSH threshold, so recall is certain rather than likely
        long_docs = [(r["doc_id"], r["text"]) for r in docs.to_pylist() if len(r["text"].split()) >= 40]
        self.batches, self.planted = datagen.stream_doc_batches(
            long_docs, self.units + 1, s.docs_per_batch, s.planted_frac, self.seed
        )
        self.outbox = self.ws.sub("stream-out")
        for i, batch in enumerate(self.batches):
            with open(os.path.join(self.outbox, f"batch-{i:04d}.json"), "w") as fh:
                fh.writelines(json.dumps(rec) + "\n" for rec in batch)
        self.inbox = self.ws.sub("stream-in")
        self.index = os.path.join(self.ws.path, "index")
        self.pairs = os.path.join(self.ws.path, "pairs")
        self.query = None

    def prepare(self, spark) -> None:
        from webscrap_datapipeline_spark.catalog import load_table
        from webscrap_datapipeline_spark.streaming.dedup_stream import bootstrap_lsh_index

        docs = load_table(spark, "documents", self.data).select("doc_id", "text")
        bootstrap_lsh_index(docs, self.index)

    def install(self, tr: Tracer) -> None:
        tr.wrap("webscrap_datapipeline_spark.streaming.dedup_stream", "compact_lsh_index", "streaming.compact")

    def unit(self, spark, i: int) -> Outcome:
        from webscrap_datapipeline_spark.streaming.dedup_stream import incremental_near_dup_sink

        name = f"batch-{i:04d}.json"
        os.rename(os.path.join(self.outbox, name), os.path.join(self.inbox, name))
        out = Outcome()
        with self.meter.op() as t:
            if self.query is None:
                sink = incremental_near_dup_sink(self.index, self.pairs, compact_every=self.sizes.compact_every)
                self.query = (
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .json(self.inbox)
                    .writeStream.foreachBatch(sink)
                    .option("checkpointLocation", self.ws.sub("checkpoint"))
                    .start()
                )
            self.query.processAllAvailable()
        out.seconds = t.seconds
        if i > 0:
            out.ops, out.items = [out.seconds], len(self.batches[i])
        if self.traced():
            tr = self.tracer
            for p in self.query.recentProgress:
                if p.batchId == i:
                    for key in ("addBatch", "queryPlanning", "walCommit", "latestOffset"):
                        tr.count(f"streaming.{key}", p.durationMs.get(key, 0))
            size, files = dir_stats(self.index)
            tr.count("streaming.index_bytes", size)
            tr.count("streaming.index_files", files)
            tr.count("streaming.pairs_emitted", len(self._pairs(i)))
        return out

    def _pairs(self, batch_id: int) -> list[tuple[int, int]]:
        return [
            (r["doc_a"], r["doc_b"])
            for path in glob.glob(os.path.join(self.pairs, f"__batch_id={batch_id}", "*.parquet"))
            for r in pq.read_table(path, columns=["doc_a", "doc_b"]).to_pylist()
        ]

    def finish(self, spark) -> Outcome:
        end = Outcome()
        q, self.query = self.query, None
        done = {p.batchId for p in q.recentProgress if p.numInputRows > 0}
        q.stop()
        n = len(os.listdir(self.inbox))
        end.check(done == set(range(n)), f"{n} batch files, batches with input: {sorted(done)}")
        found: set[tuple[int, int]] = set()
        for b in range(n):
            pairs = [tuple(sorted(p)) for p in self._pairs(b)]
            end.check(len(pairs) == len(set(pairs)), f"batch {b} emitted a pair twice")
            found.update(pairs)
        first, last = self.batches[0][0]["doc_id"], self.batches[n - 1][-1]["doc_id"]
        due = {tuple(sorted(p)) for p in self.planted if first <= p[0] <= last}
        missing = due - found
        end.check(not missing, f"planted near-dup pairs not found: {sorted(missing)[:5]}")
        return end

    def layer_metrics(self, tr: Tracer, units: list[int]) -> dict[str, float]:
        return {
            "streaming.add_batch_ms": tr.counter(units, "streaming.addBatch"),
            "streaming.query_planning_ms": tr.counter(units, "streaming.queryPlanning"),
            "streaming.wal_commit_ms": tr.counter(units, "streaming.walCommit"),
            "streaming.latest_offset_ms": tr.counter(units, "streaming.latestOffset"),
            "streaming.compact_s": tr.per_unit(units, "streaming.compact"),
            "streaming.compactions": tr.per_unit(units, "streaming.compact", "calls"),
            "streaming.index_bytes": tr.counter(units, "streaming.index_bytes"),
            "streaming.index_files": tr.counter(units, "streaming.index_files"),
            "streaming.pairs_emitted": tr.counter(units, "streaming.pairs_emitted"),
        }

    def report(self, cold: Outcome, warm: list[Outcome], end: Outcome) -> dict[str, tuple[float, str]]:
        ops = [x for o in warm for x in o.ops]
        return {
            "batch_p50_s": (statistics.median(ops), "s"),
            "batch_p90_s": (float(np.percentile(ops, 90)), "s"),
            "docs_per_s": (sum(o.items for o in warm) / sum(o.seconds for o in warm), "docs/s"),
        }


class Ingest(Workload):
    """The hourly tick: each unit runs one ETL cycle, then feeds the
    stream one micro-batch. Unit 0 is the backfill plus the stream's
    start and first batch."""

    def __init__(self, *args):
        super().__init__(*args)
        self.etl = HourlyEtl(*args)
        self.stream = StreamDedup(*args)
        self.parts = (("etl", self.etl), ("stream", self.stream))
        for _, p in self.parts:
            p.meter = self.meter

    def generate(self) -> None:
        for _, p in self.parts:
            p.generate()

    def prepare(self, spark) -> None:
        self.stream.prepare(spark)

    def install(self, tr: Tracer) -> None:
        for _, p in self.parts:
            p.tracer = tr
            p.install(tr)

    def unit(self, spark, i: int) -> Outcome:
        out = Outcome()
        for key, p in self.parts:
            part = out.parts[key] = p.unit(spark, i)
            out.seconds += part.seconds
            out.items += part.items
            out.absorb(part)
        if i > 0:
            out.ops = [out.seconds]
        return out

    def finish(self, spark) -> Outcome:
        end = Outcome()
        for key, p in self.parts:
            part = end.parts[key] = p.finish(spark)
            end.absorb(part)
        return end

    def layer_metrics(self, tr: Tracer, units: list[int]) -> dict[str, float]:
        return {k: v for _, p in self.parts for k, v in p.layer_metrics(tr, units).items()}

    def report(self, cold: Outcome, warm: list[Outcome], end: Outcome) -> dict[str, tuple[float, str]]:
        ops = [x for o in warm for x in o.ops]
        out = {"tick_p90_s": (float(np.percentile(ops, 90)), "s")}
        for key, p in self.parts:
            out.update(p.report(cold.parts[key], [o.parts[key] for o in warm], end.parts[key]))
        return out


WORKLOADS = {"queries": QueryWorkload, "ingest": Ingest}


# --- the run loop ------------------------------------------------------------


def run(name: str, seed: int, seconds: float, trace: bool, sizes: Sizes | None = None, patch=None) -> dict:
    """One benchmark run. ``patch(workload)`` may alter the workload
    before it runs (the self-test injects wrong results through it)."""
    cpus = os.cpu_count() or 1
    ws = Workspace()
    spark = tracer = None
    try:
        units = MIN_WARM + math.ceil(seconds / MIN_UNIT_S)
        wl = WORKLOADS[name](ws, seed, sizes or Sizes(), units)
        if patch is not None:
            patch(wl)
        wl.generate()
        # set explicitly either way: SparkSession.builder keeps options
        # across sessions of one process
        extra = {"spark.eventLog.enabled": str(trace).lower()}
        if trace:
            extra.update({
                "spark.eventLog.dir": "file:" + ws.sub("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        t0 = time.perf_counter()
        spark = start_session(ws, cpus, HEAP, extra)
        start_s = time.perf_counter() - t0
        prepare_s = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            wl.prepare(spark)
            prepare_s.append(time.perf_counter() - t0)
        env = environment(spark, cpus)
        tracer = Tracer(spark, f"{name}-{seed}")
        wl.tracer = tracer
        if trace:
            wl.install(tracer)
        cold = wl.unit(spark, 0)
        warm: list[Outcome] = []
        traced: list[int] = []
        t_start = time.perf_counter()
        while len(warm) < MIN_WARM or (time.perf_counter() - t_start < seconds and wl.has_unit(len(warm) + 1)):
            i = len(warm) + 1
            tracer.enabled = trace and i % 2 == 1
            tracer.unit = i
            if tracer.enabled:
                traced.append(i)
            warm.append(wl.unit(spark, i))
        tracer.enabled = False
        end = wl.finish(spark)
        rss = wl.meter.peak_rss_mb()
        outcomes = [cold, *warm, end]
        attempted = sum(o.attempted for o in outcomes)
        failed = sum(o.failed for o in outcomes)
        base = [o for i, o in enumerate(warm, 1) if i not in traced]  # e2e: untraced units only
        e2e = {
            # the session start launches the JVM, which cannot be repeated
            # in one process; the program's preparation is repeated
            "setup_s": start_s + statistics.median(prepare_s),
            "peak_rss_mb": rss,
            "pass_s": statistics.median(o.seconds for o in base),
        }
        report = {
            **{k: (v, spec.END_TO_END[k][0]) for k, v in e2e.items()},
            "cold_s": (cold.seconds, "s"),
            "throughput_per_s": (sum(o.items for o in base) / sum(o.seconds for o in base), "1/s"),
            **wl.report(cold, base, end),
            "failed_frac": (failed / max(1, attempted), "ratio"),
            "warm_units": (len(base), "count"),
            "session_start_s": (start_s, "s"),
        }
        layers = {}
        if trace:
            tracer.resolve_jobs()
            layers = {k: 0.0 for k in spec.PER_LAYER}
            layers["session.start_s"] = start_s
            layers.update(wl.layer_metrics(tracer, traced))
            app_id = spark.sparkContext.applicationId
            groups = wl.exec_groups(tracer, traced)
            spark.stop()
            spark = None
            if groups:
                ev = event_log_metrics(os.path.join(ws.path, "eventlog"), app_id, groups)
                for k in spec.EVENT_LOG_METRICS:
                    layers[f"plans.exec.{k}"] = ev[k] / (1 if k == "stage_skew" else len(traced))
            t_unit = statistics.median(warm[i - 1].seconds for i in traced)
            u_unit = statistics.median(o.seconds for o in base)
            layers["trace.traced_unit_s"] = t_unit
            layers["trace.untraced_unit_s"] = u_unit
            layers["trace.overhead_s"] = t_unit - u_unit
            tracer.dump(os.path.join(os.path.dirname(os.path.abspath(__file__)), "traces",
                                     f"{name}-seed{seed}.json"))
        return {
            "env": env,
            "e2e": e2e,
            "report": report,
            "layers": layers,
            "attempted": attempted,
            "failed": failed,
            "errors": [e for o in outcomes for e in o.errors][:20],
        }
    finally:
        if tracer is not None:
            tracer.unwrap()
        if spark is not None:
            spark.stop()
        stop_jvm()
        ws.close()
