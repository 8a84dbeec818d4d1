"""The three workloads, each a closed loop with one client.

A workload owns its inputs (from ``gen``), its tables and its oracle. The
harness in ``run.py`` calls, in order: ``generate()``; ``setup(spark,
root)`` (fresh tables, seeded through the program); ``warmup()`` for any
path the set-up does not run; ``prepare()`` and ``step()`` a fixed number
of times (``SIZES[name]["steps"]``); ``counts(spark)`` in a traced run;
``check()`` after the session stops. Only ``step()`` is timed: ``prepare()``
generates the next step's input, folds it into the oracle and writes it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, replace

import duckdb
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from hmpps_digital_prison_reporting_glue_poc_spark.catalog import Catalog, TableSpec
from hmpps_digital_prison_reporting_glue_poc_spark.operators.cdc import (
    cdc_upsert_frame,
    ingest_events,
    map_events_to_target,
)
from hmpps_digital_prison_reporting_glue_poc_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs_prefix,
)
from hmpps_digital_prison_reporting_glue_poc_spark.operators.pipeline_e2e import (
    corpus_pipeline,
)
from hmpps_digital_prison_reporting_glue_poc_spark.operators.textstats import gopher_rules
from hmpps_digital_prison_reporting_glue_poc_spark.plans import pipeline
from hmpps_digital_prison_reporting_glue_poc_spark.sources import io
from hmpps_digital_prison_reporting_glue_poc_spark.types import (
    schema_from_ddl,
    with_admin_columns,
)

import check
import gen
from spans import Tracer

# Load sizes and the fixed number of timed steps. Chosen so a full
# measurement (70 runs: set-up, timed steps, gate) fits in 3 420 s on 4
# cores; set-up is most of a run, so each workload times one step. See README.md ("What
# a bulk cycle spends", "Run time") for the costs they produce.
SIZES = {
    "cdc_bulk": {"offenders": 5_000, "bookings": 5_000, "batch": 30_000,
                 "steps": 1},
    "cdc_stream": {"offenders": 1_500, "bookings": 1_500, "days": 6,
                   "file": 600, "files_per_drain": 1, "steps": 1},
    "corpus_prep": {"docs": 4_000, "steps": 1},
}
EVENT_LOG = "cdc_event_log"
PROCESS_ID = 1


@dataclass
class StepResult:
    items: int        # events or documents carried end to end
    raw_bytes: int    # raw input bytes the step consumed
    units: list       # (start, end) epoch seconds of each cycle/micro-batch/pass


def row_schema() -> T.StructType:
    """The before/after payload struct of the raw JSON: one schema for
    every table in a batch (the union of their source fields)."""
    fields, seen = [], set()
    for table in gen.TABLES:
        for name, jtype, _ddl in table.fields:
            if name not in seen:
                seen.add(name)
                fields.append(T.StructField(
                    name, T.LongType() if jtype == "long" else T.StringType()))
    return T.StructType(fields)


def target_schema(table: gen.TableDef) -> T.StructType:
    return with_admin_columns(schema_from_ddl(table.target_ddl))


def definitions(spark: SparkSession):
    return spark.createDataFrame(
        [("Active", "SQL", d, deps, target, sql)
         for d, deps, target, sql in gen.DOMAINS],
        "Status string, Type string, Domain string, Dependancies string, "
        "Target string, Resolution string",
    )


def cdc_catalog(root: str, partitioned: bool) -> Catalog:
    """Event log, structured (``<table>_structured``) and curated
    (``<table>``: the name domain SQL refers to) tables, domain targets."""
    cat = Catalog()
    cat.register(TableSpec(EVENT_LOG, os.path.join(root, EVENT_LOG)))
    for t in gen.TABLES:
        part = [t.day_col] if partitioned else []
        cat.register(TableSpec(f"{t.name}_structured",
                               os.path.join(root, "structured", t.name),
                               pk=[t.pk], partition_by=part))
        cat.register(TableSpec(t.name, os.path.join(root, "curated", t.name),
                               pk=[t.pk], partition_by=part))
    for _d, _deps, target, _sql in gen.DOMAINS:
        cat.register(TableSpec(target, os.path.join(root, "domains", target)))
    return cat


class CdcBulk:
    """Scheduled batch: ``run_pipeline`` cycles with hash-chain validation."""

    name = "cdc_bulk"

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed, self.work, self.size = seed, work, SIZES[self.name]
        self.tracer = tracer

    def generate(self) -> None:
        self.gen = gen.CdcGenerator(self.seed, "chain")
        self.inputs = os.path.join(self.work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)
        self.seed_batch = self.gen.seed_batch(
            self.size["offenders"], self.size["bookings"])
        self._write(self.seed_batch, "seed")
        self.base = oracle_totals(self.gen)

    def _write(self, batch, tag: str) -> tuple[str, int]:
        d = os.path.join(self.inputs, tag)
        os.makedirs(d, exist_ok=True)
        return d, batch.write(os.path.join(d, "part-0.json"))

    def setup(self, spark: SparkSession, root: str) -> None:
        self.spark, self.root = spark, root
        self.catalog = cdc_catalog(root, partitioned=False)
        for t in gen.TABLES:
            spark.createDataFrame([], target_schema(t)).write.parquet(
                self.catalog.get(f"{t.name}_structured").path)
        self.defs = definitions(spark)
        self.cfg = pipeline.PipelineConfig(
            raw_path="", event_log_table=EVENT_LOG, row_schema=row_schema(),
            tables={t.name: (f"{t.name}_structured", t.name) for t in gen.TABLES},
            validate_hash_chain=True,
        )
        self._cycle(os.path.join(self.inputs, "seed"))
        self.batches = []

    def warmup(self) -> None:
        """Nothing beyond the seed cycle, which runs every stage."""

    def _cycle(self, raw_path: str) -> None:
        pipeline.run_pipeline(self.spark, replace(self.cfg, raw_path=raw_path),
                              self.catalog, self.defs, process_id=PROCESS_ID)

    def prepare(self) -> None:
        batch = self.gen.mixed_batch(self.size["batch"])
        self.next_raw, self.next_bytes = self._write(batch, f"b{len(self.batches):04d}")
        self.batches.append(batch)

    def step(self) -> StepResult:
        start = time.time()
        self._cycle(self.next_raw)
        return StepResult(self.batches[-1].n_events, self.next_bytes,
                          [(start, time.time())])

    def check(self) -> tuple[int, list[str]]:
        return cdc_check(self)

    def counts(self, spark: SparkSession) -> dict:
        return cdc_counts(self)


class CdcStream:
    """Micro-batch: ``run_pipeline_streaming`` drains, one file per
    micro-batch, into date-partitioned structured and curated tables."""

    name = "cdc_stream"

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed, self.work, self.size = seed, work, SIZES[self.name]
        self.tracer = tracer

    def generate(self) -> None:
        self.gen = gen.CdcGenerator(self.seed, "churn")
        self.inputs = os.path.join(self.work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)
        self.seed_batch = self.gen.seed_batch(
            self.size["offenders"], self.size["bookings"], days=self.size["days"])
        self.seed_path = os.path.join(self.inputs, "seed.json")
        self.seed_batch.write(self.seed_path)
        self.base = oracle_totals(self.gen)

    def setup(self, spark: SparkSession, root: str) -> None:
        self.spark, self.root = spark, root
        self.catalog = cdc_catalog(root, partitioned=True)
        self.defs = definitions(spark)
        self.src = os.path.join(root, "raw")
        self.ckpt = os.path.join(root, "checkpoint")
        os.makedirs(self.src)
        self.cfg = pipeline.PipelineConfig(
            raw_path=self.src, event_log_table=EVENT_LOG, row_schema=row_schema(),
            tables={t.name: (f"{t.name}_structured", t.name) for t in gen.TABLES},
        )
        self._seed()
        self.files = 0
        self.batches = []

    def _seed(self) -> None:
        """Initial population through the program's streaming insert path
        (landing append, net-change frame, partitioned ``merge_write``),
        called as batch functions: the streaming entry point needs the
        tables to exist before it starts. The first micro-batch writes the
        domain tables."""
        spark, cat = self.spark, self.catalog
        log = ingest_events(io.read_cdc_json(spark, self.seed_path, row_schema()))
        io.write_partitioned_parquet(log, cat.get(EVENT_LOG).path, ["part_date"])
        for t in gen.TABLES:
            events = log.filter(log["table"] == t.qualified)
            schema = target_schema(t)
            net = cdc_upsert_frame(map_events_to_target(events, schema), [t.pk])
            updates = net.select(*schema.fieldNames(), "__is_delete")
            for name in (f"{t.name}_structured", t.name):
                spec = cat.get(name)
                io.merge_write(spark, updates, spec.path, spec.pk,
                               delete_col="__is_delete",
                               partition_by=spec.partition_by)

    def _publish(self, staged: str) -> None:
        """Move a finished file into the stream source. The file source
        orders files by modification time at millisecond precision, so each
        file gets its own second, as trail files arriving one by one do."""
        path = os.path.join(self.src, f"f{self.files:05d}.json")
        stamp = 1_700_000_000 + self.files
        os.utime(staged, (stamp, stamp))
        os.rename(staged, path)
        self.files += 1

    def _drain(self, on_batch=None) -> int:
        return pipeline.run_pipeline_streaming(
            self.spark, self.cfg, self.catalog, self.ckpt, self.defs,
            process_id=PROCESS_ID, max_files_per_trigger=1, on_batch=on_batch)

    def warmup(self) -> None:
        """One micro-batch through the streaming path (query start, file
        source, ``foreachBatch``), which the table set-up does not run."""
        self._publish_files(1)
        self._drain_files()
        self.batches = []
        self.base = oracle_totals(self.gen)

    def prepare(self) -> None:
        self._publish_files(self.size["files_per_drain"])

    def step(self) -> StepResult:
        return self._drain_files()

    def _publish_files(self, n: int) -> None:
        """Generate ``n`` files, alternating tables, and publish them."""
        self.pending, self.pending_bytes = [], 0
        for _ in range(n):
            table = gen.TABLES[self.files % len(gen.TABLES)]
            batch = self.gen.mixed_batch(self.size["file"], (table,))
            staged = os.path.join(self.inputs, "staged.json")
            self.pending_bytes += batch.write(staged)
            self._publish(staged)
            self.pending.append(batch)
        self.batches += self.pending

    def _drain_files(self) -> StepResult:
        """Drain the published files, one micro-batch each."""
        batches = self.pending
        ends = [time.time()]

        def on_batch(_batch_id):
            ends.append(time.time())
            if self.tracer.active:
                self.tracer.add("stream_batch", ends[-2], ends[-1])

        n = self._drain(on_batch)
        if n != len(batches):
            raise RuntimeError(f"drained {n} micro-batches, expected {len(batches)}")
        return StepResult(sum(b.n_events for b in batches), self.pending_bytes,
                          list(zip(ends, ends[1:])))

    def check(self) -> tuple[int, list[str]]:
        return cdc_check(self)

    def counts(self, spark: SparkSession) -> dict:
        return cdc_counts(self)


class CorpusPrep:
    """Corpus passes: gates, exact and near dedup, mixture, shard manifest."""

    name = "corpus_prep"
    schema = "doc_id long, source string, text string"

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed, self.work, self.size = seed, work, SIZES[self.name]
        self.tracer = tracer

    def generate(self) -> None:
        self.corpus = gen.generate_corpus(self.seed, self.size["docs"])
        self.inputs = os.path.join(self.work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)
        self.docs_path = os.path.join(self.inputs, "docs.json")
        self.raw_bytes = self.corpus.write(self.docs_path)

    def setup(self, spark: SparkSession, root: str) -> None:
        self.spark, self.root = spark, root
        self.manifests = []
        self._pass("warm")
        self.manifests.clear()

    def warmup(self) -> None:
        """A second untimed pass. After one pass the JIT is still compiling
        about three fifths of the next pass's CPU, by an amount that varies
        from run to run."""
        self._pass("warm2")
        self.manifests.clear()

    def prepare(self) -> None:
        """Every pass reads the same documents."""

    def _pass(self, tag: str | None = None) -> None:
        docs = self.spark.read.schema(self.schema).json(self.docs_path)
        out = os.path.join(self.root, "manifest",
                           tag or f"pass{len(self.manifests):04d}")
        corpus_pipeline(self.spark, docs).write.parquet(out)
        self.manifests.append(out)

    def step(self) -> StepResult:
        start = time.time()
        self.tracer.call("corpus", self._pass)
        return StepResult(len(self.corpus.docs), self.raw_bytes,
                          [(start, time.time())])

    def check(self) -> tuple[int, list[str]]:
        """(failed passes, mismatches): each pass's manifest is checked."""
        per_pass = check.corpus(self.docs_path, self.manifests)
        return sum(1 for p in per_pass if p), [x for p in per_pass for x in p]

    def counts(self, spark: SparkSession) -> dict:
        """Near-duplicate pairs at the pipeline's threshold, over the gated
        and exact-deduplicated documents, and the share of input documents
        that reached the manifest."""
        docs = spark.read.schema(self.schema).json(self.docs_path)
        gated = (gopher_rules(docs, "doc_id", "text", passthrough=("text", "source"))
                 .filter("keep").select("doc_id", "text", "source"))
        pairs = jaccard_pairs_prefix(exact_dedup(gated, "doc_id", "text"),
                                     "doc_id", "text", threshold=0.8, max_df=100)
        kept = duckdb.execute(
            f"SELECT sum(n_docs) FROM {check.parquet(self.manifests[-1])}").fetchone()[0]
        return {"corpus.near_pairs": pairs.count(),
                "corpus.kept_ratio": kept / len(self.corpus.docs)}


WORKLOADS = {w.name: w for w in (CdcBulk, CdcStream, CorpusPrep)}


def cdc_check(w) -> tuple[int, list[str]]:
    """The tables hold the state after every timed step, so a mismatch
    fails all of them."""
    problems = check.cdc(w.catalog, w.gen)
    return (len(w.batches) if problems else 0), problems


def oracle_totals(generator: gen.CdcGenerator) -> tuple[int, int, int]:
    """(applied, rejected, deleted) events so far, over both tables."""
    o = generator.oracles.values()
    return (sum(x.applied for x in o), sum(x.rejected for x in o),
            sum(x.deleted for x in o))


def cdc_counts(w) -> dict:
    """Counts over the timed batches. Rejections and deletions come from
    the oracle, which the gate checks the tables against."""
    applied, rejected, deleted = (
        now - base for now, base in zip(oracle_totals(w.gen), w.base))
    return {
        "cdc.events_in": sum(b.n_events for b in w.batches),
        "cdc.keys_touched": sum(b.keys_touched for b in w.batches),
        "cdc.rows_deleted": deleted,
        "cdc.chain_rejected": rejected,
        "cdc.chain_accept_ratio": applied / max(applied + rejected, 1),
        "domains.rows_out": sum(check.table_rows(w.catalog.get(t).path)
                                for _d, _s, t, _q in gen.DOMAINS),
    }
