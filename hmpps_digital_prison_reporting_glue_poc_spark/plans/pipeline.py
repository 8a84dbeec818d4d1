"""End-to-end pipeline orchestration: the reference's 4 Glue jobs as one
composable, catalog-driven unit.

Stage map (reference -> here):

1. landing    gg_logs_to_parquet.start()      -> run_landing()
2. structured apply_change_log_to_delta.start() -> run_structured()
3. curated    apply_to_curated.start()        -> run_curated()
4. domain     apply_to_domains.start()        -> run_domains() (plans.domains)

Differences from the reference (its own README lists these as flaws,
reference README.md:48-58):
- the event log is appended partition-by-partition, not rewritten;
- each touched table's batch folds to one net-change frame per key
  (operators.cdc.net_changes, a shuffle-based fold), and stages 2 and 3
  both apply that frame with the incremental merge sink
  (sources.io.merge_write), not a full-table overwrite or copy;
- batch (``run_pipeline``) and micro-batch (``run_pipeline_streaming``)
  differ only in landing; stages 2-4 are the same calls;
- per-table work is derived from the event log with one distinct scan, and
  everything downstream of it is per-table DataFrame lineage — no driver
  collect of data rows (only the table-name list, which is metadata-scale).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hmpps_digital_prison_reporting_glue_poc_spark.catalog import Catalog
from hmpps_digital_prison_reporting_glue_poc_spark.functions.cdc_functions import (
    format_table_name,
)
from hmpps_digital_prison_reporting_glue_poc_spark.operators.cdc import (
    ingest_events,
    map_events_to_target,
    net_changes,
)
from hmpps_digital_prison_reporting_glue_poc_spark.plans.domains import (
    run_domains,
)
# Module import, not ``from io import merge_write``: merge_write is looked
# up at call time, so a wrapper installed on the module (tracing) applies.
from hmpps_digital_prison_reporting_glue_poc_spark.sources import io


@dataclass
class PipelineConfig:
    """Wiring for one source system's CDC flow."""

    raw_path: str                 # raw CDC JSON directory
    event_log_table: str          # catalog name of the parquet event log
    row_schema: T.StructType      # CDC before/after payload schema
    # logical table name -> (target catalog name, curated catalog name)
    tables: dict[str, tuple[str, str]] = field(default_factory=dict)
    validate_hash_chain: bool = False
    # quarantine malformed raw lines into <event_log_path>_quarantine
    quarantine: bool = False


def run_landing(
    spark: SparkSession, cfg: PipelineConfig, catalog: Catalog
) -> DataFrame:
    """Stage 1 (E1): raw JSON -> hashed, date-partitioned event log.
    Append-only — the event log is immutable history; partition pruning on
    part_date serves the downstream incremental reads."""
    spec = catalog.get(cfg.event_log_table)
    if cfg.quarantine:
        raw, corrupt = io.split_corrupt(
            io.read_cdc_json(spark, cfg.raw_path, cfg.row_schema, quarantine=True)
        )
        corrupt.write.mode("append").parquet(spec.path + "_quarantine")
    else:
        raw = io.read_cdc_json(spark, cfg.raw_path, cfg.row_schema)
    log = ingest_events(raw)
    io.write_partitioned_parquet(log, spec.path, ["part_date"], mode="append")
    return log


def run_structured(
    spark: SparkSession, cfg: PipelineConfig, catalog: Catalog,
    event_log: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Stage 2 (E2): event log -> per-table net-change frame, merged into
    the structured table. Returns touched logical table name -> that
    frame (target columns + ``__is_delete``); stage 3 merges the same
    frames into curated, and the names drive stage 4 ACTIVE filtering
    (replacing the reference's hard-coded KINESIS_EVENTS_TABLES)."""
    log = (
        event_log
        if event_log is not None
        else catalog.read(spark, cfg.event_log_table)
    )
    tables = [
        r[0] for r in log.select(F.lower("table")).distinct().collect()
    ]  # metadata-scale collect (table names only)
    changes: dict[str, DataFrame] = {}
    for qualified in tables:
        name = format_table_name(qualified)
        if name not in cfg.tables:
            continue
        target_name, _ = cfg.tables[name]
        spec = catalog.get(target_name)
        target = catalog.read(spark, target_name)
        events = log.filter(F.lower("table") == qualified)
        net = net_changes(
            target, map_events_to_target(events, target.schema), spec.pk,
            validate_hash_chain=cfg.validate_hash_chain,
        )
        # Materialize once: the hash-chain fold reads the structured table
        # this merge replaces, and stage 3 applies the same frame again.
        net = net.localCheckpoint(eager=True)
        io.merge_write(
            spark, net, spec.path, spec.pk, delete_col="__is_delete",
            partition_by=spec.partition_by or None,
        )
        changes[name] = net
    return changes


def run_curated(
    spark: SparkSession, cfg: PipelineConfig, catalog: Catalog,
    tables: dict[str, DataFrame],
) -> list[str]:
    """Stage 3 (E3 bridge): curated is the identity image of structured
    (reference src/apply_to_curated.py:153-161), so each table's stage-2
    net-change frame merges into curated unchanged — an incremental write
    sized by the batch, not a copy of the structured table."""
    for name, net in tables.items():
        target_name, curated_name = cfg.tables[name]
        cspec = catalog.get(curated_name)
        io.merge_write(
            spark, net, cspec.path, cspec.pk or catalog.get(target_name).pk,
            delete_col="__is_delete",
            partition_by=cspec.partition_by or None,
        )
    return list(tables)


def _apply_log(
    spark: SparkSession, cfg: PipelineConfig, catalog: Catalog,
    log: DataFrame, defs_df: DataFrame | None, process_id: int | None,
) -> dict[str, DataFrame]:
    """Stages 2-4 over one landed slice of the event log."""
    changes = run_structured(spark, cfg, catalog, event_log=log)
    run_curated(spark, cfg, catalog, tables=changes)
    if defs_df is None or not changes:
        return {}
    return run_domains(
        spark, defs_df, [cfg.tables[t][1] for t in changes], catalog,
        process_id=process_id, write=True,
    )


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig, catalog: Catalog,
    defs_df: DataFrame | None = None,
    process_id: int | None = None,
) -> dict[str, DataFrame]:
    """All four stages. Returns the materialised domain frames."""
    log = run_landing(spark, cfg, catalog)
    return _apply_log(spark, cfg, catalog, log, defs_df, process_id)


def run_pipeline_streaming(
    spark: SparkSession, cfg: PipelineConfig, catalog: Catalog,
    checkpoint_dir: str,
    defs_df: DataFrame | None = None,
    process_id: int | None = None,
    max_files_per_trigger: int = 1,
    on_batch=None,
) -> int:
    """The same four stages as ``run_pipeline``, driven by Structured
    Streaming: ``readStream`` over the raw CDC JSON directory, and EVERY
    micro-batch runs landing-append -> per-table incremental merge ->
    curated -> domain refresh inside ``foreachBatch`` — the micro-batch
    design the reference's README lists as TODO (reference README.md:24-25;
    Kinesis trigger stubs src/apply_change_log_to_delta.py:521-528).

    Identical final state to the batch pipeline (pinned by
    tests/test_pipeline_stream_e2e.py): each micro-batch is landed, then
    runs the batch pipeline's own stages 2-4 (``run_structured`` ->
    ``run_curated`` -> ``run_domains``) on its slice of the event log.
    Within a batch the GoldenGate ``pos`` order folds to one net change
    per key (``net_changes``, hash-chain validated against the current
    structured state when ``validate_hash_chain`` is set); across batches
    ``merge_write`` applies each batch's net changes in source order — the
    same algebra the batch path computes in one fold. Domains refresh per
    batch, so the domain tables are continuously correct, not only at
    drain time.

    Runs with ``availableNow`` + ``maxFilesPerTrigger`` (drain everything
    currently in the directory, in bounded micro-batches) and blocks until
    drained; a continuous deployment would drop the trigger and keep the
    same checkpoint. Returns the number of non-empty micro-batches.
    """
    log_spec = catalog.get(cfg.event_log_table)
    n_batches = {"n": 0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        n_batches["n"] += 1
        # stage 1: landing append (immutable event log, date-partitioned)
        log = ingest_events(batch_df)
        io.write_partitioned_parquet(
            log, log_spec.path, ["part_date"], mode="append"
        )
        _apply_log(spark, cfg, catalog, log, defs_df, process_id)
        if on_batch is not None:  # observability hook (stream stress)
            on_batch(batch_id)

    raw = (
        spark.readStream.schema(io.cdc_envelope_schema(cfg.row_schema))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(cfg.raw_path)
    )
    query = (
        raw.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return n_batches["n"]
