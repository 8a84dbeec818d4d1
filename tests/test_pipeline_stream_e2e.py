"""Batch/stream parity at FULL PIPELINE scope (r4 verdict item 8): the
same raw CDC JSON run (a) through the one-shot batch ``run_pipeline`` and
(b) replayed file-by-file as Structured Streaming micro-batches through
``run_pipeline_streaming`` (landing append -> incremental merge ->
curated -> domain refresh inside every foreachBatch) must leave identical
structured, curated, and domain tables — the reference's streaming
aspiration (reference README.md:24-25) held to its batch semantics.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import replace

import pytest
from pyspark.sql import types as T

from hmpps_digital_prison_reporting_glue_poc_spark.catalog import Catalog, TableSpec
from hmpps_digital_prison_reporting_glue_poc_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
    run_pipeline_streaming,
)
from hmpps_digital_prison_reporting_glue_poc_spark.types import (
    schema_from_ddl,
    with_admin_columns,
)

ROW_SCHEMA = T.StructType(
    [
        T.StructField("OFFENDER_ID", T.LongType()),
        T.StructField("LAST_NAME", T.StringType()),
        T.StructField("FIRST_NAME", T.StringType()),
    ]
)
TARGET_SCHEMA = with_admin_columns(
    schema_from_ddl(
        "offender_id bigint, last_name varchar2(40), first_name varchar2(40)"
    )
)


def _event(op, pos, oid, first, last):
    row = {"OFFENDER_ID": oid, "LAST_NAME": last, "FIRST_NAME": first}
    out = {
        "table": "OMS_OWNER.OFFENDERS",
        "op_type": op,
        "op_ts": f"2022-09-{7 + pos % 2:02d} 21:35:18.818430",
        "current_ts": "c",
        "pos": f"{pos:020d}",
    }
    if op in ("U", "D"):
        out["before"] = row
    if op in ("I", "U"):
        out["after"] = row
    return out


# Three files -> three micro-batches at maxFilesPerTrigger=1. The batch
# boundaries deliberately split an I..U chain and a D->I resurrection
# across batches, so cross-batch merge algebra (not just within-batch
# folding) is what parity exercises.
BATCH_FILES = [
    [
        _event("I", 1, 1, "Pat", "Murphy"),
        _event("I", 2, 2, "David", "Martin"),
        _event("I", 3, 3, "Tmp", "Row"),
    ],
    [
        _event("U", 4, 1, "Patrick", "Murphy"),
        _event("D", 5, 3, "Tmp", "Row"),
        _event("U", 6, 2, "Dave", "Martin"),
    ],
    [
        _event("I", 7, 3, "Back", "Again"),  # D -> I resurrection
        _event("D", 8, 2, "Dave", "Martin"),
        _event("I", 9, 4, "New", "Person"),
    ],
]

DEFS_ROW = (
    "Active", "SQL", "domain1", "offenders_curated", "domain1_names",
    "select offender_id, first_name || ' ' || last_name as full_name "
    "from offenders_curated",
)
DEFS_DDL = (
    "Status string, Type string, Domain string, Dependancies string, "
    "Target string, Resolution string"
)


def _write_raw(raw: str, files: list[list[dict]]) -> str:
    os.makedirs(raw)
    now = int(time.time())
    for i, events in enumerate(files):
        fp = os.path.join(raw, f"batch_{i}.json")
        with open(fp, "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")
        # Strictly increasing mtimes: FileStreamSource orders micro-batches
        # by file timestamp, and trail files arrive over time in production;
        # same-second writes would make the replay order nondeterministic.
        os.utime(fp, (now - len(files) + i, now - len(files) + i))
    return raw


def _wire(spark, base: str) -> tuple[PipelineConfig, Catalog]:
    raw = _write_raw(os.path.join(base, "raw"), BATCH_FILES)
    cat = Catalog()
    cat.register(TableSpec("gg_event_log", os.path.join(base, "log"),
                           partition_by=["part_date"]))
    cat.register(TableSpec("offenders", os.path.join(base, "offenders"),
                           pk=["offender_id"]))
    cat.register(TableSpec("offenders_curated",
                           os.path.join(base, "offenders_curated")))
    cat.register(TableSpec("domain1_names", os.path.join(base, "domain1")))
    spark.createDataFrame([], TARGET_SCHEMA).write.parquet(
        cat.get("offenders").path
    )
    cfg = PipelineConfig(
        raw_path=raw,
        event_log_table="gg_event_log",
        row_schema=ROW_SCHEMA,
        tables={"offenders": ("offenders", "offenders_curated")},
    )
    return cfg, cat


def _table_rows(spark, cat, name, cols):
    df = cat.read(spark, name).select(*cols)
    return {tuple(r) for r in df.collect()}


def test_stream_pipeline_matches_batch_pipeline(spark, tmp_path):
    data_cols = ["offender_id", "first_name", "last_name"]

    bcfg, bcat = _wire(spark, str(tmp_path / "batch"))
    defs = spark.createDataFrame([DEFS_ROW], DEFS_DDL)
    run_pipeline(spark, bcfg, bcat, defs_df=defs, process_id=5)

    scfg, scat = _wire(spark, str(tmp_path / "stream"))
    n_batches = run_pipeline_streaming(
        spark, scfg, scat,
        checkpoint_dir=str(tmp_path / "ckpt"),
        defs_df=defs, process_id=5, max_files_per_trigger=1,
    )
    assert n_batches >= 3, "expected one micro-batch per raw file"

    # expected final state (I,U,D algebra incl. cross-batch resurrection)
    expected = {
        (1, "Patrick", "Murphy"),
        (3, "Back", "Again"),
        (4, "New", "Person"),
    }
    for cat in (bcat, scat):
        assert _table_rows(spark, cat, "offenders", data_cols) == expected

    # pipeline-scope parity: structured, curated, and domain tables match
    for name, cols in (
        ("offenders", data_cols),
        ("offenders_curated", data_cols),
        ("domain1_names", ["offender_id", "full_name", "process_id"]),
    ):
        assert _table_rows(spark, bcat, name, cols) == _table_rows(
            spark, scat, name, cols
        ), name

    # event logs carry the same immutable history
    log_cols = ["table", "op_type", "pos", "after_hash", "before_hash"]
    assert _table_rows(spark, bcat, "gg_event_log", log_cols) == _table_rows(
        spark, scat, "gg_event_log", log_cols
    )


def test_stream_pipeline_checkpoint_resume_is_incremental(spark, tmp_path):
    """New raw files after a drain: re-running with the same checkpoint
    processes ONLY the new file and the merge stays incremental."""
    scfg, scat = _wire(spark, str(tmp_path / "s"))
    defs = spark.createDataFrame([DEFS_ROW], DEFS_DDL)
    ckpt = str(tmp_path / "ckpt")
    run_pipeline_streaming(
        spark, scfg, scat, checkpoint_dir=ckpt, defs_df=defs, process_id=5
    )
    log_count_0 = scat.read(spark, "gg_event_log").count()

    with open(os.path.join(scfg.raw_path, "batch_3.json"), "w") as f:
        f.write(json.dumps(_event("U", 10, 4, "Newer", "Person")) + "\n")
    n = run_pipeline_streaming(
        spark, scfg, scat, checkpoint_dir=ckpt, defs_df=defs, process_id=5
    )
    assert n == 1  # only the new file became a batch
    assert scat.read(spark, "gg_event_log").count() == log_count_0 + 1
    rows = _table_rows(spark, scat, "offenders",
                       ["offender_id", "first_name"])
    assert (4, "Newer") in rows and (4, "New") not in rows
    dom = _table_rows(spark, scat, "domain1_names",
                      ["offender_id", "full_name"])
    assert (4, "Newer Person") in dom


def test_batch_then_stream_keep_partitioned_tables(spark, tmp_path):
    """Both drivers honour the catalog's ``partition_by`` for structured
    AND curated: a batch run lays structured out partitioned, so a later
    streaming drain's partition-scoped merge over the same catalog sees
    every row instead of only the partitions it touched."""
    data_cols = ["offender_id", "first_name", "last_name"]
    cfg, cat = _wire(spark, str(tmp_path / "p"))
    for name in ("offenders", "offenders_curated"):
        cat.get(name).partition_by = ["last_name"]

    run_pipeline(spark, cfg, cat)
    structured_dir = cat.get("offenders").path
    assert any(p.startswith("last_name=") for p in os.listdir(structured_dir))

    raw = _write_raw(str(tmp_path / "raw_new"),
                     [[_event("U", 10, 1, "Pat", "Murphy")]])
    run_pipeline_streaming(spark, replace(cfg, raw_path=raw), cat,
                           checkpoint_dir=str(tmp_path / "ckpt"))

    expected = {
        (1, "Pat", "Murphy"),
        (3, "Back", "Again"),
        (4, "New", "Person"),
    }
    for name in ("offenders", "offenders_curated"):
        assert _table_rows(spark, cat, name, data_cols) == expected, name


def test_stream_and_batch_agree_under_hash_chain_validation(spark, tmp_path):
    """``validate_hash_chain`` applies to both drivers: an update whose
    ``before`` image does not match the live row is rejected by the batch
    fold and by the streaming fold (which checks the chain against the
    structured state left by the earlier micro-batch)."""
    broken = _event("U", 2, 1, "Xavier", "Murphy")
    broken["before"] = {"OFFENDER_ID": 1, "LAST_NAME": "Murphy",
                        "FIRST_NAME": "Someone else"}
    raw = _write_raw(str(tmp_path / "raw_chain"),
                     [[_event("I", 1, 1, "Pat", "Murphy")], [broken]])

    finals = {}
    for mode in ("batch", "stream"):
        cfg, cat = _wire(spark, str(tmp_path / mode))
        cfg = replace(cfg, raw_path=raw, validate_hash_chain=True)
        if mode == "batch":
            run_pipeline(spark, cfg, cat)
        else:
            run_pipeline_streaming(spark, cfg, cat,
                                   checkpoint_dir=str(tmp_path / "ckpt"))
        finals[mode] = _table_rows(spark, cat, "offenders",
                                   ["offender_id", "first_name"])
    assert finals["batch"] == finals["stream"] == {(1, "Pat")}
