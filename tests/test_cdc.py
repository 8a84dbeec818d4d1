"""CDC engine semantics tests — the rebuild's contract with the reference:
pos-ordered fold, last-writer-wins, delete drop, anti-join partition
invariants (consider + remain == total), hash-chain validation variant,
and order-shuffle robustness (property test).
"""

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hmpps_digital_prison_reporting_glue_poc_spark.operators.cdc import (
    ingest_events,
    latest_event_per_key,
    first_event_per_key,
    map_events_to_target,
    merge_cdc,
)
from hmpps_digital_prison_reporting_glue_poc_spark.sources import read_cdc_json
from hmpps_digital_prison_reporting_glue_poc_spark.types import (
    schema_from_ddl,
    spark_type_for,
    with_admin_columns,
)

ROW_SCHEMA = T.StructType(
    [
        T.StructField("OFFENDER_ID", T.LongType()),
        T.StructField("LAST_NAME", T.StringType()),
        T.StructField("AGE", T.LongType()),
        T.StructField("BIRTH_DATE", T.StringType()),
    ]
)

TARGET_DDL = "offender_id bigint, last_name varchar2(40), age bigint, birth_date date"


def _event(op, pos, oid, name, age, ts="2022-09-07 21:35:18.818430.3"):
    row = {
        "OFFENDER_ID": oid,
        "LAST_NAME": name,
        "AGE": age,
        "BIRTH_DATE": "1990-05-01",
    }
    out = {
        "table": "OMS_OWNER.OFFENDERS",
        "op_type": op,
        "op_ts": ts,
        "current_ts": "2022-09-19 11:22:09.818436",
        "pos": f"{pos:020d}",
    }
    if op in ("U", "D"):
        out["before"] = row
    if op in ("I", "U"):
        out["after"] = row
    return out


def _write_events(tmp_path, events, name="events.json"):
    path = os.path.join(str(tmp_path), name)
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    return path


def _target_schema():
    return with_admin_columns(schema_from_ddl(TARGET_DDL))


def _empty_target(spark):
    return spark.createDataFrame([], schema=_target_schema())


def _pipeline(spark, path):
    raw = read_cdc_json(spark, path, ROW_SCHEMA)
    return map_events_to_target(ingest_events(raw), _target_schema())


def test_ingest_adds_hashes_and_part_date(spark, tmp_path):
    path = _write_events(tmp_path, [_event("I", 1, 1, "A", 30)])
    log = ingest_events(read_cdc_json(spark, path, ROW_SCHEMA))
    row = log.first()
    assert row.part_date == datetime.date(2022, 9, 7)
    assert isinstance(row.after_hash, int)
    assert "tokens" not in log.columns


def test_hash_chain_links_insert_to_update(spark, tmp_path):
    """U.before_hash must equal I.after_hash for the same unchanged row —
    the fingerprint parity the reference's golden tests rely on."""
    events = [_event("I", 1, 1, "A", 30), _event("U", 2, 1, "B", 31)]
    events[1]["before"] = dict(events[0]["after"])  # U starts from I's image
    path = _write_events(tmp_path, events)
    log = ingest_events(read_cdc_json(spark, path, ROW_SCHEMA))
    i_after = log.filter(F.col("op_type") == "I").first().after_hash
    u_before = log.filter(F.col("op_type") == "U").first().before_hash
    assert i_after == u_before


def test_mapper_takes_before_for_deletes(spark, tmp_path):
    path = _write_events(
        tmp_path, [_event("I", 1, 1, "Alive", 30), _event("D", 2, 2, "Dead", 99)]
    )
    mapped = _pipeline(spark, path)
    dead = mapped.filter(F.col("event_type") == "D").first()
    assert dead.last_name == "Dead" and dead.offender_id == 2
    assert dead.birth_date == datetime.date(1990, 5, 1)  # string -> date cast
    assert dead.table == "offenders" and dead.schema == "oms_owner"


def test_merge_last_writer_wins(spark, tmp_path):
    events = [
        _event("I", 1, 1, "First", 1),
        _event("U", 3, 1, "Third", 3),
        _event("U", 2, 1, "Second", 2),
    ]
    path = _write_events(tmp_path, events)
    final = merge_cdc(_empty_target(spark), _pipeline(spark, path), pk=["offender_id"])
    rows = final.collect()
    assert len(rows) == 1 and rows[0].last_name == "Third"


def test_merge_delete_drops_row(spark, tmp_path):
    events = [_event("I", 1, 1, "A", 1), _event("D", 2, 1, "A", 1)]
    path = _write_events(tmp_path, events)
    final = merge_cdc(_empty_target(spark), _pipeline(spark, path), pk=["offender_id"])
    assert final.count() == 0


def test_merge_partition_invariant(spark, tmp_path):
    """consider + remain == target rows (reference
    tests/test_2_apply_change_log_delta.py:170 invariant)."""
    target = spark.createDataFrame(
        [
            (1, "T1", 10, datetime.date(1980, 1, 1), "h", "p", None, None),
            (2, "T2", 20, datetime.date(1980, 1, 1), "h", "p", None, None),
            (3, "T3", 30, datetime.date(1980, 1, 1), "h", "p", None, None),
        ],
        schema=_target_schema(),
    )
    events = [_event("U", 5, 1, "U1", 11), _event("I", 6, 9, "N9", 99)]
    path = _write_events(tmp_path, events)
    mapped = _pipeline(spark, path)
    keys = mapped.select("offender_id").distinct()
    consider = target.join(keys, "offender_id", "left_semi").count()
    remain = target.join(keys, "offender_id", "left_anti").count()
    assert consider + remain == target.count()
    final = merge_cdc(target, mapped, pk=["offender_id"])
    assert final.count() == 4  # 3 existing (1 updated) + 1 new
    assert final.filter(F.col("offender_id") == 1).first().last_name == "U1"
    assert final.filter(F.col("offender_id") == 2).first().last_name == "T2"


def test_merge_order_shuffle_invariant(spark, tmp_path):
    """Replaying the same events in any file order yields the same final
    state — ordering comes from pos, not arrival (SURVEY.md §5 rebuild
    property)."""
    events = [
        _event("I", 1, 1, "A", 1),
        _event("U", 2, 1, "B", 2),
        _event("U", 3, 1, "C", 3),
        _event("I", 4, 2, "X", 9),
        _event("D", 5, 2, "X", 9),
        _event("I", 6, 3, "K", 7),
    ]
    import random

    results = []
    for seed in (0, 1, 2):
        shuffled = events[:]
        random.Random(seed).shuffle(shuffled)
        path = _write_events(tmp_path, shuffled, name=f"ev_{seed}.json")
        final = merge_cdc(
            _empty_target(spark), _pipeline(spark, path), pk=["offender_id"]
        )
        results.append(
            sorted((r.offender_id, r.last_name) for r in final.collect())
        )
    assert results[0] == results[1] == results[2] == [(1, "C"), (3, "K")]


def test_merge_hash_chain_rejects_stale_event(spark, tmp_path):
    """Dev-variant semantics: an event whose previous_hash doesn't match the
    live row's admin_hash is skipped (reference
    dev/_read_delta_table.py:343-369); a valid later event still applies."""
    good = _event("I", 1, 1, "Good", 1)
    stale = _event("U", 2, 1, "Stale", 2)
    stale["before"] = {
        "OFFENDER_ID": 1,
        "LAST_NAME": "WrongImage",
        "AGE": 77,
        "BIRTH_DATE": "1900-01-01",
    }
    valid = _event("U", 3, 1, "Valid", 3)
    valid["before"] = dict(good["after"])
    path = _write_events(tmp_path, [good, stale, valid])
    final = merge_cdc(
        _empty_target(spark),
        _pipeline(spark, path),
        pk=["offender_id"],
        validate_hash_chain=True,
    )
    rows = final.collect()
    assert len(rows) == 1
    assert rows[0].last_name == "Valid"  # stale skipped, valid chained


def test_merge_hash_chain_resurrection(spark, tmp_path):
    """D followed by I on the same key resurrects the row as an update
    (dev/_read_delta_table.py:361-366)."""
    events = [
        _event("I", 1, 1, "Born", 1),
        _event("D", 2, 1, "Born", 1),
        _event("I", 3, 1, "Reborn", 2),
    ]
    events[1]["before"] = dict(events[0]["after"])
    path = _write_events(tmp_path, events)
    final = merge_cdc(
        _empty_target(spark),
        _pipeline(spark, path),
        pk=["offender_id"],
        validate_hash_chain=True,
    )
    rows = final.collect()
    assert len(rows) == 1 and rows[0].last_name == "Reborn"


def test_first_and_latest_event_per_key(spark, tmp_path):
    events = [
        _event("I", 1, 1, "A", 1),
        _event("U", 2, 1, "B", 2),
        _event("I", 3, 2, "X", 5),
    ]
    path = _write_events(tmp_path, events)
    mapped = _pipeline(spark, path)
    first = {
        r.offender_id: r.last_name
        for r in first_event_per_key(mapped, ["offender_id"]).collect()
    }
    last = {
        r.offender_id: r.last_name
        for r in latest_event_per_key(mapped, ["offender_id"]).collect()
    }
    assert first == {1: "A", 2: "X"}
    assert last == {1: "B", 2: "X"}


def test_type_map_and_ddl_parser():
    assert isinstance(spark_type_for("VARCHAR2(40)"), T.StringType)
    assert isinstance(spark_type_for("number"), T.IntegerType)
    assert isinstance(spark_type_for("unknown_ora_type"), T.StringType)
    schema = schema_from_ddl(
        "CREATE TABLE x (OFFENDER_ID NUMBER(10), LAST_NAME VARCHAR2(40), BIRTH_DATE DATE);"
    )
    assert [f.name for f in schema.fields] == ["offender_id", "last_name", "birth_date"]
    assert isinstance(schema.fields[2].dataType, T.DateType)
    # a bare column list is not a CREATE body, whatever its column names
    bare = schema_from_ddl(
        "offender_id bigint, create_date date, last_name varchar2(40)"
    )
    assert bare.fieldNames() == ["offender_id", "create_date", "last_name"]
    admin = with_admin_columns(schema)
    assert admin.fieldNames()[-4:] == [
        "admin_hash", "admin_gg_pos", "admin_gg_op_ts", "admin_event_ts",
    ]
